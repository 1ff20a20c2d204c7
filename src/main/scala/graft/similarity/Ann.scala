package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.{CacheScope, StoreLease}

/** Similarity search over embedding columns (north-star extension).
  *
  * Embeddings are `array<float>`; all math is done in DOUBLE with a fixed
  * left-to-right fold so results are bit-stable and oracle-checkable
  * (float→double casts are exact).
  *
  * Scale path: brute-force top-k is a map-only scan + TakeOrderedAndProject
  * (no shuffle of the corpus; only k rows per partition reach the driver).
  * The bucketed variant assigns each vector a deterministic sign-bucket
  * (LSH with axis-aligned hyperplanes) so candidate generation becomes an
  * equi-join on bucket id — the same banding trick as MinHash-LSH; at 100 TB
  * add multiple probe tables (rotate the dims used) instead of widening
  * buckets.
  */
object Ann {

  /** Σ aᵢ·bᵢ as double, fixed fold order. Native codegen'd expression —
    * bit-identical to the HOF formulation
    * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) it replaced, but ~10×
    * faster: lambda HOFs are interpreted and sit outside whole-stage
    * codegen (see graft.functions.DotProduct). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** ‖a‖₂ as double. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, 0.0 when either norm is 0. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b); val na = l2Norm(a); val nb = l2Norm(b)
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(d / (na * nb))
  }

  /** Fail LOUD on a multi-row query frame: every single-vector top-k
    * entry point in this file crossJoins the query against
    * corpus/centroid rows and takes ONE global top-k, so several query
    * rows would silently mix all queries' cosines into meaningless
    * results — the raise-don't-garble discipline (jlProject's inDim
    * guard). One bounded job (`limit(2)` caps the scan). */
  private def requireSingleQuery(query: DataFrame, fn: String): Unit =
    require(query.limit(2).count() == 1L,
      s"$fn: query must be exactly ONE row (a single query vector) — " +
        "with several rows the top-k would mix all queries' cosines; " +
        "invoke per query row, or use ivfTopKPerQuery for a whole " +
        "query batch keyed by query id")

  /** Per-row vector-dimension guard (the jlProject idiom): a
    * wrong-dimension or null vector ANYWHERE in `df` fails the job
    * loudly before any result is returned or file committed —
    * unguarded, its cosines would null out and the row would silently
    * assign to / rank by the lowest cid. Used wherever the true
    * dimension is knowable from a persisted centroid table. */
  private def guardVecDim(df: DataFrame, vecCol: String, dim: Int,
                          what: String): DataFrame =
    df.withColumn(vecCol,
      when(col(vecCol).isNotNull && size(col(vecCol)) === dim,
        col(vecCol))
        .otherwise(raise_error(concat(
          lit(s"dimension mismatch: $what holds $dim-dim vectors but " +
            s"$vecCol has length "),
          coalesce(size(col(vecCol)).cast("string"), lit("NULL")),
          lit(" — refusing to proceed with a different embedding " +
            "family")))))

  /** Centroid table of a persisted index + its (single) vector
    * dimension — refuses a malformed centroid table. */
  private def indexCentroids(spark: org.apache.spark.sql.SparkSession,
                             path: String): (DataFrame, Int) = {
    val centroids = broadcast(spark.read.parquet(s"$path/centroids"))
    val dims = centroids.select(size(col("__ce")).as("d"))
      .distinct().collect().map(_.getInt(0))
    require(dims.length == 1, s"$path/centroids is not a writeIvfIndex " +
      s"centroid table (vector dims ${dims.mkString(",")})")
    (centroids, dims.head)
  }

  /** Open the cells table of a persisted [[writeIvfIndex]] index,
    * SELF-HEALING the one crash window [[compactIvfIndex]]'s
    * non-atomic swap can leave behind (live table missing, backup
    * `cells__precompact` present): the backup IS the last complete
    * table, so rename it back into place before reading. EVERY verb
    * that touches cells — serving, absorb, stats, compaction itself —
    * reads through here, so recovery never waits for the next
    * compaction call (the existence probe is one FS metadata op per
    * call, free next to the read it fronts).
    *
    * `own` is the caller's writer lease when the caller IS the
    * writer; without it, healing defers to [[healCells]]'s live-lease
    * check so a serving read can never race a healthy compaction's
    * swap window (see there). */
  private def openCells(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        own: Option[StoreLease.Lease] = None): DataFrame = {
    healCells(spark, path, own)
    spark.read.parquet(s"$path/cells")
  }

  /** The restore step of [[openCells]] alone — for the one write-only
    * path ([[absorbIvfIndex]] with `idempotent = false`), where an
    * unhealed append would CREATE a fresh live table holding only the
    * batch and silently shadow the backup forever.
    *
    * LEASE-GUARDED: a HEALTHY compaction's swap window (between
    * rename(live→bak) and rename(tmp→live)) looks exactly like the
    * crash it exists to repair, and a read that healed inside that
    * window would rename the backup back under the compactor's feet
    * and corrupt the swap. The compactor holds the writer lease across
    * the whole swap, so: heal-needed + FOREIGN fresh lease = a
    * compaction is in flight — fail with a retryable error instead of
    * racing it; heal-needed + no/stale lease = a crashed swap — safe
    * to restore. Writers pass their own lease (`own`) so their
    * recovery path is never blocked by the lease they themselves
    * hold. */
  private def healCells(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        own: Option[StoreLease.Lease] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(s"$path/cells")
    val bak = new Path(s"$path/cells__precompact")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(bak)) {
      if (own.isEmpty &&
          StoreLease.heldFresh(spark, StoreLease.forDir(path)))
        throw new IllegalStateException(
          s"cells at $path are mid-swap under a live writer lease — a " +
            "compaction is in flight; retry after it completes " +
            "(healing now would race its rename and corrupt the swap)")
      require(fs.rename(bak, live), s"crash recovery: rename $bak -> " +
        s"$live failed — restore the cells table manually")
    }
  }

  /** Brute-force top-k by cosine against one query vector (an in-plan
    * 1-row DataFrame, broadcast-joined). Deterministic tiebreak on id. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     query: DataFrame, queryVecCol: String,
                     k: Int): DataFrame = {
    requireSingleQuery(query, "bruteForceTopK")
    val q = broadcast(query.select(col(queryVecCol).as("__q")))
    graft.util.Partitioning.spread(corpus).crossJoin(q)
      .select(col(idCol),
        round(cosine(col(vecCol), col("__q")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** SEMANTIC decontamination — the embedding-space complement of the
    * n-gram form ([[graft.dedup.Dedup.decontaminate]], d8): drop every
    * corpus vector whose cosine against ANY benchmark vector reaches
    * `threshold`. Paraphrased eval questions share no 5-gram but sit
    * next to the test set in embedding space; n-gram decontamination
    * provably cannot catch them (the SemDeDup/FineWeb curation
    * argument applied to leakage instead of redundancy).
    *
    * Cosines are 4-decimal rounded BEFORE the compare, on both
    * engines — the float dot product's last ulp differs across
    * engines, and an unrounded threshold compare would flip membership
    * for pairs landing exactly on τ.
    *
    * Scale shape: one LEFT ANTI broadcast nested-loop join — a
    * benchmark is an eval set, thousands of vectors, always the
    * broadcast side; the corpus side streams through the codegen'd
    * native [[graft.functions.DotProduct]] with no shuffle of the
    * corpus at all. For an atypically large benchmark, bucket both
    * sides through the IVF index (n3/n8) first. */
  def semanticDecontaminate(corpus: DataFrame, idCol: String,
                            vecCol: String, benchmark: DataFrame,
                            benchVecCol: String,
                            threshold: Double): DataFrame = {
    val b = broadcast(benchmark.select(col(benchVecCol).as("__b")))
    graft.util.Partitioning.spread(corpus)
      .join(b, round(cosine(col(vecCol), col("__b")), 4) >= threshold,
        "left_anti")
  }

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * `127 / max|v|`, elements rounded half-up (`floor(x·s + 0.5)` — the
    * engine-portable spelling; no engine-specific `round` tie rules).
    * Quantized values are stored as integral DOUBLEs so the native
    * [[graft.functions.DotProduct]] runs on them unchanged — products are
    * ≤ 127²·dims ≪ 2⁵³, so double math on them is EXACT integer math.
    *
    * Scale rationale: a 64-dim float vector is 256 B + overhead; the int8
    * form is 4× smaller on the wire and in memory, which is the standard
    * first move when an ANN corpus stops fitting the page cache. The
    * max-abs pass and the quantize pass are separate projections so the
    * scale is evaluated ONCE per row (lambda HOFs get no common-
    * subexpression elimination — see ADVICE r7 on bestCentroid). */
  def quantizeInt8(df: DataFrame, vecCol: String, qCol: String): DataFrame = {
    val ma = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    df.withColumn("__ma", ma)
      .withColumn(qCol,
        when(col("__ma") === 0.0, transform(col(vecCol), _ => lit(0.0)))
          .otherwise(transform(col(vecCol), x =>
            floor(x.cast("double") * (lit(127.0) / col("__ma")) + lit(0.5))
              .cast("double"))))
      .drop("__ma")
  }

  /** Top-k by EXACT integer dot product over int8-quantized vectors —
    * same map-only scan + TakeOrderedAndProject shape as
    * [[bruteForceTopK]] (no corpus shuffle; k rows per partition reach
    * the driver), but each row's math touches 4× fewer bytes. `qdot`
    * is bit-exact in any engine (integer values throughout), so the
    * whole operator is oracle-checkable with no rounding step.
    *
    * RANKING SEMANTICS, stated precisely: the per-vector scale
    * (127/max|v|) makes qdot ∝ (a·q)/|a|∞ across corpus vectors — an
    * INF-NORM-normalized dot. Cosine is scale-invariant, so this is a
    * cosine-family order whose normalization differs from L2 by the
    * vector's ‖a‖₂/|a|∞ ∈ [1, √d] shape factor — flat vectors rank
    * relatively higher than spiky ones vs true cosine. That makes this
    * form a CANDIDATE GENERATOR: [[quantizedRerankTopK]] re-scores its
    * top `candidates` in full-precision cosine, which restores exact
    * cosine order whenever the true top-k survive the (size-`candidates`)
    * cut — size the margin by the corpus' shape-factor spread. */
  def quantizedTopK(corpus: DataFrame, idCol: String, vecCol: String,
                    query: DataFrame, queryVecCol: String,
                    k: Int): DataFrame = {
    requireSingleQuery(query, "quantizedTopK")
    quantizedTopKUnguarded(corpus, idCol, vecCol, query, queryVecCol, k)
  }

  /** [[quantizedTopK]] minus the single-query guard — the internal
    * candidate pass of [[quantizedRerankTopK]], whose OWN guard has
    * already run: repeating it would execute the query frame's lineage
    * in a second count job per serving call, pure overhead. Private so
    * every public entry point stays guarded. */
  private def quantizedTopKUnguarded(corpus: DataFrame, idCol: String,
                                     vecCol: String, query: DataFrame,
                                     queryVecCol: String,
                                     k: Int): DataFrame = {
    val q = broadcast(quantizeInt8(
      query.select(col(queryVecCol).as("__qv")), "__qv", "__qq")
      .select("__qq"))
    quantizeInt8(graft.util.Partitioning.spread(corpus), vecCol, "__cq")
      .crossJoin(q)
      .select(col(idCol),
        dot(col("__cq"), col("__qq")).cast("long").as("qdot"))
      .orderBy(desc("qdot"), col(idCol))
      .limit(k)
  }

  /** Two-phase ANN: the SCALE.md N4 recipe made concrete. Phase 1 ranks
    * the corpus by the quantized inf-norm-normalized dot (see
    * [[quantizedTopK]]'s ranking-semantics note) and keeps the top
    * `candidates` (deterministic cutoff: ties break on id); phase 2
    * reranks only those in full-precision cosine. The corpus-wide scan touches
    * int8-sized vectors; float math runs on `candidates` rows — the
    * memory-bound/accuracy trade stated as one plan. Both phases are
    * TakeOrderedAndProject; the candidate set is deterministic, so the
    * whole operator stays oracle-checkable. */
  def quantizedRerankTopK(corpus: DataFrame, idCol: String, vecCol: String,
                          query: DataFrame, queryVecCol: String,
                          k: Int, candidates: Int = 200): DataFrame = {
    requireSingleQuery(query, "quantizedRerankTopK")
    // candidate pass skips quantizedTopK's guard — it just ran above,
    // and re-running it would cost a second count job per call
    val cand = quantizedTopKUnguarded(corpus, idCol, vecCol, query,
      queryVecCol, candidates).select(idCol)
    val q = broadcast(query.select(col(queryVecCol).as("__q")))
    corpus.join(broadcast(cand), idCol)
      .crossJoin(q)
      .select(col(idCol),
        round(cosine(col(vecCol), col("__q")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** Deterministic LSH bucket: sign bits of `nBits` dimensions starting at
    * `offset` (0-based), as a '0'/'1' string. (Axis-aligned hyperplane
    * family — deterministic stand-in for random projections; multiple probe
    * tables use disjoint dimension blocks.) Dimension indices WRAP via
    * pmod(size) — embeddings shorter than offset+nBits reuse leading dims
    * (degenerate but safe) instead of crashing ANSI element_at; a no-op
    * whenever the blocks fit, so existing buckets are unchanged. */
  def signBucketAt(vec: Column, nBits: Int, offset: Int): Column =
    concat((0 until nBits).map(i =>
      when(element_at(vec, (pmod(lit(offset + i),
        org.apache.spark.sql.functions.size(vec)) + 1).cast("int")) >= 0,
        lit("1")).otherwise(lit("0"))): _*)

  /** Single-table bucket over the leading dimensions. */
  def signBucket(vec: Column, nBits: Int): Column =
    signBucketAt(vec, nBits, 0)

  /** Bucketed ANN: search only the query's bucket (single-probe).
    * Returns the same schema as bruteForceTopK. */
  def bucketedTopK(corpus: DataFrame, idCol: String, vecCol: String,
                   query: DataFrame, queryVecCol: String,
                   k: Int, nBits: Int = 8): DataFrame = {
    requireSingleQuery(query, "bucketedTopK")
    val q = broadcast(query.select(col(queryVecCol).as("__q"),
      signBucket(col(queryVecCol), nBits).as("__qb")))
    corpus.withColumn("__b", signBucket(col(vecCol), nBits))
      .join(q, col("__b") === col("__qb"))
      .select(col(idCol),
        round(cosine(col(vecCol), col("__q")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) index: assign every vector to its
    * nearest-by-cosine centroid. Centroids are the `nCentroids`
    * lowest-id vectors — a deterministic seed choice (real deployments
    * run k-means; the assignment/search machinery is identical and a
    * Lloyd step is just re-aggregating means per cell).
    *
    * Scale shape: centroids broadcast (tiny), assignment is map-only
    * over the corpus, and a query probes only `nProbe` cells — corpus
    * scanned per query shrinks by ~nProbe/nCentroids. Partition (or
    * bucket) the stored corpus by `cid` and a probe reads only those
    * partitions.
    */
  /** Deterministic centroid table: the `nCentroids` lowest-id vectors
    * (norm precomputed once — the broadcast is tiny and every assignment
    * row reuses it). */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nCentroids: Int): DataFrame =
    broadcast(corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cid"), col(vecCol).as("__ce"),
        l2Norm(col(vecCol)).as("__cn")))

  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                nCentroids: Int): DataFrame =
    ivfAssignTo(corpus, idCol, vecCol,
      ivfCentroids(corpus, idCol, vecCol, nCentroids))

  /** Assignment against a given (broadcast) centroid table. The corpus
    * vector's norm is computed once per row (not once per centroid), and
    * the centroid norms ride in the broadcast — the cosine per
    * (row × centroid) is a single dot product. Same value as
    * `cosine(vec, ce)`: identical dot order and `na * nb` grouping.
    *
    * MAP-ONLY (r22, guide §2.4): the centroid table (tiny by contract)
    * is collected once and unrolled into per-centroid literal cosine
    * expressions; each corpus row picks its argmax cell with a single
    * codegen'd `array_max` over (cosine, reversed-position, cid)
    * structs — no crossJoin row multiplication, no per-id Exchange,
    * no Window. The pre-r22 shape shuffled corpus × nCentroids rows
    * by id to run `row_number()` per doc; at 100 TB that was the only
    * wide stage of the whole IVF family. The struct ordering mirrors
    * the Window's exact order (`desc_nulls_last(__cs), asc(cid)`,
    * keep-first-on-tie) including NaN-greatest and null-cosine-last,
    * so assignment is bit-identical (AnnSpec pins argmax ≡ window on
    * adversarial cosines). Note the centroid frame now executes (one
    * bounded collect) at CALL time — the scoreAgainst/ivfTopKFromIndex
    * eager-literal discipline. */
  def ivfAssignTo(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame): DataFrame = {
    // centroid tables are tiny by contract (nCentroids rows) — fold
    // them into the plan as literals (the m16/scoreAgainst literal-map
    // discipline), cid-ascending so the tiebreak below is positional
    assignArgmax(corpus, idCol, vecCol, collectCentroids(centroids),
      centroids.schema("cid").dataType, centroids.schema("__ce").dataType)
  }

  /** The centroid table collected cid-ascending, as `(cid, __ce, __cn)`
    * rows for [[assignArgmax]]. A row with a null vector or norm cannot
    * be scored, so it is rejected here, naming its cid. */
  private def collectCentroids(centroids: DataFrame)
  : Array[org.apache.spark.sql.Row] = {
    val rows = centroids.select(col("cid"), col("__ce"), col("__cn"))
      .orderBy(col("cid")).collect()
    rows.foreach(r => require(!r.isNullAt(1) && !r.isNullAt(2),
      s"IVF centroid cid=${r.get(0)} has a null vector (__ce) or norm " +
        "(__cn)"))
    rows
  }

  /** The literal-unrolled argmax over an already-collected,
    * cid-ascending centroid row set — shared by [[ivfAssignTo]] and
    * [[absorbIvfIndex]] (which collects the persisted centroid table
    * once for both the dimension guard and the assignment). */
  private def assignArgmax(corpus: DataFrame, idCol: String,
                           vecCol: String,
                           rows: Array[org.apache.spark.sql.Row],
                           cidType: org.apache.spark.sql.types.DataType,
                           ceType: org.apache.spark.sql.types.DataType)
      : DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftbridge.Bridge
    val n = rows.length
    if (n == 0) {
      // the crossJoin+Window form emitted zero rows against an empty
      // centroid table; preserve that (schema included)
      return corpus
        .select(col(idCol), col(vecCol),
          Bridge.column(Literal.create(null, cidType)).as("cid"))
        .where(lit(false))
    }
    val withN = graft.util.Partitioning.spread(corpus)
      .withColumn("__n", l2Norm(col(vecCol)))
    // one struct per centroid: (cosine, reversed position, cid). The
    // Spark struct ordering of array_max reproduces the old Window
    // order `desc_nulls_last(__cs), asc(cid)` exactly: greatest cosine
    // wins with NaN greatest and null-cosine smallest, and on cosine
    // ties the greatest REVERSED position = the smallest cid (`__ri`
    // values are distinct, so the cid field is never consulted — it
    // only rides along as the payload).
    val entries = rows.zipWithIndex.map { case (r, i) =>
      val ce = Bridge.column(Literal.create(r.get(1), ceType))
      val cn = lit(r.getDouble(2))
      val s = when(col("__n") === 0.0 || cn === 0.0, 0.0)
        .otherwise(dot(col(vecCol), ce) / (col("__n") * cn))
      struct(s.as("__cs"), lit(n - 1 - i).as("__ri"),
        Bridge.column(Literal.create(r.get(0), cidType)).as("cid"))
    }
    // array_max of a non-empty array of non-null structs is total —
    // no filter needed; everything codegens (the r22 rewrite of the
    // crossJoin×Window shape, guide §2.4: assignment had the only
    // per-id Exchange of the IVF family; an interpreted HOF fold was
    // tried first and measured 10-25× slower than codegen — keep the
    // argmax in codegen-able built-ins)
    withN.withColumn("__best", array_max(array(entries: _*)))
      .select(col(idCol), col(vecCol), col("__best.cid").as("cid"))
  }

  /** IVF top-k: probe the query's `nProbe` nearest cells, brute-force
    * only inside them. Same output schema as bruteForceTopK. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, queryVecCol: String, k: Int,
              nCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    requireSingleQuery(query, "ivfTopK")
    val centroids = ivfCentroids(corpus, idCol, vecCol, nCentroids)
    val assigned = ivfAssignTo(corpus, idCol, vecCol, centroids)
    val q = broadcast(query.select(col(queryVecCol).as("__q")))
    val probes = broadcast(
      q.crossJoin(centroids)
        .withColumn("__cs", cosine(col("__q"), col("__ce")))
        .orderBy(desc("__cs"), col("cid")).limit(nProbe)
        .select("cid"))
    assigned.join(probes, "cid")
      .crossJoin(q)
      .select(col(idCol),
        round(cosine(col(vecCol), col("__q")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** Persist an IVF INDEX: the corpus assigned to centroid cells and
    * written hive-partitioned BY `cid`, plus the (tiny) centroid table —
    * the ANN serving shape at scale. Assignment (the expensive
    * one-dot-per-(row × centroid) pass) runs ONCE at build time; a
    * probe-limited query then reads ONLY the probed cell directories
    * (planning-time partition pruning, the k7 machinery applied to
    * vector search — plan-proven in AnnSpec). Centroid derivation is
    * deterministic ([[ivfCentroids]]), so index results are exactly
    * [[ivfTopK]]'s at the same parameters (shared oracle, n8 vs n3). */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, path: String): Unit =
    StoreLease.withLease(corpus.sparkSession, StoreLease.forDir(path),
      "writeIvfIndex") { _ =>
      val centDf = ivfCentroids(corpus, idCol, vecCol, nCentroids)
      // ONE corpus TakeOrdered pass: collect the (tiny) centroid rows,
      // write them back as a local frame, and hand the same rows to
      // the literal-unrolled assignment (r22 — previously the parquet
      // write and the assignment each executed the centroid subtree
      // over the corpus)
      val rows = collectCentroids(centDf)
      val spark = corpus.sparkSession
      spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), centDf.schema)
        .write.mode("overwrite").parquet(s"$path/centroids")
      // REBALANCE on cid before the partitioned write (guide §6): the
      // map-only assignment (r22) no longer ends in an AQE-coalesced
      // exchange, so each of the N map tasks would open a file in
      // every cid directory — N×K tiny files that every later probe
      // pays to list and open. The rebalance exchange is AQE-sized:
      // locally it coalesces to ~one file per cell; at scale it
      // splits oversized cells to the advisory partition size.
      assignArgmax(corpus, idCol, vecCol, rows,
        centDf.schema("cid").dataType, centDf.schema("__ce").dataType)
        .hint("rebalance", col("cid"))
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$path/cells")
    }

  /** IVF top-k against a [[writeIvfIndex]] index: centroids load once
    * (kilobytes), the probe cells are chosen DRIVER-SIDE so the cell
    * filter is a literal `cid IN (...)` — the precondition for
    * planning-time directory pruning (a join-based probe would read
    * every cell and prune at runtime, if at all). The probed cells are
    * then brute-forced against the broadcast query.
    *
    * SERVING-LOOP cost note: each call pays two small driver jobs
    * before any probing — the single-query guard (a `limit(2)` count
    * over the query frame's lineage) and the centroid-table load +
    * dim check ([[indexCentroids]]). Negligible per ad-hoc call, but
    * at high-cadence loops (a foreachBatch serving loop calling this
    * per vector) it is per-call latency: hand the WHOLE batch to
    * [[ivfTopKPerQuery]] instead (one guard per batch, the refusal
    * message's own advice), and keep the SparkSession warm so the
    * centroid read hits the FS cache. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, idCol: String, vecCol: String,
                       query: DataFrame, queryVecCol: String,
                       k: Int, nProbe: Int = 2): DataFrame = {
    requireSingleQuery(query, "ivfTopKFromIndex")
    val (centroids, dim) = indexCentroids(spark, path)
    val q = broadcast(guardVecDim(
      query.select(col(queryVecCol).as("__q")), "__q", dim,
      s"index at $path"))
    val probeCids = q.crossJoin(centroids)
      .withColumn("__cs", cosine(col("__q"), col("__ce")))
      .orderBy(desc("__cs"), col("cid")).limit(nProbe)
      .select("cid").collect().map(_.get(0))
    openCells(spark, path)
      .filter(col("cid").isin(probeCids: _*))
      .crossJoin(q)
      .select(col(idCol),
        round(cosine(col(vecCol), col("__q")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** ABSORB a batch of vectors into an existing [[writeIvfIndex]] index
    * — the incremental member of the ANN family (the d15/m19/m21 ingest
    * loop applied to vector serving: embed shard → absorb → next shard).
    * Centroids are PINNED from the initial build (they are the store's
    * family state, never re-derived — re-deriving would silently move
    * cell boundaries and orphan already-indexed vectors), so absorbing
    * batches b₁…bₙ yields exactly the index a from-scratch
    * [[writeIvfIndex]]-with-these-centroids over b₀ ∪ … ∪ bₙ would
    * build: assignment is a pure per-row function of (vector,
    * centroids). That algebra is what the n11 oracle checks from
    * scratch in SQL after a REPLAYED absorb.
    *
    * Scale shape: one broadcast of the (tiny) centroid table, one
    * map-only assignment pass over the batch (persisted for the call —
    * the touched-cell collect and the append both consume it), one
    * cid-partitioned append. IDEMPOTENT by default: a replayed batch
    * (at-least-once foreachBatch retry, accidental double call) is
    * dropped by an id anti-join against ONLY the touched cells — with
    * pinned centroids an id's cell is a pure function of its vector, so
    * a replay can only collide inside the cells the new assignment
    * targets, and the guard read is planning-time partition-pruned to
    * those `cid=…` directories (the n8 probe property). The touched-cid
    * collect is bounded by the centroid count (kilobytes). Ids must be
    * disjoint across DISTINCT batches (caller contract, as in the dedup
    * stores); single writer ENFORCED by [[graft.util.StoreLease]]
    * (check-then-append cannot serialize concurrent absorbs, so an
    * overlapping absorb/compaction refuses loudly instead of losing a
    * delta). Dimension is the family parameter:
    * EVERY row is checked (the jlProject per-row guard, not a sampled
    * row — a mixed batch would otherwise null its bad rows' cosines
    * against every centroid and silently assign them to the lowest
    * cid), so a wrong-dimension or null vector anywhere in the batch
    * fails the job before anything commits — refused loudly, never
    * half-absorbed.
    *
    * SERVING-LOOP cost note: the up-front driver work (centroid load +
    * dim check, the isEmpty probe) runs once per CALL — already
    * amortized over the whole batch at foreachBatch cadence; keep
    * batches row-plural rather than calling per vector. */
  def absorbIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String, batch: DataFrame,
                     idCol: String, vecCol: String,
                     idempotent: Boolean = true): Unit = {
    // ONE bounded collect serves both the dimension guard and the
    // literal-unrolled assignment (r22 — previously the dim check and
    // the assignment materialized the same tiny table separately)
    val cdf = spark.read.parquet(s"$path/centroids")
    val rows = collectCentroids(cdf)
    val dims = rows.map(_.getAs[scala.collection.Seq[_]](1).size).distinct
    require(dims.length == 1, s"$path/centroids is not a writeIvfIndex " +
      s"centroid table (vector dims ${dims.mkString(",")})")
    val dim = dims.head
    StoreLease.withLease(spark, StoreLease.forDir(path),
      "absorbIvfIndex") { lease => CacheScope.run { scope =>
      // before the append, even when idempotent=false; our own lease
      // lets recovery proceed (it is foreign leases that block a heal)
      healCells(spark, path, Some(lease))
      val guarded = guardVecDim(batch, vecCol, dim, s"index at $path")
      val assigned = scope.cache(assignArgmax(guarded, idCol, vecCol,
        rows, cdf.schema("cid").dataType, cdf.schema("__ce").dataType))
      val fresh: Option[DataFrame] =
        if (idempotent) {
          // bounded by the centroid count — cells form the cid domain.
          // This collect doubles as the emptiness probe (r22: the
          // former separate batch.isEmpty job), so an empty batch is
          // a no-op without its own driver job.
          val touched = assigned.select("cid").distinct().collect()
            .map(_.get(0))
          if (touched.isEmpty) None // empty batch: a no-op
          else {
            val existing = openCells(spark, path, Some(lease))
              .filter(col("cid").isin(touched: _*)).select(col(idCol))
            Some(assigned.join(existing, Seq(idCol), "left_anti"))
          }
        } else if (assigned.isEmpty) None // no-op, not an error
        else Some(assigned)
      fresh.foreach(_.hint("rebalance", col("cid"))
        .write.mode("append").partitionBy("cid")
        .parquet(s"$path/cells"))
    }}
  }

  /** Per-query IVF top-k for a BATCH of query vectors — the keyed,
    * fully-distributed complement of the single-vector serving calls
    * (whose guard tells a multi-row caller to come here). Every stage
    * is keyed by `qidCol`, so queries can never mix: probes are
    * rank ≤ nProbe PER QUERY over the broadcast centroid table,
    * candidates equi-join the probe rows against the cells on cid, and
    * the final cut is rank ≤ k PER QUERY — a Window whose `rn <= k`
    * filter triggers InferWindowGroupLimit, so every map partition
    * prunes each query to its own top-k BEFORE the shuffle (the t19
    * per-key-cap machinery applied to search). The query frame is
    * never collected: a thousand-query audit batch runs as ONE plan —
    * index read once, queries × nProbe cells of candidate work — while
    * AQE broadcasts the probe side whenever the batch is small.
    *
    * Query ids must be UNIQUE: a duplicated qid would merge two
    * vectors' cosines under one key — the same silent-mixing hazard
    * the single-vector guard exists for — so duplicates are refused
    * loudly (one aggregate job bounded by the query count). A
    * wrong-dimension or null query vector anywhere in the batch also
    * refuses loudly ([[guardVecDim]] — unguarded, its null cosines
    * would silently probe and rank by the lowest cid).
    *
    * SERVING-LOOP cost note: the guard jobs here (duplicate-qid
    * aggregate, centroid load + dim check) run once per BATCH — this
    * is the high-cadence entry point; a loop over the single-vector
    * [[ivfTopKFromIndex]] pays those driver jobs per VECTOR instead. */
  def ivfTopKPerQuery(spark: org.apache.spark.sql.SparkSession,
                      path: String, idCol: String, vecCol: String,
                      queries: DataFrame, qidCol: String,
                      queryVecCol: String,
                      k: Int, nProbe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qidCol != idCol, s"ivfTopKPerQuery: qidCol and idCol are " +
      s"both '$qidCol' — the output carries one column per role, " +
      "rename the query id column (e.g. .as(\"qid\"))")
    val dup = queries.groupBy(col(qidCol)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1L).limit(1).collect()
    require(dup.isEmpty, s"ivfTopKPerQuery: duplicate $qidCol " +
      s"'${dup.headOption.map(_.get(0)).orNull}' in the query frame — " +
      "two query vectors under one id would silently mix their cosines")
    val (centroids, dim) = indexCentroids(spark, path)
    val probeW = Window.partitionBy(col("__qid"))
      .orderBy(desc("__cs"), col("cid"))
    val probes = guardVecDim(
        queries.select(col(qidCol).as("__qid"),
          col(queryVecCol).as("__q")), "__q", dim, s"index at $path")
      .crossJoin(centroids)
      .withColumn("__cs", cosine(col("__q"), col("__ce")))
      .withColumn("__rn", row_number().over(probeW))
      .filter(col("__rn") <= nProbe)
      .select(col("__qid"), col("__q"), col("cid"))
    val topW = Window.partitionBy(col("__qid"))
      .orderBy(desc("cos_sim"), col(idCol))
    openCells(spark, path)
      .join(probes, "cid")
      .select(col("__qid"), col(idCol),
        round(cosine(col(vecCol), col("__q")), 4).as("cos_sim"))
      .withColumn("__rn", row_number().over(topW))
      .filter(col("__rn") <= k)
      .select(col("__qid").as(qidCol), col(idCol), col("cos_sim"))
  }

  /** Per-cell occupancy of a [[writeIvfIndex]] index — the monitoring
    * instrument the incremental loop ([[absorbIvfIndex]]) relies on:
    * pinned centroids drift from the TRUE distribution as the corpus
    * grows, and the drift shows up HERE first, as cell-size skew
    * (one cell absorbing most of each batch) and dead cells
    * (`n_vectors = 0`) — the signal to schedule a [[writeIvfIndex]]
    * rebuild, and the direct driver of query cost (a probed cell's
    * size IS the work its probe pays). Every centroid appears exactly
    * once, empty cells included (a LEFT join from the centroid table —
    * a groupBy of the cells alone would silently omit them).
    *
    * Scale shape: one map-combined count per cell (the reduce side is
    * nCentroids rows, never corpus rows) joined to the kilobyte
    * centroid table — the recall-counter discipline's cost: an
    * aggregate over already-partitioned data, zero plan change to the
    * index itself. */
  def ivfCellStats(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame = {
    // cid rides back as a hive partition directory, so its parquet
    // type is whatever partition inference picks — pin to LONG on
    // both sides before the join
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cid").cast("long").as("cid"))
    val counts = openCells(spark, path)
      .groupBy(col("cid").cast("long").as("cid"))
      .agg(count(lit(1)).as("n_vectors"))
    cents.join(counts, Seq("cid"), "left")
      .select(col("cid"),
        coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
  }

  /** Rewrite a [[writeIvfIndex]] cells table to `filesPerCell` files
    * per cell directory — the maintenance verb the append-based store
    * needs: every [[absorbIvfIndex]] adds files to each touched cell,
    * and after thousands of micro-batches the probe read pays file-open
    * and listing cost ("small files") instead of scan cost. Compaction
    * changes LAYOUT only: rows, cell assignment, and query results are
    * untouched (spec-pinned), so it can run on any cadence.
    *
    * Shape: one cid-clustered shuffle per salt slice (`filesPerCell`
    * passes — each writes exactly ONE file per non-empty (cell, salt),
    * so the per-cell file count is deterministic; a single salted
    * shuffle would let hash placement collapse a cell's salts into one
    * task and silently merge the files the salt was meant to split),
    * then an
    * FS-agnostic three-step swap (write beside → rename old to backup →
    * rename new into place — the R3 checkpoint machinery; object-store
    * renames are copies, so prefer a quiet window there). The swap is
    * NOT atomic: a crash between the two renames leaves the backup but
    * no live table, and EVERY cells-touching verb self-heals by
    * renaming the backup back before proceeding ([[openCells]] — the
    * serving and absorb paths recover immediately, not at the next
    * compaction; same at-least-once posture as absorb's anti-join).
    * Single writer ENFORCED ([[graft.util.StoreLease]]): a compaction
    * under a live absorb — or vice versa — refuses loudly, and the
    * lease held across the swap is what tells a concurrent READ's
    * heal probe "in flight, retry" apart from "crashed, restore"
    * (see [[healCells]] — without it a read healing inside a healthy
    * swap window would rename the backup back under the compactor
    * and corrupt the swap). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, idCol: String,
                      filesPerCell: Int = 1): Unit = {
    require(filesPerCell >= 1, s"filesPerCell must be >= 1: $filesPerCell")
    import org.apache.hadoop.fs.Path
    StoreLease.withLease(spark, StoreLease.forDir(path),
      "compactIvfIndex") { lease =>
    val live = new Path(s"$path/cells")
    val bak = new Path(s"$path/cells__precompact")
    val tmp = new Path(s"$path/cells__compacting")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true) // leftover of an interrupted write, never live
    // self-heals a crashed prior swap (own lease: heal never blocked)
    val cells = openCells(spark, path, Some(lease))
    // the salt column is NAMED by the caller, never inferred by
    // position — a reordered or widened cells schema must refuse, not
    // silently salt on the vector column and tie file placement to
    // column order
    require(cells.columns.contains(idCol) && idCol != "cid",
      s"compactIvfIndex: cells at $path has columns " +
        s"[${cells.columns.mkString(", ")}] — idCol '$idCol' must be " +
        "one of them (and not the partition column 'cid')")
    // each salt pass is its own write job — cache so the table is
    // scanned once, not filesPerCell times (released before the swap)
    CacheScope.run { scope =>
      val src = if (filesPerCell > 1) scope.cache(cells) else cells
      (0 until filesPerCell).foreach { s =>
        src.filter(pmod(xxhash64(col(idCol)), lit(filesPerCell)) === s)
          .repartition(col("cid"))
          .write.mode("append").partitionBy("cid")
          .parquet(tmp.toString)
      }
    }
    fs.delete(bak, true) // a fully-swapped older backup, superseded
    require(fs.rename(live, bak),
      s"compaction swap: rename $live -> $bak failed")
    require(fs.rename(tmp, live),
      s"compaction swap: rename $tmp -> $live failed — the previous " +
        s"table is intact at $bak; the next call self-heals")
    fs.delete(bak, true)
    }
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic dedup by
    * clustering embeddings FIRST and searching for duplicates only
    * WITHIN clusters — the quadratic pair cost is bounded by cluster
    * size, never corpus size (the paper prunes web-scale corpora this
    * way; [[cosineNearDupPairs]] is the LSH alternative when no
    * clustering is wanted).
    *
    * Shape: assignment is the IVF path ([[ivfAssignTo]]: broadcast
    * centroids, one dot product per (row, centroid)); the within-cluster
    * pair search is a cid-keyed self-join gated by a cluster-size cap
    * computed as a map-combined groupBy count + semi-join (an aggregate,
    * NOT a Window — the d9/d13 lesson: an overflowing cluster collapses
    * map-side and never single-task-sorts). Clusters above `maxCluster`
    * skip pair search entirely (recall-only loss, mirrored in the
    * oracle — the same skew contract as LSH's maxBucket). Keep policy is
    * greedy min-id (a row drops iff a LOWER-id row in its cluster is
    * within `threshold` cosine — d6's policy, deterministic).
    *
    * Returns the KEPT rows as (idCol, cid). */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int, threshold: Double,
               maxCluster: Int = 10000): DataFrame = {
    // cached: four branches (cluster counts, both pair sides, the
    // final keep anti-join) consume the assignment with DIFFERENT
    // column prunings, so exchange subtrees cannot canonicalize equal
    // and the scan + per-(row × centroid) dot products + per-id window
    // would otherwise recompute per branch (the asofJoinBucketed
    // caveat). The returned frame reads it, so it is a hand-off: it
    // lives until the query boundary.
    val assigned = CacheScope.handOff(
      ivfAssign(corpus, idCol, vecCol, nCentroids))
    // recall-loss: run [[semDedupClusterCapReport]] after this — it
    // reads the same assignment cache while it lives, so the report
    // costs one aggregate over cached rows
    val okClusters = assigned.groupBy("cid")
      .agg(count(lit(1)).as("__csz"))
      .filter(col("__csz") <= maxCluster)
      .select("cid")
    val inScope = assigned.join(okClusters, Seq("cid"), "left_semi")
    val a = inScope.select(col("cid").as("__ca"), col(idCol).as("id_a"),
      col(vecCol).as("__va"), l2Norm(col(vecCol)).as("__na"))
    val b = inScope.select(col("cid").as("__cb"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"), l2Norm(col(vecCol)).as("__nb"))
    val cos = when(col("__na") === 0.0 || col("__nb") === 0.0, 0.0)
      .otherwise(dot(col("__va"), col("__vb")) /
        (col("__na") * col("__nb")))
    val dropped = a.join(b, col("__ca") === col("__cb") &&
        col("id_a") < col("id_b"))
      .withColumn("__cos", round(cos, 4))
      .filter(col("__cos") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cid"))
  }

  /** Recall-loss report for [[semDedup]]'s cluster cap: ONE row
    * (dropped_groups, dropped_members) counting the clusters whose pair
    * search was skipped at the same parameters (see
    * [[graft.util.Metrics]]). Run it AFTER semDedup with identical
    * arguments in the same query: the assignment plan is the same, so
    * it reads semDedup's assignment cache — one aggregate over cached
    * rows, no recompute of the per-(row × centroid) dot products. */
  def semDedupClusterCapReport(corpus: DataFrame, idCol: String,
                               vecCol: String, nCentroids: Int,
                               maxCluster: Int = 10000): DataFrame =
    graft.util.Metrics.capReport(
      ivfAssign(corpus, idCol, vecCol, nCentroids)
        .groupBy("cid").agg(count(lit(1)).as("__csz")),
      "__csz", maxCluster)

  /** Embedding-cosine near-duplicate pairs via multi-probe sign-bucket LSH.
    *
    * `nTables` probe tables, table t bucketing on the `nBits` sign bits of
    * dimension block [t·nBits, (t+1)·nBits) — a near-duplicate pair missed
    * by one block's signs is caught by another (recall ≈ 1−(1−p)^T for
    * per-table collision probability p). 16-bit buckets keep the
    * within-bucket pair count ~n²/2^16 per table — the r2 config (4 bits →
    * 16 buckets) was quadratic at scale.
    *
    * Candidate generation groups each (table, bucket) ONCE and explodes the
    * i<j id pairs (no self-join — same shape and skew cap as
    * [[graft.dedup.Dedup]] LSH: bucket sizes come from a map-combined
    * `groupBy(bucket).count` equi-joined back, never a Window count — a
    * Window partition would single-task-sort a degenerate bucket before
    * the filter could drop it; the aggregate collapses it map-side. Rows
    * are distinct on (table, bucket, id), so a keyed no-op aggregate
    * materializes the bucket table behind an id-spread exchange both
    * branches reuse — see [[graft.dedup.Dedup]] pairsFromSignatures).
    * Verification joins the pairs back to the corpus by id
    * (shuffle join; the corpus is never replicated per table) and keeps
    * cosine ≥ threshold; norms are computed per vector, not per pair. */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nBits: Int = 16,
                         nTables: Int = 3,
                         maxBucket: Int = 10000): DataFrame = {
    val base = graft.util.Partitioning.spread(corpus)
      .select(col(idCol), col(vecCol))
    val tables = array((0 until nTables).map(t =>
      struct(lit(t).as("tbl"),
        signBucketAt(col(vecCol), nBits, t * nBits).as("bkt"))): _*)
    val keyed = base.select(col(idCol), explode(tables).as("tb"))
      .select(col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"), col(idCol))
      .groupBy(col("tbl"), col("bkt"), col(idCol))
      .agg(count(lit(1)).as("__one")) // no-op collapse; rows distinct
    val counts = keyed.groupBy(col("tbl"), col("bkt"))
      .agg(count(when(col("__one") > 0, lit(1))).as("__bn"))
      .filter(col("__bn") >= 2 && col("__bn") <= maxBucket)
      .select(col("tbl"), col("bkt"))
    // no-op filter keeps __one referenced on the pair branch so both
    // exchange subtrees stay canonically equal (ReusedExchange) — see
    // Dedup.pairsFromSignatures
    val sized = keyed.join(counts, Seq("tbl", "bkt"))
      .filter(col("__one") > 0)
    val buckets = sized.groupBy("tbl", "bkt")
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
    val cand = buckets
      .select(explode(
        graft.dedup.Dedup.sortedIdPairs(col("__ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
    val va = base.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
      l2Norm(col(vecCol)).as("__na"))
    val vb = base.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      l2Norm(col(vecCol)).as("__nb"))
    val cos = when(col("__na") === 0.0 || col("__nb") === 0.0, 0.0)
      .otherwise(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos_sim", round(cos, 4))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  // ---- Product quantization (Jégou et al. 2011) ----------------------
  //
  // The remaining member of the ANN compression family: n4/n6 shrink
  // PRECISION (int8 per dim — 4× over float), PQ shrinks DIMENSION —
  // the vector becomes `m` codebook ids, one per contiguous sub-space,
  // and distance against a query is `m` lookups into a per-query table
  // of (sub, code) → partial-d² (ADC, asymmetric distance computation).
  // At 64 dims × 4 sub-spaces × 16 codes a vector is 4 nibbles instead
  // of 256 bytes — the memory-bound serving shape every production ANN
  // (FAISS IVFPQ) ships. Codes are query-independent: at 100 TB they
  // compute ONCE per corpus (persist them exactly like writeIvfIndex
  // persists cells; re-encoding here keeps the demo self-contained) and
  // every query is a map-only scan of the code table with a
  // 64-row broadcast LUT + TakeOrderedAndProject — the corpus vectors
  // themselves never load again.
  //
  // Codebooks here are data vectors (the m2/m4 fixed-centroid
  // discipline — training them is Clustering.lloyd per sub-space, an
  // orthogonal concern); all distances are the Clustering.sqDist
  // left-fold, whose raw doubles are bit-identical across engines (m4
  // precedent), so est_d2 is oracle-hashable unrounded.

  /** One (sub, `as`) row per contiguous `subDim`-slice of `vecCol`,
    * keeping `keep` — map-only (array build + explode, no shuffle). */
  private def subRows(df: DataFrame, keep: Seq[String], vecCol: String,
                      m: Int, subDim: Int, as: String): DataFrame =
    df.select(keep.map(col) :+ explode(array((0 until m).map(j =>
        struct(lit(j).as("sub"),
          slice(col(vecCol), j * subDim + 1, subDim).as(as))): _*))
        .as("__s"): _*)
      .select(keep.map(col) ++
        Seq(col("__s.sub").as("sub"), col(s"__s.$as").as(as)): _*)

  /** PQ encode + ADC top-k against one query vector.
    *
    * `codebook` is (cidCol, cvecCol) with ncodes full-dim vectors; each
    * of the `m` sub-spaces uses its slice of all ncodes vectors as its
    * code set. Per corpus vector: code_j = argmin over codes of
    * sub-d² (ties to the smallest cid — min(struct) semantics), and
    * est_d2 = Σ_j LUT(j, code_j), summed in fixed sub-space order so
    * the double is engine-reproducible. Returns the k closest by
    * (est_d2, id): (id, code0..code{m-1}, est_d2).
    *
    * Plan shape: LUT = codebook × query (ncodes·m rows, broadcast);
    * encoding = corpus sub-rows ⋈ broadcast LUT, one map-combined
    * groupBy(id) with m min(struct) buffers; top-k =
    * TakeOrderedAndProject. The corpus is scanned once; nothing wider
    * than (id → m codes) ever shuffles. */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
             codebook: DataFrame, cidCol: String, cvecCol: String,
             query: DataFrame, queryVecCol: String,
             m: Int, subDim: Int, k: Int): DataFrame = {
    requireSingleQuery(query, "pqTopK")
    val cb = subRows(codebook.select(col(cidCol).as("__cid"),
      col(cvecCol).as("__cv")), Seq("__cid"), "__cv", m, subDim, "cv")
    val q = subRows(query.select(col(queryVecCol).as("__qv")),
      Seq.empty, "__qv", m, subDim, "qv")
    val lut = cb.join(q, Seq("sub"))
      .select(col("sub"), col("__cid").as("cid"), col("cv"),
        graft.ml.Clustering.sqDist(col("qv"), col("cv")).as("qd2"))
    val vs = subRows(corpus.select(col(idCol), col(vecCol)),
      Seq(idCol), vecCol, m, subDim, "vv")
    val scored = vs.join(broadcast(lut), Seq("sub"))
      .select(col(idCol), col("sub"),
        struct(graft.ml.Clustering.sqDist(col("vv"), col("cv")).as("d2"),
          col("cid").as("cid"), col("qd2").as("qd2")).as("st"))
    val enc = scored.groupBy(col(idCol))
      .agg(min(when(col("sub") === 0, col("st"))).as("s0"),
        (1 until m).map(j =>
          min(when(col("sub") === j, col("st"))).as(s"s$j")): _*)
    val est = (0 until m).map(j => col(s"s$j.qd2")).reduceLeft(_ + _)
    enc.select(col(idCol) +:
        (0 until m).map(j => col(s"s$j.cid").as(s"code$j")) :+
        est.as("est_d2"): _*)
      .orderBy(col("est_d2"), col(idCol))
      .limit(k)
  }

  /** Deterministic ±1 for the JL sign matrix: the low bit of
    * md5("seed:j:k") — a pure function of the coordinates, so both
    * engines (and every executor, every retry) derive the SAME matrix
    * with no RNG state, broadcast, or stored artifact. */
  private def jlSign(seed: String, j: Int, k: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$j:$k".getBytes("UTF-8"))
    if ((d(15) & 1) == 1) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random-SIGN projection (Achlioptas 2003,
    * "Database-friendly random projections": a ±1 sign matrix satisfies
    * the JL lemma with the same distortion bounds as Gaussian — and
    * sign entries need no float RNG): out[k] = (1/√outDim) · Σⱼ
    * sign(j,k)·v[j]. Distances and angles are preserved within
    * ε ≈ √(ln n / outDim) w.h.p., which is what makes a 64→16
    * projection a sound COARSE stage for similarity search.
    *
    * Engine-portability is designed in: the sign matrix derives from
    * md5 parity (same hex on every engine), the fold order is the
    * fixed left-to-right [[dot]] (native codegen'd DotProduct against
    * a LITERAL sign row — the matrix folds into the plan, nothing
    * ships), and `outDim` must be a POWER OF FOUR so the 1/√outDim
    * scale is an exact binary double (1/√4^m = 2^-m) — the oracle
    * twin is then bit-identical, no rounding step needed at the
    * projection itself.
    *
    * Scale shape: map-only, fuses into the scan; output rows are
    * outDim/inDim the size of the input — every downstream ANN stage
    * (IVF assignment, bucketed LSH, brute force) gets a 4× cheaper
    * vector at a bounded recall cost that [[jlTopK]]'s exact rerank
    * then repairs. */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                inDim: Int, outDim: Int,
                seed: String = "jl"): DataFrame = {
    require(outDim > 0 && Integer.bitCount(outDim) == 1 &&
      Integer.numberOfTrailingZeros(outDim) % 2 == 0,
      s"jlProject: outDim must be a power of FOUR (got $outDim) so " +
        "1/sqrt(outDim) is an exact binary double — the oracle " +
        "bit-parity contract")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    // fail LOUD on a vector whose length is not inDim: DotProduct
    // returns null on length mismatch, which would propagate to
    // all-null projections and an arbitrary id-ordered "top-k"
    // downstream — the silent-zero-match failure mode this library
    // refuses everywhere (one size check per row, before the k dots)
    val v = when(size(col(vecCol)) === inDim,
      col(vecCol).cast("array<double>"))
      .otherwise(raise_error(concat(
        lit(s"jlProject: expected $inDim-dim vectors but found length "),
        size(col(vecCol)).cast("string"))))
    val comps = (0 until outDim).map { k =>
      val signs = (0 until inDim).map(j => jlSign(seed, j, k))
      dot(v, typedLit(signs)) * lit(scale)
    }
    df.select(col(idCol), array(comps: _*).as("proj"))
  }

  /** Coarse-to-fine top-k: rank ALL vectors by cosine in the
    * JL-projected space (cheap — outDim multiplies per row instead of
    * inDim), keep the `candidates` best, then EXACT-rerank those by
    * full-dimension cosine and return the top `k`. The classic
    * dimensionality-reduction complement to the quantized rerank (n6)
    * and IVF (n3): projection preserves angles globally (JL), so the
    * coarse stage has no cell-boundary blind spots — its recall loss
    * is purely the ε-distortion, repaired by widening `candidates`.
    *
    * Both stages are map + TakeOrderedAndProject (the n1 shape); the
    * rerank joins the candidate ids back to the corpus — `candidates`
    * rows, AQE broadcasts. Cosines round to 4 decimals BEFORE ranking
    * on both engines (the n2/n5 float-ulp discipline); ties break on
    * id. */
  def jlTopK(corpus: DataFrame, idCol: String, vecCol: String,
             query: DataFrame, queryVecCol: String,
             inDim: Int, outDim: Int, candidates: Int, k: Int,
             seed: String = "jl"): DataFrame = {
    requireSingleQuery(query, "jlTopK")
    val pc = jlProject(graft.util.Partitioning.spread(corpus),
      idCol, vecCol, inDim, outDim, seed)
    val pq = jlProject(query.select(col(queryVecCol).as("__qv"))
        .withColumn("__one", lit(1)),
      "__one", "__qv", inDim, outDim, seed)
      .select(col("proj").as("__qproj"))
    val coarse = pc.crossJoin(broadcast(pq))
      .select(col(idCol),
        round(cosine(col("proj"), col("__qproj")), 4).as("__pcos"))
      .orderBy(desc("__pcos"), col(idCol))
      .limit(candidates)
      .select(col(idCol))
    val q = broadcast(query.select(col(queryVecCol).as("__q")))
    corpus.join(coarse, Seq(idCol), "left_semi")
      .crossJoin(q)
      .select(col(idCol),
        round(cosine(col(vecCol), col("__q")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** Train PQ codebooks: an independent Lloyd k-means PER SUB-SPACE
    * over the sliced vectors (Jégou et al. §II.C — the sub-quantizers
    * are independent by construction), re-assembled into the full-dim
    * (cid, ce) frame [[pqTopK]] consumes (slice j of codebook vector c
    * = centroid c of sub-space j). Init per sub-space is the k
    * lowest-id vectors' slices — i.e. training STARTS at the fixed
    * data-vector codebook and can only reduce quantization error
    * (Lloyd monotonicity, spec-pinned via [[pqQuantError]]).
    *
    * Scale shape: m independent kmeans runs, each the k×dim-partials
    * shuffle documented on Clustering.kmeans; the returned frame is
    * ncodes rows. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, subDim: Int, ncodes: Int, iters: Int): DataFrame = {
    val perSub = (0 until m).map { j =>
      val cents = graft.ml.Clustering.kmeansCentroids(
        corpus.select(col(idCol),
          slice(col(vecCol), j * subDim + 1, subDim).as("__sv")),
        idCol, "__sv", ncodes, iters)._1.toMap
      // kmeans init is limit(k) over the corpus: a corpus smaller than
      // ncodes silently yields a short codebook and the re-assembly
      // below would throw an opaque NoSuchElementException — fail loud
      require(cents.size == ncodes,
        s"pqTrain: sub-space $j trained ${cents.size} centroids but " +
          s"ncodes=$ncodes was requested — the corpus must have at " +
          "least ncodes rows (distinct vectors) to train a PQ codebook")
      cents
    }
    val cents = (0 until ncodes).map { c =>
      (c.toLong, (0 until m).flatMap(j => perSub(j)(c.toLong)))
    }
    val s = corpus.sparkSession
    import s.implicits._
    cents.toDF("cid", "ce")
  }

  /** Total PQ quantization error Σ_v Σ_j min_c ‖v_j − c_j‖² — the
    * codebook-quality metric (lower = tighter codes = better ADC
    * ranking). Same broadcast-codebook scan shape as [[pqTopK]]'s
    * encode; one double per corpus, for diagnostics and specs. */
  def pqQuantError(corpus: DataFrame, idCol: String, vecCol: String,
                   codebook: DataFrame, cidCol: String, cvecCol: String,
                   m: Int, subDim: Int): Double = {
    val cb = subRows(codebook.select(col(cidCol).as("__cid"),
      col(cvecCol).as("__cv")), Seq("__cid"), "__cv", m, subDim, "cv")
    val vs = subRows(corpus.select(col(idCol), col(vecCol)),
      Seq(idCol), vecCol, m, subDim, "vv")
    vs.join(broadcast(cb), Seq("sub"))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(
        graft.ml.Clustering.sqDist(col("vv"), col("cv")).as("d2"),
        col("__cid").as("cid"))).as("s"))
      .agg(sum(col("s.d2"))).first().getDouble(0)
  }
}
