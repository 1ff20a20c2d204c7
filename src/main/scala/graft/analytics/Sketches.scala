package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.StoreLease

/** Count-min sketch over a token stream — the classic sublinear-space
  * frequency sketch (Cormode & Muthukrishnan 2005): `depth` hash rows ×
  * `width` counters; an item's estimate is the MIN of its `depth`
  * counters, always >= the true count, over by at most εN with high
  * probability (ε ≈ e/width).
  *
  * Scale shape: each sketch row is one map-side-combinable groupBy whose
  * OUTPUT is at most `width` rows — the shuffle carries counters, not
  * tokens — and the estimate joins are all broadcasts of those tiny
  * counter tables. At 100 TB the sketch build is embarrassingly parallel
  * and the merged sketch is kilobytes, which is the entire point of the
  * structure (an exact groupBy of a heavy-tailed token space shuffles
  * billions of distinct keys).
  *
  * Hashing is md5-only (the engine's one hash family — see Queries.scala
  * scaladoc) and the width is a power of 16 so a bucket is simply the
  * first `hexChars` hex characters of md5(token + "|" + row): uniform
  * (md5 bits are uniform), engine-portable as a plain string — no base
  * conversion anywhere, and the DuckDB twin is `substr(md5(...), 1, n)`
  * verbatim. */
object Sketches {

  /** Bucket of `tok` in sketch row `row`: the first `hexChars` hex chars
    * of md5 — the top 4×hexChars bits, i.e. width = 16^hexChars. */
  def cmsBucket(tok: Column, row: Int, hexChars: Int): Column =
    substring(md5(concat(tok, lit("|" + row))), 1, hexChars)

  /** One sketch row: bucket -> count. At most 16^hexChars output rows. */
  def cmsRow(toks: DataFrame, tokCol: String, row: Int,
             hexChars: Int): DataFrame =
    toks.groupBy(cmsBucket(col(tokCol), row, hexChars).as("__b"))
      .agg(count(lit(1)).as(s"__c$row"))

  /** Heavy hitters by CMS estimate: whitespace-tokenize `textCol`, build
    * a depth×16^hexChars sketch, estimate every distinct token, return
    * the top `k` by (estimate desc, token asc) with the true count
    * alongside (est >= true_n always; equality whenever some row has no
    * collision for the token).
    *
    * ORACLE/DEMO-SHAPED: the `true_n` witness requires an exact global
    * groupBy over every distinct token — precisely the
    * billions-of-keys shuffle the sketch exists to avoid, so this form
    * never realizes the sublinear-space benefit. It is the
    * hash-checkable parity twin; production candidate generation is
    * [[cmsTopKApprox]], whose shuffle is bounded by
    * partitions × capacity regardless of vocabulary size. */
  def cmsTopK(df: DataFrame, textCol: String, depth: Int = 4,
              hexChars: Int = 3, k: Int = 20): DataFrame = {
    val toks = df.select(explode(split(col(textCol), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val candidates = toks.groupBy("tok").agg(count(lit(1)).as("true_n"))
    estimateTopK(toks, candidates, depth, hexChars, k)
      .select("tok", "est", "true_n")
  }

  /** Production heavy hitters: candidates from per-partition Misra-Gries
    * summaries instead of an exact global groupBy, then the same CMS
    * estimate + top-k. The only token-keyed exchange carries at most
    * `partitions × capacity` candidate rows — independent of vocabulary
    * size — and the CMS rows stay map-side-combined counter tables (each
    * <= 16^hexChars rows, broadcast into the estimate joins).
    *
    * Recall guarantee, per partition: Misra-Gries with `capacity`
    * counters retains every token whose LOCAL count exceeds
    * localN/(capacity+1), so any token with global count >
    * N/(capacity+1) survives in at least one partition (it must exceed
    * the threshold somewhere). Size `capacity` >> N/(true k-th count);
    * the estimates themselves stay one-sided CMS overcounts. */
  def cmsTopKApprox(df: DataFrame, textCol: String, depth: Int = 4,
                    hexChars: Int = 3, k: Int = 20,
                    capacity: Int = 4096): DataFrame = {
    val toks = df.select(explode(split(col(textCol), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val candidates = localHeavyHitters(toks, "tok", capacity).distinct()
    estimateTopK(toks, candidates, depth, hexChars, k)
      .select("tok", "est")
  }

  /** Per-partition Misra-Gries (the classic "frequent" summary, Misra &
    * Gries 1982): `capacity` counters per partition; a full summary
    * decrements ALL counters when an untracked token arrives (amortized
    * O(1) — every decrement is paid for by a prior increment). Emits each
    * partition's surviving tokens, so output <= partitions × capacity
    * rows. Genuine per-row imperative state — the one shape
    * `mapPartitions` is for; no groupBy, no shuffle. */
  def localHeavyHitters(toks: DataFrame, tokCol: String,
                        capacity: Int): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    toks.select(col(tokCol).cast("string")).as[String]
      .mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { tok =>
          if (counts.contains(tok)) counts(tok) += 1L
          else if (counts.size < capacity) counts(tok) = 1L
          else {
            // decrement-all phase: drop every counter by 1, evict zeros
            val dead = List.newBuilder[String]
            counts.keysIterator.foreach { k =>
              val v = counts(k) - 1L
              if (v == 0L) dead += k else counts(k) = v
            }
            dead.result().foreach(counts.remove)
          }
        }
        counts.keysIterator.toList.iterator
      }
      .toDF("tok")
  }

  // ---- HyperLogLog distinct-count sketch ---------------------------
  //
  // Flajolet et al. 2007, built on the engine's one hash family (md5,
  // hex-string form) so the WHOLE sketch is expressible verbatim in any
  // SQL engine: register = first `hexChars` hex chars of md5(value);
  // rho = 1 + leading zero BITS of the remaining 30-char hex strip
  // (4 bits per leading '0' char + a CASE on the first non-zero digit).
  // Registers hold max(rho) — so a shard's register table merges into
  // the global sketch by elementwise MAX, the HLL property that makes a
  // 1000-executor build embarrassingly parallel (m counters per shard,
  // kilobytes each, one tiny merge).
  //
  // Scale shape: the only exchange is a groupBy on the register id —
  // map-side combined to <= 16^hexChars rows per task — vs. the exact
  // countDistinct's shuffle of every distinct value.
  //
  // Cross-engine exactness: the hashed outputs are INTEGERS (register
  // maxima, zero-register count, and the harmonic sum scaled by 2^50 so
  // it sums in exact LONG arithmetic — max 16^hexChars × 2^50 << 2^63)
  // plus one double, est = alpha·m²/Σ2^-rho, computed as the identical
  // left-associated IEEE expression in both engines (division and
  // multiplication are correctly rounded, so identical inputs give
  // identical bits). rho is capped at 50 for the scaled sum; reaching 50
  // takes ~2^50 distinct values, far beyond the sketch's bias-corrected
  // range.

  /** rho of a hex strip: 1 + number of leading zero bits. 4 bits per
    * leading '0' hex char, plus 3/2/1/0 for a first non-zero digit of
    * 1 / 2-3 / 4-7 / 8-f. An all-zero strip degenerates to
    * 4·len(strip)+1 with no special case (the CASE's else-0 applies). */
  def hllRho(strip: Column): Column = {
    val z = length(regexp_extract(strip, "^(0*)", 1))
    val c = strip.substr(z + lit(1), lit(1))
    val bits = when(c === "1", 3)
      .when(c.isin("2", "3"), 2)
      .when(c.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    lit(4) * z + bits + lit(1)
  }

  /** The m = 16^hexChars register table of `valueCol`: (reg, max rho),
    * INCLUDING empty registers at rho 0 (joined in from a generated
    * domain — m rows, broadcast). Sketches of shards merge by
    * elementwise max (proved in SketchesSpec). */
  def hllRegisters(df: DataFrame, valueCol: String,
                   hexChars: Int = 2): DataFrame = {
    val m = 1 << (4 * hexChars)
    val d = md5(col(valueCol).cast("string"))
    val obs = df
      .select(substring(d, 1, hexChars).as("reg"),
        hllRho(substring(d, hexChars + 1, 32 - hexChars)).as("rho"))
      .groupBy("reg").agg(max("rho").as("rho"))
    val domain = df.sparkSession.range(m)
      .select(lpad(lower(hex(col("id"))), hexChars, "0").as("reg"))
    // hint the RIGHT side: a left-outer BroadcastHashJoin can only
    // build right, so a broadcast() on the preserved domain side is
    // silently discarded by the planner ("hint is not supported")
    domain.join(broadcast(obs), Seq("reg"), "left")
      .select(col("reg"), coalesce(col("rho"), lit(0)).as("rho"))
  }

  /** One-row HLL summary: register count, zero-register count, the
    * 2^50-scaled harmonic sum (exact LONG), and the raw HLL estimate
    * alpha_m·m²/Σ2^-rho. Linear-counting/large-range corrections are
    * deliberately NOT applied in-engine (they need ln(), whose last ulp
    * is libm-dependent — callers holding v_zero can apply m·ln(m/V)
    * driver-side when est < 2.5m). */
  def hllSummary(df: DataFrame, valueCol: String,
                 hexChars: Int = 2): DataFrame = {
    val m = 1 << (4 * hexChars)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    hllRegisters(df, valueCol, hexChars)
      .agg(count(lit(1)).as("m_registers"),
        sum(when(col("rho") === 0, 1L).otherwise(0L)).as("v_zero"),
        sum(expr("shiftleft(1L, 50 - least(rho, 50))")).as("s_scaled"))
      .withColumn("est_distinct",
        alpha * lit(m.toDouble * m.toDouble) * lit(math.pow(2, 50)) /
          col("s_scaled").cast("double"))
  }

  // ---- KMV / theta sketch: distinct counts AND set operations --------
  //
  // The K-MINIMUM-VALUES sketch (Bar-Yossef et al. 2002; the theta
  // sketch of Dasgupta et al. 2016 is its production form): keep the k
  // smallest 60-bit hashes of a set's distinct members. The k-th
  // smallest value U_(k), read as a fraction of the hash space,
  // estimates distinct count as (k-1)/U_(k). What HLL (above) cannot do
  // and KMV can: the retained hashes are a UNIFORM SAMPLE of the set,
  // so two sketches support INTERSECTION and JACCARD estimates — "how
  // much does crawl A overlap crawl B" without ever joining A to B.
  // That is the 100 TB use: cross-corpus overlap from two single-pass
  // kilobyte sketches instead of a corpus×corpus shingle join.
  //
  // Hashing is the engine's md5 family: the top 15 hex chars as a
  // 60-bit LONG (the k9/o10 digest idiom), so the DuckDB twin is
  // CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) verbatim. All
  // outputs are exact LONGs except the final estimates, each one
  // identically-parenthesized IEEE arithmetic in both engines.

  /** 2^60, the KMV hash-space size, as the exact double both engines
    * spell the same way. */
  val KmvHashSpace: Long = 1L << 60

  /** 60-bit uniform hash of an item: top 15 hex chars of md5 (the
    * item is cast to string first — the hllRegisters discipline, so
    * numeric item columns work instead of failing analysis). */
  def kmvHash(item: Column): Column =
    conv(substring(md5(item.cast("string")), 1, 15), 16, 10).cast("long")

  /** Per-source KMV sketch: the k smallest DISTINCT hashes of
    * `itemCol` per `srcCol` value — (src, h) rows, at most k per
    * source.
    *
    * Scale shape: one distinct on (src, h) (map-side combined — the
    * combiner collapses each partition's duplicates before the
    * exchange), then a rank-k filter that Spark 3.5+ rewrites to
    * WindowGroupLimit: every MAP task pre-prunes to its local top-k
    * per source, so the window exchange carries at most k rows per
    * (source × partition), never the distinct-item universe. The
    * result is kilobytes per source regardless of corpus size. */
  def kmvSketch(items: DataFrame, srcCol: String, itemCol: String,
                k: Int): DataFrame =
    rankK(items
      .filter(col(itemCol).isNotNull) // null → null h, which would
      // sort FIRST in the rank window and occupy a sketch slot,
      // silently skewing n/kth/theta in every downstream estimate
      .select(col(srcCol).as("source"), kmvHash(col(itemCol)).as("h"))
      .distinct(), k)

  /** k smallest distinct (source, h) rows per source — the shared tail
    * of sketch build and sketch merge. WindowGroupLimit prunes map-side
    * (KMV spec asserts it). */
  private def rankK(dh: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"))
    dh.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Merge two sketch frames (already-hashed (source, h) rows): the k
    * smallest of the distinct union — EXACTLY the sketch of the unioned
    * corpora (any hash among the k smallest of A∪B is among the k
    * smallest of its own side, so it survives in that side's sketch;
    * SketchesSpec pins the identity). Pure sketch-space work: rows in
    * are ≤ k per source per side, the corpora are never touched. */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    rankK(a.select(col("source"), col("h"))
      .union(b.select(col("source"), col("h"))).distinct(), k)

  /** Persist a per-source KMV sketch store — the d15/m16 store
    * discipline for set sketches: O(sources × k) LONGs materialize
    * ONCE, and each new crawl absorbs with one pass over the DELTA
    * plus a kilobyte-sized [[kmvMerge]]; the accumulated corpus is
    * never re-read. The absorbed store answers every cross-source
    * overlap question ([[kmvOverlap]]) losslessly — merge ≡
    * sketch-of-union, so store+absorb hash-matches the from-scratch
    * sketch (oracle m19 proves it end-to-end). */
  def writeKmvStore(items: DataFrame, srcCol: String, itemCol: String,
                    k: Int, path: String): Unit =
    // single writer enforced: a concurrent rewrite of the same store
    // path would race overwrite-mode commits (see StoreLease)
    StoreLease.withLease(items.sparkSession, StoreLease.forDir(path),
      "writeKmvStore") { _ =>
      kmvSketch(items, srcCol, itemCol, k)
        .write.mode("overwrite").parquet(path)
    }

  /** Pairwise cross-source overlap report from KMV sketches: for every
    * source pair (a < b) the theta-sketch set estimates — distinct
    * items per side, intersection, union, Jaccard — plus the exact
    * integer evidence (theta, sample counts) that anchors the oracle
    * hash.
    *
    * Estimator (Dasgupta et al. 2016 §3): theta = min of the two
    * sketch thresholds (a side's threshold is its k-th smallest hash
    * when the sketch is FULL, else the whole hash space — a partial
    * sketch IS its set, exactly); every retained hash < theta is a
    * uniform inclusion-probability-theta sample of the union, so
    * |S|/theta estimates any set S observed through the sample.
    * Jaccard = n_inter/n_union needs no theta at all.
    *
    * Scale shape: input sketches are ≤ k rows per source, so every
    * join here is over sketch-sized frames (AQE broadcasts them); the
    * corpus is never touched. Merge note (SketchesSpec): a KMV sketch
    * of a union = k smallest of the concatenated sketches, so shard
    * sketches combine associatively like the CMS rows above. */
  def kmvOverlap(sk: DataFrame, k: Int): DataFrame = {
    val est = (n: Column, kth: Column) =>
      when(n < k, n.cast("double"))
        .otherwise((lit((k - 1).toDouble) * lit(KmvHashSpace.toDouble)) /
          kth.cast("double"))
    val st = sk.groupBy("source")
      .agg(count(lit(1)).as("n"), max("h").as("kth"))
      .withColumn("theta",
        when(col("n") >= k, col("kth")).otherwise(lit(KmvHashSpace)))
    val pr = st.select(col("source").as("src_a"), col("n").as("n_a"),
        col("kth").as("kth_a"), col("theta").as("th_a"))
      .join(broadcast(st.select(col("source").as("src_b"),
        col("n").as("n_b"), col("kth").as("kth_b"),
        col("theta").as("th_b"))),
        col("src_a") < col("src_b"))
      .withColumn("theta", least(col("th_a"), col("th_b")))
    // every frame here is sketch-sized (≤ sources × k rows) — broadcast
    // hints keep even the STATIC plan free of sort-merge machinery
    val ska = sk.select(col("source").as("src_a"), col("h"))
    val skb = sk.select(col("source").as("src_b"), col("h"))
    val inter = pr.join(broadcast(ska), Seq("src_a"))
      .filter(col("h") < col("theta"))
      .join(broadcast(skb), Seq("src_b", "h"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
    val uni = pr
      .join(broadcast(sk),
        sk("source") === col("src_a") || sk("source") === col("src_b"))
      .filter(col("h") < col("theta"))
      .select(col("src_a"), col("src_b"), col("h")).distinct()
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_union"))
    pr.join(broadcast(inter), Seq("src_a", "src_b"), "left")
      .join(broadcast(uni), Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("theta"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        coalesce(col("n_union"), lit(0L)).as("n_union"),
        est(col("n_a"), col("kth_a")).as("est_a"),
        est(col("n_b"), col("kth_b")).as("est_b"),
        (coalesce(col("n_inter"), lit(0L)).cast("double") *
          lit(KmvHashSpace.toDouble) / col("theta").cast("double"))
          .as("est_inter"),
        (coalesce(col("n_union"), lit(0L)).cast("double") *
          lit(KmvHashSpace.toDouble) / col("theta").cast("double"))
          .as("est_union"),
        when(coalesce(col("n_union"), lit(0L)) === 0L, lit(0.0))
          .otherwise(coalesce(col("n_inter"), lit(0L)).cast("double") /
            col("n_union").cast("double")).as("jaccard"))
  }

  // ---- Mergeable QUANTILE sketch (bottom-k row sample) ---------------
  //
  // The missing member of the sketch family: CMS answers frequencies,
  // HLL/KMV answer distinct counts and set overlap — this answers RANK
  // queries (quantiles) from O(k) state that merges across shards and
  // absorbs per crawl like the KMV store.
  //
  // Adjudication vs KLL / t-digest (the literature's default mergeable
  // quantile sketches): both are order-SENSITIVE — KLL's compactor
  // coin-flips and t-digest's centroid merging depend on arrival and
  // merge order, and Spark merges partial aggregates in whatever order
  // tasks finish, so their output is not reproducible across runs,
  // partitionings, or engines. That breaks this engine's determinism
  // discipline (every sketch here has order-independent state: CMS
  // counters sum, HLL registers max, KMV keeps the k hash-smallest).
  // The deterministic-compaction alternative used instead: state = the
  // k rows whose 60-bit md5 hash of the row KEY is smallest, value
  // carried alongside — the KMV bottom-k rule applied to ROWS instead
  // of distinct members. "Keep the k hash-smallest" is associative,
  // commutative and idempotent, so the sketch of a union is exactly
  // the merge of the shard sketches (property-pinned in SketchesSpec,
  // the kmvMerge discipline) and the whole structure is expressible
  // verbatim in any SQL engine (oracle m20 hash-matches it).
  //
  // Accuracy, honestly stated: the retained rows are a uniform size-k
  // sample of the dataset (md5 of a unique key is an independent
  // uniform draw per row), so by Dvoretzky–Kiefer–Wolfowitz the
  // sample's empirical CDF tracks the true CDF UNIFORMLY:
  // sup_x |F_k(x) − F(x)| ≤ sqrt(ln(2/δ)/(2k)) w.p. ≥ 1−δ — every
  // quantile simultaneously within that rank error (k = 8192 → ±2.1%
  // at 99.9%, the figure SCALE.md uses).
  // KLL reaches the same ε in O((1/ε)·log²) space — a √
  // factor less — but at k ≤ 64Ki this sketch is kilobytes per source
  // either way, which is irrelevant beside the 100 TB scan it
  // summarizes; determinism is worth the √.
  //
  // Scale shape: identical to kmvSketch — one map-only hash projection,
  // then the rank-k filter Spark rewrites to WindowGroupLimit (each map
  // task pre-prunes to its local k per source before the exchange, so
  // the shuffle carries ≤ k rows per source × partition). Merge and
  // quantile extraction are sketch-space work (≤ sources × k rows).

  /** Per-source quantile sketch: the k rows with the smallest
    * [[kmvHash]] of `keyCol` per `srcCol` value, as (source, h, v).
    * `keyCol` must be row-unique within each source (the uniform-
    * sampling contract — a duplicated key under-weights its rows);
    * null values are excluded (quantiles ignore nulls, matching
    * [[Quantiles.quantiles]]). Hash ties (2⁻⁶⁰-rare cross-key
    * collisions) break on the value so the retained SET is
    * deterministic. */
  def quantileSketch(df: DataFrame, srcCol: String, keyCol: String,
                     valueCol: String, k: Int): DataFrame =
    rankKV(df.filter(col(valueCol).isNotNull)
      .select(col(srcCol).as("source"), kmvHash(col(keyCol)).as("h"),
        col(valueCol).cast("double").as("v")), k)

  /** k smallest (source, h, v) rows per source by (h, v) — the shared
    * tail of quantile-sketch build and merge. Same WindowGroupLimit
    * map-side prune as [[rankK]]; the extra `v` in the sort order only
    * breaks 60-bit hash-collision ties deterministically. */
  private def rankKV(dh: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("v"))
    dh.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Merge two quantile-sketch frames: the k hash-smallest of the
    * distinct union — EXACTLY the sketch of the concatenated inputs
    * (any row among the k hash-smallest of A∪B is among the k
    * hash-smallest of its own side; SketchesSpec pins merge ≡
    * sketch-of-union, associativity, and idempotence). Pure
    * sketch-space work. */
  def quantileSketchMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    rankKV(a.select(col("source"), col("h"), col("v"))
      .union(b.select(col("source"), col("h"), col("v"))).distinct(), k)

  /** Rank queries against a quantile sketch: for each source and each
    * p in `ps`, the sample's empirical p-quantile — the retained value
    * at sorted position floor(p·(n−1)) (0-based; n = retained rows, so
    * the estimate is always an ELEMENT of the dataset, `quantile_disc`
    * semantics — no interpolation, no float arithmetic beyond the
    * position itself, bit-identical in any engine). Ties in v sort on
    * h, keeping the selection total. Output (source, p, q_est),
    * sketch-sized input so every stage is trivial. */
  def sketchQuantiles(sk: DataFrame, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"sketchQuantiles: fractions must be in [0,1], got $ps")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("v"), col("h"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    sk.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .select(col("source"), col("v"),
        explode(array(ps.map(lit): _*)).as("p"), col("__rn"), col("__n"))
      .filter(col("__rn") ===
        floor(col("p") * (col("__n") - lit(1)).cast("double")) + lit(1))
      .select(col("source"), col("p"), col("v").as("q_est"))
  }

  /** Persist a per-source quantile sketch as a bucketed catalog table —
    * the m19/d25 store discipline applied to RANK state, closing the
    * loop the sketch's own motivation opens ("quantile state that
    * outlives the job"): the
    * sketch materializes ONCE (≤ sources × k rows), each later crawl
    * absorbs via [[absorbIntoQuantileStore]] with one pass over the
    * DELTA plus a sketch-space merge, and the accumulated corpus is
    * never re-read. Bucketed by `source`, so every downstream
    * per-source window ([[sketchQuantiles]]) reads it Exchange-free.
    *
    * The sampling FAMILY (k, keyCol, valueCol) persists as table
    * properties: a later absorb with a different k would mix sketches
    * of different retention thresholds (the merged state would no
    * longer equal the sketch of the union), and a different keyCol
    * re-weights the sample — both are silent-bias failures, so
    * [[absorbIntoQuantileStore]] REFUSES a mismatch loudly instead. */
  def writeQuantileStore(df: DataFrame, srcCol: String, keyCol: String,
                         valueCol: String, k: Int, tableName: String,
                         path: String, nBuckets: Int = 4): Unit =
    StoreLease.withLease(df.sparkSession,
      StoreLease.forTable(df.sparkSession, tableName),
      "writeQuantileStore") { _ =>
      saveQuantileStore(quantileSketch(df, srcCol, keyCol, valueCol, k),
        tableName, path, nBuckets, k, keyCol, valueCol)
    }

  /** Shared write tail of store build and absorb: bucketed external
    * table + the family properties the next absorb validates. The
    * ALTER re-runs after EVERY rewrite because overwrite-mode
    * saveAsTable recreates the table and drops prior properties. */
  private def saveQuantileStore(sk: DataFrame, tableName: String,
                                path: String, nBuckets: Int, k: Int,
                                keyCol: String, valueCol: String): Unit = {
    sk.write.mode("overwrite").option("path", path)
      .bucketBy(nBuckets, "source").sortBy("source", "h")
      .format("parquet").saveAsTable(tableName)
    sk.sparkSession.sql(
      s"ALTER TABLE $tableName SET TBLPROPERTIES(" +
        s"'graft.qsk.k' = '$k', 'graft.qsk.keycol' = '$keyCol', " +
        s"'graft.qsk.valuecol' = '$valueCol')")
  }

  /** Validate a caller's (k, keyCol, valueCol) against the family the
    * store was built with — loud failure over silently biased merges.
    * ABSENT properties are also a hard error (unlike the legacy Dedup
    * stores, no pre-versioning qsk table exists to grandfather): a
    * crash between saveAsTable and the ALTER leaves exactly that
    * state, and validating vacuously against it would let the next
    * absorb merge a mismatched family — rebuild the store via
    * [[writeQuantileStore]] instead. */
  private def requireQuantileFamily(
      spark: org.apache.spark.sql.SparkSession, tableName: String,
      k: Int, keyCol: String, valueCol: String): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    def check(prop: String, caller: String, why: String): Unit =
      Bridge.tableProperty(spark, tableName, prop) match {
        case Some(stored) =>
          require(stored == caller,
            s"$tableName was built with $prop=$stored but this call " +
              s"uses $caller — $why. Pass the store's value.")
        case None => throw new IllegalStateException(
          s"$tableName has no $prop table property — the store write " +
            "was interrupted between table creation and the family " +
            "ALTER, or the table was not written by " +
            "writeQuantileStore. Rebuild it with writeQuantileStore; " +
            "absorbing into a family-less store could silently merge " +
            "mismatched sketches.")
      }
    check("graft.qsk.k", k.toString,
      "merged state would mix retention thresholds and stop equaling " +
        "the sketch of the union")
    check("graft.qsk.keycol", keyCol,
      "a different sampling key re-weights the row sample (silent " +
        "quantile bias)")
    check("graft.qsk.valuecol", valueCol,
      "the stored v column would mix measurements of different " +
        "quantities")
  }

  /** Absorb a delta corpus into a [[writeQuantileStore]] store: sketch
    * the DELTA in one pass, [[quantileSketchMerge]] with the persisted
    * state (pure sketch-space work — the accumulated corpus is never
    * re-read), and rewrite the table in place at its catalog location.
    * Merge ≡ sketch-of-union exactly, so store + absorb hash-matches
    * the from-scratch sketch (oracle m21 proves it end-to-end through
    * the parquet roundtrip, the m19 trick).
    *
    * IDEMPOTENT: merge is a distinct union under the bottom-k rule, so
    * a REPLAYED absorb of the same batch (the at-least-once
    * foreachBatch retry, an accidental double call) reproduces the
    * identical state instead of corrupting it — no anti-join guard
    * needed, the algebra itself is the guard (SketchesSpec pins
    * idempotence; the m21 oracle replays a batch end-to-end). SINGLE
    * WRITER enforced ([[graft.util.StoreLease]]): two CONCURRENT
    * absorbs race the read-merge-rewrite cycle and one's delta can be
    * lost — an overlapping writer now refuses loudly instead of
    * losing it silently. The sketch-sized merged
    * state is eagerly materialized (localCheckpoint) BEFORE the
    * overwrite so the rewrite never reads the files it replaces. */
  def absorbIntoQuantileStore(delta: DataFrame, srcCol: String,
                              keyCol: String, valueCol: String, k: Int,
                              tableName: String): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = delta.sparkSession
    requireQuantileFamily(spark, tableName, k, keyCol, valueCol)
    val nb = Bridge.bucketCount(spark, tableName)
      .getOrElse(throw new IllegalStateException(
        s"$tableName is not a bucketed table — was the store written " +
          "by writeQuantileStore?"))
    val path = Bridge.tableLocation(spark, tableName)
      .getOrElse(throw new IllegalStateException(
        s"$tableName has no storage location — was the store written " +
          "by writeQuantileStore?")).toString
    StoreLease.withLease(spark, StoreLease.forTable(spark, tableName),
      "absorbIntoQuantileStore") { _ =>
      val merged = quantileSketchMerge(spark.table(tableName),
        quantileSketch(delta, srcCol, keyCol, valueCol, k), k)
        .localCheckpoint() // ≤ sources × k rows; cuts lineage so the
      // overwrite below no longer reads the table it replaces
      saveQuantileStore(merged, tableName, path, nb, k, keyCol, valueCol)
    }
  }

  /** Shared estimate + top-k tail: join each candidate against the
    * `depth` broadcast counter tables, estimate = min over rows. Keeps
    * every candidate column (true_n for the oracle form). */
  private def estimateTopK(toks: DataFrame, candidates: DataFrame,
                           depth: Int, hexChars: Int, k: Int): DataFrame = {
    val estimated = (0 until depth).foldLeft(candidates) { (acc, i) =>
      acc.join(broadcast(cmsRow(toks, "tok", i, hexChars)),
        cmsBucket(col("tok"), i, hexChars) === col("__b")).drop("__b")
    }
    estimated
      .withColumn("est", least((0 until depth).map(i => col(s"__c$i")): _*))
      .orderBy(desc("est"), asc("tok"))
      .limit(k)
  }
}
