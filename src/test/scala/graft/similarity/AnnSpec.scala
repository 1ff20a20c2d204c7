package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity 1, orthogonal 0, opposite -1, zero-vector 0") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 0f), Array(-1f, 0f), -1.0),
      (Array(0f, 0f), Array(1f, 0f), 0.0)
    ).toDF("a", "b", "want")
    val bad = df.filter(
      abs(Ann.cosine(col("a"), col("b")) - col("want")) > 1e-9)
    bad.count() shouldBe 0L
  }

  test("brute-force top-k: self first, deterministic ties by id") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val top = Ann.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") === 0), "embedding", 5).collect()
    top.length shouldBe 5
    top(0).getLong(0) shouldBe 0L // query itself
    top(0).getDouble(1) shouldBe 1.0 +- 1e-9
    // scores non-increasing
    top.map(_.getDouble(1)).sliding(2).foreach { w =>
      w(0) should be >= w(1)
    }
  }

  test("bucketed top-k returns a subset of brute-force candidates") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", q,
      "embedding", 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bucketed = Ann.bucketedTopK(emb, "vec_id", "embedding", q,
      "embedding", 5, nBits = 4).collect()
    bucketed.foreach { r =>
      brute(r.getLong(0)) shouldBe r.getDouble(1) +- 1e-9
    }
    bucketed.map(_.getLong(0)) should contain(0L) // own bucket has self
  }

  test("near-dup pairs are symmetric-free (a<b) and above threshold") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val pairs = Ann.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.2, nBits = 4, nTables = 1).collect()
    pairs.foreach { r =>
      r.getLong(0) should be < r.getLong(1)
      r.getDouble(2) should be >= 0.2
    }
  }

  test("multi-probe near-dup recall: every planted twin pair is found") {
    // 20 deterministic sign-diverse base vectors, each with a perturbed
    // twin that keeps every sign (cos ≈ 1): all 3 probe tables bucket the
    // twins together, so recall over planted pairs must be 1.0
    val dim = 64
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(i => math.sin(seed * 131.0 + i * 17.0).toFloat)
    val rows = (0 until 20).flatMap { s =>
      val v = vec(s)
      val twin = v.map(x => x * 1.01f + (if (x >= 0) 0.001f else -0.001f))
      Seq((s.toLong * 2, v), (s.toLong * 2 + 1, twin))
    }
    val df = rows.toDF("vec_id", "embedding")
    val found = Ann.cosineNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.9, nBits = 16, nTables = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { s =>
      found should contain((s * 2L, s * 2L + 1))
    }
  }

  test("plan guard: near-dup LSH pipeline computed once — the count " +
    "branch resolves to a ReusedExchange of the pair branch") {
    // cosineNearDupPairs relies on the same optimizer-sensitive
    // count(when(__one > 0, 1)) / no-op-filter trick as
    // Dedup.pairsFromSignatures to keep both exchange subtrees
    // canonically equal; without this guard a future optimizer change
    // could silently double-compute the explode+bucket pipeline
    // (ADVICE r10). Mirrors DedupSpec's d3 ReusedExchange check.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val pairs = Ann.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.2, nBits = 16, nTables = 3)
    pairs.collect() // finalize AQE (the static string prints both branches)
    val plan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    plan should include("ReusedExchange")
    // the probe-table explode (the head of the LSH pipeline) must appear
    // exactly once; a second occurrence means the bucket-count branch
    // recomputed the pipeline instead of reusing the exchange
    "explode\\(array\\(struct\\(tbl".r
      .findAllMatchIn(plan).size shouldBe 1
  }

  test("near-dup maxBucket cap drops a degenerate bucket") {
    // 12 copies of one vector: every probe table has a single 12-wide
    // bucket; cap 5 drops it entirely (recall loss, never precision loss)
    val v = Array.tabulate(64)(i => math.cos(i * 3.0).toFloat)
    val df = (1L to 12L).map(i => (i, v)).toDF("vec_id", "embedding")
    Ann.cosineNearDupPairs(df, "vec_id", "embedding", threshold = 0.5)
      .count() shouldBe 66L // 12 choose 2, uncapped
    Ann.cosineNearDupPairs(df, "vec_id", "embedding", threshold = 0.5,
      maxBucket = 5).count() shouldBe 0L
  }

  test("ivfAssignTo map-only fold equals the window argmax on " +
    "adversarial cosines: ties, zero norms, NaN, Inf, null vectors, " +
    "plan is Exchange-free") {
    import org.apache.spark.sql.expressions.Window
    val nan = Float.NaN
    val inf = Float.PositiveInfinity
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)),           // plain: nearest = c0
      (2L, Array(0f, 1f, 0f)),           // plain: nearest = c1
      (3L, Array(1f, 1f, 0f)),           // between c0/c1
      (4L, Array(0f, 0f, 0f)),           // zero norm: cs=0 everywhere, tie
      (5L, Array(nan, 1f, 0f)),          // NaN cosine against every cell
      (6L, Array(inf, 1f, 0f)),          // Inf arithmetic
      (7L, null.asInstanceOf[Array[Float]]), // null vec (unguarded path)
      (8L, Array(-1f, 0f, 0f))           // negative cosines only
    ).toDF("vec_id", "embedding")
    // duplicate centroids (10 ≡ 11) force exact cs ties; centroid 13
    // carries a NaN component (NaN sorts GREATEST in the window order)
    val cents = Seq(
      (10L, Array(1f, 0f, 0f)), (11L, Array(1f, 0f, 0f)),
      (12L, Array(0f, 1f, 0f)), (13L, Array(nan, 0f, 1f))
    ).toDF("cid", "__ce").withColumn("__cn", Ann.l2Norm(col("__ce")))
    def reference(): Array[(Long, Long)] = {
      val scored = corpus
        .withColumn("__n", Ann.l2Norm(col("embedding")))
        .crossJoin(broadcast(cents))
        .withColumn("__cs",
          when(col("__n") === 0.0 || col("__cn") === 0.0, 0.0)
            .otherwise(Ann.dot(col("embedding"), col("__ce")) /
              (col("__n") * col("__cn"))))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(desc("__cs"), col("cid"))
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("vec_id"), col("cid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    }
    val fold = Ann.ivfAssignTo(corpus, "vec_id", "embedding", cents)
    fold.select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe reference()
    // the point of the rewrite: no Exchange anywhere in the assignment
    assert(!fold.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"))
    // empty centroid table assigns nothing (the crossJoin+Window
    // behavior)
    Ann.ivfAssignTo(corpus, "vec_id", "embedding",
      cents.filter(col("cid") < 0)).count() shouldBe 0L
  }

  test("IVF assignment rejects a centroid with a null vector or norm, " +
    "naming its cid, on both the assign and the absorb path") {
    val corpus = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val ok = (10L, Option(Array(1f, 0f)), Option(1.0))
    val nullBoth = (11L, Option.empty[Array[Float]], Option.empty[Double])
    val nullNorm = (12L, Option(Array(0f, 1f)), Option.empty[Double])
    for ((bad, cid) <- Seq(nullBoth -> 11L, nullNorm -> 12L)) {
      val cents = Seq(ok, bad).toDF("cid", "__ce", "__cn")
      val e = intercept[IllegalArgumentException] {
        Ann.ivfAssignTo(corpus, "vec_id", "embedding", cents)
      }
      e.getMessage should include(s"cid=$cid")
    }
    // absorb collects the persisted centroid table itself: a null row
    // there was a driver NPE in the dimension guard
    val path = "/tmp/graft_test_sinks/ann_null_centroid"
    Seq(ok, nullBoth).toDF("cid", "__ce", "__cn")
      .write.mode("overwrite").parquet(s"$path/centroids")
    val e = intercept[IllegalArgumentException] {
      Ann.absorbIvfIndex(spark, path, corpus, "vec_id", "embedding")
    }
    e.getMessage should include("cid=11")
  }

  test("IVF assignment: a -0.0 cosine ties +0.0, so the smaller cid " +
    "wins") {
    // a caller-supplied negative norm turns an orthogonal centroid's
    // +0.0 dot into a -0.0 cosine; the array_max struct order must
    // treat it as equal to +0.0 (the window order's behavior) so the
    // positional tiebreak, not the sign bit, picks the cell
    val corpus = Seq((1L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val cents = Seq(
      (10L, Array(0f, 1f, 0f), -1.0),    // cosine -0.0
      (11L, Array(0f, 0f, 1f), 1.0)      // cosine +0.0
    ).toDF("cid", "__ce", "__cn")
    Ann.ivfAssignTo(corpus, "vec_id", "embedding", cents)
      .select("cid").as[Long].collect() shouldBe Array(10L)
  }

  test("IVF: probes restrict search, self always found, subset of brute") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
    val ivf = Ann.ivfTopK(emb, "vec_id", "embedding", q, "embedding",
      k = 10, nCentroids = 8, nProbe = 2).collect()
    ivf.length shouldBe 10
    ivf.head.getLong(0) shouldBe 0L // query assigned to its own cell
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", q,
      "embedding", 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf.foreach(r => brute(r.getLong(0)) shouldBe r.getDouble(1) +- 1e-9)
    // assignment is total: every vector lands in exactly one cell
    val assigned = Ann.ivfAssign(emb, "vec_id", "embedding", 8)
    assigned.count() shouldBe emb.count()
    assigned.select("cid").distinct().count() should be <= 8L
  }

  test("persisted IVF index: results equal the recompute path, and the " +
    "probe query reads ONLY the probed cell directories") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
    val path = "/tmp/graft_sinks/spec/ivfindex"
    Ann.writeIvfIndex(emb, "vec_id", "embedding", nCentroids = 8, path)
    val fromIndex = Ann.ivfTopKFromIndex(spark, path, "vec_id",
      "embedding", q, "embedding", k = 10, nProbe = 2)
    val recompute = Ann.ivfTopK(emb, "vec_id", "embedding", q,
      "embedding", k = 10, nCentroids = 8, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    fromIndex.collect().map(r => (r.getLong(0), r.getDouble(1))) shouldBe
      recompute
    // planning-time pruning: the cells scan selects exactly the nProbe
    // probed cid=… directories (literal IN filter, the k7 property)
    val scan = fromIndex.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("cells")) => f
    }.get
    scan.selectedPartitions.partitionCount shouldBe 2
    fromIndex.queryExecution.sparkPlan.toString should
      include("PartitionFilters")
  }

  test("incremental IVF: absorb against pinned centroids equals the " +
    "from-scratch assignment; a replayed batch and an empty batch are " +
    "no-ops; a different-dimension batch is refused before any write") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = "/tmp/graft_sinks/spec/ivfinc"
    val init = emb.filter(col("vec_id") >= 100)
    Ann.writeIvfIndex(init, "vec_id", "embedding", nCentroids = 8, path)
    val batch = emb.filter(col("vec_id") < 100)
    Ann.absorbIvfIndex(spark, path, batch, "vec_id", "embedding")
    def cells = spark.read.parquet(s"$path/cells")
    val total = emb.count()
    cells.count() shouldBe total
    // replay (at-least-once retry): self-healing no-op
    Ann.absorbIvfIndex(spark, path, batch, "vec_id", "embedding")
    cells.count() shouldBe total
    // empty batch: a no-op, not an error
    Ann.absorbIvfIndex(spark, path, emb.filter(col("vec_id") < 0),
      "vec_id", "embedding")
    cells.count() shouldBe total
    // incremental index ≡ assigning the WHOLE corpus to the pinned
    // centroids in one pass (cid rides back as a partition directory —
    // cast for the compare)
    val cent = spark.read.parquet(s"$path/centroids")
    val got = cells.select(col("vec_id"), col("cid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = Ann.ivfAssignTo(emb, "vec_id", "embedding",
        broadcast(cent)).select(col("vec_id"), col("cid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    got shouldBe want
    // family guard: an 8-dim batch against a 64-dim index is refused
    // loudly and writes nothing
    def refused(batch: org.apache.spark.sql.DataFrame): Unit = {
      val ex = intercept[Exception] {
        Ann.absorbIvfIndex(spark, path, batch, "vec_id", "embedding")
      }
      Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage)
          .exists(_.contains("dimension mismatch"))) shouldBe true
      cells.count() shouldBe total
    }
    refused(emb.limit(3)
      .select((col("vec_id") + 10000L).as("vec_id"),
        slice(col("embedding"), 1, 8).as("embedding")))
    // a MIXED batch — one good row, one bad — must refuse whole, not
    // half-absorb (a sampled-row check would pass on the good row and
    // silently assign the bad row's null cosines to the lowest cid)
    refused(emb.limit(1)
      .select((col("vec_id") + 20000L).as("vec_id"), col("embedding"))
      .union(emb.limit(1)
        .select((col("vec_id") + 30000L).as("vec_id"),
          slice(col("embedding"), 1, 8).as("embedding"))))
    // same for a null vector hiding behind good rows
    refused(emb.limit(1)
      .select((col("vec_id") + 40000L).as("vec_id"), col("embedding"))
      .union(emb.limit(1)
        .select((col("vec_id") + 50000L).as("vec_id"),
          lit(null).cast("array<float>").as("embedding"))))
  }

  test("every top-k entry point refuses a multi-row query frame loudly " +
    "(raise-don't-garble: one global top-k over several query rows " +
    "would silently mix their cosines)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q2 = emb.filter(col("vec_id") < 2).select("embedding")
    val cb = emb.filter(col("vec_id") < 64)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val path = "/tmp/graft_sinks/spec/multiq_idx"
    Ann.writeIvfIndex(emb, "vec_id", "embedding", nCentroids = 8, path)
    val calls: Seq[(String, () => Any)] = Seq(
      ("bruteForceTopK", () => Ann.bruteForceTopK(
        emb, "vec_id", "embedding", q2, "embedding", 5)),
      ("bucketedTopK", () => Ann.bucketedTopK(
        emb, "vec_id", "embedding", q2, "embedding", 5)),
      ("quantizedTopK", () => Ann.quantizedTopK(
        emb, "vec_id", "embedding", q2, "embedding", 5)),
      ("quantizedRerankTopK", () => Ann.quantizedRerankTopK(
        emb, "vec_id", "embedding", q2, "embedding", 5)),
      ("ivfTopK", () => Ann.ivfTopK(
        emb, "vec_id", "embedding", q2, "embedding", 5)),
      ("ivfTopKFromIndex", () => Ann.ivfTopKFromIndex(
        spark, path, "vec_id", "embedding", q2, "embedding", 5)),
      ("pqTopK", () => Ann.pqTopK(emb, "vec_id", "embedding",
        cb, "cid", "ce", q2, "embedding", m = 4, subDim = 16, k = 5)),
      ("jlTopK", () => Ann.jlTopK(emb, "vec_id", "embedding",
        q2, "embedding", inDim = 64, outDim = 16, candidates = 50,
        k = 5)))
    calls.foreach { case (name, f) =>
      withClue(name) {
        val ex = intercept[IllegalArgumentException](f())
        ex.getMessage should include("exactly ONE row")
        // the refusal must name the entry point the caller invoked —
        // quantizedRerankTopK once reported its inner quantizedTopK
        ex.getMessage should include(name)
      }
    }
  }

  test("batch per-query top-k equals the single-vector serving call " +
    "per query; duplicate qids and colliding column roles refuse; the " +
    "per-query cut plans a map-side WindowGroupLimit") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = "/tmp/graft_sinks/spec/ivfbatch"
    Ann.writeIvfIndex(emb, "vec_id", "embedding", nCentroids = 8, path)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding"))
    val batch = Ann.ivfTopKPerQuery(spark, path, "vec_id", "embedding",
      qs, "qid", "embedding", k = 5, nProbe = 2)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = (0L until 3L).flatMap { q =>
      Ann.ivfTopKFromIndex(spark, path, "vec_id", "embedding",
          emb.filter(col("vec_id") === q).select("embedding"),
          "embedding", k = 5, nProbe = 2)
        .collect().map(r => (q, r.getLong(0), r.getDouble(1)))
    }.toSet
    got shouldBe want
    // rank <= k per query prunes map-side before the window shuffle
    batch.queryExecution.executedPlan.toString should
      include("WindowGroupLimit")
    val dup = intercept[IllegalArgumentException] {
      Ann.ivfTopKPerQuery(spark, path, "vec_id", "embedding",
        qs.union(qs.limit(1)), "qid", "embedding", k = 5)
    }
    dup.getMessage should include("duplicate qid")
    val collide = intercept[IllegalArgumentException] {
      Ann.ivfTopKPerQuery(spark, path, "vec_id", "embedding",
        emb.limit(2), "vec_id", "embedding", k = 5)
    }
    collide.getMessage should include("one column per role")
    // a wrong-dimension query vector hiding in the batch refuses
    // loudly instead of silently probing/ranking by null cosines —
    // and the single-vector index call refuses the same way
    def dimRefused(f: => Unit): Unit = {
      val ex = intercept[Exception](f)
      Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage)
          .exists(_.contains("dimension mismatch"))) shouldBe true
    }
    val mixedQs = qs.union(emb.limit(1)
      .select((col("vec_id") + 100L).as("qid"),
        slice(col("embedding"), 1, 8).as("embedding")))
    dimRefused(Ann.ivfTopKPerQuery(spark, path, "vec_id", "embedding",
      mixedQs, "qid", "embedding", k = 5).collect())
    dimRefused(Ann.ivfTopKFromIndex(spark, path, "vec_id", "embedding",
      emb.limit(1).select(slice(col("embedding"), 1, 8).as("embedding")),
      "embedding", k = 5).collect())
  }

  test("cell stats cover every centroid (dead cells at 0) and match a " +
    "direct recount; compaction collapses absorb-created files without " +
    "changing rows or query results; a crashed swap self-heals") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = "/tmp/graft_sinks/spec/ivfcompact"
    Ann.writeIvfIndex(emb.filter(col("vec_id") >= 100),
      "vec_id", "embedding", nCentroids = 8, path)
    Seq((0L, 40L), (40L, 80L), (80L, 100L)).foreach { case (lo, hi) =>
      Ann.absorbIvfIndex(spark, path,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi),
        "vec_id", "embedding")
    }
    val stats = Ann.ivfCellStats(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    stats.size shouldBe 8
    stats.values.sum shouldBe emb.count()
    def cells = spark.read.parquet(s"$path/cells")
    val direct = cells.groupBy(col("cid").cast("long").as("cid"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    stats.filter(_._2 > 0L) shouldBe direct
    def filesPerCid: Map[Long, Int] = stats.keys.map { cid =>
      val d = new java.io.File(s"$path/cells/cid=$cid")
      cid -> (if (d.isDirectory)
        d.listFiles().count(_.getName.endsWith(".parquet")) else 0)
    }.toMap
    // the initial build + three absorbs left multi-file cells behind
    filesPerCid.values.max should be > 1
    val rowsBefore = cells.select(col("vec_id"), col("cid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val query = emb.filter(col("vec_id") === 0).select("embedding")
    val servedBefore = Ann.ivfTopKFromIndex(spark, path, "vec_id",
        "embedding", query, "embedding", k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Ann.compactIvfIndex(spark, path, "vec_id")
    filesPerCid.values.toSet shouldBe Set(1) // exactly one file per cell
    cells.select(col("vec_id"), col("cid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted shouldBe rowsBefore
    Ann.ivfTopKFromIndex(spark, path, "vec_id", "embedding", query,
        "embedding", k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq shouldBe servedBefore
    new java.io.File(s"$path/cells__precompact").exists() shouldBe false
    new java.io.File(s"$path/cells__compacting").exists() shouldBe false
    // filesPerCell splits large cells, never exceeds the cap
    Ann.compactIvfIndex(spark, path, "vec_id", filesPerCell = 2)
    all(filesPerCid.values) should be <= 2
    filesPerCid.values.max shouldBe 2 // some cell is big enough to split
    // crash window: live table renamed to backup, new table not yet in
    // place — the next call must restore the backup and then compact
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/cells"),
      new org.apache.hadoop.fs.Path(s"$path/cells__precompact")) shouldBe
      true
    Ann.compactIvfIndex(spark, path, "vec_id")
    filesPerCid.values.toSet shouldBe Set(1)
    cells.select(col("vec_id"), col("cid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted shouldBe rowsBefore
    // the SAME crash window healed by a SERVING verb (not only the
    // next compaction): stats and top-k read through openCells, which
    // restores the backup before reading
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/cells"),
      new org.apache.hadoop.fs.Path(s"$path/cells__precompact")) shouldBe
      true
    Ann.ivfCellStats(spark, path).agg(sum("n_vectors")).collect()
      .head.getLong(0) shouldBe emb.count()
    new java.io.File(s"$path/cells").exists() shouldBe true
    new java.io.File(s"$path/cells__precompact").exists() shouldBe false
    Ann.ivfTopKFromIndex(spark, path, "vec_id", "embedding", query,
        "embedding", k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq shouldBe servedBefore
    // a wrong idCol (or the partition column) refuses compaction loudly
    val badCol = intercept[IllegalArgumentException] {
      Ann.compactIvfIndex(spark, path, "no_such_col")
    }
    badCol.getMessage should include("idCol 'no_such_col'")
    intercept[IllegalArgumentException] {
      Ann.compactIvfIndex(spark, path, "cid")
    }
    // the crash window healed by the WRITE-ONLY path: an unhealed
    // non-idempotent absorb would CREATE a fresh live table holding
    // only the batch and silently shadow the backup forever
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/cells"),
      new org.apache.hadoop.fs.Path(s"$path/cells__precompact")) shouldBe
      true
    Ann.absorbIvfIndex(spark, path,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .withColumn("vec_id", col("vec_id") + 100000L),
      "vec_id", "embedding", idempotent = false)
    new java.io.File(s"$path/cells__precompact").exists() shouldBe false
    spark.read.parquet(s"$path/cells").count() shouldBe emb.count() + 10
    // dead cells: duplicate centroid vectors tie-break to the lower
    // cid, leaving the higher cid's cell empty — stats must still show
    // it, at 0 (a groupBy of the cells alone would omit the row)
    val dupPath = "/tmp/graft_sinks/spec/ivfdead"
    val dup = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.8f, 0.2f))
    ).toDF("vec_id", "embedding")
    Ann.writeIvfIndex(dup, "vec_id", "embedding", nCentroids = 2, dupPath)
    val dead = Ann.ivfCellStats(spark, dupPath).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    dead shouldBe Map(0L -> 4L, 1L -> 0L)
  }

  test("quantized rerank: equals brute force when candidates cover the " +
    "corpus; subset of its scores otherwise") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
    val n = emb.count().toInt
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", q,
      "embedding", 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    // candidate set = whole corpus → rerank IS brute force, bit for bit
    val full = Ann.quantizedRerankTopK(emb, "vec_id", "embedding", q,
      "embedding", 10, candidates = n).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    full.toSeq shouldBe brute.toSeq
    // narrow prefilter: scores must still be true cosine values
    val all = Ann.bruteForceTopK(emb, "vec_id", "embedding", q,
      "embedding", n).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Ann.quantizedRerankTopK(emb, "vec_id", "embedding", q, "embedding",
      10, candidates = 25).collect().foreach { r =>
      all(r.getLong(0)) shouldBe r.getDouble(1) +- 1e-9
    }
  }

  test("int8 quantization: values in [-127,127], integral, zero-safe") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .union(Seq((-1L, Array.fill(64)(0f), 0)).toDF(
        "vec_id", "embedding", "label")) // all-zero vector: no div-by-0
    val q = Ann.quantizeInt8(emb, "embedding", "q")
    val bad = q.select(explode(col("q")).as("x"))
      .filter(abs(col("x")) > 127.0 || col("x") =!= floor(col("x")))
    bad.count() shouldBe 0L
    // max-abs element always maps to ±127 (scale is per-vector)
    val noMax = q.filter(
      org.apache.spark.sql.functions.size(col("embedding")) > 0 &&
      array_max(transform(col("embedding"),
        x => abs(x.cast("double")))) > 0.0)
      .filter(array_max(transform(col("q"), x => abs(x))) =!= 127.0)
    noMax.count() shouldBe 0L
  }

  test("quantized top-k: self first with exact integer dot of ±127 scale") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val top = Ann.quantizedTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") === 0), "embedding", 5).collect()
    top.length shouldBe 5
    top.head.getLong(0) shouldBe 0L // self-dot is the max
    // qdot non-increasing, long-typed (exact integer math)
    top.map(_.getLong(1)).sliding(2).foreach(w => w(0) should be >= w(1))
    // quantized ranking agrees with full-precision on the easy top-1
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") === 0), "embedding", 1).collect()
    brute.head.getLong(0) shouldBe top.head.getLong(0)
  }

  test("semDedup: within-cluster greedy min-id keep, cross-cluster " +
    "twins survive, maxCluster cap disables the pair search") {
    // centroids = two lowest ids: id 0 → x-axis, id 1 → y-axis.
    // ids 2,3 huddle around x (mutually ≥ .99 cosine with 0) → both
    // drop to keeper 0; id 4 leans y but only ~.5 cosine to id 1 → kept
    val d = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0.95f, 0.05f, 0f, 0f)),
      (4L, Array(0.3f, 0.5f, 0.8f, 0f))
    ).toDF("vec_id", "embedding")
    val kept = Ann.semDedup(d, "vec_id", "embedding",
      nCentroids = 2, threshold = 0.9)
      .orderBy("vec_id").as[(Long, Long)].collect()
    kept.map(_._1) shouldBe Array(0L, 1L, 4L)
    kept.toMap shouldBe Map(0L -> 0L, 1L -> 1L, 4L -> 1L)
    // a SAME vector in the OTHER cluster is untouched — dedup is
    // within-cluster by design (the paper's clusters localize the search)
    // maxCluster below every cluster size → no pairs → everything kept,
    // and the cap counts BOTH skipped clusters with their combined
    // membership
    import graft.util.Metrics
    val capped = Ann.semDedup(d, "vec_id", "embedding", nCentroids = 2,
      threshold = 0.9, maxCluster = 1)
    capped.collect().length shouldBe 5
    // the x-cluster (0,2,3) and the y-cluster (1,4)
    Metrics.drops(capped) shouldBe ((2L, 5L))
    // an uncapped run loses nothing
    val open = Ann.semDedup(d, "vec_id", "embedding", nCentroids = 2,
      threshold = 0.9)
    open.collect().length shouldBe 3
    Metrics.drops(open) shouldBe ((0L, 0L))
  }

  test("semanticDecontaminate: drops vectors near ANY benchmark vector, " +
    "keeps orthogonal ones; corpus side never shuffles (anti NL join)") {
    import spark.implicits._
    val bench = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),
      (101L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (0L, Array(0.99f, 0.1f, 0f, 0f)),  // ~x → contaminated
      (1L, Array(0.1f, 0.99f, 0f, 0f)),  // ~y → contaminated
      (2L, Array(0f, 0f, 1f, 0f)),       // orthogonal → clean
      (3L, Array(0.5f, 0.5f, 0.7f, 0f))  // cos ~.5 to both → clean at .9
    ).toDF("vec_id", "embedding")
    val kept = Ann.semanticDecontaminate(corpus, "vec_id", "embedding",
      bench, "embedding", threshold = 0.9)
      .orderBy("vec_id").collect().map(_.getLong(0))
    kept shouldBe Array(2L, 3L)
    val plan = Ann.semanticDecontaminate(corpus, "vec_id", "embedding",
      bench, "embedding", threshold = 0.9)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastNestedLoopJoin")
    plan should include("LeftAnti")
  }

  test("PQ: a codebook vector encodes to itself with est_d2 = its ADC " +
    "distance; self query ranks first; LUT join broadcasts") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cb = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val q = emb.filter(col("vec_id") === 3L)
      .select(col("embedding").as("qe"))
    val top = Ann.pqTopK(emb, "vec_id", "embedding", cb, "cid", "ce",
      q, "qe", m = 4, subDim = 16, k = 10)
    val rows = top.collect()
    rows.length shouldBe 10
    // vec 3 IS codebook entry 3: every sub-space encodes to code 3 with
    // sub-d2 = 0, so est_d2 = 0 exactly and it ranks first
    val first = rows.head
    first.getLong(0) shouldBe 3L
    (1 to 4).foreach(i => first.getLong(i) shouldBe 3L)
    first.getDouble(5) shouldBe 0.0
    // ADC is an approximation: ranks are monotone in est_d2
    rows.map(_.getDouble(5)).toSeq shouldBe
      rows.map(_.getDouble(5)).sorted.toSeq
    val plan = top.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should include("TakeOrderedAndProject")
  }

  test("PQ training: per-sub-space Lloyd starts at the fixed codebook " +
    "and strictly reduces total quantization error") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val fixed = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val trained = Ann.pqTrain(emb, "vec_id", "embedding",
      m = 4, subDim = 16, ncodes = 16, iters = 3)
    trained.count() shouldBe 16L
    trained.select(org.apache.spark.sql.functions.size(col("ce")))
      .distinct().collect().map(_.getInt(0)).toSeq shouldBe Seq(64)
    // total quantization error Σ_v Σ_j min_c ‖v_j − c_j‖², on the driver
    def vecs(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c).cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
    val corpus = vecs(emb, "embedding")
    def quantError(codebook: org.apache.spark.sql.DataFrame): Double = {
      val cents = vecs(codebook, "ce")
      corpus.map { v =>
        (0 until 4).map { j =>
          cents.map(c => (j * 16 until (j + 1) * 16)
            .map(i => (v(i) - c(i)) * (v(i) - c(i))).sum).min
        }.sum
      }.sum
    }
    quantError(trained) should be < quantError(fixed) // Lloyd monotone
  }

  test("JL projection: a one-hot input reads out exactly its scaled " +
    "sign-matrix row (deterministic md5 signs, exact 2^-m scale)") {
    import spark.implicits._
    def sign(seed: String, j: Int, k: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j:$k".getBytes("UTF-8"))
      if ((d(15) & 1) == 1) 1.0 else -1.0
    }
    val oneHot = Array.fill(64)(0.0f).updated(5, 1.0f)
    val df = Seq((1L, oneHot.toSeq)).toDF("vec_id", "embedding")
    val got = Ann.jlProject(df, "vec_id", "embedding",
        inDim = 64, outDim = 16)
      .select("proj").as[Seq[Double]].head()
    got shouldBe (0 until 16).map(k => 0.25 * sign("jl", 5, k))
    // outDim that is a power of two but NOT of four → inexact scale →
    // refused (the oracle bit-parity contract)
    intercept[IllegalArgumentException] {
      Ann.jlProject(df, "vec_id", "embedding", inDim = 64, outDim = 8)
    }
    // a vector whose length does not match inDim fails LOUD at runtime
    // (DotProduct would otherwise null out silently → arbitrary top-k)
    val err = intercept[Exception] {
      Ann.jlProject(df, "vec_id", "embedding", inDim = 32, outDim = 16)
        .collect()
    }
    err.getMessage should include("expected 32-dim")
  }

  test("JL lemma holds empirically: 64->16 sign projection preserves " +
    "pairwise cosine within a bounded distortion on the fixture") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 60)
    val p = Ann.jlProject(emb, "vec_id", "embedding", 64, 16)
    val exact = emb.select(col("vec_id").as("ida"),
        col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("idb"),
        col("embedding").as("eb")))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        Ann.cosine(col("ea"), col("eb")).as("c_exact"))
    val proj = p.select(col("vec_id").as("ida"), col("proj").as("pa"))
      .crossJoin(p.select(col("vec_id").as("idb"), col("proj").as("pb")))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        Ann.cosine(col("pa"), col("pb")).as("c_proj"))
    val err = exact.join(proj, Seq("ida", "idb"))
      .agg(avg(abs(col("c_exact") - col("c_proj"))).as("mae"))
      .head()
    // sign-projection distortion ~ 1/sqrt(outDim) = 0.25; measured
    // 0.19 on this fixture (deterministic seed, so stable)
    err.getDouble(0) should be < 0.25
  }

  test("JL coarse-to-fine top-k: recall rises monotonically with the " +
    "candidate width (the documented repair knob), reaches 10/10 well " +
    "below the corpus size, and candidates = n degrades to exact " +
    "brute force by construction; the plan is TakeOrdered") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding",
        q.select(col("embedding")), "embedding", 10)
      .collect().map(_.getLong(0)).toSet
    def recall(c: Int): Int = {
      val got = Ann.jlTopK(emb, "vec_id", "embedding", q, "embedding",
          inDim = 64, outDim = 16, candidates = c, k = 10)
        .collect().map(_.getLong(0)).toSet
      (got & exact).size
    }
    val curve = Seq(100, 200, 400).map(recall)
    curve shouldBe curve.sorted // widening never hurts
    curve.last shouldBe 10     // full recall at 400 of 500 (measured)
    recall(500) shouldBe 10    // candidates = n ⇒ exact by construction
    val plan = Ann.jlTopK(emb, "vec_id", "embedding", q, "embedding",
        64, 16, 200, 10).queryExecution.executedPlan.toString
    plan should include("TakeOrderedAndProject")
    // a multi-row query frame is refused LOUD: the crossJoin would mix
    // all queries' cosines into one global (meaningless) top-k
    val twoQ = emb.filter(col("vec_id") < 2)
    val e = intercept[IllegalArgumentException] {
      Ann.jlTopK(emb, "vec_id", "embedding", twoQ, "embedding",
        64, 16, 200, 10)
    }
    e.getMessage should include("exactly ONE row")
  }

  test("PQ codes are query-independent: two different queries produce " +
    "identical code columns for every vector") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cb = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    def codes(qid: Long) = Ann.pqTopK(emb, "vec_id", "embedding",
        cb, "cid", "ce",
        emb.filter(col("vec_id") === qid).select(col("embedding").as("qe")),
        "qe", m = 4, subDim = 16, k = 2000)
      .select("vec_id", "code0", "code1", "code2", "code3")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    codes(0L) shouldBe codes(7L)
  }
}
