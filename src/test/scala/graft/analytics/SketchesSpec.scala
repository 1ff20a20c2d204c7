package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("CMS estimate is one-sided: est >= true count for every token") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val distinct = docs
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "").distinct().count()
    val top = Sketches.cmsTopK(docs, "text", depth = 4, hexChars = 3,
      k = 50).collect()
    top.length shouldBe math.min(50L, distinct) // synthetic vocab is small
    top.foreach { r =>
      r.getLong(1) should be >= r.getLong(2) // est >= true_n
    }
  }

  test("CMS top-1 matches the exact top-1 on a skewed stream") {
    // one token ('hot') dominates — the sketch cannot miss it: its
    // counters are >= its true count and every other token's estimate
    // is bounded by bucket mass << hot's count at this width
    val docs = (1 to 400).map(i => s"hot tail$i").toDF("text")
    val top = Sketches.cmsTopK(docs, "text", depth = 4, hexChars = 3,
      k = 1).collect()
    top.head.getString(0) shouldBe "hot"
    top.head.getLong(2) shouldBe 400L // exact count rides along
  }

  test("sketch row output is bounded by the width") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val toks = docs.select(
      explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val row = Sketches.cmsRow(toks, "tok", 0, hexChars = 2)
    row.count() should be <= 256L // 16^2 counters max
    // counter mass conservation: the sketch row sums to the stream size
    row.agg(sum("__c0")).first().getLong(0) shouldBe toks.count()
  }

  test("sketch of a union == elementwise sum of shard sketches (merge)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val toks = docs.select(
      explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val Array(a, b) = toks.randomSplit(Array(0.5, 0.5), seed = 42)
    val whole = Sketches.cmsRow(toks, "tok", 1, hexChars = 2)
      .orderBy("__b").collect().map(r => (r.getString(0), r.getLong(1)))
    // the merge: counters add per bucket
    val merged = Sketches.cmsRow(a, "tok", 1, hexChars = 2)
      .unionByName(Sketches.cmsRow(b, "tok", 1, hexChars = 2))
      .groupBy("__b").agg(sum(col("__c1")).as("__c1"))
      .orderBy("__b").collect().map(r => (r.getString(0), r.getLong(1)))
    merged shouldBe whole
  }

  test("approx variant finds the exact top-k on a heavy-tailed stream") {
    // 10 hot tokens with counts 4000..400 over a 2000-token unique tail:
    // every hot token's count is far above N/(capacity+1), so each
    // survives some partition's Misra-Gries summary, and CMS ordering
    // keeps them ahead of the tail at this width
    val rows = (0 until 10).flatMap(h =>
      Seq.fill(4000 - 360 * h)(s"hot$h")) ++
      (1 to 2000).map(i => s"tail$i")
    val docs = rows.toDF("text").repartition(8)
    val approx = Sketches.cmsTopKApprox(docs, "text", depth = 4,
      hexChars = 3, k = 10, capacity = 256).collect()
    approx.map(_.getString(0)).sorted shouldBe
      (0 until 10).map(h => s"hot$h")
    // one-sided estimates: each hot token's est >= its true count
    val trueN = (0 until 10).map(h => s"hot$h" -> (4000 - 360 * h)).toMap
    approx.foreach(r =>
      r.getLong(1) should be >= trueN(r.getString(0)).toLong)
  }

  test("local heavy hitters are bounded by partitions x capacity and " +
    "retain every token above the Misra-Gries threshold") {
    val toks = ((1 to 500).map(_ => "alpha") ++ (1 to 300).map(_ => "beta")
      ++ (1 to 900).map(i => s"u$i")).toDF("tok").repartition(4)
    val out = Sketches.localHeavyHitters(toks, "tok", capacity = 64)
    out.count() should be <= 4L * 64L
    // alpha and beta dominate N/(capacity+1) in every split
    val kept = out.distinct().collect().map(_.getString(0)).toSet
    kept should contain allOf ("alpha", "beta")
  }

  test("estimate joins are broadcasts (counter tables never shuffle)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val plan = Sketches.cmsTopK(docs, "text")
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("HLL registers: exactly m rows, empty registers at rho 0") {
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .select(col("event_id"))
    val regs = Sketches.hllRegisters(ev, "event_id", hexChars = 2)
    regs.count() shouldBe 256L
    regs.agg(min("rho")).first().getInt(0) should be >= 0
    // a single-value stream fills exactly one register
    val one = Sketches.hllRegisters(
      Seq("x").toDF("v"), "v", hexChars = 2)
    one.filter(col("rho") > 0).count() shouldBe 1L
  }

  test("HLL merge: sketch of a union == elementwise max of shards") {
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .select(col("event_id"))
    val Array(a, b) = ev.randomSplit(Array(0.5, 0.5), seed = 7)
    val whole = Sketches.hllRegisters(ev, "event_id")
      .orderBy("reg").collect().map(r => (r.getString(0), r.getInt(1)))
    val merged = Sketches.hllRegisters(a, "event_id")
      .unionByName(Sketches.hllRegisters(b, "event_id"))
      .groupBy("reg").agg(max("rho").as("rho"))
      .orderBy("reg").collect().map(r => (r.getString(0), r.getInt(1)))
    merged shouldBe whole
  }

  test("HLL estimate lands within 20% of the exact distinct count") {
    // event_id is unique, so true n = row count (1500 at sf0.001) — well
    // past the 2.5m linear-counting zone for m=256; the standard error
    // at m=256 is 1.04/sqrt(256) = 6.5%
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
    val n = ev.count().toDouble
    val est = Sketches.hllSummary(ev, "event_id", hexChars = 2)
      .first().getAs[Double]("est_distinct")
    math.abs(est - n) / n should be < 0.20
  }

  test("HLL register build shuffles counters, not values") {
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
    val plan = Sketches.hllSummary(ev, "event_id")
      .queryExecution.executedPlan.toString
    // the only wide exchange is the register groupBy (<= m rows per
    // task after partial agg); the domain join must broadcast
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("KMV sketch: at most k rows per source, the k SMALLEST hashes, " +
    "and the rank filter compiles to WindowGroupLimit (map-side prune)") {
    val items = (1 to 500).map(i => ("a", s"item$i")) ++
      (1 to 50).map(i => ("b", s"item$i"))
    val df = items.toDF("source", "sh")
    val sk = Sketches.kmvSketch(df, "source", "sh", k = 64)
    sk.queryExecution.executedPlan.toString should
      include("WindowGroupLimit")
    val bySrc = sk.collect().groupBy(_.getString(0))
    bySrc("a").length shouldBe 64
    bySrc("b").length shouldBe 50 // partial sketch = the whole set
    // k smallest: every retained hash <= every excluded hash
    val allA = df.filter(col("source") === "a")
      .select(Sketches.kmvHash(col("sh"))).collect().map(_.getLong(0))
    val keptA = bySrc("a").map(_.getLong(1)).toSet
    allA.sorted.take(64).toSet shouldBe keptA
  }

  test("KMV merge: sketch of a union == k smallest of concatenated " +
    "shard sketches (shards combine without re-reading either corpus)") {
    val a = (1 to 300).map(i => ("s", s"x$i")).toDF("source", "sh")
    val b = (200 to 500).map(i => ("s", s"x$i")).toDF("source", "sh")
    val whole = Sketches.kmvSketch(a.union(b), "source", "sh", k = 32)
      .collect().map(_.getLong(1)).sorted
    // merge = distinct + k smallest over the CONCATENATED (source, h)
    // sketch rows — pure sketch-space work, no corpus re-read (this
    // identity is what lets the m19 store absorb crawls losslessly)
    val merged = Sketches.kmvMerge(
        Sketches.kmvSketch(a, "source", "sh", k = 32),
        Sketches.kmvSketch(b, "source", "sh", k = 32), k = 32)
      .collect().map(_.getLong(1)).sorted
    merged shouldBe whole
  }

  test("KMV overlap of a single source is an empty frame with the full " +
    "report schema (no pairs, no crash)") {
    val one = (1 to 50).map(i => ("solo", s"x$i")).toDF("source", "sh")
    val r = Sketches.kmvOverlap(
      Sketches.kmvSketch(one, "source", "sh", k = 16), k = 16)
    r.count() shouldBe 0L
    r.columns.toSeq shouldBe Seq("src_a", "src_b", "n_a", "n_b",
      "theta", "n_inter", "n_union", "est_a", "est_b", "est_inter",
      "est_union", "jaccard")
  }

  test("KMV overlap: exact on partial sketches, estimates within the " +
    "theory bound on full ones, Jaccard consistent with truth") {
    // two sources, 1000 items each, 500 shared -> true J = 1/3
    val items = ((1 to 1000).map(i => ("a", s"common$i")) ++
      (501 to 1500).map(i => ("b", s"common$i"))).toDF("source", "sh")
    val k = 256
    val sk = Sketches.kmvSketch(items, "source", "sh", k)
    val r = Sketches.kmvOverlap(sk, k).collect().head
    val estA = r.getAs[Double]("est_a")
    val estInter = r.getAs[Double]("est_inter")
    val jac = r.getAs[Double]("jaccard")
    // KMV standard error ~ 1/sqrt(k-1) ~ 6.3%; allow 4 sigma
    math.abs(estA - 1000.0) / 1000.0 should be < 0.25
    math.abs(estInter - 500.0) / 500.0 should be < 0.30
    math.abs(jac - 1.0 / 3.0) / (1.0 / 3.0) should be < 0.30
    // partial-sketch path: tiny sources are counted EXACTLY
    val tiny = ((1 to 10).map(i => ("a", s"t$i")) ++
      (6 to 15).map(i => ("b", s"t$i"))).toDF("source", "sh")
    val tr = Sketches.kmvOverlap(
      Sketches.kmvSketch(tiny, "source", "sh", k), k).collect().head
    tr.getAs[Double]("est_a") shouldBe 10.0
    tr.getAs[Long]("n_inter") shouldBe 5L
    tr.getAs[Double]("jaccard") shouldBe (5.0 / 15.0)
  }
  test("quantile sketch: at most k rows per source, the k hash-SMALLEST " +
    "rows with values riding along, nulls excluded, and the sketch " +
    "plan pre-prunes map-side (WindowGroupLimit)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val sk = Sketches.quantileSketch(docs, "source", "doc_id",
      "n_chars", k = 32)
    val got = sk.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    got.groupBy(_._1).foreach { case (_, rows) =>
      rows.length should be <= 32
    }
    // per source, the retained hashes are exactly the 32 smallest
    val all = docs.select(col("source"),
        Sketches.kmvHash(col("doc_id")).as("h"),
        col("n_chars").cast("double").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    all.groupBy(_._1).foreach { case (src, rows) =>
      val expect = rows.sortBy(r => (r._2, r._3)).take(32).toSet
      got.filter(_._1 == src).toSet shouldBe expect
    }
    sk.queryExecution.executedPlan.toString should
      include("WindowGroupLimit")
  }

  test("quantile sketch merge ≡ sketch-of-union, is ASSOCIATIVE, and " +
    "is idempotent — the deterministic-compaction contract that makes " +
    "the sketch order-independent (the KLL/t-digest adjudication)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val k = 32
    def sk(lo: Long, hi: Long) = Sketches.quantileSketch(
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
      "source", "doc_id", "n_chars", k)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val whole = rows(Sketches.quantileSketch(docs, "source", "doc_id",
      "n_chars", k))
    val (s1, s2, s3) = (sk(0, 150), sk(150, 300), sk(300, 100000))
    // merge ≡ sketch-of-union (three shards, any grouping)
    rows(Sketches.quantileSketchMerge(
      Sketches.quantileSketchMerge(s1, s2, k), s3, k)) shouldBe whole
    // associativity: right-grouped equals left-grouped
    rows(Sketches.quantileSketchMerge(s1,
      Sketches.quantileSketchMerge(s2, s3, k), k)) shouldBe whole
    // idempotence: merging a sketch with itself is a no-op
    val w = Sketches.quantileSketch(docs, "source", "doc_id",
      "n_chars", k)
    rows(Sketches.quantileSketchMerge(w, w, k)) shouldBe whole
  }

  test("quantile store: write + absorb ≡ from-scratch sketch, a " +
    "replayed absorb is a no-op, and a mismatched family fails loud") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val k = 32
    val tbl = "graft_qskstore_spec"
    val path = s"/tmp/graft_test_sinks/qskstore_spec"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      Sketches.writeQuantileStore(docs.filter(col("doc_id") < 200),
        "source", "doc_id", "n_chars", k, tbl, path)
      val delta = docs.filter(col("doc_id") >= 200)
      Sketches.absorbIntoQuantileStore(delta, "source", "doc_id",
        "n_chars", k, tbl)
      val whole = rows(Sketches.quantileSketch(docs, "source", "doc_id",
        "n_chars", k))
      rows(spark.table(tbl)) shouldBe whole // store+absorb lossless
      // replayed absorb (at-least-once retry): identical state
      Sketches.absorbIntoQuantileStore(delta, "source", "doc_id",
        "n_chars", k, tbl)
      rows(spark.table(tbl)) shouldBe whole
      // family validation: wrong k / keyCol / valueCol each refuse
      val ek = intercept[IllegalArgumentException] {
        Sketches.absorbIntoQuantileStore(delta, "source", "doc_id",
          "n_chars", k + 1, tbl)
      }
      ek.getMessage should include("graft.qsk.k")
      val ekey = intercept[IllegalArgumentException] {
        Sketches.absorbIntoQuantileStore(delta, "source", "text",
          "n_chars", k, tbl)
      }
      ekey.getMessage should include("graft.qsk.keycol")
      val ev = intercept[IllegalArgumentException] {
        Sketches.absorbIntoQuantileStore(delta, "source", "doc_id",
          "n_tokens", k, tbl)
      }
      ev.getMessage should include("graft.qsk.valuecol")
      // ABSENT family properties (the state a crash between
      // saveAsTable and the ALTER leaves) are a hard error, not a
      // vacuous pass — absorbing into a family-less store could
      // silently merge mismatched sketches
      spark.sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES('graft.qsk.k')")
      val ea = intercept[IllegalStateException] {
        Sketches.absorbIntoQuantileStore(delta, "source", "doc_id",
          "n_chars", k, tbl)
      }
      ea.getMessage should include("graft.qsk.k")
      ea.getMessage should include("writeQuantileStore")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("quantile store plan contract: rank queries over the " +
    "source-bucketed table run with NO Exchange (the bucketing " +
    "satisfies both windows' source distribution)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val tbl = "graft_qskstore_plan"
    try {
      Sketches.writeQuantileStore(docs, "source", "doc_id", "n_chars",
        32, tbl, "/tmp/graft_test_sinks/qskstore_plan")
      val plan = Sketches.sketchQuantiles(spark.table(tbl), Seq(0.5))
        .queryExecution.executedPlan.toString
      plan should not include "Exchange"
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("sketch quantiles carry the DKW rank-error bound: every " +
    "estimated quantile's TRUE rank is within sqrt(ln(2/δ)/(2k)) of p " +
    "on the fixture, and estimates are elements of the data") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val k = 256
    // single-source view: sketch the whole table as one population
    val one = docs.withColumn("source", lit("all"))
    val sk = Sketches.quantileSketch(one, "source", "doc_id",
      "n_chars", k)
    val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val est = Sketches.sketchQuantiles(sk, ps).collect()
      .map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val vals = docs.select(col("n_chars").cast("double"))
      .collect().map(_.getDouble(0)).sorted
    val n = vals.length.toDouble
    // δ = 0.001 → ε ≈ 0.122 at k = 256; the fixture draw is fixed
    // (deterministic md5 sample), so this is a regression pin, not a
    // flaky probabilistic assertion
    val eps = math.sqrt(math.log(2.0 / 0.001) / (2.0 * k))
    ps.foreach { p =>
      val v = est(p)
      vals should contain(v) // quantile_disc: an element of the data
      // true rank of v as a CDF interval [lo, hi] (ties make it a band)
      val lo = vals.count(_ < v) / n
      val hi = vals.count(_ <= v) / n
      withClue(s"p=$p est=$v rank=[$lo,$hi] eps=$eps: ") {
        (p >= lo - eps && p <= hi + eps) shouldBe true
      }
    }
  }

}
