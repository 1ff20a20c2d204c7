package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    // external tables under /tmp/graft_sinks/spec; dropped after the test
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    Layout.writeBucketed(li, "li_b", "l_orderkey", 8,
      "/tmp/graft_sinks/spec/li_b")
    Layout.writeBucketed(o, "o_b", "o_orderkey", 8,
      "/tmp/graft_sinks/spec/o_b")
    // disable broadcast so the join strategy must rely on the bucket
    // layout; restore the SAVED value after (shared-session contract)
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("o_b"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-located: no shuffle on either side of the join
      plan should not include "Exchange hashpartitioning"
      joined.count() shouldBe li.count() // every lineitem has its order
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("salted vocab count equals the plain vocab on the hot-key path") {
    // the A1 shape: exploded tokens, stopword keys ('the', 'a', …) carry
    // orders of magnitude more rows than the tail — the key distribution
    // where one reducer would sit at scale
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(explode(
        graft.enrich.CaptionStats.tokens(col("text"))).as("token"))
      .withColumn("pos", graft.enrich.CaptionStats.posTag(col("token")))
    val salted = Layout.saltedCount(toks, Seq("token", "pos"), 16)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val plain = toks.groupBy("token", "pos")
      .agg(count(lit(1)).as("count"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    salted.length should be > 10 // sf0.001 has a small vocab
    salted shouldBe plain
  }

  test("salted join equals the plain join on a skewed key distribution") {
    import spark.implicits._
    // 9 of 10 fact rows carry the same hot key — the one-reducer shape
    val big = (1L to 200L).map(i =>
      (if (i % 10 == 0) s"k${i % 7}" else "hot", i))
      .toDF("key", "row_id")
    val small = Seq(("hot", 1.0), ("k0", 2.0), ("k3", 3.0), ("k6", 4.0))
      .toDF("key", "dim_v")
    // force the shuffle-join path: salting a broadcast would be pointless
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val salted = Layout.saltedJoin(big, small, "key", "row_id", 8)
      // the exchange must partition on (key, salt), not key alone —
      // that's the whole point: hot-key rows spread over 8 reducers
      val shuffles = salted.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("hashpartitioning")).toSeq
      shuffles.foreach(_ should include("__salt"))
      val plain = big.join(small, Seq("key"))
        .orderBy("row_id").collect().map(_.toSeq)
      salted.orderBy("row_id").collect().map(_.toSeq) shouldBe plain
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("salted aggregation equals the plain aggregation") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    // three return flags over every lineitem row: each key is hot
    val salted = Layout.saltedCount(li, Seq("l_returnflag"), 16)
      .orderBy("l_returnflag").collect()
    val plain = li.groupBy("l_returnflag").agg(count(lit(1)).as("count"))
      .orderBy("l_returnflag").collect()
    salted.map(r => (r.getString(0), r.getLong(1))) shouldBe
      plain.map(r => (r.getString(0), r.getLong(1)))
  }

  test("zOrderKey: hand-checked interleave, axis embeddings, monotone box") {
    import spark.implicits._
    val df = Seq((3L, 5L), (0L, 0L), (7L, 0L), (0L, 7L), (4095L, 4095L))
      .toDF("x", "y")
    val got = df.select(Layout.zOrderKey(col("x"), col("y"), 12).as("z"))
      .collect().map(_.getLong(0))
    // x=3 (011), y=5 (101) → y2x2 y1x1 y0x0 = 100111₂ = 39
    got(0) shouldBe 39L
    got(1) shouldBe 0L
    // one axis zero: x bits land at even positions (1+4+16), y at odd
    got(2) shouldBe 21L
    got(3) shouldBe 42L
    got(4) shouldBe (1L << 24) - 1 // all 24 bits set
    // locality: any point inside the 2^k-aligned box [0,4)² sorts before
    // any point outside it on both axes — high interleaved bits dominate
    val inside = for { x <- 0L until 4L; y <- 0L until 4L } yield (x, y)
    val zs = inside.toDF("x", "y")
      .select(Layout.zOrderKey(col("x"), col("y"), 12))
      .collect().map(_.getLong(0))
    zs.max should be < 16L // box [0,4)² occupies exactly z ∈ [0,16)
  }

  test("zOrderKey rejects bit widths outside [1, 31]") {
    an[IllegalArgumentException] should be thrownBy
      Layout.zOrderKey(col("x"), col("y"), 0)
    an[IllegalArgumentException] should be thrownBy
      Layout.zOrderKey(col("x"), col("y"), 32)
  }

  test("hive-partitioned layout: the pruned scan reads ONLY matching " +
    "partition directories (k7's plan property)") {
    val out = "/tmp/graft_sinks/spec/docs_partitioned"
    spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "n_chars")
      .write.mode("overwrite").partitionBy("source").parquet(out)
    val pruned = spark.read.parquet(out)
      .filter(col("source").isin("src3", "src7"))
    // the scan's own partition selection (NOT df.inputFiles, which
    // reflects the unpruned file index): pruning happens at planning
    // time against directory names, so exactly the 2 selected source=…
    // directories survive out of 20
    val scan = pruned.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    scan.selectedPartitions.partitionCount shouldBe 2
    val readPaths = scan.selectedPartitions.toPartitionArray
      .map(_.filePath.toString).toSeq
    readPaths should not be empty
    all(readPaths) should (include("source=src3") or
      include("source=src7"))
    // and the filter is classified as a PartitionFilter, not a data
    // filter pushed into the parquet reader
    val plan = pruned.queryExecution.sparkPlan.toString
    plan should include("PartitionFilters")
    // losslessness of the value → directory → value round-trip
    pruned.groupBy("source").count().orderBy("source")
      .collect().map(_.getString(0)) shouldBe Array("src3", "src7")
  }

  test("AQE splits a skewed join partition at runtime (the engine's " +
    "no-code-change answer to hot keys, complementing saltedJoin)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.{explode, sequence}
    // one hot key carrying ~1000x the rows of every other key. The
    // payload md5 matters: skew detection reads COMPRESSED shuffle
    // partition sizes, and a lone repeated join key compresses to
    // nothing — a bare-keys fixture never trips the byte thresholds
    // (found empirically; keep the payload if editing this test)
    val big = spark.range(0, 200).toDF("k")
      .withColumn("n", when(col("k") === 0, lit(30000)).otherwise(lit(30)))
      .select(col("k"), explode(sequence(lit(1), col("n"))).as("v"))
      .withColumn("payload", md5(concat(col("k"), lit("_"), col("v"))))
    val dim = spark.range(0, 200).toDF("k").withColumn("tag", col("k") * 2)
    val saved = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      .map { case (k, v) =>
        val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old
      }
    try {
      val joined = big.join(dim, "k").groupBy("tag")
        .agg(count(lit(1)).as("n"), max("payload").as("p"))
      joined.collect().length shouldBe 200 // correctness first
      // after execution AQE has finalized the plan: the hot partition
      // must be marked skew-split on the sort-merge join
      val adaptive = joined.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a
      }.get
      adaptive.executedPlan.toString should include("skew=true")
    } finally saved.foreach { case (k, old) =>
      old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("dynamic partition overwrite rewrites ONLY the touched " +
    "partitions (incremental backfill without clobbering the table)") {
    val out = "/tmp/graft_sinks/spec/docs_dpo"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "n_chars")
    docs.write.mode("overwrite").partitionBy("source").parquet(out)
    val before = spark.read.parquet(out).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // re-process one partition's rows (reduced row count distinguishes
    // "rewritten" from "untouched" unambiguously; src3 doc_ids are
    // ≡ 3 mod 20, so halve that residue class with mod 40)
    val patch = docs.filter(col("source") === "src3")
      .filter(col("doc_id") % 40 === 3)
    val saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try patch.write.mode("overwrite").partitionBy("source").parquet(out)
    finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
    val after = spark.read.parquet(out).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    after("src3") shouldBe patch.count()
    after("src3") should be < before("src3")
    // every OTHER partition survived byte-for-row identical — static
    // overwrite mode would have dropped them all
    (after - "src3") shouldBe (before - "src3")
  }

  test("balancedShards: every shard's weight within one max-row-weight " +
    "of total/n, ids exactly [0, n), deterministic across runs, and a " +
    "monster row cannot push a shard past ideal + its own weight") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
    val n = 8
    def run() = graft.analytics.Layout
      .balancedShards(docs, "doc_id", "w", n)
      .groupBy("shard").agg(sum("w").as("sw"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val a = run()
    a.keySet shouldBe (0 until n).toSet
    val total = a.values.sum
    val maxW = docs.agg(max("w")).head.getLong(0)
    val ideal = total.toDouble / n
    a.values.foreach { sw =>
      sw.toDouble should be <= ideal + maxW
      sw.toDouble should be >= ideal - maxW
    }
    run() shouldBe a // md5 order is data-derived → bit-stable
    // a single monster row lands in ONE shard; the others stay balanced
    val skewed = docs.union(Seq((100000L, total)).toDF("doc_id", "w"))
    val b = graft.analytics.Layout
      .balancedShards(skewed, "doc_id", "w", n)
      .groupBy("shard").agg(sum("w").as("sw"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    b.values.count(_ > total) shouldBe 1
  }

  test("shardManifest: bit-identical across re-deliveries; one changed " +
    "doc flips exactly its shard's digests; a duplicated doc is caught " +
    "by the sum digest even where XOR cancels") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"),
        col("n_chars").cast("long").as("w"))
    def manifest(d: org.apache.spark.sql.DataFrame) =
      graft.analytics.Layout.shardManifest(d, "doc_id", "text", "w", 4)
        .collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val a = manifest(docs)
    a.keySet shouldBe (0 until 4).toSet
    manifest(docs) shouldBe a // re-delivery reproduces every row
    // corrupt ONE document: only its shard's digests move, counts hold
    val corrupted = docs.withColumn("text",
      when(col("doc_id") === 7L, lit("tampered")).otherwise(col("text")))
    val c = manifest(corrupted)
    val moved = (0 until 4).filter(s => c(s) != a(s))
    moved.size shouldBe 1
    c(moved.head)._1 shouldBe a(moved.head)._1 // n_docs unchanged
    c(moved.head)._3 should not be a(moved.head)._3 // xor flips
    c(moved.head)._4 should not be a(moved.head)._4 // sum flips
    // XOR of a pair cancels; the modular sum does not
    val h1 = 0x123456789abcdL
    (h1 ^ h1) shouldBe 0L
    ((BigInt(h1) + BigInt(h1)) % BigInt(2305843009213693951L)) should
      not be BigInt(0)
  }
}
