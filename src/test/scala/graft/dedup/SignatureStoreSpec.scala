package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental dedup against a persisted signature store (d15 family):
  * exact equivalence with the whole-corpus run, plus the plan
  * properties the store exists for (no store-side recompute, no
  * store-side Exchange). */
class SignatureStoreSpec extends SparkSpec {

  private val pfx = "graft_test_sigstore"
  private val path = "/tmp/graft_test_sinks/sigstore"

  private def withStore(store: org.apache.spark.sql.DataFrame)(
      body: => Unit): Unit = {
    Dedup.writeSignatureStore(store, "doc_id", "text", pfx, path)
    try body
    finally {
      spark.sql(s"DROP TABLE IF EXISTS ${pfx}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${pfx}_shingles")
    }
  }

  test("shard-vs-store equals whole-corpus dropNearDups restricted to " +
    "shard ids (cross-boundary, shard-internal, and clean docs)") {
    import spark.implicits._
    // store: 1 & 2 near-dup each other; 3 unique; shard: 10 dups 1
    // (cross-boundary drop), 11 & 12 dup each other (shard-internal:
    // 11 survives, 12 drops), 13 unique (survives)
    val mk = (extra: String) =>
      s"alpha beta gamma delta epsilon zeta eta theta iota $extra"
    val corpus = Seq(
      1L -> mk("kappa"), 2L -> mk("kappa"), 3L -> "totally different words about spark engines and shuffles",
      10L -> mk("kappa"), 11L -> mk("omega sigma"), 12L -> mk("omega sigma"),
      13L -> "unrelated content on bucketed layouts and shuffle avoidance"
    ).toDF("doc_id", "text")
    val store = corpus.filter(col("doc_id") < 10)
    val shard = corpus.filter(col("doc_id") >= 10)
    withStore(store) {
      val got = Dedup.dedupShardAgainst(shard, "doc_id", "text", pfx,
        threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
      val whole = Dedup.dropNearDups(corpus, "doc_id", "text",
        threshold = 0.5).select("doc_id").collect().map(_.getLong(0))
        .toSet.filter(_ >= 10L)
      got shouldBe whole
      got shouldBe Set(11L, 13L) // 10 drops vs store, 12 vs 11, rest keep
    }
  }

  test("equivalence holds on real documents with a mid-corpus split") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val store = docs.filter(col("doc_id") < 25)
    val shard = docs.filter(col("doc_id") >= 25)
    withStore(store) {
      val got = Dedup.dedupShardAgainst(shard, "doc_id", "text", pfx,
        threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
      val whole = Dedup.dropNearDups(docs, "doc_id", "text",
        threshold = 0.5).select("doc_id").collect().map(_.getLong(0))
        .toSet.filter(_ >= 25L)
      got shouldBe whole
      got should not be empty
    }
  }

  test("combined-size bucket cap matches the whole-corpus cap: a bucket " +
    "viral only when store and shard members are COMBINED is dropped") {
    import spark.implicits._
    // 3 store copies + 3 shard copies of one text: combined bucket = 6.
    // cap 5 → whole-corpus finds NO pairs in the bucket; an
    // incremental run that capped on per-side counts (3 ≤ 5) would
    // wrongly emit pairs. Equivalence must hold at exactly this edge.
    val text = "same boilerplate template text repeated across the corpus"
    val corpus = ((1L to 3L) ++ (11L to 13L)).map(_ -> text)
      .toDF("doc_id", "text")
    val store = corpus.filter(col("doc_id") < 10)
    val shard = corpus.filter(col("doc_id") >= 10)
    withStore(store) {
      val got = Dedup.dedupShardAgainst(shard, "doc_id", "text", pfx,
        threshold = 0.5, maxBucket = 5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      got shouldBe Set(11L, 12L, 13L) // capped: nobody drops
      val whole = Dedup.dropNearDups(corpus, "doc_id", "text",
        threshold = 0.5, maxBucket = 5)
        .select("doc_id").collect().map(_.getLong(0)).toSet.filter(_ >= 10L)
      got shouldBe whole
      // and with the cap lifted both drop the shard dups identically
      val gotU = Dedup.dedupShardAgainst(shard, "doc_id", "text", pfx,
        threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
      gotU shouldBe Set.empty // 11,12,13 all dup store doc 1
      // the recall-loss report sees the capped buckets: 4 bands × one
      // COMBINED-size-6 bucket each (3 store + 3 shard members) — the
      // eager wrapper warn-logs the same numbers per shard
      import graft.util.Metrics
      Metrics.drops(Dedup.shardBucketCapReport(shard, "doc_id", "text",
        pfx, maxBucket = 5)) shouldBe ((4L, 24L))
      Metrics.drops(Dedup.shardBucketCapReport(shard, "doc_id", "text",
        pfx)) shouldBe ((0L, 0L))
    }
  }

  test("absorb loop: dedup shard1 → absorb → dedup shard2 equals ONE " +
    "whole-corpus run, and the append preserves the no-Exchange store " +
    "plan") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val store = docs.filter(col("doc_id") < 17)
    val shard1 = docs.filter(col("doc_id") >= 17 && col("doc_id") < 34)
    val shard2 = docs.filter(col("doc_id") >= 34)
    withStore(store) {
      val got1 = Dedup.dedupShardAgainst(shard1, "doc_id", "text", pfx,
        threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
      // absorb the FULL shard: the whole-corpus run drops docs that
      // pair with already-dropped docs, so the store must remember
      // losers too (similarity is not transitive) — see scaladoc
      Dedup.absorbIntoSignatureStore(shard1, "doc_id", "text", pfx)
      val got2 = Dedup.dedupShardAgainst(shard2, "doc_id", "text", pfx,
        threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
      val whole = Dedup.dropNearDups(docs, "doc_id", "text",
        threshold = 0.5).select("doc_id").collect().map(_.getLong(0))
        .toSet.filter(_ >= 17L)
      (got1 ++ got2) shouldBe whole
      got2 should not be empty
      // the appended store keeps its plan contracts: bucket counts
      // still aggregate with NO Exchange over the (now multi-file)
      // bucketed scan, and a subsequent shard run still reads the
      // store as parquet file scans
      val cnts = Dedup.storeBandCounts(spark, pfx)
      cnts.queryExecution.executedPlan.toString should not include "Exchange"
      val shardSh = Dedup.shingleTableForTest(shard2, "doc_id", "text", 3)
      val shardB = Dedup.lshBands(
        Dedup.minhashSignatures(shard2, "doc_id", "text", k = 12,
          shingleN = 3), "doc_id", bands = 4, rowsPerBand = 3)
        .select(concat_ws(":", col("band_idx"), col("band_key")).as("bk"),
          col("doc_id"))
      val plan = Dedup.shardLoserIds(shardSh, shardB, "doc_id", pfx,
        threshold = 0.5, maxBucket = 10000)
        .queryExecution.executedPlan.toString
      s"FileScan parquet [^\\n]*${pfx}_bands".r
        .findFirstIn(plan) shouldBe defined
      s"FileScan parquet [^\\n]*${pfx}_shingles".r
        .findFirstIn(plan) shouldBe defined
    }
  }

  test("absorb of SURVIVORS gives online-greedy semantics: a later dup " +
    "of an absorbed survivor is dropped") {
    import spark.implicits._
    val mk = (extra: String) =>
      s"alpha beta gamma delta epsilon zeta eta theta iota $extra"
    val store = Seq(1L -> "totally different words about spark engines")
      .toDF("doc_id", "text")
    val shard1 = Seq(11L -> mk("kappa"), 12L -> mk("kappa"))
      .toDF("doc_id", "text")
    val shard2 = Seq(21L -> mk("kappa")).toDF("doc_id", "text")
    withStore(store) {
      val s1 = Dedup.dedupShardAgainst(shard1, "doc_id", "text", pfx,
        threshold = 0.5)
      s1.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
        Set(11L) // 12 dups 11 shard-internally
      Dedup.absorbIntoSignatureStore(s1, "doc_id", "text", pfx)
      // 21 dups survivor 11, which the store now remembers
      Dedup.dedupShardAgainst(shard2, "doc_id", "text", pfx,
        threshold = 0.5).count() shouldBe 0L
    }
  }

  test("suggestedStoreBuckets: tiny inputs floor at 8, large inputs " +
    "scale as pow2(size × expansion / target), cap respected — and " +
    "writeSignatureStore's default derives it") {
    // spark.range stats are 8 bytes/row, known without running a job
    Dedup.suggestedStoreBuckets(spark.range(100).toDF()) shouldBe 8
    // 1G rows × 8 B × 2.0 expansion = 16 GiB / 256 MiB = 64 buckets
    Dedup.suggestedStoreBuckets(spark.range(1L << 30).toDF()) shouldBe 64
    // non-pow2 need rounds UP: 65 × 256 MiB worth → 128
    Dedup.suggestedStoreBuckets(spark.range((1L << 30) + (1L << 25))
      .toDF()) shouldBe 128
    // explicit target: same frame, smaller buckets → more of them
    Dedup.suggestedStoreBuckets(spark.range(1L << 30).toDF(),
      targetBytes = 128L << 20) shouldBe 128
    // cap: an absurd estimate stays at 2^20
    Dedup.suggestedStoreBuckets(spark.range(Long.MaxValue >> 4).toDF())
      .shouldBe(1 << 20)
    // the default store write derives (fixture-sized → the floor 8)
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.Bridge
    val d = Seq(1L -> "alpha beta gamma delta").toDF("doc_id", "text")
    Dedup.writeSignatureStore(d, "doc_id", "text", "graft_nb_test",
      "/tmp/graft_test_sinks/nbtest")
    try {
      Bridge.bucketCount(spark, "graft_nb_test_bands") shouldBe Some(8)
      Bridge.bucketCount(spark, "graft_nb_test_shingles") shouldBe Some(8)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_nb_test_bands")
      spark.sql("DROP TABLE IF EXISTS graft_nb_test_shingles")
    }
  }

  test("absorb refuses a non-bucketed target table") {
    import spark.implicits._
    val d = Seq(1L -> "some text").toDF("doc_id", "text")
    d.write.mode("overwrite").option("path", s"$path/plain")
      .format("parquet").saveAsTable("graft_plain_bands")
    try {
      an[IllegalStateException] should be thrownBy
        Dedup.absorbIntoSignatureStore(d, "doc_id", "text", "graft_plain")
    } finally spark.sql("DROP TABLE IF EXISTS graft_plain_bands")
  }

  test("dedupShardAgainst releases every cache it created — the " +
    "per-shard production loop must not accumulate CacheManager entries " +
    "— and anti-joins the loser set as a broadcast local relation") {
    import org.apache.spark.sql.graftbridge.Bridge
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val store = docs.filter(col("doc_id") < 25)
    val shard = docs.filter(col("doc_id") >= 25)
    withStore(store) {
      spark.catalog.clearCache()
      val out = Dedup.dedupShardAgainst(shard, "doc_id", "text", pfx,
        threshold = 0.5)
      // the call is eager; by return time nothing may remain persisted
      Bridge.cachedEntries(spark) shouldBe 0
      // the collected loser set broadcasts: the anti-join is a
      // BroadcastHashJoin LeftAnti with NO shard-side Exchange
      val plan = out.queryExecution.executedPlan.toString
      plan should include ("BroadcastHashJoin")
      plan should include ("LeftAnti")
      // executing the result must not re-create any cache either
      out.count()
      Bridge.cachedEntries(spark) shouldBe 0
    }
  }

  // ------------------------------------------------- image store

  private val ipfx = "graft_test_imgstore"

  /** Deterministic 64-bit "perceptual hashes": a few planted near-dup
    * clusters (Hamming ≤ 3 of a base) plus well-separated singletons. */
  private def imageCorpus = {
    import spark.implicits._
    val bases = Seq(0x0123456789abcdefL, 0x7edcba9876543210L,
      0x5a5a5a5ac3c3c3c3L)
    // ids 1..30; id i perturbs base (i%3) by flipping (i%4) low bits —
    // same-base docs are within Hamming 6 of each other, cross-base far
    (1L to 30L).map { i =>
      val base = bases((i % 3).toInt)
      val flipped = base ^ ((1L << (i % 4).toInt) - 1)
      (i, flipped)
    }.toDF("doc_id", "ph")
  }

  private def withImageStore(store: org.apache.spark.sql.DataFrame)(
      body: => Unit): Unit = {
    Dedup.writeImageSignatureStore(store, "doc_id", "ph", ipfx,
      "/tmp/graft_test_sinks/imgstore")
    try body
    finally {
      spark.sql(s"DROP TABLE IF EXISTS ${ipfx}_ibands")
      spark.sql(s"DROP TABLE IF EXISTS ${ipfx}_ihashes")
    }
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue)).toSet

  test("image shard-vs-store pairs equal whole-corpus imageNearDupPairs " +
    "restricted to pairs touching shard ids") {
    val corpus = imageCorpus
    val store = corpus.filter(col("doc_id") <= 20)
    val shard = corpus.filter(col("doc_id") > 20)
    withImageStore(store) {
      val got = pairSet(Dedup.imagePairsAgainstStore(shard, "doc_id",
        "ph", ipfx, maxHamming = 6))
      val whole = pairSet(Dedup.imageNearDupPairs(corpus, "doc_id", "ph",
        maxHamming = 6)).filter(p => p._1 > 20L || p._2 > 20L)
      got shouldBe whole
      got should not be empty
      // survivors drop exactly the id_b ends of those pairs
      val surv = Dedup.dedupImageShardAgainst(shard, "doc_id", "ph",
        ipfx, maxHamming = 6)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val losers = got.map(_._2).filter(_ > 20L)
      surv shouldBe (21L to 30L).toSet -- losers
    }
  }

  test("image absorb loop: pairs for shard2 after absorbing shard1 " +
    "equal the whole-corpus run; combined cap and report behave as in " +
    "the text store") {
    import spark.implicits._
    val corpus = imageCorpus
    val store = corpus.filter(col("doc_id") <= 10)
    val shard1 = corpus.filter(col("doc_id") > 10 && col("doc_id") <= 20)
    val shard2 = corpus.filter(col("doc_id") > 20)
    withImageStore(store) {
      Dedup.absorbIntoImageSignatureStore(shard1, "doc_id", "ph", ipfx)
      val got = pairSet(Dedup.imagePairsAgainstStore(shard2, "doc_id",
        "ph", ipfx, maxHamming = 6))
      val whole = pairSet(Dedup.imageNearDupPairs(corpus, "doc_id", "ph",
        maxHamming = 6)).filter(p => p._1 > 20L || p._2 > 20L)
      got shouldBe whole
      // combined-size cap: 3 store + 3 shard copies of ONE hash → all
      // four band buckets hold 6 members; cap 5 drops them (no pairs)
      // and the report counts 4 groups × 6 members
      val same = 0x0f0f0f0f0f0f0f0fL
      val s3 = (101L to 103L).map((_, same)).toDF("doc_id", "ph")
      val h3 = (111L to 113L).map((_, same)).toDF("doc_id", "ph")
      Dedup.absorbIntoImageSignatureStore(s3, "doc_id", "ph", ipfx)
      Dedup.imagePairsAgainstStore(h3, "doc_id", "ph", ipfx,
        maxBucket = 5).count() shouldBe 0L
      import graft.util.Metrics
      Metrics.drops(Dedup.imageShardBucketCapReport(h3, "doc_id", "ph",
        ipfx, maxBucket = 5)) shouldBe ((4L, 24L))
      Dedup.imagePairsAgainstStore(h3, "doc_id", "ph", ipfx)
        .count() shouldBe 12L // C(3,2) internal + 3×3 cross
    }
  }

  test("image store plan proofs: bucket counts aggregate with NO " +
    "Exchange, pairs read the store as file scans, null hashes are " +
    "excluded, non-bucketed absorb target refused") {
    import spark.implicits._
    val corpus = imageCorpus
    val withNull = corpus.union(
      Seq((99L, null.asInstanceOf[java.lang.Long]))
        .toDF("doc_id", "ph").select(col("doc_id"), col("ph").cast("long")))
    val store = withNull.filter(col("doc_id") <= 20 || col("doc_id") === 99L)
    val shard = corpus.filter(col("doc_id") > 20)
    withImageStore(store) {
      spark.table(s"${ipfx}_ihashes").filter(col("doc_id") === 99L)
        .count() shouldBe 0L // nulls never enter the store
      val cnts = Dedup.imageStoreBandCounts(spark, ipfx)
      cnts.queryExecution.executedPlan.toString should not include "Exchange"
      cnts.count() should be > 0L
      val plan = Dedup.imagePairsAgainstStore(shard, "doc_id", "ph", ipfx)
        .queryExecution.executedPlan.toString
      s"FileScan parquet [^\\n]*${ipfx}_ibands".r
        .findFirstIn(plan) shouldBe defined
      s"FileScan parquet [^\\n]*${ipfx}_ihashes".r
        .findFirstIn(plan) shouldBe defined
      corpus.limit(1).write.mode("overwrite")
        .option("path", "/tmp/graft_test_sinks/plainimg")
        .format("parquet").saveAsTable("graft_plainimg_ibands")
      try {
        an[IllegalStateException] should be thrownBy
          Dedup.absorbIntoImageSignatureStore(shard, "doc_id", "ph",
            "graft_plainimg")
      } finally spark.sql("DROP TABLE IF EXISTS graft_plainimg_ibands")
    }
  }

  test("plan proof: store bucket counts aggregate with NO Exchange, and " +
    "the store side of the shard run is a scan, not a recompute") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val store = docs.filter(col("doc_id") < 25)
    val shard = docs.filter(col("doc_id") >= 25)
    withStore(store) {
      // 1. the bands table is bucketed by bk: groupBy(bk) plans
      // scan → partial agg → final agg with no shuffle in between
      val cnts = Dedup.storeBandCounts(spark, pfx)
      cnts.queryExecution.executedPlan.toString should not include "Exchange"
      cnts.count() should be > 0L
      // 2. the loser pipeline's plan scans both store tables as files —
      // the shingle/minhash pipeline exists ONLY on the shard branch.
      // (Read via the lazy factored-out plan: the eager wrapper
      // materializes and RELEASES this pipeline before returning, and
      // its returned frame is just a broadcast anti-join of the
      // collected loser ids — see the cache-release test.)
      val shardSh = Dedup.shingleTableForTest(shard, "doc_id", "text", 3)
      val shardB = Dedup.lshBands(
        Dedup.minhashSignatures(shard, "doc_id", "text", k = 12,
          shingleN = 3), "doc_id", bands = 4, rowsPerBand = 3)
        .select(concat_ws(":", col("band_idx"), col("band_key")).as("bk"),
          col("doc_id"))
      val out = Dedup.shardLoserIds(shardSh, shardB, "doc_id", pfx,
        threshold = 0.5, maxBucket = 10000)
      val plan = out.queryExecution.executedPlan.toString
      // the store tables appear as parquet FILE SCANS — read from the
      // materialized store, not derived from text. (A global count of
      // shingles( sites is meaningless here: every InMemoryTableScan
      // reference prints the cached shard pipeline again.)
      s"FileScan parquet [^\\n]*${pfx}_bands".r
        .findFirstIn(plan) shouldBe defined
      s"FileScan parquet [^\\n]*${pfx}_shingles".r
        .findFirstIn(plan) shouldBe defined
    }
  }
}
