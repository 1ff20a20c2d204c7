package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental exact-substring dedup against a persisted seed store
  * (the d25 family): exact equivalence with whole-corpus
  * [[Dedup.dropDupSubstrings]] restricted to shard ids, the absorb
  * loop, the combined maxOcc cap, and the store-side plan contracts
  * (no Exchange on the bucketed seed scan). */
class SubstringStoreSpec extends SparkSpec {
  import spark.implicits._

  private val pfx = "graft_test_substore"
  private val path = "/tmp/graft_test_sinks/substore"

  private def withStore(store: org.apache.spark.sql.DataFrame,
                        seedN: Int = 3)(body: => Unit): Unit = {
    Dedup.writeSubstringStore(store, "doc_id", "text", pfx, path,
      seedN = seedN)
    try body
    finally spark.sql(s"DROP TABLE IF EXISTS ${pfx}_seeds")
  }

  private def shardIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("shard-vs-store equals whole-corpus dropDupSubstrings restricted " +
    "to shard ids — cross-boundary excision, the store-later-id caveat " +
    "direction, shard-internal dups, and clean docs") {
    val corpus = Seq(
      // store, earlier than every shard id
      1L -> "intro one alpha beta gamma delta epsilon zeta end1 end2",
      // store, LATER id than the shard: its dup pairs excise the STORE
      // side in the batch run, so the shard row must stay intact
      100L -> "pre qq1 qq2 qq3 qq4 qq5 qq6 post",
      // shard: duplicates store doc 1's 6-token passage → excised
      50L -> "start alpha beta gamma delta epsilon zeta tail1",
      // shard: duplicates store doc 100's passage but 51 < 100 → kept
      51L -> "qq1 qq2 qq3 qq4 qq5 qq6",
      // shard-internal pair: 53 loses to 52 entirely
      52L -> "ww1 ww2 ww3 ww4 ww5 ww6 ww7",
      53L -> "ww1 ww2 ww3 ww4 ww5 ww6 ww7",
      // clean
      54L -> "an entirely different and unrelated document here"
    ).toDF("doc_id", "text")
    val store = corpus.filter(col("doc_id") === 1L ||
      col("doc_id") === 100L)
    val shard = corpus.filter(col("doc_id") >= 50L && col("doc_id") < 100L)
    withStore(store) {
      val got = Dedup.dedupSubstringShardAgainst(shard, "doc_id", "text",
          pfx, minLen = 6, seedN = 3)
        .orderBy("doc_id")
        .select("doc_id", "text_kept", "n_kept")
        .as[(Long, String, Long)].collect().toSeq
      val whole = Dedup.dropDupSubstrings(corpus, "doc_id", "text",
          minLen = 6, seedN = 3)
        .filter(col("doc_id") >= 50L && col("doc_id") < 100L)
        .orderBy("doc_id")
        .select("doc_id", "text_kept", "n_kept")
        .as[(Long, String, Long)].collect().toSeq
      got shouldBe whole
      got shouldBe Seq(
        (50L, "start tail1", 2L),
        (51L, "qq1 qq2 qq3 qq4 qq5 qq6", 6L),
        (52L, "ww1 ww2 ww3 ww4 ww5 ww6 ww7", 7L),
        (54L, "an entirely different and unrelated document here", 7L))
      // 53 dropped entirely (shard-internal full dup of 52)
    }
  }

  test("equivalence holds on real documents with a mid-corpus split") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val store = docs.filter(col("doc_id") < 25)
    val shard = docs.filter(col("doc_id") >= 25)
    withStore(store, seedN = 5) {
      val got = Dedup.dedupSubstringShardAgainst(shard, "doc_id", "text",
        pfx, minLen = 12, seedN = 5)
        .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
      val whole = Dedup.dropDupSubstrings(docs, "doc_id", "text",
          minLen = 12, seedN = 5)
        .filter(col("doc_id") >= 25)
        .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
      got shouldBe whole
    }
  }

  test("absorbing the FULL shard keeps sequential runs ≡ batch: a " +
    "second shard's dup of first-shard text is excised from the store") {
    val store = Seq(1L -> "alpha beta gamma delta epsilon zeta")
      .toDF("doc_id", "text")
    val shard1 = Seq(10L -> "xx1 xx2 rr1 rr2 rr3 rr4 rr5 rr6")
      .toDF("doc_id", "text")
    val shard2 = Seq(20L -> "rr1 rr2 rr3 rr4 rr5 rr6 yy1")
      .toDF("doc_id", "text")
    val all = store.union(shard1).union(shard2)
    withStore(store) {
      val s1 = Dedup.dedupSubstringShardAgainst(shard1, "doc_id", "text",
        pfx, minLen = 6, seedN = 3)
      shardIds(s1) shouldBe Set(10L) // nothing shared with the store
      s1.select("n_kept").as[Long].collect() shouldBe Seq(8L)
      Dedup.absorbIntoSubstringStore(shard1, "doc_id", "text", pfx,
        seedN = 3)
      val s2 = Dedup.dedupSubstringShardAgainst(shard2, "doc_id", "text",
          pfx, minLen = 6, seedN = 3)
        .select("doc_id", "text_kept", "n_kept")
        .as[(Long, String, Long)].collect().toSeq
      s2 shouldBe Seq((20L, "yy1", 1L)) // rr-run remembered by the store
      val whole = Dedup.dropDupSubstrings(all, "doc_id", "text",
          minLen = 6, seedN = 3)
        .filter(col("doc_id") === 20L)
        .select("doc_id", "text_kept", "n_kept")
        .as[(Long, String, Long)].collect().toSeq
      s2 shouldBe whole
    }
  }

  test("the maxOcc cap is COMBINED (store_n + shard_n), matching the " +
    "whole-corpus gate: over-cap seeds disable dedup (recall-only)") {
    import graft.util.Metrics
    val text = "alpha beta gamma delta epsilon zeta"
    val store = Seq(1L -> text).toDF("doc_id", "text")
    val shard = Seq(10L -> text, 11L -> text).toDF("doc_id", "text")
    withStore(store) {
      def run(maxOcc: Int) = Dedup.dedupSubstringShardAgainst(shard,
        "doc_id", "text", pfx, minLen = 6, seedN = 3, maxOcc = maxOcc)
      // every seed occurs 3× combined; cap 2 gates them all out, and
      // the cap counts the 4 seed hashes with their 3 occurrences each
      val capped = run(2)
      capped.collect().map(_.getAs[Long]("doc_id")).toSet shouldBe
        Set(10L, 11L)
      Metrics.drops(capped) shouldBe ((4L, 12L))
      // cap 3 admits them: both shard copies are later than doc 1
      Dedup.dedupSubstringShardAgainst(shard, "doc_id", "text",
        pfx, minLen = 6, seedN = 3, maxOcc = 3).count() shouldBe 0L
      // at the default cap nothing is dropped
      val open = run(1000)
      open.collect() shouldBe empty
      Metrics.drops(open) shouldBe ((0L, 0L))
    }
  }

  test("absorb is IDEMPOTENT: a replayed micro-batch (at-least-once " +
    "foreachBatch) is a no-op — occurrence counts don't double, and " +
    "the shard run still equals batch") {
    val store = Seq(1L -> "alpha beta gamma delta epsilon zeta")
      .toDF("doc_id", "text")
    val shard1 = Seq(10L -> "xx1 xx2 rr1 rr2 rr3 rr4 rr5 rr6")
      .toDF("doc_id", "text")
    val shard2 = Seq(20L -> "rr1 rr2 rr3 rr4 rr5 rr6 yy1")
      .toDF("doc_id", "text")
    withStore(store) {
      Dedup.absorbIntoSubstringStore(shard1, "doc_id", "text", pfx,
        seedN = 3)
      val n1 = spark.table(s"${pfx}_seeds").count()
      // the REPLAY: same batch absorbed again
      Dedup.absorbIntoSubstringStore(shard1, "doc_id", "text", pfx,
        seedN = 3)
      spark.table(s"${pfx}_seeds").count() shouldBe n1
      // and the store still behaves exactly like the batch run
      val s2 = Dedup.dedupSubstringShardAgainst(shard2, "doc_id",
          "text", pfx, minLen = 6, seedN = 3)
        .select("doc_id", "text_kept").as[(Long, String)].collect().toSeq
      s2 shouldBe Seq((20L, "yy1"))
    }
  }

  test("a mismatched seed family FAILS LOUD: absorb or shard-run with " +
    "a different seedN/nfc than the store was built with is refused " +
    "(the silent alternative is zero-recall hash joins)") {
    val store = Seq(1L -> "alpha beta gamma delta epsilon zeta")
      .toDF("doc_id", "text")
    val shard = Seq(10L -> "alpha beta gamma delta epsilon zeta")
      .toDF("doc_id", "text")
    withStore(store) { // seedN = 3
      val e1 = intercept[IllegalArgumentException] {
        Dedup.absorbIntoSubstringStore(shard, "doc_id", "text", pfx,
          seedN = 8)
      }
      e1.getMessage should include("seedN=3")
      val e2 = intercept[IllegalArgumentException] {
        Dedup.dedupSubstringShardAgainst(shard, "doc_id", "text", pfx,
          minLen = 12, seedN = 8)
      }
      e2.getMessage should include("seedN=3")
      val e3 = intercept[IllegalArgumentException] {
        Dedup.dedupSubstringShardAgainst(shard, "doc_id", "text", pfx,
          minLen = 6, seedN = 3, nfc = false)
      }
      e3.getMessage should include("nfc=true")
    }
  }

  test("plan contracts: store seed counts aggregate with NO Exchange " +
    "over the bucketed scan, and the shard run reads the store as a " +
    "parquet file scan (no store-side recompute)") {
    val store = Seq(1L -> "alpha beta gamma delta epsilon zeta")
      .toDF("doc_id", "text")
    val shard = Seq(10L -> "alpha beta gamma delta epsilon zeta eta")
      .toDF("doc_id", "text")
    withStore(store) {
      Dedup.storeSeedCounts(spark, pfx)
        .queryExecution.executedPlan.toString should not include "Exchange"
      val plan = Dedup.dedupSubstringShardAgainst(shard, "doc_id",
          "text", pfx, minLen = 6, seedN = 3)
        .queryExecution.executedPlan.toString
      s"FileScan parquet [^\\n]*${pfx}_seeds".r
        .findFirstIn(plan) shouldBe defined
      plan should not include "Window"
    }
  }
}
