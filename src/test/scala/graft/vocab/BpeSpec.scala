package graft.vocab

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE training + segmentation: the Sennrich et al. 2016 worked
  * example, hand-computed merge-by-merge, plus the greedy
  * leftmost-first replace semantics and the cache-release contract. */
class BpeSpec extends SparkSpec {

  // the paper's fixture: low×5, lower×2, newest×6, widest×3
  private def fixture = {
    import spark.implicits._
    Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("w", "n")
  }

  test("learnMerges reproduces the hand-computed Sennrich sequence " +
    "with deterministic tie-breaks") {
    // pair counts round 1: (e,s)=9 and (s,t)=9 tie → left asc picks
    // (e,s); then (es,t)=9; then (l,o)=(o,w)=7 tie → (l,o); (lo,w)=7;
    // then 6-ties (e,w)/(n,e)/(w,est) → (e,w); (ew,est) vs (n,ew) →
    // "ew" < "n"; (n,ewest)=6; then 3-ties → (d,est)
    Bpe.learnMerges(fixture, "w", "n", nMerges = 8) shouldBe Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L),
      ("e", "w", 6L), ("ew", "est", 6L), ("n", "ewest", 6L),
      ("d", "est", 3L))
  }

  test("segment applies merges in learned order; histogram over " +
    "segmented fixture matches the hand computation") {
    val merges = Bpe.learnMerges(fixture, "w", "n", nMerges = 8)
      .map(m => (m._1, m._2))
    val hist = fixture
      .select(explode(Bpe.segment(col("w"), merges)).as("token"),
        col("n"))
      .groupBy("token").agg(sum("n").as("n_occ"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // low→[low], lower→[low,e,r], newest→[newest], widest→[w,i,dest]
    hist shouldBe Map("low" -> 7L, "e" -> 2L, "r" -> 2L,
      "newest" -> 6L, "w" -> 3L, "i" -> 3L, "dest" -> 3L)
  }

  test("greedy leftmost-first: a run of three merges once, the border " +
    "symbol survives") {
    import spark.implicits._
    val d = Seq(("aaa", 1L)).toDF("w", "n")
    // rule (a,a): " a a a " → " aa a " (left pair first, no overlap)
    d.select(Bpe.segment(col("w"), Seq(("a", "a"))).as("t"))
      .head().getSeq[String](0) shouldBe Seq("aa", "a")
    // learning on aaa alone: (a,a)=2 then (aa,a)=1
    Bpe.learnMerges(d, "w", "n", 3) shouldBe Seq(("a", "a", 2L),
      ("aa", "a", 1L))
  }

  test("segmentWords (broadcast scalar path) equals the literal-fold " +
    "segment on the fixture and on generated vocabularies") {
    import spark.implicits._
    import org.scalacheck.Gen
    val merges8 = Bpe.learnMerges(fixture, "w", "n", 8)
      .map(m => (m._1, m._2))
    val both = fixture
      .select(col("w"), Bpe.segment(col("w"), merges8).as("a"))
    val withB = Bpe.segmentWords(both, "w", "b", merges8)
    withB.filter(col("a") =!= col("b")).count() shouldBe 0L
    // generated: 40 random lowercase words, rules learned from them
    val w = Gen.chooseNum(1, 9).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val vocab = (0 until 40).flatMap(i => w.apply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(100 + i.toLong)))
      .groupBy(identity).map { case (s, xs) => (s, xs.size.toLong + 1L) }
      .toSeq.toDF("w", "n")
    val m2 = Bpe.learnMerges(vocab, "w", "n", 6).map(m => (m._1, m._2))
    val cmp = Bpe.segmentWords(
      vocab.select(col("w"), Bpe.segment(col("w"), m2).as("a")),
      "w", "b", m2)
    cmp.filter(col("a") =!= col("b")).count() shouldBe 0L
  }

  test("batched merge selection (default) is merge-for-merge identical " +
    "to the one-pair-per-job loop (batchPrefetch = 1) — fixture and " +
    "generated vocabularies, several prefetch sizes") {
    import spark.implicits._
    import org.scalacheck.Gen
    val w = Gen.chooseNum(1, 9).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val vocab = (0 until 40).flatMap(i => w.apply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(500 + i.toLong)))
      .groupBy(identity).map { case (s, xs) => (s, xs.size.toLong + 1L) }
      .toSeq.toDF("w", "n")
    for (df <- Seq(fixture, vocab)) {
      val seq1 = Bpe.learnMerges(df, "w", "n", 25, batchPrefetch = 1)
      for (prefetch <- Seq(2, 8, 512)) {
        withClue(s"prefetch=$prefetch: ") {
          Bpe.learnMerges(df, "w", "n", 25, prefetch) shouldBe seq1
        }
      }
    }
  }

  test("mixed-sign weights disable batching: a negative-weight row " +
    "masking positive occurrence mass must not let the batch skip the " +
    "merge-created pair greedy would pick next") {
    import spark.implicits._
    // count(x,a) = 5 + (-4) = 1, but merging (a,b) creates (x,ab) with
    // count 5 — the batch bound (built from count(x,a)) would admit
    // (p,q,3) into (a,b)'s batch, while sequential greedy recounts and
    // picks (x,ab,5). Only the sequential fallback is correct here.
    val mixed = Seq(("xab", 5L), ("xa", -4L), ("pq", 3L)).toDF("w", "n")
    Bpe.learnMerges(mixed, "w", "n", 2) shouldBe Seq(
      ("a", "b", 5L), ("x", "ab", 5L))
  }

  test("non-positive top pair counts still make progress (the round's " +
    "first pick is unconditional — no empty-batch spin)") {
    import spark.implicits._
    // zero-weight rows: every pair count is 0, which the batched
    // bound (starting at 0) would reject without the first-pick rule,
    // spinning forever on an empty batch
    val zero = Seq(("ab", 0L)).toDF("w", "n")
    Bpe.learnMerges(zero, "w", "n", 1) shouldBe Seq(("a", "b", 0L))
    // negative weights (count-delta histograms): same guarantee
    val neg = Seq(("ab", -2L), ("cd", -5L)).toDF("w", "n")
    Bpe.learnMerges(neg, "w", "n", 2) shouldBe Seq(
      ("a", "b", -2L), ("c", "d", -5L))
  }

  test("single-char and empty-ish words never pair; merge exhaustion " +
    "stops early; caches are released") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.Bridge
    spark.catalog.clearCache()
    val d = Seq(("a", 3L), ("b", 2L)).toDF("w", "n")
    Bpe.learnMerges(d, "w", "n", 5) shouldBe Seq.empty
    Bridge.cachedEntries(spark) shouldBe 0
    Bpe.learnMerges(fixture, "w", "n", 8)
    Bridge.cachedEntries(spark) shouldBe 0
    // zero requested merges = identity segmentation into characters
    fixture.select(Bpe.segment(col("w"), Seq.empty).as("t"))
      .filter(col("w") === "low").head().getSeq[String](0) shouldBe
      Seq("l", "o", "w")
  }
}
