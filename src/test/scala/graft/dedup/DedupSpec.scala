package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "The  Quick  Brown Fox jumps over the lazy dog"), // ws/case dup
    (4L, "a completely different document about spark engines"),
    (5L, "the quick brown fox leaps over the lazy dog") // near dup
  ).toDF("doc_id", "text")

  test("exact dedup: whitespace/case-normalized fingerprint groups") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .filter(col("n_members") > 1).collect()
    g.length shouldBe 1
    g(0).getAs[Long]("canonical_id") shouldBe 1L
    g(0).getAs[Long]("n_members") shouldBe 3L // 1, 2, 3
  }

  test("dropExactDups keeps min-id representative") {
    val kept = Dedup.dropExactDups(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    kept shouldBe Array(1L, 4L, 5L)
  }

  test("minhash signatures: dups identical, near-dups mostly agree") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) ->
        (1 to 8).map(i => r.getString(i))).toMap
    sig(1L) shouldBe sig(2L) // identical text → identical signature
    sig(1L) shouldBe sig(3L) // normalization happens via lower+split
    val agree = sig(1L).zip(sig(5L)).count { case (a, b) => a == b }
    agree should be >= 5 // jaccard 8/10 → most hash slots agree
    sig(1L).zip(sig(4L)).count { case (a, b) => a == b } should be <= 2
  }

  test("LSH candidate pairs surface the near-dup, not the unrelated doc") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      k = 12, bands = 6, shingleN = 1) // unigram: tiny docs, high overlap
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain(1L -> 2L)
    pairs should contain(1L -> 5L)
    pairs should not contain (1L -> 4L)
  }

  test("3-gram shingle LSH: exact dup found, high-overlap non-dup rejected") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // same vocabulary, different order → unigram-identical, not a dup
      (3L, "kappa iota theta eta zeta epsilon delta gamma beta alpha")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(d, "doc_id", "text",
      k = 12, bands = 4, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain(1L -> 2L)
    pairs should not contain (1L -> 3L) // shingles see the reordering
    pairs should not contain (2L -> 3L)
  }

  test("shingles: short docs yield empty set, no ANSI slice error") {
    import spark.implicits._
    val out = Seq("one two", "a", "").toDF("text")
      .select(Dedup.shingles(org.apache.spark.sql.functions.col("text"), 3)
        .as("s")).collect().map(_.getSeq[String](0))
    all(out) shouldBe empty
  }

  test("ngram jaccard: identity 1.0, disjoint 0.0, order-free") {
    val pairDf = Seq(
      ("a b c", "a b c"), ("a b", "c d"), ("a b c d", "c d e f"))
      .toDF("x", "y")
    val j = pairDf.select(Dedup.ngramJaccard(col("x"), col("y"), 1))
      .collect().map(_.getDouble(0))
    j(0) shouldBe 1.0
    j(1) shouldBe 0.0
    j(2) shouldBe (2.0 / 6.0) +- 1e-12
  }

  test("bigram shingles distinguish reordered text") {
    val df = Seq(("the cat sat", "sat cat the")).toDF("x", "y")
    df.select(Dedup.ngramJaccard(col("x"), col("y"), 1)).head()
      .getDouble(0) shouldBe 1.0 // same token set
    df.select(Dedup.ngramJaccard(col("x"), col("y"), 2)).head()
      .getDouble(0) shouldBe 0.0 // no shared bigram
  }

  test("simhash: 16 bits, dups equal, near-dups within small hamming") {
    val sh = docs.select(col("doc_id"), Dedup.simhash16(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    all(sh.values.map(_.length)) shouldBe 16
    sh(1L) shouldBe sh(2L)
    val hamming = sh(1L).zip(sh(5L)).count { case (a, b) => a != b }
    hamming should be <= 4
  }

  test("native simhash16 matches the 16-pass HOF reference formulation") {
    import spark.implicits._
    val edge = Seq((6L, ""), (7L, "   "), (8L, "one"),
      (9L, "Mixed CASE text With 123 numbers and punct!!!"),
      (10L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val both = docs.union(edge).select(
      Dedup.simhash16(col("text")).as("fast"),
      Dedup.simhash16Reference(col("text")).as("ref")).collect()
    both.foreach(r => r.getString(0) shouldBe r.getString(1))
  }

  test("null text signs as all-zero, like the HOF form and the oracle") {
    import spark.implicits._
    val one = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    one.select(Dedup.simhash16(col("text"))).head().getString(0) shouldBe
      "0000000000000000"
  }

  test("nearDupPairs verifies candidates; dropNearDups keeps first") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "totally different words about spark engines and shuffles")
    ).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(d, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain(1L -> 2L) // exact dup: jaccard 1.0
    pairs should not contain (1L -> 4L)
    val kept = Dedup.dropNearDups(d, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    kept should contain(1L)  // canonical survives
    kept should not contain 2L
    kept should contain(4L)
  }

  test("native minhash_rot matches the explode+groupBy aggregate form") {
    import spark.implicits._
    val edge = Seq((6L, ""), (7L, "one two"), (8L, "one two three"),
      (9L, "Repeated words repeated WORDS repeated words here now"))
      .toDF("doc_id", "text")
    val d = docs.union(edge)
    for (n <- Seq(1, 3)) {
      val sh = Dedup.shingleTableForTest(d, "doc_id", "text", n)
      val fast = Dedup.minhashSignatures(d, "doc_id", "text", 8, n)
        .collect().map(r => r.getLong(0) ->
          (1 to 8).map(r.getString)).toMap
      val ref = Dedup.signaturesFromAgg(sh, "doc_id", 8)
        .collect().map(r => r.getLong(0) ->
          (1 to 8).map(r.getString)).toMap
      fast shouldBe ref // incl. which docs are absent (no shingles)
    }
  }

  test("componentLabels: min label propagates over multiple hops") {
    import spark.implicits._
    // 2–7–9–11 is a 3-hop chain: the min (2) must travel three
    // propagation rounds to reach 11, so this exercises the loop, not
    // just the first join; 20–21 is an independent component
    val pairs = Seq((2L, 7L), (7L, 9L), (9L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val labels = Dedup.componentLabels(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels(7L) shouldBe 2L
    labels(9L) shouldBe 2L
    labels(11L) shouldBe 2L
    labels(20L) shouldBe 20L
    labels(21L) shouldBe 20L
  }

  test("plan guard: shingles computed once per scan, bloom on the d8 scan") {
    // the r6 bug class: a pushed-down predicate (inferred from a Generate,
    // or an explicit size() filter) that references the shingle array gets
    // the producing expression substituted in and re-evaluated — visible
    // in the physical plan as a SECOND `shingles(` occurrence per scan.
    // d3 has one scan → exactly one compute site; d8 has two sides → two.
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val d3 = Dedup.minhashCandidatePairs(d, "doc_id", "text", 12, 4, 3)
    d3.collect() // finalize AQE: the bucket-count branch must resolve to
    // a ReusedExchange of the pair branch's minhash pipeline, not a
    // second compute (the static pre-AQE string prints both branches)
    val d3plan = d3.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    "shingles\\(".r.findAllMatchIn(d3plan).size shouldBe 1
    d3plan should include("ReusedExchange")
    d3plan should include("CapFilter") // the counting cap, count branch
    val corpus = d.filter(col("source") =!= "src0")
    val bench = d.filter(col("source") === "src0")
    val d8plan = Dedup.decontaminate(corpus, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    d8plan should include("might_contain") // bloom pre-filter on the scan
    "shingles\\(".r.findAllMatchIn(d8plan).size shouldBe 2
  }

  test("componentLabels: local union-find equals the distributed loop") {
    import spark.implicits._
    // chain + star + isolated pair, ids deliberately out of insert order;
    // localThreshold=0 forces the iterative path, default takes the
    // driver-side union-find — both must produce identical label maps
    val pairs = Seq((9L, 3L), (3L, 12L), (12L, 1L), (50L, 40L),
      (40L, 60L), (40L, 70L), (100L, 99L)).toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = asMap(Dedup.componentLabels(pairs))
    val dist = asMap(Dedup.componentLabels(pairs, localThreshold = 0))
    local shouldBe dist
    local(9L) shouldBe 1L // min travels the 3-hop chain in both paths
    local(70L) shouldBe 40L
    local(100L) shouldBe 99L
  }

  test("componentLabels: null-endpoint pairs dropped, both paths agree") {
    import spark.implicits._
    // a null endpoint is no edge: the local path would NPE in compareTo
    // and the distributed path would emit a spurious (null, null) label
    // row — both now drop it up front and must return identical maps
    val pairs = Seq((java.lang.Long.valueOf(2L), java.lang.Long.valueOf(7L)),
      (null: java.lang.Long, java.lang.Long.valueOf(9L)),
      (java.lang.Long.valueOf(9L), null: java.lang.Long))
      .toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = asMap(Dedup.componentLabels(pairs))
    val dist = asMap(Dedup.componentLabels(pairs, localThreshold = 0))
    local shouldBe Map(2L -> 2L, 7L -> 2L) // 9 had no real edge
    dist shouldBe local
  }

  test("CC policy folds star components where greedy keeps a spoke") {
    import spark.implicits._
    // hub 5 is near both 1 and 2 (jaccard 0.6), but 1 and 2 share only
    // 4 of 12 tokens (0.33 < threshold): verified pairs are exactly
    // (1,5),(2,5). Greedy drops only id_b docs → 2 survives; connected
    // components fold {1,2,5} into one group and keep its min.
    val t = (1 to 8).map(i => s"tok$i")
    val d = Seq(
      (1L, (t.take(6) ++ Seq("alpha", "bravo")).mkString(" ")),
      (2L, (t.drop(2) ++ Seq("charlie", "delta")).mkString(" ")),
      (5L, t.mkString(" ")),
      (9L, "entirely unrelated words about catalyst plans and shuffles")
    ).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(d, "doc_id", "text", threshold = 0.5,
      k = 12, bands = 12, shingleN = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set(1L -> 5L, 2L -> 5L)
    val greedy = Dedup.dropNearDups(d, "doc_id", "text", threshold = 0.5,
      k = 12, bands = 12, shingleN = 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    greedy shouldBe Array(1L, 2L, 9L)
    val cc = Dedup.dropNearDupsCC(d, "doc_id", "text", threshold = 0.5,
      k = 12, bands = 12, shingleN = 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    cc shouldBe Array(1L, 9L)
  }

  test("keep-best policy: the highest-score member survives the " +
    "component, ties break to smallest id, singletons untouched") {
    import spark.implicits._
    // same star component {1,2,5} as above; score makes 2 the best
    val t = (1 to 8).map(i => s"tok$i")
    def star(scores: Map[Long, Long]) = Seq(
      (1L, (t.take(6) ++ Seq("alpha", "bravo")).mkString(" ")),
      (2L, (t.drop(2) ++ Seq("charlie", "delta")).mkString(" ")),
      (5L, t.mkString(" ")),
      (9L, "entirely unrelated words about catalyst plans and shuffles")
    ).map { case (id, tx) => (id, tx, scores(id)) }
      .toDF("doc_id", "text", "score")
    val best = Dedup.dropNearDupsKeepBest(
      star(Map(1L -> 10L, 2L -> 99L, 5L -> 50L, 9L -> 1L)),
      "doc_id", "text", "score", threshold = 0.5,
      k = 12, bands = 12, shingleN = 1)
      .select("doc_id").as[Long].collect().sorted
    best shouldBe Array(2L, 9L) // NOT min-id 1: quality wins
    // all-equal scores degenerate to the CC min-id policy
    val tied = Dedup.dropNearDupsKeepBest(
      star(Map(1L -> 7L, 2L -> 7L, 5L -> 7L, 9L -> 7L)),
      "doc_id", "text", "score", threshold = 0.5,
      k = 12, bands = 12, shingleN = 1)
      .select("doc_id").as[Long].collect().sorted
    tied shouldBe Array(1L, 9L)
  }

  test("sentence dedup keeps first occurrence, rebuilds docs in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The cat sat. Common footer here. Unique line one."),
      (2L, "Common footer here. Another thought! The cat sat."),
      (3L, "Common footer here.")).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedSentences(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    out shouldBe Array(
      // doc 1 first-sees all three of its sentences, original order kept
      (1L, "The cat sat Common footer here Unique line one", 3L),
      // doc 2 keeps only its genuinely new sentence
      (2L, "Another thought", 1L))
    // doc 3 (nothing left) dropped entirely
  }

  test("decontaminate drops docs sharing a 5-gram with the benchmark") {
    import spark.implicits._
    val corpus = Seq(
      // shares "the quick brown fox jumps" with the benchmark doc
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "a completely unrelated sentence about spark and catalyst"),
      (3L, "too short to shingle") // < 5 tokens → can't be contaminated
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "we saw the quick brown fox jumps over a fence")
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench, "doc_id", "text", 5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    kept shouldBe Array(2L, 3L)
  }

  test("decontaminationReport: exact per-doc overlap counts and " +
    "fraction, zero-shingle docs report zeros") {
    import spark.implicits._
    val corpus = Seq(
      // doc 1: tokens t1..t6 → 5-grams g(1..5), g(2..6); benchmark has
      // g(1..5) ("the quick brown fox jumps") but not g(2..6) → 1 of 2
      (1L, "the quick brown fox jumps high above"),
      (2L, "a completely unrelated sentence about spark and catalyst"),
      (3L, "too short to shingle")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "we saw the quick brown fox jumps over a fence")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminationReport(corpus, bench, "doc_id",
      "text", shingleN = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // doc 1: 3 shingles ("the quick brown fox jumps", "quick brown fox
    // jumps high", "brown fox jumps high above"), 1 overlaps → 1/3
    got shouldBe Array(
      (1L, 3L, 1L, 1.0 / 3.0),
      (2L, 4L, 0L, 0.0),
      (3L, 0L, 0L, 0.0))
  }

  test("maxBucket skew guard: a hot band bucket is dropped, small ones kept") {
    import spark.implicits._
    // 30 identical docs land in ONE band bucket per band (the LSH skew
    // failure mode); 2 identical others form a small independent bucket
    val hotText = "same boilerplate template text repeated across the corpus"
    val d = ((1L to 30L).map(i => (i, hotText)) ++ Seq(
      (101L, "rare pair of matching documents about spark shuffles"),
      (102L, "rare pair of matching documents about spark shuffles")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashCandidatePairs(d, "doc_id", "text",
      k = 12, bands = 4, shingleN = 3).count()
    uncapped shouldBe (30L * 29 / 2) + 1 // full quadratic bucket + the pair
    val capped = Dedup.minhashCandidatePairs(d, "doc_id", "text",
      k = 12, bands = 4, shingleN = 3, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    capped shouldBe Set(101L -> 102L) // hot bucket dropped, small kept
  }

  test("dropUrlDups keeps the lowest id per canonical url") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://Example.org/p?b=2&a=1"),
      (2L, "https://example.org:443/p?a=1&b=2#frag"), // same page as 1
      (3L, "https://example.org/p?utm_source=x&a=1&b=2"), // same page
      (4L, "https://example.org/q?a=1"), // different path
      (5L, "http://example.org/p?a=1&b=2")) // different scheme
      .toDF("doc_id", "url")
    val kept = Dedup.dropUrlDups(docs, "doc_id", "url")
      .select("doc_id").as[Long].collect().sorted
    kept.toSeq shouldBe Seq(1L, 4L, 5L)
  }

  test("keepLatest: newest wins per key, equal timestamps break by tie " +
    "column, exactly one survivor per key") {
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val log = Seq(
      (7L, "addr", ts(1), 101L, "v1"),
      (7L, "addr", ts(5), 102L, "v2"),   // newest ts for (7, addr)
      (7L, "name", ts(3), 103L, "n1"),
      (7L, "name", ts(3), 104L, "n2"),   // ts tie → higher event_id wins
      (9L, "addr", ts(2), 105L, "w1"))
      .toDF("entity", "field", "ts", "event_id", "payload")
    val got = Dedup.keepLatest(log, Seq("entity", "field"), "ts",
      "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(3), r.getString(4))).toMap
    got.size shouldBe 3
    got((7L, "addr")) shouldBe ((102L, "v2"))
    got((7L, "name")) shouldBe ((104L, "n2")) // deterministic tie-break
    got((9L, "addr")) shouldBe ((105L, "w1"))
  }

  test("editDistancePairs: every lev<=1 class found (exact recall), " +
    "lev-2 pairs excluded, bounds enforced") {
    import spark.implicits._
    val docs = Seq(
      (1L, "color colour"),       // insertion pair
      (2L, "spark spork spark"),  // substitution pair (dup token ok)
      (3L, "table tables fable"), // table~tables (ins), table~fable (sub)
      (4L, "tablet"),             // lev 2 from table? no: 1 ins → pair!
      (5L, "zebra quartz"),       // no neighbors
      (6L, "ab xy"))              // under minTokenLen: dropped
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "text", 4, 20)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    val pairs = got.map(t => (t._1, t._2))
    pairs shouldBe Set(
      ("color", "colour"), ("spark", "spork"),
      ("fable", "table"), ("table", "tables"), ("table", "tablet"),
      ("tables", "tablet")) // tables~tablet: substitute s→t, lev 1
    got.foreach(_._3 should be <= 1)
    // deterministic orientation: always tok_a < tok_b
    pairs.foreach { case (a, b) => a should be < b }
  }

  test("dupSpans: cross-doc shared windows flagged, within-doc repeats " +
    "and short docs excluded") {
    // docs 1 and 2 share the 4-token span "alpha beta gamma delta"
    // embedded in otherwise different text; doc 3 repeats a span
    // INTERNALLY only (must not count as cross-doc); doc 4 is unrelated;
    // doc 5 is shorter than the window (dropped from the output)
    val corpus = Seq(
      (1L, "alpha beta gamma delta one two three"),
      (2L, "zero alpha beta gamma delta nine eight"),
      (3L, "rep rep rep rep rep rep rep"),
      (4L, "an entirely different and unrelated document here"),
      (5L, "too short")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpans(corpus, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "n_dup_spans")
      .as[(Long, Long, Long)].collect().toSeq
    // 7 tokens → 4 windows each for docs 1/3/4; 7 tokens doc 2 → 4
    got.map(_._1) shouldBe Seq(1L, 2L, 3L, 4L) // doc 5 dropped (<4 toks)
    val byId = got.map(g => g._1 -> g).toMap
    byId(1L)._2 shouldBe 4L
    byId(1L)._3 shouldBe 1L // exactly the shared "alpha beta gamma delta"
    byId(2L)._3 shouldBe 1L
    byId(3L)._3 shouldBe 0L // internal repetition is NOT cross-doc dup
    byId(4L)._3 shouldBe 0L
    // frac is exact int/int division
    Dedup.dupSpans(corpus, "doc_id", "text", n = 4)
      .filter(col("doc_id") === 1L)
      .select("dup_span_frac").as[Double].head() shouldBe 0.25
  }

  test("recall-loss counter: over-cap LSH buckets are counted with " +
    "their membership; an uncapped run records zero") {
    import graft.util.Metrics
    // six identical docs → one size-6 bucket per band (4 bands); cap 5
    // drops all four buckets, losing every candidate pair — the counter
    // must say so instead of the pipeline silently returning empty
    val corpus = (1L to 6L)
      .map(i => (i, "same boilerplate text repeated across this corpus"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
      maxBucket = 5)
    capped.collect() shouldBe empty
    Metrics.drops(capped) shouldBe ((4L, 24L))
    val open = Dedup.minhashCandidatePairs(corpus, "doc_id", "text")
    open.collect().length shouldBe 15 // C(6,2)
    Metrics.drops(open) shouldBe ((0L, 0L))
    // the image bands share the cap contract: 6 identical hashes → 4
    // over-cap buckets at cap 5, none at the default
    val hashes = (1L to 6L).map(i => (i, 0x0123456789abcdefL))
      .toDF("doc_id", "ph")
    val img = Dedup.imageNearDupPairs(hashes, "doc_id", "ph",
      maxBucket = 5)
    img.collect() shouldBe empty
    Metrics.drops(img) shouldBe ((4L, 24L))
    val imgOpen = Dedup.imageNearDupPairs(hashes, "doc_id", "ph")
    imgOpen.collect().length shouldBe 15
    Metrics.drops(imgOpen) shouldBe ((0L, 0L))
  }

  test("recall-loss counter: a second action on the same frame reports " +
    "the first run's drops; a frame whose own plan never ran fails") {
    import graft.util.Metrics
    val corpus = (1L to 6L)
      .map(i => (i, "same boilerplate text repeated across this corpus"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
      maxBucket = 5)
    capped.collect()
    Metrics.drops(capped) shouldBe ((4L, 24L))
    // the cap ran in a stage that feeds a join; the second collect
    // reuses that stage's output, so nothing is counted twice
    capped.collect()
    Metrics.drops(capped) shouldBe ((4L, 24L))
    // count() plans the frame anew: this frame's own plan never ran
    val other = Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
      maxBucket = 5)
    other.count() shouldBe 0L
    an[IllegalStateException] should be thrownBy Metrics.drops(other)
  }

  test("recall-loss counter: an eager builder's result carries the drops " +
    "of the run that filled it, and reading them starts no job") {
    import graft.util.Metrics
    val corpus = (1L to 6L)
      .map(i => (i, "same boilerplate text repeated across this corpus"))
      .toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    for ((cap, want) <- Seq(5 -> ((4L, 24L)), 10000 -> ((0L, 0L)))) {
      val pairs = Dedup.nearDupPairs(corpus, "doc_id", "text",
        threshold = 0.5, maxBucket = cap)
      try {
        org.apache.spark.sql.graftbridge.Bridge
          .drainListeners(spark.sparkContext)
        spark.sparkContext.addSparkListener(listener)
        jobs.set(0)
        Metrics.drops(pairs) shouldBe want
        org.apache.spark.sql.graftbridge.Bridge
          .drainListeners(spark.sparkContext)
        jobs.get shouldBe 0
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        pairs.unpersist()
      }
    }
  }

  test("dropDupSpans: overlap-merge — a shared passage excises ONCE " +
    "(union of window positions), keeper doc keeps it") {
    // the 6-token passage alpha..zeta yields THREE overlapping 4-token
    // windows shared by both docs; doc 2 must lose exactly the 6
    // passage tokens (coverage union), not 3 windows × 4 tokens
    val corpus = Seq(
      (1L, "intro one two alpha beta gamma delta epsilon zeta end1 end2"),
      (2L, "start alpha beta gamma delta epsilon zeta tail1 tail2 tail3")
    ).toDF("doc_id", "text")
    val got = Dedup.dropDupSpans(corpus, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .select("doc_id", "text_kept", "n_kept")
      .as[(Long, String, Long)].collect().toSeq
    got shouldBe Seq(
      (1L, "intro one two alpha beta gamma delta epsilon zeta end1 end2",
        11L), // global first occurrence: keeper keeps the passage
      (2L, "start tail1 tail2 tail3", 4L)) // passage excised once
  }

  test("dropDupSpans: a keeper doc's own LATER copy of the span is " +
    "excised — only the single global-first occurrence survives") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta mid1 mid2 alpha beta gamma delta"),
      (2L, "pre alpha beta gamma delta post1 post2")
    ).toDF("doc_id", "text")
    val got = Dedup.dropDupSpans(corpus, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .select("doc_id", "text_kept", "n_kept")
      .as[(Long, String, Long)].collect().toSeq
    got shouldBe Seq(
      (1L, "alpha beta gamma delta mid1 mid2", 6L),
      (2L, "pre post1 post2", 3L))
  }

  test("dropDupSpans: fully-excised docs drop out; short docs, " +
    "within-doc-only repeats, and unrelated docs pass untouched") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"), // keeper (first occurrence)
      (2L, "alpha beta gamma delta"), // whole doc excised → drops out
      (3L, "tiny doc"),               // < n tokens: no windows
      (4L, "an entirely different and unrelated document here"),
      (5L, "rep rep rep rep rep")     // within-doc repeat: nd = 1
    ).toDF("doc_id", "text")
    val got = Dedup.dropDupSpans(corpus, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toSeq
    got shouldBe Seq((1L, 4L), (3L, 2L), (4L, 7L), (5L, 5L))
  }

  test("dropDupSpans converges on random corpora: repeated application " +
    "reaches a fixed point (total tokens strictly decrease until then — " +
    "excision can create NEW shared windows by making survivors " +
    "adjacent, so one pass is not always idempotent) and the fixed " +
    "point has ZERO excisable cross-doc windows") {
    val rng = new scala.util.Random(42)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    val passages = Vector.tabulate(4)(p =>
      Vector.tabulate(6 + p)(i => s"shared${p}_$i"))
    val docs = (1L to 30L).map { id =>
      // random filler interleaved with 0-2 shared passages
      val parts = Seq.fill(2 + rng.nextInt(3))(
        Seq.fill(3 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size))))
      val shared = Seq.fill(rng.nextInt(3))(passages(rng.nextInt(4)))
      val toks = rng.shuffle(parts ++ shared).flatten
      id -> toks.mkString(" ")
    }.toDF("doc_id", "text")
    def snapshot(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .toMap
    var cur = docs.select("doc_id", "text")
    var prev = snapshot(cur)
    var fixed = false
    var passes = 0
    while (!fixed && passes < 6) {
      cur = Dedup.dropDupSpans(cur, "doc_id", "text", n = 4)
        .select(col("doc_id"), col("text_kept").as("text"))
      val now = snapshot(cur)
      fixed = now == prev
      if (!fixed) { // progress is monotone: total kept tokens shrink
        now.values.map(_.split("\\s+").length).sum should be <
          prev.values.map(_.split("\\s+").length).sum
      }
      prev = now
      passes += 1
    }
    fixed shouldBe true
    passes should be > 1 // the generator produced real duplication
    // the fixed point has nothing left to excise
    val residual = Dedup.dupSpans(cur, "doc_id", "text", n = 4)
      .agg(sum("n_dup_spans")).head.getLong(0)
    residual shouldBe 0L
  }

  test("dropDupSubstrings: a >= minLen shared substring excises from " +
    "the LATER doc only; shorter shared substrings survive everywhere") {
    val corpus = Seq(
      (1L, "intro one alpha beta gamma delta epsilon zeta end1 end2"),
      (2L, "start alpha beta gamma delta epsilon zeta tail1 tail2"),
      (3L, "short alpha beta gamma other words five six seven")
    ).toDF("doc_id", "text")
    val got = Dedup.dropDupSubstrings(corpus, "doc_id", "text",
        minLen = 6, seedN = 3)
      .orderBy("doc_id")
      .select("doc_id", "text_kept", "n_kept")
      .as[(Long, String, Long)].collect().toSeq
    got shouldBe Seq(
      (1L, "intro one alpha beta gamma delta epsilon zeta end1 end2",
        10L), // first occurrence keeps the 6-token passage
      (2L, "start tail1 tail2", 3L), // later copy excised as a UNIT
      (3L, "short alpha beta gamma other words five six seven",
        9L)) // 3-token overlap < minLen: untouched
  }

  test("dropDupSubstrings: seed-and-extend is SOUND — chained " +
    "different-partner seed matches never stitch a span that occurs " +
    "nowhere as a whole (the naive seed-coverage relaxation would)") {
    // every 3-token seed of doc 3's t1..t6 stretch is duplicated
    // SOMEWHERE (p1-p3 in doc 1, p2-p4 in doc 2), but no single
    // partner matches >= 6 consecutive tokens — nothing may be excised
    val corpus = Seq(
      (1L, "a1 t1 t2 t3 t4 t5 a2"),
      (2L, "b1 t2 t3 t4 t5 t6 b2"),
      (3L, "t1 t2 t3 t4 t5 t6")
    ).toDF("doc_id", "text")
    val got = Dedup.dropDupSubstrings(corpus, "doc_id", "text",
        minLen = 6, seedN = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toSeq
    got shouldBe Seq((1L, 7L), (2L, 7L), (3L, 6L))
  }

  test("dropDupSubstrings: WITHIN-doc periodic repeats self-match on " +
    "the period diagonal and excise down to the first copy — the Lee " +
    "et al. case the minDocs >= 2 window family leaves alone") {
    val corpus = Seq(
      (1L, "alpha beta alpha beta alpha beta alpha beta"),
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8")
    ).toDF("doc_id", "text")
    val got = Dedup.dropDupSubstrings(corpus, "doc_id", "text",
        minLen = 4, seedN = 2)
      .orderBy("doc_id")
      .select("doc_id", "text_kept", "n_kept")
      .as[(Long, String, Long)].collect().toSeq
    // diag-2 self-match runs over the whole period: positions 3..8 go
    got shouldBe Seq(
      (1L, "alpha beta", 2L),
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8", 8L))
  }

  test("dropDupSubstrings: keep-first across 3+ copies (earliest doc " +
    "survives, every later copy pairs against an earlier one and " +
    "drops); fully-excised docs drop out of the result") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "an entirely different and unrelated document")
    ).toDF("doc_id", "text")
    val got = Dedup.dropDupSubstrings(corpus, "doc_id", "text",
        minLen = 6, seedN = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toSeq
    got shouldBe Seq((1L, 6L), (4L, 6L))
  }

  test("dropDupSubstrings: tokensCol threading is result-identical and " +
    "keepToksCol re-emits exactly the kept token array") {
    val corpus = Seq(
      (1L, "intro one alpha beta gamma delta epsilon zeta end1 end2"),
      (2L, "start alpha beta gamma delta epsilon zeta tail1 tail2")
    ).toDF("doc_id", "text")
    val plain = Dedup.dropDupSubstrings(corpus, "doc_id", "text",
        minLen = 6, seedN = 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val threaded = Dedup.dropDupSubstrings(
        corpus.withColumn("__toks",
          graft.enrich.CaptionStats.tokens(col("text"))),
        "doc_id", "text", minLen = 6, seedN = 3,
        tokensCol = Some("__toks"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    threaded shouldBe plain
    val withKt = Dedup.dropDupSubstrings(corpus, "doc_id", "text",
        minLen = 6, seedN = 3, keepToksCol = Some("kt"))
      .orderBy("doc_id")
      .select("text_kept", "kt")
      .as[(String, Seq[String])].collect()
    withKt.foreach { case (txt, kt) =>
      kt shouldBe txt.split("\\s+").toSeq
    }
  }

  test("dropDupSubstrings equals an O(n²·len²) brute-force reference " +
    "on random corpora: maximal diagonal token-match runs >= minLen " +
    "excise the later side — seeded generators, 5 corpora") {
    val minLen = 5; val seedN = 3
    // reference: maximal token-match runs per (docA, docB, diagonal);
    // a seed-run a..b tiles exactly the token run a..b+seedN-1, so the
    // operator's excision set is precisely the union of later-side
    // positions of maximal token runs of length >= minLen
    def reference(docs: Seq[(Long, Vector[String])])
        : Map[Long, Vector[String]] = {
      val cov = scala.collection.mutable.Map.empty[Long,
        scala.collection.mutable.Set[Int]]
      for ((ia, ta) <- docs; (ib, tb) <- docs
           if ia < ib || ia == ib) {
        val diags =
          if (ia == ib) 1 until tb.length
          else (1 - ta.length) until tb.length
        for (d <- diags) {
          var i = 1
          while (i <= ta.length) {
            if (i + d >= 1 && i + d <= tb.length &&
                ta(i - 1) == tb(i + d - 1)) {
              var j = i
              while (j <= ta.length && j + d <= tb.length &&
                     ta(j - 1) == tb(j + d - 1)) j += 1
              if (j - i >= minLen) {
                val set = cov.getOrElseUpdate(ib,
                  scala.collection.mutable.Set.empty[Int])
                (i + d until j + d).foreach(set += _)
              }
              i = j + 1
            } else i += 1
          }
        }
      }
      docs.flatMap { case (id, ts) =>
        val kept = ts.zipWithIndex.collect {
          case (t, i0) if !cov.get(id).exists(_.contains(i0 + 1)) => t
        }
        if (kept.nonEmpty) Some(id -> kept) else None
      }.toMap
    }
    for (seed <- 1 to 5) {
      val rng = new scala.util.Random(seed)
      val vocab = Vector.tabulate(12)(i => s"w$i") // small → natural dups
      val passages = Vector.tabulate(3)(p =>
        Vector.tabulate(minLen + p)(i => s"p${p}_$i"))
      val docs = (1L to 8L).map { id =>
        val filler = Vector.fill(6 + rng.nextInt(14))(
          vocab(rng.nextInt(vocab.size)))
        val planted = if (rng.nextBoolean())
          passages(rng.nextInt(3)) else Vector.empty
        val cut = rng.nextInt(filler.size + 1)
        id -> (filler.take(cut) ++ planted ++ filler.drop(cut))
      }
      val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Dedup.dropDupSubstrings(df, "doc_id", "text",
          minLen = minLen, seedN = seedN, maxOcc = 100000)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          r.getAs[String]("text_kept").split(" ").toVector).toMap
      withClue(s"seed=$seed docs=${docs.map(_._2.mkString(" "))}: ") {
        got shouldBe reference(docs)
      }
    }
  }

  test("decontaminateSubstrings: a benchmark span >= minLen is excised " +
    "from EVERY corpus copy (no keep-first — the benchmark is " +
    "reference text), shorter overlaps survive, and the d8 contrast " +
    "holds: one shared 5-gram no longer costs the whole document") {
    val bench = Seq(
      (900L, "ignore the question what is the capital of france exactly"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // leaks the 7-token benchmark question → span excised, prose kept
      (1L, "intro text the question what is the capital of france ending"),
      // SECOND copy of the leak — also excised (no keeper)
      (2L, "other words the question what is the capital of france here"),
      // shares only 'the question what' (3 < 6) → untouched by d26...
      (3L, "but the question what remains is entirely different prose"),
      (4L, "completely unrelated document with original content")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminateSubstrings(corpus, bench, "doc_id",
        "text", minLen = 6, seedN = 3)
      .orderBy("doc_id")
      .select("doc_id", "text_kept")
      .as[(Long, String)].collect().toSeq
    got shouldBe Seq(
      (1L, "intro text ending"),
      (2L, "other words here"),
      (3L, "but the question what remains is entirely different prose"),
      (4L, "completely unrelated document with original content"))
    // ...while d8 at shingleN = 3 would DROP doc 3 outright for the
    // single shared 3-gram — the precision difference d26 exists for
    val d8ids = Dedup.decontaminate(corpus, bench, "doc_id", "text",
        shingleN = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    d8ids shouldBe Set(4L)
  }

  test("decontaminateSubstrings: a corpus doc that IS benchmark text " +
    "drops out entirely; within-corpus duplication alone is never " +
    "excised (that axis is dropDupSubstrings)") {
    val bench = Seq((900L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // = benchmark → drops
      (2L, "own words one two three four five six seven"),
      (3L, "own words one two three four five six seven") // corpus dup
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminateSubstrings(corpus, bench, "doc_id",
        "text", minLen = 6, seedN = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toSeq
    got shouldBe Seq((2L, 9L), (3L, 9L)) // both corpus dups SURVIVE
  }

  test("substringContaminationReport: per-doc coverage counts match " +
    "what decontaminateSubstrings would excise, clean docs report " +
    "(n, 0, 0.0), and thresholding reproduces a tunable drop pass") {
    val bench = Seq(
      (900L, "ignore the question what is the capital of france exactly"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro text the question what is the capital of france ending"),
      (2L, "but the question what remains is entirely different prose"),
      (3L, "completely unrelated document with original content")
    ).toDF("doc_id", "text")
    val rep = Dedup.substringContaminationReport(corpus, bench,
        "doc_id", "text", minLen = 6, seedN = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_toks", "n_contaminated", "contamination_frac")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc 1: the 8-token leaked stretch out of 11; 2 and 3 clean
    rep shouldBe Seq(
      (1L, 11L, 8L, 8.0 / 11.0),
      (2L, 9L, 0L, 0.0),
      (3L, 6L, 0L, 0.0))
    // report counts == what the excision actually removes
    val excised = Dedup.decontaminateSubstrings(corpus, bench,
        "doc_id", "text", minLen = 6, seedN = 3)
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
    rep.foreach { case (id, n, c, _) =>
      excised.getOrElse(id, 0L) shouldBe n - c
    }
  }

  test("decontamination family: threading tokensCol on ONE side fails " +
    "LOUD — a mismatched tokenization would silently share zero seed " +
    "hashes (missed contamination); both-threaded still ≡ default") {
    val bench = Seq((900L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "own words entirely unrelated to the benchmark text"))
      .toDF("doc_id", "text")
      .withColumn("toks", graft.enrich.CaptionStats.tokens(col("text")))
    val e1 = intercept[IllegalArgumentException] {
      Dedup.decontaminateSubstrings(corpus, bench, "doc_id", "text",
        minLen = 6, seedN = 3, tokensCol = Some("toks"))
    }
    e1.getMessage should include("BOTH threaded or BOTH default")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.substringContaminationReport(corpus, bench, "doc_id",
        "text", minLen = 6, seedN = 3, benchTokensCol = Some("toks"))
    }
    e2.getMessage should include("BOTH threaded or BOTH default")
    // both-threaded passes the guard and matches the default path
    val benchT = bench.withColumn("toks",
      graft.enrich.CaptionStats.tokens(col("text")))
    val threaded = Dedup.decontaminateSubstrings(corpus, benchT,
        "doc_id", "text", minLen = 6, seedN = 3,
        tokensCol = Some("toks"), benchTokensCol = Some("toks"))
      .select("doc_id", "text_kept").as[(Long, String)].collect().toSeq
    val default = Dedup.decontaminateSubstrings(corpus, bench,
        "doc_id", "text", minLen = 6, seedN = 3)
      .select("doc_id", "text_kept").as[(Long, String)].collect().toSeq
    threaded should contain theSameElementsAs default
    threaded.map(_._1) shouldBe Seq(2L) // doc 1 IS benchmark → dropped
  }

  test("dropContaminatedDocs: the threshold grades wholesale leaks vs " +
    "partial overlap (strict >, so frac == maxFrac survives), kept " +
    "docs are byte-identical, and the drop agrees with the report") {
    val bench = Seq((900L,
      "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12")).toDF("doc_id", "text")
    val own = (1 to 12).map(i => s"o$i").mkString(" ")
    val corpus = Seq(
      // frac 1.0: the doc IS the benchmark
      (1L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"),
      // frac 0.5: 12 leaked tokens + 12 own
      (2L, s"b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 $own"),
      // frac 0.25: 12 leaked + 36 own
      (3L, s"b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 $own " +
        (13 to 36).map(i => s"o$i").mkString(" ")),
      // clean
      (4L, "entirely original words with no benchmark overlap at all")
    ).toDF("doc_id", "text")
    def keptIds(maxFrac: Double) = Dedup.dropContaminatedDocs(
        corpus, bench, "doc_id", "text", maxFrac = maxFrac,
        minLen = 12, seedN = 5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    keptIds(0.6) shouldBe Seq(2L, 3L, 4L)
    keptIds(0.5) shouldBe Seq(2L, 3L, 4L) // strict >: 0.5 survives 0.5
    keptIds(0.49) shouldBe Seq(3L, 4L)
    keptIds(0.2) shouldBe Seq(4L)
    // kept docs are UNMODIFIED (the d26 contrast: no excision here)
    val kept2 = Dedup.dropContaminatedDocs(corpus, bench, "doc_id",
        "text", maxFrac = 0.5, minLen = 12, seedN = 5)
      .filter(col("doc_id") === 2L).select("text").head().getString(0)
    kept2 shouldBe s"b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 $own"
    // definitional agreement with the report's fracs
    val fracs = Dedup.substringContaminationReport(corpus, bench,
        "doc_id", "text", minLen = 12, seedN = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("contamination_frac")).toMap
    fracs(1L) shouldBe 1.0
    fracs(2L) shouldBe 0.5
    fracs(3L) shouldBe 0.25
    fracs(4L) shouldBe 0.0
    keptIds(0.3) shouldBe fracs.filter(_._2 <= 0.3).keys.toSeq.sorted
  }

  test("dropDupSubstrings: the maxOcc seed cap drops viral seeds " +
    "(recall-only — copies survive) and the standalone report counts " +
    "the loss") {
    import graft.util.Metrics
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    // every 3-seed occurs 3 times > maxOcc = 2: no eligible seeds, so
    // the duplicates SURVIVE (recall loss, never precision)
    def kept(maxOcc: Int) = Dedup.dropDupSubstrings(corpus, "doc_id",
      "text", minLen = 6, seedN = 3, maxOcc = maxOcc)
      .orderBy("doc_id").select("doc_id", "n_kept")
    val capped = kept(2)
    capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Seq((1L, 6L), (2L, 6L), (3L, 6L))
    // 4 distinct seed hashes, each with 3 occurrences over the cap
    Metrics.drops(capped) shouldBe ((4L, 12L))
    // at the default cap nothing drops and dedup proceeds
    val open = kept(1000)
    open.collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    Metrics.drops(open) shouldBe ((0L, 0L))
  }

  test("decontaminateSubstrings: the benchmark-side maxOcc cap counts " +
    "the viral benchmark seeds it drops") {
    import graft.util.Metrics
    val text = "alpha beta gamma delta epsilon zeta"
    // every 3-seed occurs 3 times in the BENCHMARK: over cap 2
    val bench = Seq(101L -> text, 102L -> text, 103L -> text)
      .toDF("doc_id", "text")
    val corpus = Seq(1L -> s"$text omega", 2L -> "unrelated words here")
      .toDF("doc_id", "text")
    def run(maxOcc: Int) = Dedup.decontaminateSubstrings(corpus, bench,
        "doc_id", "text", minLen = 6, seedN = 3, maxOcc = maxOcc)
      .orderBy("doc_id").select("doc_id", "n_kept")
    val capped = run(2)
    // capped: the leaked passage is missed (the recall loss counted)
    capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Seq((1L, 7L), (2L, 3L))
    Metrics.drops(capped) shouldBe ((4L, 12L))
    val open = run(10000)
    open.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Seq((1L, 1L), (2L, 3L))
    Metrics.drops(open) shouldBe ((0L, 0L))
  }

  test("NFC-first keying (default) merges decomposed/precomposed " +
    "duplicates across d1/d8/d9/d13; nfc=false keys raw bytes") {
    import spark.implicits._
    // identical text up to Unicode composition: precomposed U+00E9 in
    // doc 1, decomposed e + combining U+0301 in doc 2 — different bytes,
    // canonically equivalent, the pair every byte-keyed dedup misses
    // the accented token sits mid-text so EVERY 5-gram shingle and the
    // 6-token span contain it — byte-keyed matching must find nothing
    val pre = "menu caf\u00e9 lists seven drinks today"
    val dec = "menu cafe\u0301 lists seven drinks today"
    val d = Seq((1L, pre), (2L, dec)).toDF("doc_id", "text")

    // d1 exact dedup: one group of two, canonical = min id; raw-byte
    // keying sees no duplicates at all
    val g = Dedup.exactGroups(d, "doc_id", "text")
      .filter(col("n_members") > 1).collect()
    g.length shouldBe 1
    g(0).getAs[Long]("canonical_id") shouldBe 1L
    g(0).getAs[Long]("n_members") shouldBe 2L
    Dedup.exactGroups(d, "doc_id", "text", nfc = false)
      .filter(col("n_members") > 1).count() shouldBe 0L

    // d9 sentence dedup: the sentence merges across composition, doc 2
    // empties out, and the KEPT text is doc 1's original bytes
    val s9 = Dedup.dropRepeatedSentences(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    s9.map(_.getLong(0)) shouldBe Array(1L)
    s9(0).getString(1) shouldBe pre
    Dedup.dropRepeatedSentences(d, "doc_id", "text", nfc = false)
      .count() shouldBe 2L

    // d13 dup-spans: the 6-token window is cross-doc shared despite the
    // composition difference; raw-byte keying finds nothing
    val sp = Dedup.dupSpans(d, "doc_id", "text", n = 6)
      .orderBy("doc_id").select("doc_id", "n_dup_spans")
      .as[(Long, Long)].collect()
    sp shouldBe Array((1L, 1L), (2L, 1L))
    Dedup.dupSpans(d, "doc_id", "text", n = 6, nfc = false)
      .agg(sum("n_dup_spans")).as[Long].head() shouldBe 0L

    // d8 decontamination: a benchmark phrase with precomposed bytes
    // still poisons the decomposed crawl copy
    Dedup.decontaminate(
      d.filter(col("doc_id") === 2L), d.filter(col("doc_id") === 1L),
      "doc_id", "text", 5).count() shouldBe 0L
    Dedup.decontaminate(
      d.filter(col("doc_id") === 2L), d.filter(col("doc_id") === 1L),
      "doc_id", "text", 5, nfc = false).count() shouldBe 1L
  }

  test("containmentPairs: an embedded doc scores full containment " +
    "where Jaccard stays low; the smaller set drops; ties to larger id") {
    import spark.implicits._
    // big ⊃ small with ~3.5× the shingles: J = 4/14 ≈ 0.29 — below
    // d6's 0.5 Jaccard bar — while containment is exactly 1.0. The
    // 1-row-per-band default (bands = k) is what lets a J≈0.29 pair
    // reach the candidate set at all.
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " " + (1 to 10).map(i => s"filler$i").mkString(" ")
    val d = Seq(
      (1L, big),    // superset — survives
      (2L, small),  // embedded copy — contained, drops
      (3L, "totally different content about other things entirely " +
        "with many words"),
      (4L, small)   // exact dup of 2 → mutual containment, tie → 4 drops
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(d, "doc_id", "text",
      threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
    // (1,2) and (1,4): small fully contained in big; (2,4): exact pair
    pairs.map(p => (p._1, p._2)).toSet shouldBe
      Set((1L, 2L), (1L, 4L), (2L, 4L))
    pairs.foreach(_._3 shouldBe 1.0)
    pairs.find(p => p._1 == 1L && p._2 == 2L).get._4 shouldBe 2L
    pairs.find(p => p._1 == 2L && p._2 == 4L).get._4 shouldBe 4L // tie
    // the same pair's symmetric JACCARD sits below the standard 0.5
    // dedup bar — the MEASURE is what d6 lacks, not the candidates
    val jv = spark.range(1).select(
      Dedup.ngramJaccard(lit(big), lit(small), 3).as("j"))
      .head.getDouble(0)
    jv should be < 0.5
    val kept = Dedup.dropContainedDocs(d, "doc_id", "text", 0.9)
      .collect().map(_.getLong(0)).toSet
    kept shouldBe Set(1L, 3L)
  }

  test("dropRepeatedSentencesWithin: keeps first occurrence in order, " +
    "cross-doc copies untouched, zero-sentence docs drop, map-only plan") {
    import spark.implicits._
    val d = Seq(
      // repeated sentence "aa bb" excised at its SECOND position only
      (1L, "aa bb. cc dd. aa bb. ee ff."),
      // cross-doc duplicate of doc 1's sentence — within-doc pass keeps it
      (2L, "aa bb."),
      // no sentences → drops
      (3L, "   "),
      // all distinct → untouched
      (4L, "xx. yy.")).toDF("doc_id", "text")
    val r = Dedup.dropRepeatedSentencesWithin(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    r shouldBe Array(
      (1L, "aa bb cc dd ee ff", 3L),
      (2L, "aa bb", 1L),
      (4L, "xx yy", 2L))
    val plan = Dedup.dropRepeatedSentencesWithin(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should not include "Join"
  }

  /** Independent md5-bucket computation (java MessageDigest, not Spark)
    * for the leakageSafeSplit assertions. */
  private def expectedSplit(group: Long, trainFrac: Double,
                            valFrac: Double): String = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(group.toString.getBytes("UTF-8"))
      .take(2).map(b => f"$b%02x").mkString
    val bucket = Integer.parseInt(hex, 16)
    if (bucket < math.floor(trainFrac * 65536).toInt) "train"
    else if (bucket < math.floor((trainFrac + valFrac) * 65536).toInt) "val"
    else "test"
  }

  test("leakageSafeSplit: components move whole, assignment matches an " +
    "independent md5-bucket computation, singletons keep their own id") {
    val out = Dedup.leakageSafeSplit(docs, "doc_id", "text",
      threshold = 0.5, bands = 6, shingleN = 1)
      .select("doc_id", "group_id", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    out.keySet shouldBe Set(1L, 2L, 3L, 4L, 5L)
    // {1,2,3,5} is one near-dup component on unigram shingles (the
    // candidate-pair test's params: jaccard(1,5) = 7/9, banding k=12/b=6
    // surfaces it) — all four share one group AND one split
    Set(out(1L), out(2L), out(3L), out(5L)).size shouldBe 1
    out(1L)._1 shouldBe 1L
    out(4L)._1 shouldBe 4L // unrelated doc: its own singleton group
    out(1L)._2 shouldBe expectedSplit(1L, 0.90, 0.05)
    out(4L)._2 shouldBe expectedSplit(4L, 0.90, 0.05)
  }

  test("leakageSafeSplit: no verified near-dup pair straddles a split " +
    "boundary, every doc assigned exactly once, custom fractions hit " +
    "every branch of the bucket rule") {
    import spark.implicits._
    // 12 exact-dup triples (certain verified pairs) + 12 singletons,
    // deterministic content — ids chosen so group labels spread buckets
    val base = (0 until 12).map(i =>
      s"sentence number $i about topic ${i * 7} with shared tail words " +
        s"alpha beta gamma delta epsilon zeta")
    val d = ((0 until 12).flatMap(i => Seq(0, 1, 2).map(v =>
      (i * 10L + v, base(i)))) ++
      (0 until 12).map(i => (500L + i * 3,
        s"unique singleton document $i carrying only its own words " +
          s"item${i}a item${i}b item${i}c item${i}d item${i}e item${i}f")))
      .toDF("doc_id", "text")
    val out = Dedup.leakageSafeSplit(d, "doc_id", "text", threshold = 0.5,
      trainFrac = 0.4, valFrac = 0.3)
    val rows = out.select("doc_id", "group_id", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    rows.length shouldBe d.count().toInt // every doc exactly once
    // partition property against the ACTUAL verified pairs
    val splitOf = rows.map(r => r._1 -> r._3).toMap
    val pairs = Dedup.nearDupPairs(d, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs should not be empty
    pairs.foreach { case (a, b) => splitOf(a) shouldBe splitOf(b) }
    // every assignment reproduces the independent bucket computation
    rows.foreach { case (_, g, s) =>
      s shouldBe expectedSplit(g, 0.4, 0.3) }
    // 24 md5-spread groups at 40/30/30 cuts: expect all three splits
    rows.map(_._3).toSet shouldBe Set("train", "val", "test")
  }

  test("leakageSafeSplit: degenerate fractions refused loudly") {
    an[IllegalArgumentException] should be thrownBy
      Dedup.leakageSafeSplit(docs, "doc_id", "text", threshold = 0.3,
        trainFrac = 0.7, valFrac = 0.3) // train+val must leave test mass
    an[IllegalArgumentException] should be thrownBy
      Dedup.leakageSafeSplit(docs, "doc_id", "text", threshold = 0.3,
        trainFrac = 0.0, valFrac = 0.1)
  }

  test("leakageSafeSplit: pre-existing group_id / split column refused " +
    "loudly instead of silently overwritten") {
    import spark.implicits._
    val withGroup = docs.withColumn("group_id",
      org.apache.spark.sql.functions.lit(0L))
    val eGroup = intercept[IllegalArgumentException] {
      Dedup.leakageSafeSplit(withGroup, "doc_id", "text", threshold = 0.5)
    }
    eGroup.getMessage should include("'group_id'")
    val withSplit = docs.withColumn("split",
      org.apache.spark.sql.functions.lit("train"))
    val eSplit = intercept[IllegalArgumentException] {
      Dedup.leakageSafeSplit(withSplit, "doc_id", "text", threshold = 0.5)
    }
    eSplit.getMessage should include("'split'")
    // case-INSENSITIVE: withColumn resolves 'Split' to the produced
    // column under the default spark.sql.caseSensitive=false, so the
    // guard must catch differently-cased collisions too
    val withCased = docs.withColumn("Split",
      org.apache.spark.sql.functions.lit("train"))
    an[IllegalArgumentException] should be thrownBy
      Dedup.leakageSafeSplit(withCased, "doc_id", "text", threshold = 0.5)
  }

  test("leakageSafeSplit: a new batch that BRIDGES two old groups " +
    "re-labels to the merged min and the merged group moves whole " +
    "(the SCALE.md o13 release-over-release contract)") {
    import spark.implicits._
    // release A: two separate near-dup groups (disjoint token sets) +
    // one singleton. Unigram shingles; J(a1,a2) = J(b1,b2) = 7/9.
    val aTok = "apple banana cherry date elder fig grape"
    val bTok = "kiwi lemon mango nectar olive peach quince"
    val relA = Seq(
      (10L, s"$aTok honey"), (11L, s"$aTok hazel"),
      (20L, s"$bTok rasp"), (21L, s"$bTok rowan"),
      (40L, "solitary words nothing shared here at all"))
      .toDF("doc_id", "text")
    // bands = 12 → 1-row bands: a candidate pair needs only ONE of the
    // 12 minhash coordinates to agree, so the J = 0.5 bridge pairs
    // below surface deterministically; precision is restored by the
    // exact-jaccard verify (>= threshold)
    def split(df: org.apache.spark.sql.DataFrame) =
      Dedup.leakageSafeSplit(df, "doc_id", "text", threshold = 0.5,
        bands = 12, shingleN = 1)
        .select("doc_id", "group_id", "split").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val before = split(relA)
    before(10L)._1 shouldBe 10L // group {10,11}
    before(11L)._1 shouldBe 10L
    before(20L)._1 shouldBe 20L // group {20,21} — separate from A's
    before(21L)._1 shouldBe 20L
    before(40L)._1 shouldBe 40L
    // release A ∪ B: doc 30 is the union of a1's and b1's token sets —
    // J(30, 10) = J(30, 20) = 8/16 = 0.5, bridging the two old groups
    val relAB = relA.union(Seq((30L, s"$aTok honey $bTok rasp"))
      .toDF("doc_id", "text"))
    val after = split(relAB)
    // merged component re-labels to the merged min everywhere...
    Seq(10L, 11L, 20L, 21L, 30L).foreach { id =>
      after(id)._1 shouldBe 10L
    }
    // ...and lands whole in exactly ONE split, the merged label's
    // bucket (the old b-group MOVES if md5(20) and md5(10) bucket
    // differently — leakage-safety outranks assignment stability)
    Seq(10L, 11L, 20L, 21L, 30L)
      .map(after(_)._2).toSet shouldBe Set(expectedSplit(10L, 0.90, 0.05))
    // untouched singleton: label and split stable across releases
    after(40L) shouldBe before(40L)
  }
}
