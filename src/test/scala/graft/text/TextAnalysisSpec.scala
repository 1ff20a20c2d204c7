package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      ("the cat is on the mat and it was good", "en"),
      ("der Hund ist nicht mit der Katze auf dem Sofa", "de"),
      ("el perro y la casa de los gatos es una cosa", "es"),
      ("le chien et les chats sont dans une maison", "fr"),
      ("zzz qqq xxx", "unknown")
    ).toDF("text", "want")
    val bad = df.filter(TextAnalysis.langId(col("text")) =!= col("want"))
    bad.count() shouldBe 0L
  }

  test("token counts: whitespace vs BPE-ish subwords") {
    val r = Seq("hello world, internationalization 42!")
      .toDF("text")
      .select(TextAnalysis.tokenCount(col("text")),
        TextAnalysis.subwordCount(col("text"))).head()
    r.getInt(0) shouldBe 4
    // hell|o wor|ld , inte|rnat|iona|liza|tion 42 ! → 12
    r.getInt(1) shouldBe 12
  }

  test("quality score components in [0,1], quarters only") {
    val scores = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(TextAnalysis.qualityScore(col("text")))
      .collect().map(_.getDouble(0))
    all(scores) should (be >= 0.0 and be <= 1.0)
    scores.foreach(s => (s * 4).isWhole shouldBe true)
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    val r = Seq(("A  B\tc", "a b c", "a b d")).toDF("x", "y", "z")
      .select(TextAnalysis.fingerprint(col("x")),
        TextAnalysis.fingerprint(col("y")),
        TextAnalysis.fingerprint(col("z"))).head()
    r.getString(0) shouldBe r.getString(1)
    r.getString(0) should not be r.getString(2)
  }

  test("repetition signals: exact duplicate fractions, 0 for short docs") {
    val df = Seq(
      // tokens [a,a,a,a]: 3 2-grams all "a a" → dup 2/3; 2 3-grams → 1/2
      (1L, "a a a a"),
      // 3 sentences, one repeated → dup_sent 1/3; tokens keep their
      // attached periods, so the 10 2-grams hold 7 distinct → dup 3/10
      (2L, "The end is near. Something else entirely. The end is near."),
      (3L, "one"), // 1 token, 1 sentence → every fraction 0
      (4L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(df, "text")
      .orderBy("doc_id")
      .select("n_sent", "dup_sent_frac", "dup_2gram_frac", "dup_3gram_frac")
      .collect()
    r(0).getInt(0) shouldBe 1
    r(0).getDouble(2) shouldBe 2.0 / 3.0
    r(0).getDouble(3) shouldBe 0.5
    r(1).getInt(0) shouldBe 3
    r(1).getDouble(1) shouldBe 1.0 / 3.0
    r(1).getDouble(2) shouldBe 3.0 / 10.0
    r(2) shouldBe org.apache.spark.sql.Row(1, 0.0, 0.0, 0.0)
    r(3) shouldBe org.apache.spark.sql.Row(0, 0.0, 0.0, 0.0)
  }

  test("chunkTokens: overlapping windows, exact boundaries, empty docs " +
    "drop") {
    import spark.implicits._
    val doc = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc), (2L, ""), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(df, "doc_id", "text",
      window = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx").collect()
    // doc 1: 10 tokens, starts 0,3,6,9 → 4 chunks; last is a 1-token tail
    val d1 = out.filter(_.getLong(0) == 1L)
    d1.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq shouldBe
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L), (3L, 9L, 1L))
    d1(0).getString(4) shouldBe "w1 w2 w3 w4"
    d1(1).getString(4) shouldBe "w4 w5 w6 w7" // 1-token overlap at stride 3
    d1(3).getString(4) shouldBe "w10"
    // empty doc: no chunks; single token: one 1-token chunk
    out.count(_.getLong(0) == 2L) shouldBe 0
    val d3 = out.filter(_.getLong(0) == 3L)
    d3.length shouldBe 1
    d3(0).getString(4) shouldBe "solo"
  }

  test("chunkTokens plan is map-only: one Generate, no shuffle, and the " +
    "tokenizer runs once (non-empty filter hits the raw text)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val plan = TextAnalysis.chunkTokens(docs, "doc_id", "text", 64, 48)
      .queryExecution.executedPlan.toString
    plan should include("Generate")
    plan should not include "Exchange"
    // a size(tokens)>0 predicate would push below the projection and
    // re-tokenize per row — assert a single tokenize in the whole plan
    "filter\\(split\\(".r.findAllIn(plan).length shouldBe 1
  }

  test("bigramLift: hand-checked lift, minCount cut, tie order") {
    import spark.implicits._
    // corpus: "a b" ×3, "a c" ×1, tokens: a×4 b×3 c×1 d×2 (via "d d" doc)
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c"),
      (5L, "d d"), (6L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLift(df, "text", minCount = 1L, k = 10)
      .collect()
    // totals: n_tok = 10, n_bi = 5
    val lifts = out.map(r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    lifts("a b") shouldBe ((3L, (3.0 / 5.0) / ((4.0 / 10.0) * (3.0 / 10.0))))
    lifts("a c") shouldBe ((1L, (1.0 / 5.0) / ((4.0 / 10.0) * (1.0 / 10.0))))
    lifts("d d") shouldBe ((1L, (1.0 / 5.0) / ((2.0 / 10.0) * (2.0 / 10.0))))
    // order: lift desc then bigram asc; minCount=2 cuts the singletons
    out.map(_.getString(0)).toSeq shouldBe Seq("a b", "a c", "d d")
    TextAnalysis.bigramLift(df, "text", minCount = 2L, k = 10)
      .collect().map(_.getString(0)).toSeq shouldBe Seq("a b")
  }

  test("blocklist filter: exact per-mille threshold, case-insensitive " +
    "matching, zero-token docs kept") {
    import spark.implicits._
    val d = Seq(
      (1L, "BAD bad ok ok ok ok ok ok ok ok"), // 2/10 = 200‰
      (2L, "bad ok ok ok ok ok ok ok ok ok"),  // 1/10 = 100‰
      (3L, "clean text with nothing wrong"),
      (4L, "   ")                              // zero tokens → kept
    ).toDF("doc_id", "text")
    def kept(maxPerMille: Long): Seq[Long] =
      TextAnalysis.dropFlagged(d, "doc_id", "text", Seq("BAD"), maxPerMille)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // doc 1 flags 2 of 10 (BAD and bad), doc 2 flags 1 of 10: exactly
    // at 100‰ doc 2 stays, one below it goes; 200‰ keeps doc 1 too
    kept(100L) shouldBe Seq(2L, 3L, 4L)
    kept(99L) shouldBe Seq(3L, 4L)
    kept(200L) shouldBe Seq(1L, 2L, 3L, 4L)
  }

  test("c4LineFilters: full rule set — word minimum, terminal " +
    "punctuation, markers, multi-line rebuild, emptied pages drop") {
    import spark.implicits._
    val page =
      "This is a perfectly fine prose sentence with enough words.\n" +
        "short line.\n" + // < 5 words → drops
        "Please enable javascript to view the comments powered here.\n" +
        "Another good long sentence that certainly ends properly!\n" +
        "this long line has plenty of words but no terminal punct"
    val d = Seq(
      (1L, page),
      (2L, "lorem ipsum dolor sit amet consectetur adipiscing elit."),
      (3L, "every { line } here fails the curly brace marker rule."),
      (4L, "no line survives here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4LineFilters(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    got shouldBe Array((1L,
      "This is a perfectly fine prose sentence with enough words.\n" +
        "Another good long sentence that certainly ends properly!", 2L))
    // relaxed punctuation keeps the last line of page 1 too
    TextAnalysis.c4LineFilters(d, "doc_id", "text",
      requireTerminalPunct = false)
      .filter(col("doc_id") === 1L).head().getLong(2) shouldBe 3L
  }

  test("unigramSurprisal stage reuse: the vocabulary branch resolves " +
    "to a ReusedExchange of the per-doc tf branch at runtime") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val q = TextAnalysis.unigramSurprisal(d, "doc_id", "text")
    q.collect() // finalize AQE — the static plan prints both branches
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    plan should include("ReusedExchange")
  }

  test("unigramSurprisal: hand-computed bit counts, rare tokens score " +
    "higher, all-integer until the final mean") {
    import spark.implicits._
    // corpus counts: a=2, b=2, c=1, total=5 → len(bin(5))=3;
    // bits(a)=3−2=1, bits(b)=1, bits(c)=3−1=2
    val d = Seq((1L, "a A b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramSurprisal(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    got shouldBe Array(
      (1L, 3L, 3L, 1.0), // a,a,b → 1+1+1
      (2L, 2L, 3L, 1.5)) // b,c → 1+2
  }

  test("bigramSurprisal: hand-computed bits, unigram back-off for first/" +
    "only tokens, one-token doc survives") {
    import spark.implicits._
    // counts: a=3, b=3, z=1, total=7 → len(bin(7))=3;
    // uni bits: a→1, b→1, z→2. bigrams: (a,b)=2, (b,a)=2; ctx a=2, b=2
    // → every bigram scores len(bin(2))−len(bin(2)) = 0 bits
    val d = Seq((1L, "a b a b"), (2L, "b a"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramSurprisal(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    got shouldBe Array(
      (1L, 4L, 1L, 0.25), // first a=1 bit, three 0-bit bigrams
      (2L, 2L, 1L, 0.5),  // first b=1 bit, one 0-bit bigram
      (3L, 1L, 2L, 2.0))  // back-off only
  }

  test("bigramSurprisal is order-sensitive where unigramSurprisal is " +
    "blind: same multiset, scrambled order scores strictly higher") {
    import spark.implicits._
    // 6 docs share one natural order; the 7th permutes the same words
    val natural = "the cat sat on the mat"
    val d = ((1 to 6).map(i => (i.toLong, natural)) :+
      (7L, "mat the on sat cat the")).toDF("doc_id", "text")
    val bg = TextAnalysis.bigramSurprisal(d, "doc_id", "text")
      .select("doc_id", "mean_bits").as[(Long, Double)].collect().toMap
    val ug = TextAnalysis.unigramSurprisal(d, "doc_id", "text")
      .select("doc_id", "mean_bits").as[(Long, Double)].collect().toMap
    ug(7L) shouldBe ug(1L) // unigram model cannot tell them apart
    bg(7L) should be > bg(1L) // bigram model can
  }

  test("gopherQualitySignals: hand-computed counts incl. bullet/ellipsis " +
    "lines, #/... symbols, unicode ellipsis, empty text") {
    import spark.implicits._
    val d = Seq(
      // 3 lines: bullet-start (after indent), ellipsis-end (with trailing
      // ws), unicode-ellipsis end; symbols: 2 '#' + "....." counts ONE
      // non-overlapping "..." (both engines scan left-to-right)
      (1L, "  - bullet item\nto be continued...  \nwait…"),
      (2L, "the cat #1 ##..... sat"),
      (3L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.gopherQualitySignals(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: toks = [-,bullet,item,to,be,continued...,wait…] = 7 words,
    // lens 1+6+4+2+2+12+5 = 32; 1 bullet line, 2 ellipsis lines (ascii +
    // unicode), 1 "..." symbol; 6 alpha words; stop hits {to,be} = 2
    r(0).toSeq shouldBe Seq(1L, 7L, 32L, 3L, 1L, 2L, 1L, 6L, 2L)
    // doc 2: 5 words, sum_len 18, 1 line, symbols 4 (#1→1, ##→2,
    // .....→ONE non-overlapping "..."), alpha words {the,cat,sat} = 3
    r(1).toSeq shouldBe Seq(2L, 5L, 18L, 1L, 0L, 0L, 4L, 3L, 1L)
    // empty text: split("\n") yields [""] → 1 line, zero words
    r(2).toSeq shouldBe Seq(3L, 0L, 0L, 1L, 0L, 0L, 0L, 0L, 0L)
  }

  test("gopher keep: each rule flips the bit independently, exact " +
    "integer thresholds") {
    import spark.implicits._
    val goodWords = (Seq("the", "of", "and") ++
      Seq.fill(27)("word")).mkString(" ") // 30 words, mean len 3.6, ok
    val d = Seq(
      (1L, goodWords),                            // passes all at 20/1
      (2L, "the of and word"),                    // too few words
      (3L, (Seq("the", "of") ++ Seq.fill(28)("a")).mkString(" ")), // mean<3
      (4L, (Seq("the") ++ Seq.fill(29)("###")).mkString(" ")), // symbols+alpha
      (5L, goodWords.replace("the", "zzz").replace("of", "qqq")
        .replace("and", "vvv"))                   // no stopword anchor
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.gopherDropLowQuality(d, "text",
      minWords = 20L, minStopHits = 1L)
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L)
    // boundary exactness: 31 words, 3 symbols → 10*3 ≤ 31 keeps; 4 drops
    val b = Seq(
      (10L, (Seq("the") ++ Seq.fill(26)("word") ++ Seq.fill(3)("#"))
        .mkString(" ") + " end"),
      (11L, (Seq("the") ++ Seq.fill(25)("word") ++ Seq.fill(4)("#"))
        .mkString(" ") + " end")).toDF("doc_id", "text")
    TextAnalysis.gopherQualitySignals(b, "doc_id", "text")
      .withColumn("k", TextAnalysis.gopherKeep(20L, 100000L, 1L))
      .orderBy("doc_id").select("k").as[Boolean].collect() shouldBe
      Array(true, false)
  }

  test("gopherDropLowQuality is map-only: no Exchange in the plan") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val plan = TextAnalysis.gopherDropLowQuality(d, "text")
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("gopherRepetitionStats: hand-computed char coverages — top-gram " +
    "tie rule, dup 5..10-gram overlap, sentence dups, empty doc keeps") {
    import spark.implicits._
    val d = Seq(
      // 1: tiny clean doc — top2 ties broken lexicographically ("ab cd"
      //    over "cd ef."), no gram of length ≥ 4, but top2 cov 5/9 > 1/5
      (1L, "ab cd ef."),
      // 2: 30 distinct 3-char tokens — every cov under threshold → keep
      (2L, (0 until 30).map(i => f"t$i%02d").mkString(" ")),
      // 3: "p q r s t" ×3 — every dup-n rule fires; top2 = "p q" (count
      //    3, tie vs "q r"/"r s"/"s t" broken lexicographically)
      (3L, Seq.fill(3)("p q r s t").mkString(" ")),
      // 4: empty — no sentences, no grams, keeps by contract
      (4L, ""),
      // 5: duplicate sentence "xx" ×2 — the sentence rules fire
      (5L, "xx. xx. yy zz.")).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRepetitionStats(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    // columns: doc_id, tc, n_sents, n_dup_sents, sum_sent_chars,
    // dup_sent_chars, top2, top3, top4, dup5..dup10, keep
    r(0).toSeq shouldBe Seq(1L, 9L, 1L, 0L, 8L, 0L,
      5L, 9L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    r(1).toSeq shouldBe Seq(2L, 119L, 1L, 0L, 119L, 0L,
      7L, 11L, 15L, 0L, 0L, 0L, 0L, 0L, 0L, 1L)
    // doc 3 (15 tokens, tc 29): dup5 = 3·9 + 4·(2·9) = 99,
    // dup6 = 5·2·11 = 110, dup7 = 4·2·13 = 104, dup8 = 3·2·15 = 90,
    // dup9 = 2·2·17 = 68, dup10 = 1·2·19 = 38
    r(2).toSeq shouldBe Seq(3L, 29L, 1L, 0L, 29L, 0L,
      9L, 15L, 21L, 99L, 110L, 104L, 90L, 68L, 38L, 0L)
    r(3).toSeq shouldBe Seq(4L, 0L, 0L, 0L, 0L, 0L,
      0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 1L)
    // doc 5: sents [xx, xx, yy zz] → 2 dup sents (4 chars of 9);
    // 10·2 > 3·3 fails the dup-sentence rule
    r(4).toSeq shouldBe Seq(5L, 14L, 3L, 2L, 9L, 4L,
      7L, 10L, 14L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
  }

  test("LM store: token-keyed aggregate over the bucketed store plans " +
    "with NO Exchange; shard scores match a direct re-derivation; OOV " +
    "floors at cnt=1 and lands in n_oov") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("lm").toString
    TextAnalysis.writeLmStore(docs.filter(col("doc_id") < 250), "text",
      "graft_lm_spec", s"$dir/lm")
    try {
      val store = spark.table("graft_lm_spec")
      store.groupBy("tok").agg(sum("cnt"))
        .queryExecution.executedPlan.toString should not include "Exchange"
      // the synthetic corpus shares one vocabulary across halves, so a
      // guaranteed-OOV doc is constructed rather than hoped for
      val shard = docs.filter(col("doc_id") >= 250)
        .select("doc_id", "text")
        .union(Seq((99999L, "zzzunseen qqqunseen zzzunseen"))
          .toDF("doc_id", "text"))
      val got = TextAnalysis.surprisalAgainstStore(shard, "doc_id",
        "text", "graft_lm_spec").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_toks"), r.getAs[Long]("total_bits"),
            r.getAs[Long]("n_oov"))).toMap
      // direct re-derivation with plain DataFrame ops
      val cnts = docs.filter(col("doc_id") < 250)
        .select(explode(graft.enrich.CaptionStats.tokens(
          lower(col("text")))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = cnts.agg(sum("cnt")).head.getLong(0)
      val tb = java.lang.Long.toBinaryString(total).length
      val want = shard.select(col("doc_id"),
          explode(graft.enrich.CaptionStats.tokens(lower(col("text"))))
            .as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .join(cnts, Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(sum("tf").as("n"),
          // ScalaTest's Matchers.length(Long) shadows functions.length
          sum(col("tf") * (lit(tb) -
            org.apache.spark.sql.functions.length(bin(
              coalesce(col("cnt"), lit(1L)))))
            .cast("long")).as("b"),
          sum(when(col("cnt").isNull, col("tf")).otherwise(0L)).as("o"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      got shouldBe want
      // every token of the constructed doc is OOV: n_oov = n_toks = 3,
      // each flooring at cnt=1 → the max representable total_bits
      got(99999L) shouldBe ((3L, 3L * (tb - 1), 3L))
    } finally spark.sql("DROP TABLE IF EXISTS graft_lm_spec")
  }

  test("surprisalBuckets: each source splits into rank thirds (sizes " +
    "differ ≤1) and scores order head ≤ middle ≤ tail") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val r = TextAnalysis.surprisalBuckets(d, "doc_id", "text", "source")
    val rows = r.collect()
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    bySrc.values.foreach { g =>
      val sizes = g.groupBy(_.getAs[String]("bucket"))
        .view.mapValues(_.length).toMap
      (sizes.values.max - sizes.values.min) should be <= 1
      def scores(b: String) = g.filter(_.getAs[String]("bucket") == b)
        .map(_.getAs[Double]("mean_bits"))
      scores("head").max should be <= scores("middle").min + 1e-12
      scores("middle").max should be <= scores("tail").min + 1e-12
    }
  }

  test("gopherRepetitionKeep (in-row streaming form) ≡ the DISTRIBUTED " +
    "witness's keep bit: hand fixtures incl. tie/overlap cases + corpus") {
    import spark.implicits._
    val hand = Seq(
      (1L, "ab cd ef."), (2L, (0 until 30).map(i => f"t$i%02d").mkString(" ")),
      (3L, Seq.fill(3)("p q r s t").mkString(" ")), (4L, ""),
      (5L, "xx. xx. yy zz.")).toDF("doc_id", "text")
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    for (d <- Seq(hand, corpus)) {
      val dist = GopherRepetitionDistributed.stats(d, "doc_id", "text")
        .select(col("doc_id"), col("keep")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val inRow = d.select(col("doc_id"),
        TextAnalysis.gopherRepetitionKeep(col("text")).cast("long").as("k"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      inRow shouldBe dist
    }
  }

  test("gopherRepetitionStats (native map-only) ≡ the distributed " +
    "witness: FULL frame equality on the corpus fixture") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val native = TextAnalysis.gopherRepetitionStats(d, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq)
    val dist = GopherRepetitionDistributed.stats(d, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq)
    native shouldBe dist
  }

  test("gopherRepetitionStats and gopherFilter are map-only: no Exchange, " +
    "no Join, exactly one repetition_covs in the plan") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    for (p <- Seq(
        TextAnalysis.gopherRepetitionStats(d, "doc_id", "text"),
        TextAnalysis.gopherFilter(d, "doc_id", "text",
          minWords = 20L, minStopHits = 1L))) {
      val plan = p.queryExecution.executedPlan.toString
      plan should not include "Exchange"
      plan should not include "Join"
    }
    // the 9 coverage extractions must share ONE native evaluation
    val stats = TextAnalysis.gopherRepetitionStats(d, "doc_id", "text")
    stats.queryExecution.executedPlan.toString
      .sliding("repetition_covs".length).count(_ == "repetition_covs") shouldBe 1
  }

  test("sourceDivergence: hand-computed integer bits — a drifted source " +
    "scores positive, near-corpus sources land near zero (rounding may " +
    "push slightly negative)") {
    import spark.implicits._
    // corpus: a×4, b×4, c×4, total 12 → bits_c = len(bin 12)−len(bin 4)
    // = 1 for every token. A (a³b¹): 3·(1−1) + 1·(1−2) = −1.
    // C (c⁴): bits_s = len(bin 4)−len(bin 4) = 0 → 4·(1−0) = +4.
    val d = Seq(
      (1L, "A", "a a a b"), (2L, "B", "b b b a"), (3L, "C", "c c c c"))
      .toDF("doc_id", "source", "text")
    val r = TextAnalysis.sourceDivergence(d, "source", "text")
      .orderBy("source").collect().map(_.toSeq)
    r shouldBe Array(
      Seq("A", 4L, -1L, -0.25), Seq("B", 4L, -1L, -0.25),
      Seq("C", 4L, 4L, 1.0))
  }

  test("dropFlagged is map-only: no Exchange in the plan (streaming-" +
    "composable), keeps zero-token docs, exact at the threshold") {
    import spark.implicits._
    val d = Seq((1L, "bad bad good good good good good good good bad"),
      (2L, "bad bad good good good good good good bad"),
      (3L, "   "), (4L, "all clean text here")).toDF("doc_id", "text")
    // 3/10 flagged at 300‰ keeps (exact boundary); 3/9 drops
    val kept = TextAnalysis.dropFlagged(d, "doc_id", "text",
      Seq("BAD"), maxPerMille = 300L)
      .collect().map(_.getLong(0)).toSet
    kept shouldBe Set(1L, 3L, 4L)
    val plan = TextAnalysis.dropFlagged(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text",
      Seq("table"), 60L).queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should not include "Join"
  }

  test("gopherFilter = exact intersection of the t14 format keep and the " +
    "t15 repetition keep over the corpus fixture; original columns out") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val fmtIds = TextAnalysis.gopherQualitySignals(d, "doc_id", "text")
      .withColumn("k", TextAnalysis.gopherKeep(20L, 100000L, 1L))
      .filter(col("k")).select("doc_id")
    val repIds = TextAnalysis.gopherRepetitionStats(d, "doc_id", "text")
      .filter(col("keep") === 1L).select("doc_id")
    val expected = fmtIds.join(repIds, Seq("doc_id"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    val got = TextAnalysis.gopherFilter(d, "doc_id", "text",
      minWords = 20L, minStopHits = 1L)
    got.columns shouldBe d.columns
    got.collect().map(_.getAs[Long]("doc_id")).toSet shouldBe expected
    // the composite must genuinely split: neither all-keep nor all-drop
    expected.size should be > 0
    expected.size should be < d.count().toInt
  }
}
