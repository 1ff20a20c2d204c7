package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.enrich.CaptionStats
import graft.util.StoreLease

/** Training-data text analysis (north-star extensions beyond the reference
  * surface; BASELINE.json): language ID, quality scoring, token counting,
  * document fingerprinting. All pure column expressions — at 100 TB these
  * run fused into the scan with no shuffle.
  */
object TextAnalysis {

  /** Stopword anchor sets per language. Deterministic n-gram-free heuristic:
    * score = number of tokens that are stopwords of the language; argmax with
    * fixed tiebreak order (de < en < es < fr < unknown). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "you",
      "that", "was", "for", "on", "are", "with", "his", "they", "at"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ich", "nicht", "ein",
      "eine", "mit", "auf", "für", "von", "zu", "den", "im"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los",
      "las", "por", "con", "para", "es", "del", "se"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "des", "est",
      "dans", "pour", "que", "qui", "sur", "avec", "pas"))

  private def hits(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(stopwords(lang).map(x => x: Any): _*)))

  /** Language-ID over a text column → 2-letter code or "unknown". */
  def langId(c: Column): Column = {
    val toks = CaptionStats.tokens(lower(c))
    val de = hits(toks, "de"); val en = hits(toks, "en")
    val es = hits(toks, "es"); val fr = hits(toks, "fr")
    val best = greatest(de, en, es, fr)
    when(best === 0, lit("unknown"))
      .when(de === best, lit("de"))
      .when(en === best, lit("en"))
      .when(es === best, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(CaptionStats.tokens(c))

  /** BPE-ish subword count: alphabetic runs chunked to ≤4 chars + digit runs
    * + individual punctuation — a deterministic proxy for a BPE vocab's
    * token count, as a single regex count. */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(lower(c),
      lit("[a-z]{1,4}|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Quality score in [0,1]: mean of 4 deterministic signals —
    * length in [20,2000] chars, mean word length in [3,12], alpha ratio
    * ≥ 0.6 scaled, stopword ratio in (0.05, 0.6). Mirrors the
    * length/punct/stopword-ratio heuristics of C4/Gopher-style cleaning
    * (public recipes), SQL-expressible for the oracle. */
  def qualityScore(c: Column): Column = {
    val nChars = length(c).cast(DoubleType)
    val toks = CaptionStats.tokens(lower(c))
    val nTok = greatest(size(toks), lit(1)).cast(DoubleType)
    val meanWordLen =
      (nChars - (size(toks) - lit(1)).cast(DoubleType)) / nTok
    val alphaRatio =
      length(regexp_replace(lower(c), "[^a-z]", "")).cast(DoubleType) /
        greatest(nChars, lit(1.0))
    val allStops = stopwords.values.flatten.toSeq.distinct.sorted
    val stopRatio =
      size(filter(toks, t => t.isin(allStops.map(x => x: Any): _*)))
        .cast(DoubleType) / nTok
    val sLen = when(nChars >= 20 && nChars <= 2000, 1.0).otherwise(0.0)
    val sWord = when(meanWordLen >= 3 && meanWordLen <= 12, 1.0).otherwise(0.0)
    val sAlpha = when(alphaRatio >= 0.6, 1.0).otherwise(0.0)
    val sStop = when(stopRatio > 0.05 && stopRatio < 0.6, 1.0).otherwise(0.0)
    (sLen + sWord + sAlpha + sStop) / lit(4.0)
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key (rolling-hash stand-in, engine-independent).
    * NFC-first by default: canonically-equivalent Unicode strings differ
    * in bytes (precomposed vs decomposed accents), so the digest
    * normalizes before hashing ([[graft.functions.NfcNormalize]], ASCII
    * zero-copy fast path); `nfc = false` keys on raw bytes. */
  def fingerprint(c: Column, nfc: Boolean = true): Column = {
    val base = if (nfc) graft.functions.NfcNormalize(c) else c
    md5(regexp_replace(trim(lower(base)), "\\s+", " "))
  }

  /** Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
    * Models" §A1.1: MassiveText removes docs dominated by repeated lines
    * and n-grams — repetition is the strongest single predictor of
    * low-quality scrape). Simplified to duplicate-FRACTION form,
    * `1 − distinct/total`, over sentences and word 2-/3-grams: order-free,
    * exact integer arithmetic (bit-identical int/int division in both
    * engines), and map-only — at 100 TB these fuse into the scan. The
    * paper's char-coverage-of-top-n-gram variant needs a per-doc frequency
    * table; the duplicate fraction ranks documents near-identically and is
    * the defined contract here (filter threshold semantics unchanged:
    * bigger = more repetitive). The exact char-coverage metric exists as
    * the `t10_top_ngram_coverage` query — a (doc, gram)-keyed frequency
    * groupBy + map-combined per-doc argmax.
    *
    * Appends: `n_sent` (int), `dup_sent_frac`, `dup_2gram_frac`,
    * `dup_3gram_frac` (double in [0,1], 0.0 for too-short docs). */
  def repetitionSignals(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    def dupFrac(total: Column, distinct: Column): Column =
      when(total <= 0, 0.0)
        .otherwise((total - distinct).cast(DoubleType) / total)
    val out = df
      .withColumn("__toks", CaptionStats.tokens(lower(c)))
      .withColumn("__sents", CaptionStats.sentences(c))
    val nTok = size(col("__toks"))
    out
      .withColumn("n_sent", size(col("__sents")))
      .withColumn("dup_sent_frac",
        dupFrac(size(col("__sents")), size(array_distinct(col("__sents")))))
      .withColumn("dup_2gram_frac",
        dupFrac(greatest(nTok - 1, lit(0)),
          size(graft.functions.Shingles(col("__toks"), 2))))
      .withColumn("dup_3gram_frac",
        dupFrac(greatest(nTok - 2, lit(0)),
          size(graft.functions.Shingles(col("__toks"), 3))))
      .drop("__toks", "__sents")
  }

  /** Token-window chunking — the RAG/context-window preprocessing step:
    * split each document into `window`-token chunks every `stride`
    * tokens (stride < window ⇒ overlapping chunks, the standard recipe
    * so no boundary-spanning passage is lost). One row per chunk:
    * (id, chunk_idx, start_tok, n_tok, chunk).
    *
    * Map-only + a Generate (the per-row explode of chunk starts): no
    * shuffle, no UDF — `sequence`/`slice`/`array_join` are all
    * codegen'd built-ins, so at 100 TB chunking fuses into the scan.
    * Empty/whitespace-only docs produce no chunks (nothing to pack). */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= "")
    val n = size(col("__toks"))
    df
      // "has at least one token" as a predicate on the RAW text (a
      // non-whitespace char exists — the exact same row set as
      // size(tokens) > 0): a size(__toks) > 0 filter pushes below the
      // projection and re-tokenizes every row for the predicate (HOF
      // lambdas get no CSE — the 2× tax shows in the plan), while this
      // one regex pushes to the scan and the tokenizer runs once.
      .filter(col(textCol).rlike("\\S"))
      .select(col(idCol), toks.as("__toks"))
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0), n - 1, lit(stride)))
          .as(Seq("chunk_idx", "start_tok")))
      .select(col(idCol), col("chunk_idx").cast("long"),
        col("start_tok").cast("long"),
        size(slice(col("__toks"), col("start_tok") + 1, lit(window)))
          .cast("long").as("n_tok"),
        array_join(slice(col("__toks"), col("start_tok") + 1, lit(window)),
          " ").as("chunk"))
  }

  /** Bigram collocations ranked by lift — the PMI-family association
    * measure, kept as the raw probability ratio
    * `P(xy) / (P(x)·P(y))` rather than its log (no transcendental calls,
    * so the score is a chain of correctly-rounded IEEE divisions —
    * bit-identical in any engine; `log` ulp behavior is libm-specific).
    *
    * Scale shape: two token-keyed shuffles (unigram counts, bigram
    * counts), both map-side combined; the corpus totals are second-stage
    * aggregates OVER THE COUNT TABLES (no extra corpus scan), broadcast as
    * 1-row frames; the lift join runs only on the `minCount`-filtered
    * candidate set against the unigram table. Nothing pairwise, nothing
    * quadratic — the classic collocation recipe (Church & Hanks 1990)
    * with the heavy tail cut before the join. */
  def bigramLift(df: DataFrame, textCol: String,
                 minCount: Long = 5L, k: Int = 30): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    // raw-text predicates (≥1 / ≥2 tokens) so the pushed filter never
    // duplicates the tokenizer — same trick as chunkTokens above
    val uni = df.filter(col(textCol).rlike("\\S"))
      .select(explode(toks).as("w"))
    val ucnt = uni.groupBy("w").agg(count(lit(1)).as("c_w"))
    val ntok = ucnt.agg(sum("c_w").as("n_tok"))
    val bi = df.filter(col(textCol).rlike("\\S\\s+\\S"))
      .select(toks.as("__toks"))
      .select(explode(expr("transform(sequence(1, size(__toks) - 1), " +
        "i -> concat(element_at(__toks, i), ' ', " +
        "element_at(__toks, i + 1)))")).as("bigram"))
    val bcnt = bi.groupBy("bigram").agg(count(lit(1)).as("c_xy"))
    val nbi = bcnt.agg(sum("c_xy").as("n_bi"))
    val lift = (col("c_xy").cast("double") / col("n_bi").cast("double")) /
      ((col("c_x").cast("double") / col("n_tok").cast("double")) *
        (col("c_y").cast("double") / col("n_tok").cast("double")))
    bcnt.filter(col("c_xy") >= minCount)
      .withColumn("__w1", split(col("bigram"), " ").getItem(0))
      .withColumn("__w2", split(col("bigram"), " ").getItem(1))
      .join(ucnt.select(col("w").as("__w1"), col("c_w").as("c_x")), "__w1")
      .join(ucnt.select(col("w").as("__w2"), col("c_w").as("c_y")), "__w2")
      .crossJoin(broadcast(ntok))
      .crossJoin(broadcast(nbi))
      .select(col("bigram"), col("c_xy"), lift.as("lift"))
      .orderBy(desc("lift"), col("bigram"))
      .limit(k)
  }

  /** Keep documents whose flagged-token fraction is ≤
    * `maxPerMille`/1000 — the threshold compares EXACT integers
    * (`n_flagged·1000 ≤ maxPerMille·n_toks`), so the cut never moves
    * with float rounding. Zero-token docs are kept (nothing flagged —
    * the d8 "cannot be contaminated" direction).
    *
    * MAP-ONLY: the stats are per-row expressions, so the predicate
    * inlines them and fuses into the scan — no self anti-join, no
    * second scan (the pre-r14 form joined against the flagged-id
    * frame), and the filter composes statelessly onto a stream
    * (StreamsSpec). */
  def dropFlagged(df: DataFrame, idCol: String, textCol: String,
                  blocklist: Seq[String], maxPerMille: Long): DataFrame = {
    val bl = array(blocklist.map(w => lit(w.toLowerCase)): _*)
    // null text coalesces to zero tokens → kept (a null predicate
    // would silently DROP the row — the QueriesEdgeSpec contract)
    val toks = coalesce(CaptionStats.tokens(lower(col(textCol))),
      array().cast("array<string>"))
    val nToks = size(toks).cast("long")
    val nFlagged = size(filter(toks, t => array_contains(bl, t)))
      .cast("long")
    df.filter(nToks === 0L ||
      nFlagged * lit(1000L) <= lit(maxPerMille) * nToks)
  }

  /** C4-style LINE filters (Raffel et al. 2020 §2.2) — the boilerplate
    * pass every web corpus runs before document-level dedup: pages are
    * cleaned line by line, keeping only lines that look like prose.
    * A line survives iff it has ≥ `minWordsPerLine` whitespace words,
    * (optionally) ends in terminal punctuation (`. ! ? "`, trailing
    * whitespace ignored — the C4 rule), and contains none of
    * `dropMarkers` case-insensitively (C4 drops "javascript" lines and
    * pages with "lorem ipsum" / "{"; marker matching here is per-line,
    * the stricter direction). Documents whose every line drops are
    * removed (emptied pages discipline, as d9/d16).
    *
    * Map-only: one `split` on newlines + a `filter` HOF of pure string
    * predicates + `array_join` — fuses into the scan, zero shuffles,
    * no UDF. Output: (idCol, text_kept, n_lines_kept). */
  def c4LineFilters(df: DataFrame, idCol: String, textCol: String,
                    minWordsPerLine: Int = 5,
                    requireTerminalPunct: Boolean = true,
                    dropMarkers: Seq[String] =
                      Seq("lorem ipsum", "javascript", "{"))
  : DataFrame = {
    def ok(l: Column): Column = {
      val words = size(filter(split(l, "\\s+"), w => w =!= ""))
      val punct =
        if (requireTerminalPunct) l.rlike("[.!?\"]\\s*$") else lit(true)
      val clean = dropMarkers.foldLeft(lit(true)) { (acc, m) =>
        acc && !lower(l).contains(m.toLowerCase)
      }
      words >= minWordsPerLine && punct && clean
    }
    df.select(col(idCol),
        filter(split(col(textCol), "\n"), ok _).as("__ls"))
      .filter(size(col("__ls")) > 0)
      .select(col(idCol),
        array_join(col("__ls"), "\n").as("text_kept"),
        size(col("__ls")).cast("long").as("n_lines_kept"))
  }

  /** Per-document UNIGRAM SURPRISAL score — the integer-exact stand-in
    * for CCNet-style LM-perplexity filtering (Wenzek et al. 2020 bucket
    * corpora by LM score; the unigram model is its degenerate, training-
    * free case). A token's surprisal is `⌈log2⌉`-approximated in whole
    * BITS as `len(bin(N)) − len(bin(count))` (N = corpus token total) —
    * bit-length is exact integer arithmetic on both engines (no libm,
    * no last-ulp rank flips), monotone in the true −log2 p and within
    * 1 bit of it. High mean surprisal = rare-token-heavy (gibberish,
    * boilerplate-free, OCR noise); low = stopword/template-heavy.
    *
    * Scale shape: token counts are ONE map-combined vocabulary-sized
    * shuffle; per-doc term frequencies aggregate BEFORE the vocabulary
    * join (join input is (doc, distinct-token) pairs, not corpus
    * tokens; AQE broadcasts the count table while the vocab is small);
    * the corpus total derives from the count table — no second corpus
    * scan. Output: (idCol, n_toks, total_bits, mean_bits), all exact
    * integers except the final int/int → double division. */
  def unigramSurprisal(df: DataFrame, idCol: String,
                       textCol: String,
                       tokensCol: Option[String] = None): DataFrame = {
    // tokensCol = tokenize-once threading (Dedup.shingleTable contract:
    // caller-supplied tokens(text)); per-token lower ≡ tokenizing
    // lower(text) because lowercasing never creates/removes whitespace.
    // (r21 note: a spread() here was tried and REVERTED — the explode
    // feeds a vocabulary-collapsing partial aggregate, so repartition
    // multiplies the map-side partials by the partition count and the
    // extra exchange costs more than the parallel tokenize saves.)
    val src = df
    val tk = tokensCol match {
      case Some(tc) => src.select(col(idCol), explode(col(tc)).as("__rt"))
        .select(col(idCol), lower(col("__rt")).as("tok"))
      case None => src.select(col(idCol),
        explode(CaptionStats.tokens(lower(col(textCol)))).as("tok"))
    }
    val tf = tk.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val counts = tf.groupBy("tok").agg(sum("tf").as("cnt"))
    val st = counts.agg(sum("cnt").as("total"))
    val bits = length(bin(col("total"))) - length(bin(col("cnt")))
    tf.join(counts, "tok")
      .crossJoin(broadcast(st))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_toks"),
        sum(col("tf") * bits.cast("long")).as("total_bits"))
      .withColumn("mean_bits",
        col("total_bits").cast("double") / col("n_toks").cast("double"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): rank
    * every document WITHIN ITS SOURCE by LM score ([[unigramSurprisal]]
    * mean bits — CCNet uses a KenLM perplexity; the bucketing is
    * score-agnostic) and split each source into equal thirds —
    * `head` (lowest surprisal, most fluent), `middle`, `tail`. CCNet
    * trains on head+middle and drops or down-samples tail; the bucket
    * column is the standard curation knob.
    *
    * Buckets are defined by PURE INTEGER RANK arithmetic — bucket =
    * ⌊3·(rank−1)/n⌋ over the (mean_bits, id) total order — never by
    * interpolated quantile BOUNDARY values: an interpolated boundary is
    * a derived double, and a last-ulp disagreement between engines
    * would flip every doc sitting on it (the oracle mirrors the same
    * row_number arithmetic; the id tiebreak makes the order total, so
    * ties at a boundary split deterministically). CCNet itself buckets
    * by rank thirds, so this is also the faithful semantics.
    *
    * Scale shape: the surprisal frame is t11's (one vocabulary-sized
    * shuffle); the exact ranking is a per-source Window — fine for
    * thousands of sources, a funnel for very few giant ones. */
  def surprisalBuckets(df: DataFrame, idCol: String, textCol: String,
                       srcCol: String): DataFrame = {
    val scored = unigramSurprisal(df, idCol, textCol)
      .join(df.select(col(idCol), col(srcCol)), Seq(idCol))
    val w = Window.partitionBy(col(srcCol))
      .orderBy(col("mean_bits"), col(idCol))
    val wAll = Window.partitionBy(col(srcCol))
    scored.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .select(col(idCol), col(srcCol), col("n_toks"), col("mean_bits"),
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          expr("CAST(((__rn - 1) * 3) div __n AS INT)") + 1)
          .as("bucket"))
  }

  /** Persisted unigram LM STORE — the incremental complement of
    * [[unigramSurprisal]], the d15 store discipline applied to
    * scoring: at 100 TB nobody recomputes corpus token counts per
    * crawl; the vocabulary-sized (tok, cnt) table materializes ONCE,
    * bucketed+sorted by `tok` (the k6 layout), and each new shard
    * scores against it with NO store-side shuffle or recompute — the
    * bucketed scan's HashPartitioning satisfies the token join as-is.
    * Refresh path: retrain (one token shuffle over the grown corpus)
    * or union-rewrite the counts table; counts MERGE is not an append,
    * so there is deliberately no absorb that would silently change
    * cnt values under a fixed bucket layout. */
  def writeLmStore(df: DataFrame, textCol: String, table: String,
                   path: String, nBuckets: Int = 8): Unit =
    // single writer enforced: the refresh path is a full rewrite, and
    // two concurrent rewrites race the overwrite commit (StoreLease)
    StoreLease.withLease(df.sparkSession,
      StoreLease.forTable(df.sparkSession, table), "writeLmStore") { _ =>
      df.select(explode(CaptionStats.tokens(lower(col(textCol))))
          .as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").option("path", path)
        .bucketBy(nBuckets, "tok").sortBy("tok")
        .format("parquet").saveAsTable(table)
    }

  /** Score a NEW shard against a persisted [[writeLmStore]] table:
    * t11's integer-exact surprisal where counts come from the store,
    * not the shard — the scores a curation pipeline wants when the LM
    * was trained on the trusted corpus and the shard is an untrusted
    * crawl. Out-of-vocabulary tokens floor at cnt = 1 (add-one: the
    * maximum representable surprisal, `len(bin(total))−1` bits —
    * log2(0) has no integer form) and are counted in `n_oov` so the
    * caller can ALSO threshold on OOV rate (a high-OOV doc is
    * gibberish or a language the LM never saw). Shard side: one
    * map-combined (doc, tok) tf aggregate, one token join against the
    * Exchange-free store scan, one per-doc rollup. `total` is one
    * driver scalar from the vocabulary-sized store — kilobytes. */
  def surprisalAgainstStore(shard: DataFrame, idCol: String,
                            textCol: String, table: String,
                            tokensCol: Option[String] = None): DataFrame = {
    val counts = shard.sparkSession.table(table)
    val total = counts.agg(sum("cnt")).head.getLong(0)
    val totalBits = java.lang.Long.toBinaryString(total).length
    // tokensCol: same tokenize-once contract as [[unigramSurprisal]]
    val tk = tokensCol match {
      case Some(tc) => shard
        .select(col(idCol), explode(col(tc)).as("__rt"))
        .select(col(idCol), lower(col("__rt")).as("tok"))
      case None => shard.select(col(idCol),
        explode(CaptionStats.tokens(lower(col(textCol)))).as("tok"))
    }
    val tf = tk
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val bits = lit(totalBits) - length(bin(coalesce(col("cnt"), lit(1L))))
    tf.join(counts, Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(sum("tf").as("n_toks"),
        sum(col("tf") * bits.cast("long")).as("total_bits"),
        sum(when(col("cnt").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .withColumn("mean_bits",
        col("total_bits").cast("double") / col("n_toks").cast("double"))
  }

  /** Per-document BIGRAM surprisal — [[unigramSurprisal]] upgraded to a
    * first-order LM: token i ≥ 2 scores `⌈log2⌉`-bits of its corpus
    * bigram probability `count(prev,cur)/count(prev,·)` as
    * `len(bin(ctx)) − len(bin(cnt))`; the first token backs off to the
    * unigram model (its bigram has no context). Same integer-exactness
    * contract as t11 — bit-length arithmetic only, no libm, the ranking
    * never flips in the last ulp — but context-sensitive: a doc of
    * common words in an uncommon ORDER now scores high (word-salad
    * detection the unigram model is blind to).
    *
    * Scale shape (t11's discipline, one level up): bigrams materialize
    * map-side from the token array (`transform(sequence)` — no Window,
    * no lag shuffle); per-doc (prev,cur) term frequencies aggregate
    * BEFORE any join, so join input is distinct doc-bigrams, not corpus
    * positions; the context table derives from the bigram-count table
    * (second-stage aggregate — no extra corpus scan); corpus totals
    * broadcast. Two vocabulary-sized shuffles (bigram counts, per-doc
    * tf) + one doc-keyed aggregate. Zero-token docs are absent (as t11);
    * one-token docs score the back-off bit count alone.
    * Output: (idCol, n_toks, total_bits, mean_bits). */
  def bigramSurprisal(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    // base feeds three subtrees that each re-tokenize. The 1×-only
    // A/Bs kept the plain form (r21: eager LC 1.8→2.0 s; r22 min-of-6:
    // plain 1.96 / spread+LC 2.40 / spread+persist 1.87 s — all within
    // noise or worse), but the r22 ×10 slope run showed the plain
    // shape's cliff: the three redundant tokenizes run as three
    // CONCURRENT ~6.3 s ONE-CORE jobs (slope ×5.3) — concurrency
    // hides the redundancy only while cores outnumber subtrees × the
    // per-subtree serial cost. spread + localCheckpoint tokenizes
    // ONCE, 32-way parallel, and the boundary feeds all three
    // consumers (measured: ×10 12.33 → 5.81 s, 1× 2.31 → 2.20 s —
    // no 1× cost after all; the earlier "+0.4 s" readings were the
    // bimodal box). Scale-adaptive by construction: spread() is
    // width-gated.
    val base = graft.util.Partitioning.spread(
        df.filter(col(textCol).rlike("\\S")))
      .select(col(idCol),
        CaptionStats.tokens(lower(col(textCol))).as("__toks"))
      .localCheckpoint()
    val tk = base.select(col(idCol), explode(col("__toks")).as("tok"))
    val uni = tk.groupBy("tok").agg(count(lit(1)).as("c_u"))
    val tot = uni.agg(sum("c_u").as("total"))
    val bg = base.filter(size(col("__toks")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(2, size(__toks)), i -> named_struct(" +
          "'prev', element_at(__toks, i - 1), " +
          "'cur', element_at(__toks, i)))")).as("b"))
      .select(col(idCol), col("b.prev").as("prev"), col("b.cur").as("cur"))
    val btf = bg.groupBy(col(idCol), col("prev"), col("cur"))
      .agg(count(lit(1)).as("tf"))
    val bcnt = btf.groupBy("prev", "cur").agg(sum("tf").as("c_pc"))
    val ccnt = bcnt.groupBy("prev").agg(sum("c_pc").as("c_p"))
    val fb = base.select(col(idCol), element_at(col("__toks"), 1).as("tok"))
      .join(uni, "tok")
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        (length(bin(col("total"))) - length(bin(col("c_u"))))
          .cast("long").as("__fbits"))
    val bb = btf.join(bcnt, Seq("prev", "cur")).join(ccnt, Seq("prev"))
      .groupBy(col(idCol))
      .agg(sum("tf").as("__nbg"),
        sum(col("tf") * (length(bin(col("c_p"))) - length(bin(col("c_pc"))))
          .cast("long")).as("__bbits"))
    fb.join(bb, Seq(idCol), "left")
      .select(col(idCol),
        (lit(1L) + coalesce(col("__nbg"), lit(0L))).as("n_toks"),
        (col("__fbits") + coalesce(col("__bbits"), lit(0L)))
          .as("total_bits"))
      .withColumn("mean_bits",
        col("total_bits").cast("double") / col("n_toks").cast("double"))
  }

  /** The Gopher stopword-anchor set (Rae et al. 2021 §A1.1): a document
    * must contain at least `minStopHits` DISTINCT members to pass the
    * "contains common English words" rule. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher / MassiveText document-quality signals (Rae et al. 2021
    * §A1.1) — the composite FORMAT filter that runs alongside the
    * repetition pass ([[repetitionSignals]]) and the line-level C4 pass
    * ([[c4LineFilters]]): word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio (`#` and `...`), bullet-started and
    * ellipsis-ended line fractions, fraction of words with an alphabetic
    * character, and the stopword-presence rule.
    *
    * Every signal is an exact INTEGER (counts and sums — no ratio is ever
    * materialized as a float), and every threshold in
    * [[gopherKeep]]/[[gopherDropLowQuality]] compares cross-multiplied
    * integers (`10·n_symbols ≤ n_words`), so the cut is bit-identical in
    * any engine — the same discipline as t13's per-mille compare.
    *
    * Scale shape: pure column expressions over one row — map-only, fuses
    * into the scan, zero shuffles, no UDF; at 100 TB this is scan-speed.
    * Output: (idCol, n_words, sum_word_len, n_lines, n_bullet_lines,
    * n_ellipsis_lines, n_symbols, n_alpha_words, n_stop_hits) — all long. */
  /** The nine signal expressions over one text column, named — shared by
    * the signal projection and the filter form so the two can never
    * drift. */
  private def gopherSignalExprs(c: Column): Seq[(String, Column)] = {
    val toks = CaptionStats.tokens(c)
    val lines = split(c, "\n")
    val nHash = length(c) - length(regexp_replace(c, "#", ""))
    val nDots = size(regexp_extract_all(c, lit("\\.\\.\\."), lit(0)))
    val stopArr = array(gopherStopwords.map(lit): _*)
    val lowToks = transform(toks, t => lower(t))
    Seq(
      "n_words" -> size(toks).cast("long"),
      "sum_word_len" ->
        aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long")),
      "n_lines" -> size(lines).cast("long"),
      "n_bullet_lines" ->
        size(filter(lines, l => ltrim(l).rlike("^[-*•]"))).cast("long"),
      "n_ellipsis_lines" ->
        size(filter(lines, l => rtrim(l).endsWith("...") ||
          rtrim(l).endsWith("…"))).cast("long"),
      "n_symbols" -> (nHash + nDots).cast("long"),
      "n_alpha_words" ->
        size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long"),
      "n_stop_hits" ->
        size(filter(stopArr, w => array_contains(lowToks, w))).cast("long"))
  }

  def gopherQualitySignals(df: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    df.select(col(idCol) +:
      gopherSignalExprs(col(textCol)).map { case (n, e) => e.as(n) }: _*)

  /** The Gopher keep-predicate over named signal expressions — exact
    * cross-multiplied integer comparisons of the paper's published
    * thresholds: words in [minWords, maxWords], mean word length in
    * [3, 10], symbol-to-word ratio ≤ 1/10, bullet lines ≤ 1/10,
    * ellipsis lines ≤ 3/10, alphabetic words ≥ 4/5, ≥ `minStopHits`
    * distinct stopword anchors. */
  private def gopherKeepOver(sig: Map[String, Column], minWords: Long,
                             maxWords: Long, minStopHits: Long): Column =
    sig("n_words") >= minWords && sig("n_words") <= maxWords &&
      lit(3L) * sig("n_words") <= sig("sum_word_len") &&
      sig("sum_word_len") <= lit(10L) * sig("n_words") &&
      lit(10L) * sig("n_symbols") <= sig("n_words") &&
      lit(10L) * sig("n_bullet_lines") <= sig("n_lines") &&
      lit(10L) * sig("n_ellipsis_lines") <= lit(3L) * sig("n_lines") &&
      lit(5L) * sig("n_alpha_words") >= lit(4L) * sig("n_words") &&
      sig("n_stop_hits") >= minStopHits

  /** [[gopherKeepOver]] against the OUTPUT COLUMNS of
    * [[gopherQualitySignals]] — for filtering an already-materialized
    * signal table. */
  def gopherKeep(minWords: Long = 50L, maxWords: Long = 100000L,
                 minStopHits: Long = 2L): Column =
    gopherKeepOver(
      gopherSignalExprs(lit("")).map { case (n, _) => n -> col(n) }.toMap,
      minWords, maxWords, minStopHits)

  /** Keep only documents passing the Gopher rules — the filter form
    * (t13's `dropFlagged` shape but with NO join: the signals are pure
    * per-row expressions, so the predicate inlines them and fuses into
    * the scan — map-only, zero shuffles). */
  def gopherDropLowQuality(df: DataFrame, textCol: String,
                           minWords: Long = 50L, maxWords: Long = 100000L,
                           minStopHits: Long = 2L): DataFrame =
    df.filter(gopherKeepOver(gopherSignalExprs(col(textCol)).toMap,
      minWords, maxWords, minStopHits))

  /** Gopher REPETITION rules (Rae et al. 2021 §A1.1, Table A1) — the
    * char-weighted half that [[gopherQualitySignals]]'s format rules
    * deliberately left out (t7's duplicate-fractions are the count-based
    * simplification; t10 computes the top-2-gram coverage alone). Per
    * document:
    *
    *   - duplicate "line" stats over the sentence split (the synthetic
    *     corpus has no newlines — same relaxation as t12; the metric
    *     machinery is identical, only the delimiter differs):
    *     `n_sents`, `n_dup_sents` (sentences whose exact text occurs
    *     more than once, ALL occurrences counted — the Dolma/NemoCurator
    *     reading of the paper), `sum_sent_chars`, `dup_sent_chars`.
    *   - `top{2,3,4}_chars`: chars covered by the single most frequent
    *     n-gram (count × gram length; ties → lexicographically smallest
    *     gram, t10's rule). Raw by contract — overlapping occurrences
    *     can push coverage past the doc length.
    *   - `dup{5..10}_chars`: chars covered by ALL occurrences of
    *     n-grams appearing more than once (Σ count × gram length over
    *     grams with count > 1).
    *   - `keep`: the paper's thresholds as EXACT cross-multiplied
    *     integer comparisons against `tc` = doc chars — dup-sent frac
    *     ≤ 3/10, dup-sent-char frac ≤ 1/5, top-gram char frac ≤
    *     {2: 1/5, 3: 9/50, 4: 4/25}, dup-gram char frac ≤ {5: 3/20,
    *     6: 7/50, 7: 13/100, 8: 3/25, 9: 11/100, 10: 1/10}. A
    *     repetition-free (or empty) doc keeps; word-count floors are
    *     [[gopherKeep]]'s job.
    *
    * Scale shape: MAP-ONLY since r14 — every metric above is per-doc
    * (no cross-document term exists in the definition), so the whole
    * frame is one Project over the scan: sentence stats are in-row HOF
    * expressions (quadratic in sentences-per-doc, fine — docs have
    * tens of sentences) and all nine gram coverages come from ONE
    * evaluation of the native codegen'd
    * [[graft.functions.RepetitionCovs]] expression (hash-map counts,
    * O(Σn·L) per doc; Gopher's own 100k-word ceiling bounds the map).
    * Zero shuffle, zero join — at 100 TB this fuses into the scan
    * stage. The pre-r14 distributed explode + (doc, n, gram) groupBy
    * formulation survives in test scope as the parity witness
    * (`GopherRepetitionDistributed`). */
  def gopherRepetitionStats(df: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    val id = col(idCol)
    val c = col(textCol)
    // two-step select: neither native result is cheap, so
    // CollapseProject keeps the second Project from inlining __ss 4×
    // and __covs 9× (verified: each expression once in the physical
    // plan); both Projects fuse into one codegen stage. The sentence
    // stats are the native SentenceDupStats — the HOF formulation was
    // O(S²) per doc AND interpreted, re-run once per extracted stat.
    val withCovs = df.select(
      id,
      length(c).cast("long").as("tc"),
      graft.functions.SentenceDupStats(
        CaptionStats.sentences(c)).as("__ss"),
      graft.functions.RepetitionCovs(coalesce(
        CaptionStats.tokens(lower(c)),
        array().cast("array<string>"))).as("__covs"))
    val sentNames = Seq("n_sents", "n_dup_sents", "sum_sent_chars",
      "dup_sent_chars")
    val covNames = Seq("top2_chars", "top3_chars", "top4_chars") ++
      (5 to 10).map(n => s"dup${n}_chars")
    val named = withCovs.select(
      Seq(idCol, "tc").map(col) ++
      sentNames.zipWithIndex.map { case (nm, i) =>
        col("__ss")(i).as(nm) } ++
      covNames.zipWithIndex.map { case (nm, i) =>
        col("__covs")(i).as(nm) }: _*)
    named.withColumn("keep", repetitionKeepOver.cast("long"))
  }

  /** The keep verdict over the NAMED coverage/sentence columns of the
    * stats frame — one threshold definition shared by every
    * formulation so they can never drift. */
  private[text] def repetitionKeepOver: Column =
    (topGramRules.map { case (n, m, k) =>
        lit(m) * col(s"top${n}_chars") <= lit(k) * col("tc") } ++
      dupGramRules.map { case (n, m, k) =>
        lit(m) * col(s"dup${n}_chars") <= lit(k) * col("tc") })
      .reduce(_ && _) &&
      lit(10L) * col("n_dup_sents") <= lit(3L) * col("n_sents") &&
      lit(5L) * col("dup_sent_chars") <= col("sum_sent_chars")

  /** The paper's per-n thresholds as (n, numerator m, denominator k):
    * keep iff m·coverage_chars ≤ k·doc_chars. ONE definition shared by
    * the distributed rollup ([[gopherRepetitionStats]]) and the in-row
    * expression ([[gopherRepetitionKeep]]) so the two can never
    * drift. */
  private val topGramRules: Seq[(Int, Long, Long)] =
    Seq((2, 5L, 1L), (3, 50L, 9L), (4, 25L, 4L))
  private val dupGramRules: Seq[(Int, Long, Long)] =
    Seq((5, 20L, 3L), (6, 50L, 7L), (7, 100L, 13L),
      (8, 25L, 3L), (9, 100L, 11L), (10, 10L, 1L))

  /** The t15 repetition KEEP verdict as a single per-row COLUMN
    * expression — the streaming-composable form of
    * [[gopherRepetitionStats]]'s `keep` bit (same metrics, same
    * [[topGramRules]]/[[dupGramRules]] thresholds; spec-pinned equal
    * on the corpus fixture).
    *
    * Since r14 both forms share ONE gram engine: the native
    * [[graft.functions.RepetitionCovs]] expression (all nine coverages
    * in one codegen'd per-row pass), so batch ≡ stream is structural,
    * not coincidental. (The r13 in-row run-length-over-sorted-grams
    * HOF this replaces was already O(L log L), but evaluated
    * interpreted — the native is the same per-row shape, compiled.)
    *
    * NOTE: the 9 extractions below reference one `covs` Column; inside
    * a single filter predicate Spark's subexpression elimination
    * evaluates the native expression once per row (verified — one
    * repetition_covs in the generated code). */
  def gopherRepetitionKeep(c: Column): Column = {
    val tc = length(c).cast("long")
    val ss = graft.functions.SentenceDupStats(CaptionStats.sentences(c))
    val covs = graft.functions.RepetitionCovs(coalesce(
      CaptionStats.tokens(lower(c)), array().cast("array<string>")))
    (topGramRules.zipWithIndex.map { case ((_, m, k), i) =>
        lit(m) * covs(i) <= lit(k) * tc } ++
      dupGramRules.zipWithIndex.map { case ((_, m, k), i) =>
        lit(m) * covs(i + 3) <= lit(k) * tc })
      .reduce(_ && _) &&
      lit(10L) * ss(1) <= lit(3L) * ss(0) &&
      lit(5L) * ss(3) <= ss(2)
  }

  /** The COMBINED Gopher pass (Rae et al. 2021 §A1.1 applies both rule
    * families and drops): FORMAT rules ([[gopherQualitySignals]] / t14)
    * AND REPETITION rules ([[gopherRepetitionStats]] / t15) in one
    * call, returning the SURVIVING documents with their original
    * columns — the d19/d20 drop-variant shape, and the reference's own
    * chained-filter semantics (`filters/filter_base.py:14-19`:
    * successive keeps conjoin).
    *
    * Both halves REUSE the audited single-family predicates
    * ([[gopherKeepOver]] over [[gopherSignalExprs]];
    * [[gopherRepetitionKeep]], which shares its gram engine and
    * thresholds with [[gopherRepetitionStats]]) — the composite adds
    * no new metric definitions that could drift from the audited
    * singles.
    *
    * Scale shape: ONE map-only filter — both rule families are pure
    * per-row predicates (the repetition half via the native
    * [[graft.functions.RepetitionCovs]] expression), so the whole
    * composite fuses into the scan with zero shuffle and zero join
    * (spec-pinned: no Exchange in the plan). Short-circuit order
    * matters: the cheap format conjuncts run first, so the gram
    * counting pass only ever evaluates on format survivors.
    *
    * `idCol` is unused since the r14 map-only rewrite; the parameter
    * stays for call-site stability (q6, t16, streaming twins). */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   minWords: Long = 50L, maxWords: Long = 100000L,
                   minStopHits: Long = 2L): DataFrame =
    // (r21 note: a spread() here is useless — filter pushdown sinks
    // the predicate below any repartition, back onto the narrow scan.
    // Callers that need the expensive predicate parallelized off a
    // small-file scan should project [[gopherKeepColumn]] above a
    // materialization boundary instead — see q6_shard_ingest.)
    df.filter(gopherKeepColumn(col(textCol), minWords, maxWords,
      minStopHits))

  /** The full Gopher keep verdict (format rules + repetition rules) as
    * ONE boolean column — [[gopherFilter]]'s predicate, exposed so a
    * caller can evaluate it as a PROJECTION above an exchange or
    * checkpoint (a bare filter is pushed below both, serializing the
    * expensive natives onto a single-partition scan; r21). */
  def gopherKeepColumn(text: Column, minWords: Long = 50L,
                       maxWords: Long = 100000L,
                       minStopHits: Long = 2L): Column =
    gopherKeepOver(gopherSignalExprs(text).toMap,
      minWords, maxWords, minStopHits) &&
      gopherRepetitionKeep(text)

  /** Per-source distribution DRIFT against the whole corpus, in
    * integer-exact bits — the data-mixture QA measurement: before
    * weighting sources into a training mix (o10/o11), quantify how far
    * each source's unigram distribution sits from the pooled corpus.
    * `div_bits` is Σ_tok cnt_s(tok) × (bits_corpus(tok) −
    * bits_source(tok)) with the t11 integer-bit code length
    * bits(tok) = len(bin(total)) − len(bin(cnt)) ≈ ⌊log₂(total/cnt)⌋ —
    * i.e. the extra bits the CORPUS-wide code spends encoding the
    * source versus its own code: n_toks × KL(p_src ‖ p_corpus) in the
    * floor-log2 approximation (Wenzek et al. 2020 use the same
    * cross-entropy-delta idea with KenLM; integer bits keep it
    * hash-exact across engines). Individual integer roundings can push
    * a near-identical source slightly negative — the measurement is an
    * ORDERING diagnostic (which sources drift most), not a calibrated
    * divergence.
    *
    * Scale shape: one (source, tok) token shuffle (map-combines — the
    * source key multiplies nothing); a vocabulary-sized rollup to
    * corpus counts; the sf⋈cf join is vocab-sized and tok-keyed
    * (AQE-skew-splittable); per-source totals and the corpus total
    * attach as broadcasts. No doc-keyed anything — output is one row
    * per source. */
  def sourceDivergence(df: DataFrame, srcCol: String,
                       textCol: String): DataFrame = {
    val tk = df.select(col(srcCol),
      explode(CaptionStats.tokens(lower(col(textCol)))).as("tok"))
    val sf = tk.groupBy(col(srcCol), col("tok"))
      .agg(count(lit(1)).as("cnt_s"))
    val cf = sf.groupBy("tok").agg(sum("cnt_s").as("cnt_c"))
    val stot = sf.groupBy(col(srcCol)).agg(sum("cnt_s").as("total_s"))
    val ctot = cf.agg(sum("cnt_c").as("total_c"))
    val bitsS = length(bin(col("total_s"))) - length(bin(col("cnt_s")))
    val bitsC = length(bin(col("total_c"))) - length(bin(col("cnt_c")))
    sf.join(cf, "tok")
      .join(broadcast(stot), srcCol)
      .crossJoin(broadcast(ctot))
      .groupBy(col(srcCol))
      .agg(sum("cnt_s").as("n_toks"),
        sum(col("cnt_s") * (bitsC - bitsS).cast("long")).as("div_bits"))
      .withColumn("mean_div_bits",
        col("div_bits").cast("double") / col("n_toks").cast("double"))
  }
}
