package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.enrich.CaptionStats
import graft.text.TextAnalysis
import graft.util.{CacheScope, Metrics, StoreLease}

/** Deduplication operators for LLM-scale corpora (north-star extension,
  * BASELINE.json). All keys are md5-derived so results are deterministic and
  * engine-independent (oracle-checkable), and every algorithm is expressed as
  * shuffle-on-key DataFrame plans that scale horizontally:
  *
  *  - exact:   hash-groupBy on a normalized fingerprint — one shuffle whose
  *             width is the number of *distinct* documents.
  *  - MinHash: per-doc signatures are MAP-ONLY (native
  *             [[graft.functions.MinHashRot]]: one md5 per shingle, k
  *             rotation-mins in one array pass); banding turns O(n²)
  *             similarity into equi-joins on band hashes — the classic LSH
  *             trick; the only shuffle is by band hash, never all-pairs.
  *  - SimHash: 16-bit majority signature, Hamming-bucket join.
  *  - n-gram Jaccard: verification on candidate pairs only.
  */
object Dedup {

  /** NFC-first keying gate, default ON across the hash-keyed dedup
    * family (d1/d8/d9/d13): canonically-equivalent Unicode strings can
    * have different bytes (precomposed U+00E9 vs e + combining U+0301),
    * so byte-level digest keys silently miss such pairs unless the text
    * is normalized first — see [[graft.functions.NfcNormalize]], whose
    * ASCII fast path makes the default ~one branch per byte on ASCII
    * corpora (zero-copy, no allocation). Pass `nfc = false` to key on
    * raw bytes (byte-exact dedup of already-normalized corpora). */
  private def nfcKey(c: Column, nfc: Boolean): Column =
    if (nfc) graft.functions.NfcNormalize(c) else c

  /** Exact-dup groups: fingerprint → canonical (min) id + member count.
    * Only groups with >1 member are duplicates. NFC-first by default
    * (see [[nfcKey]]). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String,
                  nfc: Boolean = true): DataFrame =
    graft.util.Partitioning.spread(df)
      .select(col(idCol),
        TextAnalysis.fingerprint(col(textCol), nfc).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_members"))

  /** Exact dedup: keep one row (min id) per fingerprint. NFC-first by
    * default (see [[nfcKey]]). */
  def dropExactDups(df: DataFrame, idCol: String, textCol: String,
                    nfc: Boolean = true): DataFrame = {
    val withFp =
      df.withColumn("fp", TextAnalysis.fingerprint(col(textCol), nfc))
    val keep = withFp.groupBy("fp").agg(min(col(idCol)).as(idCol))
    withFp.join(keep, Seq("fp", idCol), "left_semi").drop("fp")
  }

  /** URL-level dedup, keep-first (lowest id) per CANONICAL url — the
    * web-corpus first pass (most crawl dups are the same page under
    * cosmetically different URLs), run before any content-level pass:
    * canonicalization ([[graft.functions.UrlFunctions.canonicalizeUrl]])
    * is a map-only codegen'd string pass, and the dedup is one
    * hash-groupBy — same shape as [[dropExactDups]] with the canonical
    * string as the fingerprint. Query twin: `d10_url_dedup` (which
    * aggregates the groups; this keeps the surviving rows). */
  def dropUrlDups(df: DataFrame, idCol: String,
                  urlCol: String): DataFrame = {
    val withC = df.withColumn("__curl",
      graft.functions.UrlFunctions.canonicalizeUrl(col(urlCol)))
    val keep = withC.groupBy("__curl").agg(min(col(idCol)).as(idCol))
    withC.join(keep, Seq("__curl", idCol), "left_semi").drop("__curl")
  }

  /** Distinct word n-gram shingles of a text column (n=1 → distinct
    * tokens). Shingling before MinHash is what makes LSH discriminative:
    * unigram Jaccard saturates on corpora with shared vocabulary, while
    * 3-gram shingles are near-unique to genuinely duplicated passages. */
  def shingles(c: Column, n: Int): Column =
    shinglesFromToks(CaptionStats.tokens(lower(c)), n)

  /** Shingles over an already-materialized token-array column. n ≥ 2 uses
    * the native [[graft.functions.Shingles]] expression: one pass, hash-set
    * distinct, and — decisively — no lambda scope for Catalyst rewrites to
    * poison (a pushed-down predicate that references a lambda-HOF array
    * re-evaluates inlined subtrees per element; see the Shingles scaladoc
    * and OptimizerTuning). [[shinglesFromToksHof]] keeps the column
    * formulation as the parity witness. */
  private def shinglesFromToks(toks: Column, n: Int): Column =
    if (n == 1) array_distinct(toks)
    else graft.functions.Shingles(toks, n)

  /** The `functions`-only HOF formulation — semantics oracle for the
    * native expression (PropertySpec compares them on generated inputs);
    * test-only, never in a hot path. */
  private[graft] def shinglesFromToksHof(toks: Column, n: Int): Column = {
    val sh = transform(sequence(lit(0), size(toks) - n), i =>
      concat_ws(" ", slice(toks, i + 1, lit(n))))
    array_distinct(when(size(toks) < n, array()).otherwise(sh))
  }

  /** (id, shingle-array) table — the shared base of the signature path and
    * the Jaccard-verify path. Inputs narrower than the session's
    * parallelism (e.g. one small parquet file — parquet can't split below a
    * row group) are repartitioned first: the shingle+hash work dwarfs the
    * tiny shuffle. Wide inputs (the 100 TB case) keep their natural
    * partitioning.
    *
    * Rows that cannot yield a shingle (fewer than `shingleN` tokens) are
    * dropped HERE, as a predicate on the flat token array — NOT downstream
    * as `size(__s) > 0`. A filter on the HOF-built `__s` gets pushed below
    * its project with the transform substituted in, and HOF lambdas
    * re-evaluate inlined subtrees per element — measured +2.4 s on the d3
    * signature stage at sf0.1 (the same pathology OptimizerTuning documents
    * for inferred generate filters, but from an explicit filter). The
    * token-count predicate re-evaluates only the lambda-free tokenizer.
    * Semantics are identical: size(shingles) > 0 ⇔ size(tokens) ≥ n, and
    * every consumer (signatures, explode, candidate-verify join) ignores
    * zero-shingle rows anyway — as does the oracle's `unnest`.
    *
    * `tokensCol` (tokenize-once threading): when set, it names a column
    * the CALLER asserts equals `CaptionStats.tokens(col(textCol))` — the
    * original-case whitespace token array — and the regex tokenization
    * is skipped; the normalized view derives PER TOKEN
    * (`lower(nfc(tok))`), which is positionally and value-identical to
    * tokenizing the transformed string because neither lowercasing nor
    * NFC composition creates or removes whitespace (the alignment
    * contract [[dropDupSpans]] documents). The length filter runs on the
    * SOURCE array (same size — `transform` is length-preserving), so the
    * pushed-down predicate never re-evaluates the lambda. */
  private def shingleTable(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, nfc: Boolean = false,
                           tokensCol: Option[String] = None): DataFrame = {
    val withToks = tokensCol match {
      case Some(tc) =>
        graft.util.Partitioning.spread(df)
          .select(col(idCol), col(tc).as("__rt"))
          .filter(size(col("__rt")) >= shingleN)
          .select(col(idCol),
            transform(col("__rt"), t => lower(nfcKey(t, nfc))).as("__toks"))
      case None =>
        graft.util.Partitioning.spread(df).select(col(idCol),
          CaptionStats.tokens(lower(nfcKey(col(textCol), nfc))).as("__toks"))
          .filter(size(col("__toks")) >= shingleN)
    }
    withToks.select(col(idCol),
      shinglesFromToks(col("__toks"), shingleN).as("__s"))
  }

  /** The i-th member of the single-digest hash family: the 32-hex-char md5
    * digest rotated left by i characters. Rotation is the cheapest mix that
    * is (a) a bijection on digests, so min-of-rotation is a well-defined
    * MinHash, and (b) pure string ops, so the oracle reproduces it with two
    * `substr`s. Lexicographic order under rotation i is dominated by digest
    * nibble i — an independent uniform hex digit per i — so the k argmins
    * are as good as independent hash draws for LSH banding. */
  private def rotDigest(d: Column, i: Int): Column =
    if (i == 0) d
    else concat(substring(d, i + 1, 32 - i), substring(d, 1, i))

  /** MinHash signatures from an (id, shingle-array) table — MAP-ONLY via
    * the native [[graft.functions.MinHashRot]] expression: one md5 per
    * shingle, all k rotation-mins in a single pass over each row's array.
    * Docs with no shingles are filtered first (the aggregate/oracle form
    * emits no row for them; also keeps ANSI `element_at` in bounds).
    *
    * History: the r4 form computed k independent `md5(shingle || '#i')`
    * digests per shingle (12× the md5 work — 17 s of the r4 bench); the
    * first r5 form fixed the arithmetic but still exploded shingles and
    * shuffled them into a groupBy — [[signaturesFromAgg]] keeps that
    * formulation as the parity witness. */
  private def signaturesFrom(sh: DataFrame, idCol: String,
                             k: Int): DataFrame = {
    // no emptiness filter here: shingleTable already dropped zero-shingle
    // rows on the (cheap) token-count predicate — a size(__s) filter at
    // this level would re-evaluate the shingle transform per element once
    // pushed below the project (see shingleTable scaladoc)
    val withSig = sh
      .select(col(idCol), graft.functions.MinHashRot(col("__s"), k)
        .as("__sig"))
    withSig.select(col(idCol) +: (0 until k).map(i =>
      element_at(col("__sig"), i + 1).as(s"mh$i")): _*)
  }

  /** The explode → groupBy formulation of [[signaturesFrom]] (same
    * single-digest rotation family) — semantics oracle for the native
    * expression; test-only, never in a hot path. */
  private[graft] def signaturesFromAgg(sh: DataFrame, idCol: String,
                                       k: Int): DataFrame = {
    val toks = sh.select(col(idCol), explode(col("__s")).as("token"))
      .select(col(idCol), md5(col("token")).as("__d"))
    val aggs = (0 until k).map(i => min(rotDigest(col("__d"), i)).as(s"mh$i"))
    toks.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** (id, shingle-array) table for [[signaturesFromAgg]] parity tests. */
  private[graft] def shingleTableForTest(df: DataFrame, idCol: String,
                                         textCol: String,
                                         shingleN: Int): DataFrame =
    shingleTable(df, idCol, textCol, shingleN)

  /** MinHash signature columns: for each of k hash functions, the minimum
    * over the doc's distinct shingles of rotate(md5(shingle), i) — ONE md5
    * per shingle, k rotation comparisons, computed per-row with no
    * shuffle. The family is deterministic across engines
    * (oracle-checkable). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int, shingleN: Int = 1): DataFrame =
    signaturesFrom(shingleTable(df, idCol, textCol, shingleN), idCol, k)

  /** rows-per-band with the divisibility contract made loud: a
    * truncating k/bands would silently ignore trailing minhashes and
    * invalidate the documented recall math. */
  private def rowsPer(k: Int, bands: Int): Int = {
    require(bands >= 1 && k % bands == 0,
      s"bands ($bands) must divide the signature width k ($k)")
    k / bands
  }

  /** LSH banding over a minhash signature: `bands` bands of `rowsPerBand`
    * hashes each; band key = md5(concat of the band's hashes). Docs sharing
    * any band key are candidate pairs. Returns (band_idx, band_key, id). */
  def lshBands(sig: DataFrame, idCol: String, bands: Int,
               rowsPerBand: Int): DataFrame = {
    // bands must tile the signature exactly: truncating k/bands would
    // silently ignore trailing hashes (wrong recall math), and
    // rowsPerBand = 0 would give EVERY doc the constant md5("") band
    // key — one corpus-sized bucket, then zero candidates after the
    // cap. Fail loud instead; every k/bands caller inherits the check.
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands ($bands) and rowsPerBand ($rowsPerBand) must be >= 1")
    require(sig.columns.contains(s"mh${bands * rowsPerBand - 1}"),
      s"signature too narrow: need mh0..mh${bands * rowsPerBand - 1}")
    val bandRows = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"mh$i"))
      struct(lit(b).as("band_idx"),
        md5(concat_ws("|", cols: _*)).as("band_key"))
    }
    sig.select(col(idCol), explode(array(bandRows: _*)).as("band"))
      .select(col("band.band_idx"), col("band.band_key"), col(idCol))
  }

  /** Candidate pairs (a < b) from a signature table: band → group → emit
    * the i<j pairs per bucket. Replaces the r2 band self-join — a self-join
    * references the band subplan twice, so Spark either recomputes the
    * whole shingle+minhash pipeline per side or the bands must be persisted
    * (the r2 persist leak). A groupBy computes the bands ONCE; pairs come
    * from exploding each bucket's sorted id list, which is exactly the
    * within-bucket pair set the join produced.
    *
    * Skew guard — the d9/d13 aggregate-not-Window discipline: bucket
    * sizes come from a map-combined `groupBy(band).count` joined back,
    * NEVER a Window count on the band key (a Window partition must see
    * every row of a viral bucket in ONE task's sort before the filter
    * can drop it — AQE cannot skew-split Window partitions). Rows are
    * distinct on (band, id) by construction, so a keyed no-op aggregate
    * first materializes the band table behind an exchange whose key
    * INCLUDES the id (a hot bucket spreads across tasks); both the
    * count branch and the pair branch then consume that same exchange
    * subtree (canonically identical → AQE stage reuse, the d13 shape:
    * the shingle+minhash pipeline runs ONCE — re-introducing neither
    * the r2 self-join recompute nor the r2 persist leak), the count
    * collapses map-side, and an oversized bucket is dropped by the
    * equi-join filter BEFORE any collect_list buffers it. Dropped
    * buckets lose recall, never precision — the cap is a
    * [[Metrics.capped]] operator that counts them in the same job
    * (the eager wrappers warn-log the count, lazy callers read
    * [[Metrics.drops]]); the oracle mirrors the same cap. */
  private def pairsFromSignatures(sig: DataFrame, idCol: String, bands: Int,
                                  rowsPerBand: Int,
                                  maxBucket: Int): DataFrame = {
    val b = lshBands(sig, idCol, bands, rowsPerBand)
      .groupBy(col("band_idx"), col("band_key"), col(idCol))
      .agg(count(lit(1)).as("__one")) // no-op: rows are distinct; see doc
    // count(when(__one > 0, 1)) ≡ count(1) (__one ≥ 1) but the opaque
    // __one reference stops column pruning from narrowing this branch,
    // keeping both exchange subtrees identical for stage reuse (d13)
    val counts = Metrics.capped(b.groupBy(col("band_idx"), col("band_key"))
      .agg(count(when(col("__one") > 0, lit(1))).as("__bn")),
      "__bn", maxBucket, min = 2)
      .select(col("band_idx"), col("band_key"))
    // the __one > 0 filter is a no-op (counts are ≥ 1) whose job is to
    // keep __one referenced on THIS branch too — otherwise pruning
    // turns its partial aggregate distinct-style, the two exchange
    // subtrees stop canonicalizing equal, and the minhash pipeline
    // computes twice instead of hitting ReusedExchange
    val sized = b.join(counts, Seq("band_idx", "band_key"))
      .filter(col("__one") > 0)
    val buckets = sized.groupBy("band_idx", "band_key")
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
    buckets.select(explode(sortedIdPairs(col("__ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
  }

  /** All (a < b) pairs of a SORTED-id array column, as an
    * array<struct<id_a, id_b>> — the shared bucket pair-explode of
    * [[pairsFromSignatures]], [[shardCandidatePairs]] and
    * [[graft.similarity.Ann.cosineNearDupPairs]]. CALLER CONTRACT:
    * the array must have ≥ 2 elements — sequence(0, -1) DESCENDS in
    * Spark (the lower bound is not a guard) and the descending index
    * then trips ANSI element_at; every call site filters or
    * guarantees bucket size ≥ 2 upstream. */
  private[graft] def sortedIdPairs(ids: Column): Column = {
    val n = size(ids)
    flatten(transform(sequence(lit(0), n - 2), i =>
      transform(sequence(i + 1, n - 1), j =>
        struct(element_at(ids, i + 1).as("id_a"),
          element_at(ids, j + 1).as("id_b")))))
  }

  /** Candidate duplicate pairs (a < b) from shared LSH bands — one
    * shuffle chain (shingles → signatures → band buckets → pairs), no
    * self-join, no persist; bucket sizes capped at `maxBucket`. */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 12, bands: Int = 4,
                            shingleN: Int = 3,
                            maxBucket: Int = 10000): DataFrame =
    pairsFromSignatures(
      signaturesFrom(shingleTable(df, idCol, textCol, shingleN), idCol, k),
      idCol, bands, rowsPer(k, bands), maxBucket)

  /** End-to-end near-duplicate detection: LSH candidates verified by
    * true shingle-Jaccard. Returns (id_a, id_b, jaccard) for verified
    * pairs (a < b, jaccard ≥ threshold).
    *
    * The (id, shingles) table is computed ONCE — persisted, shared by the
    * signature path and both sides of the verify join (without the persist,
    * Spark recomputes the tokenize+shingle chain three times in the one
    * materializing job). The verified-pair result (small: O(candidates)) is
    * an eager [[CacheScope.handOff]], so the big shingle cache is released
    * before returning. Verification work is O(candidates), never O(n²),
    * and the Jaccard formula is the exact-int-division form that
    * hash-matches a SQL oracle. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, k: Int = 12, bands: Int = 4,
                   shingleN: Int = 3, maxBucket: Int = 10000,
                   tokensCol: Option[String] = None): DataFrame =
  CacheScope.run { scope =>
    val sh = scope.cache(shingleTable(df, idCol, textCol, shingleN,
      tokensCol = tokensCol))
    val cand = pairsFromSignatures(signaturesFrom(sh, idCol, k), idCol,
      bands, rowsPer(k, bands), maxBucket)
    val a = sh.select(col(idCol).as("id_a"), col("__s").as("__sa"))
    val b = sh.select(col(idCol).as("id_b"), col("__s").as("__sb"))
    val inter = size(array_intersect(col("__sa"), col("__sb")))
    val uni = size(col("__sa")) + size(col("__sb")) - inter
    val verified = CacheScope.handOff(cand.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard",
        when(uni === 0, 0.0).otherwise(inter.cast("double") / uni))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard"))
    verified.count() // materialize while the shingle cache is alive
    Metrics.logDrops("nearDupPairs bucket cap", verified)
    verified
  }

  /** MinHash estimated Jaccard per LSH candidate pair:
    * est = (# agreeing signature components) / k — the cheap pre-verify
    * score (exact int/int division over md5-derived strings, so it
    * hash-matches a SQL oracle). The signature table is computed ONCE
    * and persisted, shared by candidate generation and both join sides —
    * assembling the same pipeline from the public minhashSignatures +
    * minhashCandidatePairs calls rebuilds the tokenize→shingle→md5
    * lineage ~4× in the one materializing job. EAGER like
    * [[nearDupPairs]]: the small pair result materializes while the
    * signature cache is alive, then the cache is released. */
  def minhashEstimates(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 12, bands: Int = 4, shingleN: Int = 3,
                       maxBucket: Int = 10000): DataFrame =
  CacheScope.run { scope =>
    val sig = scope.cache(signaturesFrom(
      shingleTable(df, idCol, textCol, shingleN), idCol, k))
    val cand = pairsFromSignatures(sig, idCol, bands, rowsPer(k, bands), maxBucket)
    def side(name: String, p: String) = (0 until k).foldLeft(
      sig.withColumnRenamed(idCol, name))(
      (d, i) => d.withColumnRenamed(s"mh$i", s"$p$i"))
    val agree = (0 until k).map(i =>
      when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val out = CacheScope.handOff(cand.join(side("id_a", "__a"), "id_a")
      .join(side("id_b", "__b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (agree.cast("double") / lit(k).cast("double")).as("est_jaccard")))
    out.count() // materialize while the signature cache is alive
    Metrics.logDrops("minhashEstimates bucket cap", out)
    out
  }

  /** CONTAINMENT near-dup pairs — the asymmetric complement of
    * [[nearDupPairs]]'s symmetric Jaccard: c = |A∩B| / min(|A|, |B|)
    * catches a document EMBEDDED in a longer one (quote-and-extend
    * spam, article + boilerplate wrapper), where Jaccard stays low
    * because the union is dominated by the superset. Returns
    * (id_a, id_b, containment, contained_id) for verified pairs
    * (a < b, containment ≥ threshold); `contained_id` is the doc with
    * the SMALLER shingle set (the embedded one — ties, i.e. equal
    * sizes, resolve to the larger id so keep-first semantics match
    * [[dropNearDups]]).
    *
    * Candidate recall, stated honestly: candidates come from MinHash
    * bands tuned by JACCARD, and a pair with size ratio r has
    * Jaccard ≤ 1/r even at full containment — so the default here is
    * the HIGH-RECALL banding, bands = k (one row per band):
    * P(miss) = (1−J)^k ≈ 3% at J = 0.25, k = 12 — practical through
    * size ratios of ~4–5. A tweet inside a book (J ≈ 0.05) still
    * escapes any Jaccard banding; that regime needs partition-by-size
    * LSH (Zhu et al. 2016, "LSH Ensemble") — the documented upgrade
    * path, not implemented here. The wider buckets of 1-row bands are
    * exactly what `maxBucket` caps (with the recall-loss count).
    * Same cache discipline as [[nearDupPairs]] (one shingle table,
    * eager pair materialize, caches released). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, k: Int = 12, bands: Int = 12,
                       shingleN: Int = 3,
                       maxBucket: Int = 10000): DataFrame =
  CacheScope.run { scope =>
    val sh = scope.cache(shingleTable(df, idCol, textCol, shingleN))
    val cand = pairsFromSignatures(signaturesFrom(sh, idCol, k), idCol,
      bands, rowsPer(k, bands), maxBucket)
    val a = sh.select(col(idCol).as("id_a"), col("__s").as("__sa"))
    val b = sh.select(col(idCol).as("id_b"), col("__s").as("__sb"))
    val inter = size(array_intersect(col("__sa"), col("__sb")))
    val minSize = least(size(col("__sa")), size(col("__sb")))
    val verified = CacheScope.handOff(cand.join(a, "id_a").join(b, "id_b")
      .withColumn("containment",
        when(minSize === 0, 0.0)
          .otherwise(inter.cast("double") / minSize))
      .withColumn("contained_id",
        when(size(col("__sa")) < size(col("__sb")), col("id_a"))
          .when(size(col("__sb")) < size(col("__sa")), col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment", "contained_id"))
    verified.count() // materialize while the shingle cache is alive
    Metrics.logDrops("containmentPairs bucket cap", verified)
    verified
  }

  /** Drop every document verified CONTAINED in another (the embedded
    * copy loses, the superset survives) — [[containmentPairs]] with the
    * [[dropNearDups]] anti-join shape. */
  def dropContainedDocs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, k: Int = 12, bands: Int = 12,
                        shingleN: Int = 3,
                        maxBucket: Int = 10000): DataFrame = {
    val contained = containmentPairs(df, idCol, textCol, threshold, k,
      bands, shingleN, maxBucket)
      .select(col("contained_id").as(idCol)).distinct()
    df.join(contained, Seq(idCol), "left_anti")
  }

  /** Near-dedup: drop every doc verified near-duplicate of a lower-id
    * doc (greedy keep-first policy — the standard corpus-dedup rule;
    * full connected components would need an iterative join or graph
    * library). */
  def dropNearDups(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, k: Int = 12, bands: Int = 4,
                   shingleN: Int = 3, maxBucket: Int = 10000,
                   tokensCol: Option[String] = None): DataFrame = {
    val losers = nearDupPairs(df, idCol, textCol, threshold, k, bands,
      shingleN, maxBucket, tokensCol).select(col("id_b").as(idCol))
      .distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Connected-component labels over an undirected pair set: (id, label)
    * where label = min id of the component — iterative min-label
    * propagation, the principled alternative to greedy keep-first (a doc
    * linked only THROUGH a dropped doc still belongs to the component).
    *
    * Scale shape: each iteration is one join + one groupBy on the edge
    * set — O(E) work, shuffle on id; iterations ≤ graph diameter (labels
    * decrease monotonically, so convergence is guaranteed; near-dup
    * components are shallow in practice). Both frontier frames are
    * persisted and the superseded one released per iteration; lineage
    * depth grows with iterations, so when a SparkContext checkpoint dir
    * is configured the labels are reliably checkpointed every 5th round
    * (localCheckpoint is deliberately NOT used — it pins executor-local
    * blocks and loses them on executor failure).
    *
    * EAGER: unlike most builders in this engine, calling this runs Spark
    * jobs immediately — a `count` to pick the local-vs-distributed path,
    * then either a driver-side `collect` (small graphs) or the iterative
    * propagation itself. Callers composing plans without executing them
    * should not route through here. Pairs with a null endpoint are
    * dropped up front (an edge needs two vertices); ids must be mutually
    * `Comparable` (one of long/string/... — not mixed). */
  def componentLabels(pairsRaw: DataFrame, idA: String = "id_a",
                      idB: String = "id_b",
                      maxIters: Int = 100,
                      localThreshold: Long = 1L << 22): DataFrame =
  CacheScope.run { scope =>
    // A pair set that is cached already (nearDupPairs' hand-off) is read
    // in place; the scope caches (and later frees) only an uncached one.
    val raw = scope.cache(pairsRaw)
    // Null-endpoint pairs carry no edge. Dropping them HERE keeps the
    // local union-find (which would NPE on null in compareTo) and the
    // distributed loop (where a null join key silently never propagates,
    // leaving a spurious (null, null) label row) in exact agreement.
    val pairs = raw.filter(col(idA).isNotNull && col(idB).isNotNull)
    // Near-dup pair graphs are usually TINY relative to the corpus (the
    // verified duplicate pairs, not the documents). Below the threshold,
    // shuffle-round fixed costs dwarf the data — the same size-vs-topology
    // reasoning as a broadcast join — so solve locally with union-find
    // (4M edges ≈ tens of MB on the driver; identical min-label result,
    // deterministic). Above it, fall through to the distributed
    // propagation loop, which scales to any edge count.
    if (pairs.count() <= localThreshold)
      componentLabelsLocal(pairs, idA, idB)
    else {
      val sc = pairs.sparkSession.sparkContext
      val edges = scope.cache(
        pairs.select(col(idA).as("src"), col(idB).as("dst"))
          .union(pairs.select(col(idB).as("src"), col(idA).as("dst"))))
      var frontier = scope.cache(edges.select(col("src").as("id"))
        .distinct().withColumn("label", col("id")))
      var labels = frontier
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy("dst").agg(min("label").as("in_label"))
          .withColumnRenamed("dst", "id")
        // keep old + new label side by side: the SAME cached frame
        // answers the convergence probe and carries the next frontier —
        // no second join against the previous labels per round
        var joined = labels.join(prop, Seq("id"), "left")
          .select(col("id"), col("label"), least(col("label"),
            coalesce(col("in_label"), col("label"))).as("nlabel"))
        if (sc.getCheckpointDir.isDefined && iter % 5 == 4)
          joined = joined.checkpoint()
        scope.cache(joined)
        // FULL count, deliberately not limit(1): a CollectLimit probe can
        // stop after the first partitions, leaving most of `joined`
        // UNCACHED — then releasing the previous frontier below would
        // force the next iteration to recompute those partitions through
        // an ever-longer uncached lineage. The full scan materializes
        // every partition into the cache; its cost is one pass over the
        // frame the iteration just built anyway.
        val changed = joined.filter(col("nlabel") < col("label")).count()
        // the probe above materialized `joined` → `edges`: the pair
        // cache has served its purpose (count + edge build)
        if (iter == 0) scope.release(raw)
        scope.release(frontier)
        frontier = joined
        labels = joined.select(col("id"), col("nlabel").as("label"))
        converged = changed == 0
        iter += 1
      }
      // the returned frame reads the final frontier's cache
      scope.handOff(frontier)
      labels
    }
  }

  /** Driver-side union-find for sub-threshold pair graphs: same
    * (id, label=min id of component) result as the distributed loop,
    * computed in one collect. Path-halving + min-as-root keeps the
    * representative exactly the component minimum; ids only need to be
    * `Comparable` (long, string, ...). */
  private def componentLabelsLocal(pairs: DataFrame, idA: String,
                                   idB: String): DataFrame = {
    import scala.collection.mutable
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x0: Any): Any = {
      var x = x0
      while (parent(x) != x) {
        val gp = parent(parent(x))
        parent(x) = gp // path halving
        x = gp
      }
      x
    }
    pairs.select(col(idA), col(idB)).collect().foreach { r =>
      val a = r.get(0); val b = r.get(1)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // smaller id becomes the root so the root IS the component min
        if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val spark = pairs.sparkSession
    val idType = pairs.schema(idA).dataType
    val rows = parent.keys.toSeq.map { id =>
      org.apache.spark.sql.Row(id, find(id))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("label", idType))))
  }

  /** Near-dedup, connected-components policy: one representative (the
    * min id) survives per component of the verified-pair graph. Differs
    * from [[dropNearDups]] (greedy) on docs that join a component only
    * via a LARGER neighbor: greedy keeps them (they are never an id_b),
    * components folds them in and drops them. */
  def dropNearDupsCC(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double, k: Int = 12, bands: Int = 4,
                     shingleN: Int = 3, maxBucket: Int = 10000,
                     tokensCol: Option[String] = None): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold, k, bands,
      shingleN, maxBucket, tokensCol)
    val losers = componentLabels(pairs)
      .filter(col("label") < col("id")).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-dedup, QUALITY-REPRESENTATIVE policy: per connected component
    * of the verified-pair graph, keep the member with the HIGHEST
    * `scoreCol` (ties → smallest id) instead of the smallest id — the
    * "keep the best copy, not the first copy" rule real corpus curation
    * wants (longest doc, highest quality score, freshest crawl). The
    * score must be NUMERIC (the representative aggregate negates it);
    * non-numeric orderables map first — e.g. `unix_micros(crawl_ts)`
    * for freshest-crawl. [[dropNearDupsCC]] is the scoreCol = const
    * degenerate case.
    *
    * Scale shape: everything downstream of [[componentLabels]] operates
    * on the MEMBER set (docs appearing in ≥1 verified pair — tiny
    * relative to the corpus), never the corpus: one broadcast-sized join
    * to attach scores, then the representative per component is a
    * min-STRUCT aggregate `min(struct(−score, id))` (the d9
    * first-occurrence discipline — map-side combined, no Window, a
    * monster component collapses in its mapper), then one anti-join back.
    * Corpus-side work stays the one LSH pipeline scan. */
  def dropNearDupsKeepBest(df: DataFrame, idCol: String, textCol: String,
                           scoreCol: String, threshold: Double,
                           k: Int = 12, bands: Int = 4, shingleN: Int = 3,
                           maxBucket: Int = 10000,
                           tokensCol: Option[String] = None): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold, k, bands,
      shingleN, maxBucket, tokensCol)
    val members = componentLabels(pairs)
      .join(df.select(col(idCol).as("id"), col(scoreCol).as("__score")),
        Seq("id"))
    val reps = members.groupBy("label")
      .agg(min(struct(negate(col("__score")), col("id"))).as("__m"))
      .select(col("__m.id").as("id"))
    val losers = members.select("id").join(reps, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Leakage-safe train/val/test split: every NEAR-DUP COMPONENT lands
    * whole in one split, so no near-duplicate pair ever straddles the
    * train/test boundary — the group-aware split discipline every
    * benchmark-honest corpus release needs (splitting i.i.d. by doc
    * leaks paraphrases of test docs into train; the reference corpus
    * ships pre-split, so this is a north-star extension). Returns the
    * input plus `group_id` (the component label — min id, singletons =
    * their own id) and `split` ∈ train/val/test.
    *
    * Assignment is CONTENT-DETERMINISTIC, not seeded-random: bucket =
    * first 16 bits of md5 of the group id's decimal string, cut at
    * floor(trainFrac·2¹⁶) / floor((trainFrac+valFrac)·2¹⁶). Determinism
    * means a backfill (or the DuckDB oracle) reproduces the assignment
    * bit-for-bit, and adding NEW docs never reshuffles existing groups
    * (a group's bucket depends only on its own label — the stable-split
    * property incremental corpus releases rely on). Fractions are hit
    * in expectation over groups, not exactly per release (md5 is
    * uniform; the o5 seeded-sample op is the exact-n tool).
    *
    * Scale shape: the corpus-side work is [[nearDupPairs]]'s one LSH
    * pipeline scan; [[componentLabels]] runs on the verified-pair graph
    * (member-set-sized, tiny vs the corpus); the label attach is one
    * left join against that small frame (AQE broadcasts it), then the
    * split expression is map-only codegen'd md5 arithmetic. */
  /** The md5-bucket cutoffs of [[leakageSafeSplit]]:
    * (floor(trainFrac·2¹⁶), floor((trainFrac+valFrac)·2¹⁶)). Public and
    * used by BOTH the operator and the o13 oracle SQL builder — one
    * computation, so the two sides cannot disagree on floor() or on the
    * IEEE sum trainFrac+valFrac near a k/2¹⁶ boundary. */
  def splitCuts(trainFrac: Double, valFrac: Double): (Int, Int) =
    (math.floor(trainFrac * 65536).toInt,
      math.floor((trainFrac + valFrac) * 65536).toInt)

  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double,
                       trainFrac: Double = 0.90, valFrac: Double = 0.05,
                       k: Int = 12, bands: Int = 4, shingleN: Int = 3,
                       maxBucket: Int = 10000,
                       tokensCol: Option[String] = None): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      s"need trainFrac > 0, valFrac >= 0, trainFrac + valFrac < 1; " +
        s"got train=$trainFrac val=$valFrac")
    // the output owns these two column names; withColumn would
    // silently OVERWRITE a caller's existing column (e.g. a prior
    // release's split) instead of refusing — the loud-refusal posture
    // of ivfTopKPerQuery's column-role guard
    // match with the SESSION'S resolver: withColumn resolves
    // case-insensitively under the default spark.sql.caseSensitive=
    // false (a caller's 'Split' column would be overwritten even
    // though it fails an exact-string contains), but a case-SENSITIVE
    // session keeps the names distinct and must not be refused
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    Seq("group_id", "split").foreach { c =>
      require(!df.columns.exists(resolver(_, c)),
        s"leakageSafeSplit: input already has a '$c' column, which " +
          "this operator produces — rename or drop it first " +
          s"(e.g. .withColumnRenamed(\"$c\", \"${c}_prev\"))")
    }
    val (trainCut, valCut) = splitCuts(trainFrac, valFrac)
    val pairs = nearDupPairs(df, idCol, textCol, threshold, k, bands,
      shingleN, maxBucket, tokensCol)
    val labels = componentLabels(pairs)
      .select(col("id").as(idCol), col("label").as("__lsLabel"))
    val bucket = conv(substring(md5(col("group_id").cast("string")), 1, 4),
      16, 10).cast("int")
    df.join(labels, Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("__lsLabel"), col(idCol)))
      .drop("__lsLabel")
      .withColumn("split",
        when(bucket < trainCut, "train")
          .when(bucket < valCut, "val")
          .otherwise("test"))
  }

  /** BINARY(8) digest key: first 64 bits of md5 — the decontamination
    * join key (see [[decontaminate]]'s scaladoc for why 64 bits). */
  private def key64(tok: Column): Column = unhex(substring(md5(tok), 1, 16))

  /** Shared build side of the decontamination family: the benchmark's
    * distinct shingle tokens (cached through `keep`, which picks their
    * lifetime), the driver-built Bloom predicate over them, and
    * the BINARY(8) digest frame. ONE definition so [[decontaminate]]
    * and [[decontaminationReport]] can never drift on the keying
    * (xxhash64 bloom + md5-64 digest); [[shingleBloom]] shares the
    * same xxhash64 convention for the streaming twin. */
  private def decontaminationBenchSide(
      benchmark: DataFrame, idCol: String, textCol: String,
      shingleN: Int, bloomFpp: Double, nfc: Boolean,
      keep: DataFrame => DataFrame): DecontaminationBench = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    graft.util.OptimizerTuning.tune(benchmark.sparkSession)
    val benchToks = keep(
      shingleTable(benchmark, idCol, textCol, shingleN, nfc)
        .select(explode(col("__s")).as("token")).distinct())
    // two driver-side jobs over the (persisted) small side: exact count
    // to size the filter, then the bloom build itself
    val nBench = math.max(benchToks.count(), 1L)
    val bloom = benchToks.select(xxhash64(col("token")).as("__h"))
      .stat.bloomFilter("__h", nBench, bloomFpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos); bos.toByteArray
    }
    val mightContain = (tok: Column) => Bridge.column(
      new BloomFilterMightContain(Literal(bloomBytes),
        Bridge.expression(xxhash64(tok))))
    val bench = benchToks.select(key64(col("token")).as("__bd")).distinct()
    DecontaminationBench(mightContain, bench, shingleN, nfc)
  }

  /** Benchmark decontamination: drop from `corpus` every doc sharing at
    * least one word n-gram shingle with `benchmark` — the standard
    * train/eval overlap guard for LLM training corpora (n-gram collision
    * decontamination à la GPT-3/PaLM dataset cards).
    *
    * Scale shape: benchmark shingles reduce to a small DISTINCT digest set;
    * corpus shingles explode and semi-join on the digest; contaminated ids
    * anti-join back. Work is O(total shingles), no pairwise comparison
    * anywhere. Two constant-factor moves make the corpus side cheap:
    *
    *  - a Bloom filter over the benchmark digests (built driver-side —
    *    the benchmark side is small by definition — and shipped as a
    *    literal into a codegen'd [[BloomFilterMightContain]]) pre-filters
    *    corpus shingles ON THE SCAN, so the overwhelmingly-clean corpus
    *    never pays md5 or shuffle for non-matching shingles; exactness is
    *    preserved because survivors still go through the real semi-join;
    *  - the join key is the first 64 bits of the md5 digest as BINARY(8)
    *    (not the 32-char hex string) — half the comparison work and a
    *    quarter of the shuffle bytes for the survivors that do move.
    *
    * The 64-bit digest slice IS the match semantics (mirrored in the
    * oracle via `substr(md5(..),1,16)`): at 2^64, slice collisions are
    * ~10⁻⁹ even at 100 TB-scale shingle counts, and a collision only ever
    * drops an extra doc — the conservative direction for decontamination.
    *
    * NFC-first by default on BOTH sides (see [[nfcKey]]): a benchmark
    * question whose crawl copy differs only in Unicode composition must
    * still collide. */
  /** The PREPARED benchmark side of [[decontaminate]]: the Bloom
    * prefilter predicate, the digest join table (over the cached
    * shingle tokens), and the shingle parameters they were built with
    * (carried along so an apply call can never silently mismatch the
    * prepare call's n-gram family). Obtain via
    * [[prepareDecontamination]]; consume via [[decontaminateWith]]. */
  final case class DecontaminationBench private[dedup] (
      private[dedup] val mightContain: Column => Column,
      private[dedup] val bench: DataFrame,
      private[dedup] val shingleN: Int,
      private[dedup] val nfc: Boolean)

  /** Build [[decontaminate]]'s benchmark side eagerly (persist + count
    * + driver Bloom build — the expensive driver-blocking prefix) and
    * return the handle [[decontaminateWith]] consumes. Split out (r22,
    * guide §2.6) so a pipeline can overlap this build with an
    * INDEPENDENT earlier stage — in q4/q8 the benchmark Bloom now
    * builds concurrently with the selection/dedup front instead of
    * serializing after it. The token cache is a [[CacheScope.handOff]]:
    * it lives until the query boundary, and a handle may be applied
    * any number of times. */
  def prepareDecontamination(benchmark: DataFrame, idCol: String,
                             textCol: String, shingleN: Int = 5,
                             bloomFpp: Double = 0.01,
                             nfc: Boolean = true): DecontaminationBench =
    decontaminationBenchSide(benchmark, idCol, textCol, shingleN,
      bloomFpp, nfc, CacheScope.handOff)

  /** Apply a [[prepareDecontamination]] handle to a corpus — the lazy
    * half of [[decontaminate]] (same plan, same semantics; the n-gram
    * family rides in the handle). */
  def decontaminateWith(corpus: DataFrame, prepared: DecontaminationBench,
                        idCol: String, textCol: String,
                        corpusTokensCol: Option[String] = None)
      : DataFrame = {
    // both sides explode HOF-built shingle arrays — without this the
    // inferred size>0 filter re-tokenizes per element (17× on this query)
    graft.util.OptimizerTuning.tune(corpus.sparkSession)
    // corpusTokensCol: tokenize-once threading for the CORPUS side (the
    // 100 TB side); the benchmark side is small by definition and keeps
    // its own derivation
    val corpusSh = shingleTable(corpus, idCol, textCol, prepared.shingleN,
      prepared.nfc, corpusTokensCol)
      .select(col(idCol), explode(col("__s")).as("token"))
      .filter(prepared.mightContain(col("token")))
      .select(col(idCol), key64(col("token")).as("__bd"))
    val contaminated = corpusSh.join(prepared.bench, Seq("__bd"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 5,
                    bloomFpp: Double = 0.01, nfc: Boolean = true,
                    corpusTokensCol: Option[String] = None): DataFrame =
  CacheScope.run { scope =>
    // one-shot: the token cache serves the Bloom build only, and the
    // lazy plan recomputes the (small) benchmark side when it executes
    decontaminateWith(corpus, decontaminationBenchSide(benchmark, idCol,
      textCol, shingleN, bloomFpp, nfc, scope.cache),
      idCol, textCol, corpusTokensCol)
  }

  /** Per-document contamination REPORT — the measurement half of
    * [[decontaminate]]: before dropping anything, a corpus owner wants
    * the overlap DISTRIBUTION (is the benchmark leaking wholesale, or
    * are these incidental shared n-grams?). Returns one row per corpus
    * doc: (idCol, n_shingles, n_overlap, overlap_frac) where
    * `n_shingles` counts the doc's DISTINCT word `shingleN`-grams,
    * `n_overlap` those also present in the benchmark (exact digest
    * semi-join — the Bloom only prefilters the scan, so false
    * positives never reach the counts), and `overlap_frac` their
    * exact int/int ratio (IEEE-identical across engines). Docs too
    * short to shingle report (0, 0, 0.0).
    *
    * Same scale shape as [[decontaminate]] (bloom-prefiltered scan +
    * BINARY(8) digest semi-join) plus two map-combined per-doc
    * aggregates; thresholding the result (`overlap_frac >= x`) and
    * anti-joining reproduces a tunable decontamination pass. */
  def decontaminationReport(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, textCol: String,
                            shingleN: Int = 5, bloomFpp: Double = 0.01,
                            nfc: Boolean = true): DataFrame =
  CacheScope.run { scope =>
    // the token cache serves the Bloom build only: the lazy report
    // recomputes the (small) benchmark side when the caller executes
    val prep = decontaminationBenchSide(
      benchmark, idCol, textCol, shingleN, bloomFpp, nfc, scope.cache)
    // per-doc shingle arrays are already distinct (hash-set Shingles),
    // so both counts are DISTINCT-shingle counts without a distinct
    val docSh = shingleTable(corpus, idCol, textCol, shingleN, nfc)
      .select(col(idCol), explode(col("__s")).as("token"))
    val tot = docSh.groupBy(idCol).agg(count(lit(1)).as("n_shingles"))
    val hits = docSh.filter(prep.mightContain(col("token")))
      .select(col(idCol), key64(col("token")).as("__bd"))
      .join(prep.bench, Seq("__bd"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
    corpus.select(col(idCol))
      .join(tot, Seq(idCol), "left")
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_overlap").cast("double") /
            col("n_shingles").cast("double")))
  }

  /** Driver-built Bloom filter (serialized sketch bytes) over a benchmark
    * table's distinct shingle keys (`xxhash64` of each n-gram) — the
    * shareable half of [[decontaminate]], also consumed by the stateless
    * streaming filter [[graft.streaming.Streams.decontaminateStream]].
    * The benchmark side is small by definition; two driver jobs (exact
    * distinct count to size the filter, then the bloom build) run at call
    * time. */
  def shingleBloom(benchmark: DataFrame, textCol: String,
                   shingleN: Int = 5, fpp: Double = 0.01,
                   nfc: Boolean = true): Array[Byte] = {
    val bloom = CacheScope.run { scope =>
      val toks = scope.cache(graft.util.Partitioning.spread(benchmark)
        .select(CaptionStats.tokens(lower(nfcKey(col(textCol), nfc)))
          .as("__toks"))
        .filter(size(col("__toks")) >= shingleN)
        .select(explode(shinglesFromToks(col("__toks"), shingleN))
          .as("token"))
        .distinct())
      val n = math.max(toks.count(), 1L)
      toks.select(xxhash64(col("token")).as("__h"))
        .stat.bloomFilter("__h", n, fpp)
    }
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** Predicate: does `text` share at least one word n-gram with the
    * benchmark the bloom was built from? Map-only and stateless (the
    * sketch rides along as a literal into codegen'd `might_contain`), so
    * it composes with streaming scans. False positives at the bloom's
    * fpp — the conservative direction for decontamination (an extra CLEAN
    * doc flagged); never a false negative. The `exists` lambda touches
    * only the element, and the shingle array is the native opaque
    * [[graft.functions.Shingles]] — no lambda-scope re-evaluation hazard
    * when this predicate is pushed into a filter. */
  def sharesShingle(bloomBytes: Array[Byte], text: Column,
                    shingleN: Int = 5, nfc: Boolean = true): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    // null text → null shingle array → exists would return null, and a
    // NOT-filter would silently DROP the row — diverging from the batch
    // pass, which keeps null-text docs (they cannot be contaminated).
    // Coalesce to empty so the predicate is false, not null.
    val sh = coalesce(
      shinglesFromToks(CaptionStats.tokens(lower(nfcKey(text, nfc))),
        shingleN),
      array().cast("array<string>"))
    exists(sh, t => Bridge.column(
      new BloomFilterMightContain(Literal(bloomBytes),
        Bridge.expression(xxhash64(t)))))
  }

  /** C4-style corpus-level sentence dedup (Raffel et al. 2020 §2.2: C4
    * drops any repeated three-sentence span corpus-wide; here at sentence
    * granularity): every distinct sentence survives only at its FIRST
    * occurrence — minimal (doc id, position) — and documents are rebuilt
    * from their surviving sentences in original order. Documents left
    * with no sentences drop out (C4 likewise discards emptied pages).
    * Boilerplate (cookie banners, navigation strings, license footers)
    * repeated across millions of pages disappears everywhere but once.
    *
    * Scale shape: two shuffles, both on narrow keys — first-occurrence
    * selection is `groupBy(md5(sentence)).agg(min(struct(doc, pos,
    * sentence)))` (md5 keeps the exchange key fixed-width regardless of
    * sentence length), then a groupBy on the doc id for the rebuild.
    * The min-struct is partial-aggregatable, so a boilerplate sentence
    * repeated across 10⁸ pages collapses to ONE row per map task before
    * the shuffle — unlike the pre-r10 `row_number` Window on the same
    * key, which funneled every occurrence of a viral sentence into a
    * single task's sort buffer (a Window partition cannot be skew-split
    * by AQE; a partial aggregate never concentrates in the first place).
    * No self-joins, no pairs, state linear in distinct sentences.
    *
    * NFC-first keying by default (see [[nfcKey]]): the grouping digest
    * normalizes the sentence, so decomposed/precomposed copies of a
    * boilerplate line dedup together; the KEPT text stays the original
    * first-occurrence bytes. */
  def dropRepeatedSentences(df: DataFrame, idCol: String, textCol: String,
                            nfc: Boolean = true): DataFrame = {
    val sents = df.select(col(idCol),
      posexplode(CaptionStats.sentences(col(textCol)))
        .as(Seq("__pos", "__sent")))
    // min over struct(doc, pos, sentence) orders fields left-to-right —
    // identical to ORDER BY doc, pos since (doc, pos) is unique; the
    // sentence rides along so no join back is needed.
    sents
      .groupBy(md5(nfcKey(col("__sent"), nfc)).as("__k"))
      .agg(min(struct(col(idCol), col("__pos"), col("__sent"))).as("__f"))
      .select(col("__f")(idCol).as(idCol),
        col("__f")("__pos").as("__pos"),
        col("__f")("__sent").as("__sent"))
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("__pos"), col("__sent")))),
          s => s.getField("__sent"))).as("text_kept"),
        count(lit(1)).as("n_kept"))
  }

  /** WITHIN-document repeated-sentence removal — the self-boilerplate
    * drop (Dolma's dedupe-paragraphs applied at the sentence split, the
    * same relaxation as t12/d9: the synthetic corpus has no newlines):
    * keep the FIRST occurrence of each sentence within its own
    * document, rebuild in original order (d9's `concat_ws(" ")`
    * convention). Keys match [[dropRepeatedSentences]] (md5 of the
    * NFC-normalized sentence) so the within-doc and cross-doc passes
    * compose without drift; docs with zero sentences drop (C4's
    * emptied-page discipline).
    *
    * Scale shape: MAP-ONLY — the first-occurrence test is
    * `array_position` over the doc's own key array (O(S²) per doc in
    * sentences-per-doc — tens), so the whole operator fuses into the
    * scan. Cross-doc dedup is [[dropRepeatedSentences]]'s shuffle; this
    * one never needs it. */
  def dropRepeatedSentencesWithin(df: DataFrame, idCol: String,
                                  textCol: String,
                                  nfc: Boolean = true): DataFrame = {
    val sents = CaptionStats.sentences(col(textCol))
    val keys = transform(sents, s => md5(nfcKey(s, nfc)))
    val keptIdx = filter(sequence(lit(1), size(sents)),
      i => array_position(keys, element_at(keys, i)) === i.cast("long"))
    val kept = transform(keptIdx, i => element_at(sents, i))
    df.filter(size(sents) >= 1)
      .select(col(idCol),
        concat_ws(" ", kept).as("text_kept"),
        size(kept).cast("long").as("n_kept"))
  }

  /** Cross-document duplicated-span detection — the span-level complement
    * to document-level near-dedup (d6/d7) and WITHIN-doc repetition
    * (TextAnalysis.repetitionSignals): find token windows that recur
    * across ≥ `minDocs` DISTINCT documents and score each document by the
    * fraction of its windows that are shared. This is the standard
    * distributed proxy for exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", use
    * suffix arrays single-node; hashed sliding windows are the
    * shuffle-friendly equivalent at cluster scale): boilerplate, license
    * headers, and templated passages light up as high `dup_span_frac`
    * even when whole-doc similarity stays below any near-dup threshold.
    *
    * Scale shape — SINGLE pass over the windows: the Generate
    * (sequence/slice/array_join/md5, all codegen'd built-ins) fuses into
    * the scan and runs once; a map-combined groupBy on (h, doc) collapses
    * within-doc repeats to one row carrying its multiplicity; the
    * distinct-doc count per h is a second map-combined `groupBy(h).count`
    * (the rows ARE distinct (h, doc) pairs — no count-distinct
    * expansion) equi-joined back on h; the per-doc rollup is a final
    * map-combined groupBy. Keyed throughout on the 128-bit md5 of the
    * window text so no token payload crosses the wire. The count is
    * deliberately NOT a Window over h: a viral boilerplate span
    * appearing in 10⁸ docs would put every (h, doc) row into one Window
    * partition = one task (AQE's skew split applies to joins and
    * rebalances, never Window partitions), whereas the partial count
    * collapses the hot h map-side and the residual equi-join IS
    * AQE-skew-splittable. Windows-per-doc ≈ tokens-per-doc,
    * the known cost of substring-level dedup — bound it upstream with a
    * length filter if needed.
    *
    * Output: (idCol, n_spans, n_dup_spans, dup_span_frac) for every doc
    * with ≥ `n` tokens. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               n: Int = 8, minDocs: Int = 2,
               nfc: Boolean = true,
               tokensCol: Option[String] = None): DataFrame = {
    // the engine token definition (kept in lockstep with the oracle's
    // toksSql via CaptionStats.tokens), NFC-normalized (default, see
    // [[nfcKey]]) then lowercased — span digests must not split on
    // Unicode composition. tokensCol = the tokenize-once contract
    // (caller-supplied tokens(text); per-token lower/NFC is
    // position/value-identical — see shingleTable).
    val toks = tokensCol match {
      case Some(tc) => transform(col(tc), t => lower(nfcKey(t, nfc)))
      case None => CaptionStats.tokens(lower(nfcKey(col(textCol), nfc)))
    }
    // when threaded, the length gate runs on the SOURCE array (transform
    // is length-preserving) so the pushed filter never re-runs the lambda
    // r22: spread the source — the per-window md5 map stage otherwise
    // runs on a single-partition small-file scan (measured at ×10: one
    // 9.8 s ONE-CORE job, the suite's steepest slope at ×7.0). The
    // downstream aggregate keys are (__h, doc)-scoped, so repartitioning
    // multiplies no map-side partials (the Dsir.features precedent) —
    // unlike the vocabulary-collapsing pipelines where spread was
    // A/B'd negative (see unigramSurprisal).
    val src = graft.util.Partitioning.spread(df)
    val gated = tokensCol match {
      case Some(tc) => src.filter(size(col(tc)) >= n)
        .select(col(idCol), toks.as("__toks"))
      case None => src.select(col(idCol), toks.as("__toks"))
        .filter(size(col("__toks")) >= n)
    }
    val winCounts = gated
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__toks")) - (n - 1)),
        i => md5(array_join(slice(col("__toks"), i, lit(n)), " "))))
        .as("__h"))
      .groupBy(col("__h"), col(idCol))
      .agg(count(lit(1)).as("__c"))
    // count(when(__c > 0, 1)), not count(1): __c ≥ 1 always (it is a
    // group count), so the two are identical — but an opaque reference
    // to __c stops column pruning from narrowing this branch's partial
    // aggregate (a plain count(__c) gets rewritten to count(1) via the
    // not-null constraint and re-pruned), which keeps BOTH branches'
    // exchange subtrees structurally identical so AQE reuses the
    // shuffle stage: ONE scan + one (h, doc) shuffle write feeds the
    // join's both sides (verified: ReusedQueryStage in the final plan)
    val docCounts = winCounts.groupBy(col("__h"))
      .agg(count(when(col("__c") > 0, lit(1))).as("__nd"))
    winCounts.join(docCounts, "__h")
      .groupBy(col(idCol))
      .agg(sum("__c").as("n_spans"),
        sum(when(col("__nd") >= minDocs, col("__c")).otherwise(0L))
          .as("n_dup_spans"))
      .withColumn("dup_span_frac",
        col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
  }

  /** Cross-document duplicated-span REMOVAL — the excision complement of
    * [[dupSpans]] (which only scores): every occurrence of a token
    * window shared by ≥ `minDocs` DISTINCT documents is excised EXCEPT
    * the global first occurrence (minimal (doc, pos) — the d9
    * first-occurrence discipline lifted from sentences to token
    * windows), and documents are rebuilt from their surviving tokens in
    * original order. This is the distributed equivalent of the removal
    * step in Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"): detection alone only scores boilerplate;
    * a corpus user runs it in order to DROP the shared license headers
    * and templated passages while keeping exactly one copy.
    *
    * Overlap-merge is positional: an excised occurrence covers its n
    * token POSITIONS, and a position is removed when ANY excised window
    * covers it — so the L−n+1 overlapping windows of one shared
    * passage of length L excise the passage ONCE (the union of their
    * coverage, L positions), never n× L tokens. A document that loses
    * every token drops out (d9/C4 discipline: emptied pages are
    * discarded); documents shorter than n tokens have no windows and
    * survive untouched; within-doc repeats without a cross-doc copy
    * are NOT spans shared by `minDocs` docs and stay (that axis is
    * [[graft.text.TextAnalysis.repetitionSignals]]).
    *
    * Keying matches [[dupSpans]] (tokens of lower(NFC(text)), md5 of
    * the space-joined window — no token payload crosses the wire); the
    * REBUILT text keeps the original token bytes: `\s+` tokenization
    * aligns the original and normalized streams position-for-position
    * because neither NFC composition nor lowercasing creates or
    * removes whitespace.
    *
    * Scale shape — aggregates, never Windows (the d9/d13 skew rule):
    * per-(h, doc) position lists are a map-combined groupBy (bounded by
    * within-doc multiplicity); distinct-doc count + global-first
    * occurrence are a second map-combined groupBy(h) over those rows
    * (min-of-struct, partial-aggregatable — a boilerplate span in 10⁸
    * docs collapses per map task; the residual h-join back is
    * AQE-skew-splittable, a Window over h would funnel the viral h
    * into one task). Excision explodes positions only for EXCISED
    * occurrences (the dup tail, not the corpus), aggregated to ONE
    * coverage array per affected doc; the rebuild is a doc-level left
    * join of the corpus against those arrays plus a codegen'd indexed
    * `filter` HOF over the original token array — no corpus-wide token
    * explode or token-level shuffle. Windows-per-doc ≈
    * tokens-per-doc — the inherent substring-dedup cost, same as
    * [[dupSpans]]; bound it upstream with a length filter if needed.
    *
    * Output: (idCol, text_kept, n_kept) for every doc with ≥ 1
    * surviving token — plus the kept ORIGINAL-CASE token array as
    * `keepToksCol` when requested (tokenize-once threading: the rebuild
    * already holds exactly that array, so a downstream stage —
    * decontamination, surprisal — gets post-excision tokens for free
    * instead of re-splitting `text_kept`).
    *
    * `tokensCol`: the caller-supplied `tokens(text)` array (shingleTable
    * contract) — the original-case side is used verbatim, the
    * normalized side derives per-token. */
  def dropDupSpans(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 8, minDocs: Int = 2,
                   nfc: Boolean = true,
                   tokensCol: Option[String] = None,
                   keepToksCol: Option[String] = None): DataFrame = {
    val base = origAndNormToks(df, idCol, textCol, nfc, tokensCol)
    val wins = windowOccurrences(base, idCol, n)
    // every occurrence position per (h, doc), one row per pair — the
    // sorted list's head is the doc-local first occurrence
    val perDoc = wins.groupBy(col("__h"), col(idCol))
      .agg(sort_array(collect_list(col("__p"))).as("__ps"))
    // distinct-doc reach + GLOBAL first occurrence per h: rows are
    // distinct (h, doc) already, so count(1) is the distinct-doc count
    // (no count-distinct expansion), and min over struct(doc, doc-local
    // first pos) is lexicographic = ORDER BY doc, pos
    val stats = perDoc.groupBy(col("__h"))
      .agg(count(lit(1)).as("__nd"),
        min(struct(col(idCol).as("__fid"),
          element_at(col("__ps"), 1).as("__fp"))).as("__f"))
    // excised occurrence starts: all of a dup h's positions, minus the
    // single global-first occurrence in its keeper doc
    val exc = perDoc.join(stats, Seq("__h"))
      .filter(col("__nd") >= minDocs)
      .select(col(idCol), explode(
        when(col(idCol) === col("__f.__fid"),
          filter(col("__ps"), p => p =!= col("__f.__fp")))
          .otherwise(col("__ps"))).as("__sp"))
    // per-doc positional coverage union: one array per AFFECTED doc
    // (the dup tail, not the corpus). Overlapping windows of one shared
    // passage union via array_distinct — a position is covered once no
    // matter how many excised windows span it.
    val covered = exc.groupBy(col(idCol))
      .agg(array_distinct(flatten(collect_list(
        sequence(col("__sp"), col("__sp") + (n - 1))))).as("__cov"))
    rebuildFromCoverage(base, covered, idCol, keepToksCol)
  }

  /** (id, `__ot` original-case tokens, `__nt` lower/NFC tokens) — the
    * shared base of the span/substring excision family
    * ([[dropDupSpans]], [[dropDupSubstrings]] and its store and
    * decontamination variants).
    * `tokensCol` is the tokenize-once contract (caller-supplied
    * `tokens(text)`); the normalized view derives per token, which is
    * position/value-identical to tokenizing the transformed string
    * because neither lowercasing nor NFC creates or removes
    * whitespace. */
  private def origAndNormToks(df: DataFrame, idCol: String,
                              textCol: String, nfc: Boolean,
                              tokensCol: Option[String]): DataFrame = {
    // spread: the NFC+tokenize (and every downstream seed-window md5)
    // is per-row expensive; a small-file scan otherwise runs the whole
    // map stage on ONE partition (r21; no-op for wide inputs)
    val src = graft.util.Partitioning.spread(df)
    tokensCol match {
      case Some(tc) => src.select(col(idCol),
        col(tc).as("__ot"),
        transform(col(tc), t => lower(nfcKey(t, nfc))).as("__nt"))
      case None => src.select(col(idCol),
        CaptionStats.tokens(col(textCol)).as("__ot"),
        CaptionStats.tokens(lower(nfcKey(col(textCol), nfc))).as("__nt"))
    }
  }

  /** (id, `__p` 1-based start, `__h` md5 of the space-joined n-token
    * window of `__nt`) — THE window/seed occurrence frame, one
    * definition shared by [[dropDupSpans]], [[dropDupSubstrings]] and
    * the substring store and decontamination families, so the
    * hash/gate can never diverge between them. Generate fuses into
    * the scan (sequence/slice/array_join/md5, all codegen'd). */
  private def windowOccurrences(base: DataFrame, idCol: String,
                                n: Int): DataFrame =
    base.filter(size(col("__nt")) >= n)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__nt")) - (n - 1)),
        i => struct(i.as("__p"),
          md5(array_join(slice(col("__nt"), i, lit(n)), " ")).as("__h"))))
        .as("__w"))
      .select(col(idCol), col("__w.__p").as("__p"),
        col("__w.__h").as("__h"))

  /** Rebuild MAP-SIDE from a per-doc 1-based coverage array: the corpus
    * joins `covered` at DOC granularity (one row per affected doc —
    * AQE can broadcast it when the dup tail is small) and each doc
    * excises its own covered positions with a codegen'd indexed filter
    * HOF over the original token array, preserving order natively. No
    * corpus-wide token posexplode, no token-level shuffle (the pre-r14
    * form anti-joined every token of every document against the
    * covered set). `filter`'s index is 0-based; coverage is 1-based
    * (slice discipline). Shared tail of [[dropDupSpans]] and
    * [[dropDupSubstrings]]. */
  private def rebuildFromCoverage(base: DataFrame, covered: DataFrame,
                                  idCol: String,
                                  keepToksCol: Option[String]): DataFrame =
    base.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__cov").isNull, col("__ot"))
          .otherwise(filter(col("__ot"),
            (t, i) => !array_contains(col("__cov"), i + 1)))
          .as("__kt"))
      .filter(size(col("__kt")) >= 1)
      .select(Seq(col(idCol),
        concat_ws(" ", col("__kt")).as("text_kept"),
        size(col("__kt")).cast("long").as("n_kept")) ++
        keepToksCol.map(kc => col("__kt").as(kc)).toSeq: _*)

  /** VARIABLE-LENGTH exact-substring dedup (Lee et al. 2022 §3.1,
    * "Deduplicating Training Data Makes Language Models Better" —
    * their ExactSubstr): excise from the corpus every token substring
    * of length ≥ `minLen` that ALSO OCCURS elsewhere (another document,
    * or earlier in the same document), keeping the lexicographically
    * first occurrence. The paper builds a corpus suffix array on one
    * machine; the shuffle-friendly equivalent is SEED-AND-EXTEND — the
    * genomics alignment idiom (BLAST/minimap2 chaining): hash fixed
    * `seedN`-token windows (the d13/d16 frame), equi-join occurrences
    * of the same seed, and merge CONSECUTIVE seed matches between the
    * same two occurrences (same doc pair, same positional offset =
    * same DIAGONAL) into one maximal run — a run of seed starts
    * a..b on one diagonal witnesses a genuine token-for-token match of
    * length (b − a) + seedN, because md5-equal seeds tile the whole
    * stretch with overlap.
    *
    * Why seeds + extension instead of the fixed-window family:
    * [[dropDupSpans]] at n = minLen is sound for CROSS-DOC spans but
    * hashes minLen-token windows (≈ 6× the md5 bytes at the paper's
    * L = 50 vs 8-token seeds) and its minDocs ≥ 2 keying is blind to
    * WITHIN-doc repeats, which the paper dedups; a naive short-seed
    * coverage rule ("every seedN-window in the span is duplicated
    * somewhere") would be UNSOUND — a chain of different partners can
    * stitch a span that occurs nowhere as a whole, excising text that
    * is not a ≥ minLen duplicate. Here the whole matched stretch is
    * witnessed against ONE partner occurrence (one diagonal), so only
    * true repeated substrings are excised (spec-pinned with a
    * chained-partners counterexample). Within-doc periodic repeats
    * ("ab ab ab…") self-match on diagonal = period and excise down to
    * the first copy — the paper's behavior, and a case the minDocs ≥ 2
    * cross-doc family deliberately leaves alone.
    *
    * Keep-first is PER PAIR: each maximal run of length ≥ `minLen`
    * excises its LATER side's positions ((doc, pos)-lexicographic
    * order) — over any set of copies the earliest survives, every
    * later copy is excised by its pair against the earliest.
    *
    * Scale shape — aggregates only, no Window anywhere: the seed frame
    * is the d16 Generate (windows-per-doc ≈ tokens-per-doc, the
    * inherent substring-dedup cost); eligible seeds (2 ≤ occurrences
    * ≤ `maxOcc`) come from a map-combined groupBy(h) count semi-joined
    * back — the `maxOcc` cap bounds the pair join at
    * O(maxOcc²)/seed-hash and drops only viral boilerplate seeds
    * (recall-only; the cap is a [[Metrics.capped]] operator, and this
    * is a LAZY builder, so read the loss with [[Metrics.drops]] after
    * the action — it is not auto-warn-logged like the eager
    * nearDupPairs family).
    * Diagonal merging is a groupBy on (docA, docB, diag) whose groups
    * are bounded by DOCUMENT length (never corpus-keyed); runs emerge
    * from sort_array + two linear index-filters. Excised-position
    * coverage and the rebuild reuse the d16 machinery verbatim: one
    * coverage array per AFFECTED doc, map-side indexed-filter rebuild,
    * no corpus-wide token explode.
    *
    * `tokensCol`/`keepToksCol`: the [[dropDupSpans]] tokenize-once
    * contract. Output: (idCol, text_kept, n_kept) for every doc with
    * ≥ 1 surviving token. */
  def dropDupSubstrings(df: DataFrame, idCol: String, textCol: String,
                        minLen: Int = 20, seedN: Int = 8,
                        maxOcc: Int = 1000, nfc: Boolean = true,
                        tokensCol: Option[String] = None,
                        keepToksCol: Option[String] = None): DataFrame = {
    require(seedN >= 1 && minLen >= seedN,
      s"dropDupSubstrings: need 1 <= seedN <= minLen (got seedN=$seedN, " +
        s"minLen=$minLen) — seeds longer than the match length can " +
        "never witness it")
    val base = origAndNormToks(df, idCol, textCol, nfc, tokensCol)
    // the d16 window frame at seed granularity (shared definition)
    val seeds = windowOccurrences(base, idCol, seedN)
    // eligible seed hashes: shared (≥2 occurrences) and under the viral
    // cap — map-combined count, the d3/d13 aggregate-not-Window rule
    val eligible = Metrics.capped(seeds.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c")), "__c", maxOcc, min = 2)
      .select(col("__h"))
    val occ = seeds.join(eligible, Seq("__h"), "left_semi")
    // ordered occurrence pairs of the same seed: (A, pa) < (B, pb)
    // lexicographically — cross-doc both orders collapse to one row,
    // within-doc pairs keep pa < pb (diag > 0, never the self-match)
    val a = occ.select(col("__h"), col(idCol).as("__ida"),
      col("__p").as("__pa"))
    val b = occ.select(col("__h"), col(idCol).as("__idb"),
      col("__p").as("__pb"))
    val pairs = a.join(b, Seq("__h"))
      .filter(col("__ida") < col("__idb") ||
        (col("__ida") === col("__idb") && col("__pa") < col("__pb")))
      .select(col("__ida"), col("__idb"),
        (col("__pb") - col("__pa")).as("__diag"), col("__pa"))
    rebuildFromCoverage(base,
      substringCoverage(pairs, idCol, minLen, seedN), idCol, keepToksCol)
  }

  /** Diagonal-run merging + excised-position coverage — the shared core
    * of [[dropDupSubstrings]] and [[dedupSubstringShardAgainst]].
    * Input: ordered seed-match pairs (`__ida`, `__idb`, `__diag` =
    * pb − pa, `__pa`) where (ida, pa) < (idb, pb) lexicographically.
    * Output: one (idCol, `__cov`) coverage array per affected LATER-side
    * doc.
    *
    * One row per (doc pair, diagonal): the sorted seed-start list —
    * group size ≤ min(len A, len B), document-bounded, never viral.
    * Maximal consecutive runs [s, e] of seed starts are found LINEARLY:
    * a start is an element whose predecessor is not p−1, an end one
    * whose successor is not p+1 (0-based `get` returns null out of
    * bounds in every SQL mode; the coalesce defaults can never equal
    * the neighbor test value) — each run contributes exactly one of
    * each in order, so zip_with pairs them positionally. An aggregate
    * fold was rejected here: every append rebuilds the accumulator
    * array, O(runs²) copies on a fragmented doc pair. A run witnesses
    * a matched substring of (e − s) + seedN tokens; qualifying runs
    * excise the LATER side (B start = run start + diagonal). */
  private def substringCoverage(pairs: DataFrame, idCol: String,
                                minLen: Int, seedN: Int): DataFrame = {
    val byDiag = pairs.groupBy(col("__ida"), col("__idb"), col("__diag"))
      .agg(sort_array(collect_list(col("__pa"))).as("__ps"))
    val runs = expr(
      s"""filter(
        zip_with(
          filter(__ps, (p, i) -> p - coalesce(get(__ps, i - 1), p - 2) != 1),
          filter(__ps, (p, i) -> coalesce(get(__ps, i + 1), p + 2) - p != 1),
          (s, e) -> named_struct('s', s, 'e', e)),
        r -> r.e - r.s + $seedN >= $minLen)""")
    val exc = byDiag.select(col("__idb").as(idCol), col("__diag"),
        explode(runs).as("__r"))
      .select(col(idCol),
        sequence(col("__r.s") + col("__diag"),
          col("__r.e") + col("__diag") + (seedN - 1)).as("__seq"))
    exc.groupBy(col(idCol))
      .agg(array_distinct(flatten(collect_list(col("__seq"))))
        .as("__cov"))
  }

  /** SUBSTRING decontamination — the precision-tunable complement of
    * the shingle form ([[decontaminate]], d8): instead of DROPPING any
    * doc that shares a single 5-gram with the benchmark (maximum
    * recall, minimum precision — one idiomatic phrase costs the whole
    * document), EXCISE from each corpus doc exactly the token spans
    * that match benchmark text for ≥ `minLen` consecutive tokens.
    * This is Lee et al. 2022's ExactSubstr pointed at an eval set —
    * the modern decontamination recipe at L ≈ 13–50 tokens: a leaked
    * benchmark question disappears from the training doc, the
    * surrounding original prose survives. EVERY corpus occurrence is
    * excised (the benchmark is reference text, not a corpus member —
    * there is no keep-first exception here, unlike [[dropDupSubstrings]]);
    * corpus docs emptied entirely drop out; the benchmark is never in
    * the output.
    *
    * Same seed-and-extend machinery as d24 ([[windowOccurrences]] +
    * [[substringCoverage]] + [[rebuildFromCoverage]] — shared code, so
    * the two families cannot drift): benchmark seeds pair with corpus
    * seeds of the same hash, diagonal runs witness true
    * token-for-token matches, qualifying runs excise the CORPUS side.
    * `maxOcc` caps the BENCHMARK-side occurrences per seed (the pair
    * join is bench_n × corpus_n per hash; [[Metrics.drops]] counts
    * the capped seeds after the action) — and note the loss direction
    * here is MISSED CONTAMINATION, so the default is generous and a
    * capped run should be audited. A capped seed's
    * long matches are still found via non-viral neighboring seeds on
    * the same diagonal unless the whole stretch is viral.
    *
    * Scale shape: benchmark seeds are small by definition (d8's
    * argument); corpus seeds ≈ corpus tokens (the inherent substring
    * cost); the equi-join on seed hash is AQE-broadcastable on the
    * bench side; diagonal groups are document-bounded; coverage and
    * rebuild touch only AFFECTED corpus docs. */
  def decontaminateSubstrings(corpus: DataFrame, benchmark: DataFrame,
                              idCol: String, textCol: String,
                              minLen: Int = 20, seedN: Int = 8,
                              maxOcc: Int = 10000, nfc: Boolean = true,
                              tokensCol: Option[String] = None,
                              benchTokensCol: Option[String] = None,
                              keepToksCol: Option[String] = None)
      : DataFrame = {
    require(seedN >= 1 && minLen >= seedN,
      s"decontaminateSubstrings: need 1 <= seedN <= minLen (got " +
        s"seedN=$seedN, minLen=$minLen)")
    val (cbase, pairs) = benchCorpusSeedPairs(corpus, benchmark, idCol,
      textCol, seedN, maxOcc, nfc, tokensCol, benchTokensCol,
      "decontaminateSubstrings")
    rebuildFromCoverage(cbase,
      substringCoverage(pairs, idCol, minLen, seedN), idCol, keepToksCol)
  }

  /** Shared benchmark×corpus seed-pair construction for the substring
    * decontamination family — ONE definition feeding both the excision
    * ([[decontaminateSubstrings]], d26) and the report
    * ([[substringContaminationReport]], d27), so the report's pair
    * frame is by construction the operator's (the
    * [[windowOccurrences]]/[[substringCoverage]] discipline). Builds
    * both token bases, gates BENCHMARK-side seeds at `maxOcc`
    * occurrences, and returns (corpus token base, diagonal pair frame
    * keyed `__ida`/`__idb`/`__diag`/`__pa`).
    *
    * Fails LOUD on the cross-tokenizer footgun: `tokensCol` names a
    * column of the CORPUS frame and `benchTokensCol` one of the
    * BENCHMARK frame; threading precomputed tokens on one side while
    * the other falls back to the engine tokenizer makes the two sides
    * share zero seed hashes whenever the tokenizations differ — i.e.
    * SILENTLY missed contamination, the worst failure mode this
    * operator has. Both must be threaded or both default; a caller
    * threading both still owns deriving them identically. */
  private def benchCorpusSeedPairs(corpus: DataFrame,
                                   benchmark: DataFrame,
                                   idCol: String, textCol: String,
                                   seedN: Int, maxOcc: Int,
                                   nfc: Boolean,
                                   tokensCol: Option[String],
                                   benchTokensCol: Option[String],
                                   caller: String)
      : (DataFrame, DataFrame) = {
    require(tokensCol.isDefined == benchTokensCol.isDefined,
      s"$caller: tokensCol and benchTokensCol must be BOTH threaded " +
        "or BOTH default — a precomputed tokenization on one side " +
        "with the engine tokenizer on the other shares zero seed " +
        "hashes whenever they differ, silently missing contamination " +
        s"(got tokensCol=$tokensCol, benchTokensCol=$benchTokensCol)")
    val bbase = origAndNormToks(benchmark, idCol, textCol, nfc,
      benchTokensCol)
    val cbase = origAndNormToks(corpus, idCol, textCol, nfc, tokensCol)
    val eligible = Metrics.capped(windowOccurrences(bbase, idCol, seedN)
      .groupBy(col("__h")).agg(count(lit(1)).as("__bc")), "__bc", maxOcc)
      .select(col("__h"))
    val pairs = windowOccurrences(bbase, idCol, seedN)
      .join(eligible, Seq("__h"), "left_semi")
      .select(col("__h"), col(idCol).as("__ida"), col("__p").as("__pa"))
      .join(windowOccurrences(cbase, idCol, seedN)
        .select(col("__h"), col(idCol).as("__idb"),
          col("__p").as("__pb")), Seq("__h"))
      .select(col("__ida"), col("__idb"),
        (col("__pb") - col("__pa")).as("__diag"), col("__pa"))
    (cbase, pairs)
  }

  /** Per-document substring-contamination REPORT — the measurement half
    * of [[decontaminateSubstrings]], exactly as
    * [[decontaminationReport]] (d18) is to [[decontaminate]] (d8):
    * before excising anything, a corpus owner wants the DISTRIBUTION —
    * is the benchmark leaking wholesale into a few docs, or is this
    * scattered phrase-level overlap? One row per corpus doc:
    * (idCol, n_toks, n_contaminated, contamination_frac) where
    * `n_contaminated` counts the token positions inside ≥ `minLen`
    * matches against benchmark text (the union [[substringCoverage]]
    * would excise) and the frac is their exact int/int ratio
    * (IEEE-identical across engines). Docs with no tokens report
    * (0, 0, 0.0). Thresholding the frac and anti-joining reproduces a
    * tunable drop pass; [[decontaminateSubstrings]] is the excision.
    * Same machinery and scale shape as d26 plus two map-combined
    * per-doc aggregates. */
  def substringContaminationReport(corpus: DataFrame,
                                   benchmark: DataFrame,
                                   idCol: String, textCol: String,
                                   minLen: Int = 20, seedN: Int = 8,
                                   maxOcc: Int = 10000,
                                   nfc: Boolean = true,
                                   tokensCol: Option[String] = None,
                                   benchTokensCol: Option[String] = None)
      : DataFrame = {
    require(seedN >= 1 && minLen >= seedN,
      s"substringContaminationReport: need 1 <= seedN <= minLen (got " +
        s"seedN=$seedN, minLen=$minLen)")
    val (cbase, pairs) = benchCorpusSeedPairs(corpus, benchmark, idCol,
      textCol, seedN, maxOcc, nfc, tokensCol, benchTokensCol,
      "substringContaminationReport")
    val covered = substringCoverage(pairs, idCol, minLen, seedN)
    cbase.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__ot").isNull, lit(0))
          .otherwise(size(col("__ot"))).cast("long").as("n_toks"),
        when(col("__cov").isNull, lit(0))
          .otherwise(size(col("__cov"))).cast("long")
          .as("n_contaminated"))
      .withColumn("contamination_frac",
        when(col("n_toks") === 0L, lit(0.0))
          .otherwise(col("n_contaminated").cast("double") /
            col("n_toks").cast("double")))
  }

  /** Threshold-DROP composition of the contamination report (the pass
    * d27's scaladoc describes): remove corpus docs whose
    * [[substringContaminationReport]] `contamination_frac` exceeds
    * `maxFrac`, keep every other doc UNMODIFIED. The third point on
    * the decontamination precision axis: d8 drops a doc for ONE shared
    * 5-gram (max recall), d26 excises exactly the matched spans (max
    * precision), this drops only docs that are SUBSTANTIALLY benchmark
    * text — the right call when a mostly-leaked doc's remaining prose
    * is not worth keeping but phrase-level overlap is not worth
    * dropping. Built ON the report (shared [[benchCorpusSeedPairs]]
    * machinery), so the fracs thresholded here are definitionally
    * d27's; the frac is an exact int/int double, so the `>` compare is
    * engine-portable with no rounding step.
    *
    * Scale shape: the report's (benchmark-side seeds are small, corpus
    * touched map-only plus one coverage aggregate) plus one anti-join
    * whose right side is the over-threshold ids — contaminated docs
    * are RARE by construction, so that side is broadcast-sized. */
  def dropContaminatedDocs(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String, textCol: String,
                           maxFrac: Double, minLen: Int = 20,
                           seedN: Int = 8, maxOcc: Int = 10000,
                           nfc: Boolean = true,
                           tokensCol: Option[String] = None,
                           benchTokensCol: Option[String] = None)
      : DataFrame = {
    require(maxFrac >= 0.0 && maxFrac <= 1.0,
      s"dropContaminatedDocs: maxFrac must be in [0,1], got $maxFrac")
    val bad = substringContaminationReport(corpus, benchmark, idCol,
        textCol, minLen, seedN, maxOcc, nfc, tokensCol, benchTokensCol)
      .filter(col("contamination_frac") > maxFrac)
      .select(col(idCol))
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** Persist a corpus's seed-occurrence frame as a bucketed SUBSTRING
    * STORE — the [[writeSignatureStore]] discipline applied to
    * exact-substring state: one table `{tablePrefix}_seeds`
    * (`__h`, idCol, `__p`), bucketed AND sorted by the seed hash, so an
    * incremental shard run equi-joins it with NO store-side Exchange
    * and the per-hash store counts aggregate shuffle-free.
    *
    * Honest sizing: the store is O(corpus TOKENS) — one row per seed
    * window — because exact-substring dedup's state is inherently
    * suffix-array-sized (Lee et al. hold the whole suffix array on one
    * machine; this is the same state, sharded). `suggestedStoreBuckets`
    * runs with an 8× expansion accordingly (hex digest + id + pos ≈
    * 7–8× the raw text bytes; swapping `__h` to a BINARY(8) slice
    * halves it at a documented one-in-2⁶⁴-per-seed false-match risk —
    * further gated by the run-length threshold — if storage ever
    * dominates). */
  def writeSubstringStore(df: DataFrame, idCol: String, textCol: String,
                          tablePrefix: String, path: String,
                          seedN: Int = 8, nfc: Boolean = true,
                          nBuckets: Int = 0,
                          tokensCol: Option[String] = None): Unit = {
    val nb = if (nBuckets > 0) nBuckets
             else suggestedStoreBuckets(df, expansion = 8.0)
    StoreLease.withLease(df.sparkSession,
      StoreLease.forTable(df.sparkSession, tablePrefix),
      "writeSubstringStore") { _ =>
      windowOccurrences(
          origAndNormToks(df, idCol, textCol, nfc, tokensCol), idCol, seedN)
        .write.mode("overwrite").option("path", s"$path/seeds")
        .bucketBy(nb, "__h").sortBy("__h")
        .format("parquet").saveAsTable(s"${tablePrefix}_seeds")
      // persist the hash family: every later absorb/shard-run validates
      // against these instead of trusting its own defaults — a mismatched
      // seedN would silently join incompatible hashes (zero matches, no
      // error), the worst failure mode for a dedup store
      df.sparkSession.sql(
        s"ALTER TABLE ${tablePrefix}_seeds SET TBLPROPERTIES(" +
          s"'graft.seedn' = '$seedN', 'graft.nfc' = '$nfc')")
    }
  }

  /** Validate a caller's (seedN, nfc) against what the store was built
    * with — loud failure over silent zero-match joins. Stores written
    * before the property existed validate trivially (None). */
  private def requireSeedFamily(spark: org.apache.spark.sql.SparkSession,
                                tablePrefix: String, seedN: Int,
                                nfc: Boolean): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.tableProperty(spark, s"${tablePrefix}_seeds", "graft.seedn")
      .foreach { stored =>
        require(stored == seedN.toString,
          s"${tablePrefix}_seeds was built with seedN=$stored but this " +
            s"call uses seedN=$seedN — seed hashes would never match " +
            "(silent zero-recall). Pass the store's seedN.")
      }
    Bridge.tableProperty(spark, s"${tablePrefix}_seeds", "graft.nfc")
      .foreach { stored =>
        require(stored == nfc.toString,
          s"${tablePrefix}_seeds was built with nfc=$stored but this " +
            s"call uses nfc=$nfc — normalized token streams would " +
            "diverge on non-NFC text. Pass the store's nfc.")
      }
  }

  /** Append a shard's seed rows into an existing [[writeSubstringStore]]
    * store (bucket count read from the catalog — an append can never
    * mismatch the layout). Absorb the shard's ORIGINAL text (not the
    * excised rebuild): the whole-corpus run pairs originals, so
    * remembering the full seed stream is what keeps sequential shard
    * runs ≡ batch [[dropDupSubstrings]] over everything seen — the
    * same "losers must be remembered" argument as
    * [[absorbIntoSignatureStore]].
    *
    * IDEMPOTENT by default: docs whose ids are already in the store are
    * anti-joined away before the append, so a REPLAYED absorb (the
    * at-least-once foreachBatch retry, an accidental double call) is a
    * no-op instead of silently corrupting the occurrence counts — a
    * duplicated seed row would double-count toward the maxOcc gate
    * (silent recall loss) and plant duplicate positions in the
    * diagonal-run detector, and the corruption is PERSISTENT state.
    * The parquet append commits at job granularity (a failed job leaves
    * no committed files), so retry-after-partial-failure re-absorbs the
    * whole batch exactly once. The guard costs one projected scan of
    * the store's id column per absorb; pass `idempotent = false` only
    * where the orchestrator already guarantees exactly-once delivery of
    * DISJOINT batches. SINGLE WRITER enforced ([[graft.util
    * .StoreLease]]): the guard is check-then-append, so two CONCURRENT
    * absorbs of overlapping batches could both pass the anti-join and
    * double-insert — replay safety covers sequential retries, not
    * concurrent writers; an overlapping writer now refuses loudly
    * instead of corrupting persistent state. */
  def absorbIntoSubstringStore(docs: DataFrame, idCol: String,
                               textCol: String, tablePrefix: String,
                               seedN: Int = 8, nfc: Boolean = true,
                               tokensCol: Option[String] = None,
                               idempotent: Boolean = true): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = docs.sparkSession
    requireSeedFamily(spark, tablePrefix, seedN, nfc)
    val nb = Bridge.bucketCount(spark, s"${tablePrefix}_seeds")
      .getOrElse(throw new IllegalStateException(
        s"${tablePrefix}_seeds is not a bucketed table — was the store " +
          "written by writeSubstringStore?"))
    StoreLease.withLease(spark, StoreLease.forTable(spark, tablePrefix),
      "absorbIntoSubstringStore") { _ =>
      val fresh =
        if (idempotent)
          docs.join(spark.table(s"${tablePrefix}_seeds")
            .select(col(idCol)).distinct(), Seq(idCol), "left_anti")
        else docs
      windowOccurrences(
          origAndNormToks(fresh, idCol, textCol, nfc, tokensCol), idCol,
          seedN)
        .write.mode("append").bucketBy(nb, "__h").sortBy("__h")
        .format("parquet").saveAsTable(s"${tablePrefix}_seeds")
    }
  }

  /** Per-hash occurrence counts over the store's seed table — groupBy
    * on the bucketing key, scan→aggregate with NO Exchange (the
    * [[storeBandCounts]] shape). Exposed for the plan proof. */
  private[graft] def storeSeedCounts(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): DataFrame =
    spark.table(s"${tablePrefix}_seeds")
      .groupBy("__h").agg(count(lit(1)).as("__sn"))

  /** Incremental exact-substring dedup of a NEW SHARD against a
    * persisted [[writeSubstringStore]] store: returns (idCol,
    * text_kept, n_kept) for the shard — EXACTLY the rows whole-corpus
    * [[dropDupSubstrings]](store ∪ shard) would produce, restricted to
    * shard ids (spec-proven; oracle d25). The accumulated corpus is
    * never re-read beyond the store's bucketed seed table: candidate
    * pairs come from the shard's seed hashes equi-joining it in place
    * (shard side shuffles to the store's buckets, store side has no
    * Exchange), and the store-side occurrence counts aggregate
    * shuffle-free on the bucketing key.
    *
    * Exactness mirrors [[dedupShardAgainst]]'s cap contract: the
    * whole-corpus gate is 2 ≤ total occurrences ≤ maxOcc per seed
    * hash, so the filter here is on `store_n + shard_n` — and only
    * hashes the SHARD touches matter (store-internal duplication
    * excises store docs, which are immutable history here; the same
    * one-way caveat as d15's larger-id store pairs). A shard position
    * is excised iff some qualifying run ranks it LATER
    * ((doc, pos)-lexicographic) than a partner occurrence — cross
    * pairs contribute only when the store doc is earlier
    * (store id < shard id; ids disjoint by caller contract), and
    * shard-internal pairs follow the batch rule verbatim. Shard-row
    * equivalence needs NO id-ordering contract between store and
    * shard: a cross pair whose shard side is earlier excises the
    * STORE doc in the batch run, never the shard row.
    *
    * LAZY like [[dropDupSubstrings]] (the result is a rebuild frame,
    * not a loser id set — there is nothing small to collect); the
    * production loop checkpoints stage outputs anyway (R3). */
  def dedupSubstringShardAgainst(shard: DataFrame, idCol: String,
                                 textCol: String, tablePrefix: String,
                                 minLen: Int = 20, seedN: Int = 8,
                                 maxOcc: Int = 1000, nfc: Boolean = true,
                                 tokensCol: Option[String] = None,
                                 keepToksCol: Option[String] = None)
      : DataFrame = {
    require(seedN >= 1 && minLen >= seedN,
      s"dedupSubstringShardAgainst: need 1 <= seedN <= minLen (got " +
        s"seedN=$seedN, minLen=$minLen)")
    val spark = shard.sparkSession
    requireSeedFamily(spark, tablePrefix, seedN, nfc)
    val base = origAndNormToks(shard, idCol, textCol, nfc, tokensCol)
    val shardSeeds = windowOccurrences(base, idCol, seedN)
    // combined eligibility (2 ≤ store_n + shard_n ≤ maxOcc): store
    // counts are the Exchange-free bucketed aggregate; shard counts one
    // small shuffle. Hashes absent from the shard cannot excise shard
    // rows, so a LEFT join from the shard counts is exact.
    val eligible = Metrics.capped(shardSeeds.groupBy(col("__h"))
      .agg(count(lit(1)).as("__nn"))
      .join(storeSeedCounts(spark, tablePrefix), Seq("__h"), "left")
      .withColumn("__tot", col("__nn") + coalesce(col("__sn"), lit(0L))),
      "__tot", maxOcc, min = 2)
      .select(col("__h"))
    val occS = shardSeeds.join(eligible, Seq("__h"), "left_semi")
    // cross pairs: the store occurrence is the EARLIER side (A) iff its
    // id is smaller; the equi-join probes the bucketed store in place
    val cross = spark.table(s"${tablePrefix}_seeds")
      .select(col("__h"), col(idCol).as("__ida"), col("__p").as("__pa"))
      .join(occS.select(col("__h"), col(idCol).as("__idb"),
        col("__p").as("__pb")), Seq("__h"))
      .filter(col("__ida") < col("__idb"))
    // shard-internal ordered pairs — the batch rule verbatim
    val internal = occS.select(col("__h"), col(idCol).as("__ida"),
        col("__p").as("__pa"))
      .join(occS.select(col("__h"), col(idCol).as("__idb"),
        col("__p").as("__pb")), Seq("__h"))
      .filter(col("__ida") < col("__idb") ||
        (col("__ida") === col("__idb") && col("__pa") < col("__pb")))
    val pairs = cross.unionByName(internal)
      .select(col("__ida"), col("__idb"),
        (col("__pb") - col("__pa")).as("__diag"), col("__pa"))
    rebuildFromCoverage(base,
      substringCoverage(pairs, idCol, minLen, seedN), idCol, keepToksCol)
  }

  /** Word n-gram Jaccard similarity between two text columns (distinct
    * shingles; n=1 → token Jaccard). */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val sa = shingles(a, n); val sb = shingles(b, n)
    val inter = size(array_intersect(sa, sb))
    // |A∪B| = |A|+|B|−|A∩B| over distinct shingles; exact int/int division
    // keeps the result bit-stable across engines (no rounding needed).
    val uni = size(sa) + size(sb) - inter
    when(uni === 0, 0.0).otherwise(inter.cast("double") / uni)
  }

  /** SimHash-16: bit i (0-based from the first hex nibble) is the majority
    * vote over tokens of the low bit of nibble i of md5(token). Returned as
    * a 16-char '0'/'1' string (engine-independent; no 64-bit bit ops needed
    * in the oracle). Near-dup candidates share the signature or differ in
    * few bits.
    *
    * Implemented as the native [[graft.functions.SimHash16]] expression —
    * one md5 per distinct token, all 16 bits in one pass. The pre-r4 form
    * spelled one interpreted `aggregate()` HOF per bit, re-tokenizing the
    * text 16× per row (the r3 bench's d5 hotspot); [[simhash16Reference]]
    * keeps that formulation as the parity witness.
    *
    * Null text: the token array is coalesced to empty BEFORE the
    * expression, so a null document signs as all-'0' — exactly what the
    * HOF form (`when(null > 0, …).otherwise("0")` per bit) and the oracle
    * (`coalesce(list_sum(…), 0)`) produce. The raw expression itself
    * null-propagates. */
  def simhash16(c: Column): Column =
    graft.functions.SimHash16(coalesce(
      array_distinct(CaptionStats.tokens(lower(c))),
      array().cast("array<string>")))

  /** Image near-duplicate pairs from a 64-bit perceptual-hash column
    * ([[graft.images.PerceptualHash.dHash64]] — or any 64-bit LSH-able
    * fingerprint): Hamming-band LSH → exact popcount verify. The payload
    * twin of the text near-dup family: candidates are ids sharing ANY of
    * the hash's four 16-bit bands exactly (pigeonhole: Hamming distance
    * ≤ 3 GUARANTEES a shared band; distances up to `maxHamming` are
    * found when the differing bits cluster — the standard
    * recall/cost trade of banded Hamming LSH), then every candidate
    * pair is verified with the exact codegen'd `bit_count(a ⊕ b)`.
    *
    * Scale shape — identical discipline to the text path: band
    * bucketing and pair emission reuse [[minhashCandidatePairs]]'s
    * aggregate machinery (map-combined bucket counts joined back, never
    * a Window; a viral bucket — e.g. a blank-image hash shared by
    * millions of payloads — is dropped by the `maxBucket` cap BEFORE
    * any collect_list buffers it, a recall-only loss). The verify join
    * is O(candidates), never O(n²). No persist is needed: the "sig"
    * side is four mask/shift expressions over one LONG — recomputing it
    * on the verify branches is cheaper than caching.
    *
    * Returns (id_a, id_b, hamming) with id_a < id_b,
    * hamming ≤ `maxHamming`. Null hashes never pair (dropped up
    * front). */
  def imageNearDupPairs(df: DataFrame, idCol: String, hashCol: String,
                        maxHamming: Int = 10,
                        maxBucket: Int = 10000): DataFrame = {
    val h = df.filter(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol).cast("long").as("__ph"))
    val sig = h.select(col(idCol) +:
      (0 until 4).map(b => shiftright(col("__ph"), 16 * b)
        .bitwiseAND(lit(0xffffL)).as(s"mh$b")): _*)
    val cand = pairsFromSignatures(sig, idCol, bands = 4,
      rowsPerBand = 1, maxBucket)
    cand
      .join(h.select(col(idCol).as("id_a"), col("__ph").as("__pa")), "id_a")
      .join(h.select(col(idCol).as("id_b"), col("__ph").as("__pb")), "id_b")
      .withColumn("hamming",
        bit_count(col("__pa").bitwiseXOR(col("__pb"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Whole-corpus image near-dedup, keep-first: drops every row a
    * verified [[imageNearDupPairs]] pair ranks second (`id_b`) — the
    * d6 greedy policy on the payload side. For transitive-chain
    * semantics compose [[componentLabels]] over the pair frame instead
    * (it is generic over (id_a, id_b) frames), keeping each
    * component's min label — the d7 policy. */
  def dropImageNearDups(df: DataFrame, idCol: String, hashCol: String,
                        maxHamming: Int = 10,
                        maxBucket: Int = 10000): DataFrame = {
    val losers = imageNearDupPairs(df, idCol, hashCol, maxHamming,
      maxBucket)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[imageNearDupPairs]] straight from an opaque binary image column:
    * decode + dHash once per payload (the expensive step — persisted so
    * the three hash consumers above don't re-decode), then the
    * hash-side search. EAGER like [[nearDupPairs]]: the small pair
    * result materializes while the hash cache is alive, then the cache
    * is released. */
  def imageNearDupPairsFromBytes(df: DataFrame, idCol: String,
                                 dataCol: String, maxHamming: Int = 10,
                                 maxBucket: Int = 10000): DataFrame =
  CacheScope.run { scope =>
    val hashes = scope.cache(df.select(col(idCol),
      graft.images.PerceptualHash.dHashCol(col(dataCol)).as("__phash")))
    val out = CacheScope.handOff(imageNearDupPairs(hashes, idCol,
      "__phash", maxHamming, maxBucket))
    out.count() // materialize while the hash cache is alive
    Metrics.logDrops("imageNearDupPairs bucket cap", out)
    out
  }

  // ------------------------------------------------- signature store

  /** Band key as ONE join column: `band_idx:band_key`. A single-column
    * key is what lets the store table be BUCKETED on exactly the join
    * key — the bucketed scan's HashPartitioning then satisfies both the
    * band join and the bucket-count aggregate with no store-side
    * Exchange. */
  private def bandJoinKey: Column =
    concat_ws(":", col("band_idx"), col("band_key"))

  /** Write the persisted SIGNATURE STORE for incremental near-dedup.
    * At 100 TB nobody re-deduplicates the whole corpus per crawl: the
    * production shape is "dedup the new shard against what's already
    * ingested". This materializes the corpus side ONCE as two bucketed
    * tables (registered as `<tablePrefix>_bands` / `<tablePrefix>_
    * shingles`, files under `path`):
    *
    *  - bands: (bk = band_idx:band_key, id), bucketed+sorted by `bk` —
    *    the LSH candidate side. A shard's band keys equi-join this scan
    *    with NO store-side shuffle or recompute.
    *  - shingles: (id, __s), bucketed by `id` — the exact-Jaccard
    *    verify side. Storing the shingle arrays (not just signatures)
    *    is what keeps incremental results EXACTLY equal to a
    *    whole-corpus [[dropNearDups]]: verification needs true shingle
    *    sets, and re-deriving them would mean re-reading corpus text —
    *    the thing the store exists to avoid. Store size is O(corpus
    *    tokens); the signature-only alternative (estimate-verify via
    *    [[minhashEstimates]]'s agree-count) trades that space for
    *    approximate parity.
    *
    * `k`/`bands`/`shingleN` must match the later
    * [[dedupShardAgainst]] call (same LSH family — caller contract).
    * `nBuckets` sizes the bucket layout — FIXED at first write (appends
    * inherit it), so a silent small default is an at-scale footgun.
    * The default 0 means "derive": [[suggestedStoreBuckets]] sizes it
    * from Catalyst's input-size estimate (floor 8, so tiny fixtures
    * keep the historical 8-bucket layout); pass an explicit count when
    * you know the target corpus better than the estimate does. */
  def writeSignatureStore(df: DataFrame, idCol: String, textCol: String,
                          tablePrefix: String, path: String,
                          k: Int = 12, bands: Int = 4, shingleN: Int = 3,
                          nBuckets: Int = 0): Unit = {
    val nb = if (nBuckets > 0) nBuckets else suggestedStoreBuckets(df)
    StoreLease.withLease(df.sparkSession,
      StoreLease.forTable(df.sparkSession, tablePrefix),
      "writeSignatureStore") { _ => CacheScope.run { scope =>
      val sh = scope.cache(shingleTable(df, idCol, textCol, shingleN))
      sh.count() // materialize the shared cache ONCE, up front: both
      // writers below read it, and racing its first materialization
      // from two threads would duplicate the shingle compute
      // r21 (guide §2.6): the two table writes are independent — one
      // reads cached shingles, one derives signatures from the same
      // cache — so they overlap from two driver threads; each write's
      // tail backfills the other's idle executors. Overlap.both
      // settles BOTH writes before leaving the lease scope (r22: a
      // first-await failure must not release the lease with the
      // sibling's saveAsTable still running — single-writer hazard).
      graft.util.Overlap.both(df.sparkSession) {
        lshBands(signaturesFrom(sh, idCol, k), idCol, bands,
            rowsPer(k, bands))
          .select(bandJoinKey.as("bk"), col(idCol))
          .write.mode("overwrite").option("path", s"$path/bands")
          .bucketBy(nb, "bk").sortBy("bk")
          .format("parquet").saveAsTable(s"${tablePrefix}_bands")
      } {
        sh.write.mode("overwrite").option("path", s"$path/shingles")
          .bucketBy(nb, idCol).sortBy(idCol)
          .format("parquet").saveAsTable(s"${tablePrefix}_shingles")
      }
    }}
  }

  /** Bucket-count derivation for the signature stores: estimated store
    * bytes / `targetBytes` per bucket, rounded UP to a power of two,
    * floor 8. The input-size estimate is Catalyst's
    * (`optimizedPlan.stats.sizeInBytes` — filter/column-pruned, no job
    * runs), scaled by `expansion` for the store's dominant table (text:
    * shingles ≈ one 16-byte digest per corpus token, roughly 2× the
    * raw text; images: bands ≈ 4 short rows per hash, well under 1×).
    * Power-of-two so future manual re-bucketing can split/merge
    * cleanly; capped at 2^20 buckets (beyond that, partition the store
    * by shard epoch instead — one table's bucket count should not be
    * the only scaling axis). The floor keeps tiny fixtures on the
    * historical 8-bucket layout. */
  def suggestedStoreBuckets(df: DataFrame,
                            targetBytes: Long = 256L << 20,
                            expansion: Double = 2.0): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val in = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val est = (BigDecimal(in) * expansion).toBigInt
    val need = ((est + targetBytes - 1) / targetBytes)
      .max(BigInt(8)).min(BigInt(1 << 20)).toInt
    var b = 8
    while (b < need) b <<= 1
    b
  }

  /** ABSORB a processed shard into an existing [[writeSignatureStore]]
    * store — the missing half of the production loop (dedup shard →
    * absorb → next shard). Derives the shard's band and shingle rows
    * with the SAME LSH family (caller contract, as in
    * [[dedupShardAgainst]]) and appends them into the store's bucketed
    * tables; the bucket count is read from the catalog so the append
    * can never mismatch the existing layout. An append adds files per
    * bucket without touching existing ones — the store-side plan
    * properties survive (bucket-local aggregate with no Exchange,
    * store side of a shard run stays a file scan; spec-proven).
    *
    * WHAT to absorb decides the loop's semantics:
    *
    *  - the FULL shard (pass the shard frame itself): sequential
    *    shard runs stay EXACTLY ≡ whole-corpus [[dropNearDups]]
    *    (spec-proven). The whole-corpus run drops a doc that pairs
    *    with an already-dropped doc (losers are "appears as `id_b` in
    *    ANY verified pair"), so the store must remember dropped docs
    *    too — a later doc can near-dup a loser without clearing the
    *    threshold against that loser's keeper (similarity is not
    *    transitive).
    *  - only the SURVIVORS (the [[dedupShardAgainst]] output): a
    *    smaller store with online-greedy semantics — future dups of
    *    dropped text are caught only via its keeper. At 100 TB this
    *    is the cheaper steady state; choose it when the threshold is
    *    loose enough that keeper-transitivity is acceptable.
    *
    * Ids must be disjoint from everything already in the store
    * (caller contract, as elsewhere in this family). `tokensCol`
    * threads a precomputed original-case token array exactly as in
    * [[absorbIntoSubstringStore]] (the tokenize-once contract in
    * [[shingleTable]]'s scaladoc). */
  def absorbIntoSignatureStore(docs: DataFrame, idCol: String,
                               textCol: String, tablePrefix: String,
                               k: Int = 12, bands: Int = 4,
                               shingleN: Int = 3,
                               tokensCol: Option[String] = None,
                               idempotent: Boolean = true): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = docs.sparkSession
    val nBuckets = Bridge.bucketCount(spark, s"${tablePrefix}_bands")
      .getOrElse(throw new IllegalStateException(
        s"${tablePrefix}_bands is not a bucketed table — was the store " +
          "written by writeSignatureStore?"))
    // IDEMPOTENT by default, PER TABLE: a replayed absorb (at-least-once
    // foreachBatch retry, accidental double call) would double every
    // band and shingle row — double-counting bucket sizes toward the
    // cap gate and multiplying verify-join rows, persistently. Each
    // parquet append commits at job granularity, but there are TWO
    // appends here, so a crash between them leaves one table ahead;
    // guarding each table against ITS OWN ids makes a retry
    // self-healing (it repairs exactly the missing table, duplicates
    // neither). Guard cost: one projected id scan per table. Single
    // writer ENFORCED (StoreLease — check-then-append cannot serialize
    // concurrent absorbs; an overlapping writer refuses loudly).
    def storedIds(table: String): DataFrame =
      spark.table(table).select(col(idCol)).distinct()
    StoreLease.withLease(spark, StoreLease.forTable(spark, tablePrefix),
      "absorbIntoSignatureStore") { _ => CacheScope.run { scope =>
      // tokenize+shingle ONCE over the union of both tables' fresh docs
      // (= docs absent from at least one table; in the no-crash common
      // case that is simply the new batch), then restrict per table —
      // shingling per table would double the expensive half of the job
      val freshUnion =
        if (idempotent)
          docs.join(storedIds(s"${tablePrefix}_bands")
              .intersect(storedIds(s"${tablePrefix}_shingles")),
            Seq(idCol), "left_anti")
        else docs
      val sh = scope.cache(shingleTable(freshUnion, idCol, textCol, shingleN,
        tokensCol = tokensCol))
      def freshFor(frame: DataFrame, table: String): DataFrame =
        if (idempotent)
          frame.join(storedIds(table), Seq(idCol), "left_anti")
        else frame
      lshBands(signaturesFrom(freshFor(sh, s"${tablePrefix}_bands"),
          idCol, k), idCol, bands, rowsPer(k, bands))
        .select(bandJoinKey.as("bk"), col(idCol))
        .write.mode("append").bucketBy(nBuckets, "bk").sortBy("bk")
        .format("parquet").saveAsTable(s"${tablePrefix}_bands")
      freshFor(sh, s"${tablePrefix}_shingles")
        .write.mode("append").bucketBy(nBuckets, idCol).sortBy(idCol)
        .format("parquet").saveAsTable(s"${tablePrefix}_shingles")
    }}
  }

  /** Per-bucket doc counts over the store's band table — groupBy on the
    * bucketing key, so the plan is scan→aggregate with NO Exchange
    * (spec-asserted). Exposed for the plan proof. */
  private[graft] def storeBandCounts(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): DataFrame =
    spark.table(s"${tablePrefix}_bands")
      .groupBy("bk").agg(count(lit(1)).as("__sn"))

  /** Incremental near-dedup of a NEW SHARD against a persisted
    * [[writeSignatureStore]] store: returns the shard rows that survive
    * — EXACTLY the rows whole-corpus [[dropNearDups]](store ∪ shard)
    * would keep, restricted to shard ids (spec-proven; oracle d15).
    * The store side is never recomputed: candidates come from the
    * shard's band keys equi-joining the bucketed band table (store side
    * scans in place, shard side shuffles to it), verification reads the
    * stored shingle arrays.
    *
    * Exactness requires the cap semantics to match the whole-corpus
    * run: a bucket's size there is its COMBINED membership, so the
    * filter here is `2 ≤ store_n + shard_n ≤ maxBucket` — the store
    * counts aggregate shuffle-free on the bucket key, the shard counts
    * are one small shuffle. Shard-internal pairs are emitted from the
    * same capped buckets (sorted-id explode, list size ≤ maxBucket);
    * cross pairs from the band equi-join. A shard doc is dropped iff a
    * verified pair ranks it second (`id_b`) — pairs whose LARGER id is
    * a store doc drop that store doc in the whole-corpus run, not the
    * shard doc, and are ignored here (the anti-join never sees them).
    *
    * EAGER like [[nearDupPairs]], but EVERY cache this call makes is
    * function-scoped (a per-shard production loop would otherwise
    * accumulate one per call). Loser sets up
    * to `maxLocalLosers` ids (the production-typical case: the set is
    * the shard docs that DROP, not the shard) are collected into a
    * broadcast local relation, which also removes the anti-join's
    * shard-side shuffle entirely. Oversized loser sets fall back to a
    * reliable checkpoint (lineage cut to files, cache still released)
    * when a SparkContext checkpoint dir is configured, else the cache
    * is released anyway and the loser pipeline recomputes when the
    * caller executes — correct but expensive, so configure a
    * checkpoint dir for shards where > `maxLocalLosers` docs may drop.
    * Ids must be disjoint between store and shard (caller contract —
    * same as corpus ids being unique). */
  def dedupShardAgainst(shard: DataFrame, idCol: String, textCol: String,
                        tablePrefix: String, threshold: Double,
                        k: Int = 12, bands: Int = 4, shingleN: Int = 3,
                        maxBucket: Int = 10000,
                        maxLocalLosers: Long = 1L << 22,
                        tokensCol: Option[String] = None): DataFrame =
  CacheScope.run { scope =>
    val spark = shard.sparkSession
    val shardSh = scope.cache(shingleTable(shard, idCol, textCol, shingleN,
      tokensCol = tokensCol))
    val shardB = scope.cache(lshBands(signaturesFrom(shardSh, idCol, k),
        idCol, bands, rowsPer(k, bands))
      .select(bandJoinKey.as("bk"), col(idCol)))
    val losers = scope.cache(shardLoserIds(shardSh, shardB, idCol,
      tablePrefix, threshold, maxBucket))
    val nLosers = losers.count() // materialize while shard caches alive
    Metrics.logDrops("dedupShardAgainst bucket cap", losers)
    val loserSide =
      if (nLosers <= maxLocalLosers) {
        // collect → local relation → broadcast: no cache entry outlives
        // this call AND the anti-join needs no shard-side shuffle
        broadcast(spark.createDataFrame(
          java.util.Arrays.asList(losers.collect(): _*), losers.schema))
      } else if (spark.sparkContext.getCheckpointDir.isDefined) {
        losers.checkpoint() // lineage cut to reliable files; cache can go
      } else {
        losers // released below: recomputes on execute (see scaladoc)
      }
    shard.join(loserSide, Seq(idCol), "left_anti")
  }

  /** The band keys (`bk`) of a shard band frame whose COMBINED
    * store+shard size `__tot` is 2..maxBucket — the whole-corpus cap,
    * counted — against a store-count frame (`(bk, __sn)`); shared by
    * the text and image store paths. Store side is the shuffle-free
    * bucketed aggregate, shard side one small count shuffle. */
  private def cappedBuckets(shardB: DataFrame, storeCounts: DataFrame,
                            maxBucket: Int): DataFrame =
    Metrics.capped(shardB.groupBy("bk").agg(count(lit(1)).as("__nn"))
      .join(storeCounts, Seq("bk"), "left")
      .withColumn("__tot", col("__nn") + coalesce(col("__sn"), lit(0L))),
      "__tot", maxBucket, min = 2).select("bk")

  /** Candidate pairs (a < b, distinct) of a shard band frame against a
    * store band table, over cap-approved buckets only: cross pairs from
    * the band equi-join (store side scans its bucketed table in place),
    * shard-internal pairs from the sorted-id bucket explode. Shared by
    * the text ([[shardLoserIds]]) and image ([[imagePairsAgainstStore]])
    * incremental paths — identical pair emission is what keeps both
    * exactly ≡ their whole-corpus runs. A capped bucket with ONE shard
    * member yields only cross pairs; it must not reach the pair explode
    * (sequence(0, -1) DESCENDS in Spark — the lower bound is not a
    * guard — and the descending index then trips ANSI element_at). */
  private def shardCandidatePairs(okShardB: DataFrame, storeB: DataFrame,
                                  idCol: String): DataFrame = {
    val cross = okShardB.select(col("bk"), col(idCol).as("__sid"))
      .join(storeB.select(col("bk"), col(idCol).as("__tid")), Seq("bk"))
      .select(least(col("__sid"), col("__tid")).as("id_a"),
        greatest(col("__sid"), col("__tid")).as("id_b"))
    val buckets = okShardB.groupBy("bk")
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .filter(size(col("__ids")) >= 2)
    val internal = buckets
      .select(explode(sortedIdPairs(col("__ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
    cross.filter(col("id_a") < col("id_b")).union(internal).distinct()
  }

  /** The LAZY loser-id plan of [[dedupShardAgainst]] — candidate
    * generation against the store's bucketed band table plus exact
    * shingle-Jaccard verification — factored out so plan proofs can
    * read the store-side scan shape BEFORE the eager wrapper
    * materializes and releases it. `shardSh` = the shard's
    * (id, shingle-array) frame, `shardB` = its (bk, id) band frame
    * (the wrapper passes them persisted; the pipeline reads each
    * more than once). */
  private[graft] def shardLoserIds(shardSh: DataFrame, shardB: DataFrame,
                                   idCol: String, tablePrefix: String,
                                   threshold: Double,
                                   maxBucket: Int): DataFrame = {
    val spark = shardSh.sparkSession
    val storeB = spark.table(s"${tablePrefix}_bands")
    val storeSh = spark.table(s"${tablePrefix}_shingles")
    // combined bucket sizes; only buckets holding ≥1 shard doc matter
    val ok = cappedBuckets(shardB, storeBandCounts(spark, tablePrefix),
      maxBucket)
    val okShardB = shardB.join(ok, Seq("bk"))
    val cand = shardCandidatePairs(okShardB, storeB, idCol)
    val allSh = storeSh.unionByName(shardSh)
    val a = allSh.select(col(idCol).as("id_a"), col("__s").as("__sa"))
    val b = allSh.select(col(idCol).as("id_b"), col("__s").as("__sb"))
    val inter = size(array_intersect(col("__sa"), col("__sb")))
    val uni = size(col("__sa")) + size(col("__sb")) - inter
    cand.join(a, "id_a").join(b, "id_b")
      .filter(when(uni === 0, 0.0)
        .otherwise(inter.cast("double") / uni) >= threshold)
      .select(col("id_b").as(idCol)).distinct()
  }

  // -------------------------------- image signature store (d14 × d15)

  /** Band rows (bk, id) of a 64-bit perceptual-hash column — the image
    * twin of the text band pipeline. Routes through the SAME
    * [[lshBands]] + [[bandJoinKey]] machinery as [[imageNearDupPairs]]
    * (4 bands × 1 row, band key = md5 of the 16-bit slice), so the
    * store path's bucket granularity — and therefore its cap
    * semantics — match the whole-corpus run exactly. Map-only. */
  private def imageBandRows(h: DataFrame, idCol: String): DataFrame = {
    val sig = h.select(col(idCol) +:
      (0 until 4).map(b => shiftright(col("__ph"), 16 * b)
        .bitwiseAND(lit(0xffffL)).as(s"mh$b")): _*)
    lshBands(sig, idCol, bands = 4, rowsPerBand = 1)
      .select(bandJoinKey.as("bk"), col(idCol))
  }

  /** Image twin of [[writeSignatureStore]]: persists a corpus's
    * perceptual-hash signatures for INCREMENTAL image near-dedup as two
    * bucketed tables (`<tablePrefix>_ibands` / `<tablePrefix>_ihashes`,
    * files under `path`) — bands for the no-Exchange candidate join,
    * the 8-byte hashes for exact popcount verification. The store is
    * O(corpus) LONGs (vs O(corpus tokens) for the text store — hashes
    * ARE the full verification evidence, so the image store is tiny).
    * `hashCol` is the caller's [[graft.images.PerceptualHash.dHashCol]]
    * (or any 64-bit LSH-able fingerprint); hash once at ingest, store
    * forever — the decode never re-runs. Null hashes (undecodable
    * payloads) are excluded. */
  def writeImageSignatureStore(df: DataFrame, idCol: String,
                               hashCol: String, tablePrefix: String,
                               path: String, nBuckets: Int = 0): Unit = {
    val h = df.filter(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol).cast("long").as("__ph"))
    // nBuckets = 0 derives from the (id, hash) frame — ~24 bytes/row,
    // already the store's own size, so no expansion
    val nb = if (nBuckets > 0) nBuckets
      else suggestedStoreBuckets(h, expansion = 1.0)
    StoreLease.withLease(df.sparkSession,
      StoreLease.forTable(df.sparkSession, tablePrefix),
      "writeImageSignatureStore") { _ =>
      // r21 (guide §2.6): the two independent table writes overlap
      // from two driver threads — the writeSignatureStore pattern;
      // the hash frame is cheap expressions over a long column, so
      // there is no shared cache to pre-materialize here. Overlap.both
      // settles BOTH writes before the lease scope ends (r22).
      graft.util.Overlap.both(df.sparkSession) {
        imageBandRows(h, idCol)
          .write.mode("overwrite").option("path", s"$path/ibands")
          .bucketBy(nb, "bk").sortBy("bk")
          .format("parquet").saveAsTable(s"${tablePrefix}_ibands")
      } {
        h.write.mode("overwrite").option("path", s"$path/ihashes")
          .bucketBy(nb, idCol).sortBy(idCol)
          .format("parquet").saveAsTable(s"${tablePrefix}_ihashes")
      }
    }
  }

  /** Per-bucket counts over the image store's band table — bucket-local
    * aggregate, NO Exchange (the [[storeBandCounts]] property). */
  private[graft] def imageStoreBandCounts(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): DataFrame =
    spark.table(s"${tablePrefix}_ibands")
      .groupBy("bk").agg(count(lit(1)).as("__sn"))

  /** Incremental image near-dup: (id_a, id_b, hamming) pairs of a NEW
    * SHARD against a [[writeImageSignatureStore]] store — EXACTLY the
    * pairs whole-corpus [[imageNearDupPairs]](store ∪ shard) emits
    * that touch ≥ 1 shard id (spec-proven). Same shape as the text
    * path ([[dedupShardAgainst]]): the shard's band keys equi-join the
    * bucketed band table (store side scans in place, never recomputed),
    * the bucket cap is the COMBINED store+shard membership, and
    * verification is the codegen'd `bit_count(xor)` against stored
    * hashes. Unlike the text path there is nothing to cache or
    * release — the shard side is four shift/mask expressions over one
    * LONG column — so the result is LAZY; compose downstream freely.
    * Ids must be disjoint between store and shard (caller
    * contract). */
  def imagePairsAgainstStore(shard: DataFrame, idCol: String,
                             hashCol: String, tablePrefix: String,
                             maxHamming: Int = 10,
                             maxBucket: Int = 10000): DataFrame = {
    val spark = shard.sparkSession
    val h = shard.filter(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol).cast("long").as("__ph"))
    val shardB = imageBandRows(h, idCol)
    val storeB = spark.table(s"${tablePrefix}_ibands")
    val storeH = spark.table(s"${tablePrefix}_ihashes")
    val ok = cappedBuckets(shardB, imageStoreBandCounts(spark, tablePrefix),
      maxBucket)
    val cand = shardCandidatePairs(shardB.join(ok, Seq("bk")), storeB,
      idCol)
    val allH = storeH.unionByName(h)
    cand
      .join(allH.select(col(idCol).as("id_a"), col("__ph").as("__pa")),
        "id_a")
      .join(allH.select(col(idCol).as("id_b"), col("__ph").as("__pb")),
        "id_b")
      .withColumn("hamming",
        bit_count(col("__pa").bitwiseXOR(col("__pb"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Surviving shard rows under incremental image near-dedup: drops
    * every shard doc a verified [[imagePairsAgainstStore]] pair ranks
    * second (`id_b` — pairs whose larger id is a store doc would drop
    * the STORE doc in a whole-corpus run and are ignored here, same
    * discipline as [[dedupShardAgainst]]). Lazy, like the pair
    * builder. */
  def dedupImageShardAgainst(shard: DataFrame, idCol: String,
                             hashCol: String, tablePrefix: String,
                             maxHamming: Int = 10,
                             maxBucket: Int = 10000): DataFrame = {
    val losers = imagePairsAgainstStore(shard, idCol, hashCol,
      tablePrefix, maxHamming, maxBucket)
      .select(col("id_b").as(idCol)).distinct()
    shard.join(losers, Seq(idCol), "left_anti")
  }

  /** Image twin of [[absorbIntoSignatureStore]]: appends a processed
    * shard's band and hash rows into the existing image store (bucket
    * count read from the catalog — appends can't mismatch the layout).
    * Same full-shard vs survivors-only semantics tradeoff; see the
    * text absorb's scaladoc. */
  def absorbIntoImageSignatureStore(docs: DataFrame, idCol: String,
                                    hashCol: String,
                                    tablePrefix: String,
                                    idempotent: Boolean = true): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = docs.sparkSession
    val nBuckets = Bridge.bucketCount(spark, s"${tablePrefix}_ibands")
      .getOrElse(throw new IllegalStateException(
        s"${tablePrefix}_ibands is not a bucketed table — was the " +
          "store written by writeImageSignatureStore?"))
    // per-table replay guard — see absorbIntoSignatureStore's scaladoc
    // comment: each append is job-atomic but there are two of them, so
    // guarding each table against its own ids makes a retry
    // self-healing (repairs the missing table, duplicates neither)
    def freshFor(table: String): DataFrame =
      if (idempotent)
        docs.join(spark.table(table).select(col(idCol)).distinct(),
          Seq(idCol), "left_anti")
      else docs
    def hashes(d: DataFrame): DataFrame = d
      .filter(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol).cast("long").as("__ph"))
    // single writer enforced — see absorbIntoSignatureStore
    StoreLease.withLease(spark, StoreLease.forTable(spark, tablePrefix),
      "absorbIntoImageSignatureStore") { _ =>
      imageBandRows(hashes(freshFor(s"${tablePrefix}_ibands")), idCol)
        .write.mode("append").bucketBy(nBuckets, "bk").sortBy("bk")
        .format("parquet").saveAsTable(s"${tablePrefix}_ibands")
      hashes(freshFor(s"${tablePrefix}_ihashes"))
        .write.mode("append").bucketBy(nBuckets, idCol).sortBy(idCol)
        .format("parquet").saveAsTable(s"${tablePrefix}_ihashes")
    }
  }

  /** CDC latest-wins compaction: one surviving row per key set — the row
    * with the greatest (`tsCol`, `tieCol`) — implemented as a rank
    * window, which compiles to map-side `WindowGroupLimit` (each task
    * forwards at most one row per key before the shuffle-side sort). The
    * upsert/merge primitive for append-only parquet ingest: replay the
    * change log, keep the newest version per entity. `tieCol` must be
    * unique per key (deterministic winner under equal timestamps —
    * nondeterministic compaction would break replayability). */
  def keepLatest(df: DataFrame, keyCols: Seq[String], tsCol: String,
                 tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Edit-distance-1 fuzzy pairs over a token vocabulary — typo-level
    * dedup via EXACT deletion-neighborhood blocking (the FastSS/SymSpell
    * scheme): every token generates its single-character-deletion
    * variants plus itself as join keys; any pair at Levenshtein ≤ 1
    * PROVABLY shares a key (substitution ⇒ both delete the differing
    * position; insert/delete ⇒ the shorter IS a deletion variant of the
    * longer), so recall is 1.0 — no LSH-style miss probability — while
    * candidate generation stays an equi-join.
    *
    * Scale shape: keys per token = len+1 (bounded by `maxTokenLen`), and
    * deletion neighborhoods are sparse (a key matches only tokens within
    * one edit of each other), so bucket sizes stay small without a skew
    * cap; the one shuffle is the key join, candidates then verify with
    * the codegen'd `levenshtein` built-in. Tokens outside
    * [`minTokenLen`, `maxTokenLen`] are dropped — 1-edit neighborhoods of
    * 1–3-char tokens are mostly noise, and unbounded tokens would
    * unbound the key fan-out. */
  def editDistancePairs(df: DataFrame, textCol: String,
                        minTokenLen: Int = 4,
                        maxTokenLen: Int = 20): DataFrame = {
    val toks = df
      .select(explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")).between(minTokenLen, maxTokenLen))
      .distinct()
    val keyed = toks.select(col("tok"), explode(array_union(
      array(col("tok")),
      expr("transform(sequence(0, length(tok) - 1), i -> " +
        "concat(substring(tok, 1, i), substring(tok, i + 2)))")))
      .as("bkey"))
    val a = keyed.select(col("bkey"), col("tok").as("tok_a"))
    val b = keyed.select(col("bkey"), col("tok").as("tok_b"))
    a.join(b, "bkey")
      .filter(col("tok_a") < col("tok_b"))
      .select("tok_a", "tok_b").distinct()
      .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")))
      .filter(col("dist") <= 1)
  }

  /** The original HOF formulation (16 interpreted passes) — semantics
    * oracle for the native expression; test-only, never in a hot path. */
  private[graft] def simhash16Reference(c: Column): Column = {
    val toks = array_distinct(CaptionStats.tokens(lower(c)))
    val bits = (0 until 16).map { i =>
      // +1 if nibble's low bit set ('1','3','5','7','9','b','d','f'), else -1
      val vote = aggregate(toks, lit(0), (acc, t) =>
        acc + when(instr(lit("13579bdf"),
          substring(md5(t), i + 1, 1)) > 0, 1).otherwise(-1))
      when(vote > 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }
}
