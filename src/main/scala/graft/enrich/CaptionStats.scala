package graft.enrich

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{CaptionStatsKernel, PosTag, Sentences}

/** Caption/text enrichment — the reference's core per-row NLP UDF
  * (`generate_caption_stats`, reference `utils.py:183-566`, ~380 LoC of
  * spaCy/NLTK/polyglot) re-expressed as Catalyst column expressions.
  *
  * Design decision (SURVEY.md §2.8, §7.4): the reference treats its three
  * NLP backends as interchangeable-but-different, which licenses defining the
  * engine's semantics as *documented deterministic approximations*:
  *
  *  - token     = maximal non-whitespace run (`\s+` split, empties dropped)
  *  - sentence  = maximal run between `[.!?]+` boundaries, trimmed, non-empty
  *  - named entity proxy = capitalized alphabetic token; ALLCAPS → ORG,
  *    else MISC (a stand-in for the reference's NER labels,
  *    `utils.py:251-257`)
  *  - POS proxy = deterministic rule cascade over the reference's tag set
  *                {NUM, PROPN, CONJ, ADP, SYM, VERB, ADJ, NOUN}
  *
  * The per-token work — tokenizing, sentence splitting, the NE and POS
  * tests, syllables — runs in one native pass per caption
  * ([[graft.functions.CaptionStatsKernel]], codegen'd into the scan stage
  * with no shuffle); the ratios and readability scores are plain column
  * arithmetic over its counts. Tokens, sentences and POS tags are the same
  * rules exposed one at a time ([[graft.functions.Tokens]],
  * [[graft.functions.Sentences]], [[graft.functions.PosTag]]).
  */
object CaptionStats {

  /** Tokens of `c`: split on whitespace, drop empties. */
  def tokens(c: Column): Column = MetadataBackend.Spacy.tokens(c)

  /** Sentences of `c`: split on `[.!?]+`, trim, drop empties. */
  def sentences(c: Column): Column = Sentences(c)

  /** Deterministic POS-proxy cascade for one token. Mirrors the tag set the
    * reference counts over (`utils.py:266-297`). Order matters and is part of
    * the engine's documented semantics:
    * NUM `^[0-9]+([.,][0-9]+)?$` → PROPN `^[A-Z][a-zA-Z]*$` → CONJ and ADP
    * lexicons → SYM `^[^A-Za-z0-9]+$` → VERB lexicon or `-ing`/`-ed` → ADJ
    * `-ous/-ful/-ive/-able/-ible` or lexicon → NOUN (lexicon and suffix
    * tests on `lower(t)`). */
  def posTag(t: Column): Column = PosTag(t)

  /** A kernel count as `size` of the array it counts would give: for a
    * null caption that is `size(null)`, which depends on
    * `spark.sql.legacy.sizeOfNull`. */
  private[enrich] def sized(count: Column): Column =
    coalesce(count, size(lit(null).cast(ArrayType(StringType))))

  /** Guarded int/int ratio as double; 0.0 when the denominator is 0.
    * Int-over-int double division is exact and engine-independent, so these
    * columns hash-match a SQL oracle with no rounding (SURVEY.md §7.4). */
  private def ratio(num: Column, den: Column): Column =
    when(den === 0, lit(0.0)).otherwise(num.cast(DoubleType) / den)

  /** Full enrichment: appends the reference's stat block
    * (`utils.py:530-561`; README.md:31-58) to `df`.
    *
    * @param posTagStats       reference config flag `pos_tag_stats`
    * @param readabilityScores reference config flag `readability_scores`
    *                          (`configs/config_localhost_test_spacy.yml:12-13`)
    * @param backend           reference config knob
    *                          `metadata_generator_backend`
    *                          (`utils.py:39-43`) — selects the tokenizer
    *                          profile; every token-derived stat (counts,
    *                          NE/POS proxies, readability) inherits it.
    */
  def enrich(df: DataFrame, textCol: String,
             posTagStats: Boolean = true,
             readabilityScores: Boolean = true,
             backend: MetadataBackend = MetadataBackend.Spacy): DataFrame = {
    // the kernel struct is one hidden column: every stat below reads its
    // fields, and CollapseProject keeps a multi-use non-trivial alias
    // materialized, so the kernel runs once per row
    val k = col("__cs")
    def n(field: String): Column = sized(k(field))
    val counts = Seq(
      "num_tok" -> n("num_tok"),
      "num_sent" -> n("num_sent"),
      "min_sent_len" -> coalesce(k("min_sent_len"), lit(0)),
      "max_sent_len" -> coalesce(k("max_sent_len"), lit(0)),
      "ne_texts" -> k("ne_texts"),
      "ne_types" -> k("ne_types"),
      "num_ne" -> n("num_ne"))
    val pos =
      if (!posTagStats) Nil
      else graft.functions.CaptionStatsImpl.TagColumns.map(t => t -> n(t)) ++
        Seq(
          "ratio_ne_tok" -> ratio(n("num_ne"), n("num_tok")),
          "ratio_noun_tok" -> ratio(n("num_nouns"), n("num_tok")),
          "ratio_propn_tok" -> ratio(n("num_propn"), n("num_tok")),
          "ratio_all_noun_tok" ->
            ratio(n("num_nouns") + n("num_propn"), n("num_tok")))
    val readability =
      if (!readabilityScores) Nil
      else Seq(
        "fk_re_score" -> Readability.fleschReadingEaseOf(
          k("syllables"), n("num_tok"), n("num_sent")),
        "fk_gl_score" -> Readability.fleschKincaidGradeOf(
          k("syllables"), n("num_tok"), n("num_sent")),
        "dc_score" -> Readability.daleChallOf(
          n("difficult_words"), n("num_tok"), n("num_sent")))
    df.withColumn("__cs", CaptionStatsKernel(col(textCol), backend))
      .withColumns(ListMap(counts ++ pos ++ readability: _*))
      .drop("__cs")
  }
}
