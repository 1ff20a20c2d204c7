package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The column formulation of the caption stat block that the native
  * [[graft.functions.CaptionStatsKernel]] replaced: tokens, sentences and
  * POS tags as `split`/`regexp_extract_all`/`rlike`/`lower` expressions,
  * and every stat derived through `filter`/`transform`/`aggregate`
  * lambdas. It is kept only as the parity witness of
  * `CaptionStatsKernelSpec`; its output must match `CaptionStats.enrich`
  * bit for bit. */
object CaptionStatsHof {

  def tokens(c: Column, backend: MetadataBackend = MetadataBackend.Spacy)
  : Column = backend match {
    case MetadataBackend.Spacy => filter(split(c, "\\s+"), x => x =!= lit(""))
    case MetadataBackend.Nltk =>
      regexp_extract_all(c, lit("[A-Za-z0-9_']+|[^A-Za-z0-9_'\\s]"), lit(0))
    case MetadataBackend.Polyglot =>
      regexp_extract_all(c, lit("[\\p{L}\\p{N}]+"), lit(0))
  }

  def sentences(c: Column): Column =
    filter(transform(split(c, "[.!?]+"), s => trim(s)), s => s =!= lit(""))

  def posTag(t: Column): Column = {
    val lo = lower(t)
    when(t.rlike("^[0-9]+([.,][0-9]+)?$"), lit("NUM"))
      .when(t.rlike("^[A-Z][a-zA-Z]*$"), lit("PROPN"))
      .when(lo.isin("and", "or", "but", "nor", "so", "yet"), lit("CONJ"))
      .when(lo.isin("in", "on", "at", "of", "to", "from", "by", "with",
        "for", "as", "into", "over", "under"), lit("ADP"))
      .when(t.rlike("^[^A-Za-z0-9]+$"), lit("SYM"))
      .when(lo.isin("is", "are", "was", "were", "be", "been", "am", "has",
        "have", "had", "do", "does", "did", "will", "would", "can", "could",
        "shall", "should", "may", "might", "must") ||
        lo.like("%ing") || lo.like("%ed"), lit("VERB"))
      .when(lo.like("%ous") || lo.like("%ful") || lo.like("%ive") ||
        lo.like("%able") || lo.like("%ible") ||
        lo.isin("small", "large", "fast", "slow", "big", "new", "old",
          "good", "bad", "high", "low"), lit("ADJ"))
      .otherwise(lit("NOUN"))
  }

  private def countTag(tags: Column, tag: String): Column =
    size(filter(tags, t => t === lit(tag)))

  private def ratio(num: Column, den: Column): Column =
    when(den === 0, lit(0.0)).otherwise(num.cast(DoubleType) / den)

  def enrich(df: DataFrame, textCol: String,
             posTagStats: Boolean = true,
             readabilityScores: Boolean = true,
             backend: MetadataBackend = MetadataBackend.Spacy): DataFrame = {
    val c = col(textCol)
    val toks = col("__toks"); val sents = col("__sents")
    val slens = col("__slens")

    var out = df
      .withColumn("__toks", tokens(c, backend))
      .withColumn("__sents", sentences(c))
      .withColumn("__slens", transform(sents, s => size(tokens(s, backend))))
      .withColumn("num_tok", size(toks))
      .withColumn("num_sent", size(sents))
      .withColumn("min_sent_len",
        coalesce(array_min(slens), lit(0)).cast(IntegerType))
      .withColumn("max_sent_len",
        coalesce(array_max(slens), lit(0)).cast(IntegerType))
      .withColumn("ne_texts",
        filter(toks, t => t.rlike("^[A-Z][a-zA-Z]*$")))
      .withColumn("ne_types", transform(col("ne_texts"), t =>
        when(t.rlike("^[A-Z]+$"), lit("ORG")).otherwise(lit("MISC"))))
      .withColumn("num_ne", size(col("ne_texts")))

    if (posTagStats) {
      val tags = col("__tags")
      out = out
        .withColumn("__tags", transform(toks, posTag(_)))
        .withColumn("num_nouns", countTag(tags, "NOUN"))
        .withColumn("num_propn", countTag(tags, "PROPN"))
        .withColumn("num_conj", countTag(tags, "CONJ"))
        .withColumn("num_verb", countTag(tags, "VERB"))
        .withColumn("num_sym", countTag(tags, "SYM"))
        .withColumn("num_num", countTag(tags, "NUM"))
        .withColumn("num_adp", countTag(tags, "ADP"))
        .withColumn("num_adj", countTag(tags, "ADJ"))
        .withColumn("ratio_ne_tok", ratio(col("num_ne"), col("num_tok")))
        .withColumn("ratio_noun_tok", ratio(col("num_nouns"), col("num_tok")))
        .withColumn("ratio_propn_tok", ratio(col("num_propn"), col("num_tok")))
        .withColumn("ratio_all_noun_tok",
          ratio(col("num_nouns") + col("num_propn"), col("num_tok")))
    }
    if (readabilityScores) {
      val syl = aggregate(toks, lit(0),
        (acc, w) => acc + Readability.syllables(w))
      val difficult = size(filter(toks, w => Readability.syllables(w) >= 3))
      out = out
        .withColumn("__syl", syl)
        .withColumn("fk_re_score", Readability.fleschReadingEaseOf(
          col("__syl"), col("num_tok"), col("num_sent")))
        .withColumn("fk_gl_score", Readability.fleschKincaidGradeOf(
          col("__syl"), col("num_tok"), col("num_sent")))
        .withColumn("dc_score", Readability.daleChallOf(
          difficult, col("num_tok"), col("num_sent")))
    }
    out.drop("__toks", "__sents", "__slens", "__tags", "__syl")
  }
}
