package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.enrich.CaptionStats

/** The distributed formulation of [[TextAnalysis.gopherRepetitionStats]]:
  * the identical output frame, computed as an explode + (doc, n, gram)
  * groupBy instead of the in-row native expressions. TextAnalysisSpec
  * pins the two equal, frame for frame, on hand fixtures and the corpus;
  * the keep verdict is the engine's own threshold definition. */
object GopherRepetitionDistributed {
  def stats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val c = col(textCol)
    val sents = CaptionStats.sentences(c)
    val isDup = (s: Column) => size(filter(sents, x => x === s)) > 1
    val dupSents = filter(sents, s => isDup(s))
    val sentStats = df.select(
      id,
      length(c).cast("long").as("tc"),
      CaptionStats.tokens(lower(c)).as("__toks"),
      size(sents).cast("long").as("n_sents"),
      size(dupSents).cast("long").as("n_dup_sents"),
      aggregate(sents, lit(0L), (a, s) => a + length(s)).as("sum_sent_chars"),
      aggregate(dupSents, lit(0L), (a, s) => a + length(s))
        .as("dup_sent_chars"))

    // Gram emission is TWO chained Generates over plain built-ins
    // (explode n → explode start positions → slice + concat_ws), NOT a
    // higher-order transform/flatten: lambda HOFs have no doGenCode, so
    // a flatten-of-transforms emits grams through interpreted eval —
    // measured 20× slower than this codegen'd pipeline at sf0.1.
    val grams = sentStats
      .select(id, col("__toks"),
        explode(array((2 to 10).map(lit): _*)).as("__n"))
      .filter(size(col("__toks")) >= col("__n"))
      .select(id, col("__n"), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - col("__n") + 1))
          .as("__i"))
      .select(id, col("__n"),
        concat_ws(" ", slice(col("__toks"), col("__i"), col("__n")))
          .as("__gram"))
    val perN = grams
      .groupBy(id, col("__n"), col("__gram"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(id, col("__n"))
      .agg(
        min_by((col("__c") * length(col("__gram"))).cast("long"),
          struct((-col("__c")).as("nc"), col("__gram"))).as("__topcov"),
        sum(when(col("__c") > 1, col("__c") * length(col("__gram")))
          .otherwise(0L)).cast("long").as("__dupcov"))
    val pivotCols = Seq(2, 3, 4).map(n =>
      max(when(col("__n") === n, col("__topcov"))).as(s"top${n}_chars")) ++
      (5 to 10).map(n =>
        max(when(col("__n") === n, col("__dupcov"))).as(s"dup${n}_chars"))
    val perDoc = perN.groupBy(id).agg(pivotCols.head, pivotCols.tail: _*)

    val joined = sentStats.drop("__toks")
      .join(perDoc, Seq(idCol), "left")
    val covCols = Seq("top2_chars", "top3_chars", "top4_chars") ++
      (5 to 10).map(n => s"dup${n}_chars")
    val filled = covCols.foldLeft(joined)((d, cn) =>
      d.withColumn(cn, coalesce(col(cn), lit(0L))))
    filled.withColumn("keep", TextAnalysis.repetitionKeepOver.cast("long"))
  }
}
