package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's syllable heuristic: the
  * number of maximal `[aeiouy]+` runs in the lowercased word, minimum 1
  * (documented engine semantics, SURVEY.md §7.4; powers the readability
  * scores, reference `utils.py:258-263`).
  *
  * Exists because the `functions`-only formulation —
  * `greatest(size(regexp_extract_all(lower(w), "[aeiouy]+")), 1)` —
  * allocates a lowercased copy plus a match list per word. This expression
  * is a single byte scan, codegen'd into the enclosing whole-stage loop:
  * ASCII vowels are case-folded with `| 0x20`, and multi-byte UTF-8 units
  * (≥ 0x80) can never alias an ASCII vowel byte. The one character that
  * `lower` turns into an ASCII vowel, U+0130 (`İ`, bytes C4 B0), lowers
  * to `i` + U+0307, so the scan reads it as a vowel followed by a run
  * break: "İA" is 2 syllables, as with the regexp.
  */
case class SyllableCount(child: Expression) extends UnaryExpression {

  // analyzer-time type check (AbstractDataType/ExpectsInputTypes are
  // private[sql], so the check is spelled out)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"syllable_count requires a string argument, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "syllable_count"

  override def nullSafeEval(input: Any): Any =
    SyllableCountImpl.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SyllableCountImpl.count($c)")

  override protected def withNewChildInternal(
      newChild: Expression): SyllableCount = copy(child = newChild)
}

object SyllableCount {
  /** Column API (Spark 4 ColumnNode ↔ Catalyst Expression bridge). */
  def apply(c: Column): Column =
    Bridge.column(new SyllableCount(Bridge.expression(c)))

  private[graft] def build(exprs: Seq[Expression]): SyllableCount = {
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"syllable_count requires exactly 1 argument, got ${exprs.length}")
    SyllableCount(exprs.head)
  }

  /** Register as SQL function `syllable_count`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "syllable_count", build, "built-in")
}

/** The byte scan, as a Java static shared by [[SyllableCount]] and
  * [[CaptionStatsImpl]]. */
object SyllableCountImpl {
  def count(w: UTF8String): Int = {
    val bytes = w.getBytes
    var runs = 0
    var inRun = false
    var i = 0
    while (i < bytes.length) {
      // U+0130 (C4 B0) lowers to `i` + U+0307: a vowel, then a break
      val dotI = bytes(i) == 0xC4.toByte && i + 1 < bytes.length &&
        bytes(i + 1) == 0xB0.toByte
      val c = bytes(i) | 0x20
      val v = dotI || bytes(i) >= 0 && (c == 'a' || c == 'e' ||
        c == 'i' || c == 'o' || c == 'u' || c == 'y')
      if (v && !inRun) runs += 1
      inRun = v && !dotI
      i += (if (dotI) 2 else 1)
    }
    if (runs == 0) 1 else runs
  }
}
