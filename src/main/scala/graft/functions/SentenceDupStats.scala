package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native duplicate-sentence statistics over a sentence-array column,
  * one hash-map pass per row: returns `array<bigint>` of 4 elements
  *
  *   `[n_sents, n_dup_sents, sum_sent_chars, dup_sent_chars]`
  *
  * where `n_dup_sents` counts ALL occurrences of sentences whose exact
  * text occurs more than once (the Dolma/NemoCurator reading of Rae et
  * al. 2021 §A1.1's duplicate-line fraction), `sum_sent_chars` is the
  * total char length over all sentences, and `dup_sent_chars` the char
  * length over the duplicate occurrences.
  *
  * Why native: the Column formulation
  * `filter(sents, s -> size(filter(sents, x -> x = s)) > 1)` is
  * O(S²) in sentences-per-doc AND evaluates through interpreted
  * lambda HOFs (no doGenCode) — four separate stats each re-ran the
  * quadratic filter. One compiled two-pass count-then-sum is O(S) and
  * sits inside whole-stage codegen. Parity is triple-pinned: the HOF
  * formulation survives in test scope as the spec-compared witness
  * (`GopherRepetitionDistributed`), next to the hand-computed fixture
  * spec and the DuckDB oracle.
  *
  * Null sentence elements never occur (the sentence splitter filters
  * empties); defensively they are skipped entirely. */
case class SentenceDupStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"sentence_dup_stats requires an array<string> argument, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sentence_dup_stats"

  override def nullSafeEval(input: Any): Any =
    SentenceDupStatsImpl.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SentenceDupStatsImpl.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): SentenceDupStats = copy(child = newChild)
}

object SentenceDupStats {
  /** Column API (Spark 4 ColumnNode ↔ Catalyst Expression bridge). */
  def apply(sents: Column): Column =
    Bridge.column(new SentenceDupStats(Bridge.expression(sents)))

  /** SQL builder: `sentence_dup_stats(sents)`. */
  private[graft] def build(exprs: Seq[Expression]): SentenceDupStats =
    exprs match {
      case Seq(arr) => SentenceDupStats(arr)
      case _ => throw new IllegalArgumentException(
        "sentence_dup_stats requires exactly one array<string> argument")
    }
}

/** Plain object (not a companion) so the method compiles to a true Java
  * static, callable by name from whole-stage-generated code. */
object SentenceDupStatsImpl {
  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var i = 0
    var n = 0L
    var sum = 0L
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        n += 1L
        sum += s.numChars().toLong
        val cell = counts.get(s)
        if (cell == null) counts.put(s, Array(1L)) else cell(0) += 1L
      }
      i += 1
    }
    var nDup = 0L
    var dupChars = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      if (c > 1L) {
        nDup += c
        dupChars += c * e.getKey.numChars().toLong
      }
    }
    new GenericArrayData(Array[Any](n, nDup, sum, dupChars))
  }
}
