package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Gopher repetition coverages (Rae et al. 2021 §A1.1) over a
  * token-array column, all nine n-gram sizes in ONE pass per row:
  * returns `array<bigint>` of 9 elements
  *
  *   `[top2, top3, top4, dup5, dup6, dup7, dup8, dup9, dup10]`
  *
  * where for n ∈ {2,3,4} the value is the char coverage of the MOST
  * FREQUENT n-gram (count × char length of the space-joined gram; ties
  * on count broken by the lexicographically SMALLEST gram — binary
  * order, identical to Spark's `min_by(…, struct(-c, gram))` and
  * DuckDB's `ORDER BY c DESC, gram`), and for n ∈ {5..10} the char
  * coverage of ALL occurrences of grams appearing more than once
  * (Σ count × length over grams with count > 1). Fewer than n tokens →
  * 0 for that slot.
  *
  * Why native: the metrics are PER-DOC — no cross-document aggregation
  * exists anywhere in the definition — so distributing them as an
  * explode + (doc, n, gram) groupBy (the pre-r14 formulation, kept in
  * test scope as the parity witness `GopherRepetitionDistributed`) pays
  * a corpus-wide 9×-token-volume shuffle for work each row can do
  * alone. A hash-map counter makes the in-row form O(Σn · L) time and
  * O(L) transient space per doc — the earlier in-row HOF attempt was
  * quadratic (count-per-distinct-gram) and lambda HOFs evaluate
  * interpreted anyway. Gopher's own word-count ceiling (100k words,
  * [[graft.text.TextAnalysis.gopherKeep]]) bounds the per-row map; for
  * corpora with pathological unbounded documents the distributed
  * witness remains the fallback.
  *
  * Null tokens never occur from the tokenizer; defensively they are
  * skipped by the window join exactly like SQL `concat_ws` (the
  * [[Shingles]] contract). */
case class RepetitionCovs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"repetition_covs requires an array<string> argument, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "repetition_covs"

  override def nullSafeEval(input: Any): Any =
    RepetitionCovsImpl.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RepetitionCovsImpl.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): RepetitionCovs = copy(child = newChild)
}

object RepetitionCovs {
  /** Column API (Spark 4 ColumnNode ↔ Catalyst Expression bridge). */
  def apply(tokens: Column): Column =
    Bridge.column(new RepetitionCovs(Bridge.expression(tokens)))

  /** SQL builder: `repetition_covs(tokens)`. */
  private[graft] def build(exprs: Seq[Expression]): RepetitionCovs =
    exprs match {
      case Seq(arr) => RepetitionCovs(arr)
      case _ => throw new IllegalArgumentException(
        "repetition_covs requires exactly one array<string> argument")
    }
}

/** Plain object (not a companion) so the method compiles to a true Java
  * static, callable by name from whole-stage-generated code. */
object RepetitionCovsImpl {
  private val Space = UTF8String.fromString(" ")

  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](9)
    // one counter map reused across sizes; long[] cells avoid boxing on
    // the hot increment path
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var n = 2
    var slot = 0
    while (n <= 10) {
      if (m < n) out(slot) = 0L
      else {
        counts.clear()
        val window = new Array[UTF8String](n)
        var s = 0
        while (s <= m - n) {
          var j = 0
          while (j < n) { window(j) = toks(s + j); j += 1 }
          val g = UTF8String.concatWs(Space, window: _*)
          val cell = counts.get(g)
          if (cell == null) counts.put(g, Array(1L)) else cell(0) += 1L
          s += 1
        }
        if (n <= 4) {
          // top rule: max count, ties → lexicographically smallest gram
          var bestC = 0L
          var bestG: UTF8String = null
          val it = counts.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue()(0)
            if (c > bestC ||
                (c == bestC && bestG != null &&
                  e.getKey.compareTo(bestG) < 0)) {
              bestC = c; bestG = e.getKey
            }
          }
          out(slot) = if (bestG == null) 0L
                      else bestC * bestG.numChars().toLong
        } else {
          // dup rule: Σ count × chars over grams with count > 1
          var dup = 0L
          val it = counts.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue()(0)
            if (c > 1L) dup += c * e.getKey.numChars().toLong
          }
          out(slot) = dup
        }
      }
      slot += 1; n += 1
    }
    new GenericArrayData(out)
  }
}
