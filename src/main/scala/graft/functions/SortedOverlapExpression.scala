package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Intersection COUNT of two ascending-sorted string arrays as a compiled
  * merge kernel — the candidate-verify inner loop of the set-similarity
  * joins (PPJoin / Jaccard verification).
  *
  * `size(array_intersect(a, b))` pays, PER CANDIDATE PAIR: an OpenHashSet
  * build over one side, a probe of the other, and the materialization of
  * the intersection ARRAY — which `size` then immediately throws away.
  * When both sides are sorted (one `sort_array` per DOC, amortized over
  * every pair the doc participates in) the count is a single linear merge:
  * O(|a|+|b|) comparisons, zero allocation. Same-JVM A/B on
  * d_setjoin_ppjoin: 4.89 s → 3.33 s min-of-6, row-identical output
  * (the count is the same integer; sortedness only reorders the walk).
  *
  * Contract: both arrays ascending in UTF8String binary order (what
  * `sort_array` produces for strings), elements distinct and non-null
  * (the `array_distinct` the verify paths already apply). Unsorted input
  * would under-count — callers own the sort, which is why this is not a
  * general `array_intersect` replacement. An array type that admits null
  * elements is refused at analysis time ([[StringArrays]]): the merge
  * would throw on the first null it met, on an executor.
  */
object SortedOverlapKernel {
  def overlap(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1L; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

case class SortedOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringArrays.NonNull, StringArrays.NonNull) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<string>, array<string>) with non-null " +
          s"elements, got (${StringArrays.describe(l)}, " +
          s"${StringArrays.describe(r)})")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_overlap_count"

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedOverlapKernel.overlap(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedOverlapKernel.overlap($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedOverlapCount =
    copy(left = newLeft, right = newRight)
}

object SortedOverlapCount {
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(SortedOverlapCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
