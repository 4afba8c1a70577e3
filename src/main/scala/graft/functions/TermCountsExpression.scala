package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A document's term counts as one compiled map-side kernel: its token
  * array in, its `(term, tf)` list out — one struct per distinct token,
  * in first-occurrence order, `tf` the token's occurrence count as a
  * bigint (the type `count` gives).
  *
  * Why a kernel: tf and the document length are values of ONE document,
  * yet the group-by spelling `explode(tokens).groupBy(id, term).count()`
  * shuffles every token on (id, term), and `dl` then costs a second
  * aggregate on id and a join back. This is one hash-map walk per row with
  * no exchange; callers `inline` the list into (term, tf) rows and take dl
  * as `size(tokens)`. The kernel treats each input row as one document, so
  * it equals the group-by spelling when the id column is unique — which
  * documents, chunk cids and arriving batches all are.
  *
  * Contract: `array<string>` whose elements cannot be null, checked at
  * analysis time ([[StringArrays]]).
  */
object TermCountsKernel {
  def compute(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val slot = new java.util.HashMap[UTF8String, Integer](math.max(16, n * 2))
    val terms = new Array[UTF8String](n)
    val counts = new Array[Long](n)
    var d = 0
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      val j = slot.get(t)
      if (j == null) {
        // the element may point into the input row's buffer: copy the
        // distinct terms the output keeps
        val owned = t.clone()
        slot.put(owned, d)
        terms(d) = owned
        counts(d) = 1L
        d += 1
      } else counts(j) += 1L
      i += 1
    }
    val out = new Array[Any](d)
    var k = 0
    while (k < d) {
      out(k) = new GenericInternalRow(Array[Any](terms(k), counts(k)))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** The analysis-time contract of the kernels that walk a string array
  * element by element: a null element would throw on an executor, so an
  * array type that admits one is refused while the plan is analysed. */
private[functions] object StringArrays {
  val NonNull: ArrayType = ArrayType(StringType, containsNull = false)

  /** `simpleString` omits element nullability, which is the point here. */
  def describe(t: DataType): String = t match {
    case ArrayType(_, true) => s"${t.simpleString} with nullable elements"
    case other => other.simpleString
  }
}

case class TermCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringArrays.NonNull => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> with non-null elements, got " +
        StringArrays.describe(other))
  }

  override def dataType: DataType = TermCounts.ResultType
  override def prettyName: String = "term_counts"

  override def nullSafeEval(input: Any): Any =
    TermCountsKernel.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, tokens =>
      s"${ev.value} = graft.functions.TermCountsKernel.compute($tokens);")

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object TermCounts {
  val ResultType: ArrayType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  def apply(tokens: Column): Column =
    ColumnBridge.column(TermCounts(ColumnBridge.expression(tokens)))
}
