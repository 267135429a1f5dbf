package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, IntegerType}

/** `|a ∩ b|` of two ascending, distinct, null-free `array<string>`.
  *
  * The exact-verify kernel of the shingle dedup family. It replaces the
  * size of Spark's built-in array intersection, which builds a hash set of
  * UTF-8 strings per evaluation and which the optimizer duplicated into
  * the pushed-down join condition (three evaluations per candidate row).
  * Here one linear merge walks both arrays with `UTF8String.binaryCompare`
  * — the order `sort_array` produces for strings — and allocates nothing
  * but the element views. Callers must hand it arrays sorted by that
  * order, with no duplicates; on other input the count is wrong.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSize.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersectSize.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Static so generated code calls it without a captured reference. */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var k = 0
    while (i < n && j < m) {
      val c = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
      if (c <= 0) i += 1
      if (c >= 0) j += 1
      if (c == 0) k += 1
    }
    k
  }

  /** `|a ∩ b|` over two sorted, distinct `array<string>` columns. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    bridge.columnOf(SortedIntersectSize(bridge.exprOf(a), bridge.exprOf(b)))
}
