package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two `array<float>` columns, accumulating
  * in double precision, sequentially left-to-right.
  *
  * Replaces the `aggregate(zip_with(...))` higher-order-function formulation:
  * HOF lambdas are interpreted per element (no whole-stage codegen), which
  * made all-pairs similarity scans ~10× slower than necessary. The generated
  * code is a tight primitive loop inside the codegen stage. Semantics are
  * bit-identical: each float widens exactly to double, products and the
  * running sum are IEEE doubles in array order — the same value DuckDB's
  * `list_sum(list_transform(...))` oracle computes.
  */
case class DotProductExpression(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  // covariant return: AbstractDataType is private[sql], DataType suffices
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProductExpression.dot(a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product_f"
}

object DotProductExpression {
  /** The dot-product kernel every Scala caller shares — the interpreted
    * path above, NN-Descent's driver rounds, MMR selection: each float
    * widens to double, products and the running sum in array order, over
    * the shorter array. The codegen template in `doGenCode` is its only
    * other spelling.
    */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Column API: `dotF($"a", $"b")` — double dot product of float arrays. */
  def dotF(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductExpression(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
