package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot-product and squared-norm kernels over `array<float>` /
  * `array<double>` columns: the per-pair inner loop of every embedding
  * query.
  *
  * Both are a left fold from `0.0`, in index order, of
  * `(double) a[i] * (double) b[i]`: the evaluation order of
  * `aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as
  * double)), cast(0 as double), (acc, v) -> acc + v)`, so every double is
  * bit-identical to that fold's (VectorOpsSpec compares the raw bits in
  * codegen and interpreted mode). Null array, null element or unequal
  * lengths give null, as the fold does. `doGenCode` emits one primitive
  * loop with no lambda dispatch and no intermediate array (the higher-order
  * fold is interpreted-only); `eval` runs the same loop for interpreted
  * mode and inside higher-order lambdas (the IVF assignment).
  */
object VectorExpr {

  private def elementType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def checkArrays(children: Seq[Expression]): TypeCheckResult =
    if (children.forall(_.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "vector kernels take array<float> or array<double>, got " +
        children.map(_.dataType.simpleString).mkString(", "))

  private def at(a: ArrayData, t: DataType, i: Int): Double =
    if (t == FloatType) a.getFloat(i).toDouble else a.getDouble(i)

  /** The fold of `a[i]·b[i]` over `a`'s length; null on a null element. */
  private def fold(a: ArrayData, ta: DataType, b: ArrayData, tb: DataType): Any = {
    var acc = 0.0
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += at(a, ta, i) * at(b, tb, i)
      i += 1
    }
    acc
  }

  /** Java for [[fold]]: sets `ev.value`, or `ev.isNull` on a null element. */
  private def foldCode(ctx: CodegenContext, ev: ExprCode,
      a: String, ta: DataType, b: String, tb: DataType): String = {
    val i = ctx.freshName("i")
    val acc = ctx.freshName("acc")
    s"""double $acc = 0.0;
       |for (int $i = 0; $i < $a.numElements(); $i++) {
       |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
       |  $acc += (double) ${CodeGenerator.getValue(a, ta, i)} *
       |    (double) ${CodeGenerator.getValue(b, tb, i)};
       |}
       |${ev.value} = $acc;""".stripMargin
  }

  case class Dot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "dot"
    override def checkInputDataTypes(): TypeCheckResult = checkArrays(children)
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      if (x.numElements() != y.numElements()) null
      else fold(x, elementType(left), y, elementType(right))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""if ($a.numElements() != $b.numElements()) ${ev.isNull} = true;
           |else {
           |${foldCode(ctx, ev, a, elementType(left), b, elementType(right))}
           |}""".stripMargin)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Dot =
      copy(left = newLeft, right = newRight)
  }

  case class Norm2(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "norm2"
    override def checkInputDataTypes(): TypeCheckResult = checkArrays(children)
    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      fold(x, elementType(child), x, elementType(child))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        foldCode(ctx, ev, a, elementType(child), a, elementType(child)))
    override protected def withNewChildInternal(newChild: Expression): Norm2 =
      copy(child = newChild)
  }

  def dot(a: Column, b: Column): Column =
    bridge.toColumn(Dot(bridge.toExpression(a), bridge.toExpression(b)))

  def norm2(a: Column): Column = bridge.toColumn(Norm2(bridge.toExpression(a)))
}
