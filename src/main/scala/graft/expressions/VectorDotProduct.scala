package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native dot product over two float/double array columns, accumulated in
  * double, left-to-right.
  *
  * Why custom (the (b) path of the build guidance): the composable
  * alternatives are `aggregate(zip_with(...))` — interpreted lambdas,
  * ~3 allocations per row — or an unrolled per-element sum — 2×dim
  * `element_at` calls each with null/bounds checks, measured SLOWER than
  * the fold on 64-dim data. This expression is one tight loop over the
  * two ArrayData buffers inside whole-stage codegen: zero allocation,
  * no per-element branching beyond the loop bound.
  *
  * Accumulation order is sequential left-to-right in double — bit-
  * identical to DuckDB's `list_dot_product(a::DOUBLE[], b::DOUBLE[])`,
  * which the correctness oracle uses. Null elements are not expected
  * (embedding corpora); length mismatch yields the min-length prefix
  * product (zip semantics).
  */
@ExpressionDescription(
  usage = "_FUNC_(a, b) - dot product of two float/double arrays in double precision.")
case class VectorDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires (array<float|double>, array<float|double>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private lazy val leftIsFloat = elemType(left).contains(FloatType)
  private lazy val rightIsFloat = elemType(right).contains(FloatType)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorDotProduct.dot(a.asInstanceOf[ArrayData], leftIsFloat,
      b.asInstanceOf[ArrayData], rightIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val getA = if (leftIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (rightIsFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $d += $getA * $getB;
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDotProduct =
    copy(left = newLeft, right = newRight)
}

object VectorDotProduct {

  /** The dot product of the first min(|a|, |b|) components, accumulated
    * left to right in double: the order the generated loop above uses.
    */
  def dot(a: ArrayData, aIsFloat: Boolean, b: ArrayData, bIsFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var i = 0
    while (i < n) {
      val x = if (aIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      d += x * y
      i += 1
    }
    d
  }
}
