package graft.expressions

import java.math.RoundingMode

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** A trained centroid matrix — cell ids, centroids and their precomputed
  * |c|² — and the one kernel every centroid-distance consumer runs.
  *
  * The distance of a vector x to cell j is
  * d_j = round(|c_j|² − 2·x·c_j, dp): |x|² is cell-independent and
  * dropped. The dot product accumulates left to right in double, like
  * [[VectorDotProduct]], over the first min(|x|, |c_j|) components; the
  * rounding is Spark's `round(double, dp)` (HALF_UP on
  * `BigDecimal.valueOf`, NaN and ±∞ passed through). Cells order by
  * (d, cell id) with `SQLOrderingUtil.compareDoubles` (−0.0 = 0.0, NaN
  * greatest), and a null vector gives every cell a null d, which orders
  * the cells by id alone. That is the order of the `struct(d, cell)`
  * Catalyst form this kernel replaces, so results are bit-identical.
  *
  * Equality is by value, so two books built from the same trained
  * values make equal expressions: plan canonicalization, cache lookups
  * and exchange reuse match across rebuilds.
  */
final class CentroidBook private (
    private val ids: Array[Long], private val cents: Array[Array[Double]])
    extends Serializable {
  require(ids.nonEmpty, "a centroid book needs at least one cell")

  val sqNorms: Array[Double] = cents.map(CentroidBook.sqNorm)

  /** The widest centroid: the slice length that reads every component a
    * whole-vector dot product would.
    */
  val dim: Int = cents.map(_.length).max

  /** Every cell's rounded distance to the `[offset, offset + len)`
    * slice of `vec`, in book order; null for a null vector.
    */
  private def distances(vec: ArrayData, isFloat: Boolean, offset: Int,
      len: Int, dp: Int): Array[Double] = {
    if (vec == null) return null
    val avail = math.max(0, math.min(len, vec.numElements() - offset))
    val x = new Array[Double](avail)
    var i = 0
    while (i < avail) {
      x(i) = if (isFloat) vec.getFloat(offset + i).toDouble else vec.getDouble(offset + i)
      i += 1
    }
    val out = new Array[Double](cents.length)
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(avail, c.length)
      var acc = 0.0
      i = 0
      while (i < n) { acc += x(i) * c(i); i += 1 }
      out(j) = CentroidBook.round(sqNorms(j) - 2.0 * acc, dp)
      j += 1
    }
    out
  }

  /** (d, cell) order of cells a and b; `d == null` means a null vector. */
  private def compare(d: Array[Double], a: Int, b: Int): Int = {
    val c = if (d == null) 0 else SQLOrderingUtil.compareDoubles(d(a), d(b))
    if (c != 0) c else java.lang.Long.compare(ids(a), ids(b))
  }

  /** The nearest cell as `struct(d, cell)`; d is null for a null vector. */
  def nearest(vec: ArrayData, isFloat: Boolean, offset: Int, len: Int,
      dp: Int): InternalRow = {
    val d = distances(vec, isFloat, offset, len, dp)
    var best = 0
    var j = 1
    while (j < ids.length) {
      if (compare(d, j, best) < 0) best = j
      j += 1
    }
    new GenericInternalRow(Array[Any](if (d == null) null else d(best), ids(best)))
  }

  /** The `n` nearest cell ids, nearest first (all cells when n ≥ k). */
  def ranked(vec: ArrayData, isFloat: Boolean, offset: Int, len: Int,
      dp: Int, n: Int): ArrayData = {
    val d = distances(vec, isFloat, offset, len, dp)
    val order = Array.range(0, ids.length).sortWith(compare(d, _, _) < 0)
    UnsafeArrayData.fromPrimitiveArray(order.take(n).map(ids(_)))
  }

  /** Every cell's rounded distance, in book order; all null for a null
    * vector.
    */
  def table(vec: ArrayData, isFloat: Boolean, offset: Int, len: Int,
      dp: Int): ArrayData = {
    val d = distances(vec, isFloat, offset, len, dp)
    if (d == null) new GenericArrayData(new Array[Any](ids.length))
    else UnsafeArrayData.fromPrimitiveArray(d)
  }

  override def equals(o: Any): Boolean = o match {
    case b: CentroidBook =>
      java.util.Arrays.equals(ids, b.ids) &&
        java.util.Arrays.deepEquals(
          cents.asInstanceOf[Array[AnyRef]], b.cents.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode: Int =
    31 * java.util.Arrays.hashCode(ids) +
      java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])

  override def toString: String =
    s"CentroidBook(${ids.length}x$dim, ${Integer.toHexString(hashCode)})"
}

object CentroidBook {
  def apply(cs: Seq[(Long, Array[Double])]): CentroidBook =
    new CentroidBook(cs.map(_._1).toArray, cs.map(_._2.clone()).toArray)

  def sqNorm(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  /** Spark's `round(double, dp)`. */
  def round(v: Double, dp: Int): Double =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v).setScale(dp, RoundingMode.HALF_UP).doubleValue()
}

/** What [[CentroidDistances]] returns per row. */
sealed trait CellOutput
object CellOutput {
  /** `struct<d: double, cell: bigint>` of the nearest cell. */
  case object Nearest extends CellOutput
  /** `array<bigint>`: the `n` nearest cell ids, nearest first. */
  final case class Ranked(n: Int) extends CellOutput
  /** `array<double>`: every cell's rounded distance, in book order. */
  case object Table extends CellOutput
}

/** Native centroid distances of the `[offset, offset + len)` slice of a
  * float or double embedding against a [[CentroidBook]].
  *
  * The book reaches the generated code through `ctx.addReferenceObj`, so
  * the generated code is one call into the book's JIT-compiled kernel,
  * the same text for any trained values, and reads the embedding in
  * place. The composed form it replaces unrolled one
  * `struct(round(|c|² − 2·vec_dot(slice(x), <literal>)), cell)` per cell
  * into methods past HotSpot's 8,000-byte JIT limit.
  *
  * A null embedding is not a null result: `Nearest` is the smallest
  * cell id with a null d, `Ranked` orders by cell id, and `Table` is all
  * nulls — what the struct form gives.
  */
case class CentroidDistances(child: Expression, book: CentroidBook,
    offset: Int, len: Int, roundDp: Int, output: CellOutput)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"centroid_distances requires array<float|double>, got ${t.simpleString}")
  }

  override def dataType: DataType = output match {
    case CellOutput.Nearest =>
      StructType(Seq(StructField("d", DoubleType), StructField("cell", LongType, nullable = false)))
    case CellOutput.Ranked(_) => ArrayType(LongType, containsNull = false)
    case CellOutput.Table => ArrayType(DoubleType, containsNull = true)
  }

  override def prettyName: String = "centroid_distances"

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input).asInstanceOf[ArrayData]
    output match {
      case CellOutput.Nearest => book.nearest(v, isFloat, offset, len, roundDp)
      case CellOutput.Ranked(n) => book.ranked(v, isFloat, offset, len, roundDp, n)
      case CellOutput.Table => book.table(v, isFloat, offset, len, roundDp)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val ref = ctx.addReferenceObj("book", book, classOf[CentroidBook].getName)
    val args = s"${v.isNull} ? null : ${v.value}, $isFloat, $offset, $len, $roundDp"
    val call = output match {
      case CellOutput.Nearest => s"$ref.nearest($args)"
      case CellOutput.Ranked(n) => s"$ref.ranked($args, $n)"
      case CellOutput.Table => s"$ref.table($args)"
    }
    ev.copy(isNull = FalseLiteral, code = code"""
      |${v.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $call;
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidDistances =
    copy(child = newChild)
}
