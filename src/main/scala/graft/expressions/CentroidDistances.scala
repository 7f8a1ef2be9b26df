package graft.expressions

import java.math.RoundingMode

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A trained matrix — row ids, rows and their precomputed |r|² — and the
  * one kernel every trained-matrix consumer runs: centroids, centers,
  * prototypes, LSH hyperplanes, projection rows and MMR selections.
  *
  * Per row j the kernel takes x·r_j, accumulated left to right in double
  * like [[VectorDotProduct]] over the first min(|x|, |r_j|) components,
  * and turns it into a [[RowScore]]; the optional rounding is Spark's
  * `round(double, dp)` (HALF_UP on `BigDecimal.valueOf`, NaN and ±∞
  * passed through). Rows order by (score, id) with
  * `SQLOrderingUtil.compareDoubles` (−0.0 = 0.0, NaN greatest); a null
  * vector gives every row a null score, which orders the rows by id.
  * Those are the rules of the Catalyst forms this kernel replaced, so
  * results are bit-identical.
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

  /** The widest row: the slice length that reads every component a
    * whole-vector dot product would.
    */
  val dim: Int = cents.map(_.length).max

  /** Every row's score against the `[offset, offset + len)` slice of
    * `vec`, in book order; null for a null vector.
    */
  def scores(vec: ArrayData, isFloat: Boolean, offset: Int, len: Int,
      score: RowScore, roundDp: Option[Int]): Array[Double] = {
    if (vec == null) return null
    val avail = math.max(0, math.min(len, vec.numElements() - offset))
    val x = new Array[Double](avail)
    var i = 0
    while (i < avail) {
      x(i) = if (isFloat) vec.getFloat(offset + i).toDouble else vec.getDouble(offset + i)
      i += 1
    }
    // |x|² over the whole vector, as vec_dot(x, x) computes it
    val xx = if (score == RowScore.FullDist) VectorDotProduct.dot(vec, isFloat, vec, isFloat) else 0.0
    val out = new Array[Double](cents.length)
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(avail, c.length)
      var acc = 0.0
      i = 0
      while (i < n) { acc += x(i) * c(i); i += 1 }
      val s = score match {
        case RowScore.Dot => acc
        case RowScore.AbsDot => math.abs(acc)
        case RowScore.Dist => sqNorms(j) - 2.0 * acc
        case RowScore.FullDist => (xx + sqNorms(j)) - 2.0 * acc
      }
      out(j) = if (roundDp.isEmpty) s else CentroidBook.round(s, roundDp.get)
      j += 1
    }
    out
  }

  /** (score, id) order of rows a and b; `d == null` means a null vector. */
  private def compare(d: Array[Double], a: Int, b: Int): Int = {
    val c = if (d == null) 0 else SQLOrderingUtil.compareDoubles(d(a), d(b))
    if (c != 0) c else java.lang.Long.compare(ids(a), ids(b))
  }

  /** The lowest-scoring row as `struct(d, cell)`; null d for a null vector. */
  def nearest(d: Array[Double]): InternalRow = {
    var best = 0
    var j = 1
    while (j < ids.length) {
      if (compare(d, j, best) < 0) best = j
      j += 1
    }
    new GenericInternalRow(Array[Any](if (d == null) null else d(best), ids(best)))
  }

  /** The `n` lowest-scoring row ids, lowest first (all rows when n ≥ k). */
  def ranked(d: Array[Double], n: Int): ArrayData = {
    val order = Array.range(0, ids.length).sortWith(compare(d, _, _) < 0)
    UnsafeArrayData.fromPrimitiveArray(order.take(n).map(ids(_)))
  }

  /** Every row's score, in book order; all null for a null vector. */
  def table(d: Array[Double]): ArrayData =
    if (d == null) new GenericArrayData(new Array[Any](ids.length))
    else UnsafeArrayData.fromPrimitiveArray(d)

  /** `'1'` per row scoring above 0 in Spark's order (NaN is above), else
    * `'0'`; all `'0'` for a null vector.
    */
  def signs(d: Array[Double]): UTF8String = {
    val bits = new Array[Byte](ids.length)
    var j = 0
    while (j < bits.length) {
      bits(j) = if (d != null && SQLOrderingUtil.compareDoubles(d(j), 0.0) > 0) '1' else '0'
      j += 1
    }
    UTF8String.fromBytes(bits)
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

  /** A book whose row ids are the row positions 0, 1, …. */
  def rows(rs: Seq[Array[Double]]): CentroidBook =
    apply(rs.zipWithIndex.map { case (r, i) => (i.toLong, r) })

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

/** What [[CentroidDistances]] scores per book row r against a vector x.
  * The operation order is the one of the Catalyst form each replaces.
  */
sealed trait RowScore
object RowScore {
  /** x·r: a hyperplane margin or a projected coordinate. */
  case object Dot extends RowScore
  /** |x·r|: how close x sits to hyperplane r. */
  case object AbsDot extends RowScore
  /** |r|² − 2·x·r: the squared distance without the row-independent |x|². */
  case object Dist extends RowScore
  /** (|x|² + |r|²) − 2·x·r, |x|² over the whole vector. */
  case object FullDist extends RowScore
}

/** What [[CentroidDistances]] returns per row. */
sealed trait CellOutput
object CellOutput {
  /** `struct<d: double, cell: bigint>` of the lowest-scoring row. */
  case object Nearest extends CellOutput
  /** `array<bigint>`: the `n` lowest-scoring row ids, lowest first. */
  final case class Ranked(n: Int) extends CellOutput
  /** `array<double>`: every row's score, in book order. */
  case object Table extends CellOutput
  /** `string`: one sign bit per row, in book order. */
  case object Signs extends CellOutput
}

/** A [[CentroidBook]] applied natively to the `[offset, offset + len)`
  * slice of a float or double embedding: per-row [[RowScore]]s,
  * optionally rounded to `roundDp` places, reduced to a [[CellOutput]].
  *
  * The expression reaches the generated code through
  * `ctx.addReferenceObj`, so the generated code is one call into the
  * JIT-compiled kernel, the same text for any trained values. The
  * composed forms it replaces unrolled one `vec_dot(x, <literal row>)`
  * per row, into methods past HotSpot's 8,000-byte JIT limit and, for
  * the wide LSH signature stage, past Janino's 64 KB.
  *
  * A null embedding is not a null result: `Nearest` is the smallest row
  * id with a null d, `Ranked` orders by row id, `Table` is all nulls and
  * `Signs` is all `'0'` — what the composed forms give.
  */
case class CentroidDistances(child: Expression, book: CentroidBook,
    offset: Int, len: Int, score: RowScore, roundDp: Option[Int], output: CellOutput)
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
    case CellOutput.Signs => StringType
  }

  override def prettyName: String = "centroid_distances"

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** The output for one embedding (null for a null one). */
  def compute(vec: ArrayData): Any = {
    val d = book.scores(vec, isFloat, offset, len, score, roundDp)
    output match {
      case CellOutput.Nearest => book.nearest(d)
      case CellOutput.Ranked(n) => book.ranked(d, n)
      case CellOutput.Table => book.table(d)
      case CellOutput.Signs => book.signs(d)
    }
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val self = ctx.addReferenceObj("kernel", this, classOf[CentroidDistances].getName)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${v.code}
      |$javaType ${ev.value} = ($javaType) $self.compute(${v.isNull} ? null : ${v.value});
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidDistances =
    copy(child = newChild)
}
