package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Theil-Sen pair statistics over a sorted (t, v) point array:
  * the pair count and the LOWER-median pairwise slope, in one tight
  * primitive loop.
  *
  * Why custom (the CanonicalText/VectorDotProduct pattern): the
  * composable form — a transform over each anchor's point suffix, then
  * array_sort and element_at(·, (n+1)/2), kept in test sources as
  * PairExpansionReference.theilSenHof — runs INTERPRETED (higher-order
  * functions are CodegenFallback) and `slice` copies an O(m) struct
  * suffix per anchor element, so a key
  * with m points pays O(m²) boxed-struct allocations before a single
  * slope is computed; at sf0.1 that made `ts_theil_sen` the suite's
  * slowest row (3.1 s for ~3.3M slopes ≈ 1 µs each — allocation, not
  * arithmetic). This expression computes the same slopes into one
  * primitive double[], sorts with `java.util.Arrays.sort` (the same
  * total order as Spark's array_sort on doubles: `Double.compare` —
  * NaN last, -0.0 < 0.0), and picks the same element by position.
  *
  * Semantics pinned 1:1 to the composed form (TheilSenNativeSpec):
  *  - pairs are (i, j>i) over the SORTED input array; equal-t pairs are
  *    excluded (sorted input ⟹ t_j > t_i iff t_j ≠ t_i);
  *  - each slope evaluates in the identical IEEE order
  *    (v_j − v_i) / ((double)(t_j − t_i) / 1e6);
  *  - the median is the value at 1-based position (n+1)/2 of the
  *    ascending slope array — the lower median, a value that occurred.
  *
  * Input: array<struct<t: bigint, v: double>>, sorted ascending.
  * Returns struct<n_pairs: bigint, median: double> — median is null
  * when no pair exists (the consumer filters n_pairs > 0, exactly as
  * the composed form filtered size(slopes) > 0).
  */
@ExpressionDescription(
  usage = "_FUNC_(pts) - pair count and lower-median pairwise slope of a sorted (t, v) array.")
case class TheilSenStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fs), _)
        if fs.length == 2 && fs(0).dataType == LongType &&
          fs(1).dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"theil_sen_stats requires array<struct<bigint, double>>, got " +
        other.simpleString)
  }

  override def dataType: DataType = TheilSenStats.OutType
  override def prettyName: String = "theil_sen_stats"

  override protected def nullSafeEval(input: Any): Any =
    TheilSenStats.stats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TheilSenStats.stats($c);")

  override protected def withNewChildInternal(
      newChild: Expression): TheilSenStats = copy(child = newChild)
}

object TheilSenStats {

  val OutType: StructType = StructType(Seq(
    StructField("n_pairs", LongType, nullable = false),
    StructField("median", DoubleType, nullable = true)))

  def stats(pts: ArrayData): InternalRow = {
    val m = pts.numElements()
    val ts = new Array[Long](m)
    val vs = new Array[Double](m)
    var i = 0
    while (i < m) {
      val r = pts.getStruct(i, 2)
      ts(i) = r.getLong(0)
      vs(i) = r.getDouble(1)
      i += 1
    }
    var n = 0
    var a = 0
    while (a < m) {
      var b = a + 1
      while (b < m) {
        if (ts(b) > ts(a)) n += 1
        b += 1
      }
      a += 1
    }
    if (n == 0) return new GenericInternalRow(Array[Any](0L, null))
    val slopes = new Array[Double](n)
    var k = 0
    a = 0
    while (a < m) {
      var b = a + 1
      while (b < m) {
        if (ts(b) > ts(a)) {
          slopes(k) = (vs(b) - vs(a)) / ((ts(b) - ts(a)).toDouble / 1000000.0)
          k += 1
        }
        b += 1
      }
      a += 1
    }
    java.util.Arrays.sort(slopes)
    new GenericInternalRow(Array[Any](n.toLong, slopes((n + 1) / 2 - 1)))
  }
}
