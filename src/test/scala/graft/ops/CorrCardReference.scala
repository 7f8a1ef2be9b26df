package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed form of the correlation card's moment pass, kept only
  * as the reference CorrMomentsSpec pins
  * [[graft.expressions.CorrMomentsAgg]] bit-equal against.
  */
object CorrCardReference {

  /** [[ProfileOps.corrCard]] over the composable moment pass: decimal
    * products summed by Spark's `sum`, 2k + k(k−1)/2 wide-decimal
    * accumulators where the native aggregate keeps micro-longs.
    */
  def corrCardComposed(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrCard needs at least two columns")
    def v(c: String) = round(col(c).cast("double"), 6).cast("decimal(18,6)")
    val momentAggs =
      count(lit(1)).as("n") +:
        cols.flatMap(c => Seq(
          sum(v(c)).as(s"sx_$c"),
          sum(v(c) * v(c)).as(s"sxx_$c"))) ++:
        cols.combinations(2).toSeq.map { case Seq(a, b) =>
          sum(v(a) * v(b)).as(s"sxy_${a}_$b")
        }
    val m = df.agg(momentAggs.head, momentAggs.tail: _*)
    ProfileOps.corrPairsFromMoments(m, cols)
  }
}
