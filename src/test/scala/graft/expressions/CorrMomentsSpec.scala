package graft.expressions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.ops.{CorrCardReference, ProfileOps}

/** Pins the native 128-bit moment aggregate (CorrMomentsAgg, the
  * corrCard engine) bit-equal to the composable wide-decimal-sum form
  * it replaces (`corrCardComposed`) — same rows, same r_micro longs —
  * on data that exercises every accumulation path: negative values,
  * price-scale magnitudes whose squares pass 2⁶³ (the 128-bit carry),
  * sub-micro rounding ties, per-column nulls, and empty input.
  */
class CorrMomentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def pin(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Unit = {
    val got = ProfileOps.corrCard(df, cols)
      .orderBy("col_a", "col_b").collect().toSeq
    val want = CorrCardReference.corrCardComposed(df, cols)
      .orderBy("col_a", "col_b").collect().toSeq
    assert(got == want)
  }

  test("native == composed on random data incl. negatives and big magnitudes") {
    val rnd = new scala.util.Random(29)
    val rows = Seq.fill(4000)((
      rnd.nextInt(50) + 1.0,                        // quantity-like
      math.round(rnd.nextDouble() * 1e7) / 100.0,   // price-like, squares > 2^63 in micro²
      math.round(rnd.nextDouble() * 10) / 100.0,    // discount-like
      rnd.nextGaussian() * 1000 - 500))             // signed
    pin(rows.toDF("q", "p", "d", "g"), Seq("q", "p", "d", "g"))
  }

  test("native == composed with per-column nulls and an all-null column") {
    val rnd = new scala.util.Random(31)
    val rows = Seq.fill(500)((
      if (rnd.nextInt(4) == 0) None else Some(rnd.nextDouble() * 100),
      if (rnd.nextInt(3) == 0) None else Some(rnd.nextDouble() * 1e5),
      Option.empty[Double]))
    val df = rows.toDF("a", "b", "z")
    pin(df, Seq("a", "b"))
    // all-null column: its sums are null in both forms; Pearson nulls out
    pin(df, Seq("a", "z"))
  }

  test("native == composed on values with >6 decimal places (rounding ties)") {
    val rows = Seq(
      (0.1234565, 1.0000005), (0.1234575, 2.0000015),
      (1e-7, 0.49999999), (123456.7890123, 0.0000005),
      (-0.1234565, -1.0000005), (0.0, 0.0))
    pin(rows.toDF("x", "y"), Seq("x", "y"))
  }

  test("native == composed on empty input (n=0, null sums)") {
    pin(Seq.empty[(Double, Double)].toDF("x", "y"), Seq("x", "y"))
  }

  test("moment row itself is bit-identical (the decimal sums, not just r_micro)") {
    // compare the raw sums the two passes feed the Pearson tail: same
    // decimal values at the same scales
    val rnd = new scala.util.Random(37)
    val df = Seq.fill(2000)((rnd.nextInt(50) + 1.0,
      math.round(rnd.nextDouble() * 1e7) / 100.0)).toDF("x", "y")
    def v(c: String) = round(col(c).cast("double"), 6).cast("decimal(18,6)")
    val want = df.agg(
      count(lit(1)).as("n"),
      sum(v("x")).as("sx_x"), sum(v("x") * v("x")).as("sxx_x"),
      sum(v("y")).as("sx_y"), sum(v("y") * v("y")).as("sxx_y"),
      sum(v("x") * v("y")).as("sxy_x_y")).head()
    import org.apache.spark.sql.graft.ColumnBridge
    val got = df.agg(ColumnBridge.column(
      CorrMomentsAgg(Seq(ColumnBridge.expression(v("x")),
        ColumnBridge.expression(v("y"))), Seq("x", "y"))
        .toAggregateExpression()).as("mm"))
      .select(col("mm.n"), col("mm.sx_x"), col("mm.sxx_x"),
        col("mm.sx_y"), col("mm.sxx_y"), col("mm.sxy_x_y")).head()
    assert(got.getLong(0) == want.getLong(0))
    Seq(1, 3).foreach { i => // Σv at scale 6
      assert(got.getDecimal(i).compareTo(want.getDecimal(i)) == 0 &&
        got.getDecimal(i).scale == 6)
    }
    Seq(2, 4, 5).foreach { i => // Σ products at scale 12
      assert(got.getDecimal(i).compareTo(want.getDecimal(i)) == 0 &&
        got.getDecimal(i).scale == 12)
    }
  }
}
