package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{CellOutput, CentroidBook, CentroidDistances}

/** The native centroid kernel ([[graft.expressions.CentroidDistances]])
  * pinned against the composed `struct(d, cell)` Catalyst form it
  * replaced ([[CellCandidatesReference]]): nearest cell with its d, the
  * ranked cell list and the per-cell distance table must match bit for
  * bit, through both the interpreted path (a local relation is folded
  * by `eval`) and whole-stage codegen (the same rows behind a shuffle).
  * Inputs exercise tied distances, duplicate centroids, NaN and ±∞
  * components, null and short embeddings, float and double elements,
  * `roundDp` 0 and 6 and a one-cell book.
  */
class CentroidKernelEquivalenceSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private type Book = Seq[(Long, Array[Double])]

  /** Components on a half-integer grid in [−2, 2]: distances land on
    * exact ties and on x.5 / x.25 rounding boundaries.
    */
  private def comp(rnd: scala.util.Random): Double = (rnd.nextInt(9) - 4) / 2.0

  /** `k` cells over `dim` components with shuffled, non-contiguous ids;
    * every third centroid duplicates an earlier one under its own id.
    */
  private def randomBook(rnd: scala.util.Random, k: Int, dim: Int): Book = {
    val ids = rnd.shuffle((0 until 3 * k).toList).take(k).map(_.toLong)
    val cents = (0 until k).foldLeft(Vector.empty[Array[Double]]) { (acc, j) =>
      acc :+ (if (j % 3 == 2) acc(rnd.nextInt(j)).clone()
        else Array.fill(dim)(comp(rnd)))
    }
    ids.zip(cents)
  }

  private val specials = Array(Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, -0.0)

  /** Embeddings of length `dim`, plus a null, an empty, short ones and
    * ones carrying NaN / ±∞ / −0.0 components.
    */
  private def randomVectors(rnd: scala.util.Random, dim: Int): Seq[Option[Array[Double]]] =
    (0 until 24).map { i =>
      i % 8 match {
        case 0 => None
        case 1 => Some(Array.fill(rnd.nextInt(dim))(comp(rnd)))
        case 2 =>
          val v = Array.fill(dim)(comp(rnd))
          v(rnd.nextInt(dim)) = specials(rnd.nextInt(specials.length))
          Some(v)
        case 3 => Some(Array.empty[Double])
        case _ => Some(Array.fill(dim)(comp(rnd)))
      }
    }

  private def frame(vs: Seq[Option[Array[Double]]], float: Boolean): DataFrame =
    if (float) vs.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.map(_.toFloat))) }
      .toDF("vec_id", "embedding")
    else vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")

  private def native(cs: Book, offset: Int, len: Int, dp: Int, out: CellOutput): Column =
    ColumnBridge.column(CentroidDistances(ColumnBridge.expression(col("embedding")),
      CentroidBook(cs), offset, len, dp, out))

  /** Row strings of `cols` over `df` as a local relation (interpreted)
    * and behind a shuffle (whole-stage codegen).
    */
  private def rows(df: DataFrame, cols: Seq[Column]): (Seq[String], Seq[String]) = {
    def run(d: DataFrame) =
      d.select(col("vec_id") +: cols: _*).collect().map(_.toString).toSeq.sorted
    (run(df), run(df.repartition(2)))
  }

  /** Native ≡ reference for every output over the `[offset, offset+len)`
    * slice (`len < 0`: the whole vector, unsliced on the reference side).
    */
  private def assertSame(df: DataFrame, cs: Book, offset: Int, len: Int,
      dp: Int, clue: String): Unit = {
    val ref = if (len < 0) col("embedding")
      else CellCandidatesReference.subVec(col("embedding"), offset, len)
    val nlen = if (len < 0) CentroidBook(cs).dim else len
    val k = cs.size
    val nat = Seq(
      native(cs, offset, nlen, dp, CellOutput.Nearest),
      native(cs, offset, nlen, dp, CellOutput.Ranked(k)),
      native(cs, offset, nlen, dp, CellOutput.Ranked(2)),
      native(cs, offset, nlen, dp, CellOutput.Table))
    val refs = Seq(
      CellCandidatesReference.nearest(cs, ref, dp),
      CellCandidatesReference.ranked(cs, ref, dp, k),
      CellCandidatesReference.ranked(cs, ref, dp, 2),
      CellCandidatesReference.table(cs, ref, dp))
    val (ni, nc) = rows(df, nat)
    val (ri, rc) = rows(df, refs)
    assert(ni == ri, s"interpreted, $clue")
    assert(nc == rc, s"codegen, $clue")
  }

  test("centroid kernel: native == struct form on random books, whole and sliced") {
    for (seed <- 1 to 4; float <- Seq(false, true); dp <- Seq(0, 6)) {
      val rnd = new scala.util.Random(seed)
      val dim = 8
      val df = frame(randomVectors(rnd, dim), float)
      val clue = s"seed $seed float $float dp $dp"
      assertSame(df, randomBook(rnd, 6, dim), 0, -1, dp, s"whole, $clue")
      assertSame(df, randomBook(rnd, 5, 4), 0, 4, dp, s"slice 0, $clue")
      assertSame(df, randomBook(rnd, 5, 4), 4, 4, dp, s"slice 1, $clue")
      assertSame(df, randomBook(rnd, 1, dim), 0, -1, dp, s"one cell, $clue")
    }
  }

  test("centroid kernel: NaN, ±∞ and −0.0 centroid components") {
    for (float <- Seq(false, true); dp <- Seq(0, 6)) {
      val rnd = new scala.util.Random(11)
      val book = Seq(
        3L -> Array(Double.NaN, 0.0, 1.0, 0.0),
        1L -> Array(Double.PositiveInfinity, 0.0, 0.0, 0.0),
        7L -> Array(Double.NegativeInfinity, 1.0, 0.0, 0.0),
        2L -> Array(-0.0, 0.0, 0.0, 0.0),
        5L -> Array(0.0, 0.0, 0.0, 0.0))
      val df = frame(randomVectors(rnd, 4), float)
      assertSame(df, book, 0, -1, dp, s"float $float dp $dp")
    }
  }

  test("centroid kernel: the SimilarityOps entry points match the reference") {
    val rnd = new scala.util.Random(5)
    val cs = randomBook(rnd, 6, 8)
    val df = frame(randomVectors(rnd, 8), float = true)
    val (ni, nc) = rows(df, Seq(SimilarityOps.assignCell(cs, 6)))
    val (ri, rc) = rows(df,
      Seq(CellCandidatesReference.assignCellOn(cs, col("embedding"), 6)))
    assert(ni == ri && nc == rc)
    // a null embedding takes the smallest cell id, not null
    val nullRow = df.filter(col("embedding").isNull)
      .select(SimilarityOps.assignCell(cs, 6)).head()
    assert(!nullRow.isNullAt(0) && nullRow.getLong(0) == cs.map(_._1).min)
  }

  test("centroid book: two builds of one query give sameResult plans") {
    val rnd = new scala.util.Random(9)
    val emb = frame(randomVectors(rnd, 8).filter(_.isDefined), float = true)
    val books = Seq(randomBook(rnd, 4, 4), randomBook(rnd, 4, 4))
    def rebuilt(bs: Seq[Book]) = bs.map(_.map { case (id, c) => (id, c.clone()) })
    def codes(bs: Seq[Book]) = SimilarityOps.pqCodes(emb, bs, subDim = 4)
    val a = codes(books)
    val b = codes(rebuilt(books))
    assert(a.queryExecution.optimizedPlan.sameResult(b.queryExecution.optimizedPlan))
    assert(a.queryExecution.executedPlan.sameResult(b.queryExecution.executedPlan))
    val other = codes(Seq(books(1), books(0)))
    assert(!a.queryExecution.optimizedPlan.sameResult(other.queryExecution.optimizedPlan))
    assert(CentroidBook(books(0)) == CentroidBook(rebuilt(books).head))
    assert(CentroidBook(books(0)).hashCode == CentroidBook(rebuilt(books).head).hashCode)
  }
}
