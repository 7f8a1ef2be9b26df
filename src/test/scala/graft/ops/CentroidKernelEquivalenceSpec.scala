package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{CellOutput, CentroidBook, CentroidDistances, RowScore}

/** The native trained-matrix kernel ([[graft.expressions.CentroidDistances]])
  * pinned against the composed Catalyst forms it replaced: the
  * `struct(d, cell)` centroid form ([[CellCandidatesReference]]) —
  * nearest cell with its d, the ranked cell list and the per-cell
  * distance table — and the unrolled `vec_dot(x, <literal row>)` forms
  * ([[UnrolledMatrixReference]]) — raw and rounded dots, sign bits,
  * lowest-margin planes and the full squared distance with its |x|²
  * term. Every output must match bit for bit, through both the
  * interpreted path (a local relation is folded by `eval`) and
  * whole-stage codegen (the same rows behind a shuffle). Inputs
  * exercise tied distances, duplicate rows, NaN, ±∞ and ±0.0
  * components, ±1 LSH planes, null and short embeddings, float and
  * double elements, `roundDp` 0 and 6 and a one-cell book.
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
      CentroidBook(cs), offset, len, RowScore.Dist, Some(dp), out))

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
    assertRows(df, nat, refs, clue)
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

  /** The kernel over `rows`, ids 0, 1, … in row order. */
  private def kernel(rows: Seq[Array[Double]], score: RowScore, dp: Option[Int],
      out: CellOutput): Column = {
    val book = CentroidBook.rows(rows)
    ColumnBridge.column(CentroidDistances(ColumnBridge.expression(col("embedding")),
      book, 0, book.dim, score, dp, out))
  }

  private def assertRows(df: DataFrame, nat: Seq[Column], ref: Seq[Column],
      clue: String): Unit = {
    val (ni, nc) = rows(df, nat)
    val (ri, rc) = rows(df, ref)
    assert(ni == ri, s"interpreted, $clue")
    assert(nc == rc, s"codegen, $clue")
  }

  /** The same frame through `f` as a local relation and behind a shuffle. */
  private def assertFrames(df: DataFrame, nat: DataFrame => DataFrame,
      ref: DataFrame => DataFrame, clue: String): Unit = {
    def run(d: DataFrame) = d.collect().map(_.toString).toSeq.sorted
    for ((d, path) <- Seq(df -> "interpreted", df.repartition(2) -> "codegen"))
      assert(run(nat(d)) == run(ref(d)), s"$path, $clue")
  }

  /** ±1 hyperplanes, as the LSH family draws them. */
  private def planes(rnd: scala.util.Random, k: Int, dim: Int): Seq[Array[Double]] =
    Seq.fill(k)(Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))

  /** Half-grid rows carrying ±0.0 and, in one row, a NaN or ±∞ component. */
  private def signedZeroRows(rnd: scala.util.Random, k: Int, dim: Int): Seq[Array[Double]] =
    (0 until k).map { j =>
      val r = Array.fill(dim) {
        val c = comp(rnd)
        if (c == 0.0 && rnd.nextBoolean()) -0.0 else c
      }
      if (j == k - 1) r(rnd.nextInt(dim)) = specials(rnd.nextInt(3))
      r
    }

  /** Vectors whose components are mostly ±0.0: dots land on signed zeros. */
  private def zeroVectors(rnd: scala.util.Random, dim: Int): Seq[Option[Array[Double]]] =
    Seq.fill(8)(Some(Array.fill(dim)(rnd.nextInt(4) match {
      case 0 => -0.0
      case 1 => 0.0
      case _ => comp(rnd)
    })))

  test("matrix kernel: dots, sign bits, low-margin planes and rounded dots == the unrolled vec_dot forms") {
    for (seed <- 1 to 4; float <- Seq(false, true); dp <- Seq(0, 6)) {
      val rnd = new scala.util.Random(100 + seed)
      val dim = 8
      val df = frame(randomVectors(rnd, dim) ++ zeroVectors(rnd, dim), float)
      val books = Seq("±1 planes" -> planes(rnd, 6, dim),
        "±0.0 rows" -> signedZeroRows(rnd, 5, dim),
        "short rows" -> signedZeroRows(rnd, 4, 4),
        "duplicate rows" -> { val p = planes(rnd, 3, dim); p ++ p.map(_.clone()) },
        "one row" -> planes(rnd, 1, dim))
      for ((what, rs) <- books) {
        val k = rs.size
        assertRows(df,
          Seq(kernel(rs, RowScore.Dot, None, CellOutput.Table),
            kernel(rs, RowScore.Dot, None, CellOutput.Signs),
            kernel(rs, RowScore.AbsDot, None, CellOutput.Ranked(k)),
            kernel(rs, RowScore.AbsDot, None, CellOutput.Ranked(2)),
            kernel(rs, RowScore.AbsDot, None, CellOutput.Ranked(0)),
            kernel(rs, RowScore.Dot, Some(dp), CellOutput.Table)),
          Seq(UnrolledMatrixReference.planeDots(rs, col("embedding")),
            UnrolledMatrixReference.signature(rs, col("embedding")),
            UnrolledMatrixReference.lowMarginPlanes(rs, col("embedding"), k),
            UnrolledMatrixReference.lowMarginPlanes(rs, col("embedding"), 2),
            UnrolledMatrixReference.lowMarginPlanes(rs, col("embedding"), 0),
            UnrolledMatrixReference.roundedDots(rs, col("embedding"), dp)),
          s"$what, seed $seed float $float dp $dp")
      }
    }
  }

  test("matrix kernel: the full squared distance keeps the whole-vector |x|² term") {
    for (seed <- 1 to 4; float <- Seq(false, true); dp <- Seq(0, 6)) {
      val rnd = new scala.util.Random(200 + seed)
      val dim = 8
      val df = frame(randomVectors(rnd, dim) ++ zeroVectors(rnd, dim), float)
      val books = Seq("whole" -> randomBook(rnd, 6, dim),
        // rows narrower than the vectors: |x|² still spans all of x
        "narrow" -> randomBook(rnd, 5, 4),
        "±0.0 rows" -> signedZeroRows(rnd, 4, dim).zipWithIndex.map { case (r, i) => (7L - i, r) },
        "one cell" -> randomBook(rnd, 1, dim))
      for ((what, cs) <- books) {
        val book = CentroidBook(cs)
        def full(out: CellOutput) = ColumnBridge.column(CentroidDistances(
          ColumnBridge.expression(col("embedding")), book, 0, book.dim,
          RowScore.FullDist, Some(dp), out))
        assertRows(df,
          Seq(full(CellOutput.Nearest).getField("d"), full(CellOutput.Nearest).getField("cell"),
            full(CellOutput.Table)),
          Seq(UnrolledMatrixReference.nearestFull(cs, col("embedding"), dp).getField("d"),
            UnrolledMatrixReference.nearestFull(cs, col("embedding"), dp).getField("cid"),
            UnrolledMatrixReference.fullTable(cs, col("embedding"), dp)),
          s"$what, seed $seed float $float dp $dp")
      }
    }
  }

  test("matrix kernel: the LSH, projection, k-center, OOD, conformal and MMR entry points match the unrolled forms") {
    val rnd = new scala.util.Random(17)
    val dim = SimilarityOps.LshDim
    val vs = randomVectors(rnd, dim) ++ zeroVectors(rnd, dim)
    for (float <- Seq(false, true)) {
      val df = frame(vs, float)
      val emb = col("embedding")
      assertRows(df,
        SimilarityOps.lshSignature(emb) +:
          (0 until SimilarityOps.LshTables).map(SimilarityOps.lshTableSignature(emb, _)),
        UnrolledMatrixReference.signature(SimilarityOps.hyperplanes, emb) +:
          SimilarityOps.tableHyperplanes.map(UnrolledMatrixReference.signature(_, emb)),
        s"LSH signatures, float $float")
      val tables = 3
      assertFrames(df,
        d => SimilarityOps.lshAutoSignatureStage(d, tables)
          .select(col("vec_id") +: (0 until tables).map(t => col(s"__ds$t")): _*),
        d => d.select(col("vec_id") +: (0 until tables).map(t =>
          UnrolledMatrixReference.planeDots(SimilarityOps.autoTableHyperplanes(t), emb)): _*),
        s"auto-L plane dots, float $float")

      val w = SimilarityOps.rpWeights(6, dim)
      assertFrames(df, SimilarityOps.randomProjectLong(_, w),
        UnrolledMatrixReference.randomProjectLong(_, w), s"randomProjectLong, float $float")
      assertFrames(df, SimilarityOps.randomProject(_, w),
        UnrolledMatrixReference.randomProject(_, w), s"randomProject, float $float")

      val cs = randomBook(rnd, 5, dim) :+ (99L -> Array.fill(dim / 2)(-0.0))
      for (dp <- Seq(0, 6)) {
        assertFrames(df, SimilarityOps.kcenterAssign(_, cs, dp),
          UnrolledMatrixReference.kcenterAssign(_, cs, dp), s"kcenterAssign, float $float dp $dp")
        assertFrames(df, SimilarityOps.oodDistance(_, cs, dp),
          UnrolledMatrixReference.oodDistance(_, cs, dp), s"oodDistance, float $float dp $dp")
        // labels with and without a prototype, and a null label
        val labeled = df.withColumn("label",
          when(col("vec_id") % 7 === 6, lit(null)).otherwise((col("vec_id") % 4).cast("int")))
        val protos = cs.take(3).map { case (_, c) => c }.zipWithIndex
          .map { case (c, i) => (i.toLong, c) } :+ (1L -> cs(3)._2)
        assertFrames(labeled, ClassifierOps.conformalScores(_, protos, dp),
          UnrolledMatrixReference.conformalScores(_, protos, dp),
          s"conformalScores, float $float dp $dp")
      }

      // a NaN cosine fails the micro-unit cast in both forms alike, so
      // the MMR fold reads null and finite non-zero vectors only
      def finite(v: Option[Array[Double]]) =
        v.forall(e => e.exists(_ != 0.0) && e.forall(c => !c.isNaN && !c.isInfinite))
      val normed = SimilarityOps.withNorm(frame(vs.filter(finite), float))
      val sel = Seq(vs(4), vs(5), vs(12), vs(4)).map(_.get)
        .map(e => (e, math.sqrt(CellCandidatesReference.sqNorm(e))))
      for (n <- Seq(1, sel.size))
        assertRows(normed, Seq(RetrievalOps.maxSimMicro(sel.take(n))),
          Seq(UnrolledMatrixReference.maxSimMicro(sel.take(n))), s"maxSimMicro $n, float $float")
    }
  }
}
