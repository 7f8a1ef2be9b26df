package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The unrolled Catalyst forms that [[graft.expressions.CentroidDistances]]
  * replaced outside the centroid family: one `vec_dot(x, <literal row>)`
  * per trained-matrix row — LSH hyperplanes, random-projection rows,
  * k-center centers, OOD centroids, conformal prototypes and the MMR
  * selected set. Kept here only as the references the native kernel is
  * pinned against (CentroidKernelEquivalenceSpec), next to
  * [[CellCandidatesReference]].
  */
object UnrolledMatrixReference {

  private def rowDot(emb: Column, r: Array[Double]): Column =
    SimilarityOps.dot(emb, typedlit(r.toSeq))

  /** Every row's x·r, in row order. */
  def planeDots(rows: Seq[Array[Double]], emb: Column): Column =
    array(rows.map(rowDot(emb, _)): _*)

  /** One `"1"` per row with x·r > 0, `"0"` otherwise. */
  def signature(rows: Seq[Array[Double]], emb: Column): Column =
    concat(rows.map(r => when(rowDot(emb, r) > 0, "1").otherwise("0")): _*)

  /** The `n` row indices of the lowest |x·r|, lowest first, ties by index. */
  def lowMarginPlanes(rows: Seq[Array[Double]], emb: Column, n: Int): Column =
    transform(
      slice(array_sort(array(rows.zipWithIndex.map { case (r, i) =>
        struct(abs(rowDot(emb, r)).as("am"), lit(i).as("idx"))
      }: _*)), 1, n),
      _.getField("idx").cast("long"))

  /** Every row's round(x·r, dp), in row order. */
  def roundedDots(rows: Seq[Array[Double]], emb: Column, dp: Int): Column =
    array(rows.map(r => round(rowDot(emb, r), dp)): _*)

  def randomProjectLong(emb: DataFrame, weights: Seq[Seq[Int]]): DataFrame = {
    val dims = weights.zipWithIndex.map { case (w, j) =>
      struct(lit(j.toLong).as("j"),
        round(rowDot(col("embedding"), w.map(_.toDouble).toArray), 6).as("v"))
    }
    emb.select(col("vec_id"), explode(array(dims: _*)).as("p"))
      .select(col("vec_id"), col("p.j").as("j"), col("p.v").as("v"))
  }

  def randomProject(emb: DataFrame, weights: Seq[Seq[Int]]): DataFrame =
    SimilarityOps.withNorm(emb.select(col("vec_id"), roundedDots(
      weights.map(_.map(_.toDouble).toArray), col("embedding"), 6).as("embedding")))

  /** Per-row `struct(d, cid)` with d = round(|x|² + |c|² − 2·x·c, dp). */
  def d2Candidates(cs: Seq[(Long, Array[Double])], vecCol: Column,
      roundDp: Int): Seq[Column] =
    cs.map { case (id, c) =>
      struct(
        round(SimilarityOps.dot(vecCol, vecCol) + lit(CellCandidatesReference.sqNorm(c))
          - lit(2.0) * rowDot(vecCol, c), roundDp).as("d"),
        lit(id).as("cid"))
    }

  /** `struct(d, cid)` of the nearest row under the full squared distance. */
  def nearestFull(cs: Seq[(Long, Array[Double])], vecCol: Column, roundDp: Int): Column =
    array_min(array(d2Candidates(cs, vecCol, roundDp): _*))

  /** Every row's full squared distance, in row order. */
  def fullTable(cs: Seq[(Long, Array[Double])], vecCol: Column, roundDp: Int): Column =
    array(d2Candidates(cs, vecCol, roundDp).map(_.getField("d")): _*)

  def kcenterAssign(emb: DataFrame, centers: Seq[(Long, Array[Double])],
      roundDp: Int = 6): DataFrame = {
    val ordExpr = centers.zipWithIndex
      .foldLeft(lit(-1L)) { case (acc, ((id, _), i)) =>
        when(col("vec_id") === id, lit(i.toLong)).otherwise(acc)
      }
    emb
      .select(col("vec_id"), ordExpr.as("center_ord"),
        nearestFull(centers, col("embedding"), roundDp).as("best"))
      .select(col("vec_id"), col("center_ord"),
        col("best").getField("cid").as("center_id"),
        col("best").getField("d").as("d2"))
  }

  def oodDistance(emb: DataFrame, cs: Seq[(Long, Array[Double])],
      roundDp: Int = 6): DataFrame = {
    val cands = cs.map { case (id, c) =>
      struct(
        round(SimilarityOps.dot(col("embedding"), col("embedding")) +
          lit(CellCandidatesReference.sqNorm(c)) -
          lit(2.0) * rowDot(col("embedding"), c), roundDp).as("d"),
        lit(id).as("cell"))
    }
    emb.select(col("vec_id"), array_min(array(cands: _*)).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"), col("best.d").as("d2"))
  }

  /** conformalEval's per-row scores: the label's prototype score (a
    * CASE over the labels) and every prototype's score.
    */
  def conformalScores(emb: DataFrame, protos: Seq[(Long, Array[Double])],
      roundDp: Int): DataFrame = {
    def d2(c: Array[Double]): Column =
      round(SimilarityOps.dot(col("embedding"), col("embedding")) +
        lit(CellCandidatesReference.sqNorm(c)) -
        lit(2.0) * rowDot(col("embedding"), c), roundDp)
    val trueScore = protos.tail
      .foldLeft(when(col("label") === protos.head._1, d2(protos.head._2))) {
        case (acc, (id, c)) => acc.when(col("label") === id, d2(c))
      }
    emb.select(col("vec_id"), col("label").cast("long").as("label"),
      trueScore.as("s_true"), array(protos.map(p => d2(p._2)): _*).as("s_all"))
  }

  /** mmrRerank's max similarity to the selected (embedding, norm) set,
    * in micro-units.
    */
  def maxSimMicro(sel: Seq[(Array[Double], Double)]): Column =
    array_max(array(sel.map { case (e, nrm) =>
      round(round(rowDot(col("embedding"), e) / (col("nrm") * lit(nrm)), 6) * 1e6)
        .cast("long")
    }: _*))
}
