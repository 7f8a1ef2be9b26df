package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed Catalyst form of the centroid distances that
  * [[graft.expressions.CentroidDistances]] computes natively: one
  * `struct(round(|c|² − 2·vec_dot(x, <literal c>), dp), cell)` per cell,
  * argmin by `array_min` and ranking by `array_sort` over the struct
  * order. Kept here only as the reference the native kernel is pinned
  * against (CentroidKernelEquivalenceSpec).
  */
object CellCandidatesReference {

  def sqNorm(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  /** Subspace `[offset, offset + len)` of a vector column. */
  def subVec(vec: Column, offset: Int, len: Int): Column =
    org.apache.spark.sql.functions.slice(vec, offset + 1, len)

  def cellCandidates(cs: Seq[(Long, Array[Double])], vecCol: Column,
      roundDp: Int): Seq[Column] =
    cs.map { case (id, c) =>
      struct(
        round(lit(sqNorm(c)) - lit(2.0) * SimilarityOps.dot(vecCol, typedlit(c.toSeq)),
          roundDp).as("d"),
        lit(id).as("cell"))
    }

  /** `struct(d, cell)` of the nearest cell. */
  def nearest(cs: Seq[(Long, Array[Double])], vecCol: Column, roundDp: Int): Column =
    array_min(array(cellCandidates(cs, vecCol, roundDp): _*))

  def assignCellOn(cs: Seq[(Long, Array[Double])], vecCol: Column,
      roundDp: Int): Column =
    nearest(cs, vecCol, roundDp).getField("cell")

  /** The `n` nearest cell ids, nearest first. */
  def ranked(cs: Seq[(Long, Array[Double])], vecCol: Column, roundDp: Int,
      n: Int): Column =
    transform(
      subVec(array_sort(array(cellCandidates(cs, vecCol, roundDp): _*)), 0, n),
      _.getField("cell"))

  /** Every cell's rounded distance, in book order. */
  def table(cs: Seq[(Long, Array[Double])], vecCol: Column, roundDp: Int): Column =
    array(cellCandidates(cs, vecCol, roundDp).map(_.getField("d")): _*)
}
