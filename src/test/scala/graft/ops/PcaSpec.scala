package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** PCA trainer: the all-integer scatter/power-iteration contract
  * replayed in plain Scala, plus direction, determinism, and the
  * zero-scatter degenerate path.
  */
class PcaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def r0(x: Double) =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Plain-Scala replay of pcaComponent/pcaProject's exact arithmetic. */
  private def replay(vecs: Seq[(Long, Array[Float])], dim: Int, iters: Int)
      : (Array[Double], Array[Long], Map[Long, Long]) = {
    val n = vecs.size
    val mu = (0 until dim).map { d =>
      r6(vecs.map(v => BigDecimal(r6(v._2(d).toDouble))).sum.toDouble / n)
    }.toArray
    val cent = vecs.map { case (id, a) =>
      id -> (0 until dim).map(d => a(d).toDouble - mu(d)).toArray
    }
    val s = Array.ofDim[Long](dim, dim)
    for ((_, c) <- cent; i <- 0 until dim; j <- 0 until dim)
      s(i)(j) += r0(c(i) * c(j) * 1e6)
    var v = Array.fill(dim)(r0(1e6 / math.sqrt(dim.toDouble)))
    for (_ <- 1 to iters) {
      val w = (0 until dim).map(i =>
        (0 until dim).map(j => BigInt(s(i)(j)) * BigInt(v(j))).sum)
      val wm = w.map(_.abs).max
      v = w.map(wi =>
        if (wm == 0) 0L else r0(wi.toDouble / wm.toDouble * 1e6)).toArray
    }
    val proj = cent.map { case (id, c) =>
      id -> (0 until dim).map(d => r0(c(d) * v(d).toDouble)).sum
    }.toMap
    (mu, v, proj)
  }

  private val corr = Seq(
    1L -> Array(3f, 1f), 2L -> Array(-3f, -1f),
    3L -> Array(6f, 2f), 4L -> Array(-6f, -2f),
    5L -> Array(1.5f, 0.6f))

  test("pcaComponent/pcaProject match the plain-Scala integer replay") {
    val emb = corr.toDF("vec_id", "embedding")
    val (mu, v) = SimilarityOps.pcaComponent(emb, dim = 2, iters = 3)
    val proj = SimilarityOps.pcaProject(emb, mu, v)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (muR, vR, projR) = replay(corr, 2, 3)
    assert(mu.toSeq == muR.toSeq, s"mean ${mu.toSeq} vs ${muR.toSeq}")
    assert(v.toSeq == vR.toSeq, s"component ${v.toSeq} vs ${vR.toSeq}")
    assert(proj == projR, s"projection $proj vs $projR")
    // data lies along (3, 1): the dominant axis is pos 0 (max-norm puts
    // the largest component at exactly ±1e6), pos 1 ≈ a third of it
    assert(math.abs(v(0)) == 1000000L, v.toSeq.toString)
    assert(math.abs(v(1) * 3 - v(0)) < 20000, v.toSeq.toString)
    // projections order with the position along the principal axis
    val byAxis = corr.sortBy(_._2(0)).map(_._1)
    val byProj = proj.toSeq.sortBy(_._2).map(_._1)
    assert(byProj == byAxis || byProj == byAxis.reverse,
      s"projection must order along the axis: $byProj vs $byAxis")
  }

  test("pcaComponent is deterministic") {
    val emb = corr.toDF("vec_id", "embedding")
    val a = SimilarityOps.pcaComponent(emb, 2, 3)
    val b = SimilarityOps.pcaComponent(emb, 2, 3)
    assert(a._1.toSeq == b._1.toSeq && a._2.toSeq == b._2.toSeq)
  }

  test("zero scatter (identical corpus) degrades to the zero component, not NaN") {
    val emb = Seq(1L -> Array(2f, 5f), 2L -> Array(2f, 5f))
      .toDF("vec_id", "embedding")
    val (mu, v) = SimilarityOps.pcaComponent(emb, 2, 3)
    assert(mu.toSeq == Seq(2.0, 5.0))
    assert(v.toSeq == Seq(0L, 0L))
    val proj = SimilarityOps.pcaProject(emb, mu, v)
      .collect().map(_.getLong(1)).toSeq
    assert(proj == Seq(0L, 0L))
  }

  test("pcaVarFromScatter: ≈1 on a rank-1 corpus, 0 on zero scatter") {
    def varianceExplained(emb: org.apache.spark.sql.DataFrame,
        mu: Array[Double], v: Array[Long]) =
      SimilarityOps.pcaVarFromScatter(spark,
        SimilarityOps.pcaScatterVector(emb, mu, 2), 2, v).collect().head
    val emb = corr.toDF("vec_id", "embedding")
    val (mu, v) = SimilarityOps.pcaComponent(emb, 2, 3)
    val row = varianceExplained(emb, mu, v)
    assert(row.getLong(0) == 2L)
    assert(row.getLong(1) > 0L, "trace must be positive on a varying corpus")
    // the data is exactly rank-1 (all points on the line y = x/3): the
    // trained axis keeps essentially all the variance
    assert(row.getLong(2) > 980000L, row.toString)
    // degenerate corpus: zero scatter → 0, not a division error
    val const = Seq(1L -> Array(2f, 5f), 2L -> Array(2f, 5f))
      .toDF("vec_id", "embedding")
    val (m2, v2) = SimilarityOps.pcaComponent(const, 2, 3)
    val r2 = varianceExplained(const, m2, v2)
    assert(r2.getLong(1) == 0L && r2.getLong(2) == 0L)
  }

  test("oodDistance: full squared distance, nearest cell, cell tiebreak") {
    val emb = Seq(
      1L -> Array(0f, 1f),     // d² to (0,0)=1, to (10,10)=181 → cell 0
      2L -> Array(10f, 10f),   // exactly on centroid 1 → d²=0
      3L -> Array(5f, 5f),     // equidistant (50 both) → lower cell wins
      4L -> Array(100f, 100f)  // far outlier: (90²+90²)=16200 to cell 1
    ).toDF("vec_id", "embedding")
    val cents = Seq(0L -> Array(0.0, 0.0), 1L -> Array(10.0, 10.0))
    val out = SimilarityOps.oodDistance(emb, cents)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out(1L) == ((0L, 1.0)))
    assert(out(2L) == ((1L, 0.0)))
    assert(out(3L) == ((0L, 50.0)), s"tie must break to the lower cell: $out")
    assert(out(4L) == ((1L, 16200.0)))
    assertThrows[IllegalArgumentException] {
      SimilarityOps.oodDistance(emb, Seq.empty)
    }
  }
}
