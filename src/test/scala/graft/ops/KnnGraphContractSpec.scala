package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** knnGraphAtHeadRecall — the enforcement form of the topk_recall card:
  * a kNN-graph build that measures ranking-head recall on a fixed
  * stripe before handing arcs to downstream analytics, and fails BY
  * NAME (with the frontier's table-count fix) when the generator is
  * missing the strongest edges.
  */
class KnnGraphContractSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def sfEmb(sf: String): DataFrame =
    SimilarityOps.withNorm(graft.etl.Ingest
      .table(spark, s"/root/testdata/$sf", "embeddings")
      .select(col("vec_id"), col("embedding")))

  /** Structureless deterministic corpus (splitmix64 components): truth
    * at a low threshold sits near-orthogonal — the regime where the
    * default generator's head recall genuinely reads low.
    */
  private def randomEmb(n: Int, dim: Int): DataFrame = {
    import spark.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val rows = (0 until n).map { i =>
      (i.toLong, (0 until dim).map { d =>
        (Math.floorMod(mix(i.toLong * 4099L + d), 1000L).toDouble
          / 1000.0) - 0.5
      }.toArray)
    }
    SimilarityOps.withNorm(rows.toDF("vec_id", "embedding"))
  }

  test("contract met: returns degree-capped arcs (<= k per source)") {
    val k = 4
    val arcs = SimilarityOps.knnGraphAtHeadRecall(
      sfEmb("sf0.01"), threshold = 0.25, k = k, minHeadRecall = 0.9,
      calibQueries = 20)
    val perSrc = arcs.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max("d")).head().getLong(0)
    assert(perSrc <= k, s"a source kept $perSrc > $k arcs")
    assert(arcs.count() > 0)
  }

  test("an unreachable head-recall contract fails BY NAME after the solve") {
    // structureless corpus at a low threshold: the true top-k sits at
    // near-orthogonal cosines — a PERFECT-recall contract (0.999999,
    // the allowed maximum) is past what the 1-(1-x)^L geometry
    // predicts for ANY L <= the 32-table ceiling, so the operator
    // raises (feasible fixes are APPLIED, not named — a 0.999 contract
    // on this geometry escalates and SUCCEEDS; only the infeasible or
    // prediction-overestimated regime raises). A base table count above
    // the ceiling leaves no multiple to solve (kmax = 0): the same
    // raise by name, not the solver's own argument error (its narrow
    // 2-member buckets keep 40 tables below the contract).
    for ((tables, bucket) <- Seq(
        (SimilarityOps.LshTables, SimilarityOps.LshAutoTargetBucket),
        (SimilarityOps.LshAutoMaxTables + 8, 2))) {
      val e = intercept[IllegalArgumentException] {
        SimilarityOps.knnGraphAtHeadRecall(
          randomEmb(2000, 32), threshold = 0.0, k = 8,
          minHeadRecall = 0.999999, calibQueries = 30,
          targetBucket = bucket, tables = tables)
      }
      assert(e.getMessage.contains("BELOW"), e.getMessage)
      if (tables > SimilarityOps.LshAutoMaxTables)
        assert(e.getMessage.contains("NO table count <= 0"), e.getMessage)
      else
        assert(e.getMessage.contains("NO table count") ||
          e.getMessage.contains("ESCALATED"), e.getMessage)
    }
  }

  test("a feasible contract above the default reading ESCALATES instead of raising") {
    // measure the default 8-table head recall on the same corpus the
    // operator will see, with the operator's own truth/recall shape
    val corpus = randomEmb(2000, 32)
    val (threshold, k, calibQ) = (0.0, 8, 30)
    import org.apache.spark.sql.expressions.Window
    val qs = corpus.filter(col("vec_id") < calibQ)
    val truthAll = corpus
      .join(org.apache.spark.sql.functions.broadcast(
        qs.select(col("vec_id").as("query_id"),
          col("embedding").as("qe"), col("nrm").as("qn"))),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("other_id"),
        SimilarityOps.cosine(
          col("embedding"), col("qe"), col("nrm"), col("qn")).as("cos"))
      .filter(col("cos") >= threshold)
    val topk = truthAll
      .withColumn("rn", org.apache.spark.sql.functions.row_number()
        .over(Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("other_id"))))
      .filter(col("rn") <= k)
      .select("query_id", "other_id")
    val nTrue = topk.count()
    val pairs8 = SimilarityOps.nearDupPairsLsh(corpus, threshold)
    val both = pairs8
      .select(col("vec_a").as("query_id"), col("vec_b").as("other_id"))
      .unionAll(pairs8
        .select(col("vec_b").as("query_id"), col("vec_a").as("other_id")))
      .filter(col("query_id") < calibQ)
    val r1 = topk.join(both, Seq("query_id", "other_id"), "left_semi")
      .count().toDouble / nTrue
    assert(r1 > 0.05 && r1 < 0.97, s"geometry drifted: r1=$r1")
    // a contract just above the 8-table reading: the operator rebuilds
    // at the solved L, re-measures, and returns the arcs instead of
    // raising
    val (arcs, release) = SimilarityOps.knnGraphAtHeadRecallReleasable(
      corpus, threshold, k, minHeadRecall = r1 + 0.02,
      calibQueries = calibQ)
    val perSrc = arcs.groupBy("src")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("d"))
      .agg(org.apache.spark.sql.functions.max("d")).head().getLong(0)
    assert(perSrc <= k && arcs.count() > 0)
    release()
  }

  test("a truthless stripe raises BY NAME, not a silent pass") {
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.knnGraphAtHeadRecall(
        randomEmb(200, 32), threshold = 0.999999, k = 4,
        minHeadRecall = 0.9, calibQueries = 10)
    }
    assert(e.getMessage.contains("NO true"), e.getMessage)
  }
}
