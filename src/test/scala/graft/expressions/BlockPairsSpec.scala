package graft.expressions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.ops.{DedupOps, SimilarityOps}

/** The contract every [[PairScorer]] shares through [[BlockPairs]]: the
  * pair-count guard, and value-equal scorers, which make rebuilt plans
  * match. Each scorer's pair surface is pinned against its HOF form in
  * ArrayUnorderedPairsSpec, CellCosinePairsSpec and
  * NativeFoldEquivalenceSpec.
  */
class BlockPairsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def raisesWith(msg: String)(f: => Unit): Boolean =
    try { f; false } catch {
      case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .exists(c => String.valueOf(c.getMessage).contains(msg))
    }

  test("a block past the pair-count limit raises by name under each scorer") {
    val over = BlockPairs.MaxMembers + 1
    assert(over == 46341)
    // built from the row, so the block is not constant-folded at planning
    val ids = sequence(col("id") + 1, col("id") + over)
    val blocks: Seq[(PairScorer, Column)] = Seq(
      PairScorer.AllPairs -> ids,
      PairScorer.Cosine(0.5, raiseOnZeroNorm = false) -> transform(ids, i =>
        struct(i.as("vec_id"), array(lit(1.0)).as("embedding"), lit(1.0).as("nrm"))),
      PairScorer.Cosine(0.5, raiseOnZeroNorm = true) -> transform(ids, i =>
        struct(i.as("vec_id"), lit(0).as("pk"), array(lit(1.0f)).as("embedding"),
          lit(1.0).as("nrm"))),
      PairScorer.PrefixBound(0.5, 1e-9) -> transform(ids, i =>
        struct(i.as("doc_id"), lit(1).as("rk"), lit(2L).as("n"))))
    for ((scorer, ms) <- blocks) {
      val df = spark.range(1).select(size(BlockPairs.of(ms, scorer)))
      assert(raisesWith(s"block_pairs: $over members overflow the pair count") {
        df.collect()
      }, scorer)
    }
  }

  test("a side or pk rule field that is not int fails the type check") {
    val ids = sequence(lit(1L), lit(3L))
    def ms(side: Column, pk: Column) = transform(ids, i => struct(side.as("side"),
      i.as("vec_id"), pk.as("pk"), array(lit(1.0)).as("embedding"), lit(1.0).as("nrm")))
    val scorers = Seq(PairScorer.AllPairs, PairScorer.Cosine(0.5, raiseOnZeroNorm = false))
    for (scorer <- scorers; (side, pk) <- Seq((lit(0L), lit(0)), (lit(0), lit(1L)))) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.range(1).select(BlockPairs.of(ms(side, pk), scorer)).collect())
      assert(e.getMessage.contains("block_pairs") &&
        e.getMessage.contains("any side or pk field int"), e.getMessage)
    }
    for (scorer <- scorers)
      assert(spark.range(1).select(size(BlockPairs.of(ms(lit(0), lit(1)), scorer)))
        .head().getInt(0) == 0, s"$scorer: same side, both probes: no pair")
  }

  test("rebuilt similarityJoinExact and nearDupPairs plans are the same result") {
    def plan(df: DataFrame) = df.queryExecution.executedPlan
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 8).map(j => s"w${(i / 4 + j) % 13}").mkString(" "))
    }.toDF("doc_id", "text")
    assert(plan(DedupOps.similarityJoinExact(docs, 0.5))
      .sameResult(plan(DedupOps.similarityJoinExact(docs, 0.5))))
    val rnd = new scala.util.Random(53)
    val corpus = SimilarityOps.withNorm(
      (0L until 30L).map(i => (i, Seq.fill(8)(rnd.nextGaussian()))).toDF("vec_id", "embedding"))
      .withColumn("label", pmod(col("vec_id"), lit(3)))
    assert(plan(SimilarityOps.nearDupPairs(corpus, 0.3))
      .sameResult(plan(SimilarityOps.nearDupPairs(corpus, 0.3))))
  }
}
