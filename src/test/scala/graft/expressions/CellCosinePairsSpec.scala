package graft.expressions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.ops.{PairExpansionReference, SimilarityOps}

/** Pins the fused cell expansion (the [[BlockPairs]] cosine scorer,
  * nearDupPairs's r17 collect arm) to the interpreted HOF chain it replaces
  * (PairExpansionReference.cellPairsHof): identical (vec_a, vec_b, cos_sim)
  * rows on random cells, and SemDeDup's pair stage to its HOF form — including sub-threshold pairs dropped, pair
  * orientation from the sorted member array, and the zero-norm
  * NaN-cosine edge the r17 session-2 regression pin documented.
  */
class CellCosinePairsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def membersOf(rows: Seq[(Long, Seq[Double])]) = {
    val corpus = rows.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(aggregate(
        transform(col("embedding"), x => x * x), lit(0d), (a, x) => a + x)))
      .withColumn("label", pmod(col("vec_id"), lit(3)))
    corpus.groupBy("label")
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("embedding"), col("nrm")))).as("ms"))
      .filter(size(col("ms")) > 1)
  }

  private def native(ms: org.apache.spark.sql.DataFrame, t: Double) =
    ms.select(explode(org.apache.spark.sql.graft.ColumnBridge.column(
      BlockPairs(org.apache.spark.sql.graft.ColumnBridge.expression(col("ms")),
        PairScorer.Cosine(t, raiseOnZeroNorm = true))))
      .as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        round(col("p.cos"), 6).as("cos_sim"))

  test("native == HOF chain on random cells at several thresholds") {
    val rnd = new scala.util.Random(47)
    val rows = (0L until 60L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian())))
    val ms = membersOf(rows)
    for (t <- Seq(-1.0, 0.0, 0.3, 0.9)) {
      val got = native(ms, t).orderBy("vec_a", "vec_b").collect().toSeq
      val want = PairExpansionReference.cellPairsHof(ms, t)
        .orderBy("vec_a", "vec_b").collect().toSeq
      assert(got == want, s"threshold $t")
      // SemDeDup's pair stage over the same cells: the later members
      assert(SimilarityOps.semanticDedupDropped(ms, t).collect().toSet ==
        PairExpansionReference.semanticDedupDroppedHof(ms, t).collect().toSet,
        s"semanticDedup threshold $t")
    }
  }

  test("zero-norm member raises ANSI DIVIDE_BY_ZERO in BOTH forms") {
    // the composed chain divides via Spark's ANSI `/`, which raises on
    // a zero divisor — the native replicates the raise rather than
    // silently emitting a NaN cosine (the r17 session-2 LSH-slim
    // lesson, applied as an expected-failure pin here)
    val rows = Seq(
      (0L, Seq(0.0, 0.0, 0.0)), (3L, Seq(1.0, 0.0, 0.0)),
      (6L, Seq(0.0, 1.0, 0.0)))
    val ms = membersOf(rows) // all label 0 -> one cell of 3
    def raises(f: => Unit): Boolean =
      try { f; false } catch {
        case e: Throwable =>
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
            .exists(_.getMessage != null) &&
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
              .exists(c => String.valueOf(c.getMessage).contains("DIVIDE_BY_ZERO"))
      }
    assert(raises(native(ms, 0.5).collect()))
    assert(raises(PairExpansionReference.cellPairsHof(ms, 0.5).collect()))
    assert(raises(SimilarityOps.semanticDedupDropped(ms, 0.5).collect()))
    assert(raises(PairExpansionReference.semanticDedupDroppedHof(ms, 0.5).collect()))
  }

  test("duplicate embeddings and exact-threshold cosines keep boundary pairs") {
    val v = Seq(0.6, 0.8)
    val rows = Seq((0L, v), (3L, v), (6L, Seq(0.8, 0.6)))
    val ms = membersOf(rows)
    val got = native(ms, 0.96).orderBy("vec_a", "vec_b").collect().toSeq
    val want = PairExpansionReference.cellPairsHof(ms, 0.96)
      .orderBy("vec_a", "vec_b").collect().toSeq
    assert(got == want)
  }
}
