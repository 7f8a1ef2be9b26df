package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-corpus LSH near-dup probe
  * (SimilarityOps.nearDupPairsLshCrossSlim over the artifact pair
  * lshIndexEntriesSlim + lshIndexVectors): a new batch probes the FROZEN
  * index geometry of an existing corpus — the prefix width derives from
  * the existing count alone. The oracle row
  * (`dedup_embedding_incremental`) pins the cross-engine replay; this
  * spec pins the operator's contracts.
  */
class LshCrossSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def emb(rows: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    SimilarityOps.withNorm(rows.toDF("vec_id", "embedding"))
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def vec(seed: Long, dim: Int): Array[Double] =
    (0 until dim).map(d =>
      (Math.floorMod(mix(seed * 4099L + d), 1000L).toDouble / 1000.0) - 0.5)
      .toArray

  private def randomRows(n: Int, dim: Int, idBase: Long): Seq[(Long, Array[Double])] =
    (0 until n).map(i => (idBase + i, vec(idBase + i, dim)))

  /** Build the slim artifact pair from `existing` and probe `batch`. */
  private def probe(existing: DataFrame, batch: DataFrame, threshold: Double,
      maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame =
    SimilarityOps.nearDupPairsLshCrossSlim(
      SimilarityOps.lshIndexEntriesSlim(existing),
      SimilarityOps.lshIndexVectors(existing), batch, threshold,
      maxBucket = maxBucket)

  test("an exact cross-side clone is always found; output is cross-side only") {
    val existing = emb(randomRows(200, 32, 0L))
    // batch: clones of existing vectors 3 and 7 plus unrelated noise
    val batch = emb(Seq((1003L, vec(3L, 32)), (1007L, vec(7L, 32))) ++
      randomRows(50, 32, 2000L))
    val got = probe(existing, batch, 0.99).collect()
    val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 1003L)) && pairs.contains((7L, 1007L)),
      s"exact clones share every signature bit, they MUST collide: $pairs")
    // orientation contract: existing ids left, batch ids right
    assert(got.forall(r => r.getLong(0) < 1000L && r.getLong(1) >= 1000L))
  }

  test("an empty batch probes to an empty result, not an error") {
    val existing = emb(randomRows(100, 16, 0L))
    val batch = emb(Seq.empty)
    assert(probe(existing, batch, 0.5).count() == 0)
  }

  test("the index geometry is FROZEN: growing the batch never loses a pair") {
    // the prefix width depends on the existing count alone, so a pair
    // found with a small batch is still found when the batch grows
    val existing = emb(randomRows(200, 32, 0L))
    val b1 = Seq((1003L, vec(3L, 32)))
    val small = probe(existing, emb(b1), 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val grown = probe(existing, emb(b1 ++ randomRows(300, 32, 5000L)), 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(small.subsetOf(grown), s"$small not in $grown")
  }

  test("cross candidates: the generator's side and pk rules == the HOF loop") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    // home (pk 0) and probe (pk 1) entries on both sides, in buckets
    // holding both sides or one side only (b % 4 of 0 and 1)
    val buckets = (0 until 60).map { b =>
      val sides = b % 4 match { case 0 => Seq(0); case 1 => Seq(1); case _ => Seq(0, 1) }
      b -> (0 until 2 + rnd.nextInt(8)).map { _ =>
        val side = sides(rnd.nextInt(sides.size))
        (side, side * 1000L + rnd.nextInt(25), rnd.nextInt(2))
      }.distinct.sorted
    }.toDF("b", "ms")
      .select(col("b"), col("ms").cast("array<struct<side:int,vec_id:bigint,pk:int>>").as("ms"))
    def pairs(d: DataFrame) = d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(SimilarityOps.lshCrossCandidates(buckets))
    assert(got == pairs(PairExpansionReference.lshCrossCandidatesHof(buckets)))
    assert(got.nonEmpty && got.forall { case (e, b) => e < 1000L && b >= 1000L }, got)
    assert(SimilarityOps.lshCrossCandidates(
      buckets.filter(pmod(col("b"), lit(4)) < 2)).count() == 0,
      "a one-sided bucket has no cross pair")
  }

  test("a bigint pk in the persisted entries probes as the int pk does") {
    val existing = emb(randomRows(200, 16, 0L))
    val batch = emb(randomRows(60, 16, 1000L))
    val entries = SimilarityOps.lshIndexEntriesSlim(existing)
    // threshold -1 keeps every candidate, so the output is the candidate set
    def pairs(ent: DataFrame) = SimilarityOps.nearDupPairsLshCrossSlim(ent,
      SimilarityOps.lshIndexVectors(existing), batch, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val asInt = pairs(entries)
    assert(pairs(entries.withColumn("pk", col("pk").cast("long"))) == asInt)
    // the data has probe×probe co-occupancy for the pk rule to drop
    assert(pairs(entries.withColumn("pk", lit(0))) != asInt)
  }

  test("a degenerate bucket fails BY NAME at the scaled ceiling") {
    val one = vec(42L, 16)
    val existing = emb((0 until 30).map(i => (i.toLong, one)))
    val batch = emb((0 until 30).map(i => (1000L + i, one)))
    val e = intercept[Exception] {
      probe(existing, batch, 0.5, maxBucket = 1).collect()
    }
    assert(e.getMessage.contains("nearDupPairsLshCrossSlim"), e.getMessage)
  }
}
