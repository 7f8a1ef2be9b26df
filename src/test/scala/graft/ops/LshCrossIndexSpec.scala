package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The frozen cross-probe index as an ARTIFACT PAIR
  * (SimilarityOps.lshIndexEntriesSlim + SimilarityOps.lshIndexVectors,
  * probed by SimilarityOps.nearDupPairsLshCrossSlim — r12 verdict item
  * 1): a daily batch probes a persisted bucket-entry table and a
  * single-copy vector table, never the existing corpus's raw source.
  * This spec pins (a) every probed pair against a brute-force
  * existing × batch cosine reference, (b) the probe PLAN touching only
  * the persisted pair — no scan of the existing side's source anywhere
  * in it, (c) the parquet round trip and the frozen width, (d) the
  * per-batch-vector top-k cap bounding the output, and (e) the artifact
  * schema and emptiness checks failing by name.
  */
class LshCrossIndexSpec extends AnyFunSuite {

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

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Build the slim artifact pair from `existing` and probe `batch`. */
  private def probe(existing: DataFrame, batch: DataFrame,
      threshold: Double): DataFrame =
    SimilarityOps.nearDupPairsLshCrossSlim(
      SimilarityOps.lshIndexEntriesSlim(existing),
      SimilarityOps.lshIndexVectors(existing), batch, threshold)

  /** Every (existing, batch) pair whose exact cosine clears `threshold`,
    * with its rounded cosine — the all-pairs truth an LSH probe samples.
    */
  private def bruteForce(existing: DataFrame, batch: DataFrame,
      threshold: Double): Map[(Long, Long), Double] =
    existing.select(col("vec_id").as("e"), col("embedding").as("ea"),
        col("nrm").as("na"))
      .crossJoin(batch.select(col("vec_id").as("b"),
        col("embedding").as("eb"), col("nrm").as("nb")))
      .select(col("e"), col("b"), SimilarityOps.cosine(col("ea"),
        col("eb"), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("e"), col("b"), round(col("cos"), 6))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap

  /** Every probed pair is a true pair with the brute-force cosine. */
  private def assertWithinBruteForce(got: DataFrame, existing: DataFrame,
      batch: DataFrame, threshold: Double): Unit = {
    val truth = bruteForce(existing, batch, threshold)
    got.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(truth.get(key).contains(r.getDouble(2)),
        s"$key cos=${r.getDouble(2)} is not a brute-force pair " +
          s"(truth=${truth.get(key)})")
    }
  }

  test("probed pairs match a brute-force cosine reference; clones are found") {
    val existing = emb(randomRows(300, 32, 0L))
    val batch = emb(Seq((1003L, vec(3L, 32)), (1007L, vec(7L, 32))) ++
      randomRows(80, 32, 2000L))
    val got = probe(existing, batch, 0.3)
    assertWithinBruteForce(got, existing, batch, 0.3)
    val pairs = pairSet(got)
    assert(pairs.contains((3L, 1003L)) && pairs.contains((7L, 1007L)), pairs)
    assert(pairs.size > 2, "degenerate test corpus: only the planted clones")
  }

  test("the artifact round-trips through parquet: a re-read index probes identically") {
    // the production shape end to end: persist the index, read it back
    // in a fresh frame, probe — same pairs as probing the fresh build
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-cross-roundtrip").toString
    val existing = emb(randomRows(250, 16, 0L))
    val batch = emb(Seq((1005L, vec(5L, 16))) ++ randomRows(60, 16, 3000L))
    SimilarityOps.lshIndexEntriesSlim(existing).write.mode("overwrite")
      .parquet(s"$tmp/entries.parquet")
    SimilarityOps.lshIndexVectors(existing).write.mode("overwrite")
      .parquet(s"$tmp/vectors.parquet")
    val fresh = pairSet(probe(existing, batch, 0.3))
    val persisted = pairSet(SimilarityOps.nearDupPairsLshCrossSlim(
      spark.read.parquet(s"$tmp/entries.parquet"),
      spark.read.parquet(s"$tmp/vectors.parquet"), batch, 0.3))
    assert(fresh == persisted,
      s"only-fresh=${fresh -- persisted} only-persisted=${persisted -- fresh}")
    assert(persisted.contains((5L, 1005L)))
    scala.reflect.io.Path(tmp).deleteRecursively()
  }

  test("the artifact is self-describing: the batch signs at the index's frozen width") {
    // widths differ when the existing count differs; the SAME batch
    // probed against the SAME index must land in the same buckets no
    // matter who computes the width — bits rides the artifact
    val existing = emb(randomRows(300, 32, 0L))
    val idx = SimilarityOps.lshIndexEntriesSlim(existing)
    val bits = idx.select(max(col("bits"))).collect()(0).getInt(0)
    // 300 vectors / targetBucket 32 → ceil=10 buckets → 4-bit prefix
    assert(bits == 4, s"expected the adaptive 4-bit width, got $bits")
    // the probe reads the width off ONE entry (limit 1), so every entry
    // must carry the same one
    assert(idx.select(min(col("bits"))).collect()(0).getInt(0) == bits)
    assert(idx.select(min(length(col("sig")))).collect()(0).getInt(0) == bits,
      "every entry's signature must be exactly the frozen width")
  }

  test("topKPerBatchVector bounds the output to k rows per batch vector") {
    // one batch vector cloned against a dense existing clump: uncapped
    // emits every >=-threshold partner; capped keeps exactly k
    val base = vec(42L, 16)
    def jitter(i: Int): Array[Double] =
      base.zipWithIndex.map { case (v, d) => v + (if (d == i % 16) 1e-4 * (i + 1) else 0.0) }
    val existing = emb((0 until 20).map(i => (i.toLong, jitter(i))))
    val batch = emb(Seq((1000L, base)))
    val cross = probe(existing, batch, 0.99)
    val uncapped = cross.count()
    assert(uncapped > 3, s"the clump must emit many pairs, got $uncapped")
    val capped = SimilarityOps.topKPerBatchVector(cross, 3)
    assert(capped.count() == 3)
    // the kept partners are the 3 strongest (cosine desc, id tiebreak)
    val expect = cross.orderBy(col("cos_sim").desc, col("existing_id"))
      .limit(3).collect().map(_.getLong(0)).toSet
    assert(pairSet(capped).map(_._1) == expect)
    intercept[IllegalArgumentException] {
      SimilarityOps.topKPerBatchVector(cross, 0)
    }
  }

  test("a frame that is not an index artifact fails BY NAME") {
    val notIdx = emb(randomRows(10, 8, 0L))
    val batch = emb(randomRows(5, 8, 100L))
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.nearDupPairsLshCrossSlim(
        notIdx, SimilarityOps.lshIndexVectors(notIdx), batch, 0.5)
    }
    assert(e.getMessage.contains("lshIndexEntriesSlim"), e.getMessage)
    val eVec = intercept[IllegalArgumentException] {
      SimilarityOps.nearDupPairsLshCrossSlim(
        SimilarityOps.lshIndexEntriesSlim(notIdx),
        notIdx.select("vec_id"), batch, 0.5)
    }
    assert(eVec.getMessage.contains("lshIndexVectors"), eVec.getMessage)
  }

  test("an EMPTY index artifact fails BY NAME, not a silent 0-pair probe") {
    // a mis-pathed parquet read yields an empty frame with the right
    // schema; the probe must raise instead of signing the batch with a
    // null width and returning nothing (r13 advice)
    val existing = emb(randomRows(50, 16, 0L))
    val batch = emb(randomRows(5, 16, 100L))
    val empty = SimilarityOps.lshIndexEntriesSlim(existing).limit(0)
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.nearDupPairsLshCrossSlim(empty,
        SimilarityOps.lshIndexVectors(existing), batch, 0.5)
    }
    assert(e.getMessage.contains("EMPTY") &&
      e.getMessage.contains("lshIndexEntriesSlim"), e.getMessage)
  }

  test("the slim artifact stores each vector ONCE and probes from the persisted pair alone") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-cross-slim").toString
    val existingPath = s"$tmp/existing.parquet"
    emb(randomRows(200, 16, 0L)).write.mode("overwrite")
      .parquet(existingPath)
    val src = spark.read.parquet(existingPath)
    SimilarityOps.lshIndexEntriesSlim(src).write
      .mode("overwrite").parquet(s"$tmp/entries.parquet")
    SimilarityOps.lshIndexVectors(src).write
      .mode("overwrite").parquet(s"$tmp/vectors.parquet")
    val entries = spark.read.parquet(s"$tmp/entries.parquet")
    val vectors = spark.read.parquet(s"$tmp/vectors.parquet")
    // entries carry NO vector payload; vectors carry each vector once
    assert(entries.columns.toSet == Set("vec_id", "t", "sig", "pk", "bits"))
    assert(vectors.count() == 200,
      "the vector side table is single-copy: one row per existing vector")
    assert(entries.count() > vectors.count(),
      "entries fan out (1+probes)·tables per vector — the payload " +
        "they do not carry is the artifact-bytes win")
    val batch = emb(Seq((1009L, vec(9L, 16))) ++ randomRows(40, 16, 5000L))
    val got = SimilarityOps.nearDupPairsLshCrossSlim(
      entries, vectors, batch, 0.3)
    val plan = got.queryExecution.optimizedPlan.toString
    assert(!plan.contains(existingPath),
      s"the slim probe plan re-scans the existing corpus:\n$plan")
    assertWithinBruteForce(got, src, batch, 0.3)
    assert(pairSet(got).contains((9L, 1009L)))
    scala.reflect.io.Path(tmp).deleteRecursively()
  }
}
