package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale-harness embedding isometry: within-copy similarity
  * structure preserved, cross-copy alignment destroyed AT ANY FACTOR —
  * the property that makes an N× synthetic corpus N× the data instead
  * of a quadratic cross-copy near-dup artifact. The old shift-only
  * transform repeated verbatim at copy ≡ copy′ (mod dim), capping the
  * harness at ×64 (r10 verdict item); the shift∘sign-flip composition
  * is distinct at every copy index.
  */
class ScaleUpSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def emb = graft.etl.Ingest
    .table(spark, "/root/testdata/sf0.001", "embeddings")
    .select(col("vec_id"), col("embedding"))

  /** cos(T_a x, T_b x) per vector — the WORST cross-copy case: the two
    * copies descend from the SAME original (cosine 1.0 before the
    * transforms), so whatever alignment survives is the artifact a
    * similarity operator would see between an original and its copy.
    */
  private def crossCos(a: Int, b: Int) = {
    val d = emb
      .withColumn("va", ScaleUp.shiftFlip(col("embedding"), a))
      .withColumn("vb", ScaleUp.shiftFlip(col("embedding"), b))
    val dot = graft.ops.SimilarityOps.dot _
    d.select((dot(col("va"), col("vb")) /
        (sqrt(dot(col("va"), col("va"))) * sqrt(dot(col("vb"), col("vb")))))
      .as("cos"))
  }

  test("within-copy dot products survive the isometry at any factor") {
    // pairs of REAL vectors, transformed by copy indices on both sides
    // of the old x64 ceiling: the pure-mask copies (c multiple of dim)
    // preserve dots bit-exactly (+-1 factors square away, no reorder);
    // shifted copies reorder the additions, so equality is to 1e-12
    // relative (the permuted IEEE sum), which no similarity threshold
    // can see
    val pairs = emb.as("x").join(
        emb.withColumnRenamed("vec_id", "vid2")
          .withColumnRenamed("embedding", "emb2").as("y"),
        col("vec_id") + 1 === col("vid2"))
    val dot = graft.ops.SimilarityOps.dot _
    // c = 4096 is the mask-only copy in range (shift (c+17q) mod 64 = 0):
    // ±1 factors square away with NO reorder, so dots are bit-exact there
    for (c <- Seq(1, 63, 64, 65, 129, 4096, 6400)) {
      val r = pairs.select(
        dot(col("embedding"), col("emb2")).as("d0"),
        dot(ScaleUp.shiftFlip(col("embedding"), c),
          ScaleUp.shiftFlip(col("emb2"), c)).as("dc"))
        .select(max(abs(col("d0") - col("dc")) /
          greatest(abs(col("d0")), lit(1e-9))).as("relerr"))
        .head().getDouble(0)
      if (c == 4096)
        assert(r == 0.0, s"copy $c (pure mask) must preserve dots exactly: $r")
      else
        assert(r < 1e-12, s"copy $c relative dot error $r")
    }
  }

  test("cross-copy alignment is destroyed past the old x64 ceiling") {
    // (0, 64): the IDENTITY (copy 0 is untransformed, exactly as
    // scaleTable writes it) vs a shifted+masked copy — the actual
    // original-vs-copy relation, which the shift-only transform left
    // VERBATIM-IDENTICAL (cosine 1.0) at c ≡ 0 (mod dim). (64, 128):
    // two distinct non-identity masks. (1, 65): shift+mask both in
    // play.
    for ((a, b) <- Seq((0, 64), (64, 128), (1, 65), (0, 6400))) {
      val worst = crossCos(a, b).agg(max(abs(col("cos")))).head().getDouble(0)
      assert(worst < 0.85,
        s"copies ($a,$b): a cross-copy image stayed aligned (max |cos| = $worst)")
      val mean = crossCos(a, b).agg(avg(abs(col("cos")))).head().getDouble(0)
      assert(mean < 0.2,
        s"copies ($a,$b): cross-copy |cos| should center near 0, mean = $mean")
    }
  }

  test("every copy below and above the ceiling gets a DISTINCT transform") {
    // distinctness witnessed on a single generic vector: if two copies
    // shared a transform, their images of any vector would coincide
    val one = emb.filter(col("vec_id") === 0)
    val cs = Seq(0, 1, 63, 64, 65, 127, 128, 129, 6400)
    val imgs = cs.map { c =>
      one.select(ScaleUp.shiftFlip(col("embedding"), c).as("v"))
        .head().getSeq[Double](0).toList
    }
    assert(imgs.distinct.size == cs.size,
      "two copy indices produced the same transformed vector")
  }

  test("a failed run prints FAILED for its seconds and the ratio, not a number") {
    assert(ScaleUp.tableRow("q", Some(0.5), Some(2.0)) == "| q | 0.50s | 2.00s | 4.0× |")
    assert(ScaleUp.tableRow("q", Some(0.5), None) == "| q | 0.50s | FAILED | FAILED |")
    assert(ScaleUp.tableRow("q", None, Some(2.0)) == "| q | FAILED | 2.00s | FAILED |")
    // failing at both scales used to read as a 1.0× ratio
    assert(ScaleUp.tableRow("q", None, None) == "| q | FAILED | FAILED | FAILED |")
  }

  test("a factor below 1 fails by name before any session starts") {
    assert(ScaleUp.parseFactor(Nil) == 10)
    assert(ScaleUp.parseFactor(Seq("1", "q")) == 1)
    for (bad <- Seq("0", "-3")) {
      val e = intercept[IllegalArgumentException](ScaleUp.parseFactor(Seq(bad)))
      assert(e.getMessage.contains("ScaleUp factor must be >= 1"), e.getMessage)
    }
  }
}
