package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class BloomOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val Bits = 1 << 12
  val Hashes = 3

  test("bloom has no false negatives: every built key might-contain") {
    val keys = (0L until 500L).toDF("k")
    val words = BloomOps.buildBits(keys, col("k"), Bits, Hashes)
    val missed = keys
      .filter(!BloomOps.mightContain(col("k"), words, Bits, Hashes))
      .count()
    assert(missed == 0)
  }

  test("bloom false-positive rate stays near the theoretical envelope") {
    val n = 500
    val keys = (0L until n.toLong).toDF("k")
    val words = BloomOps.buildBits(keys, col("k"), Bits, Hashes)
    // probe 5000 keys KNOWN absent from the build set
    val absent = (10000L until 15000L).toDF("k")
    val fp = absent
      .filter(BloomOps.mightContain(col("k"), words, Bits, Hashes))
      .count()
    // p = (1 − e^(−kn/m))^k; allow 3× slack for hash clustering on a
    // small filter — the assertion pins the ORDER of magnitude
    val p = math.pow(1 - math.exp(-Hashes.toDouble * n / Bits), Hashes)
    assert(fp <= math.max(10, 3 * p * 5000),
      s"fp=$fp theoretical=${p * 5000}")
  }

  test("bloomSemiJoin ≡ plain semi join, null keys excluded") {
    val fact = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), (7L, "d"), (9L, "e")
    ).toDF("fk", "v")
      .union(Seq((Option.empty[Long], "nul")).toDF("fk", "v"))
    val dim = Seq(1L, 3L, 9L, 11L).toDF("dk")
      .union(Seq(Option.empty[Long]).toDF("dk"))
    val got = BloomOps.bloomSemiJoin(fact, dim, "fk", "dk", Bits, Hashes)
      .select("fk", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = fact.join(dim, col("fk") === col("dk"), "left_semi")
      .select("fk", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    assert(got == Set((1L, "a"), (3L, "c"), (9L, "e")))
  }
}
