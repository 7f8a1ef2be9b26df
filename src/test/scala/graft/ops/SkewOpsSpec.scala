package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Salted aggregations must be result-identical to their direct forms —
  * only the shuffle shape differs.
  */
class SkewOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // one hot key (90% of rows) + long tail
  lazy val skewed = (
    (1 to 900).map(i => ("hot", i % 7, i.toLong)) ++
      (1 to 100).map(i => (s"k${i % 10}", i % 5, i.toLong))
    ).toDF("key", "val_small", "amount")

  test("saltedSum equals direct groupBy sum") {
    val direct = skewed.groupBy("key").agg(sum("amount")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewOps.saltedSum(skewed, Seq("key"), "amount").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
  }

  test("saltedEquiJoin equals plain join") {
    val dim = Seq(("hot", "HOT"), ("k1", "K1"), ("k2", "K2")).toDF("key", "name")
    val direct = skewed.join(dim, Seq("key")).groupBy("key", "name")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val salted = SkewOps.saltedEquiJoin(skewed, dim, "key").groupBy("key", "name")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(salted == direct)
  }
}
