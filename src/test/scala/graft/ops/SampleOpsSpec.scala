package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class SampleOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val rows = Seq.tabulate(2000)(i =>
    (i.toLong, if (i % 4 == 0) "en" else "de")).toDF("id", "lang")

  test("hashSample is deterministic and partitioning-independent") {
    val a = SampleOps.hashSample(rows, "id", 0.2)
      .select("id").as[Long].collect().toSet
    val b = SampleOps.hashSample(rows.repartition(13), "id", 0.2)
      .select("id").as[Long].collect().toSet
    assert(a == b)                       // same rows regardless of layout
    assert(a.size > 300 && a.size < 500) // ~400 of 2000 at 20%
  }

  test("a smaller fraction's sample nests inside a larger one") {
    val small = SampleOps.hashSample(rows, "id", 0.05)
      .select("id").as[Long].collect().toSet
    val large = SampleOps.hashSample(rows, "id", 0.2)
      .select("id").as[Long].collect().toSet
    assert(small.subsetOf(large)) // incremental-reprocessing stability
  }

  test("KMV distinct estimate lands within ~25% of truth at k=64") {
    // same construction as the a8_kmv_distinct query, exercised against
    // a known cardinality: 5000 distinct keys (k/sqrt(k) ≈ 12.5% stderr)
    val k = 64
    val w = org.apache.spark.sql.expressions.Window.orderBy("h")
    val est = Seq.tabulate(5000)(i => i.toLong).toDF("id")
      .select(md5(col("id").cast("string")).as("h"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === k)
      .select(lit(k - 1) /
        (conv(substring(col("h"), 1, 8), 16, 10).cast("double") / 4294967296.0))
      .as[Double].collect().head
    assert(est > 3750 && est < 6250, s"estimate $est")
  }

  test("native kmv_distinct aggregate equals the window-rank formulation") {
    graft.expressions.GraftExtensions.register(spark)
    val k = 16
    val data = Seq.tabulate(3000)(i => (s"g${i % 3}", (i % 700).toLong))
      .toDF("grp", "v")
    // reference: distinct hashes, rank, take the k-th
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy("h")
    val ref = data.select(col("grp"), md5(col("v").cast("string")).as("h")).distinct()
      .withColumn("rk", row_number().over(w)).filter(col("rk") === k)
      .select(col("grp"), (lit(k - 1) /
        (conv(substring(col("h"), 1, 8), 16, 10).cast("double") / 4294967296.0)).as("e"))
      .as[(String, Double)].collect().toMap
    // native aggregate, via SQL resolution (extension registration path)
    data.createOrReplaceTempView("kmv_in")
    val got = spark.sql(
      s"SELECT grp, kmv_distinct(CAST(v AS STRING), $k) AS e FROM kmv_in GROUP BY grp")
      .as[(String, Double)].collect().toMap
    assert(got == ref)
    // partitioning-independent: merge path exercised across 13 partitions
    val repart = data.repartition(13).createOrReplaceTempView("kmv_in13")
    val got13 = spark.sql(
      s"SELECT grp, kmv_distinct(CAST(v AS STRING), $k) AS e FROM kmv_in13 GROUP BY grp")
      .as[(String, Double)].collect().toMap
    assert(got13 == ref)
    // under-k groups yield null
    val tiny = Seq(("a", 1L), ("a", 2L)).toDF("grp", "v")
    tiny.createOrReplaceTempView("kmv_tiny")
    val nulls = spark.sql(s"SELECT kmv_distinct(CAST(v AS STRING), $k) FROM kmv_tiny GROUP BY grp")
      .collect()
    assert(nulls.length == 1 && nulls.head.isNullAt(0))
  }

  test("stratified fractions apply per stratum; unlisted strata drop") {
    val out = SampleOps.stratifiedHashSample(
      rows, "id", "lang", Map("en" -> 1.0)).select("lang").as[String].collect()
    assert(out.nonEmpty && out.forall(_ == "en")) // de unlisted → dropped
    val mixed = SampleOps.stratifiedHashSample(
      rows, "id", "lang", Map("en" -> 1.0, "de" -> 0.1))
    val byLang = mixed.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("en") == 500L)                  // fraction 1.0 keeps all
    assert(byLang("de") > 75L && byLang("de") < 225L) // ~150 of 1500
  }

  test("weightedHashSample: weight 1 keeps everything, weight 0 nothing, clamped") {
    import org.apache.spark.sql.functions._
    val all = SampleOps.weightedHashSample(rows, "id", lit(5.0)) // clamps to 1
    assert(all.count() == rows.count())
    assert(SampleOps.weightedHashSample(rows, "id", lit(-1.0)).count() == 0)
    // a 0.5-weight subset nests inside the full set and matches hashSample
    val half = SampleOps.weightedHashSample(rows, "id", lit(0.5))
      .select("id").as[Long].collect().toSet
    val uniform = SampleOps.hashSample(rows, "id", 0.5)
      .select("id").as[Long].collect().toSet
    assert(half == uniform)
  }

  test("cluster-balanced quota: per-cell cap by the md5 draw, exact expected order") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two obvious cells: ids 0-4 near (0,0), ids 10-11 near (10,10)
    val emb = Seq(
      0L -> Array(0.1f, 0.0f), 1L -> Array(0.0f, 0.2f),
      2L -> Array(0.2f, 0.1f), 3L -> Array(0.1f, 0.1f),
      4L -> Array(0.0f, 0.0f),
      10L -> Array(10f, 10f), 11L -> Array(9.9f, 10.1f)
    ).toDF("vec_id", "embedding")
    val cents = Seq(0L -> Array(0.0, 0.0), 1L -> Array(10.0, 10.0))
    val cells = SimilarityOps.kmeansCells(emb, cents, 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell")
      .orderBy(SampleOps.hashDraw(col("vec_id")), col("vec_id"))
    val kept = cells.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 2)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
    // replicate the draw: first 4 hex chars of md5(id string), base 16
    def draw(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16)
    }
    val expect = Map(
      0L -> Seq(0L, 1L, 2L, 3L, 4L).sortBy(i => (draw(i), i)).take(2),
      1L -> Seq(10L, 11L).sortBy(i => (draw(i), i)).take(2))
    val got = kept.groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(got == expect, s"got $got expect $expect")
    // the small cell keeps BOTH members — quotas cap, never pad
    assert(got(1L).size == 2)
  }

  test("neymanAllocate: variance drives the budget; constants get none") {
    import spark.implicits._
    // stratum "wild": values spread 0..99; "tame": constant 50
    val rows = (0L until 1000L).map(i =>
      if (i < 500) ("wild", i, (i % 100).toDouble)
      else ("tame", i, 50.0))
    val df = rows.toDF("g", "id", "value").repartition(7)
    val out = SampleOps.neymanAllocate(df, "g", "id", "value", 0.2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (wildN, wildSigma, wildThr, wildSampled) = out("wild")
    val (_, tameSigma, tameThr, tameSampled) = out("tame")
    assert(wildN == 500L)
    assert(tameSigma == 0L && tameThr == 0L && tameSampled == 0L,
      "a constant stratum has no variance to chase")
    assert(wildSigma > 28000000L && wildSigma < 30000000L) // sd ~28.9
    // all 200 budgeted rows land on the wild stratum: f = 200/500
    assert(math.abs(wildThr - (0.4 * 65536).toLong) <= 1L)
    assert(math.abs(wildSampled - 200L) < 60L,
      s"sampled $wildSampled far from the 200-row budget")
    // deterministic under repartition
    val again = SampleOps.neymanAllocate(df.repartition(3), "g", "id",
      "value", 0.2).collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(again("wild") == wildSampled)
  }

  test("weightedReservoir: duplicate (key, weight) rows each hold a rank") {
    // stratum "a" holds key 1 twice (weight 1e6 ⇒ score ≈ 0, the
    // stratum's certain top) and key 3 twice: legitimate duplicates
    // the sample must keep as separate candidates, not collapse
    val rows = Seq(("a", 1L, 1e6), ("a", 1L, 1e6), ("a", 2L, 3.0),
      ("a", 3L, 9.0), ("a", 3L, 9.0), ("a", 4L, 0.001),
      ("b", 7L, 2.0), ("b", 8L, 4.0), ("b", 9L, 0.001))
      .toDF("stratum", "key", "weight")
    val out = SampleOps.weightedReservoir(rows, "key", "stratum",
      col("weight"), 3)
      .collect().map(r => (r.getAs[String]("stratum"), r.getAs[Long]("rk"),
        r.getAs[Long]("key")))
    val a = out.filter(_._1 == "a").map(t => t._2 -> t._3).sorted.toSeq
    assert(a.map(_._1) == Seq(1L, 2L, 3L), s"stratum a: $a")
    assert(a.take(2).map(_._2) == Seq(1L, 1L), s"key 1 must hold two ranks: $a")
    assert(out.count(_._1 == "b") == 3)
  }
}
