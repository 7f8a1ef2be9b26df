package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing: the zero-shuffle co-located join. When both sides of a
  * big-big equi-join are written bucketed (and sorted) on the join key
  * with the same bucket count, Spark's scan exposes the hash
  * partitioning and the SortMergeJoin needs NO Exchange on either side —
  * the 100 TB answer when neither side can broadcast and the join
  * recurs (fact-to-fact reconciliation, daily changelog merges).
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bucketed+sorted tables join with zero Exchange and zero extra Sort") {
    val dir = "/root/testdata/sf0.001"
    val orders = graft.etl.Ingest.table(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = graft.etl.Ingest.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")

    // test data is tiny, so force the big-big (non-broadcast) planning
    // this spec exists to exercise
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // Spark ≥3.0 ignores bucket-file sort order unless told the buckets
    // are one file each (the write below guarantees it via repartition)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // repartition on the bucket key first: bucketBy and repartition share
    // the Murmur3 hash, so each task then owns exactly one bucket and
    // writes ONE file per bucket — the condition under which the scan's
    // sortBy metadata lets the planner drop the SMJ Sorts entirely (a
    // multi-file bucket only guarantees per-file order, forcing a Sort)
    orders.repartition(8, col("o_orderkey"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable("b_orders")
    lineitem.repartition(8, col("l_orderkey"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable("b_lineitem")

    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_custkey")
      .agg(sum("l_quantity").as("q"))

    val p = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the join itself: no shuffle on either side, no planner-added sort
    // (the on-disk sortBy order satisfies the SMJ requirement); the only
    // Exchange in the whole plan is the final groupBy's
    assert(p.contains("SortMergeJoin"), p)
    assert("\\(\\d+\\) Exchange".r.findAllMatchIn(p).length == 1, p)
    assert("\\(\\d+\\) Sort\\b".r.findAllMatchIn(p).length == 0, p)

    // and it computes the same thing as the unbucketed join
    val expected = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_custkey").agg(sum("l_quantity").as("q"))
      .orderBy("o_custkey").collect()
    assert(joined.orderBy("o_custkey").collect().toSeq == expected.toSeq)

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    }
  }

  test("range-partitioned sorted write yields disjoint per-file time ranges (skippable layout)") {
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-range").toString
    graft.etl.Ingest.table(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .repartitionByRange(4, col("ts_us"))
      .sortWithinPartitions("ts_us")
      .write.mode("overwrite").parquet(out)
    // every parquet footer now carries a tight, non-overlapping ts_us
    // min/max — the property that lets a time-filtered scan skip whole
    // files/row-groups at 100 TB (a hash layout interleaves everything
    // and nothing can be skipped)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 1)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("ts_us"), max("ts_us")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlap: $hi > $lo2")
      case _ =>
    }
  }

  test("z-ordered layout bounds EVERY z-column's per-file range; lead-sort does not") {
    val dir = "/root/testdata/sf0.001"
    val raw = graft.etl.Ingest.table(spark, dir, "events")
      .select(col("user_id").as("ra"), col("value").as("rb"))
    val rg = raw.agg(min("ra"), max("ra"), min("rb"), max("rb")).collect()(0)
    // min/max-scale BOTH dimensions onto the full [0, 1024) bit domain —
    // z-order locality needs comparable effective bit widths (a column
    // that only populates low bits contributes nothing to the high
    // interleaved bits and loses its bound); this is the caller-side
    // scaling Layout.zorderKey's contract asks for
    def scaled(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      least(floor((c - lit(lo)) / lit(hi - lo + 1e-9) * 1024), lit(1023L)).cast("long")
    val ev = raw.select(
      scaled(col("ra"), rg.getLong(0).toDouble, rg.getLong(1).toDouble).as("a"),
      scaled(col("rb"), rg.getDouble(2), rg.getDouble(3)).as("b"))

    val g = ev.agg(min("a"), max("a"), min("b"), max("b")).collect()(0)
    val (gaSpan, gbSpan) =
      ((g.getLong(1) - g.getLong(0)).toDouble, (g.getLong(3) - g.getLong(2)).toDouble)

    // mean per-file min/max envelope width as a fraction of the column's
    // observed global span — the expected file-skip rate for a point or
    // narrow-range filter is roughly 1 − this number
    def perFileCoverage(out: String): (Double, Double) = {
      val files = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      assert(files.length > 4, s"need several files, got ${files.length}")
      val spans = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("a"), max("a"), min("b"), max("b")).collect()(0)
        ((r.getLong(1) - r.getLong(0)) / gaSpan,
          (r.getLong(3) - r.getLong(2)) / gbSpan)
      }
      (spans.map(_._1).sum / spans.length, spans.map(_._2).sum / spans.length)
    }

    val zout = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    // range-partition on the z-key and sort within files: every file
    // covers one contiguous z-range
    ev.withColumn("zkey", graft.etl.Layout.zorderKey(col("a"), col("b"), 10))
      .repartitionByRange(16, col("zkey")).sortWithinPartitions("zkey")
      .drop("zkey").write.mode("overwrite").parquet(zout)
    val (za, zb) = perFileCoverage(zout)

    val lout = java.nio.file.Files.createTempDirectory("graft-lead").toString
    ev.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(lout)
    val (la, lb) = perFileCoverage(lout)

    // lead-sort: near-perfect on a, no bound at all on the other column
    assert(la < 0.2, s"lead-sort a coverage $la")
    // z-order: BOTH dimensions bounded — and the non-lead column is
    // bounded much tighter than the lead-sort layout leaves it
    assert(za < 0.6, s"zorder a coverage $za")
    assert(zb < 0.6, s"zorder b coverage $zb")
    assert(zb < lb * 0.75, s"zorder b=$zb should beat lead-sort b=$lb")
  }

  test("date-partitioned layout prunes partitions at the scan, not post-filter") {
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    val ev = graft.etl.Ingest.table(spark, dir, "events")
      .withColumn("month", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("month").parquet(out)

    val months = ev.select("month").distinct().as[String].collect().sorted
    assert(months.length > 1, s"need >1 partition to prove pruning, got ${months.toSeq}")
    val one = spark.read.parquet(out).filter(col("month") === months.head)
    val p = one.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the month predicate is a PartitionFilter on the scan (directory
    // pruning — the other months' files are never opened), and it does
    // NOT degrade into a data Filter above the scan
    assert(p.contains("PartitionFilters: [isnotnull(month#") ||
      p.contains("PartitionFilters: [(month#"), p)
    assert(!"\\(\\d+\\) Filter".r.findFirstIn(p).isDefined, p)
    // and the pruned read returns exactly that month's rows
    val expected = ev.filter(col("month") === months.head).count()
    assert(one.count() == expected)
  }
}
