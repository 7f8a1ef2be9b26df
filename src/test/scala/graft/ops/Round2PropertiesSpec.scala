package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized equivalence properties for the round-2 operators, checked
  * against independent driver-side reference implementations over seeded
  * samples (same convention as StateMachinePropertiesSpec: deterministic
  * seeds, no scalacheck bridge in the offline cache). Spark job latency
  * caps the sample count; the samples are adversarial by construction —
  * duplicate timestamps, touching/contained intervals, empty keys.
  */
class Round2PropertiesSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private def rnd(seed: Int) = new scala.util.Random(seed)

  test("globalCumsum equals the sequential prefix sum for any data and bin count") {
    for (seed <- Seq(1, 2, 3)) {
      val r = rnd(seed)
      // unique (bin, tie) total order; values include negatives
      val rows = r.shuffle((1 to 400).map(i =>
        (r.nextInt(1000).toLong * 16 + i % 16, i.toLong, r.nextInt(2000).toLong - 1000)))
      val df = rows.toDF("b", "t", "v")
      val expected = rows.sortBy(x => (x._1, x._2))
        .scanLeft(("", 0L, 0L, 0L))((acc, x) => (s"${x._1}:${x._2}", x._1, x._2, acc._4 + x._3))
        .drop(1).map(x => (x._1, x._4)).toMap
      for (nBins <- Seq(1, 7, 32)) {
        val got = PrefixOps.globalCumsum(df, "b", Seq("t"), "v", "cum", nBins)
          .select(concat_ws(":", col("b"), col("t")).as("k"), col("cum"))
          .as[(String, Long)].collect().toMap
        assert(got == expected, s"seed=$seed nBins=$nBins")
      }
    }
  }

  test("mergeIntervals equals the sequential sweep for overlap/touch/contain mixes") {
    for (seed <- Seq(11, 12, 13)) {
      val r = rnd(seed)
      val rows = (1 to 300).map { i =>
        val s = r.nextInt(500).toLong
        (r.nextInt(5).toLong, s, s + 1 + r.nextInt(60), i.toLong)
      }
      val got = IntervalOps.mergeIntervals(
          rows.toDF("k", "s", "e", "id"), "k", "s", "e", "id")
        .select("k", "island_start", "island_end", "n_merged")
        .as[(Long, Long, Long, Long)].collect().toSet
      val expected = rows.groupBy(_._1).flatMap { case (k, ivs) =>
        val sorted = ivs.sortBy(x => (x._2, x._4))
        val islands = scala.collection.mutable.ListBuffer[(Long, Long, Long)]()
        for ((_, s, e, _) <- sorted) {
          // adjacency merges: s == current end extends the island
          if (islands.nonEmpty && s <= islands.last._2)
            islands(islands.size - 1) = (islands.last._1, math.max(islands.last._2, e), islands.last._3 + 1)
          else islands += ((s, e, 1L))
        }
        islands.map(x => (k, x._1, x._2, x._3))
      }.toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("latestSnapshot and scd2 equal their sequential formulations") {
    for (seed <- Seq(21, 22)) {
      val r = rnd(seed)
      val rows = (1 to 300).map(i =>
        (r.nextInt(20).toLong, r.nextInt(50).toLong, i.toLong, r.nextInt(100).toLong))
      val df = rows.toDF("k", "ts", "id", "v")
      val snapGot = ChangeOps.latestSnapshot(df, Seq("k"), Seq("ts", "id"), Seq("v"))
        .as[(Long, Long, Long, Long)].collect().toSet
      val snapExp = rows.groupBy(_._1).map { case (_, g) => g.maxBy(x => (x._2, x._3)) }.toSet
      assert(snapGot == snapExp, s"latestSnapshot seed=$seed")

      val scdGot = ChangeOps.scd2(df, Seq("k"), "ts", "id")
        .select(col("k"), col("id"), col("valid_from"), col("valid_to"))
        .as[(Long, Long, Long, Option[Long])].collect().toSet
      val scdExp = rows.groupBy(_._1).flatMap { case (k, g) =>
        val sorted = g.sortBy(x => (x._2, x._3))
        sorted.zipWithIndex.map { case ((_, ts, id, _), i) =>
          (k, id, ts, sorted.lift(i + 1).map(_._2))
        }
      }.toSet
      assert(scdGot == scdExp, s"scd2 seed=$seed")
    }
  }

  test("asofJoinPriorBucketed equals the sequential as-of lookup at widths 1/3/1000") {
    for (seed <- Seq(31, 32)) {
      val r = rnd(seed)
      val left = (1 to 200).map(i => (r.nextInt(8).toLong, r.nextInt(300).toLong, i.toLong))
      val right = (1 to 80).map(i => (r.nextInt(8).toLong, r.nextInt(300).toLong * 7 % 300, i.toLong))
        .groupBy(x => (x._1, x._2)).map(_._2.head).toSeq // unique (key, ts)
      val lDf = left.toDF("key", "ts_us", "lid")
      val rDf = right.toDF("key", "rts", "v")
      val byKey = right.groupBy(_._1)
      val expected = left.map { case (k, ts, lid) =>
        byKey.getOrElse(k, Nil).filter(_._2 <= ts) match {
          case Nil => (lid, None, None)
          case xs => val m = xs.maxBy(_._2); (lid, Some(m._2), Some(m._3))
        }
      }.toSet
      for (width <- Seq(1L, 3L, 1000L)) {
        val got = JoinOps
          .asofJoinPriorBucketed(lDf, rDf, "key", "ts_us", "rts", Seq("v"), width)
          .select(col("lid"), col("asof_ts"), col("v"))
          .as[(Long, Option[Long], Option[Long])].collect().toSet
        assert(got == expected, s"seed=$seed width=$width")
      }
    }
  }

  test("gapFillCounts equals the sequential densification") {
    for (seed <- Seq(41, 42)) {
      val r = rnd(seed)
      val rows = (1 to 300).map(_ => (r.nextInt(6).toLong, r.nextInt(400).toLong))
      val got = TimeSeriesOps.gapFillCounts(rows.toDF("k", "ts"), "k", "ts", 25L)
        .as[(Long, Long, Long)].collect().toSet
      val expected = rows.groupBy(_._1).flatMap { case (k, g) =>
        val byBkt = g.groupBy(_._2 / 25).view.mapValues(_.size.toLong).toMap
        (byBkt.keys.min to byBkt.keys.max).map(b =>
          (k, b * 25, byBkt.getOrElse(b, 0L)))
      }.toSet
      assert(got == expected, s"seed=$seed")
    }
  }
}
