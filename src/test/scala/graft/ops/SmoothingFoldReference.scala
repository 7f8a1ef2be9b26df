package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed Column-`aggregate` forms of the smoothing family's
  * per-key folds (EMA, Holt, Holt-Winters). Each reads the same events
  * and returns the same rows as its native fold in [[TimeSeriesOps]];
  * they re-copy the accumulated output array every step (O(m²) boxed
  * allocations per key) and evaluate interpreted, so they are kept here
  * only as the references NativeFoldEquivalenceSpec pins the natives
  * against.
  */
object SmoothingFoldReference {

  /** The Column-`aggregate` form of [[TimeSeriesOps.emaSmooth]],
    * the reference for [[graft.expressions.EmaFold]].
    */
  def emaSmoothHof(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      seqCol: String,
      valCol: String,
      maxEventsPerKey: Long = SessionOps.DefaultMaxEventsPerKey
  ): DataFrame = {
    val sorted = sort_array(collect_list(
      struct(col(tsCol).as("t"), col(seqCol).as("q"), col(valCol).as("v"))))
    val acc0 = struct(
      lit(Array.empty[Long]).as("emas"),
      lit(0L).as("last"),
      lit(false).as("started"))
    val fold = (acc: Column, x: Column) => {
      val ema = when(!acc.getField("started"),
        round(x.getField("v") * lit(1000000.0)))
        .otherwise(round(lit(0.5) * x.getField("v") * lit(1000000.0) +
          lit(0.5) * acc.getField("last").cast("double")))
        .cast("long")
      struct(
        concat(acc.getField("emas"), array(ema)).as("emas"),
        ema.as("last"),
        lit(true).as("started"))
    }
    events
      .groupBy(col(keyCol))
      .agg(sorted.as("evs"), count(lit(1)).as("n"))
      .select(col(keyCol),
        SessionOps.hotKeyGuarded(
          zip_with(
            transform(col("evs"), e => e.getField("q")),
            aggregate(col("evs"), acc0, fold).getField("emas"),
            (a, b) => struct(a.as("q"), b.as("m"))),
          col("n"), col(keyCol), maxEventsPerKey, "emaSmooth").as("z"))
      .select(col(keyCol), explode(col("z")).as("p"))
      .select(col(keyCol), col("p.q").as(seqCol), col("p.m").as("ema_micro"))
  }

  /** The Column-`aggregate` form of [[TimeSeriesOps.holtSmooth]], the
    * reference for [[graft.expressions.HoltFold]].
    */
  def holtSmoothHof(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      seqCol: String,
      valCol: String,
      maxEventsPerKey: Long = SessionOps.DefaultMaxEventsPerKey
  ): DataFrame = {
    val sorted = sort_array(collect_list(
      struct(col(tsCol).as("t"), col(seqCol).as("q"), col(valCol).as("v"))))
    val acc0 = struct(
      array().cast("array<struct<l:bigint,b:bigint>>").as("outs"),
      lit(0L).as("lvl"),
      lit(0L).as("trd"),
      lit(false).as("started"))
    val fold = (acc: Column, x: Column) => {
      val lvl = when(!acc.getField("started"),
        round(x.getField("v") * lit(1000000.0)))
        .otherwise(round(lit(0.5) * x.getField("v") * lit(1000000.0) +
          lit(0.5) * (acc.getField("lvl") + acc.getField("trd")).cast("double")))
        .cast("long")
      val trd = when(!acc.getField("started"), lit(0L))
        .otherwise(round(
          lit(0.5) * (lvl - acc.getField("lvl")).cast("double") +
            lit(0.5) * acc.getField("trd").cast("double")))
        .cast("long")
      struct(
        concat(acc.getField("outs"),
          array(struct(lvl.as("l"), trd.as("b")))).as("outs"),
        lvl.as("lvl"),
        trd.as("trd"),
        lit(true).as("started"))
    }
    events
      .groupBy(col(keyCol))
      .agg(sorted.as("evs"), count(lit(1)).as("n"))
      .select(col(keyCol),
        SessionOps.hotKeyGuarded(
          zip_with(
            transform(col("evs"), e => e.getField("q")),
            aggregate(col("evs"), acc0, fold).getField("outs"),
            (a, b) => struct(a.as("q"),
              b.getField("l").as("l"), b.getField("b").as("b"))),
          col("n"), col(keyCol), maxEventsPerKey, "holtSmooth").as("z"))
      .select(col(keyCol), explode(col("z")).as("p"))
      .select(col(keyCol), col("p.q").as(seqCol),
        col("p.l").as("level_micro"), col("p.b").as("trend_micro"))
  }

  /** The Column-`aggregate` form of [[TimeSeriesOps.holtWintersSmooth]],
    * the reference for [[graft.expressions.HoltWintersFold]].
    */
  def holtWintersSmoothHof(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      seqCol: String,
      valCol: String,
      period: Int = 7,
      maxEventsPerKey: Long = SessionOps.DefaultMaxEventsPerKey
  ): DataFrame = {
    require(period >= 2, "holtWintersSmooth needs period >= 2")
    val sorted = sort_array(collect_list(
      struct(col(tsCol).as("t"), col(seqCol).as("q"), col(valCol).as("v"))))
    val acc0 = struct(
      array().cast("array<struct<l:bigint,b:bigint,s:bigint>>").as("outs"),
      lit(0L).as("lvl"),
      lit(0L).as("trd"),
      typedlit(Seq.fill(period)(0L)).as("seas"),
      lit(0).as("t"),
      lit(false).as("started"))
    val fold = (acc: Column, x: Column) => {
      val slot = pmod(acc.getField("t"), lit(period))
      val seas = acc.getField("seas")
      val sPrev = element_at(seas, slot + 1)
      val y6 = round(x.getField("v") * lit(1000000.0))
      val lvl = when(!acc.getField("started"), y6)
        .otherwise(round(lit(0.5) * (y6 - sPrev.cast("double")) +
          lit(0.5) *
            (acc.getField("lvl") + acc.getField("trd")).cast("double")))
        .cast("long")
      val trd = when(!acc.getField("started"), lit(0L))
        .otherwise(round(
          lit(0.5) * (lvl - acc.getField("lvl")).cast("double") +
            lit(0.5) * acc.getField("trd").cast("double")))
        .cast("long")
      val sNew = round(lit(0.5) * (y6 - lvl).cast("double") +
        lit(0.5) * sPrev.cast("double")).cast("long")
      struct(
        concat(acc.getField("outs"),
          array(struct(lvl.as("l"), trd.as("b"), sNew.as("s")))).as("outs"),
        lvl.as("lvl"),
        trd.as("trd"),
        concat(slice(seas, lit(1), slot), array(sNew),
          slice(seas, slot + 2, lit(period) - slot - 1)).as("seas"),
        (acc.getField("t") + 1).as("t"),
        lit(true).as("started"))
    }
    events
      .groupBy(col(keyCol))
      .agg(sorted.as("evs"), count(lit(1)).as("n"))
      .select(col(keyCol),
        SessionOps.hotKeyGuarded(
          zip_with(
            transform(col("evs"), e => e.getField("q")),
            aggregate(col("evs"), acc0, fold).getField("outs"),
            (a, b) => struct(a.as("q"), b.getField("l").as("l"),
              b.getField("b").as("b"), b.getField("s").as("s"))),
          col("n"), col(keyCol), maxEventsPerKey, "holtWintersSmooth")
          .as("z"))
      .select(col(keyCol), explode(col("z")).as("p"))
      .select(col(keyCol), col("p.q").as(seqCol),
        col("p.l").as("level_micro"), col("p.b").as("trend_micro"),
        col("p.s").as("seasonal_micro"))
  }
}
