package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators beyond Spark's built-in equi/semi/anti set: as-of
  * (temporal most-recent-prior) and range (interval containment) joins.
  * The reference has nothing like these (its only join is a left equi-
  * join, model.py:229-244); they're table stakes for event-log analytics
  * at scale, so the engine carries them as first-class, oracle-checked
  * operators.
  */
object JoinOps {

  /** As-of join: for each left row, the right row with the greatest
    * `rightTs <= leftTs` for the same key (inclusive — a right row AT the
    * left timestamp matches, same as DuckDB/kdb ASOF semantics).
    *
    * NOT implemented as a join: a naive theta-join is O(n·m) per key, and
    * Spark would plan a broadcast-nested-loop. Instead the two sides are
    * union-tagged and swept with ONE window pass — `last(value,
    * ignoreNulls)` over (key, ts, side) carries the most recent right
    * values forward into left rows. One shuffle on the key, linear work,
    * scales to any fact size; right-side ties on (key, ts) must be
    * pre-aggregated by the caller (enforce uniqueness upstream or the
    * carried value is the last in (ts, side) order, which is ambiguous).
    *
    * Requirements: `key` and `leftTs` name columns on BOTH sides' output
    * positions — `right` supplies them as (key, rightTs); `leftTs` and
    * `rightTs` must be the same (orderable) type; left columns must not
    * collide with `values`, `asof_ts`, or the internal `__side`/`__rv`
    * markers (enforced). Right match timestamp surfaces as `asof_ts`
    * (null when no prior row exists). Null keys follow join semantics:
    * null never equals null, so null-key left rows get no match and
    * null-key right rows are dropped.
    */
  def asofJoinPrior(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      values: Seq[String]
  ): DataFrame =
    asofJoin(left, right, key, leftTs, rightTs, values, prior = true)

  /** Backward as-of join with a TOLERANCE (the pandas `merge_asof
    * tolerance` semantics): the most recent prior match counts only
    * within `toleranceUs` of the left timestamp — a stale quote, rate,
    * or sensor reading past the freshness window is NO match, not a
    * silently ancient one. Same one-shuffle sweep as [[asofJoinPrior]];
    * the expiry is a scan-side predicate over the already-joined pair,
    * nulling `asof_ts` and every value column together.
    */
  def asofJoinPriorTolerance(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      values: Seq[String],
      toleranceUs: Long
  ): DataFrame = {
    val joined = asofJoinPrior(left, right, key, leftTs, rightTs, values)
      .withColumn("__expired",
        col("asof_ts").isNull ||
          (col(leftTs) - col("asof_ts")) > toleranceUs)
    ("asof_ts" +: values)
      .foldLeft(joined) { (df, v) =>
        df.withColumn(v,
          when(col("__expired"), lit(null)).otherwise(col(v)))
      }
      .drop("__expired")
  }

  /** Forward as-of join: for each left row, the right row with the
    * SMALLEST `rightTs >= leftTs` for the same key (inclusive) — the
    * "next event after" direction (DuckDB `ASOF ... ON l.ts <= r.ts`).
    * Same union+window sweep as [[asofJoinPrior]], with the frame
    * reversed.
    */
  def asofJoinNext(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      values: Seq[String]
  ): DataFrame =
    asofJoin(left, right, key, leftTs, rightTs, values, prior = false)

  private def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      values: Seq[String],
      prior: Boolean
  ): DataFrame = {
    val reserved = values.toSet ++ Set("asof_ts", "__side", "__rv")
    val clashes = left.columns.filter(reserved)
    require(clashes.isEmpty,
      s"left columns collide with as-of output/marker names: ${clashes.mkString(", ")}")
    val lPayload = left.columns.toSeq.filterNot(Set(key, leftTs))
    // the matched right row travels as ONE struct, so a null VALUE inside
    // the matched row stays null instead of being patched by a per-column
    // ignoreNulls window reaching to another right row
    import org.apache.spark.sql.types.{StructField, StructType}
    val rvType = StructType(
      StructField("asof_ts", right.schema(rightTs).dataType) +:
        values.map(v => StructField(v, right.schema(v).dataType)))
    // at equal ts the right row must fall INSIDE the left row's frame:
    // prior → right sorts before left, frame reaches back; next → right
    // sorts after left, frame reaches forward
    val (lTag, rTag) = if (prior) (1, 0) else (0, 1)
    val lSide = left.select(
      Seq(col(key), col(leftTs)) ++ lPayload.map(col) :+
        lit(null).cast(rvType).as("__rv") :+ lit(lTag).as("__side"): _*)
    val rSide = right
      // null ≠ null: null-key rows can never match, and a null TIMESTAMP
      // has no position on the sweep axis — without this filter it sorts
      // nulls-first and its __rv would be "carried forward" into every
      // no-real-match left row, fabricating matches the SQL comparison
      // semantics (and the DuckDB ASOF oracle) say don't exist
      .filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(
        Seq(col(key), col(rightTs).as(leftTs)) ++
          lPayload.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
          struct((col(rightTs).as("asof_ts") +: values.map(col)): _*).as("__rv") :+
          lit(rTag).as("__side"): _*)
    val wBase = Window.partitionBy(key).orderBy(col(leftTs), col("__side"))
    val filled =
      if (prior)
        last(col("__rv"), ignoreNulls = true)
          .over(wBase.rowsBetween(Window.unboundedPreceding, 0))
      else
        first(col("__rv"), ignoreNulls = true)
          .over(wBase.rowsBetween(0, Window.unboundedFollowing))
    lSide.unionByName(rSide)
      // a null LEFT timestamp also has no sweep position (it sorts
      // nulls-first, where the forward frame would see the whole
      // partition): such rows are preserved but never match
      .withColumn("__rv", when(col(leftTs).isNotNull, filled))
      .filter(col("__side") === lTag)
      .select(
        (Seq(col(key), col(leftTs)) ++ lPayload.map(col) :+
          col("__rv").getField("asof_ts").as("asof_ts")) ++
          values.map(v => col("__rv").getField(v).as(v)): _*)
  }

  /** Skew-proof as-of join (prior direction): identical semantics to
    * [[asofJoinPrior]], but the sweep partitions on (key, time-bucket)
    * instead of key alone, so one pathologically hot key spreads over
    * its time range instead of serializing into a single task's sort —
    * the fix for the as-of family's tracked hot-key caveat (PLANS.md).
    *
    * Two-phase, PrefixOps-style:
    *   1. per-(key, bucket) summary of the LAST right row — a
    *      partial-agg `max(struct(ts, rv))`, no sort;
    *   2. exclusive prefix-carry over each key's bucket SPINE (one short
    *      row per nonempty bucket) brings the most recent right row
    *      forward across buckets — the only per-key-serial step, sized
    *      by bucket count, never by row count;
    *   3. the in-bucket window sweep (partitioned by key AND bucket)
    *      seeds from the carry where a bucket has no earlier in-bucket
    *      right row.
    *
    * The fact stream shuffles ONCE on (key, bucket); the spine/summary
    * relations are bucket-cardinality-sized. Timestamps must be numeric,
    * non-negative (epoch micros are; `div` truncation = floor there);
    * `bucketWidth` is in the same unit. Result is bucket-placement-
    * independent — width only trades carry-table size against per-task
    * sort size.
    */
  def asofJoinPriorBucketed(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      values: Seq[String],
      bucketWidth: Long
  ): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val reserved = values.toSet ++
      Set("asof_ts", "__side", "__rv", "__bkt", "__carry", "__m", "__last_rv")
    val clashes = left.columns.filter(reserved)
    require(clashes.isEmpty,
      s"left columns collide with as-of output/marker names: ${clashes.mkString(", ")}")
    val lPayload = left.columns.toSeq.filterNot(Set(key, leftTs))
    import org.apache.spark.sql.types.{StructField, StructType}
    val rvType = StructType(
      StructField("asof_ts", right.schema(rightTs).dataType) +:
        values.map(v => StructField(v, right.schema(v).dataType)))
    // tie tags as in asofJoin: right (0) sorts before left (1) at equal
    // ts, so the backward frame sees it
    val lSide = left.select(
      Seq(col(key), col(leftTs)) ++ lPayload.map(col) :+
        lit(null).cast(rvType).as("__rv") :+ lit(1).as("__side"): _*)
    val rSide = right
      .filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(
        Seq(col(key), col(rightTs).as(leftTs)) ++
          lPayload.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
          struct((col(rightTs).as("asof_ts") +: values.map(col)): _*).as("__rv") :+
          lit(0).as("__side"): _*)
    val unioned = lSide.unionByName(rSide)
      .withColumn("__bkt", expr(s"$leftTs div ${bucketWidth}L"))
    // per-bucket boundary summary: the LAST right row, carried forward
    val summaries = unioned
      .filter(col("__side") === 0)
      .groupBy(col(key), col("__bkt"))
      .agg(max(struct(col(leftTs), col("__rv"))).as("__m"))
      .select(col(key), col("__bkt"), col("__m.__rv").as("__last_rv"))
    val wSpine = Window.partitionBy(key).orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = unioned
      .filter(col(leftTs).isNotNull)
      .select(col(key), col("__bkt")).distinct()
      .join(summaries, Seq(key, "__bkt"), "left")
      .withColumn("__carry", last(col("__last_rv"), ignoreNulls = true).over(wSpine))
      .select(col(key), col("__bkt"), col("__carry"))
    val filled = last(col("__rv"), ignoreNulls = true).over(
      Window.partitionBy(col(key), col("__bkt"))
        .orderBy(col(leftTs), col("__side"))
        .rowsBetween(Window.unboundedPreceding, 0))
    unioned
      .join(carries, Seq(key, "__bkt"), "left")
      .withColumn("__rv", when(col(leftTs).isNotNull, coalesce(filled, col("__carry"))))
      .filter(col("__side") === 1)
      .select(
        (Seq(col(key), col(leftTs)) ++ lPayload.map(col) :+
          col("__rv").getField("asof_ts").as("asof_ts")) ++
          values.map(v => col("__rv").getField(v).as(v)): _*)
  }

  /** Range join: rows of `facts` whose `tsCol` falls in [iv_start,
    * iv_end). `intervals` must be small (broadcast — the plan is a
    * BroadcastNestedLoopJoin, which is exactly right for a dimension of
    * outage windows / calendar buckets). For big-big range joins, bin
    * both sides to a common grid first and equi-join on the bin — not
    * needed for any current workload.
    */
  def rangeJoin(facts: DataFrame, intervals: DataFrame, tsCol: String): DataFrame =
    facts.join(
      broadcast(intervals),
      facts(tsCol) >= intervals("iv_start") && facts(tsCol) < intervals("iv_end"),
      "inner")

  /** Big-big range join: when `intervals` is too large to broadcast, a
    * BroadcastNestedLoopJoin is off the table and a raw theta-join is
    * O(n·m). Standard scale path: bin time into a fixed grid, explode
    * each interval into the bins it covers, equi-join facts on their bin
    * (a plain shuffled hash join), and post-filter exact containment.
    * Work is O(facts + intervals·span/binWidth + true matches); pick
    * `binWidth` near the typical interval length so each interval
    * explodes into a handful of bins.
    *
    * Same output contract as [[rangeJoin]]: facts × matching interval
    * rows, `[iv_start, iv_end)` semantics.
    */
  def rangeJoinBinned(
      facts: DataFrame,
      intervals: DataFrame,
      tsCol: String,
      binWidth: Long
  ): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    // same contract-guard style as the as-of join: fact columns named
    // like the interval bounds would make the containment filter
    // ambiguous, and a pre-existing __bin would be silently clobbered
    val clashes = facts.columns.filter(Set("iv_start", "iv_end", "__bin"))
    require(clashes.isEmpty,
      s"facts columns collide with range-join interval/marker names: ${clashes.mkString(", ")}")
    val binned = intervals
      // degenerate intervals first: sequence() below would count DOWN
      // and throw on iv_end <= iv_start
      .filter(col("iv_end") > col("iv_start"))
      .withColumn("__bin",
        explode(sequence(
          floor(col("iv_start") / binWidth),
          // iv_end is exclusive: an interval ending exactly on a bin edge
          // does not reach into that bin
          floor((col("iv_end") - 1) / binWidth))))
    facts
      .withColumn("__bin", floor(col(tsCol) / binWidth))
      .join(binned, Seq("__bin"))
      .filter(col(tsCol) >= col("iv_start") && col(tsCol) < col("iv_end"))
      .drop("__bin")
  }
}
