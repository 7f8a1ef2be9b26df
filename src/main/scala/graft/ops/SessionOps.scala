package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization over the events table — the batch
  * formulation of the session-window pattern. One shuffle on the
  * session key; everything after is window functions over the same
  * partitioning, so no second exchange.
  */
object SessionOps {

  val DefaultGapUs: Long = 30L * 60L * 1000000L

  /** Hot-key ceiling for per-key collected-list folds ([[funnel]], the
    * r5_sorted_events family): a key carrying more events than this is
    * pathological (a bot, a sentinel id, a join-key bug) and would make
    * one task's fold arbitrarily large at scale — fail loudly with the
    * key named instead of letting the task OOM. The count rides the
    * SAME aggregation (zero extra shuffles); the F3 strict-raise
    * pattern, applied to skew.
    */
  val DefaultMaxEventsPerKey: Long = 10L * 1000L * 1000L

  /** Hot-key ceiling for QUADRATIC in-row expansions (all-pairs folds:
    * theilSen slopes, blocked edit-distance/Jaro pairs, SemDeDup cell
    * members): m collected rows build m(m−1)/2 array elements inside
    * ONE task, so the linear-fold 10⁷ default would mean ~5·10¹³
    * elements. 10⁴ keeps the worst row's expansion ≈ 5·10⁷ elements —
    * heavy but survivable; anything past it raises by key name instead
    * of OOMing anonymously.
    */
  val DefaultMaxQuadraticPerKey: Long = 10L * 1000L

  /** The guard: `value` if the key's event count is within bound, else
    * raise_error naming the key — when()'s lazy branches keep the error
    * unevaluated on healthy keys.
    */
  private[graft] def hotKeyGuarded(value: Column, nEvents: Column,
      keyCol: Column, maxPerKey: Long, op: String): Column =
    when(nEvents <= maxPerKey, value)
      .otherwise(raise_error(concat(
        lit(s"$op: key "), keyCol.cast("string"),
        lit(" has "), nEvents.cast("string"),
        lit(s" events, exceeding maxEventsPerKey=$maxPerKey"))))

  /** Assign session ids: a session breaks when the gap to the previous
    * event exceeds `gapUs`. Input needs (user_id, ts_us, event_id).
    */
  def sessionized(events: DataFrame, gapUs: Long = DefaultGapUs): DataFrame = {
    val byTs = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events
      .withColumn("prev_ts", lag("ts_us", 1).over(byTs))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("is_new").over(
        byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_ts", "is_new")
  }

  /** Ordered funnel progression per key: the first time each stage of
    * `stages` is reached, where stage i+1 must occur STRICTLY AFTER the
    * event that satisfied stage i (a purchase before the first view is
    * not a converted funnel — the sequencing is the whole operator; a
    * per-stage min() would count it).
    *
    * Shape: ONE shuffle (the groupBy), then a linear fold over each
    * key's time-sorted events — `aggregate` over the collected list,
    * appending stage i's timestamp the first time its type shows up
    * after stage i−1's. Per-key collect_list is bounded by per-key
    * event counts (the r5_sorted_events caveat, documented there); the
    * alternative — one conditional-min aggregate + join PER STAGE —
    * costs `stages.length` shuffles of the full event table, which is
    * the wrong trade at 100 TB for the funnels that matter (3–7
    * stages).
    *
    * Unreached stages surface as −1 (hash-stable), `n_stages` counts
    * the reached prefix.
    *
    * `maxGapUs` bounds each stage i → i+1 transition by a conversion
    * window (inclusive: a gap of exactly `maxGapUs` converts): a
    * wanted-type event later than `maxGapUs` after the previous stage's
    * timestamp does NOT convert — and since every later event is later
    * still, the funnel stalls there, exactly the min-with-window the
    * oracle replays. First-touch anchoring is deliberate: the earliest
    * stage-1 event anchors the funnel even if a later one would have
    * converted (re-anchoring is a different operator — per-user
    * backtracking — and not what product funnels report). The default
    * (Long.MaxValue) is the unbounded horizon.
    */
  def funnel(events: DataFrame, stages: Seq[String],
      maxGapUs: Long = Long.MaxValue,
      maxEventsPerKey: Long = DefaultMaxEventsPerKey): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(maxGapUs > 0, s"maxGapUs must be > 0, got $maxGapUs")
    require(maxEventsPerKey > 0, s"maxEventsPerKey must be > 0, got $maxEventsPerKey")
    val stageLit = typedlit(stages)
    val folded = events
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_type"))))
        .as("evs"),
        count(lit(1)).as("n_evs"))
      .select(col("user_id"),
        hotKeyGuarded(aggregate(col("evs"),
          lit(Array.empty[Long]),
          (acc, e) => {
            // try_element_at throughout: ANSI element_at throws on any
            // out-of-range index, and when()'s branches don't guard
            // subexpression evaluation — a completed funnel would probe
            // stages[n+1]
            val nxt = size(acc)
            val wanted = try_element_at(stageLit, nxt + 1)
            val inOrder = (nxt === 0) ||
              ((e.getField("ts_us") > try_element_at(acc, nxt)) &&
                (e.getField("ts_us") - try_element_at(acc, nxt) <= maxGapUs))
            when(nxt < stages.length && e.getField("event_type") === wanted
                && inOrder,
              concat(acc, array(e.getField("ts_us"))))
              .otherwise(acc)
          }),
          col("n_evs"), col("user_id"), maxEventsPerKey, "funnel")
          .as("reached"))
    stages.indices.foldLeft(folded) { (d, i) =>
      d.withColumn(s"stage${i + 1}_us",
        coalesce(try_element_at(col("reached"), lit(i + 1)), lit(-1L)))
    }
      .withColumn("n_stages", size(col("reached")).cast("long"))
      .drop("reached")
  }

  /** Per-user session stats: count, total events, longest session. */
  def sessionStats(events: DataFrame, gapUs: Long = DefaultGapUs): DataFrame =
    sessionized(events, gapUs)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (max("ts_us") - min("ts_us")).as("len_us"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        max("len_us").as("max_session_us"))
}
