package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The billing state machine as a relational plan — "Option B" of SURVEY.md
  * §2e/K1. Equivalent to [[graft.core.StateMachine]] (property-tested in
  * RuntimeSqlEquivalenceSpec) but expressed entirely in Catalyst-optimizable
  * window/aggregate primitives, so it:
  *
  *   - scales to any number of instances in ONE shuffle (partitionBy key) —
  *     the reference re-ran a Python loop per instance
  *     (/root/reference/src/openstack_billing_db/model.py:211-222, N+1);
  *   - is expressible in ANSI SQL (the DuckDB correctness oracle);
  *   - computes ALL outage intervals in the same pass (K2, billing.py:88-102
  *     re-ran the whole machine per interval per instance).
  *
  * Equivalence argument (each reference rule → relational form):
  *   1. run-length merge keeps the FIRST event of each consecutive
  *      same-state run == reference ignoring same-state triggers
  *      (model.py:114); Error→Error re-entry (model.py:101-107) is
  *      additively identical to staying in Error;
  *   2. unknown actions map to null state and are filtered BEFORE the
  *      lag/lead windows (model.py:109-117 falls through);
  *   3. `deleted_at` becomes a synthetic Deleted row ordered AFTER all
  *      events regardless of its timestamp (model.py:119-125 applies it
  *      after the event loop) — `seq = Long.MaxValue`;
  *   4. per-interval clamping happens AFTER merging, because transitions
  *      depend only on event order, never on the clamped times — so one
  *      merged run table serves every billing/outage interval;
  *   5. the final state closes at window end (model.py:127): `lead` default
  *      null → coalesce(clamp(lead), intervalEnd).
  *
  * All times are epoch microseconds (LongType): exact integer arithmetic,
  * no float drift against the oracle.
  */
object RuntimeSql {

  /** Map (action, message) to a state name; null = no transition
    * (model.py:101-117, 141-150). `message == "Error"` wins over any action.
    */
  def mapState(action: Column, message: Column): Column =
    when(message === "Error", "Error")
      .when(action.isin("unshelve", "create", "start"), "Running")
      .when(action === "shelve", "Shelved")
      .when(action === "stop", "Stopped")
      .when(action === "delete", "Deleted")

  /** Collapse an event log into state runs: one row per entered state with
    * the (unclamped) entry time and the next run's entry time.
    *
    * @param events    columns: `key`, `ts_us` LongType, `tie` (deterministic
    *                  tiebreak for equal timestamps, e.g. event id),
    *                  `state` StringType (null rows are dropped)
    * @param deletedAt optional columns: `key`, `deleted_at_us` LongType —
    *                  one row per deleted instance
    * @return columns: key, state, ts_us, next_ts_us (null for last run)
    */
  def stateRuns(events: DataFrame, deletedAt: Option[DataFrame] = None): DataFrame = {
    val base = events
      .filter(col("state").isNotNull)
      .select(col("key"), col("state"), col("ts_us"), col("tie"),
        lit(0).as("synth"))

    // model.py:119-125 — deleted_at is processed after ALL events, so it
    // sorts last BY CONSTRUCTION (synth=1), not by timestamp.
    val withDelete = deletedAt match {
      case None => base
      case Some(d) =>
        base.unionByName(d.select(col("key"), lit("Deleted").as("state"),
          col("deleted_at_us").as("ts_us"), lit(0L).as("tie"), lit(1).as("synth")))
    }

    // ONE window ordering serves both the run-length merge (lag) and the
    // run-close (lead): the filter preserves per-partition order, so the
    // plan is Exchange + a single Sort + two Window passes — the
    // row_number/seq formulation cost two extra sorts.
    val w = Window.partitionBy("key").orderBy("synth", "ts_us", "tie")
    withDelete
      .withColumn("prev_state", lag("state", 1).over(w))
      // Run-length merge. A synthetic Deleted row with no event before it
      // is dropped: the reference exits into Deleted only when some state
      // is current (crashes otherwise, model.py:124), and an event-less
      // instance keeps our zero-runtime deviation. Deciding it in the
      // window spares a second scan of the events for their keys.
      .filter((col("prev_state").isNull && col("synth") === 0) ||
        col("state") =!= col("prev_state"))
      .withColumn("next_ts_us", lead("ts_us", 1).over(w))
      .drop("tie", "synth", "prev_state")
  }

  /** In-window microseconds per (key): `running_us`, `stopped_us` for a
    * single billing window (K1).
    */
  def runtimeInWindow(runs: DataFrame, startUs: Long, endUs: Long): DataFrame =
    runtimeExcluding(runs, startUs, endUs, Seq.empty)

  /** K1 + K2 in one aggregation: window runtime minus each excluded outage
    * interval, computed by cross-joining the merged runs with a tiny
    * broadcast interval table carrying weight +1 (billing window) or -1
    * (outage), clamping per interval, and summing weighted durations.
    */
  def runtimeExcluding(
      runs: DataFrame,
      startUs: Long,
      endUs: Long,
      excluded: Seq[(Long, Long)]
  ): DataFrame = {
    val spark = runs.sparkSession
    import spark.implicits._
    val intervals = ((startUs, endUs, 1L) +: excluded.map(i => (i._1, i._2, -1L)))
      .toDF("iv_start", "iv_end", "weight")

    def clamp(c: Column): Column =
      greatest(least(c, col("iv_end")), col("iv_start"))

    runs
      .join(broadcast(intervals))
      .select(col("key"), col("state"), col("weight"),
        clamp(col("ts_us")).as("t0"),
        coalesce(clamp(col("next_ts_us")), col("iv_end")).as("t1"))
      .groupBy("key")
      .agg(
        sum(when(col("state") === "Running", (col("t1") - col("t0")) * col("weight"))
          .otherwise(0L)).as("running_us"),
        sum(when(col("state") === "Stopped", (col("t1") - col("t0")) * col("weight"))
          .otherwise(0L)).as("stopped_us"))
  }
}
