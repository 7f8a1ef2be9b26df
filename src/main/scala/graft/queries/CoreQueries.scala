package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Types
import graft.ops.BloomOps
import graft.sql.RuntimeSql

/** The SURVEY.md §2 operator inventory expressed as driver-checkable
  * queries over the shared testdata tables, each paired with DuckDB oracle
  * SQL in [[CoreOracles]].
  *
  * Conventions that keep the DuckDB hash-compare stable:
  *   - timestamps are surfaced as epoch MICROSECONDS (`unix_micros` /
  *     DuckDB `epoch_us`) — never as raw timestamp columns, whose
  *     tz-awareness differs between the engines' parquet writers;
  *   - doubles that get summed are cast to DECIMAL first (exact,
  *     associative, order-independent — float sums are neither);
  *   - every aggregate/computed column is aliased identically here and in
  *     the oracle (the driver sorts columns by name before hashing);
  *   - money/DECIMAL result columns are surfaced as STRINGS at the query
  *     edge (math stays exact DECIMAL internally). Both engines print a
  *     DECIMAL(p,s) with its full scale ("1.50", not "1.5"), so the
  *     strings are byte-identical — whereas the compare's hash of a raw
  *     decimal column is dtype/representation-sensitive and mismatches
  *     on every decimal-typed query;
  *   - array columns are `array_join`ed to strings — the compare's
  *     pandas sort cannot order ndarray cells.
  */
object CoreQueries {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.etl.Ingest.table(spark, dir, name)

  // Billing-window constants shared with the oracle SQL (CoreOracles
  // interpolates the same values).
  val WStart: Long = Types.utcMicros(2024, 1, 5)
  val WEnd: Long = Types.utcMicros(2024, 1, 25)
  /** Fixed micro-grid for the mergeable histogram / PSI drift pair:
    * 30 bins of width 20 covering value ∈ [0, 600), clamped ends. */
  val HistBins = 30
  val HistLoMicro = 0L
  val HistWidthMicro = 20000000L
  val HistQuantilesPermille = Seq(500, 900, 990)
  /** aj5 freshness window: 8400 days in micros — the synthetic events
    * sit decades after the order history, and THIS bound splits the
    * fixture's gap distribution so both verdicts occur at every SF. */
  val AsofToleranceUs: Long = 8400L * 86400000000L
  val Outages: Seq[(Long, Long)] = Seq(
    (Types.utcMicros(2024, 1, 10), Types.utcMicros(2024, 1, 11)),
    (Types.utcMicros(2024, 1, 20, 6), Types.utcMicros(2024, 1, 20, 18)))

  /** events.event_type → billing state (K1 over the events table): signup
    * creates, purchase stops, view shelves, error is the `message=="Error"`
    * path, click matches no trigger and is skipped (model.py:109-117).
    */
  def eventState: Column =
    when(col("event_type") === "error", "Error")
      .when(col("event_type") === "signup", "Running")
      .when(col("event_type") === "purchase", "Stopped")
      .when(col("event_type") === "view", "Shelved")

  /** Deterministic pci_requests payload for the F3 oracle: event_id%10
    * selects the branch (0-2 null, 3 empty, 4-6 valid aliases incl. case
    * and dash variants, 7 unknown alias, 8 multi-entry, 9 bad count).
    * The same rule is written in SQL in CoreOracles so each engine
    * synthesizes its own copy.
    */
  private def f3SynthPci(id: Column): Column = {
    val m = pmod(id, lit(10))
    when(m === 3, lit("[]"))
      .when(m === 4, lit("""[{"count": "1", "alias_name": "A100"}]"""))
      .when(m === 5, lit("""[{"count": "2", "alias_name": "v100"}]"""))
      .when(m === 6, lit("""[{"count": "4", "alias_name": "a100-sxm4"}]"""))
      .when(m === 7, lit("""[{"count": "1", "alias_name": "h100"}]"""))
      .when(m === 8,
        lit("""[{"count": "1", "alias_name": "v100"}, {"count": "1", "alias_name": "v100"}]"""))
      .when(m === 9, lit("""[{"count": "x1", "alias_name": "k80"}]"""))
      .otherwise(lit(null).cast("string"))
  }

  /** Synth → parse → classify, the shared head of the two F3 queries. */
  private def f3Classified(events: DataFrame): DataFrame =
    events
      .select(col("event_id"), f3SynthPci(col("event_id")).as("pci_requests"))
      .withColumn("pci", graft.etl.Enrich.parsedPci(col("pci_requests")))
      .select(col("event_id"),
        graft.etl.Enrich.gpuSuTypeLenient(col("pci")).as("su_type"),
        graft.etl.Enrich.gpuCountLenient(col("pci")).as("gpu_count"),
        graft.etl.Enrich.quarantineReason(col("pci")).as("reason"))

  private def shapedEvents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events").select(
      col("user_id").as("key"),
      unix_micros(col("ts")).as("ts_us"),
      col("event_id").as("tie"),
      eventState.as("state"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Flagship TPC-H-Q1-shaped scan→filter→agg (S1 + R4 + A1 shape).
    "q1_pricing_summary" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)")
            .cast("string").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(38,2)")
            .cast("string").as("sum_base_price"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(38,4)")).cast("decimal(38,4)")
            .cast("string").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // R1 — distinct projection (model.py:295-301).
    "r1_distinct" -> ((s, dir) =>
      table(s, dir, "events").select(col("user_id")).distinct()),

    // R2 — left equi-join, small dim broadcast (model.py:229-244).
    "r2_left_join" -> ((s, dir) => {
      val orders = table(s, dir, "orders")
      val customer = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // R3 — compound temporal liveness filter (model.py:240-243).
    "r3_temporal_filter" -> ((s, dir) =>
      table(s, dir, "events")
        .filter(unix_micros(col("ts")) > Types.utcMicros(2024, 1, 15) ||
          col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))),

    // R5 — per-key sort: event ids ordered by (ts, id) as an array
    // (model.py:215 order-by is load-bearing for K1).
    // The per-key collect is guarded by the hot-key ceiling (a key with
    // 10M+ events is a bug, not data — fail loudly, naming the key,
    // instead of OOMing one task; the count rides the same aggregation).
    "r5_sorted_events" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .groupBy("user_id")
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("ts_us"), col("event_id")))),
          x => x.getField("event_id").cast("string")), ",").as("event_ids"),
          count(lit(1)).as("n_evs"))
        .select(col("user_id"),
          graft.ops.SessionOps.hotKeyGuarded(col("event_ids"), col("n_evs"),
            col("user_id"), graft.ops.SessionOps.DefaultMaxEventsPerKey,
            "r5_sorted_events").as("event_ids"))),

    // R6 — the reference's N+1 correlated loop dissolved into one shuffle
    // (model.py:211-222, 295-301).
    "r6_events_per_entity" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("first_ts_us"),
          max(unix_micros(col("ts"))).as("last_ts_us"))),

    // R8 — pivot long→wide: per-entity counters per type (billing.py:105-113).
    "r8_pivot" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
          sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signup"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"))),

    // R7 — unpivot wide→long, dropping zero rows (billing.py:188-224).
    "r7_unpivot" -> ((s, dir) => {
      val wide = table(s, dir, "events")
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"))
      wide
        .select(col("user_id"),
          expr("stack(3, 'click', n_click, 'purchase', n_purchase, 'error', n_error) as (event_type, n)"))
        .filter(col("n") > 0)
    }),

    // F1 — service-unit formula shape (model.py:38-46): gpu_count-or-
    // truncated-max, over part as the flavor analog.
    "f1_service_units" -> ((s, dir) =>
      table(s, dir, "part")
        .select(col("p_partkey"),
          when(pmod(col("p_partkey"), lit(4)) =!= 0, pmod(col("p_partkey"), lit(4)))
            .otherwise(floor(greatest(col("p_size").cast("double"), col("p_retailprice") / 409.6)))
            .cast("long").as("service_units"))),

    // F4 — time clamp into the billing window (model.py:78-88).
    "f4_time_clamp" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"),
          greatest(least(unix_micros(col("ts")), lit(WEnd)), lit(WStart)).as("clamped_us"))),

    // F9 — money rounding HALF_UP to cents, only at the sink (billing.py:202).
    "f9_round_money" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")), 2)
            .cast("decimal(38,2)").cast("string").as("revenue"))),

    // F10 — ceil-hours: partial units round UP (billing.py:147).
    "f10_ceil_hours" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"), ceil(col("value") / 60.0).cast("long").as("ceil_units"))),

    // A1 — filtered group-sum, the invoice accumulation shape (billing.py:138-154).
    "a1_su_hour_agg" -> ((s, dir) =>
      table(s, dir, "events")
        .filter(col("value") > 0)
        .select(col("user_id"), col("event_type"),
          ceil(col("value") / 60.0).cast("long").as("units"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(col("units")).as("su_hours"))),

    // K1 — the billing state machine, relational formulation, one shuffle.
    "k1_state_machine" -> ((s, dir) => {
      val runs = RuntimeSql.stateRuns(shapedEvents(s, dir))
      RuntimeSql.runtimeInWindow(runs, WStart, WEnd)
    }),

    // K2 — K1 minus outage intervals, single weighted-interval pass.
    "k2_interval_subtract" -> ((s, dir) => {
      val runs = RuntimeSql.stateRuns(shapedEvents(s, dir))
      RuntimeSql.runtimeExcluding(runs, WStart, WEnd, Outages)
    }),

    // BILLING — the whole reference pipeline (EP2+EP3) as ONE oracle-
    // checked query: state machine over events → outage subtraction →
    // ceil-hours (F10) → service units (F1) from a synthetic per-user
    // flavor → per-(project, su_type) su-hour sum (A1) → decimal cost
    // (A2). The deepest single parity statement the harness can check.
    "billing_invoice" -> ((s, dir) => {
      val runs = RuntimeSql.stateRuns(shapedEvents(s, dir))
      val runtime = RuntimeSql.runtimeExcluding(runs, WStart, WEnd, Outages)
      runtime
        .withColumn("runtime_hours",
          ceil(col("running_us") / lit(3600000000.0)).cast("long"))
        .filter(col("runtime_hours") > 0)
        .withColumn("gpu_count",
          when(pmod(col("key"), lit(5)) === 0, 2).otherwise(0))
        .withColumn("su_type",
          when(col("gpu_count") > 0, "gpu_v100").otherwise("cpu"))
        .withColumn("service_units",
          when(col("gpu_count") =!= 0, col("gpu_count").cast("long"))
            .otherwise(floor(greatest(
              (pmod(col("key"), lit(4)) + 1).cast("double"),
              (pmod(col("key"), lit(8)) * 2048 + 2048) / 4096.0))))
        .withColumn("project_id", concat(lit("proj-"), pmod(col("key"), lit(3))))
        .groupBy("project_id", "su_type")
        .agg(sum(col("runtime_hours") * col("service_units")).as("su_hours"))
        .withColumn("rate",
          when(col("su_type") === "gpu_v100", lit("1.214").cast("decimal(18,6)"))
            .otherwise(lit("0.013").cast("decimal(18,6)")))
        .select(col("project_id"), col("su_type"), col("su_hours"),
          round(col("rate") * col("su_hours"), 2).cast("decimal(38,2)")
            .cast("string").as("cost"))
    }),

    // J1 — 3-way join with aggregation: fact ⋈ dim ⋈ dim, both dims
    // broadcast; revenue per nation.
    "j1_join3_revenue" -> ((s, dir) => {
      val orders = table(s, dir, "orders")
      val customer = table(s, dir, "customer").select("c_custkey", "c_nationkey")
      val nation = table(s, dir, "nation").select("n_nationkey", "n_name")
      orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(38,2)")
            .cast("string").as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // W1 — ranking analytics: top-3 orders per customer by price.
    "w1_topn_per_group" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    }),

    // W2 — cumulative analytics: per-customer running spend, exact
    // decimal (float running sums would be partition-order dependent).
    "w2_running_sum" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      table(s, dir, "orders")
        .withColumn("running_spend",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("decimal(38,2)")
            .cast("string"))
        .select("o_custkey", "o_orderkey", "running_spend")
    }),

    // G1 — rollup: subtotals + grand total in one pass.
    "g1_rollup" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)")
          .cast("string").as("sum_qty"),
          count(lit(1)).as("n"))),

    // SJ1 — semi join: customers having any big order (no row multiplication).
    "sj1_semi_join" -> ((s, dir) => {
      val big = table(s, dir, "orders").filter(col("o_totalprice") > 300)
      table(s, dir, "customer")
        .join(big, col("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),

    // SJ4 — bloom-pruned semi join, the Column-API sibling of
    // bf1_bloom_prune: bf1 drives Spark's internal bloom_filter_agg /
    // might_contain through SQL text; this one is the composable
    // DataFrame-operator form (ops/BloomOps) with a deterministic,
    // inspectable bit set. The oracle is the plain EXISTS semi join:
    // row equality proves the bloom introduces nothing and loses
    // nothing. The lineitem probe scan drops non-candidates BEFORE any
    // exchange.
    "sj4_bloom_semijoin" -> ((s, dir) => {
      val big = table(s, dir, "orders").filter(col("o_totalprice") > 200)
      BloomOps.bloomSemiJoin(
        table(s, dir, "lineitem"), big, "l_orderkey", "o_orderkey")
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)")
            .cast("string").as("sum_qty"))
    }),

    // A4 — exact quantiles per group (DuckDB quantile_cont ≡ Spark
    // percentile: linear interpolation, verified identical).
    "a4_quantiles" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("price_p99"))),

    // A5 — sketch aggregates (HLL distinct, quantile sketch) as a BOUNDS
    // check: sketch estimates are engine-specific, so the cross-engine
    // contract is the rated error, not the estimate. The Spark side
    // computes estimate AND exact in one pass and emits boolean verdicts
    // (estimate within rated error of exact); the oracle computes the
    // exact count independently and asserts the verdicts TRUE. A sketch
    // drifting past its rated error flips a boolean → hash mismatch →
    // red gate. HLL rsd 0.02 is checked at 3σ (6% + 1 absolute); the
    // quantile sketch (rank error 1/1000) is checked against the exact
    // value band at ranks 0.49–0.51 (10× rated slack).
    "a5_approx_sketches" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), 0.02).as("au"),
          countDistinct(col("user_id")).as("exact_users"),
          element_at(percentile_approx(col("value"),
            array(lit(0.5)), lit(1000)), 1).as("p50a"),
          expr("percentile(value, 0.49)").as("lo"),
          expr("percentile(value, 0.51)").as("hi"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("au") - col("exact_users")) <=
            col("exact_users") * 0.06 + 1).as("hll_ok"),
          (col("p50a") >= col("lo") && col("p50a") <= col("hi"))
            .as("kll_ok"))),

    // A6 — statistical aggregates: sample stddev/variance, correlation,
    // mean. NOT the builtin stddev/corr: those merge float moments in
    // partition order (this file's header rule forbids order-dependent
    // double math at the hash edge). Instead the power sums accumulate
    // as EXACT decimals — associative, partitioning-independent — and
    // the statistics derive from them in one fixed double expression,
    // mirrored verbatim in the oracle.
    "a6_stats" -> ((s, dir) => {
      val x = col("l_quantity").cast("decimal(18,6)")
      val y = col("l_extendedprice").cast("decimal(18,6)")
      def d(c: String) = col(c).cast("double")
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast("decimal(38,6)").as("sx"),
          sum(y).cast("decimal(38,6)").as("sy"),
          sum((x * x).cast("decimal(38,12)")).cast("decimal(38,12)").as("sxx"),
          sum((y * y).cast("decimal(38,12)")).cast("decimal(38,12)").as("syy"),
          sum((x * y).cast("decimal(38,12)")).cast("decimal(38,12)").as("sxy"))
        .select(col("l_returnflag"),
          round(sqrt((d("sxx") - d("sx") * d("sx") / d("n")) / (d("n") - 1)), 6)
            .as("qty_stddev"),
          round((d("sxx") - d("sx") * d("sx") / d("n")) / (d("n") - 1), 6)
            .as("qty_var"),
          round((d("n") * d("sxy") - d("sx") * d("sy")) /
            (sqrt(d("n") * d("sxx") - d("sx") * d("sx")) *
              sqrt(d("n") * d("syy") - d("sy") * d("sy"))), 6)
            .as("qty_price_corr"),
          round(d("sx") / d("n"), 6).as("qty_mean"))
    }),

    // F6/F7 — calendar bucketing: the invoice-month aggregation shape
    // (date_trunc to month, surfaced as epoch micros).
    "f6_month_bucket" -> ((s, dir) =>
      table(s, dir, "orders")
        .groupBy(unix_micros(date_trunc("month", col("o_orderdate"))).as("month_us"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(38,2)")
            .cast("string").as("month_revenue"))),

    // SO1 — EXCEPT: customers with only-small orders (active minus big).
    "so1_except" -> ((s, dir) => {
      val orders = table(s, dir, "orders")
      orders.select(col("o_custkey")).distinct()
        .except(orders.filter(col("o_totalprice") > 400)
          .select(col("o_custkey")).distinct())
    }),

    // SO2 — INTERSECT: customers active in both halves of the date range.
    "so2_intersect" -> ((s, dir) => {
      val orders = table(s, dir, "orders")
      val cut = lit("1998-01-01").cast("timestamp")
      orders.filter(col("o_orderdate") < cut).select(col("o_custkey")).distinct()
        .intersect(
          orders.filter(col("o_orderdate") >= cut).select(col("o_custkey")).distinct())
    }),

    // SJ2 — anti join: customers with no orders at all.
    "sj2_anti_join" -> ((s, dir) => {
      val orders = table(s, dir, "orders")
      table(s, dir, "customer")
        .join(orders, col("c_custkey") === orders("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // AJ1 — as-of join: each event annotated with the user's most recent
    // order day at or before the event. Union+window sweep (one shuffle),
    // never a theta-join; right side pre-aggregated to unique (key, ts).
    "aj1_asof_join" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(
        col("event_id"), col("user_id").as("key"),
        unix_micros(col("ts")).as("ts_us"))
      val day = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("key"),
          unix_micros(col("o_orderdate")).as("ots"))
        .agg(count(lit(1)).as("day_orders"))
      graft.ops.JoinOps
        .asofJoinPrior(ev, day, "key", "ts_us", "ots", Seq("day_orders"))
        .select(col("event_id"), col("key").as("user_id"), col("ts_us"),
          coalesce(col("asof_ts"), lit(-1L)).as("last_order_us"),
          coalesce(col("day_orders"), lit(0L)).as("last_day_orders"))
    }),

    // AJ5 — as-of with a freshness tolerance (pandas merge_asof
    // `tolerance`): a prior match older than the window is NO match —
    // the stale-quote guard aj1's unbounded lookback lacks. Tolerance
    // is set where the fixture's gap distribution genuinely splits, so
    // both verdicts are exercised at every SF.
    "aj5_asof_tolerance" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(
        col("event_id"), col("user_id").as("key"),
        unix_micros(col("ts")).as("ts_us"))
      val day = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("key"),
          unix_micros(col("o_orderdate")).as("ots"))
        .agg(count(lit(1)).as("day_orders"))
      graft.ops.JoinOps.asofJoinPriorTolerance(
        ev, day, "key", "ts_us", "ots", Seq("day_orders"),
        AsofToleranceUs)
        .select(col("event_id"), col("key").as("user_id"), col("ts_us"),
          coalesce(col("asof_ts"), lit(-1L)).as("last_order_us"),
          coalesce(col("day_orders"), lit(0L)).as("last_day_orders"))
    }),

    // AJ4 — the SAME as-of semantics through the native Catalyst
    // operator (custom LogicalPlan → AsOfJoinStrategy → AsOfJoinExec:
    // one Exchange+Sort per side, linear per-partition merge). Shares
    // AJ1's oracle SQL — the two implementations must agree with DuckDB
    // ASOF independently.
    "aj4_asof_native" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(
        col("event_id"), col("user_id").as("key"),
        unix_micros(col("ts")).as("ts_us"))
      val day = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("key"),
          unix_micros(col("o_orderdate")).as("ots"))
        .agg(count(lit(1)).as("day_orders"))
      graft.plans.AsOfJoin
        .prior(ev, day, "key", "ts_us", "ots", Seq("day_orders"))
        .select(col("event_id"), col("key").as("user_id"), col("ts_us"),
          coalesce(col("asof_ts"), lit(-1L)).as("last_order_us"),
          coalesce(col("day_orders"), lit(0L)).as("last_day_orders"))
    }),

    // AJ2 — forward as-of join: each event's NEXT order day at-or-after
    // its timestamp (the mirror of AJ1's most-recent-prior direction).
    "aj2_asof_next" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(
        col("event_id"), col("user_id").as("key"),
        unix_micros(col("ts")).as("ts_us"))
      val day = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("key"),
          unix_micros(col("o_orderdate")).as("ots"))
        .agg(count(lit(1)).as("day_orders"))
      graft.ops.JoinOps
        .asofJoinNext(ev, day, "key", "ts_us", "ots", Seq("day_orders"))
        .select(col("event_id"), col("key").as("user_id"), col("ts_us"),
          coalesce(col("asof_ts"), lit(-1L)).as("next_order_us"),
          coalesce(col("day_orders"), lit(0L)).as("next_day_orders"))
    }),

    // RJ1 — range join: events per outage interval. The FACT side streams
    // through an inner BNLJ against the broadcast interval dim (an outer
    // join preserving the dim would force Spark to build the fact side);
    // empty intervals are re-attached by left-joining the tiny per-
    // interval counts back onto the dim.
    "rj1_range_join" -> ((s, dir) => {
      val iv = s.createDataFrame(
        Seq((0L, Outages(0)._1, Outages(0)._2), (1L, Outages(1)._1, Outages(1)._2)))
        .toDF("iv_id", "iv_start", "iv_end")
      val ev = table(s, dir, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
      val counts = graft.ops.JoinOps.rangeJoin(ev, iv, "ts_us")
        .groupBy("iv_id")
        .agg(count(lit(1)).as("n"))
      iv.select("iv_id")
        .join(counts, Seq("iv_id"), "left")
        .select(col("iv_id"), coalesce(col("n"), lit(0L)).as("n_events"))
    }),

    // RJ2 — the same range-join semantics through the BINNED equi-join
    // path (the big-big formulation for when the interval side can't
    // broadcast): intervals explode onto an hour grid, facts equi-join
    // their bin, exact containment post-filtered. Oracle identical to
    // RJ1 by construction.
    "rj2_range_binned" -> ((s, dir) => {
      val iv = s.createDataFrame(
        Seq((0L, Outages(0)._1, Outages(0)._2), (1L, Outages(1)._1, Outages(1)._2)))
        .toDF("iv_id", "iv_start", "iv_end")
      val ev = table(s, dir, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
      val counts = graft.ops.JoinOps
        .rangeJoinBinned(ev, iv, "ts_us", 3600L * 1000000L)
        .groupBy("iv_id")
        .agg(count(lit(1)).as("n"))
      iv.select("iv_id")
        .join(counts, Seq("iv_id"), "left")
        .select(col("iv_id"), coalesce(col("n"), lit(0L)).as("n_events"))
    }),

    // G2 — cube: all four grouping combinations in one pass.
    "g2_cube" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)")
          .cast("string").as("sum_qty"),
          count(lit(1)).as("n"))),

    // G3 — explicit grouping sets with GROUPING indicators.
    "g3_grouping_sets" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))),

    // W3 — lag analytics: per-customer inter-order gaps (micros; -1 for
    // the first order — nulls kept out of numeric output columns).
    "w3_lag_gaps" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("ots"), col("o_orderkey"))
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate")).as("ots"))
        .withColumn("gap_us",
          coalesce(col("ots") - lag(col("ots"), 1).over(w), lit(-1L)))
        .select("o_custkey", "o_orderkey", "gap_us")
    }),

    // W4 — distribution analytics: spend quartile + percent_rank per
    // customer. The quartile window is global by construction (a total
    // order over ~customers after aggregation — cardinality already
    // reduced by the groupBy; at 100 TB swap ntile for approx-quantile
    // cutoffs to avoid the single-partition sort).
    "w4_ntile_quartile" -> ((s, dir) => {
      val spend = table(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(38,2)").as("spend"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("spend").desc, col("o_custkey"))
      spend.select(col("o_custkey"), col("spend").cast("string").as("spend"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pr"))
    }),

    // W4b — the 100 TB quartile path W4's doc block names: instead of a
    // global ntile window (one partition sees every row), cutoffs come
    // from ONE approx-quantile aggregate (a 3-number broadcast dim) and
    // assignment is a scan-side comparison — no global sort anywhere.
    // Sketch cutoffs are engine-specific, so like a5 the cross-engine
    // contract is the rated error: each quartile's size must sit within
    // the sketch's rank-error band of N/4, emitted as a boolean the
    // oracle asserts TRUE (a drifting sketch flips it → hash mismatch).
    "w4b_quartile_approx" -> ((s, dir) => {
      val spend = table(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(38,2)").as("spend"))
      val cuts = spend.agg(
        percentile_approx(col("spend").cast("double"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("cs"),
        count(lit(1)).as("n_total"))
      def gt(i: Int) =
        (col("spend").cast("double") > element_at(col("cs"), i)).cast("int")
      spend.crossJoin(broadcast(cuts))
        .select(col("n_total"), (lit(1) + gt(1) + gt(2) + gt(3)).as("q"))
        .groupBy("q")
        .agg(first("n_total").as("n_total"), count(lit(1)).as("cnt"))
        .select(col("q").cast("long").as("quartile"), col("n_total"),
          // rank error ≤ 1e-4·N per cutoff at accuracy 10000; ±(1%·N+2)
          // is 100× rated slack plus tie room
          (abs(col("cnt") - col("n_total") / lit(4.0)) <=
            col("n_total") * lit(0.01) + lit(2)).as("ok"))
    }),

    // SO3 — UNION ALL with provenance tag.
    "so3_union_all" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      ev.filter(col("event_type") === "signup")
        .select(col("event_id"), lit("signup").as("src"))
        .unionAll(ev.filter(col("event_type") === "error")
          .select(col("event_id"), lit("error").as("src")))
    }),

    // W5 — RANGE-framed window: events per user in the trailing hour,
    // value-based frame (not row-based), so ties at the same timestamp
    // all see the same count — deterministic without an id tiebreak.
    "w5_range_frame" -> ((s, dir) => {
      val HourUs = 3600L * 1000000L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-HourUs, 0)
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .select(col("event_id"),
          count(lit(1)).over(w).as("n_trailing_hour"))
    }),

    // SO4 — EXCEPT ALL: multiset difference (a user with 3 clicks and 1
    // view keeps 2 click rows — DISTINCT-based EXCEPT would keep 0 or 1).
    "so4_except_all" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      ev.filter(col("event_type") === "click").select("user_id")
        .exceptAll(ev.filter(col("event_type") === "view").select("user_id"))
    }),

    // SO5 — INTERSECT ALL: multiset intersection (min of the two
    // multiplicities per value), completing the set-operator family.
    "so5_intersect_all" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      ev.filter(col("event_type") === "click").select("user_id")
        .intersectAll(ev.filter(col("event_type") === "view").select("user_id"))
    }),

    // A8 — KMV (k-minimum-values) approximate distinct count. Unlike
    // HLL (engine-specific, not oracle-able — see a5), KMV over md5 is
    // fully DETERMINISTIC: the k-th smallest hash is a pure function of
    // the value set, so the estimate (k−1)/u_k reproduces bit-identically
    // in DuckDB. The shape is the scalable one — distinct (group, hash)
    // partial-aggregates before the shuffle, and per-group work is a
    // rank-k selection, not a full sort collect. Groups with fewer than
    // k distinct values are omitted (they'd be exact-countable anyway).
    // Served by the native [[graft.expressions.KmvDistinct]]
    // TypedImperativeAggregate: each partial buffer carries at most k
    // digests per group, so the shuffle ships O(k) strings per
    // (group, partition) — the composable distinct→window-rank form
    // shuffles EVERY distinct hash. Estimate is bit-identical (same
    // k-th smallest digest), so the oracle is unchanged.
    "a8_kmv_distinct" -> ((s, dir) => {
      val k = 64
      import org.apache.spark.sql.graft.ColumnBridge
      val est = ColumnBridge.column(
        graft.expressions.KmvDistinct(
          ColumnBridge.expression(col("user_id").cast("string")), k)
          .toAggregateExpression())
      table(s, dir, "events")
        .groupBy("event_type")
        .agg(round(est, 6).as("kmv_estimate"))
        .filter(col("kmv_estimate").isNotNull)
    }),

    // A7 — uniform histogram over a value column (feature bucketing).
    // Explicit floor(value/width) instead of width_bucket: DuckDB lacks
    // the function, and the floor form is identical IEEE math in both
    // engines. Values are known ∈ [0, 500) so no edge clamp is needed.
    "a7_histogram" -> ((s, dir) =>
      table(s, dir, "events")
        .select(floor(col("value") / 25.0).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_events"))),

    // SJ3 — full outer join: segment customers vs big-order counts;
    // keys coalesced so neither side's miss produces a null key.
    "sj3_full_outer" -> ((s, dir) => {
      val cust = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      val big = table(s, dir, "orders")
        .filter(col("o_totalprice") > 450)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_big"))
      cust.join(big, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          coalesce(col("c_name"), lit("")).as("c_name"),
          coalesce(col("n_big"), lit(0L)).as("n_big"))
    }),

    // SRC1 — CSV sink + source round trip (S6's reader half): write the
    // typed projection as headered CSV, read it back with an explicit
    // schema, and oracle-check against the original rows — proves the
    // text codec loses nothing. Epoch-micros column keeps the timestamp
    // out of locale/format territory. The write is a deliberate eager
    // side effect at construction time (a round trip needs the file to
    // exist before the read plan resolves); the path is keyed by the
    // input dir so concurrent harness runs on different SFs don't
    // clobber each other.
    "src1_csv_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_rt_csv_${ProcessHandle.current().pid()}_${dir.hashCode.toHexString}"
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .write.mode("overwrite").option("header", true).csv(out)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT")
        .option("header", true).csv(out)
    }),

    // A16 — the typed-Aggregator lane: the same mergeable micro summary
    // as cdc_agg_merge, but through the PUBLIC Aggregator API lifted
    // with functions.udaf — per-(event_type) state is one fixed buffer,
    // merge is the map-side partial combine, mean derives at finish.
    // Oracle: the direct recompute, like the ChangeOps twin.
    "a16_typed_summary" -> ((s, dir) => {
      val summ = udaf(graft.expressions.MicroSummaryAgg)
      table(s, dir, "events")
        .groupBy("event_type")
        .agg(summ(col("value")).as("s"))
        .select(col("event_type"), col("s.n").as("n"),
          col("s.sum_micro").as("sum_micro"),
          col("s.min_micro").as("min_micro"),
          col("s.max_micro").as("max_micro"),
          col("s.avg_micro").as("avg_micro"))
    }),

    // J4 — the TPC-H Q5 shape: a FIVE-way star join (fact lineitem ⋈
    // orders ⋈ customer, with supplier/nation/region dims) under a
    // region filter and an order-date range, local-supplier semantics
    // (customer and supplier share a nation). The deepest join plan in
    // the suite: date filter pushed into the orders scan, region filter
    // prunes the dim BEFORE broadcast, the three dims broadcast, and
    // only the fact-to-fact joins shuffle. Revenue in exact decimals.
    "j4_local_supplier_revenue" -> ((s, dir) => {
      val l = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val c = table(s, dir, "customer")
      val sup = table(s, dir, "supplier")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region").filter(col("r_name") === "ASIA")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .cast("decimal(28,6)")).cast("decimal(38,6)").cast("string")
          .as("revenue"))
    }),

    // J5 — the TPC-H Q3 shape (shipping-priority top-k): segment-
    // filtered customers ⋈ date-bounded orders ⋈ unshipped lineitems,
    // revenue per order, top-10 by revenue — filters push to all three
    // scans, the dim side broadcasts, the top-k is a TakeOrdered (no
    // global sort). Revenue ordered NUMERICALLY, projected as string
    // for the hash surface.
    "j5_shipping_priority" -> ((s, dir) => {
      val cut = lit("1998-06-01").cast("timestamp")
      val c = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"),
          unix_micros(col("o_orderdate")).as("ots"),
          col("o_orderpriority"))
      val l = table(s, dir, "lineitem")
        .filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("ots"), col("o_orderpriority"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .cast("decimal(28,6)")).as("rev"))
        .orderBy(col("rev").desc, col("ots"), col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("ots"), col("o_orderpriority"),
          col("rev").cast("decimal(38,6)").cast("string").as("revenue"))
    }),

    // DQ — the pairwise-correlation EDA card over lineitem's numeric
    // columns: one exact-decimal moment pass, per-pair Pearson r in
    // fixed-order doubles, micro-rounded.
    "profile_corr" -> ((s, dir) =>
      graft.ops.ProfileOps.corrCard(
        table(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))),

    // DQ — the pre-join skew card: the count-of-counts distribution of
    // a join key (how many keys carry how many rows) — the number that
    // decides between a plain shuffle join, salting, and AQE skew
    // handling BEFORE the join is paid. One aggregation chain,
    // bounded output.
    "dq_join_skew" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(count(lit(1)).as("c"))
        .groupBy(col("c").as("rows_per_key"))
        .agg(count(lit(1)).as("n_keys"))),

    // SRC6 — corrupt-record tolerance: a JSON ingest where every tenth
    // line is deliberately truncated mid-token. PERMISSIVE mode parses
    // the good lines and routes the rest to _corrupt_record instead of
    // failing the batch — the posture a 100 TB ingest needs (one bad
    // shard must not kill the job), with the damage COUNTED, never
    // silently dropped. The oracle knows exactly which lines were
    // corrupted, so the parsed/corrupt split is fully checked.
    "src6_corrupt_json" -> ((s, dir) => {
      val out = s"/tmp/graft_rt_corrupt_${ProcessHandle.current().pid()}_${dir.hashCode.toHexString}"
      val js = table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"))
        .select(col("event_id").as("id"),
          to_json(struct(col("event_id"), col("event_type"),
            col("user_id"))).as("j"))
        .select(when(pmod(col("id"), lit(10)) === 3,
          substring(col("j"), 1, 11)).otherwise(col("j")).as("value"))
      js.write.mode("overwrite").text(out)
      s.read
        .schema("event_id BIGINT, event_type STRING, user_id BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("_corrupt_record")).as("n_corrupt"))
    }),

    // SRC5 — PARTITIONED parquet layout + partition-pruned read: the
    // lakehouse table layout (one directory per partition value), read
    // back with a partition filter that must prune at PLANNING time —
    // PartitionFilters in the scan, non-matching directories never
    // opened (PartitionedLayoutSpec pins that). The filter keeps 2 of
    // the 5 event types, so the oracle checks pruning changed nothing.
    "src5_partitioned_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_rt_part_${ProcessHandle.current().pid()}_${dir.hashCode.toHexString}"
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1e6, 0).cast("long")).as("sum_micro"),
          max("ts_us").as("max_ts_us"))
    }),

    // SRC3 — ORC sink + source round trip, same contract as SRC1/2 (the
    // third major columnar/text codec Spark ships natively). Exercises
    // the binary columnar path: doubles and timestamps survive exactly
    // by construction, no string formatting involved.
    "src3_orc_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_rt_orc_${ProcessHandle.current().pid()}_${dir.hashCode.toHexString}"
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          unix_micros(col("ts")).as("ts_us"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
    }),

    // SRC2 — JSON-lines sink + source round trip, same contract
    // (doubles survive: writer emits a parse-exact decimal repr).
    // SRC7 — COMPRESSED text ingest: the same JSONL roundtrip through
    // gzip (the wire format most text dumps actually arrive in). Spark
    // writes/reads .json.gz through the Hadoop codec transparently;
    // the scale caveat is that one .gz member is NOT splittable — a
    // 100 TB ingest wants many shards (as written here: one per task)
    // or a splittable codec, the DumpConvert staging lesson.
    "src7_gzip_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_rt_gz_${ProcessHandle.current().pid()}_${dir.hashCode.toHexString}"
      table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us"))
        .write.mode("overwrite").option("compression", "gzip").json(out)
      s.read
        .schema("event_id BIGINT, event_type STRING, value DOUBLE, ts_us BIGINT")
        .json(out)
    }),

    "src2_json_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_rt_json_${ProcessHandle.current().pid()}_${dir.hashCode.toHexString}"
      table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us"))
        .write.mode("overwrite").json(out)
      s.read
        .schema("event_id BIGINT, event_type STRING, value DOUBLE, ts_us BIGINT")
        .json(out)
    }),

    // F2 — JSON parse (the pci_requests path, model.py:247-255): extract
    // a typed field from a JSON props column, null-safe.
    // try_cast, not cast: under Spark 4's default ANSI mode a plain cast
    // THROWS on a non-numeric value — one malformed props row would kill
    // the job, while the oracle's TRY_CAST yields -1. try_cast mirrors
    // the oracle: missing key AND malformed value both fall to -1.
    "f2_json_parse" -> ((s, dir) =>
      table(s, dir, "events").select(col("event_id"),
        coalesce(get_json_object(col("props"), "$.k").try_cast("long"), lit(-1L))
          .as("k"))),

    // F3 — GPU flavor extraction, lenient path (model.py:197-209): a
    // deterministic pci_requests payload synthesized per event exercises
    // every branch — null/empty → cpu, valid alias (case fold + dash
    // strip → `gpu_*`), invalid alias / multiple entries / malformed
    // count → quarantine with reason. Both engines synthesize, parse
    // (from_json here, DuckDB JSON functions there), and classify
    // independently; only the derived values must agree.
    "f3_gpu_flavor" -> ((s, dir) =>
      f3Classified(table(s, dir, "events")).select(
        col("event_id"),
        coalesce(col("su_type"), lit("(quarantined)")).as("su_type"),
        coalesce(col("gpu_count").cast("long"), lit(-1L)).as("gpu_count"),
        coalesce(col("reason"), lit("ok")).as("quarantine_reason"))),

    // F3 quarantine split: the lenient-mode contract is that violations
    // are COUNTED OUT, not job-killing — this checks the clean/quarantined
    // partition sizes per reason (enrichInstancesLenient's split rule:
    // clean ⇔ su_type resolved AND no reason).
    "f3_gpu_quarantine" -> ((s, dir) =>
      f3Classified(table(s, dir, "events")).select(
        (col("su_type").isNotNull && col("reason").isNull).as("is_clean"),
        coalesce(col("reason"), lit("ok")).as("quarantine_reason"))
        .groupBy("is_clean", "quarantine_reason")
        .agg(count(lit(1)).as("n"))),

    // SKEW — salted two-phase sum == direct sum (exact DECIMAL, so the
    // equality is bitwise): the hot-key mitigation operator, oracle-
    // checked against the unsalted aggregation.
    "skew_salted_sum" -> ((s, dir) => {
      val df = table(s, dir, "events")
        .select(col("event_type"), col("value").cast("decimal(18,6)").as("v"))
      graft.ops.SkewOps.saltedSum(df, Seq("event_type"), "v")
        .select(col("event_type"),
          col("sum_v").cast("decimal(38,6)").cast("string").as("sum_value"))
    }),

    // W6 — GLOBAL running sum with no single-partition sort: the two-phase
    // prefix aggregation (PrefixOps). w2 partitions by customer; this is
    // the total-order variant that would cliff at 100 TB if written as a
    // bare Window.orderBy. Result is boundary-placement-independent.
    "w6_global_cumsum" -> ((s, dir) =>
      graft.ops.PrefixOps.globalCumsum(
        table(s, dir, "orders")
          .select(col("o_orderkey"),
            col("o_totalprice").cast("decimal(18,2)").as("v")),
        binCol = "o_orderkey", tieCols = Seq.empty,
        valueCol = "v", outCol = "cum")
        .select(col("o_orderkey"),
          col("cum").cast("decimal(38,2)").cast("string").as("running_total"))),

    // IV1 — interval union per key: merge overlapping [ts, ts+duration)
    // event intervals into maximal islands (IntervalOps; honors interval
    // ENDS, unlike gap sessionization). Duration derives from `value`
    // via exact DECIMAL micros (a double*1e6 cast truncates in Spark but
    // rounds in DuckDB — decimal sidesteps the divergence).
    "iv1_interval_merge" -> ((s, dir) =>
      graft.ops.IntervalOps.mergeIntervals(
        table(s, dir, "events").select(
          col("user_id"),
          unix_micros(col("ts")).as("iv_start"),
          (unix_micros(col("ts")) +
            (col("value").cast("decimal(18,2)") * 1000000).cast("long"))
            .as("iv_end"),
          col("event_id")),
        keyCol = "user_id", startCol = "iv_start", endCol = "iv_end",
        tieCol = "event_id")),

    // IV3 — temporal coverage ratio: per user, merged-island covered
    // time over the observation span, integer-ppm — the utilization /
    // uptime number the raw interval list can't report (overlaps would
    // double-count). Composes the iv1 island merge; one extra rollup.
    "iv3_coverage" -> ((s, dir) => {
      val islands = graft.ops.IntervalOps.mergeIntervals(
        table(s, dir, "events").select(
          col("user_id"),
          unix_micros(col("ts")).as("iv_start"),
          (unix_micros(col("ts")) +
            (col("value").cast("decimal(18,2)") * 1000000).cast("long"))
            .as("iv_end"),
          col("event_id")),
        keyCol = "user_id", startCol = "iv_start", endCol = "iv_end",
        tieCol = "event_id")
      islands.groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("island_end") - col("island_start")).as("covered_us"),
          (max(col("island_end")) - min(col("island_start"))).as("span_us"))
        .select(col("user_id"), col("n_islands"), col("covered_us"),
          col("span_us"),
          expr("covered_us * 1000000 div span_us").as("coverage_ppm"))
    }),

    // J2 — salted equi-join (SkewOps): known-skew fallback when AQE's
    // thresholds don't trigger; result identical to the plain join.
    "j2_salted_join" -> ((s, dir) => {
      val big = table(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice").cast("decimal(18,2)").as("v"))
      val dim = table(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      graft.ops.SkewOps.saltedEquiJoin(big, dim, "o_custkey")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("v")).cast("decimal(38,2)").cast("string").as("sum_spend"))
    }),

    // A9 — winsorized mean: clamp to [p05, p95] (exact percentiles,
    // rounded to 6dp on BOTH sides so the clamp compares identical
    // bounds), then a decimal-exact mean. The robust-statistics
    // aggregate outlier-heavy billing data needs.
    "a9_winsorized" -> ((s, dir) => {
      val bounds = table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.05)"), 6).as("lo"),
          round(expr("percentile(l_extendedprice, 0.95)"), 6).as("hi"))
      table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
        .join(broadcast(bounds), Seq("l_returnflag"))
        .withColumn("wv",
          least(greatest(col("l_extendedprice"), col("lo")), col("hi"))
            .cast("decimal(18,6)"))
        .groupBy("l_returnflag")
        .agg(
          round(sum(col("wv")).cast("decimal(38,6)").cast("double") /
            count(lit(1)), 6).as("wins_mean"),
          sum(when(col("l_extendedprice") < col("lo") ||
            col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
            .as("n_clamped"))
    }),

    // AJ3 — the skew-proof as-of join: same result as aj1, but the sweep
    // partitions on (key, day-bucket) with a bucket-spine prefix carry, so
    // a hot key spreads over its time range instead of one task's sort —
    // the fix for the as-of family's tracked hot-key caveat.
    "aj3_asof_bucketed" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(
        col("event_id"), col("user_id").as("key"),
        unix_micros(col("ts")).as("ts_us"))
      val day = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("key"),
          unix_micros(col("o_orderdate")).as("ots"))
        .agg(count(lit(1)).as("day_orders"))
      graft.ops.JoinOps
        .asofJoinPriorBucketed(ev, day, "key", "ts_us", "ots",
          Seq("day_orders"), bucketWidth = 86400000000L)
        .select(col("event_id"), col("key").as("user_id"), col("ts_us"),
          coalesce(col("asof_ts"), lit(-1L)).as("last_order_us"),
          coalesce(col("day_orders"), lit(0L)).as("last_day_orders"))
    }),

    // SRC4 — schema evolution: two parquet snapshots written with
    // DIFFERENT schemas (v1 carries event_type, v2 replaces it with
    // value) union by NAME with missing columns null-filled — the
    // schema-drift read every long-lived ingest pipeline needs. Column
    // resolution is positional-independent; the `src_v` tag proves which
    // snapshot each row came from.
    "src4_schema_evolution" -> ((s, dir) => {
      val out = s"/tmp/graft_rt_se_${ProcessHandle.current().pid()}_${dir.hashCode.toHexString}"
      val ev = table(s, dir, "events")
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"))
        .write.mode("overwrite").parquet(s"$out/v1")
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"))
        .write.mode("overwrite").parquet(s"$out/v2")
      val v1 = s.read.parquet(s"$out/v1").withColumn("src_v", lit(1))
      val v2 = s.read.parquet(s"$out/v2").withColumn("src_v", lit(2))
      v1.unionByName(v2, allowMissingColumns = true)
    }),

    // LAYOUT1 — the z-order interleave key itself, oracle-checked: the
    // pure shift/mask/or codegen chain a z-ordered write sorts by
    // (BucketingSpec proves the per-file envelope property; this row
    // pins the KEY ARITHMETIC cross-engine, so the layout both engines
    // would produce from the same data is the same layout). Inputs are
    // masked to the low 10 bits the same way on both sides.
    "layout_zorder" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"),
          pmod(col("user_id"), lit(1024L)).as("a"),
          pmod(col("event_id"), lit(1024L)).as("b"))
        .select(col("event_id"), col("a"), col("b"),
          graft.etl.Layout.zorderKey(col("a"), col("b"), 10).as("zkey"))),

    // IV2 — Allen's interval algebra over per-(user, event_type)
    // activity spans: every pair of a user's spans classified into one
    // of the THIRTEEN mutually exclusive temporal relations, rolled to
    // relation counts — the complete temporal-pair vocabulary
    // (conflict/containment/ordering audits) in one CASE ladder over
    // exact integer endpoints.
    "iv2_allen" -> ((s, dir) => {
      val iv = table(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(unix_micros(min(col("ts"))).as("st"),
          unix_micros(max(col("ts"))).as("en"))
      val a = iv.select(col("user_id"), col("event_type").as("et_a"),
        col("st").as("s1"), col("en").as("e1"))
      val b = iv.select(col("user_id"), col("event_type").as("et_b"),
        col("st").as("s2"), col("en").as("e2"))
      a.join(b, Seq("user_id")).filter(col("et_a") < col("et_b"))
        .select(graft.ops.IntervalOps.allenRelation(
          col("s1"), col("e1"), col("s2"), col("e2")).as("relation"))
        .groupBy("relation").agg(count(lit(1)).as("n_pairs"))
    }),

    // LAYOUT2 — the Hilbert-curve key beside the z-key: true adjacency
    // (consecutive keys are grid neighbors — the property the z-curve
    // gives up at every power-of-two boundary), same masked inputs,
    // oracle = the recursive bit-walk replay.
    "layout_hilbert" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"),
          pmod(col("user_id"), lit(1024L)).as("a"),
          pmod(col("event_id"), lit(1024L)).as("b"))
        .select(col("event_id"), col("a"), col("b"),
          graft.etl.Layout.hilbertKey(col("a"), col("b"), 10).as("hkey"))),

    // TS1 — time-series gap fill: dense per-user daily grid with empty
    // days surfaced as zero. Aggregate-first (events collapse before any
    // generation), per-key explode(sequence) grid — no driver loop, no
    // global calendar cross-join.
    "ts_gapfill" -> ((s, dir) =>
      graft.ops.TimeSeriesOps.gapFillCounts(
        table(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us")),
        keyCol = "user_id", tsCol = "ts_us",
        bucketWidth = 86400000000L)),

    // CDC1 — latest-wins snapshot (type-1 upsert compaction): the events
    // changelog collapses to one row per user via max(struct(version,
    // payload)) — ONE shuffle with map-side partial agg, no per-key sort
    // (the row_number formulation sorts every version of every key).
    "cdc_latest" -> ((s, dir) =>
      graft.ops.ChangeOps.latestSnapshot(
        table(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("event_type"), col("value")),
        keyCols = Seq("user_id"), ordCols = Seq("ts_us", "event_id"),
        payloadCols = Seq("event_type", "value"))),

    // CDC2 — type-2 SCD history: every change becomes a validity interval
    // [ts, next change's ts); the key's last change stays open (null).
    // One shuffle + one in-partition sort; (ts, event_id) tiebreak.
    "cdc_scd2" -> ((s, dir) =>
      graft.ops.ChangeOps.scd2(
        table(s, dir, "events").select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type")),
        keyCols = Seq("user_id"), ordCol = "ts_us", tieCol = "event_id",
        validFrom = "valid_from_us", validTo = "valid_to_us")
        .select("user_id", "event_id", "event_type",
          "valid_from_us", "valid_to_us")),

    // CDC3 — MERGE-style change application (the lakehouse MERGE INTO as
    // two scalable shuffles): the first half of the event log compacts to
    // a snapshot, the second half plays the changelog — errors are
    // deletes, everything else upserts — and applyChanges folds them into
    // the next snapshot. Covers update, insert-of-new-key, delete, and
    // delete-of-absent-key in one oracle row.
    "cdc_apply" -> ((s, dir) => {
      val cut = Types.utcMicros(2024, 1, 15)
      val ev = table(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"),
        col("event_type"), col("value"))
      val snapshot = graft.ops.ChangeOps.latestSnapshot(
        ev.filter(col("ts_us") < cut),
        keyCols = Seq("user_id"), ordCols = Seq("ts_us", "event_id"),
        payloadCols = Seq("event_type", "value"))
        .select("user_id", "event_type", "value")
      val changes = ev.filter(col("ts_us") >= cut)
        .withColumn("op",
          when(col("event_type") === "error", "delete").otherwise("upsert"))
      graft.ops.ChangeOps.applyChanges(snapshot, changes,
        keyCols = Seq("user_id"), ordCols = Seq("ts_us", "event_id"),
        payloadCols = Seq("event_type", "value"))
    }),

    // CDC4 — incremental aggregate-view maintenance: the base summary
    // (events before the cut) merges with the delta batch's summary —
    // count/sum/min/max combine algebraically, the mean derives from
    // merged state. The oracle recomputes from scratch over ALL events,
    // so the green row IS the merge ≡ recompute identity; at 100 TB only
    // the delta is fact-sized.
    "cdc_agg_merge" -> ((s, dir) => {
      val cut = Types.utcMicros(2024, 1, 15)
      val ev = table(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      val base = graft.ops.ChangeOps.microSummary(
        ev.filter(col("ts_us") < cut), Seq("user_id"), "value")
      val delta = graft.ops.ChangeOps.microSummary(
        ev.filter(col("ts_us") >= cut), Seq("user_id"), "value")
      graft.ops.ChangeOps.mergeSummaries(Seq(base, delta), Seq("user_id"))
    }),

    // CDC7 — snapshot reconciliation: the data-diff audit between two
    // keyed states (deterministically perturbed views of events:
    // adds, removes, and value edits), one full-outer join → row and
    // per-column change counts.
    "cdc_reconcile" -> ((s, dir) => {
      val base = table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val v1 = base.filter(pmod(col("event_id"), lit(7)) =!= 3)
      val v2 = base.filter(pmod(col("event_id"), lit(11)) =!= 4)
        .withColumn("value",
          when(pmod(col("event_id"), lit(13)) === 0, col("value") + 1.0)
            .otherwise(col("value")))
      graft.ops.ChangeOps.reconcile(v1, v2, "event_id",
        Seq("event_type", "value"))
    }),

    // CDC6 — incremental JOIN-view maintenance: the orders⋈lineitem
    // view advanced by append-only deltas through the delta-rule
    // expansion (base⋈base ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB), rolled up to a
    // per-month revenue summary. The oracle recomputes the FULL join
    // from scratch — equality proves the maintenance identity.
    "cdc_join_merge" -> ((s, dir) => {
      val cut = Types.utcMicros(1998, 1, 1)
      val o = table(s, dir, "orders").select(
        col("o_orderkey").as("k"), unix_micros(col("o_orderdate")).as("ots"))
      val l = table(s, dir, "lineitem").select(
        col("l_orderkey").as("k"), col("l_extendedprice"),
        unix_micros(col("l_shipdate")).as("lts"))
      val view = graft.ops.ChangeOps.joinViewMerge(
        o.filter(col("ots") < cut), o.filter(col("ots") >= cut),
        l.filter(col("lts") < cut), l.filter(col("lts") >= cut), "k")
      view
        .groupBy(expr("ots div 2678400000000").as("month_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)").cast("string").as("revenue"))
    }),

    // CDC5 — mergeable quantile state: fixed-grid histograms merge by
    // bin addition (what exact quantiles can't do), quantiles read off
    // the MERGED state in exact integer arithmetic. Oracle recomputes
    // the histogram from all events — the merge identity again, for
    // distributions.
    "cdc_hist_merge" -> ((s, dir) => {
      val cut = Types.utcMicros(2024, 1, 15)
      val ev = table(s, dir, "events").select(
        unix_micros(col("ts")).as("ts_us"), col("value"))
      def hist(df: org.apache.spark.sql.DataFrame) =
        graft.ops.ChangeOps.microHistogram(df, "value",
          HistBins, HistLoMicro, HistWidthMicro)
      graft.ops.ChangeOps.mergeHistogramQuantiles(
        Seq(hist(ev.filter(col("ts_us") < cut)),
          hist(ev.filter(col("ts_us") >= cut))),
        HistQuantilesPermille, HistLoMicro, HistWidthMicro)
    }),

    // DQ2 — population-stability-index drift between the two halves of
    // the event stream: fixed micro-grid histograms (one aggregation
    // each), add-one smoothing, per-bin micro terms that sum exactly to
    // the total PSI.
    "dq_psi_drift" -> ((s, dir) => {
      val cut = Types.utcMicros(2024, 1, 15)
      val ev = table(s, dir, "events").select(
        unix_micros(col("ts")).as("ts_us"), col("value"))
      graft.ops.ProfileOps.psiDrift(
        ev.filter(col("ts_us") < cut), ev.filter(col("ts_us") >= cut),
        "value", HistBins, HistLoMicro, HistWidthMicro)
    }),

    // F15 — event-time SESSION window aggregation via Spark's native
    // session_window() (the third window shape next to f12 tumbling /
    // f13 sliding; the same operator Structured Streaming merges state
    // with). Semantics: an event at exactly last+gap starts a NEW
    // session; the emitted end is last_event + gap (exclusive). The
    // oracle replays that as gap islands.
    "f15_session_window" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("decimal(38,6)")
            .cast("string").as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"), col("sum_value"))),

    // P1 — dataset profiling: per-column nulls / distincts / min / max in
    // ONE aggregation pass (ProfileOps; exact distincts so the oracle can
    // check — the 100 TB path flips to approx_count_distinct).
    "profile_columns" -> ((s, dir) =>
      graft.ops.ProfileOps.profile(
        table(s, dir, "orders")
          .withColumn("o_orderdate_us", unix_micros(col("o_orderdate")))
          .drop("o_orderdate"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority", "o_orderdate_us"))),

    // DQ1 — declarative constraint suite (the Deequ pattern): five rules
    // — key uniqueness, completeness, range satisfaction, domain
    // membership, JSON parseability — validated in ONE aggregation pass
    // over the table (the scan cost is rule-count-invariant), unpivoted
    // to a row per rule with the measured metric and pass/fail mark.
    // A19 — Poisson-bootstrap CI for the mean: all 64 resamples ride
    // ONE pass (per-row multiplicity = hash-derived Poisson(1) draw,
    // integer-threshold inverse CDF), replicate means in exact decimal
    // moments, CI = the 2.5%/97.5% order statistics. The at-scale
    // bootstrap — no per-replicate shuffles or sampling coordination;
    // one JOB end-to-end: the global mean and the CI order
    // statistics ride the replicate aggregation itself instead of
    // re-deriving the pipeline in three plan branches.
    "a19_bootstrap_ci" -> ((s, dir) =>
      graft.ops.ExperimentOps.bootstrapCi(
        table(s, dir, "events"), "event_id", "value")),

    // A18 — A/B experiment readout: units hash-split into two arms, the
    // event-level value metric compared as mean lift + Welch t — one
    // map-side-combined aggregation over exact decimal moments, the
    // only doubles the final fixed-order mean/variance/t expressions.
    "a18_ab_lift" -> ((s, dir) =>
      graft.ops.ExperimentOps.abLift(
        table(s, dir, "events"), "user_id", "value")),

    // Benford first-digit audit over the price column — the
    // fraud/fabrication screen for financial columns, per-digit χ²
    // terms against the log10(1+1/d) law (digit from the integer
    // part's string, never log10-of-value — libm-portable).
    "dq_benford" -> ((s, dir) =>
      graft.ops.ProfileOps.benfordAudit(
        table(s, dir, "lineitem"), "l_extendedprice")),

    "dq_constraints" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      graft.ops.ProfileOps.constraintSuite(ev, Seq(
        ("event_id_unique",
          graft.ops.ProfileOps.uniqueness(col("event_id")), 1.0),
        ("user_id_complete",
          graft.ops.ProfileOps.completeness(col("user_id")), 0.99),
        ("value_in_range",
          graft.ops.ProfileOps.satisfaction(col("value").between(0, 100)),
          0.99),
        ("type_in_domain",
          graft.ops.ProfileOps.satisfaction(
            col("event_type").isin("click", "view", "purchase", "signup")),
          0.95),
        ("props_json_k",
          graft.ops.ProfileOps.satisfaction(
            get_json_object(col("props"), "$.k").isNotNull), 0.9)))
    }),

    // F12 — event-time TUMBLING window aggregation: Spark's window()
    // function in batch (the same operator Structured Streaming uses),
    // surfaced as the window start in epoch micros. Epoch-aligned hourly
    // buckets, so the oracle is integer bucket math.
    "f12_window_tumbling" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("decimal(38,6)")
            .cast("string").as("sum_value"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("n_events"), col("sum_value"))),

    // F13 — SLIDING window aggregation (1h window / 30m slide): every
    // event lands in exactly window/slide = 2 buckets; Spark emits only
    // non-empty windows, which the oracle reproduces by exploding each
    // event onto its two bucket starts.
    "f13_window_sliding" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("n_events"))),

    // BF1 — bloom-filter join pruning, the runtime-filter pattern made
    // explicit: the dim side aggregates into a bloom filter (a scalar
    // subquery — one tiny broadcast value, never a shuffle), the fact
    // side probes it scan-adjacent, and the exact semi join afterwards
    // removes the bloom's false positives. At 100 TB the probe drops
    // non-qualifying fact rows BEFORE the join shuffle — the same plan
    // spark.sql.optimizer.runtime.bloomFilter.enabled injects, built
    // here from the publicly-surfaced expressions (GraftExtensions
    // registers Spark's internal bloom_filter_agg / might_contain).
    "bf1_bloom_prune" -> ((s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_bfv")
      table(s, dir, "customer").createOrReplaceTempView("customer_bfv")
      val pruned = s.sql(
        """SELECT c_custkey, c_name FROM customer_bfv
          |WHERE might_contain(
          |  (SELECT bloom_filter_agg(xxhash64(o_custkey), 100000L)
          |   FROM orders_bfv WHERE o_totalprice > 450),
          |  xxhash64(c_custkey))""".stripMargin)
      val big = table(s, dir, "orders").filter(col("o_totalprice") > 450)
      pruned.join(big, pruned("c_custkey") === big("o_custkey"), "left_semi")
    }),

    // J3 — null-safe equi-join (<=>): NULL keys match each other instead
    // of dropping — the join SQL's IS NOT DISTINCT FROM. Both sides
    // pre-aggregate so the null group is one row, not a cross blow-up.
    "j3_nullsafe" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .groupBy(nullif(pmod(col("user_id"), lit(50)), lit(25)).as("k"))
        .agg(count(lit(1)).as("n_events"))
      val cust = table(s, dir, "customer")
        .groupBy(nullif(pmod(col("c_custkey"), lit(50)), lit(25)).as("k"))
        .agg(count(lit(1)).as("n_cust"))
      ev.join(cust, ev("k") <=> cust("k"))
        .select(coalesce(ev("k"), lit(-1L)).as("k"),
          col("n_events"), col("n_cust"))
    }),

    // A11 — median absolute deviation: the robust dispersion statistic
    // (insensitive to the outliers that wreck stddev). Two exact
    // percentile passes; the median is rounded to 6dp on BOTH sides
    // before the deviation so the second percentile's inputs are
    // bit-identical across engines.
    "a11_mad" -> ((s, dir) => {
      val med = table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 6).as("med"))
      table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
        .join(broadcast(med), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(first(col("med")).as("median_price"),
          round(expr("percentile(abs(l_extendedprice - med), 0.5)"), 6)
            .as("mad_price"))
    }),

    // A12 — count-min sketch frequency estimation (SketchOps): fixed
    // d×w counter matrix, mergeable cell-wise, ONE shuffle to build at
    // any data volume — the unbounded-key-cardinality counting answer at
    // 100 TB. md5-salted rows make the sketch deterministic, so the
    // ESTIMATES hash-check exactly (not just bounds like a5's HLL); the
    // one-sided estimate ≥ true guarantee surfaces as a checked boolean.
    "a12_countmin" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(col("user_id"))
      val cms = graft.ops.SketchOps.cmsTable(ev, "user_id")
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("true_count"))
      val est = graft.ops.SketchOps.cmsEstimate(
        exact.select("user_id"), cms, "user_id")
      exact.join(est, Seq("user_id"))
        .select(col("user_id"), col("true_count"), col("cms_estimate"),
          (col("cms_estimate") >= col("true_count")).as("never_undercounts"))
    }),

    // A13 — heavy hitters via scan-side sketch probe: the CMS (bounded,
    // collected like a centroid matrix) filters candidate rows BEFORE
    // any key shuffle; exact re-count of survivors + threshold filter
    // drops the sketch's false positives, and estimate ≥ true means no
    // false negatives — so this provably equals the naive
    // GROUP BY + HAVING the oracle runs, while only candidate rows and
    // d×w counters ever shuffle.
    "a13_heavy_hitters" -> ((s, dir) =>
      graft.ops.SketchOps.cmsHeavyHitters(
        table(s, dir, "events").select(col("user_id")), "user_id", 80L)),

    // A17 — join-cardinality estimation by correlated key sampling (the
    // optimizer-statistics primitive: predict |A⋈B| before paying the
    // join). BOTH sides keep only keys whose md5 draw falls in 1/16 of
    // the hash space — the SAME keys survive on both sides (correlated
    // sampling: per-key contributions c_o·c_l are preserved exactly for
    // sampled keys, the thing independent row sampling gets wrong) —
    // then Σ c_o·c_l scales by 16. Scan-side filters (no index, no
    // pre-pass), two small aggregations, one sampled-key join: cost is
    // ~1/16 of the join it predicts, at any scale. The exact join rides
    // along so the row reports its own relative error in integer ppm.
    "a17_join_card_est" -> ((s, dir) => {
      val p = 16L
      val thr = graft.ops.SampleOps.HashSpace / p
      def sampled(t: String, key: String) =
        table(s, dir, t).filter(graft.ops.SampleOps.hashDraw(col(key)) < thr)
      val co = sampled("orders", "o_orderkey")
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("c_o"))
      val cl = sampled("lineitem", "l_orderkey")
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("c_l"))
      val est = co.join(cl, Seq("k"))
        .agg((sum(col("c_o") * col("c_l")) * p).as("est_rows"))
      val exact = table(s, dir, "orders").select(col("o_orderkey").as("k"))
        .join(table(s, dir, "lineitem").select(col("l_orderkey").as("k")), Seq("k"))
        .agg(count(lit(1)).as("exact_rows"))
      est.crossJoin(exact)
        .select(col("est_rows"), col("exact_rows"),
          expr("abs(est_rows - exact_rows) * 1000000 div exact_rows")
            .as("err_ppm"))
    }),

    // W8 — 2D skyline / Pareto frontier: parts not beaten on BOTH
    // price (maximize) and size (minimize) — grid-pruned two-phase
    // shape (SkylineOps), oracle = the strict-domination NOT EXISTS.
    "w8_skyline" -> ((s, dir) =>
      graft.ops.SkylineOps.skyline2(
        table(s, dir, "part").select("p_partkey", "p_retailprice", "p_size"),
        "p_retailprice", "p_size")),

    // W11 — running COUNT DISTINCT per key over event time (the
    // engagement-breadth curve): no window frame supports distinct
    // aggregation, so the standard dissolution applies — flag each
    // (key, value)'s FIRST occurrence with one row_number, then a
    // plain running sum of flags. Two windows, same key partitioning,
    // exact at any scale.
    "w11_cum_distinct" -> ((s, dir) => {
      // BOTH windows partition by user_id — the first orders by
      // (type, ts, id) so a type's earliest row is where the type
      // changes (a lag compare, not a per-(user, type) partition) —
      // one Exchange serves both, only the Sorts differ (plan-pinned)
      val wType = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("event_type"), col("ts_us"), col("event_id"))
      val wRun = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withColumn("first_seen",
          when(lag(col("event_type"), 1).over(wType).isNull ||
            lag(col("event_type"), 1).over(wType) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("n_types_seen", sum("first_seen").over(wRun))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("n_types_seen"))
    }),

    // A21 — geometric mean per group: the Σ ln micro surface (exact
    // long sum, order-independent) plus the one fixed-order exp back
    // out — the right mean for rates/ratios where the arithmetic mean
    // overweights spikes.
    "a21_geomean" -> ((s, dir) =>
      table(s, dir, "events")
        .filter(col("value") > 0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(log(col("value")) * lit(1000000.0)).cast("long"))
            .as("ln_sum_micro"))
        .select(col("event_type"), col("n"), col("ln_sum_micro"),
          round(exp(col("ln_sum_micro").cast("double") / col("n") /
            lit(1000000.0)) * lit(1000000.0)).cast("long")
            .as("geomean_micro"))),

    // A22 — harmonic mean per group (the rates mean: avg speed, avg
    // price-per-unit): per-row micro-reciprocals round once (the only
    // double), their long sum is exact, and the mean is one integer
    // floor division — n·10¹² div Σ round(10⁶/v). Completes the
    // Pythagorean trio beside avg and a21_geomean.
    "a22_harmonic_mean" -> ((s, dir) =>
      table(s, dir, "events")
        .filter(col("value") > 0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(lit(1000000.0) / col("value")).cast("long"))
            .as("recip_sum_micro"))
        .select(col("event_type"), col("n"), col("recip_sum_micro"),
          expr("n * 1000000000000 div recip_sum_micro")
            .as("harmonic_micro"))),

    // W9 — relative-position window analytics: percent_rank (rank
    // among peers) and cume_dist (fraction at-or-below) per customer
    // over order value — both exact small rationals in doubles, so the
    // surface hash-replays without rounding.
    "w9_percent_rank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
    }),

    // A20 — the sketch-accuracy data card: per event_type, the exact
    // distinct event count beside BOTH estimators this engine ships
    // (64-register raw HLL, k=64 KMV), each with its integer-ppm
    // error — the table that tells a user which sketch to trust at
    // which cardinality regime.
    "a20_sketch_accuracy" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("event_type"), col("event_id"))
      val hll = graft.ops.SketchOps.hllEstimate(
        graft.ops.SketchOps.hllRegisters(
          ev, Seq("event_type"), col("event_id")), Seq("event_type"))
        .select(col("event_type"), col("est_micro").as("hll_est_micro"))
      import org.apache.spark.sql.graft.ColumnBridge
      val kmvEst = ColumnBridge.column(
        graft.expressions.KmvDistinct(
          ColumnBridge.expression(col("event_id").cast("string")), 64)
          .toAggregateExpression())
      val base = ev.groupBy("event_type")
        .agg(countDistinct("event_id").as("exact_distinct"),
          round(kmvEst, 6).as("kmv_estimate"))
      base.join(hll, Seq("event_type"))
        .select(col("event_type"), col("exact_distinct"),
          col("hll_est_micro"),
          expr("abs(hll_est_micro - exact_distinct * 1000000)" +
            " div exact_distinct").as("hll_err_ppm"),
          col("kmv_estimate"),
          floor(abs(col("kmv_estimate") - col("exact_distinct")) /
            col("exact_distinct") * lit(1000000.0)).cast("long")
            .as("kmv_err_ppm"))
    }),

    // W7 — positional window analytics: first/last/nth order per
    // customer over the full-partition frame (unbounded both ways — the
    // default running frame would make last_value ≡ current row).
    "w7_first_last" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("ots"), col("o_orderkey"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate")).as("ots"))
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          coalesce(nth_value(col("o_orderkey"), 2).over(w), lit(-1L))
            .as("second_ok"))
    }),

    // SQL3 — subquery surface through SQL text: scalar subquery (decimal-
    // exact mean), uncorrelated IN, and correlated EXISTS, all in one
    // statement — Catalyst decorrelates; the reference's N+1 loop (R6)
    // expressed the way a SQL user would write it.
    "sql3_subqueries" -> ((s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_sqv")
      table(s, dir, "customer").createOrReplaceTempView("customer_sqv")
      table(s, dir, "nation").createOrReplaceTempView("nation_sqv")
      s.sql(
        """SELECT c_custkey, c_name FROM customer_sqv
          |WHERE c_nationkey IN
          |    (SELECT n_nationkey FROM nation_sqv WHERE n_name LIKE '%A%')
          |  AND EXISTS (
          |    SELECT 1 FROM orders_sqv o
          |    WHERE o.o_custkey = c_custkey
          |      AND o.o_totalprice > (
          |        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |                    AS DOUBLE) / count(*)
          |        FROM orders_sqv))""".stripMargin)
    }),

    // F14 — semi-structured VARIANT (Spark 4): parse once into the
    // binary variant encoding, then typed path extraction. try_* forms
    // mirror the oracle's TRY_CAST null-on-malformed behavior (ANSI-mode
    // parse_json would kill the job on one bad row). Values intentionally
    // match f2_json_parse — same semantics through the VARIANT engine
    // path instead of string get_json_object.
    "f14_variant_json" -> ((s, dir) => {
      table(s, dir, "events").createOrReplaceTempView("events_varv")
      s.sql(
        """SELECT event_id,
          |  coalesce(try_variant_get(try_parse_json(props), '$.k', 'long'), -1L)
          |    AS k
          |FROM events_varv""".stripMargin)
    }),

    // SQL4 — recursive CTE (Spark 4): generate the month spine between
    // the first and last order month by recursion, left-join per-month
    // order counts — the calendar-dimension generation pattern, in pure
    // SQL text on both engines.
    "sql4_recursive_cte" -> ((s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_rcv")
      s.sql(
        """WITH RECURSIVE months(m, mx) AS (
          |  SELECT date_trunc('MONTH', mn), date_trunc('MONTH', mx)
          |  FROM (SELECT min(o_orderdate) AS mn, max(o_orderdate) AS mx
          |        FROM orders_rcv)
          |  UNION ALL
          |  SELECT m + INTERVAL '1' MONTH, mx FROM months WHERE m < mx
          |)
          |SELECT unix_micros(m) AS month_us, coalesce(n, 0L) AS n_orders
          |FROM months LEFT JOIN (
          |  SELECT date_trunc('MONTH', o_orderdate) AS m2, count(*) AS n
          |  FROM orders_rcv GROUP BY 1) ON m = m2""".stripMargin)
    }),

    // SQL5 — LATERAL correlated subquery (Spark 3.2+/DuckDB parity): for
    // each nation, its top customer by balance — the correlated-top-1
    // shape LATERAL expresses without a window over the whole table;
    // Catalyst decorrelates it into a join. Pure SQL text on both
    // engines.
    "sql5_lateral" -> ((s, dir) => {
      table(s, dir, "nation").createOrReplaceTempView("nation_lv")
      table(s, dir, "customer").createOrReplaceTempView("customer_lv")
      s.sql(
        """SELECT n.n_name, t.c_name, t.bal
          |FROM nation_lv n,
          |LATERAL (
          |  SELECT c_name, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
          |  FROM customer_lv c
          |  WHERE c.c_nationkey = n.n_nationkey
          |  ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) DESC, c_name
          |  LIMIT 1
          |) t""".stripMargin)
        .selectExpr("n_name", "c_name", "CAST(bal AS STRING) AS top_balance")
    }),

    // F16 — null-semantics parity row: count(*) vs count(col), null-
    // skipping sums/avgs over all-null groups, null group keys grouping
    // together, and distinct-with-null — the cross-engine agreements
    // every migration silently depends on, pinned as one hash row.
    "f16_null_semantics" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(
        col("event_type"),
        // ~1/3 of values null, deterministically
        when(pmod(col("event_id"), lit(3)) === 0, col("value"))
          .otherwise(lit(null)).as("v"),
        // null group key for one event type
        when(col("event_type") === "error", lit(null).cast("string"))
          .otherwise(col("event_type")).as("k"))
      ev.groupBy("k")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("v")).as("n_nonnull"),
          countDistinct(col("v")).as("n_distinct_nonnull"),
          coalesce(sum(col("v").cast("decimal(18,6)")).cast("decimal(38,6)")
            .cast("string"), lit("(all null)")).as("sum_v"),
          // mean from the EXACT decimal sum cast to double ONCE, so the
          // division is the same IEEE step on both engines; all-null
          // groups yield null (NaN at the compare — identical both sides)
          round(sum(col("v").cast("decimal(18,6)")).cast("double") /
            count(col("v")), 6).as("avg_v"))
        .select(coalesce(col("k"), lit("(null key)")).as("k"),
          col("n_rows"), col("n_nonnull"), col("n_distinct_nonnull"),
          col("sum_v"), col("avg_v"))
    }),

    // A10 — z-score outlier flagging: per-type mean/σ derived from EXACT
    // decimal sums (order-independent), cast to double once, so the
    // per-row |v−μ|>3σ comparison is bit-identical on any partitioning
    // and in the oracle. Stats broadcast back; two scans, one tiny agg.
    "a10_zscore" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(col("event_type"), col("value"))
      val stats = ev.groupBy("event_type")
        .agg(count(col("value")).as("n"),
          sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_d"),
          sum((col("value") * col("value")).cast("decimal(28,10)"))
            .cast("double").as("sumsq_d"))
        .withColumn("mean", col("sum_d") / col("n"))
        .withColumn("sd",
          sqrt((col("sumsq_d") - col("sum_d") * col("sum_d") / col("n")) /
            (col("n") - 1)))
      ev.join(broadcast(stats.select("event_type", "mean", "sd")),
          Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(abs(col("value") - col("mean")) > lit(3.0) * col("sd"), 1L)
            .otherwise(0L)).as("n_outliers"))
    }),

    // Spearman rank correlation between quantity and discount — the
    // monotone-association card. Ranks come from the DISTINCT-value
    // spines (50 and 11 values), never a data sort; the tie-averaged
    // doubled ranks broadcast back onto the scan; one exact decimal(38)
    // moment pass. See StatsOps.spearman for the scale contract.
    "profile_spearman" -> ((s, dir) =>
      graft.ops.StatsOps.spearman(
        table(s, dir, "lineitem"), "l_quantity", "l_discount")),

    // χ² independence cells for returnflag × linestatus: the full
    // margin-cross spine with expected counts and micro-additive χ²
    // terms. One cell aggregation; margins derived from the cells.
    "dq_chi_square" -> ((s, dir) =>
      graft.ops.StatsOps.chiSquareCells(
        table(s, dir, "lineitem"), "l_returnflag", "l_linestatus")),

    // Cramér's V effect size over the same pair — the normalized
    // "how associated" single-row card the raw χ² statistic isn't.
    "dq_cramers_v" -> ((s, dir) =>
      graft.ops.StatsOps.cramersV(
        table(s, dir, "lineitem"), "l_returnflag", "l_linestatus")),

    // Kendall's τ-b over the same pair as profile_spearman — pair
    // concordance computed from the contingency CELLS (domains² cell
    // pairs, broadcast), never from the O(n²) data pairs.
    "profile_kendall" -> ((s, dir) =>
      graft.ops.StatsOps.kendallTauB(
        table(s, dir, "lineitem"), "l_quantity", "l_discount")),

    // robust outlier census: EXACT median/MAD per event type (spine
    // cumulative counts, never a data sort) and the modified-z 3.5-cut
    // count — the masking-proof twin of a10_zscore.
    "dq_robust_zscore" -> ((s, dir) =>
      graft.ops.StatsOps.robustZscore(
        table(s, dir, "events"), "event_type", "value")),

    // exact 10%-trimmed mean per event type beside the plain mean —
    // surviving multiplicities are pure-integer window formulas on the
    // value spine (no data sort, no percentile approximation).
    "a24_trimmed_mean" -> ((s, dir) =>
      graft.ops.StatsOps.trimmedMean(
        table(s, dir, "events"), "event_type", "value"))
  )
}
