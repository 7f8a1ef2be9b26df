package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Time-series densification: filling the silent gaps an event log
  * doesn't record. Downstream models (rate charts, anomaly baselines,
  * training-curriculum schedules) need a row for every bucket, including
  * the empty ones.
  */
object TimeSeriesOps {

  /** [[theilSen]]'s hot-key ceiling — the shared quadratic-fold bound
    * (see [[SessionOps.DefaultMaxQuadraticPerKey]]): 10⁴ points ≈
    * 5·10⁷ slope doubles ≈ 400 MB in the hot row's array.
    */
  val DefaultMaxPointsQuadratic: Long = SessionOps.DefaultMaxQuadraticPerKey

  /** Dense per-key bucket grid with aggregated values; missing buckets
    * surface with `fillValue`.
    *
    * Shape at scale: aggregate FIRST (events collapse to one short row
    * per nonempty (key, bucket) — map-side partial combine), then each
    * key's span generates its grid with `explode(sequence(...))` — the
    * generated rows never touch the raw event stream, and generation is
    * distributed per key, never a driver loop or a global calendar
    * cross-join. The grid left-joins the (already tiny) aggregates on
    * (key, bucket); both sides hash the same key pair, one aligned
    * shuffle each.
    *
    * `tsCol` is numeric (epoch micros), non-negative; buckets are
    * `ts div bucketWidth`. Each key's grid spans ITS OWN [min, max]
    * bucket — global alignment is the caller's concern (pass an explicit
    * spine if the fleet must share one).
    */
  def gapFillCounts(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      bucketWidth: Long,
      fillValue: Long = 0L
  ): DataFrame = {
    val perBucket = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("__bkt", expr(s"$tsCol div ${bucketWidth}L"))
      .groupBy(col(keyCol), col("__bkt"))
      .agg(count(lit(1)).as("__n"))
    val grid = perBucket
      .groupBy(col(keyCol))
      .agg(min("__bkt").as("__lo"), max("__bkt").as("__hi"))
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"))).as("__bkt"))
    grid
      .join(perBucket, Seq(keyCol, "__bkt"), "left")
      .select(col(keyCol),
        (col("__bkt") * bucketWidth).as("bucket_start"),
        coalesce(col("__n"), lit(fillValue)).as("n_events"))
  }

  /** Per-key exponential moving average (α = 1/2) over the event-time
    * order — the anomaly-baseline / trend-smoothing primitive a window
    * function cannot express (EMA is recursive: each value depends on
    * the previous SMOOTHED value, not a frame of raw ones).
    *
    * One shuffle to the key, then a single in-row fold over the sorted
    * event list (the K1 state-machine shape), emitting every
    * intermediate smoothed value. Carries the [[SessionOps]] hot-key
    * guard: the per-key count rides the same aggregation and a
    * pathological key fails loudly instead of OOMing the fold at 100×.
    *
    * Numeric contract: the smoothed state lives in scale-0 micro longs
    * — s₀ = round(v₀·1e6), sₜ = round(0.5·vₜ·1e6 + 0.5·sₜ₋₁) — every
    * round a portable scale-0 on identical doubles, so the whole
    * recursion replays in the oracle's recursive CTE.
    *
    * Input needs (keyCol, tsCol, seqCol, valCol); ties order by seqCol.
    * Returns (key, seq, ema_micro) for every input row.
    */
  def emaSmooth(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      seqCol: String,
      valCol: String,
      maxEventsPerKey: Long = SessionOps.DefaultMaxEventsPerKey
  ): DataFrame = {
    // the fold runs in the native [[graft.expressions.EmaFold]]: a
    // Column `aggregate` form re-copies its accumulated output array
    // every step (O(m²) boxed allocations per key) and evaluates
    // interpreted; the native loop is the same arithmetic in one pass.
    val sorted = sort_array(collect_list(
      struct(col(tsCol).as("t"), col(seqCol).as("q"), col(valCol).as("v"))))
    events
      .groupBy(col(keyCol))
      .agg(sorted.as("evs"), count(lit(1)).as("n"))
      .select(col(keyCol),
        SessionOps.hotKeyGuarded(
          ColumnBridge.column(graft.expressions.EmaFold(
            ColumnBridge.expression(col("evs")))),
          col("n"), col(keyCol), maxEventsPerKey, "emaSmooth").as("z"))
      .select(col(keyCol), explode(col("z")).as("p"))
      .select(col(keyCol), col("p.q").as(seqCol), col("p.m").as("ema_micro"))
  }

  /** Per-key rolling z-score over a TRAILING window of `windowN` prior
    * observations — the frame-expressible anomaly detector (contrast
    * [[emaSmooth]], which needs the fold): each value is scored against
    * the `windowN` values strictly BEFORE it, so an outlier cannot
    * inflate its own baseline, and the first `windowN` rows of every key
    * are unscored warm-up.
    *
    * Shape at scale: ONE shuffle to the key, then window aggregates in a
    * single per-key sort — no collect_list (Spark's window operator
    * spills; a hot key degrades, it does not OOM), no second pass: mean
    * and variance come from sum/sum-of-squares over the same frame.
    *
    * Numeric contract (PLANS.md): values round to 6dp DECIMAL so the
    * frame sums are exact in any partition order; the z ratio is the one
    * double step, computed from identical exact inputs with identical
    * operation order on both engines, then scale-0 micro-rounded. The
    * var > 0 guard compares the same double, so the exclusion (a
    * constant trailing window has no scale) is engine-identical too.
    *
    * Returns (key, seq, z_micro, is_anomaly) for every fully-windowed
    * row; `is_anomaly` = |z| ≥ `zThresholdMicro` as 0/1.
    */
  def rollingZScore(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      seqCol: String,
      valCol: String,
      windowN: Int = 20,
      zThresholdMicro: Long = 3000000L
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tw = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(seqCol))
      .rowsBetween(-windowN, -1)
    val vd = col("v").cast("double")
    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    val nd = col("n").cast("double")
    // ANSI mode raises on ANY division by zero (doubles included), and
    // short frames surface n ∈ {0, 1}; the when-guard keeps the divisions
    // unevaluated there (CaseWhen branches are lazy) — the DuckDB replay
    // needs no twin because its double division never raises.
    val variance = when(col("n") >= 2,
      (s2d - s1d * s1d / nd) / (nd - lit(1.0))).otherwise(lit(-1.0))
    events
      .select(col(keyCol), col(tsCol), col(seqCol),
        round(col(valCol), 6).cast("decimal(18,6)").as("v"))
      .select(col(keyCol), col(seqCol), col("v"),
        sum(col("v")).over(tw).as("s1"),
        sum(col("v") * col("v")).over(tw).as("s2"),
        count(lit(1)).over(tw).as("n"))
      .filter(col("n") === windowN && variance > 0)
      .select(col(keyCol), col(seqCol),
        round((vd - s1d / nd) / sqrt(variance) * 1e6, 0)
          .cast("long").as("z_micro"))
      .select(col(keyCol), col(seqCol), col("z_micro"),
        when(abs(col("z_micro")) >= zThresholdMicro, 1L).otherwise(0L)
          .as("is_anomaly"))
  }

  /** Holt-Winters additive triple-exponential smoothing per key
    * (α = β = γ = 1/2, seasonal period `period` BY ARRIVAL INDEX — the
    * event-cadence analog of calendar seasonality):
    *
    *   l_t = ½·(y_t·10⁶ − s_{t−p}) + ½·(l_{t−1} + b_{t−1})
    *   b_t = ½·(l_t − l_{t−1}) + ½·b_{t−1}
    *   s_t = ½·(y_t·10⁶ − l_t) + ½·s_{t−p}
    *
    * initialized l₀ = y₀·10⁶, b₀ = 0, seasonal slots 0 (indices learn
    * as cycles pass — the no-lookahead init, documented like
    * [[holtSmooth]]'s). The completion of the smoothing family
    * (EMA → Holt → Holt-Winters): level, trend, AND a p-slot seasonal
    * state no window frame can express. Same one-shuffle per-key fold,
    * with the seasonal ring carried as a p-element long array in the
    * accumulator; every step rounds the same fixed-order doubles as
    * the oracle's recursive CTE, so the three states replay exactly.
    *
    * Returns (key, seq, level_micro, trend_micro, seasonal_micro).
    */
  def holtWintersSmooth(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      seqCol: String,
      valCol: String,
      period: Int = 7,
      maxEventsPerKey: Long = SessionOps.DefaultMaxEventsPerKey
  ): DataFrame = {
    require(period >= 2, "holtWintersSmooth needs period >= 2")
    // native fold ([[graft.expressions.HoltWintersFold]]), same reason
    // as emaSmooth's: a Column `aggregate` form's per-step array concat
    // is O(m²) interpreted allocation.
    val sorted = sort_array(collect_list(
      struct(col(tsCol).as("t"), col(seqCol).as("q"), col(valCol).as("v"))))
    events
      .groupBy(col(keyCol))
      .agg(sorted.as("evs"), count(lit(1)).as("n"))
      .select(col(keyCol),
        SessionOps.hotKeyGuarded(
          ColumnBridge.column(graft.expressions.HoltWintersFold(
            ColumnBridge.expression(col("evs")), period)),
          col("n"), col(keyCol), maxEventsPerKey, "holtWintersSmooth")
          .as("z"))
      .select(col(keyCol), explode(col("z")).as("p"))
      .select(col(keyCol), col("p.q").as(seqCol),
        col("p.l").as("level_micro"), col("p.b").as("trend_micro"),
        col("p.s").as("seasonal_micro"))
  }

  /** Wald-Wolfowitz runs test per key: is the sequence's above/below-
    * mean pattern RANDOM, or does it trend/oscillate? (Too few runs =
    * trending, too many = oscillating — the independence sanity check
    * before any i.i.d.-assuming statistic.) The above-mean sign
    * compares v·n > Σv in EXACT decimals (the mean's division scaled
    * out), runs count through one lag window, and the z-score uses the
    * classic identity σ² = (μ−1)(μ−2)/(N−1) in fixed-order doubles,
    * micro-rounded. Keys need both signs present (n1, n2 ≥ 1). Returns
    * (key, n1, n2, n_runs, z_micro).
    */
  def runsTest(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      seqCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(col(keyCol))
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(seqCol))
    val v = round(col(valCol), 6).cast("decimal(18,6)")
    val staged = events
      .select(col(keyCol), col(tsCol), col(seqCol), v.as("v"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("v")).over(wAll))
      .withColumn("sign",
        when(col("v") * col("n") > col("s"), 1L).otherwise(0L))
      .withColumn("prev", lag(col("sign"), 1).over(wOrd))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") === col("sign"), 0L)
          .otherwise(1L))
    val agg = staged.groupBy(col(keyCol))
      .agg(max(col("n")).as("nn"), sum(col("sign")).as("n1"),
        (lit(1L) + sum(col("chg"))).as("n_runs"))
      .withColumn("n2", col("nn") - col("n1"))
      .filter(col("n1") >= 1 && col("n2") >= 1 && col("nn") >= 3)
    val mu = lit(2.0) * col("n1") * col("n2") / col("nn") + lit(1.0)
    val sig2 = (mu - lit(1.0)) * (mu - lit(2.0)) / (col("nn") - 1)
    agg.select(col(keyCol), col("n1"), col("n2"), col("n_runs"),
      round((col("n_runs") - mu) / sqrt(sig2) * lit(1000000.0))
        .cast("long").as("z_micro"))
  }

  /** Per-key autocorrelation at lags 1..maxLag — the "how much does
    * yesterday predict today" profile that decides whether an EMA/Holt
    * baseline is even worth fitting. The lag pairing is one per-key
    * window (`lag` over the event-time order), pair moments accumulate
    * as exact decimals, and each lag's Pearson r derives in fixed
    * double order, micro-rounded. r is computed over the n−l COMPLETE
    * pairs (the standard sample ACF up to its n/(n−l) factor — this is
    * the Pearson-of-pairs form, replayable without a variance
    * convention argument). Returns (key, lag, n_pairs, r_micro); keys
    * need ≥ 3 pairs at a lag to emit it (the correlation of fewer is
    * noise by construction).
    */
  def acf(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      seqCol: String,
      valCol: String,
      maxLag: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(seqCol))
    val v = round(col(valCol), 6).cast("decimal(18,6)")
    val base = events.select(col(keyCol), col(tsCol), col(seqCol), v.as("v"))
    val lagged = (1 to maxLag).map { l =>
      base
        .withColumn("vl", lag(col("v"), l).over(w))
        .filter(col("vl").isNotNull)
        .select(col(keyCol), lit(l.toLong).as("lag"),
          col("v"), col("vl"))
    }.reduce(_ unionAll _)
    val m = lagged.groupBy(col(keyCol), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("sx"), sum(col("vl")).as("sy"),
        sum(col("v") * col("vl")).as("sxy"),
        sum(col("v") * col("v")).as("sxx"),
        sum(col("vl") * col("vl")).as("syy"))
      .filter(col("n") >= 3)
    val dn = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    m.select(col(keyCol), col("lag"), col("n").as("n_pairs"),
      round((dn * d("sxy") - d("sx") * d("sy")) /
        sqrt((dn * d("sxx") - d("sx") * d("sx")) *
          (dn * d("syy") - d("sy") * d("sy"))) * lit(1000000.0))
        .cast("long").as("r_micro"))
  }

  /** Ljung-Box portmanteau whiteness test per key (Ljung & Box,
    * Biometrika 1978): Q = n(n+2)·Σ_{k≤h} ρ_k²/(n−k) over the [[acf]]
    * autocorrelations — "is there ANY autocorrelation left", the
    * residual-diagnostics gate a forecasting pipeline (Holt/
    * Holt-Winters here) runs before trusting its model. Rejecting keys
    * still carry structure the model missed.
    *
    * Shape: rides the acf relation (maxLag short unions + one
    * aggregation) plus one per-key count — nothing new touches data
    * rows. Each lag's term rounds to e-12 units from the already
    * micro-rounded ρ (exact long sum, order-free); Q evaluates in one
    * fixed double order, milli-rounded. The χ²(maxLag) 5% decision only
    * applies when ALL maxLag lags exist (shorter keys report null —
    * their dof differs). Returns (key, n_obs, n_lags, q_milli, reject).
    */
  def ljungBox(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      seqCol: String,
      valCol: String,
      maxLag: Int,
      crit: Double): DataFrame = {
    val rho = acf(events, keyCol, tsCol, seqCol, valCol, maxLag)
    val nTab = events.groupBy(col(keyCol))
      .agg(count(col(valCol)).as("n_obs"))
    val r = col("r_micro").cast("double") / lit(1000000.0)
    val term = round(r * r / (col("n_obs") - col("lag")) *
      lit(1000000000000.0)).cast("long")
    val critMilli = math.round(crit * 1000.0)
    rho.join(nTab, keyCol)
      .select(col(keyCol), col("n_obs"), col("lag"), term.as("t12"))
      .groupBy(col(keyCol), col("n_obs"))
      .agg(sum("t12").as("s12"), count(lit(1)).as("n_lags"))
      .select(col(keyCol), col("n_obs"), col("n_lags"),
        round(col("n_obs").cast("double") * (col("n_obs") + 2) *
          (col("s12").cast("double") / lit(1000000000000.0)) * lit(1000.0))
          .cast("long").as("q_milli"))
      .withColumn("reject",
        when(col("n_lags") === maxLag, col("q_milli") > critMilli)
          .otherwise(lit(null).cast("boolean")))
  }

  /** Day-of-week seasonality profile per key: the per-dow mean beside
    * the SEASONAL STRENGTH — the between-dow share of total variance
    * (the one-way ANOVA R²), which says whether the weekly pattern is
    * real structure or noise before anyone fits to it. dow comes from
    * epoch-day mod 7 (engine-free — the engines disagree on
    * dayofweek()'s origin). Moments are exact decimals; per-dow
    * between-variance terms round to micro LONGS before summing (the
    * float-Σ order trap), and the final share is one integer floor
    * division. Returns (key, dow, n_events, mean_micro, strength_ppm)
    * with the key's strength repeated on its 7 rows.
    */
  def dowSeasonality(
      events: DataFrame,
      keyCol: String,
      tsMicrosCol: String,
      valCol: String): DataFrame = {
    val v = round(col(valCol), 6).cast("decimal(18,6)")
    val cell = events
      .select(col(keyCol),
        pmod(expr(s"$tsMicrosCol div 86400000000"), lit(7)).as("dow"),
        v.as("v"))
      .groupBy(col(keyCol), col("dow"))
      .agg(count(lit(1)).as("n_d"), sum(col("v")).as("s1_d"),
        sum(col("v") * col("v")).as("s2_d"))
    val tot = cell.groupBy(col(keyCol))
      .agg(sum("n_d").as("n"), sum("s1_d").as("s1"), sum("s2_d").as("s2"))
    val m = col("s1").cast("double") / col("n")
    val md = col("s1_d").cast("double") / col("n_d")
    val terms = cell.join(tot, Seq(keyCol))
      .withColumn("ssb_t",
        round(col("n_d") * ((md - m) * (md - m)) * lit(1000000.0))
          .cast("long"))
      .withColumn("mean_micro", round(md * lit(1000000.0)).cast("long"))
    val ssb = terms.groupBy(col(keyCol)).agg(sum("ssb_t").as("ssb"))
    terms
      .join(ssb, Seq(keyCol))
      .withColumn("sst",
        round((col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") / col("n")) *
          lit(1000000.0)).cast("long"))
      .select(col(keyCol), col("dow"), col("n_d").as("n_events"),
        col("mean_micro"),
        when(col("sst") > 0, expr("ssb * 1000000 div sst")).otherwise(0L)
          .as("strength_ppm"))
  }

  /** CUSUM changepoint detection (Page 1954, the offline max-|CUSUM|
    * form): per key, the candidate changepoint is the position where
    * the cumulative deviation from the key's own mean peaks. Kept
    * EXACT by scaling out the division: with S = Σx and n points,
    * cusum_t = Σ_{i≤t} x_i·n − t·S is n·(the usual cusum) — same
    * argmax, pure integer arithmetic, no mean rounding anywhere. The
    * argmax takes the LARGEST |cusum|, ties to the earliest position
    * (the max-struct trick: one aggregation, no second window).
    *
    * One shuffle to the key, one per-key window, one aggregation.
    * Returns (key, n_points, x_total, cp_pos, cp_ts, cusum_abs) for
    * keys with ≥ 2 points; cp_pos ∈ [1, n−1] (the boundary cusum_n = 0
    * is excluded — it is identically zero, not a changepoint).
    */
  def cusumChangepoint(
      points: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val wAll = Window.partitionBy(col(keyCol))
    val staged = points
      .select(col(keyCol), col(tsCol), col(valCol).cast("long").as("x"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("x")).over(wAll))
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("cx",
        sum(col("x") * col("n")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cusum", col("cx") - col("t") * col("s"))
      .filter(col("n") >= 2 && col("t") < col("n"))
    staged
      .groupBy(col(keyCol), col("n").as("n_points"), col("s").as("x_total"))
      .agg(max(struct(abs(col("cusum")).as("a"), (-col("t")).as("negt"),
        col(tsCol).as("ts"), col("cusum").as("c"))).as("m"))
      .select(col(keyCol), col("n_points"), col("x_total"),
        (-col("m.negt")).as("cp_pos"), col("m.ts").as("cp_ts"),
        col("m.a").as("cusum_abs"))
  }

  /** Per-key Holt linear (double-exponential) smoothing, α = β = 1/2 —
    * the trend-aware extension of [[emaSmooth]]: two recursive states,
    *
    *   l_t = ½·v_t·10⁶ + ½·(l_{t−1} + b_{t−1})   (level)
    *   b_t = ½·(l_t − l_{t−1}) + ½·b_{t−1}       (trend)
    *
    * initialized l₀ = v₀·10⁶, b₀ = 0 (the zero-trend start — no
    * lookahead, documented). A window frame cannot express either
    * state (both depend on the previous SMOOTHED values), so this is
    * the same one-shuffle per-key fold as emaSmooth with a two-field
    * accumulator, hot-key guarded the same way. The one-step-ahead
    * forecast is l + b by definition — derivable from the output, not
    * materialized.
    *
    * Numeric contract: states are scale-0 micro longs, every step
    * rounds the same double expression in the same operation order as
    * the oracle's recursive CTE — engine-exact.
    *
    * Returns (key, seq, level_micro, trend_micro) for every input row.
    */
  def holtSmooth(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      seqCol: String,
      valCol: String,
      maxEventsPerKey: Long = SessionOps.DefaultMaxEventsPerKey
  ): DataFrame = {
    // native fold ([[graft.expressions.HoltFold]]), same reason as
    // emaSmooth's.
    val sorted = sort_array(collect_list(
      struct(col(tsCol).as("t"), col(seqCol).as("q"), col(valCol).as("v"))))
    events
      .groupBy(col(keyCol))
      .agg(sorted.as("evs"), count(lit(1)).as("n"))
      .select(col(keyCol),
        SessionOps.hotKeyGuarded(
          ColumnBridge.column(graft.expressions.HoltFold(
            ColumnBridge.expression(col("evs")))),
          col("n"), col(keyCol), maxEventsPerKey, "holtSmooth").as("z"))
      .select(col(keyCol), explode(col("z")).as("p"))
      .select(col(keyCol), col("p.q").as(seqCol),
        col("p.l").as("level_micro"), col("p.b").as("trend_micro"))
  }

  /** Theil-Sen robust trend estimator per key (Theil 1950 / Sen 1968):
    * the median of all pairwise slopes — the drift detector a few
    * outlier points cannot drag the way they drag an OLS fit (breakdown
    * point ~29% vs 0%).
    *
    * Shape: one shuffle collects each key's (ts, value) points into a
    * sorted in-row array (the R5/K1 bounded-events-per-key contract —
    * same as [[acf]]); the O(m²) pair expansion, sort, and median pick
    * all happen INSIDE the row with higher-order functions — no
    * self-join, nothing data-sized crosses a second shuffle. Equal-ts
    * pairs are excluded (no slope exists); keys left with zero pairs
    * drop. Each slope evaluates in one fixed double order
    * (Δv / (Δt_us / 10⁶) — per-second units), the median is the LOWER
    * median (a value that occurred, picked by position — no averaging),
    * micro-rounded once at the end.
    *
    * Because the in-row expansion is QUADRATIC in the key's point
    * count (m points → m(m−1)/2 slopes), the hot-key ceiling here is
    * [[DefaultMaxPointsQuadratic]] (10⁴ points ≈ 5·10⁷ slopes ≈
    * 400 MB in one task's array), not the linear-fold 10⁷ default —
    * a key past the bound raises with its name instead of OOMing
    * silently. The count rides the same aggregation: zero extra
    * shuffles.
    *
    * Returns (key, n_pts, n_pairs, slope_micro).
    */
  def theilSen(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      maxEventsPerKey: Long = DefaultMaxPointsQuadratic): DataFrame = {
    // pair slopes, sort and median pick run in the native TheilSenStats
    val pts = sort_array(collect_list(struct(
      col(tsCol).cast("long").as("t"), col(valCol).cast("double").as("v"))))
    val arr = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(valCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(pts.as("pts"), count(lit(1)).as("__n"))
    arr
      .select(col(keyCol), size(col("pts")).cast("long").as("n_pts"),
        SessionOps.hotKeyGuarded(
          ColumnBridge.column(graft.expressions.TheilSenStats(
            ColumnBridge.expression(col("pts")))),
          col("__n"), col(keyCol), maxEventsPerKey, "theilSen").as("st"))
      .filter(col("st.n_pairs") > 0)
      .select(col(keyCol), col("n_pts"),
        col("st.n_pairs").as("n_pairs"),
        round(col("st.median") * lit(1000000.0))
          .cast("long").as("slope_micro"))
  }

  /** SAX symbolization (Lin et al., DMKD 2007): each key's series
    * z-normalizes, aggregates to `segments` equal-count PAA frames, and
    * each frame maps to a symbol by the standard-normal breakpoints —
    * the discretization that turns raw series into joinable/groupable
    * WORDS (motif mining, series dedup, symbolic anomaly lookup).
    *
    * Shape: two aligned shuffles on the key — per-(key, segment) PAA
    * partial sums (map-side combined; the segment index derives from a
    * per-key row_number window) and per-key moments — then the word
    * concatenates from a sorted in-row array of segment symbols. Value
    * sums ride 6dp-DECIMAL (exact, order-independent); mean/σ/PAA-z
    * evaluate in one fixed double order; a flat or single-point series
    * (σ = 0) symbolizes as all-'c' (z ≡ 0) rather than erroring.
    * Alphabet is fixed at 4: breakpoints −0.6745, 0, 0.6745 (the N(0,1)
    * quartiles, the standard a-b-c-d SAX alphabet).
    *
    * Returns (key, n_pts, sax_word).
    */
  def sax(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      valCol: String,
      segments: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v6 = round(col(valCol).cast("double"), 6).cast("decimal(18,6)")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val base = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(valCol).isNotNull)
      .withColumn("__i", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(keyCol)))
      .withColumn("__seg",
        floor((col("__i") - 1).cast("double") * segments / col("__n"))
          .cast("int"))
    val segs = base.groupBy(col(keyCol), col("__seg"))
      .agg(sum(v6).as("s1"), count(lit(1)).as("c"))
    val moments = base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_pts"), sum(v6).as("m1"),
        sum(v6 * v6).as("m2"))
      .withColumn("mean", col("m1").cast("double") / col("n_pts"))
      .withColumn("sd",
        when(col("n_pts") < 2, lit(0.0)).otherwise(sqrt(
          (col("n_pts") * col("m2").cast("double") -
            col("m1").cast("double") * col("m1").cast("double")) /
            (col("n_pts") * (col("n_pts") - 1)))))
    val z = when(col("sd") <= 0, lit(0.0))
      .otherwise((col("s1").cast("double") / col("c") - col("mean")) /
        col("sd"))
    val sym = when(z < -0.6745, "a").when(z < 0.0, "b")
      .when(z < 0.6745, "c").otherwise("d")
    segs.join(moments, keyCol)
      .select(col(keyCol), col("n_pts"),
        struct(col("__seg"), sym.as("sym")).as("p"))
      .groupBy(col(keyCol), col("n_pts"))
      // bounded: per-key symbol list — exactly `segments` entries (the
      // PAA frames), fixed by the parameter, independent of data volume.
      .agg(array_join(transform(
        sort_array(collect_list(col("p"))), x => x.getField("sym")), "")
        .as("sax_word"))
  }
}
