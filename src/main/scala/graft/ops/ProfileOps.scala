package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset profiling: per-column null counts, distinct counts, and
  * min/max — the data-quality summary a pipeline computes before/after
  * every transform stage.
  *
  * Shape at scale: one independent single-column aggregate per profiled
  * column, unioned. Each branch's parquet scan prunes to THAT column
  * (columnar I/O: the table is read once in total), its partial
  * aggregates combine map-side, and only distinct values cross the
  * shuffle. The tempting one-pass formulation — one aggregate with six
  * `count(distinct)`s — plans an Expand that duplicates every row per
  * distinct column BEFORE the shuffle (measured 6× the shuffle volume
  * and ~10× the runtime here); per-column branches are the shape that
  * survives a wide table at 100 TB. Exact distincts are oracle-checkable;
  * pass `exact = false` to flip to HLL sketches (no distinct shuffle at
  * all) when estimates suffice.
  *
  * Values are surfaced as strings (numerics through DECIMAL(18,6), so
  * both engines print identical fixed-scale forms; timestamps as epoch
  * micros upstream of the call).
  */
object ProfileOps {

  /** Declarative data-quality constraint suite (the Deequ pattern:
    * validation as ONE aggregation pass, not one job per rule). Each
    * check is (name, metric aggregate, minimum acceptable value); the
    * whole suite compiles into a single `agg` — every metric combines
    * map-side, one 1-row partial crosses the shuffle per partition —
    * then unpivots to one (check_name, metric, min_accept, passed) row
    * per rule. At 100 TB the suite costs one corpus scan regardless of
    * how many rules it carries.
    *
    * Metric helpers below return FRACTIONS in [0,1] so thresholds read
    * uniformly. Metrics are rounded to 6dp (cross-engine hash parity).
    * Over an EMPTY input every metric is null and `passed` is 0 — a
    * gate that cannot observe its data must fail closed, not pass open.
    *
    * One [[uniqueness]] check plans as a single-distinct two-phase
    * aggregate (no Expand); several distinct-based checks on DIFFERENT
    * columns would Expand the scan per distinct column — split those
    * into separate suites if the input is wide.
    */
  def constraintSuite(
      df: DataFrame,
      checks: Seq[(String, Column, Double)]): DataFrame = {
    require(checks.nonEmpty, "constraintSuite needs at least one check")
    val metrics = checks.zipWithIndex.map { case ((_, m, _), i) =>
      round(m, 6).as(s"m_$i")
    }
    val one = df.agg(metrics.head, metrics.tail: _*)
    val stacked = checks.zipWithIndex.map { case ((name, _, minA), i) =>
      s"'$name', m_$i, CAST($minA AS DOUBLE)"
    }.mkString(", ")
    one
      .selectExpr(s"stack(${checks.length}, $stacked) AS " +
        "(check_name, metric, min_accept)")
      .select(col("check_name"), col("metric"), col("min_accept"),
        when(col("metric") >= col("min_accept"), lit(1L)).otherwise(lit(0L))
          .as("passed"))
  }

  /** Fraction of rows where `c` is non-null. */
  def completeness(c: Column): Column =
    avg(when(c.isNotNull, 1d).otherwise(0d))

  /** Distinct values over rows — 1.0 ⇔ the column is a key. The
    * denominator nulls out over zero rows (ANSI mode would otherwise
    * throw DIVIDE_BY_ZERO), making the metric null like the avg-based
    * ones — which [[constraintSuite]] fails closed.
    */
  def uniqueness(c: Column): Column =
    count_distinct(c).cast("double") /
      when(count(lit(1)) > 0, count(lit(1)))

  /** Fraction of rows satisfying an arbitrary row predicate. */
  def satisfaction(pred: Column): Column =
    avg(when(pred, 1d).otherwise(0d))

  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    def asStr(c: Column, name: String): Column = df.schema(name).dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType =>
        c.cast("decimal(18,6)").cast("string")
      case _ => c.cast("string")
    }
    cols.map { c =>
      df.select(col(c)).agg(
        // coalesce: sum over ZERO rows is null, but "no nulls seen" is 0
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as("n_nulls"),
        (if (exact) countDistinct(col(c)) else approx_count_distinct(col(c)))
          .as("n_distinct"),
        asStr(min(col(c)), c).as("min_val"),
        asStr(max(col(c)), c).as("max_val"))
        .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
          col("min_val"), col("max_val"))
    }.reduce(_.unionAll(_))
  }

  /** k-anonymity small-cell suppression (Sweeney 2002) — the
    * release-gating step for published data cards: aggregate by the
    * quasi-identifier columns and SUPPRESS (null out) the count of any
    * cell with fewer than `k` members, so no released row isolates a
    * small population. One aggregation; the suppression is a result
    * expression, so the gate costs nothing beyond the count itself.
    * Returns (quasi cols…, released, n_released) with `n_released`
    * null on suppressed cells.
    */
  def kAnonymize(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k > 0, "need quasi columns and k > 0")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .select(quasiCols.map(col) ++ Seq(
        (col("__n") >= k).as("released"),
        when(col("__n") >= k, col("__n")).otherwise(lit(null).cast("long"))
          .as("n_released")): _*)
  }

  /** Population-stability-index drift report between a reference batch
    * and a current batch — the "did the pipeline's input distribution
    * move" check a scheduled ingest needs before the model downstream
    * quietly degrades. PSI = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref);
    * the conventional read: < 0.1 stable, 0.1–0.25 drifting, > 0.25
    * shifted.
    *
    * Engineering contract: bins are FIXED (caller's lo/width in micro
    * units, clamped ends) so the binning is data-independent and the
    * two histogram passes are one map-side-combined aggregation each;
    * add-one smoothing on counts keeps empty bins finite
    * deterministically. All doubles derive from exact integer counts
    * with identical operation order on both engines; per-bin terms
    * surface as scale-0 micro longs that SUM EXACTLY to the total PSI
    * (micro-additive by construction — no hidden rounding at the
    * rollup).
    *
    * Returns one row per bin: (bin, ref_n, cur_n, psi_term_micro).
    */
  def psiDrift(ref: DataFrame, cur: DataFrame, valCol: String,
      nBins: Int, loMicro: Long, widthMicro: Long): DataFrame = {
    require(nBins > 0 && widthMicro > 0, "need bins and width")
    def binned(df: DataFrame): DataFrame = df
      .select(least(greatest(
        floor((round(col(valCol) * 1e6, 0).cast("long") - loMicro)
          .cast("double") / widthMicro).cast("long"),
        lit(0L)), lit(nBins - 1L)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))
    val spine = ref.sparkSession.range(0, nBins)
      .select(col("id").as("bin"))
    val joined = spine
      .join(binned(ref).withColumnRenamed("c", "ref_n"), Seq("bin"), "left")
      .join(binned(cur).withColumnRenamed("c", "cur_n"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val totals = joined.agg(sum("ref_n").as("nr"), sum("cur_n").as("nc"))
    val pr = (col("ref_n") + 1).cast("double") /
      (col("nr") + nBins).cast("double")
    val pc = (col("cur_n") + 1).cast("double") /
      (col("nc") + nBins).cast("double")
    joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        round((pc - pr) * log(pc / pr) * 1e6, 0).cast("long")
          .as("psi_term_micro"))
  }

  /** Distinct l-diversity (Machanavajjhala et al. 2007) — the layer
    * k-anonymity misses: a cell can hold ≥ k rows yet leak the
    * sensitive attribute when all of them share one value (the
    * homogeneity attack). A quasi-identifier cell releases only when
    * its sensitive column carries ≥ `l` DISTINCT values; suppressed
    * cells null their statistics, like [[kAnonymize]].
    *
    * One aggregation: the distinct count rides the same groupBy
    * (Spark plans the two-phase distinct-aggregate — partial per-cell
    * value sets never leave their partitions un-combined). Returns
    * (quasi…, released, n_released, diversity_released).
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty && l > 0, "need quasi columns and l > 0")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        count_distinct(col(sensitiveCol)).as("__d"))
      .select(quasiCols.map(col) ++ Seq(
        (col("__d") >= l).as("released"),
        when(col("__d") >= l, col("__n")).otherwise(lit(null).cast("long"))
          .as("n_released"),
        when(col("__d") >= l, col("__d")).otherwise(lit(null).cast("long"))
          .as("diversity_released")): _*)
  }

  /** Zipf / power-law fit per corpus slice: the OLS slope of
    * ln(frequency) against ln(rank) over the top `topR` terms — the
    * data card that flags a DEGENERATE source (templated or machine-
    * generated text runs much flatter than natural language's ≈ −1;
    * near-constant token streams much steeper).
    *
    * One corpus aggregation to (key, token) counts, a per-key window
    * rank capped at `topR` (WindowGroupLimit — the rank cut prunes
    * before the regression ever sees a row), then the four OLS moments
    * as EXACT decimal sums of micro-long ln terms; the closed-form
    * slope derives through identical double arithmetic + an integer
    * floor, so the surface is hash-exact. Keys with fewer than 2
    * distinct ranks report 0 (no line to fit).
    */
  def zipfSlope(docs: DataFrame, keyCol: String = "source",
      topR: Int = 200): DataFrame = {
    val c = docs
      .select(col(keyCol).as("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("c").desc, col("tok"))
    val ranked = c
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= topR)
      .select(col("source"),
        round(log(col("r").cast("double")) * lit(1000000.0)).cast("long").as("x"),
        round(log(col("c").cast("double")) * lit(1000000.0)).cast("long").as("y"))
    val n = col("n_terms").cast("double")
    val num = n * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val den = n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    ranked
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("x").cast("decimal(28,0)")).as("sx"),
        sum(col("y").cast("decimal(28,0)")).as("sy"),
        sum(col("x").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
          .as("sxy"),
        sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
          .as("sxx"))
      .select(col("source"), col("n_terms"),
        when(col("n_terms") < 2, 0L)
          .otherwise(floor(num / den * lit(1000000.0)).cast("long"))
          .as("zipf_slope_micro"))
  }

  /** Heaps-law vocabulary-growth fit V(N) = K·N^β (Heaps 1978) — the
    * companion card to [[zipfSlope]]: how fast does the vocabulary grow
    * as the corpus grows? β far from the ~0.4–0.6 natural-text band
    * flags synthetic/templated corpora (β→0: fixed vocab, β→1: id-like
    * churn), and the fit extrapolates tokenizer-vocab coverage to a
    * planned corpus size.
    *
    * Scale shape: growth is measured at `buckets` doc-id checkpoints,
    * NEVER per document — per-bucket token counts and per-bucket
    * first-occurrence vocabulary counts (min bucket per word — one
    * word-keyed aggregation) reduce the corpus to a ≤`buckets`-row
    * frame, whose cumulative sums run in a single tiny partition (the
    * w6_global_cumsum bin-summary pattern). OLS runs over
    * (ln N_j, ln V_j) in the [[zipfSlope]] exact-integer contract
    * (micro-rounded logs, DECIMAL sums, one fixed double order).
    *
    * Returns one row: (n_points, beta_micro, lnk_micro).
    */
  def heapsLaw(docs: DataFrame, buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mx = docs.agg(max("doc_id").as("mx"))
    val base = docs.crossJoin(broadcast(mx))
      .withColumn("__bkt", expr(s"(doc_id * $buckets) div (mx + 1)"))
    val tokPer = base
      .groupBy("__bkt")
      .agg(sum(TextOps.tokenCount(col("text"))).as("tk"))
    val vocPer = base
      .select(col("__bkt"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(min("__bkt").as("__bkt"))
      .groupBy("__bkt").agg(count(lit(1)).as("nv"))
    val w = Window.orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = tokPer
      .join(vocPer, Seq("__bkt"), "full_outer")
      .na.fill(0L, Seq("tk", "nv"))
      .withColumn("nn", sum("tk").over(w))
      .withColumn("vv", sum("nv").over(w))
      .filter(col("nn") > 0 && col("vv") > 0)
      .select(
        round(log(col("nn").cast("double")) * lit(1000000.0)).cast("long")
          .as("x"),
        round(log(col("vv").cast("double")) * lit(1000000.0)).cast("long")
          .as("y"))
    val n = col("n_points").cast("double")
    val num = n * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val den = n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val beta = num / den
    pts.agg(
      count(lit(1)).as("n_points"),
      sum(col("x").cast("decimal(28,0)")).as("sx"),
      sum(col("y").cast("decimal(28,0)")).as("sy"),
      sum(col("x").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
        .as("sxy"),
      sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
        .as("sxx"))
      .select(col("n_points"),
        when(col("n_points") < 2, 0L)
          .otherwise(floor(beta * lit(1000000.0)).cast("long"))
          .as("beta_micro"),
        when(col("n_points") < 2, 0L)
          .otherwise(floor((col("sy").cast("double") -
            beta * col("sx").cast("double")) / n).cast("long"))
          .as("lnk_micro"))
  }

  /** Differentially-private group-count release (Dwork et al. 2006:
    * the Laplace mechanism at sensitivity 1): each group's count is
    * published with Laplace(1/ε) noise via inverse-CDF over a
    * 16-bit md5 uniform — noise = −(1/ε)·sgn(u−½)·ln(1−2|u−½|).
    *
    * DETERMINISM CAVEAT, stated loudly: the draw is SEEDED from the
    * group key (+ `salt`) so the release hash-replays in the oracle
    * gate; a production release MUST use a secret nonce as the salt
    * (a key-derivable draw lets an adversary subtract the noise —
    * calibration is real, unpredictability comes from the salt).
    * u = (2h+1)/2¹⁷ is strictly inside (0,1) (odd numerator), so the
    * log never sees 0 and sgn never sees ½ exactly.
    *
    * One aggregation, scan-side noise — a data-card release costs one
    * pass at any scale. Returns keys :+ (n, noise_micro, n_dp_micro).
    *
    * NULL key values are sentinel-encoded (U+0000) before hashing, so
    * the groups ('a', NULL) and a single-key 'a' seed DIFFERENT draws
    * (concat_ws alone would silently drop the NULL part and collide
    * them). Each part is additionally LENGTH-PREFIXED
    * (`<char_count>:<part>`) before the '|' join, so
    * separator-containing keys cannot alias either: ('a|b', 's')
    * seeds from "3:a|b|1:s" and ('a', 'b|s') from "1:a|3:b|s" —
    * distinct groups always draw independent noise. The one remaining
    * alias: a key value that IS the single character U+0000 encodes
    * like NULL — don't put NUL bytes in group keys.
    */
  def dpCounts(df: DataFrame, keys: Seq[String], epsilon: Double = 1.0,
      salt: String = "dp"): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    val keyStr = concat_ws("|",
      keys.map { k =>
        val part = coalesce(col(k).cast("string"), lit("\u0000"))
        concat(length(part).cast("string"), lit(":"), part)
      }: _*)
    val h = graft.expressions.Md5PrefixLong.draw(
      concat(lit(salt + ":"), keyStr), 4)
    val u = (h.cast("double") * 2 + 1) / lit(131072.0)
    val cen = u - lit(0.5)
    val noise = lit(-1.0 / epsilon) * signum(cen) *
      log(lit(1.0) - lit(2.0) * abs(cen))
    counts.select(keys.map(col) ++ Seq(
      col("n"),
      round(noise * lit(1000000.0)).cast("long").as("noise_micro"),
      round((col("n").cast("double") + noise) * lit(1000000.0)).cast("long")
        .as("n_dp_micro")): _*)
  }

  /** Order- and partitioning-invariant dataset fingerprint per group:
    * Σ over rows of the 48-bit md5 slice of the '|'-joined canonical
    * row string, mod 2^48. The sum is DECIMAL (exact at any row
    * count), so two runs over the same rows agree regardless of
    * ordering, layout, or cluster size — and any single changed field
    * changes the checksum with md5 strength. One map-side-combined
    * aggregation, zero joins: the dataset-versioning primitive that
    * costs one scan at any scale.
    */
  val ChecksumMod = 1L << 48

  /** Local generalization to k-anonymity: each row releases at the
    * FINEST rung of a coarsening ladder whose cell it shares with ≥ k
    * rows — the keep-the-data alternative to [[kAnonymize]]'s
    * suppression (rows in small cells coarsen their quasi-identifiers
    * instead of vanishing). One count-window per rung (each a single
    * shuffle on that rung's key), then a first-match level pick;
    * `level = ladder.size` marks rows no rung could cover (publish
    * fully generalized or drop — the caller's policy). Returns the
    * release census: (level, n_rows, n_cells).
    */
  def kAnonGeneralize(
      df: DataFrame,
      ladder: Seq[Seq[Column]],
      k: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ladder.nonEmpty, "kAnonGeneralize needs at least one rung")
    val withCounts = ladder.zipWithIndex.foldLeft(
      df.withColumn("__cell0", lit(0))) { case (acc, (rung, i)) =>
      acc
        .withColumn(s"__c$i", count(lit(1)).over(Window.partitionBy(rung: _*)))
        .withColumn(s"__k$i", concat_ws("\u0001", rung.map(_.cast("string")): _*))
    }
    val level = ladder.indices.reverse.foldLeft(lit(ladder.size.toLong)) {
      case (acc, i) => when(col(s"__c$i") >= k, i.toLong).otherwise(acc)
    }
    val cellAtLevel = ladder.indices.reverse.foldLeft(lit("\u0000")) {
      case (acc, i) => when(col(s"__c$i") >= k, col(s"__k$i")).otherwise(acc)
    }
    withCounts
      .select(level.as("level"), cellAtLevel.as("cell"))
      .groupBy("level")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("cell").as("n_cells"))
  }

  /** EXACT two-sample Kolmogorov-Smirnov distance between two slices
    * of a numeric column: D = max_v |F_a(v) − F_b(v)| kept as pure
    * integer arithmetic — |cum_a·n_b − cum_b·n_a| maximized over the
    * merged value spine, divided once at the end — so the classic
    * distribution-drift test carries NO floating CDFs at all. The
    * α = 0.05 two-sample critical value 1.358·√((n_a+n_b)/(n_a·n_b))
    * rides along (one fixed-order double) with the reject flag.
    *
    * The spine is the column's DISTINCT values — bounded for the
    * discrete/bucketed columns this is for; the single-partition
    * cumulative window runs over that spine, never the data (bucket
    * first if the domain is continuous). Returns one row:
    * (n_a, n_b, d_ppm, crit_ppm, reject).
    */
  def ksTest(
      df: DataFrame,
      sliceCol: String,
      a: String,
      b: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spine = df.filter(col(sliceCol).isin(a, b))
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(col(sliceCol) === a, 1L).otherwise(0L)).as("c1"),
        sum(when(col(sliceCol) === b, 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = spine
      .withColumn("f1", sum("c1").over(w))
      .withColumn("f2", sum("c2").over(w))
    // totals first (1 row, broadcast), then the scaled sup distance
    val tot = spine.agg(sum("c1").as("n_a"), sum("c2").as("n_b"))
    cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        abs(col("f1") * col("n_b") - col("f2") * col("n_a")).as("dn"))
      .groupBy("n_a", "n_b")
      .agg(max("dn").as("dmax"))
      .select(col("n_a"), col("n_b"),
        expr("dmax * 1000000 div (n_a * n_b)").as("d_ppm"),
        round(lit(1.358) *
          sqrt((col("n_a") + col("n_b")).cast("double") /
            (col("n_a") * col("n_b")).cast("double")) * lit(1000000.0))
          .cast("long").as("crit_ppm"))
      .withColumn("reject",
        (col("d_ppm") > col("crit_ppm")).cast("boolean"))
  }

  /** Pairwise Pearson correlation card over numeric columns — the EDA
    * primitive ("which columns move together") from ONE aggregation:
    * all per-column and per-pair moments (6dp-DECIMAL sums — exact,
    * order-independent) collect in a single pass, and each pair's r
    * derives in a fixed double operation order from those exact
    * moments, micro-rounded. The pair rows explode from the one moment
    * row — columns² never touches the data again.
    */
  def corrCard(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrCard needs at least two columns")
    def v(c: String) = round(col(c).cast("double"), 6).cast("decimal(18,6)")
    // one native moment pass over exact micro-longs (128-bit MACs)
    // instead of 2k + k(k−1)/2 wide-decimal sums — the BigDecimal
    // accumulator path was the whole cost of the query; values are
    // bit-identical (CorrMomentsSpec pins agg == composed decimal sums)
    import org.apache.spark.sql.graft.ColumnBridge
    val mm = ColumnBridge.column(
      graft.expressions.CorrMomentsAgg(
        cols.map(c => ColumnBridge.expression(v(c))), cols)
        .toAggregateExpression())
    val m = df.agg(mm.as("mm")).select(col("mm.*"))
    corrPairsFromMoments(m, cols)
  }

  /** Shared Pearson tail: the fixed-order double arithmetic over the
    * exact moment row (whichever pass produced it).
    */
  private[graft] def corrPairsFromMoments(m: DataFrame, cols: Seq[String]): DataFrame = {
    val dn = col("n").cast("double")
    def d(name: String) = col(name).cast("double")
    val pairs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      val num = dn * d(s"sxy_${a}_$b") - d(s"sx_$a") * d(s"sx_$b")
      val den = sqrt((dn * d(s"sxx_$a") - d(s"sx_$a") * d(s"sx_$a")) *
        (dn * d(s"sxx_$b") - d(s"sx_$b") * d(s"sx_$b")))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        round(num / den * lit(1000000.0)).cast("long").as("r_micro"))
    }
    m.select(col("n"), explode(array(pairs: _*)).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
        col("n"), col("p.r_micro").as("r_micro"))
  }

  /** Jensen-Shannon divergence between two slices' token
    * distributions — the bounded, symmetric drift measure for TEXT
    * (complementing dq_psi_drift's binned-numeric PSI): JSD(P,Q) =
    * ½KL(P‖M) + ½KL(Q‖M) with M the mixture; 0 = identical, ln 2 =
    * disjoint. Never infinite (unlike raw KL), so it works on
    * vocabularies with one-sided tokens.
    *
    * Determinism: per-token contributions are computed from EXACT
    * counts in one fixed operation order and rounded to integer e-12
    * units BEFORE summation (the Σ c·ln c pattern), so the total is a
    * long sum — order- and partition-independent. One token
    * aggregation, 1-row totals broadcast, one rollup.
    *
    * Returns ONE row: (n_tokens_a, n_tokens_b, vocab_union, jsd_e12) —
    * jsd in nats scaled by 10¹².
    */
  def jsDivergence(
      docs: DataFrame,
      srcCol: String,
      a: String,
      b: String): DataFrame = {
    val byTok = docs.filter(col(srcCol).isin(a, b))
      .select(col(srcCol).as("s"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("s", "tok").agg(count(lit(1)).as("c"))
      .groupBy("tok").agg(
        sum(when(col("s") === a, col("c")).otherwise(0L)).as("ca"),
        sum(when(col("s") === b, col("c")).otherwise(0L)).as("cb"))
    val tot = byTok.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val p = col("ca").cast("double") / col("na")
    val q = col("cb").cast("double") / col("nb")
    val mix = (p + q) / lit(2.0)
    val term =
      when(col("ca") > 0, p * log(p / mix) * lit(0.5)).otherwise(lit(0.0)) +
        when(col("cb") > 0, q * log(q / mix) * lit(0.5)).otherwise(lit(0.0))
    byTok.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        round(term * lit(1000000000000.0)).cast("long").as("t12"))
      .groupBy("na", "nb")
      .agg(count(lit(1)).as("vocab_union"), sum("t12").as("jsd_e12"))
      .select(col("na").as("n_tokens_a"), col("nb").as("n_tokens_b"),
        col("vocab_union"), col("jsd_e12"))
  }

  /** Benford first-digit audit (Newcomb 1881 / Benford 1938; the
    * fraud-and-fabrication screen auditors run on financial columns):
    * observed first-significant-digit counts against the log10(1+1/d)
    * law, with the per-digit χ² term. Deviation ≠ fraud — uniform or
    * range-bounded data legitimately fails Benford — but a column that
    * USED to conform and stopped is the classic audit trigger, which is
    * why the per-digit terms ship rather than one opaque statistic.
    *
    * Determinism: the first digit comes from the INTEGER part's string
    * (values < 1 are excluded by contract) — floor/cast/substr, never
    * log10-of-value, whose libm rounding differs across engines; the
    * law's nine probabilities are Scala-computed literals interpolated
    * into both plans, so the χ² doubles see identical inputs in
    * identical order. One scan, one 9-row aggregation; the digit spine
    * keeps never-observed digits visible at zero.
    *
    * Returns (digit, n_obs, exp_micro, chi_term_micro), digits 1–9.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val ps = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
    val pLit = array(ps.map(lit): _*)
    val obs = df.filter(col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum("n_obs").as("n"))
    val spine = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val p = element_at(pLit, col("digit"))
    val dev = col("n_obs").cast("double") - col("n") * p
    spine
      .join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(tot))
      .select(col("digit").cast("long").as("digit"), col("n_obs"),
        round(col("n") * p * lit(1000000.0)).cast("long").as("exp_micro"),
        round(dev * dev / (col("n") * p) * lit(1000000.0)).cast("long")
          .as("chi_term_micro"))
  }

  /** t-closeness (Li, Li, Venkatasubramanian, ICDE 2007) for an ORDERED
    * sensitive attribute: per quasi-identifier group, the earth-mover
    * distance between the group's sensitive-value distribution and the
    * global one — EMD over an ordered domain is the mean |cumulative
    * difference|, so the whole statistic is exact integer arithmetic on
    * counts: t = Σ_i |Σ_{j≤i}(c_gj·n − c_j·n_g)| / (n_g·n·(m−1)),
    * reported in integer micro-units. The homogeneity guard beyond
    * [[lDiversity]]: a group can be l-diverse yet skew heavily toward
    * one end of the sensitive range — t-closeness is the release gate
    * that catches it.
    *
    * Shape: one cell aggregation (map-side combined), group/global
    * margins derived FROM the cells (no second scan), the m-value
    * spine crossed per group (m = distinct sensitive values — small by
    * contract), one group-partitioned window for the cumulative
    * difference. Sums ride DECIMAL(38,0) so no count scale overflows.
    * Returns (qi…, n_g, t_micro); a single-valued sensitive domain
    * (m = 1) reports t = 0.
    */
  def tCloseness(
      df: DataFrame,
      qiCols: Seq[String],
      sensCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qi = qiCols.map(col)
    val cell = df.groupBy(qi :+ col(sensCol): _*)
      .agg(count(lit(1)).as("c_gs"))
    val grp = cell.groupBy(qi: _*).agg(sum("c_gs").as("n_g"))
    val glob = cell.groupBy(col(sensCol)).agg(sum("c_gs").as("c_s"))
    val tot = glob.agg(sum("c_s").as("n"), count(lit(1)).as("m"))
    val w = Window.partitionBy(qi: _*).orderBy(col(sensCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    grp.crossJoin(broadcast(glob))
      .join(cell, qiCols :+ sensCol, "left")
      .na.fill(0L, Seq("c_gs"))
      .crossJoin(broadcast(tot))
      .withColumn("cd",
        sum(col("c_gs").cast("decimal(38,0)") * col("n") -
          col("c_s").cast("decimal(38,0)") * col("n_g")).over(w))
      .groupBy(qi :+ col("n_g") :+ col("n") :+ col("m"): _*)
      .agg(sum(abs(col("cd"))).as("sa"))
      .select(qi ++ Seq(col("n_g"),
        when(col("m") <= 1, 0L)
          .otherwise(expr(
            "CAST((sa * 1000000) div (CAST(n_g AS DECIMAL(38,0)) * n * (m - 1)) AS BIGINT)"))
          .as("t_micro")): _*)
  }

  def datasetChecksum(
      df: DataFrame,
      groupCol: String,
      reprCols: Seq[String]): DataFrame = {
    val rowRepr = concat_ws("|", reprCols.map(col): _*)
    val h = graft.expressions.Md5PrefixLong.draw(rowRepr, 12)
    df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_rows"),
        sum(h.cast("decimal(38,0)")).as("s"))
      .select(col(groupCol), col("n_rows"),
        expr(s"CAST(pmod(s, $ChecksumMod) AS BIGINT)").as("checksum"))
  }
}
