package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.{CellOutput, CentroidBook, RowScore}

/** A logistic-regression quality classifier trained IN-ENGINE by full-
  * batch gradient descent — the fasttext-style quality-scoring stage of
  * a curation pipeline (score docs by P(high quality), threshold or
  * importance-sample on the score), with the training loop itself a
  * sequence of Spark aggregations instead of an external ML system.
  *
  * Execution shape: one corpus scan per GD iteration computing the
  * gradient as d per-feature DECIMAL sums (map-side combined, one
  * 1-row collect); the weight update happens IN-ENGINE in the same
  * aggregation (`round(w_j − lr·mean_g_j, 6)` as result columns), so
  * no driver float arithmetic exists anywhere — the collected row IS
  * the new weight vector, the Lloyd's-kmeans contract. Scoring is a
  * pure scan-side map with the trained weights as literals.
  *
  * Numeric contract (what makes the whole chain oracle-replayable):
  * features, margins, probabilities, per-doc gradient contributions and
  * weight updates all round to 6dp at each step; gradient sums
  * accumulate in DECIMAL (exact, order-independent); the sigmoid's
  * `exp` runs inside engine expressions on 6dp-rounded arguments (the
  * text_lm_score ln-parity pattern).
  */
object ClassifierOps {

  val DefaultLr = 0.5
  val DefaultIters = 3

  /** Features in EXACT micro units (1e-6), as BIGINTs: intercept,
    * stopword ratio, mean token length / 10 (kept O(1) so the fixed
    * step size is sane). `floor(a·10^k / n)` over integer numerators is
    * bit-deterministic across engines: the product is exactly
    * representable, and a non-integer quotient sits ≥ 1/n from the
    * nearest integer — astronomically farther than the division's ulp —
    * so the floor never straddles. This is what makes the whole
    * classifier surface hash-exact (round(double, 6) is NOT: Spark's
    * exact-BigDecimal HALF_UP and DuckDB's ×1e6 multiply disagree when
    * a value lands within an ulp of a .5e-6 boundary — observed in the
    * wild at sf0.1).
    */
  def microFeatures(toks: Column): Seq[Column] = Seq(
    lit(1000000L),
    floor(TextOps.stopwordCount(toks) * lit(1000000.0) /
      size(toks).cast("double")).cast("long"),
    floor(aggregate(toks, lit(0L), (acc, t) => acc + length(t)) *
      lit(100000.0) / size(toks).cast("double")).cast("long"))

  /** The double-valued features TRAINING consumes: micro/1e6 — the same
    * integer divided by the same constant on every engine, so the
    * doubles are bit-identical too.
    */
  def features(toks: Column): Seq[Column] =
    microFeatures(toks).map(m => m.cast("double") / lit(1000000.0))

  /** 6dp sigmoid of a 6dp margin. */
  def sigmoid(z: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(lit(0.0) - z)), 6)

  /** 6dp margin of a feature row against literal weights. */
  def margin(w: Seq[Double], xs: Seq[Column]): Column =
    round(xs.zip(w).map { case (x, wi) => x * lit(wi) }.reduce(_ + _), 6)

  /** Trained 6dp weights as exact micro-unit longs. */
  def microWeights(w: Seq[Double]): Seq[Long] =
    w.map(wi => BigDecimal(wi).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(1000000L)).toLongExact)

  /** The margin in 1e-12 fixed-point units as BIGINT — the
    * hash-compared scoring surface (the DSIR micro-unit pattern): pure
    * INTEGER arithmetic over micro features × micro weights, so there
    * is no rounding, rendering, or transcendental edge anywhere.
    */
  def marginFixed(w: Seq[Double], micro: Seq[Column]): Column =
    micro.zip(microWeights(w)).map { case (m, wi) => m * lit(wi) }
      .reduce(_ + _)

  /** Guard excluding rows whose token array cannot yield features
    * (ANSI mode: a 0/0 ratio THROWS rather than nulling, so the guard
    * must run BELOW the feature projection — filter first, never
    * isNotNull over the computed ratio).
    */
  def featurable(toks: Column): Column = toks.isNotNull && size(toks) > 0

  /** Full-batch GD from zero init. `docs` must carry the columns `xs`
    * and `label` read; rows failing `valid` are excluded from training —
    * mirror the filter when scoring.
    */
  def trainLogistic(docs: DataFrame, xs: Seq[Column], label: Column,
      valid: Column = featurable(org.apache.spark.sql.functions.col("toks")),
      lr: Double = DefaultLr, iters: Int = DefaultIters): Seq[Double] = {
    var w: Seq[Double] = Seq.fill(xs.length)(0.0)
    val y = label.cast("double")
    for (_ <- 1 to iters) {
      val err = sigmoid(margin(w, xs)) - y
      val gradSums = xs.zipWithIndex.map { case (x, j) =>
        sum(round(err * x, 6).cast("decimal(28,12)")).as(s"g$j")
      }
      val row = docs
        .filter(valid)
        .agg(gradSums.head, gradSums.tail :+ count(lit(1)).as("n"): _*)
        .select(xs.indices.map(j =>
          round(lit(w(j)) - lit(lr) *
            round(col(s"g$j").cast("double") / col("n"), 6), 6).as(s"w$j")): _*)
        .head()
      w = xs.indices.map(j => row.getDouble(j))
    }
    w
  }

  /** Per-row score and thresholded prediction from literal weights. */
  def score(w: Seq[Double], xs: Seq[Column]): Column = sigmoid(margin(w, xs))

  /** Multinomial Naive Bayes over whitespace tokens (McCallum & Nigam
    * 1998) — the second supervised baseline next to [[trainLogistic]]:
    * where the LR works on three dense quality features, NB consumes
    * the full sparse token space, which is what language / topic / spam
    * classification of raw corpora wants.
    *
    * Training is ONE corpus aggregation to the (class, token) count
    * table — vocab×classes bounded, cached (the train/score split).
    * Scoring uses the add-one-smoothed decomposition
    *
    *   log P(d|l) = Σ_tok tf·ln(c(l,tok)+1) − n_d·ln(N_l + V)
    *
    * which makes the smoothing IMPLICIT: a token unseen in class l
    * contributes tf·ln(0+1) = 0 to the first sum, so the scoring join
    * is a plain inner join against the model — no (token × class)
    * outer-join densification, which at a real vocab would dwarf the
    * corpus itself.
    *
    * Numeric contract: every term converts to micro-unit longs via
    * SCALE-0 rounding (`round(x·1e6)` — the knBigramScores contract,
    * the only rounding both engines agree on unconditionally) and sums
    * exactly; the argmax breaks ties on the class name ascending, so
    * the predicted label replays bit-for-bit.
    *
    * Returns the classes² confusion matrix (lang, predicted, n) —
    * self-evaluation on the training corpus, the [[SimilarityOps
    * .labelPrototypes]] Rocchio evaluation shape.
    */
  def naiveBayesConfusion(docs: DataFrame, labelCol: String = "lang"): DataFrame = {
    def tf0 = docs
      .select(col("doc_id"), col(labelCol).as("lang_true"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "lang_true", "tok")
      .agg(count(lit(1)).as("tf"))
    // the model: per-(class, token) occurrence counts — vocab×classes
    // bounded, cached; per-class totals, vocab size, and doc priors all
    // derive FROM it (or from a metadata-cheap doc count), so the
    // corpus is scanned once for training
    val c = tf0.groupBy(col("lang_true").as("cl"), col("tok"))
      .agg(sum("tf").as("c")).cache()
    val nl = c.groupBy("cl").agg(sum("c").as("nl"))
    val v = c.agg(countDistinct(col("tok")).as("v"))
    val priors = docs.groupBy(col(labelCol).as("cl"))
      .agg(count(lit(1)).as("dl"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("dtot"))))
      .select(col("cl"),
        round(log(col("dl").cast("double") / col("dtot").cast("double")) *
          lit(1000000.0)).cast("long").as("prior_micro"))
    // scoring pass 1: Σ tf·ln(c+1) per (doc, candidate class) — the
    // model joins broadcast (vocab×classes bounded)
    val terms = tf0.join(broadcast(c), Seq("tok"))
      .groupBy("doc_id", "cl")
      .agg(sum(round(col("tf").cast("double") *
        log(col("c").cast("double") + lit(1.0)) * lit(1000000.0))
        .cast("long")).as("tsum"))
    // scoring pass 2: per-doc token totals × every candidate class,
    // LEFT-joined to the term sums so a doc sharing no vocabulary with
    // a class still gets its smoothed-floor score. n_d = Σ tf is just
    // the doc's token count — size(tokens) on the scan (r15), not a
    // third derivation of the explode+groupBy chain (tf0 is a def: its
    // other two uses are the cached model fill and the term sums; this
    // one was a full re-tokenize per action). The size(...) > 0 filter
    // reproduces explode's drop of token-less docs exactly.
    val nd = docs
      .select(col("doc_id"), col(labelCol).as("lang_true"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_d"))
      .filter(col("n_d") > 0)
    val langs = c.select("cl").distinct()
    val scored = nd
      .crossJoin(broadcast(langs))
      .join(broadcast(nl), Seq("cl"))
      .crossJoin(broadcast(v))
      .join(broadcast(priors), Seq("cl"))
      .join(terms, Seq("doc_id", "cl"), "left")
      .select(col("doc_id"), col("lang_true"), col("cl"),
        (coalesce(col("tsum"), lit(0L)) -
          round(col("n_d").cast("double") *
            log((col("nl") + col("v")).cast("double")) * lit(1000000.0))
            .cast("long") +
          col("prior_micro")).as("score_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("cl"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("lang_true").as("lang"), col("cl").as("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  /** kNN classifier evaluation — the non-parametric member of the model
    * family (LR / NB / Rocchio / kNN need no training pass at all):
    * leave-one-out top-k cosine neighbors per query, majority label
    * vote (count DESC, label ASC — deterministic), rolled to the
    * labels² confusion matrix.
    *
    * `corpus`/`queries` carry (vec_id, embedding, nrm, label) — the
    * [[SimilarityOps.withNorm]] shape. One corpus pass against the
    * broadcast query stripe ([[SimilarityOps.bruteTopK]]); everything
    * after the rank cut is query-bounded. Ranking uses the unrounded
    * left-to-right double dot, the family's established oracle-exact
    * contract.
    */
  def knnConfusion(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("c").desc, col("nl"))
    SimilarityOps.bruteTopK(corpus, queries, k)
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl")), Seq("neighbor_id"))
      .groupBy("query_id", "nl").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("nl").as("label_pred"))
      .join(corpus.select(col("vec_id").as("query_id"), col("label")),
        Seq("query_id"))
      .groupBy("label", "label_pred").agg(count(lit(1)).as("n"))
  }

  /** Per row: every prototype's score s(x, y) in prototype order (`s_all`)
    * and the label's score (`s_true`; null for a label with no prototype).
    */
  private[ops] def conformalScores(emb: DataFrame,
      protos: Seq[(Long, Array[Double])], roundDp: Int): DataFrame = {
    val sAll = SimilarityOps.matrixKernel(CentroidBook(protos), col("embedding"),
      RowScore.FullDist, Some(roundDp), CellOutput.Table)
    val at = array_position(typedlit(protos.map(_._1)), col("label")).cast("int")
    emb.select(col("vec_id"), col("label"), sAll.as("s_all"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        get(col("s_all"), at - 1).as("s_true"), col("s_all"))
  }

  /** Split-conformal calibration + evaluation (Vovk et al.; the
    * Angelopoulos-Bates recipe) over the nearest-prototype
    * nonconformity score: s(x, y) = round(|x|² + |c_y|² − 2·x·c_y, 6)
    * — the full squared distance from x to label y's prototype (the
    * oodDistance functional against a FIXED label).
    *
    *   1. a deterministic hash split carves the calibration set;
    *   2. q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration score
    *      s(x_i, y_i) (true-label scores), clamped to n — the exact
    *      finite-sample threshold, found by rank selection;
    *   3. every TEST point's prediction set is {y : s(x, y) ≤ q̂};
    *      the output row reports empirical coverage (P[true label in
    *      set] ≥ 1−α is the conformal guarantee) and mean set size
    *      (the efficiency number that makes the guarantee non-vacuous).
    *
    * Shape at scale: the scores are a scan-side map (one native kernel
    * call per row; the oracle SQL inlines the prototypes as literals);
    * the one corpus-ordered structure is the calibration rank selection
    * (a window at test scale — the PrefixOps.exactKth two-phase
    * selection is the drop-in at 100 TB, same contract). Everything
    * downstream of the 1-row q̂ broadcast is a single aggregation.
    *
    * Returns ONE row: (n_cal, qhat_micro, n_test, n_covered,
    * coverage_ppm, avg_set_micro) — integer/micro surface throughout.
    * An EMPTY calibration split yields zero rows (no q̂ exists — the
    * caller's split fraction must land at least one point).
    */
  def conformalEval(
      emb: DataFrame,
      protos: Seq[(Long, Array[Double])],
      calFrac: Double = 0.5,
      alphaNum: Int = 1,
      alphaDen: Int = 10,
      roundDp: Int = 6): DataFrame = {
    require(protos.nonEmpty, "conformalEval needs trained prototypes")
    import org.apache.spark.sql.expressions.Window
    val thr = (calFrac * SampleOps.HashSpace).toLong
    val base = conformalScores(emb, protos, roundDp)
      .withColumn("is_cal", SampleOps.hashDraw(col("vec_id")) < thr)
      .cache()
    val nCal = base.filter(col("is_cal")).agg(count(lit(1)).as("n_cal"))
    val w = Window.orderBy(col("s_true"), col("vec_id"))
    val qhat = base.filter(col("is_cal"))
      .select(col("s_true"), col("vec_id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(nCal))
      .filter(col("rk") ===
        least(expr(s"((n_cal + 1) * ($alphaDen - $alphaNum) + $alphaDen - 1)" +
          s" div $alphaDen"), col("n_cal")))
      .select(col("s_true").as("qhat"), col("n_cal"))
    base.filter(!col("is_cal"))
      .crossJoin(broadcast(qhat))
      .select(col("n_cal"), col("qhat"),
        when(col("s_true") <= col("qhat"), 1L).otherwise(0L).as("cov"),
        size(filter(col("s_all"), v => v <= col("qhat"))).cast("long")
          .as("ss"))
      .groupBy("n_cal", "qhat")
      .agg(count(lit(1)).as("n_test"), sum("cov").as("n_covered"),
        sum("ss").as("sum_set"))
      .select(col("n_cal"),
        round(col("qhat") * lit(1000000.0)).cast("long").as("qhat_micro"),
        col("n_test"), col("n_covered"),
        expr("n_covered * 1000000 div n_test").as("coverage_ppm"),
        expr("sum_set * 1000000 div n_test").as("avg_set_micro"))
  }
}
