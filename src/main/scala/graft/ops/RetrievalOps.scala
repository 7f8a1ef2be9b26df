package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.{CellOutput, CentroidBook, RowScore}

/** Lexical retrieval and hybrid fusion — the sparse complement to
  * [[SimilarityOps]]' dense ANN family. A training-data pipeline needs
  * both: BM25 for exact-term recall (rare tokens, identifiers, names
  * that embeddings smear) and rank fusion to combine it with the
  * embedding ranker for hybrid search.
  *
  * Everything is deterministic closed-form math over corpus statistics,
  * so both rankers and the fused list hash-replay in the DuckDB oracle.
  */
object RetrievalOps {

  val DefaultK1 = 1.2
  val DefaultB = 0.75
  val RrfK = 60

  /** Okapi BM25 top-k (Robertson et al.; the Lucene-default scoring
    * form with the +1-inside-ln idf that keeps it non-negative):
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *   idf(t)   = ln((N − df + 0.5)/(df + 0.5) + 1)
    *
    * Scale shape: the token explode FILTERS to the query's terms at the
    * scan (the posting lists of only those terms exist anywhere in the
    * plan — at 100 TB that is the difference between a query and an
    * index build); tf aggregates on (doc, term) in one shuffle;
    * df (≤ |terms| rows) and the (N, avgdl) scalar broadcast back; the
    * final top-k is TakeOrderedAndProject (per-partition heaps, k rows
    * shuffle). Doc lengths are recomputed scan-side from the text — no
    * second shuffle.
    *
    * Per-term contributions round to 6dp and sum in DECIMAL (the
    * text_lm_score parity pattern), so ranks are partitioning- and
    * engine-independent. Returns (doc_id, rank, score), rank 1-based,
    * ties by doc_id.
    */
  /** The corpus as a per-invocation TOKENIZED projection (doc_id, toks),
    * materialized once with `localCheckpoint` — the shared forward-index
    * scan for multi-pass retrieval operators: PRF's
    * three passes (retrieve, mine, re-retrieve) and MaxScore's
    * stats+contributions each re-tokenized the corpus from parquet;
    * sharing one materialized projection makes each invocation ONE
    * FileScan of documents plus cheap checkpoint reads. Deliberately a
    * localCheckpoint and NOT `.cache()`: a fresh RDD per invocation, so
    * nothing is memoized across invocations (the accounting stays
    * honest — every timed run re-tokenizes once) and the blocks release
    * via the ContextCleaner when the invocation's frames drop.
    */
  private def tokenizedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .localCheckpoint()

  def bm25TopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame =
    bm25TopKFromToks(
      docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
      queryTerms, k, k1, b)

  /** [[bm25TopK]] over a pre-tokenized (doc_id, toks) relation — the
    * entry point the multi-pass operators feed their shared
    * [[tokenizedDocs]] projection through.
    */
  def bm25TopKFromToks(
      toked: DataFrame,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val lengths = toked.select(col("doc_id"),
      size(col("toks")).cast("long").as("dl"))
    val stats = lengths.agg(
      count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = toked
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = log(
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val term = idf * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf
      .join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(term, 6).cast("decimal(28,6)").as("term"))
      .groupBy("doc_id")
      .agg(sum("term").cast("decimal(38,6)").as("s"))
      .select(col("doc_id"), col("s").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    scored
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long"))
      .select(col("doc_id"), col("rank"), col("score"))
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty, SIGIR 2001) — the language-modeling ranker next to
    * [[bm25TopK]]'s tf-idf family:
    *
    *   score(d) = Σ_{t∈q} ln( (tf_{t,d} + μ·p(t|C)) / (dl_d + μ) )
    *   p(t|C)   = cf_t / |C|   (collection term frequency over total tokens)
    *
    * μ is the Dirichlet prior mass (2000 is the standard ad-hoc value):
    * short documents are smoothed toward the collection model, which is
    * the length normalization BM25 gets from its b knob.
    *
    * Scale shape: the token explode FILTERS to the query's terms at the
    * scan (posting lists only — the bm25TopK contract); candidates are
    * docs matching ≥1 term (the standard candidate rule — a doc
    * matching nothing ranks purely by its length prior and cannot beat
    * a matching doc at ad-hoc μ); zero-tf terms of candidate docs DO
    * contribute their smoothing mass via one broadcast terms×candidates
    * completion, so the score is the full formula, not the
    * matched-terms truncation. cf (≤|terms| rows) and the 1-row |C|
    * broadcast back; per-term contributions round to 6dp and sum in
    * DECIMAL; top-k is TakeOrderedAndProject.
    *
    * Returns (doc_id, rank, score_micro), rank 1-based, ties by doc_id.
    */
  def qlDirichletTopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int,
      mu: Double = 2000.0): DataFrame = {
    require(queryTerms.nonEmpty, "qlDirichletTopK needs a query term")
    val toks = docs.select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("dl"),
      explode(TextOps.tokens(col("text"))).as("tok"))
    val totals = docs.agg(
      sum(TextOps.tokenCount(col("text"))).cast("double").as("c_total"))
    val cf = toks.filter(col("tok").isin(queryTerms: _*))
      .groupBy("tok").agg(count(lit(1)).cast("double").as("cf"))
    val tf = toks.filter(col("tok").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "tok")
      .agg(count(lit(1)).as("tf"))
    val cand = tf.select("doc_id", "dl").distinct()
    // complete the (candidate × query-term) grid so zero-tf terms
    // contribute their smoothing mass: a broadcast of ≤|terms| rows
    val grid = cand.crossJoin(
      broadcast(cf.crossJoin(broadcast(totals))
        .select(col("tok"), (col("cf") / col("c_total")).as("ptc"))))
    val term = log((coalesce(col("tf"), lit(0L)).cast("double") +
      lit(mu) * col("ptc")) / (col("dl").cast("double") + lit(mu)))
    grid
      .join(tf, Seq("doc_id", "dl", "tok"), "left")
      .select(col("doc_id"),
        round(term, 6).cast("decimal(28,6)").as("term"))
      .groupBy("doc_id")
      .agg(sum("term").cast("decimal(38,6)").as("s"))
      .select(col("doc_id"),
        round(col("s").cast("double") * lit(1000000.0)).cast("long")
          .as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id")))
          .cast("long"))
      .select(col("doc_id"), col("rank"), col("score_micro"))
  }

  /** BM25 top-k with MaxScore pruning (Turtle & Flood 1995) — SAME
    * RESULTS as [[bm25TopK]], provably, with non-essential posting
    * lists pruned before the per-doc aggregation:
    *
    *  1. per-term contribution upper bounds UB(t) = max over the
    *     posting list (a ≤|terms|-row collect — a bounded model pull);
    *  2. θ = the k-th best FULL score among docs containing the
    *     top-UB term (one TakeOrdered + a k-row pull). For any doc
    *     subset the k-th best is a LOWER bound of the global k-th
    *     best, so θ is a safe threshold;
    *  3. essential terms E = the minimal UB-descending prefix with
    *     Σ UB(non-E) < θ (driver arithmetic on ≤|terms| values):
    *     a doc containing ONLY non-essential terms scores
    *     ≤ Σ UB(non-E) < θ while ≥ k docs score ≥ θ — it cannot
    *     reach the top k, ties included;
    *  4. the final aggregation keeps only docs with ≥1 essential term
    *     (a semi-join on the contributions) — their scores still sum
    *     ALL their terms, so survivors score exactly as in the
    *     unpruned plan.
    *
    * When the invariant can't hold (θ too small, < k candidates), E
    * grows to all terms and the plan degrades to exactly [[bm25TopK]]
    * — pruning is an optimization, never a semantics change; the
    * oracle for this operator IS the unpruned oracle.
    */
  def bm25TopKMaxScore(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopKMaxScore needs a query term")
    // ONE corpus tokenize per invocation — the dl-stats pass and the
    // posting build both read the shared projection; the contribution
    // relation the sequential MaxScore passes (UB collect, θ probe,
    // final aggregation) re-read is likewise a per-invocation
    // localCheckpoint, not a plan-keyed `.cache()`, so nothing persists
    // across invocations and each timed run computes from parquet
    // exactly once.
    val toked = tokenizedDocs(docs)
    val lengths = toked.select(col("doc_id"),
      size(col("toks")).cast("long").as("dl"))
    val stats = lengths.agg(
      count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = toked
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = log(
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val term = idf * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val contribs = tf
      .join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tok"),
        round(term, 6).cast("decimal(28,6)").as("term"))
      .localCheckpoint()
    def topkOf(c: DataFrame): DataFrame = c
      .groupBy("doc_id")
      .agg(sum("term").cast("decimal(38,6)").as("s"))
      .select(col("doc_id"), col("s").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    // (1) bounded pulls: per-term UBs, then θ from the top-UB term's docs
    val ubs = contribs.groupBy("tok")
      .agg(max(col("term")).as("ub"))
      .collect()
      .map(r => r.getString(0) -> BigDecimal(r.getDecimal(1)))
      .sortBy(-_._2)
    val topTermDocs = contribs
      .filter(col("tok") === ubs.head._1).select("doc_id")
    val theta = topkOf(contribs.join(topTermDocs, Seq("doc_id"),
        "left_semi"))
      .collect() match {
      case rows if rows.length >= k => Some(BigDecimal(rows.last.getDouble(1)))
      case _ => None
    }
    // (3) minimal essential prefix: Σ UB(tail) < θ
    val essential = theta match {
      case Some(t) =>
        val suffix = ubs.scanRight(BigDecimal(0))(_._2 + _).tail
        val cut = ubs.indices.find(i => suffix(i) < t)
          .map(_ + 1).getOrElse(ubs.length)
        ubs.take(cut).map(_._1)
      case None => ubs.map(_._1)
    }
    // (4) prune whole docs, never terms of surviving docs
    val kept =
      if (essential.length == ubs.length) contribs
      else contribs.join(
        contribs.filter(col("tok").isin(essential: _*))
          .select("doc_id").distinct(),
        Seq("doc_id"), "left_semi")
    topkOf(kept)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long"))
      .select(col("doc_id"), col("rank"), col("score"))
  }

  /** Multi-query BM25 — the SERVING shape: score a QUERY TABLE
    * (query_id, term) instead of one literal term list. The posting
    * lists are filtered AT THE SCAN to the union of all queries' terms
    * (broadcast semi-join — the inverted-index access pattern for a
    * whole query batch in one corpus pass), per-(query, doc) scores
    * aggregate in DECIMAL, and the per-query top-k prunes through
    * WindowGroupLimit. At 100 TB one scan serves the entire query
    * batch; the query table and the ≤|terms| df rows ride broadcast.
    */
  def bm25TopKQueries(
      docs: DataFrame,
      queries: DataFrame,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame =
    bm25TopKQueriesFromToks(
      docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
      queries, k, k1, b)

  /** [[bm25TopKQueries]] over a pre-tokenized (doc_id, toks) relation —
    * see [[bm25TopKFromToks]].
    */
  def bm25TopKQueriesFromToks(
      toked: DataFrame,
      queries: DataFrame,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    val qt = queries.select(col("query_id"), col("term")).distinct()
    val terms = qt.select(col("term").as("tok")).distinct()
    val stats = toked.select(size(col("toks")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = toked
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
      .join(broadcast(terms), Seq("tok"), "left_semi")
      .groupBy("doc_id", "dl", "tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = log(
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val term = idf * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    tf
      .join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(stats))
      .join(broadcast(qt.withColumnRenamed("term", "tok")), Seq("tok"))
      .select(col("query_id"), col("doc_id"),
        round(term, 6).cast("decimal(28,6)").as("term"))
      .groupBy("query_id", "doc_id")
      .agg(sum("term").cast("decimal(38,6)").as("s"))
      .select(col("query_id"), col("doc_id"), col("s").cast("double").as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
  }

  /** Reciprocal rank fusion (Cormack, Clarke, Büttcher, SIGIR 2009):
    * fused(d) = Σ_lists 1/(RrfK + rank_list(d)). Rank-based, so the
    * lists' incomparable score scales (BM25 vs cosine) never touch each
    * other — the standard hybrid-search combiner. Input lists are
    * (doc_id, rank) frames; k-bounded, so the union and the aggregate
    * are tiny regardless of corpus size.
    *
    * Returns the top `k` fused: (doc_id, rrf_score, n_lists), score
    * rounded to 6dp, ties by doc_id.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    lists
      .map(_.select(col("doc_id"), col("rank")))
      .reduce(_.unionAll(_))
      .groupBy("doc_id")
      .agg(
        round(sum(lit(1.0) / (lit(RrfK) + col("rank"))), 6).as("rrf_score"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-query reciprocal rank fusion — [[rrfFuse]] keyed by query_id,
    * for fusing BATCHED rankings (multi-query BM25 + dense top-k) in
    * one pass. Inputs are (query_id, doc_id, rank) frames, k-bounded
    * per query, so the union/aggregate stay query-batch-sized.
    */
  def rrfFuseByQuery(lists: Seq[DataFrame], k: Int): DataFrame = {
    require(lists.nonEmpty, "rrfFuseByQuery needs at least one ranked list")
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    lists
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_.unionAll(_))
      .groupBy("query_id", "doc_id")
      .agg(
        round(sum(lit(1.0) / (lit(RrfK) + col("rank"))), 6).as("rrf_score"),
        count(lit(1)).as("n_lists"))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= k)
      .select(col("query_id"), col("doc_id"), col("fused_rank"),
        col("rrf_score"), col("n_lists"))
  }

  /** Weighted LINEAR score fusion with per-list min-max normalization —
    * the score-based hybrid combiner next to [[rrfFuse]]'s rank-based
    * one (the other standard choice; CLEF/TREC "CombSUM" with
    * normalized inputs): each k-bounded list's scores map to [0, 1e6]
    * micro ints by its own min/max (a constant list maps to 1e6), each
    * doc's contribution is `round(wᵢ · nmicro)` (scale-0 — portable),
    * and the fused score is an EXACT long sum, so the ranking replays.
    * Lists are k-bounded before fusion; the union/aggregate never
    * touches corpus scale.
    *
    * Input lists are ((doc_id, score) frame, weight) pairs. Returns the
    * top `k` fused: (doc_id, fused_micro, n_lists).
    */
  def linearFuse(lists: Seq[(DataFrame, Double)], k: Int): DataFrame = {
    require(lists.nonEmpty, "linearFuse needs at least one scored list")
    lists.map { case (df, w) =>
      val scored = df.select(col("doc_id"), col("score"))
      scored
        .crossJoin(broadcast(
          scored.agg(min("score").as("mn"), max("score").as("mx"))))
        .select(col("doc_id"),
          when(col("mx") === col("mn"), lit(1000000L))
            .otherwise(floor((col("score") - col("mn")) * lit(1000000.0) /
              (col("mx") - col("mn"))).cast("long")).as("nm"))
        .select(col("doc_id"),
          round(lit(w) * col("nm")).cast("long").as("wnm"))
    }
      .reduce(_.unionAll(_))
      .groupBy("doc_id")
      .agg(sum("wnm").as("fused_micro"), count(lit(1)).as("n_lists"))
      .orderBy(col("fused_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** The largest 6-place cosine of `embedding` (norm `nrm`) to a
    * selected (embedding, norm) set, in micro-units.
    */
  private[ops] def maxSimMicro(sel: Seq[(Array[Double], Double)]): Column =
    array_max(zip_with(
      SimilarityOps.matrixKernel(CentroidBook.rows(sel.map(_._1)), col("embedding"),
        RowScore.Dot, None, CellOutput.Table),
      typedlit(sel.map(_._2)),
      (d, nrm) => round(round(d / (col("nrm") * nrm), 6) * 1e6).cast("long")))

  /** Maximal-Marginal-Relevance diversity re-ranking (Carbonell &
    * Goldstein, "The Use of MMR, Diversity-Based Reranking", SIGIR
    * 1998): greedily select k of the candidate list maximizing
    * λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) — the de-dup-at-
    * serving-time step that keeps a RAG context window from burning k
    * slots on k copies of the same passage.
    *
    * Scale shape: the corpus is touched exactly once (the brute top-
    * `candidates` scan — swap in any of the ANN family for the
    * candidate pass at 100 TB); the greedy loop runs over the
    * k-BOUNDED candidate frame, one 1-row TakeOrderedAndProject argmax
    * per step (the kcenterCenters contract — selection is inherently
    * sequential, candidates are bounded, so k cheap jobs is the right
    * shape, never a shuffle).
    *
    * Numeric contract — INTEGER-EXACT end to end: relevance and
    * pairwise cosines round to 6dp (the sim-family contract) then
    * convert to exact micro-unit longs; the MMR objective is
    * round(λ·rel_µ − (1−λ)·msim_µ) where λ·(integer < 2⁵³) is exact
    * for the shipped λ = 0.5, so scores, ordering, and ties (by
    * neighbor_id) carry zero float-boundary risk — the ClassifierOps
    * fixed-point lesson applied at design time.
    *
    * Returns (mmr_rank, neighbor_id, rel_micro, mmr_score_micro) — at
    * most k rows; fewer when the candidate list itself runs dry.
    */
  def mmrRerank(corpus: DataFrame, queryVecId: Long, candidates: Int,
      k: Int, lambda: Double = 0.5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(candidates >= 1, s"candidates must be >= 1, got $candidates")
    // a zero or non-finite norm has no cosine: raise by name, not as a
    // NaN micro-unit cast; a null one (no embedding) sorts last as before
    val normed = corpus.withColumn("nrm", when(col("nrm").isNull ||
      (col("nrm") > 0 && col("nrm") < Double.PositiveInfinity), col("nrm"))
      .otherwise(raise_error(concat(lit("mmrRerank: neighbor_id "), col("vec_id").cast("string"),
        lit(" has a zero or non-finite norm (a zero vector or a NaN component)")))))
    val cand = SimilarityOps.bruteTopK(
      normed, normed.filter(col("vec_id") === queryVecId), candidates)
      .select(col("neighbor_id"),
        round(col("cos_sim") * 1e6).cast("long").as("rel_u"))
      .join(normed.select(col("vec_id").as("neighbor_id"),
        col("embedding"), col("nrm")), Seq("neighbor_id"))
      .cache()

    def scoreOf(msimU: Column): Column =
      round(lit(lambda) * col("rel_u") - (lit(1.0) - lit(lambda)) * msimU)
        .cast("long")

    // (neighbor_id, embedding, norm, rel_u, score_u) per selected row
    var sel = Vector.empty[(Long, Array[Double], Double, Long, Long)]
    def readSel(r: org.apache.spark.sql.Row): (Long, Array[Double], Double, Long, Long) =
      (r.getLong(0), r.getSeq[Number](1).map(_.doubleValue).toArray,
        r.getDouble(2), r.getLong(3), r.getLong(4))
    while (sel.length < k) {
      val msimU =
        if (sel.isEmpty) lit(0L)
        else maxSimMicro(sel.map { case (_, e, nrm, _, _) => (e, nrm) })
      val remaining =
        if (sel.isEmpty) cand
        else cand.filter(!col("neighbor_id").isin(sel.map(_._1): _*))
      val next = remaining
        .select(col("neighbor_id"), col("embedding"), col("nrm"),
          col("rel_u"), scoreOf(msimU).as("score_u"))
        .orderBy(col("score_u").desc, col("neighbor_id").asc)
        .limit(1)
        .collect()
      if (next.isEmpty) sel = sel :+ ((-1L, Array.empty[Double], 0d, 0L, 0L))
      else sel = sel :+ readSel(next(0))
    }
    val picked = sel.filter(_._1 >= 0)
    val ordExpr = picked.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, ((id, _, _, _, _), i)) =>
        when(col("neighbor_id") === id, lit((i + 1).toLong)).otherwise(acc)
    }
    val scoreExpr = picked.foldLeft(lit(null).cast("long")) {
      case (acc, (id, _, _, _, scoreU)) =>
        when(col("neighbor_id") === id, lit(scoreU)).otherwise(acc)
    }
    cand
      .select(ordExpr.as("mmr_rank"), col("neighbor_id"), col("rel_u"),
        scoreExpr.as("mmr_score_u"))
      .filter(col("mmr_rank") > 0)
      .select(col("mmr_rank"), col("neighbor_id"),
        col("rel_u").as("rel_micro"), col("mmr_score_u").as("mmr_score_micro"))
  }

  /** The IR evaluation triple — recall@k, MRR, nDCG@k — of an
    * approximate ranking against exact ground truth, one row per query.
    * Both inputs are (query_id, neighbor_id, rank) frames (any of the
    * ANN family's top-k outputs); relevance is binary membership in the
    * exact list, so ideal DCG is the gain sum over the exact ranks —
    * computed IN-ENGINE through the same rounded expression as the DCG
    * numerator, never driver-side math (ln/log2 parity contract).
    *
    * Determinism: per-rank gains round(1/log2(r+1), 6) accumulate in
    * DECIMAL (exact, order-independent), the final ratios divide as
    * doubles and round to 6dp. Scale shape: both inputs are k-bounded
    * per query by construction, so the join and aggregate never touch
    * corpus-sized data.
    */
  def rankingMetrics(exact: DataFrame, approx: DataFrame): DataFrame = {
    def gain(r: Column): Column =
      round(lit(1.0) / log2(r.cast("double") + lit(1.0)), 6)
        .cast("decimal(28,12)")
    // approx is <= k rows per query BY CONSTRUCTION (a rank-filtered
    // list), but that bound is invisible to the planner (it sits behind
    // a window), so without the hint this joins sort-merge — broadcast
    // is the only right call for a metric join over bounded lists.
    exact.select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(
        broadcast(approx.select(col("query_id"), col("neighbor_id"),
          col("rank").as("rank_a"))),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("k"),
        sum(when(col("rank_a").isNotNull, 1L).otherwise(0L)).as("n_hits"),
        min(col("rank_a")).as("first_hit"),
        sum(when(col("rank_a").isNotNull, gain(col("rank_a")))
          .otherwise(lit(0).cast("decimal(28,12)"))).as("dcg"),
        sum(gain(col("rank"))).as("idcg"))
      .select(col("query_id"), col("n_hits"), col("k"),
        round(col("n_hits") / col("k").cast("double"), 6).as("recall"),
        round(coalesce(lit(1.0) / col("first_hit"), lit(0.0)), 6).as("mrr"),
        round(col("dcg").cast("double") / col("idcg").cast("double"), 6)
          .as("ndcg"))
  }

  /** Average precision per query, in exact integer micro-units — the
    * metric [[rankingMetrics]] doesn't carry (MAP is the TREC headline
    * number): AP = (1/R)·Σ_i prec@r_i over the hit ranks r_1 < r_2 < …,
    * where prec@r_i = i/r_i and R = |relevant| (the exact list's size).
    * Computed as Σ (i·10⁶ div r_i) div R — nested integer floor
    * divisions, so the result replays bit-identically on any engine
    * (the float form would hash-drift on association order). Queries
    * with zero hits surface with ap_micro = 0, not silently dropped.
    * Same bounded-list shapes as [[rankingMetrics]]: the approx side
    * broadcasts, the per-query windows run over ≤ k rows.
    */
  /** Team-draft interleaving (Radlinski, Kurup, Joachims, CIKM 2008) —
    * the online-evaluation merge: rankers A and B alternately pick
    * their best not-yet-picked document, the team behind in picks goes
    * first, ties broken by a deterministic per-(query, step) hash coin.
    * The served list carries per-position ATTRIBUTION, which is what
    * click credit aggregates over — the A/B-for-rankers primitive that
    * needs no traffic split.
    *
    * Both lists are k-bounded, so the whole merge is an in-row integer
    * fold over ≤ 2k steps per query (arrays of ≤ k ids; the picked-set
    * membership check is an array scan) — no shuffle beyond the two
    * list builds. A team with no remaining candidates cedes its turn.
    * Returns (query_id, pos, doc_id, team).
    */
  def teamDraftInterleave(
      listA: DataFrame,
      listB: DataFrame,
      k: Int): DataFrame = {
    def packed(df: DataFrame, out: String) =
      df.groupBy("query_id").agg(
        // bounded: per-query ranked list — rankings are k-bounded by the
        // retriever that produced them, never corpus-sized.
        transform(
          sort_array(collect_list(struct(col("rank"), col("doc_id")))),
          x => x.getField("doc_id")).as(out))
    val both = packed(listA, "la").join(packed(listB, "lb"), Seq("query_id"))
    val acc0 = struct(
      array().cast("array<struct<d:bigint,t:string>>").as("out"),
      lit(0).as("na"), lit(0).as("nb"))
    val fold = (acc: org.apache.spark.sql.Column,
        i: org.apache.spark.sql.Column) => {
      val out = acc.getField("out")
      val na = acc.getField("na")
      val nb = acc.getField("nb")
      val picked = transform(out, e => e.getField("d"))
      val coin = graft.expressions.Md5PrefixLong.draw(concat(
        col("query_id").cast("string"), lit(":"), i.cast("string")), 1) % 2
      val aTurn = na < nb || (na === nb && coin === 0)
      val ca = filter(col("la"), d => !array_contains(picked, d))
      val cb = filter(col("lb"), d => !array_contains(picked, d))
      val pa = (aTurn && size(ca) > 0) ||
        (!aTurn && size(cb) === 0 && size(ca) > 0)
      val pb = !pa && ((!aTurn && size(cb) > 0) ||
        (aTurn && size(ca) === 0 && size(cb) > 0))
      struct(
        when(pa, concat(out, array(struct(
          element_at(ca, 1).as("d"), lit("a").as("t")))))
          .when(pb, concat(out, array(struct(
            element_at(cb, 1).as("d"), lit("b").as("t")))))
          .otherwise(out).as("out"),
        when(pa, na + 1).otherwise(na).as("na"),
        when(pb, nb + 1).otherwise(nb).as("nb"))
    }
    both
      .select(col("query_id"),
        aggregate(sequence(lit(0), lit(2 * k - 1)), acc0, fold)
          .getField("out").as("out"))
      .select(col("query_id"), posexplode(col("out")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col.d").as("doc_id"), col("col.t").as("team"))
  }

  def apMetric(exact: DataFrame, approx: DataFrame): DataFrame = {
    val rTotal = exact.groupBy("query_id").agg(count(lit(1)).as("r_total"))
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(
        broadcast(approx.select(col("query_id"), col("neighbor_id"),
          col("rank").as("rank_a"))),
        Seq("query_id", "neighbor_id"))
    val w = Window.partitionBy("query_id").orderBy("rank_a")
    val perQuery = hits
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("term", expr("i * 1000000 div rank_a"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hits"), sum("term").as("tsum"))
    rTotal.join(perQuery, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(expr("tsum div r_total"), lit(0L)).as("ap_micro"))
  }

  /** Passage-level BM25 (the long-document retrieval standard: score
    * fixed-width overlapping CHUNKS as the retrieval unit, return each
    * document by its BEST passage — BERT-era "MaxP" aggregation,
    * Dai & Callan 2019): a long document cannot dominate by raw length,
    * and the serving layer gets the passage offset to excerpt.
    *
    * Same scan-filtered posting-list shape as [[bm25TopK]] with the
    * chunk (doc_id, chunk_start) as the scoring key: chunk lengths and
    * corpus stats derive from the chunk relation, per-chunk scores
    * aggregate in DECIMAL, the per-doc best passage reduces through one
    * doc-keyed window, and the final top-k prunes with WindowGroupLimit.
    * Returns (doc_id, rank, score, chunk_start).
    */
  def bm25PassageTopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      width: Int,
      stride: Int,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    require(queryTerms.nonEmpty, "bm25PassageTopK needs at least one term")
    def chunked = docs
      .select(col("doc_id"),
        explode(TextOps.chunks(TextOps.tokens(col("text")), width, stride))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_start").cast("long").as("cs"),
        TextOps.tokens(col("c.chunk")).as("ctoks"))
    val stats = chunked
      .select(size(col("ctoks")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    // tf (the query-term-filtered per-chunk posting aggregate —
    // tiny, term-bounded) is consumed twice (the df pass and the
    // scoring pass); as a plain val each reference re-expanded the
    // whole chunk+tokenize subtree from parquet, so the operator paid
    // THREE corpus chunk passes (stats, tf→df, tf→score). A
    // per-invocation localCheckpoint of tf collapses the two tf
    // references into one pass: 3 corpus scans → 2, materializing only
    // the small filtered aggregate (checkpointing the corpus-sized
    // chunk relation itself was measured 1.5× WORSE at ×100 — chunk
    // overlap expands the corpus, so that materialization costs more
    // than the scan it saves; probe numbers in archive/OPTIMIZATION_r17.md).
    val tf = chunked
      .select(col("doc_id"), col("cs"),
        size(col("ctoks")).cast("long").as("dl"),
        explode(col("ctoks")).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy("doc_id", "cs", "dl", "tok")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = log(
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val term = idf * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val perChunk = tf
      .join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("cs"),
        round(term, 6).cast("decimal(28,6)").as("term"))
      .groupBy("doc_id", "cs")
      .agg(sum("term").cast("decimal(38,6)").as("s"))
      .select(col("doc_id"), col("cs"), col("s").cast("double").as("score"))
    val bestW = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cs"))
    // top-k via orderBy+limit (TakeOrderedAndProject — per-partition
    // heaps, k rows shuffle), NEVER a global unpartitioned window; the
    // rank window then runs over ≤ k rows
    perChunk
      .withColumn("brk", row_number().over(bestW))
      .filter(col("brk") === 1)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long"))
      .select(col("doc_id"), col("rank"), col("score"),
        col("cs").as("chunk_start"))
  }

  /** Pseudo-relevance feedback query expansion (Rocchio 1971 applied to
    * retrieval; the RM/RM3 family of Lavrenko & Croft 2001, in its
    * deterministic tf form): run the query, mine the top `feedbackDocs`
    * results for their most frequent non-query terms, append the top
    * `expandTerms` of them, and re-run — the classic vocabulary-
    * mismatch fix (a query for "spark" learns the corpus says "shuffle"
    * too) that needs no trained model at all.
    *
    * Scale shape: two [[bm25TopK]]-shaped passes (each filters its
    * posting lists AT THE SCAN) plus one term-count aggregation over
    * only the k-bounded feedback docs (left-semi join against the
    * first-pass ids, so the mining step never touches corpus scale).
    * Candidate selection orders by (tf DESC, term ASC) — fully
    * deterministic, so the expanded term set and the final ranking
    * hash-replay.
    *
    * Returns the second-pass (doc_id, rank, score) top `k`.
    */
  def prfExpandTopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      feedbackDocs: Int,
      expandTerms: Int,
      k: Int): DataFrame = {
    // the three passes PRF is (retrieve, mine, re-retrieve) share
    // ONE per-invocation tokenized projection — one FileScan of
    // documents per invocation instead of five (each bm25 pass paid a
    // stats scan + a posting scan, the mining pass a third tokenize).
    val toked = tokenizedDocs(docs)
    val first = bm25TopKFromToks(toked, queryTerms, feedbackDocs)
    // the expanded term list is a BOUNDED learned artifact (≤
    // expandTerms strings — the kmeansCentroids contract): collect it
    // and re-enter as literals, so the q2 relation's two references
    // inside bm25TopKQueries (term dim + query join) cannot re-plan
    // phase 1.
    val expansion = toked
      .join(broadcast(first.select("doc_id")), Seq("doc_id"), "left_semi")
      .select(explode(col("toks")).as("term"))
      .filter(!col("term").isin(queryTerms: _*) && length(col("term")) > 0)
      .groupBy("term")
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term"))
      .limit(expandTerms)
      .collect().map(_.getString(0)).toSeq
    val sess = docs.sparkSession
    import sess.implicits._
    val q2 = (expansion ++ queryTerms).toDF("term")
      .select(lit(0L).as("query_id"), col("term"))
    bm25TopKQueriesFromToks(toked, q2, k)
      .select(col("doc_id"), col("rank"), col("score"))
  }

  /** Positional proximity search for a two-term query: for every doc
    * containing BOTH terms, the minimal token gap between any occurrence
    * of each (the proximity-scoring primitive bag-of-words BM25 cannot
    * express — "data ... spark" nearby beats the same terms a page
    * apart) plus the exact-phrase hit count (termB immediately after
    * termA). Top-k by (min_gap asc, doc_id).
    *
    * Shape: posexplode prunes to the two query terms AT THE SCAN (the
    * position relation carries only matching-term rows — per doc that is
    * tf_A + tf_B rows, not the document), then ONE doc-keyed self-join
    * expands tf_A × tf_B position pairs WITHIN each doc — bounded by
    * per-doc term frequency, never corpus size — and one aggregation
    * takes the min. Returns (doc_id, min_gap, phrase_hits, rank).
    */
  def proximityPair(
      docs: DataFrame,
      termA: String,
      termB: String,
      k: Int): DataFrame = {
    val pos = docs
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text")))
        .as(Seq("p", "tok")))
      .filter(col("tok").isin(termA, termB))
    val pa = pos.filter(col("tok") === termA).select(col("doc_id"), col("p").as("pa"))
    val pb = pos.filter(col("tok") === termB).select(col("doc_id"), col("p").as("pb"))
    pa.join(pb, "doc_id")
      .groupBy("doc_id")
      .agg(min(abs(col("pa") - col("pb"))).cast("long").as("min_gap"),
        sum(when(col("pb") - col("pa") === 1, 1L).otherwise(0L))
          .as("phrase_hits"))
      .orderBy(col("min_gap"), col("doc_id"))
      .limit(k)
      .withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("min_gap"), col("doc_id"))).cast("long"))
  }
}
