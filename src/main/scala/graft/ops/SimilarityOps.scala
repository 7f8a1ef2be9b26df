package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.expressions.{BlockPairs, CellOutput, CentroidBook, CentroidDistances, RowScore}
import graft.expressions.PairScorer.{AllPairs, Cosine}

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and IVF-style
  * bucket-restricted top-k as the scale path (search only the query's
  * coarse cell instead of the whole corpus — at 100 TB the difference
  * between a full cross join and a per-bucket join).
  *
  * All float math is widened to double and accumulated LEFT-TO-RIGHT in
  * a native single-pass expression, matching DuckDB's `list_dot_product`
  * over `DOUBLE[]` — bit-identical accumulation keeps the oracle
  * hash-compare exact.
  */
object SimilarityOps {

  /** Single-pass native dot product in doubles
    * ([[graft.expressions.VectorDotProduct]] — tight codegen loop; the
    * composable alternatives are either interpreted lambdas or 2×dim
    * element_at calls, both measurably slower on the all-pairs path).
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.VectorDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Corpus with a precomputed norm column — compute once, reuse across
    * every query (the reference-free analog of storing normalized
    * vectors).
    */
  def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("nrm", l2Norm(col("embedding")))

  /** HashingTF vectorization: each row's token array becomes a dense
    * `dim`-wide double vector of bucket counts
    * ([[graft.ops.TextOps.hashBucket]] — md5-derived, engine-portable).
    *
    * The shape is the scalable one: explode → per-(keys, bucket) count
    * with map-side combine → per-keys map assembly — the token hash runs
    * ONCE per token (a per-row nested loop would either re-hash per
    * vector slot or fight CollapseProject's lambda inlining), and only
    * (keys, bucket, count) rows cross the shuffle, bounded by `dim` per
    * row regardless of document length. Rows with empty token arrays
    * drop (explode of an empty array), matching the SQL-aggregation
    * replay in the oracle.
    */
  def hashingTf(df: DataFrame, keys: Seq[String], toksCol: String,
      dim: Int): DataFrame = {
    val keyCols = keys.map(col)
    df.select(keyCols :+ explode(col(toksCol)).as("__tok"): _*)
      .select(keyCols :+ TextOps.hashBucket(col("__tok"), dim).as("__b"): _*)
      .groupBy(keyCols :+ col("__b"): _*)
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(keyCols: _*)
      // bounded: per-key bucket map — at most `dim` distinct hash
      // buckets per key regardless of token volume (counts pre-reduced
      // by the groupBy above).
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__cnt"))))
        .as("__m"))
      .select(keyCols :+ transform(sequence(lit(0), lit(dim - 1)), i =>
        coalesce(element_at(col("__m"), i.cast("long")), lit(0L))
          .cast("double")).as("embedding"): _*)
  }

  /** Brute-force cosine top-k: broadcast the (small) query set against the
    * corpus — one pass over the corpus regardless of query count, no
    * shuffle until the final per-query top-k.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val scored = corpus
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    topK(scored, k)
  }

  /** Hard-negative mining for contrastive training: per anchor, the
    * top-k most-similar vectors with a DIFFERENT label — the near-miss
    * negatives that actually move an embedding model (random negatives
    * are trivially separable; the hard ones sit just across the class
    * boundary). Same broadcast-scan shape as [[bruteTopK]] with the
    * label-mismatch predicate fused into the join condition, so
    * same-label rows never reach the scorer; at scale the anchor set is
    * the (small) broadcast side and the corpus scans once. For tighter
    * candidate bounds, feed a cell-restricted corpus (the IVF/LSH
    * family) instead of the full one.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"),
      col("label").as("q_label"),
      col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val scored = corpus
      .join(broadcast(q),
        col("vec_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    topK(scored, k)
  }

  /** IVF-style top-k: restrict each query to its coarse cell (here the
    * precomputed `label` column as the quantizer assignment). The join key
    * becomes (label), so the corpus is probed per-bucket.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"),
      col("label"),
      col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val scored = corpus
      .join(broadcast(q), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    topK(scored, k)
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Matryoshka truncation (Kusupati et al., "Matryoshka Representation
    * Learning", NeurIPS 2022): the first `d` dimensions of an MRL-trained
    * embedding are themselves a valid lower-resolution embedding. Slicing
    * + renormalizing is the cheapest ANN axis of all — no index, no
    * training, the serving scan just reads d/dim of the bytes (with the
    * prefix dims stored as their own parquet column, the scan PRUNES to
    * them — column projection does the compression).
    */
  def truncate(emb: DataFrame, d: Int): DataFrame =
    withNorm(emb.select(col("vec_id"),
      slice(col("embedding"), 1, d).as("embedding")))

  /** Truncated-space brute top-k: full-accuracy ranking functional, d-dim
    * vectors. Corpus scanned once; dot products cost d/dim of the full
    * ones.
    */
  def truncatedTopK(corpus: DataFrame, queries: DataFrame, d: Int,
      k: Int): DataFrame =
    bruteTopK(truncate(corpus, d), truncate(queries, d), k)

  /** MRL funnel retrieval: shortlist in the cheap truncated space, exact
    * re-rank of the shortlist in the full space — the adaptive-retrieval
    * recipe from the MRL paper (and the same two-stage shape as
    * [[pqTopKRefined]]). The shortlist (nQueries × `shortlist` rows)
    * BROADCASTS back against the corpus for the re-rank, so the full
    * vectors of only the shortlisted candidates are ever touched.
    */
  def truncatedTopKRefined(corpus: DataFrame, queries: DataFrame, d: Int,
      k: Int, shortlist: Int): DataFrame = {
    val short = truncatedTopK(corpus, queries, d, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val rer = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"))
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("n_emb"), col("q_emb"), col("n_nrm"), col("q_nrm"))
          .as("cos"))
    topK(rer, k)
  }

  /** Hyperplane-LSH parameters. `LshPlanes` Rademacher (±1-component)
    * hyperplanes give each vector a `LshPlanes`-bit sign signature;
    * cosine-similar vectors agree on most signs, so same-signature
    * bucketing is the data-independent analog of IVF cells (no trained
    * quantizer needed). ±1 components keep every product EXACT in double
    * arithmetic — the signature bit is sign(Σ ±x_d) with no rounding
    * ambiguity, which the DuckDB oracle reproduces from the same inlined
    * plane constants.
    */
  val LshPlanes = 8
  val LshDim = 64
  val LshSeed = 20260812L

  /** The plane constants, deterministic from [[LshSeed]]. Both the Spark
    * plan (as one [[CentroidBook]] reference) and the oracle SQL
    * (inlined `DOUBLE[]` literals) are generated from THIS value, so
    * they cannot drift.
    */
  lazy val hyperplanes: Seq[Array[Double]] = {
    val rnd = new scala.util.Random(LshSeed)
    Seq.fill(LshPlanes)(Array.fill(LshDim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Sign signature of an embedding as a `LshPlanes`-char bit string. */
  def lshSignature(emb: Column): Column =
    matrixKernel(CentroidBook.rows(hyperplanes), emb, RowScore.Dot, None, CellOutput.Signs)

  /** LSH-bucketed top-k: like [[ivfTopK]] but the cell is the hyperplane
    * signature instead of a precomputed label — each query probes only
    * its own sign bucket. Recall is approximate by construction (a true
    * neighbor in a different bucket is missed); [[lshTopKMultiProbe]] is
    * the standard recall extension (flip low-margin bits, probe those
    * buckets too — query-side only).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"),
      lshSignature(col("embedding")).as("sig"),
      col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val scored = corpus
      .withColumn("sig", lshSignature(col("embedding")))
      .join(broadcast(q), Seq("sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    topK(scored, k)
  }

  /** `sig` with 0-based bit `idx` flipped (signatures are "01…" strings). */
  private def flipBit(sig: Column, idx: Column): Column =
    concat(
      sig.substr(lit(1), idx),
      when(sig.substr(idx + 1, lit(1)) === "1", "0").otherwise("1"),
      sig.substr(idx + 2, lit(LshPlanes)))

  /** Multi-probe LSH top-k (Lv et al., VLDB 2007 form, 1-bit flips): each
    * query probes its own bucket PLUS the `probes − 1` buckets reached by
    * flipping its lowest-|margin| signature bits — the buckets a true
    * neighbor most likely fell into when it landed on the other side of a
    * near-tangent plane. Margins |Σ ±x_d| are exact in double (±1
    * components), so their (margin, plane) order is deterministic.
    *
    * The scale story is the whole point: the probe expansion happens on
    * the BROADCAST (query) side only — `probes×` more tiny rows in the
    * hash relation, while the 100 TB corpus is still scanned once and
    * signed once. A corpus vector has exactly one signature and a query's
    * probe signatures are distinct, so no (query, neighbor) pair
    * duplicates. `probes = 1` degenerates to [[lshTopK]] exactly.
    */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int,
      probes: Int): DataFrame = {
    require(probes >= 1 && probes <= LshPlanes + 1,
      s"probes must be in [1, ${LshPlanes + 1}], got $probes")
    val q = queries.select(
      col("vec_id").as("query_id"),
      lshSignature(col("embedding")).as("sig0"),
      col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        explode(concat(
          array(col("sig0")),
          transform(matrixKernel(CentroidBook.rows(hyperplanes), col("q_emb"),
              RowScore.AbsDot, None, CellOutput.Ranked(probes - 1)),
            i => flipBit(col("sig0"), i.cast("int"))))).as("sig"))
    val scored = corpus
      .withColumn("sig", lshSignature(col("embedding")))
      .join(broadcast(q), Seq("sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    topK(scored, k)
  }

  /** AND-OR amplification parameters: [[LshTables]] INDEPENDENT hash
    * tables of [[LshTableBits]] sign bits each. Fewer bits per table
    * (6 vs the single-table 8) raises each table's match probability
    * p^b, and OR-ing over L tables amplifies recall to 1−(1−p^b)^L —
    * the classic bands×rows tradeoff, traded against candidate volume
    * (each query inspects the union of its L buckets). Plane constants
    * are a fresh deterministic draw (seed+1) so table 0 is NOT the
    * 8-bit single-probe table — the two families are independent
    * measurements of the same frontier.
    */
  val LshTables = 8
  val LshTableBits = 6

  lazy val tableHyperplanes: Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(LshSeed + 1)
    Seq.fill(LshTables)(Seq.fill(LshTableBits)(
      Array.fill(LshDim)(if (rnd.nextBoolean()) 1.0 else -1.0)))
  }

  /** Sign signature of an embedding under table `t`'s planes. */
  def lshTableSignature(emb: Column, t: Int): Column =
    matrixKernel(CentroidBook.rows(tableHyperplanes(t)), emb, RowScore.Dot, None,
      CellOutput.Signs)

  /** All L `(t, sig)` table signatures of an embedding, for one
    * scan-side explode: L×b exact ±1-dot products per vector, computed
    * once in whole-stage codegen.
    */
  private def lshTableSigs(emb: Column): Column =
    array((0 until LshTables).map(t =>
      struct(lit(t).as("t"), lshTableSignature(emb, t).as("sig"))): _*)

  /** OR-amplified candidate pairs: a (query, neighbor) pair is a
    * candidate iff the two vectors share a bucket in AT LEAST ONE of the
    * L tables. Output one row per distinct pair with its cosine and
    * `min_t`, the lowest matching table id — `min_t = 0` selects exactly
    * the pairs table 0 alone would have found, so a single frame carries
    * both the 1-table baseline and the L-table result for the recall
    * frontier.
    *
    * Scale shape: both sides explode to L rows per vector, but the
    * query side is the broadcast side (L× a tiny relation) and the
    * corpus side is a scan-side explode feeding the broadcast hash join
    * — the 100 TB corpus is still read once, with no shuffle until the
    * candidate-sized per-pair dedup aggregate.
    */
  def lshTableCandidates(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"),
      explode(lshTableSigs(col("embedding"))).as("ts"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("ts.t").as("t"), col("ts.sig").as("sig"))
    corpus
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(lshTableSigs(col("embedding"))).as("ts"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("ts.t").as("t"), col("ts.sig").as("sig"))
      .join(broadcast(q), Seq("t", "sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("t"),
        cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
      .groupBy(col("query_id"), col("neighbor_id"))
      // the cosine is the same double in every matching table's row
      // (identical expression over identical inputs), so max() is just
      // per-pair dedup that both engines reproduce bit-identically
      .agg(max(col("cos")).as("cos"), min(col("t")).as("min_t"))
  }

  // ─── Auto-sized LSH buckets: the scale-path candidate generator ─────
  //
  // The fixed-cardinality blockings (label cells in [[nearDupPairs]],
  // the 6-bit tables above) are DEGENERATE at scale: the cell count is
  // constant, so per-cell membership grows ∝ n and in-cell pairs grow
  // ∝ n² — measured ×103 pairs at ×10 data.
  // The fix is to size the signature to the corpus: with
  // bits = ⌈log₂(n / targetBucket)⌉, bucket count grows ∝ n while the
  // EXPECTED bucket size stays pinned at targetBucket — candidates are
  // then ∝ n·targetBucket/2 per table, linear. The bit count derives
  // from n with pure integer arithmetic (length(bin(m−1)), no
  // floating log whose last-ulp could differ across engines), rides
  // the plan as a 1-row broadcast, and each vector takes the FIRST
  // `bits` bits of a fixed maximum-width signature — so two corpora of
  // different sizes still agree on shared prefixes.

  /** Maximum signature width: 2²⁴ buckets per table ≈ enough for 10¹⁰
    * vectors at the default target, while keeping the scan-side cost
    * (tables × maxBits exact ±1-dots) a fixed constant per row.
    */
  val LshAutoMaxBits = 24

  /** Expected members per auto-sized bucket — the default sits ON the
    * measured knee of the recall/cost frontier (`dedup_lsh_frontier`)
    * at oracle scale: with directed multi-probe, recall at threshold
    * 0.3 is 0.80 at targetBucket 8, 0.99 at 32, 1.00 at 128 (sf0.01).
    * What IS scale-free about this knob is COST: the adaptive prefix
    * width pins expected bucket OCCUPANCY at this value whatever the
    * corpus count, so candidates stay ∝ n·targetBucket per table.
    * What is NOT scale-free is absolute-threshold recall: the prefix
    * widens as n grows, so per-table collision for a FIXED angle θ
    * decays as (n/targetBucket)^log₂p(θ) — measured 0.99 at n = 500 →
    * 0.22 at n = 20 000 for the 0.3-threshold truth set (PLANS.md).
    * That is LSH geometry, not a tuning miss: holding a
    * fixed low-cosine threshold at growing n costs L ∝ n^ρ tables
    * (ρ = −log₂ p(θ) ≈ 0.74 at cos 0.3), which
    * `dedup_lsh_tables_frontier` prices, while scale consumers that
    * need a bounded-cost graph ride the TOP-OF-RANKING surface
    * (`topKPerVector`, knnGraph arcs) whose quality card is
    * `dedup_embedding_lsh_topk_recall`. Override per call for a
    * different recall/cost point — the two frontier cards price both
    * axes at whatever scale they are run.
    */
  val LshAutoTargetBucket = 32

  /** Maximum table count the auto family can draw on. The DEFAULT
    * stays [[LshTables]] (8): tables is the RECALL knob whose price is
    * linear in candidates, and LSH theory says holding a fixed
    * absolute-threshold recall as the corpus grows requires
    * L ∝ n^ρ, ρ = −log₂ p(θ) (≈ 0.74 at cos 0.3) — the
    * `dedup_lsh_tables_frontier` card measures that axis so a user
    * scaling up can price it; 32 sets bound what the card can probe.
    */
  val LshAutoMaxTables = 32

  /** Hard ceiling of the hyperplane POOL — the widest signature stage
    * any call can request. [[LshAutoMaxTables]] (32) stays the DEFAULT
    * ceiling of the auto-L family (the cost the frontier cards price
    * and the oracles replay); this bound exists so a caller whose
    * recall target the 32-table geometry cannot reach (the ×10 auto-L
    * raise names L ≈ 146) can OPT INTO a wider stage — cost is linear
    * in L and table t's bits are bit-identical at every width, so a
    * 64-table run's min_t < 32 slice IS the 32-table run. Without
    * it the operator would diagnose a fix the engine cannot execute.
    */
  val LshWideMaxTables = 64

  /** Independent plane sets for the auto-sized tables, deterministic
    * from [[LshSeed]] (distinct stream from the fixed 6-bit tables).
    * Sized to the [[LshWideMaxTables]] pool; `Seq.fill` draws
    * sequentially, so the first [[LshAutoMaxTables]] tables are
    * bit-identical to the pool's pre-widening values — every committed
    * oracle hash is unchanged.
    */
  lazy val autoTableHyperplanes: Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(LshSeed + 2)
    Seq.fill(LshWideMaxTables)(Seq.fill(LshAutoMaxBits)(
      Array.fill(LshDim)(if (rnd.nextBoolean()) 1.0 else -1.0)))
  }

  /** `df` plus, per table t < `tables`, the max-width plane dots `__ds$t`
    * of `embedding` (all null for a null one) that the bucketing reads.
    */
  private def withPlaneDots(df: DataFrame, tables: Int): DataFrame =
    df.select(col("*") +: (0 until tables).map(t =>
      matrixKernel(CentroidBook.rows(autoTableHyperplanes(t)), col("embedding"),
        RowScore.Dot, None, CellOutput.Table).as(s"__ds$t")): _*)

  /** Default probe count per table for [[nearDupPairsLsh]]: each vector
    * additionally enters, per table, the `LshAutoProbes` buckets reached
    * by flipping its lowest-|margin| prefix bits — the Lv et al. 2007
    * directed multi-probe applied to the BUCKETING (not just query)
    * side. A true near-dup pair that disagrees on exactly one prefix
    * plane almost always disagrees on a LOW-MARGIN plane (the plane
    * passes between two nearby points, so both sit close to it), so
    * probing those specific buckets buys most of the Hamming-1 recall
    * at `probes×` extra bucket rows instead of the ~3× targetBucket
    * raise the recall frontier prices for the same gain.
    */
  val LshAutoProbes = 2

  /** The shared signature stage of [[nearDupPairsLsh]]: ONE corpus scan
    * computing, per table, the full maximum-width plane-dot vector
    * `__ds$t` (both the sign signature and the probe margins derive
    * from it), plus the corpus count as a 1-row broadcast. Factored out
    * so multi-setting evaluations (the `dedup_lsh_frontier` card) can
    * cache THIS frame and derive every targetBucket's buckets from one
    * signature pass — only the prefix width differs per setting.
    */
  def lshAutoSignatureStage(corpus: DataFrame,
      tables: Int = LshTables): DataFrame = {
    require(tables >= 1 && tables <= LshWideMaxTables,
      s"tables must be in [1, $LshWideMaxTables], got $tables")
    val cnt = corpus.agg(count(lit(1)).as("__n"))
    withPlaneDots(corpus.crossJoin(broadcast(cnt)), tables)
  }

  /** Embedding-cosine near-dup pairs with LSH-BUCKET candidate
    * generation — the scale path next to the pre-labeled
    * [[nearDupPairs]]: a pair is a candidate iff the two vectors share
    * an auto-sized signature-prefix bucket in at least one of
    * `tables` tables (OR amplification) — where a vector occupies its
    * own bucket PLUS, per table, the `probes` buckets reached by
    * flipping its lowest-|margin| prefix bits (directed multi-probe;
    * probe×probe co-occupancy does NOT make a candidate, so the match
    * relation is exactly Hamming ≤ 1 on flipped-by-either bits) — and
    * survives iff its exact cosine clears `threshold`.
    *
    * Scale shape: ONE corpus scan computes all table plane-dots
    * (tables × [[LshAutoMaxBits]] ±1-dots per row, one kernel call per
    * table; signature AND margins read the same dots), the corpus count
    * rides a 1-row broadcast into the prefix width; one shuffle on
    * (table, sig) collects bucket members — home and probe rows alike, so
    * multi-probe adds NO join, only (1+probes)× bucket rows — with a
    * hot-bucket ceiling (a degenerate bucket fails by name); the
    * quadratic expansion happens only inside a bucket, whose EXPECTED
    * size is (1+probes)·targetBucket regardless of corpus size because
    * the bucket count scales with n. The per-pair dedup (a pair can
    * collide in several tables) is one aggregation on the
    * candidate-sized — not corpus-sized — pair stream. Precision is
    * exact (every emitted pair passed the true cosine); recall is the
    * LSH trade, measured by the `dedup_embedding_lsh_recall` card
    * rather than asserted.
    *
    * Returns (vec_a, vec_b, cos_sim), vec_a < vec_b, cos ≥ threshold.
    */
  def nearDupPairsLsh(corpus: DataFrame, threshold: Double,
      targetBucket: Int = LshAutoTargetBucket,
      tables: Int = LshTables,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      probes: Int = LshAutoProbes): DataFrame =
    nearDupPairsLshFrom(lshAutoSignatureStage(corpus, tables), threshold,
      targetBucket, tables, maxBucket, probes)

  /** [[nearDupPairsLsh]] from a precomputed [[lshAutoSignatureStage]]
    * frame — everything downstream of the (cacheable) signature scan.
    */
  def nearDupPairsLshFrom(sigs: DataFrame, threshold: Double,
      targetBucket: Int = LshAutoTargetBucket,
      tables: Int = LshTables,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      probes: Int = LshAutoProbes): DataFrame =
    lshPairsCoreFromTable(sigs, threshold, targetBucket, tables, maxBucket,
      probes, withMinT = false)

  /** Pairs of the table RANGE [fromTable, tables) only — the
    * incremental-escalation probe: the wide-pool
    * design guarantees table t's hyperplanes are bit-identical at every
    * pool width, so an escalation from L to L′ can keep its already-
    * built L-table pair surface and union in ONLY the new tables'
    * pairs: `firstL.unionAll(range(L, L′)) |> groupBy(pair) max(cos)`
    * is provably the L′-table surface (each pair's cosine is the same
    * exact double in every colliding table, and round/max commute) —
    * pinned by NativeFoldEquivalenceSpec's escalation-identity test.
    * Output contract of [[nearDupPairsLsh]]: (vec_a, vec_b, cos_sim).
    */
  def nearDupPairsLshTableRange(corpus: DataFrame, threshold: Double,
      targetBucket: Int = LshAutoTargetBucket,
      fromTable: Int,
      tables: Int = LshTables,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      probes: Int = LshAutoProbes): DataFrame =
    lshPairsCoreFromTable(lshAutoSignatureStage(corpus, tables), threshold,
      targetBucket, tables, maxBucket, probes, withMinT = false, fromTable)

  /** [[nearDupPairsLshFrom]] additionally emitting `min_t` — the LOWEST
    * table index in which the pair collided. `min_t < L` selects
    * exactly the pairs an L-table run would return, so one pass at
    * [[LshAutoMaxTables]] prices every table count at once — the
    * tables-axis frontier card's engine (LSH theory: holding a fixed
    * absolute-threshold recall as n grows costs L ∝ n^ρ tables; this
    * is the measured version of that statement).
    */
  def nearDupPairsLshByTable(sigs: DataFrame, threshold: Double,
      targetBucket: Int = LshAutoTargetBucket,
      tables: Int = LshTables,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      probes: Int = LshAutoProbes): DataFrame =
    lshPairsCoreFromTable(sigs, threshold, targetBucket, tables, maxBucket,
      probes, withMinT = true)

  /** The FROZEN cross-probe index over an EXISTING corpus, as a
    * self-describing ARTIFACT: per (vector, table) the home bucket
    * entry plus `probes` flipped-bit probe entries, with the adaptive
    * prefix width — derived from the existing count ALONE: the index
    * was sized when it was built, a probe batch reads it and does not
    * reshape it — carried as an explicit `bits` column. Entries carry
    * ids only, no embedding payload (a vector copied onto each of its
    * (1+probes)·tables entry rows is ~24 copies at the defaults):
    * the vectors live ONCE, in the [[lshIndexVectors]]
    * side table, and [[nearDupPairsLshCrossSlim]] joins them back on
    * the CANDIDATE pairs only. Build once per index generation, persist
    * both frames, and hand every daily batch to
    * [[nearDupPairsLshCrossSlim]] — a probe then touches only the
    * artifact pair, never the raw existing corpus (an artifact read
    * repeatedly is a table, not a plan).
    *
    * Returns (vec_id, t, sig, pk, bits); persist next to
    * [[lshIndexVectors]]'s (vec_id, embedding, nrm).
    */
  def lshIndexEntriesSlim(existing: DataFrame,
      targetBucket: Int = LshAutoTargetBucket,
      tables: Int = LshTables,
      probes: Int = LshAutoProbes): DataFrame =
    lshBucketEntries(lshAutoSignatureStage(
      existing.select(col("vec_id"), col("embedding"), col("nrm")), tables),
      targetBucket, tables, probes)
      .select(col("vec_id"), col("t"), col("sig"), col("pk"),
        length(col("sig")).cast("int").as("bits"))

  /** The slim artifact PAIR as one handle — [[lshIndexEntriesSlim]]'s
    * bucket entries plus [[lshIndexVectors]]'s single-copy vectors —
    * for consumers that materialize/persist both together (the
    * session-memoized cross index, a persisted index generation).
    */
  case class LshSlimIndex(entries: DataFrame, vectors: DataFrame)

  /** The slim artifact's vector side table — each existing vector
    * exactly ONCE: (vec_id, embedding, nrm). Together with
    * [[lshIndexEntriesSlim]] this is the persisted form whose total
    * bytes are ~1× the corpus plus id-sized entry rows.
    */
  def lshIndexVectors(existing: DataFrame): DataFrame =
    existing.select(col("vec_id"), col("embedding"), col("nrm"))

  /** CROSS-CORPUS LSH near-dup pairs — the production daily-increment
    * shape for embeddings (the vector twin of the MinHash
    * `dedup_incremental` and of `sim_ivf_append`'s frozen quantizer):
    * which vectors of a NEW batch near-duplicate something in the
    * EXISTING corpus, probed against that corpus's persisted artifact
    * pair ([[lshIndexEntriesSlim]] + [[lshIndexVectors]]). Candidates
    * are (existing × batch) vectors sharing any (table, signature)
    * bucket of the FROZEN index geometry: the batch signs itself at the
    * artifact's `bits`, so the same batch probed against the same index
    * always lands in the same buckets, no matter how large the batch
    * is. Directed multi-probe applies on BOTH sides — the index stores
    * probe entries, the batch also flips its lowest-|margin| bits —
    * with probe×probe co-occupancy excluded, exactly as in the
    * in-corpus generator. The `tables`/`probes` arguments must match
    * the index build's: the artifact carries entries only for the
    * tables it was built with.
    *
    * Scale shape: both sides ride ONE shared bucket-collect shuffle
    * (the entries union on (table, sig) — no join) carrying (side,
    * vec_id, pk) structs only; candidate id-pairs come out of the
    * buckets, de-duplicated (a pair can collide in several tables)
    * BEFORE any vector bytes move, and the embeddings join in exactly
    * once per surviving candidate — existing side from the single-copy
    * vector table, batch side from the (small, broadcast) batch itself.
    * The hot-bucket ceiling (stated in per-corpus home members, scaled
    * by the probe multiplier and the two sides) fails by name on a
    * degenerate key. The probe plan touches ONLY the two artifact
    * frames and the batch (plan-pinned in LshCrossIndexSpec).
    * Precision is exact: every emitted pair passed the true cosine.
    *
    * Returns (existing_id, batch_id, cos_sim), cos ≥ threshold.
    */
  def nearDupPairsLshCrossSlim(entries: DataFrame, vectors: DataFrame,
      batch: DataFrame, threshold: Double,
      tables: Int = LshTables,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      probes: Int = LshAutoProbes): DataFrame = {
    Seq("vec_id", "t", "sig", "pk", "bits").foreach(c =>
      require(entries.columns.contains(c),
        s"entries frame has no '$c' column — build it with " +
          "lshIndexEntriesSlim"))
    Seq("vec_id", "embedding", "nrm").foreach(c =>
      require(vectors.columns.contains(c),
        s"vectors frame has no '$c' column — build it with " +
          "lshIndexVectors"))
    // the artifact's frozen prefix width as a 1-row limit(1) pull: bits
    // is identical on every entry by the build contract, so a max()
    // would scan the whole column to learn one int. An empty frame (a
    // mis-pathed read) fails by name instead of letting a null width
    // silently sign the batch into nothing.
    val bitsRow = entries.select(col("bits").cast("int")).limit(1).collect()
    require(bitsRow.nonEmpty && !bitsRow(0).isNullAt(0),
      "index artifact is EMPTY (or its bits column is null) — a " +
        "mis-pathed read, not a frozen geometry; build the artifact " +
        "with lshIndexEntriesSlim")
    val bits = bitsRow(0).getInt(0)
    val batchN = batch.select(col("vec_id"), col("embedding"), col("nrm"))
    val batchDots = withPlaneDots(batchN.withColumn("__bits", lit(bits)), tables)
    val ent = entries // a persisted pk may read back as bigint
      .select(col("vec_id"), col("t"), col("sig"), col("pk").cast("int").as("pk"))
      .withColumn("side", lit(0))
      .unionAll(
        lshBucketEntriesAtWidth(batchDots, tables, probes)
          .select(col("vec_id"), col("t"), col("sig"), col("pk"))
          .withColumn("side", lit(1)))
    val members = ent
      .groupBy("t", "sig")
      .agg(sort_array(collect_list(struct(
        col("side"), col("vec_id"), col("pk")))).as("ms0"),
        count(lit(1)).as("__cnt"))
      .select(
        graft.ops.SessionOps.hotKeyGuarded(col("ms0"), col("__cnt"),
          concat(col("t").cast("string"), lit("/"), col("sig")),
          maxBucket.toLong * (1 + probes) * 2,
          "nearDupPairsLshCrossSlim bucket").as("ms"))
      .filter(size(col("ms")) > 1)
    lshCrossCandidates(members)
      .join(vectors.select(col("vec_id").as("existing_id"),
        col("embedding").as("__ea"), col("nrm").as("__na")),
        Seq("existing_id"))
      .join(broadcast(batchN.select(col("vec_id").as("batch_id"),
        col("embedding").as("__eb"), col("nrm").as("__nb"))),
        Seq("batch_id"))
      .select(col("existing_id"), col("batch_id"),
        cosine(col("__ea"), col("__eb"), col("__na"), col("__nb"))
          .as("__cos"))
      .filter(col("__cos") >= threshold)
      .select(col("existing_id"), col("batch_id"),
        round(col("__cos"), 6).as("cos_sim"))
  }

  /** The cross probe's distinct candidates from its (side, vec_id, pk) buckets. */
  private[graft] def lshCrossCandidates(members: DataFrame): DataFrame =
    members.select(explode(BlockPairs.of(col("ms"), AllPairs)).as("p"))
      .select(col("p.a.vec_id").as("existing_id"), col("p.b.vec_id").as("batch_id"))
      .distinct()

  /** The shared bucket-ENTRY stage of the LSH pair family: from a
    * [[lshAutoSignatureStage]] frame, the per-(vector, table) home
    * entry plus `probes` flipped-bit probe entries (pk marks probes;
    * flip indices are the 1-based positions of the lowest (|dot|, idx)
    * margins within the prefix — deterministic, oracle-replayable
    * ordering). Returns (vec_id, embedding, nrm, t, sig, pk). Used by
    * the in-corpus collect-expand ([[lshPairsCoreFromTable]]) and the
    * cross-probe index build ([[lshIndexEntriesSlim]]).
    */
  private def lshBucketEntries(sigs: DataFrame, targetBucket: Int,
      tables: Int, probes: Int, fromTable: Int = 0): DataFrame = {
    require(sigs.columns.contains("__n"),
      "sigs frame has no __n count column — build it with " +
        "lshAutoSignatureStage (or supply the width directly via " +
        "lshBucketEntriesAtWidth)")
    lshBucketEntriesAtWidth(sigs
      .withColumn("__bits", least(greatest(length(bin(
        expr(s"(__n + ${targetBucket - 1}) div $targetBucket") - 1)),
        lit(1)), lit(LshAutoMaxBits))), tables, probes, fromTable)
  }

  /** [[lshBucketEntries]] below the width computation: expects the
    * prefix width ALREADY present as an int `__bits` column (the
    * adaptive form derives it from the corpus count; the cross-corpus
    * probe injects the FROZEN index's width instead — a batch reads
    * the index's geometry, it does not reshape it).
    */
  private def lshBucketEntriesAtWidth(sigs: DataFrame,
      tables: Int, probes: Int, fromTable: Int = 0): DataFrame = {
    require(tables >= 1 && tables <= LshWideMaxTables,
      s"tables must be in [1, $LshWideMaxTables], got $tables")
    require(probes >= 0 && probes <= LshAutoMaxBits,
      s"probes must be in [0, $LshAutoMaxBits], got $probes")
    require(fromTable >= 0 && fromTable < tables,
      s"fromTable must be in [0, $tables), got $fromTable")
    // fail by name (not an unresolved-__dsN AnalysisException deep in
    // the plan) when the sigs frame was built with fewer tables than
    // this call reads
    require(sigs.columns.contains(s"__ds${tables - 1}"),
      s"sigs frame has no __ds${tables - 1}: it was built by " +
        s"lshAutoSignatureStage with fewer than $tables tables — " +
        "rebuild the signature stage with tables >= the pair pass's")
    var df = sigs
    (fromTable until tables).foreach { t =>
      df = df.withColumn(s"__sig$t",
        array_join(transform(slice(col(s"__ds$t"), lit(1), col("__bits")),
          d => when(d > 0, "1").otherwise("0")), ""))
    }
    def flipAt(sig: Column, i: Column): Column = concat(
      sig.substr(lit(1), i - 1),
      when(sig.substr(i, lit(1)) === "1", lit("0")).otherwise(lit("1")),
      sig.substr(i + 1, col("__bits")))
    def entries(t: Int): Column = {
      val sig = col(s"__sig$t")
      val home = array(struct(lit(t).as("t"), sig.as("sig"), lit(0).as("pk")))
      if (probes == 0) home
      else {
        val flips = transform(
          slice(array_sort(transform(slice(col(s"__ds$t"), lit(1), col("__bits")),
            (d, i) => struct(abs(d).as("am"), (i + 1).as("i")))), 1, probes),
          m => struct(lit(t).as("t"),
            flipAt(sig, m.getField("i")).as("sig"), lit(1).as("pk")))
        concat(home, flips)
      }
    }
    df
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(concat((fromTable until tables).map(entries): _*)).as("ts"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("ts.t").as("t"), col("ts.sig").as("sig"), col("ts.pk").as("pk"))
  }

  /** The in-corpus LSH pairs of the table RANGE [fromTable, tables) —
    * the incremental-escalation engine: table t's hyperplanes are
    * bit-identical at every pool width, so the pairs of an L′-table run
    * are exactly (pairs of the first L tables) ∪ (pairs of tables
    * [L, L′)) de-duplicated — an escalation can probe ONLY the new
    * tables and union, instead of rebuilding from scratch.
    */
  private def lshPairsCoreFromTable(sigs: DataFrame, threshold: Double,
      targetBucket: Int,
      tables: Int,
      maxBucket: Int,
      probes: Int,
      withMinT: Boolean,
      fromTable: Int = 0): DataFrame = {
    // expansion fused with the exact-cosine cut; a zero-norm vector's
    // cosine is NaN and passes (NativeFoldEquivalenceSpec)
    val scored = lshBucketMembers(sigs, targetBucket, tables, maxBucket,
        probes, fromTable)
      .select(col("t"), explode(BlockPairs.of(col("ms"),
        Cosine(threshold, raiseOnZeroNorm = false))).as("p"))
      .select(col("t"), col("p.vec_a").as("vec_a"),
        col("p.vec_b").as("vec_b"), col("p.cos").as("cos"))
    // same cosine double in every colliding table's row — max() is
    // pure per-pair dedup, reproduced identically by any replay
    if (withMinT)
      scored.groupBy("vec_a", "vec_b")
        .agg(round(max(col("cos")), 6).as("cos_sim"), min(col("t")).as("min_t"))
    else
      scored.groupBy("vec_a", "vec_b")
        .agg(round(max(col("cos")), 6).as("cos_sim"))
  }

  /** The sorted bucket member lists (t, ms) of a table range — read by
    * [[lshPairsCoreFromTable]], and by the specs so that the native and
    * HOF expansions read the SAME bucket collect.
    */
  private[graft] def lshBucketMembers(sigs: DataFrame, targetBucket: Int,
      tables: Int, maxBucket: Int, probes: Int,
      fromTable: Int = 0): DataFrame =
    lshBucketEntries(sigs, targetBucket, tables, probes, fromTable)
      .groupBy("t", "sig")
      .agg(sort_array(collect_list(struct(
        col("vec_id"), col("pk"), col("embedding"), col("nrm")))).as("ms0"),
        count(lit(1)).as("__cnt"))
      .select(col("t"),
        // the ceiling is stated in HOME members; multi-probe multiplies
        // expected bucket ENTRIES by (1+probes), so the guard scales
        // with it — a corpus that sat under the guard at probes=0 keeps
        // the same headroom at any probe count
        graft.ops.SessionOps.hotKeyGuarded(col("ms0"), col("__cnt"),
          concat(col("t").cast("string"), lit("/"), col("sig")),
          maxBucket.toLong * (1 + probes), "nearDupPairsLsh bucket").as("ms"))
      .filter(size(col("ms")) > 1)

  /** [[nearDupPairsLshAtRecall]]'s result: the pair surface plus every
    * number on the achieved-recall card the decision was made from.
    * All recalls are integer micro (floor(hit·10⁶/n_true)) — the exact
    * arithmetic the oracle replays.
    */
  final case class LshAtRecall(
      pairs: DataFrame,
      tables: Int,
      targetMicro: Long,
      nTrue: Long,
      calibTables: Int,
      calibRecallMicro: Long,
      achievedRecallMicro: Long) {
    /** `pairs` is returned STILL CACHED (the operator measured its
      * recall from the cached blocks and consuming it uncached would
      * re-run the pair pass) — call this once done with the surface,
      * or repeated operator calls in one session accumulate blocks
      * (the growth class the bench's evict knob bounds).
      */
    def release(): Unit = { pairs.unpersist(); () }
  }

  /** The typed form of [[nearDupPairsLshAtRecall]]'s UNREACHABLE raise
    * (still an IllegalArgumentException, so every existing contract
    * catch keeps working): the distinguishable signal
    * [[nearDupPairsLshAtRecallOrTopK]] routes on — an infeasible
    * target is a DECISION point with a documented second arm, not just
    * an error string.
    */
  final class LshRecallUnreachable(message: String)
    extends IllegalArgumentException(message)

  /** The two arms of the recall-target decision: either the
    * absolute-threshold pair surface at the solved L, or — when the
    * geometry says no L ≤ [[LshWideMaxTables]] can reach the target —
    * the head-recall-contracted kNN arc surface, with the unreachable
    * diagnosis carried alongside so the routing is auditable.
    */
  sealed trait LshRecallRoute
  final case class LshRouteSolved(solved: LshAtRecall)
    extends LshRecallRoute
  /** The fallback arm carries a `release` handle for the internal pair
    * cache: the arc build leaves the candidate pair
    * surface cached for the consumers' reads — call release() once the
    * arcs are consumed, exactly like [[LshAtRecall.release]] on the
    * solved arm.
    */
  final case class LshRouteTopK(arcs: DataFrame, unreachable: String,
      release: () => Unit)
    extends LshRecallRoute

  /** [[nearDupPairsLshAtRecall]] WITH a second arm: try to solve the
    * absolute-threshold recall target up to the FULL wide pool
    * ([[LshWideMaxTables]] tables); if even that ceiling cannot reach
    * it — the regime the ×10 corpus demonstrates, where the geometry
    * names L ≈ 146 — route to [[knnGraphAtHeadRecall]]'s top-k
    * surface instead of dead-ending. The two surfaces answer different
    * questions (EVERY ≥-threshold pair vs each vector's k STRONGEST
    * partners), which is why the fallback is explicit in the return
    * type, carries the unreachable diagnosis verbatim, and enforces
    * its own `minHeadRecall` contract — downstream code must opt into
    * the weaker (but scale-stable: head recall is what arc-capped
    * consumers actually ride) guarantee by matching on the route, and
    * a batch run learns the infeasibility at CALIBRATION cost.
    */
  def nearDupPairsLshAtRecallOrTopK(corpus: DataFrame, threshold: Double,
      targetRecall: Double, k: Int, minHeadRecall: Double,
      calibQueries: Int = 64,
      targetBucket: Int = LshAutoTargetBucket,
      calibTables: Int = LshTables,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      probes: Int = LshAutoProbes,
      sigs: Option[DataFrame] = None): LshRecallRoute =
    try LshRouteSolved(nearDupPairsLshAtRecall(corpus, threshold,
      targetRecall, calibQueries, targetBucket, calibTables,
      maxTables = LshWideMaxTables, maxBucket = maxBucket,
      probes = probes, sigs = sigs))
    catch {
      case e: LshRecallUnreachable =>
        val (arcs, release) = knnGraphAtHeadRecallReleasable(corpus,
          threshold, k, minHeadRecall, calibQueries, targetBucket,
          maxBucket = maxBucket, probes = probes)
        LshRouteTopK(arcs, e.getMessage, release)
    }

  /** RECALL-TARGETING LSH near-dup pairs — the operator that closes the
    * loop the frontier cards open: fixed-absolute-threshold LSH
    * recall decays with corpus size by ρ-geometry (per-table collision
    * for a fixed angle is p(θ)^bits and bits grows with n — measured
    * 0.99 at n = 500 → 0.14 at 60 000, PLANS.md), and holding a
    * recall target needs L ∝ n^ρ tables. Instead of making the caller
    * hand-compute L from the `dedup_lsh_tables_frontier` card, this
    * operator measures per-table collision ON THIS CORPUS AT THIS
    * SCALE and grows L itself:
    *
    *   1. CALIBRATE: one pair pass at `calibTables` tables; measured
    *      recall r₁ on the exact ≥-threshold truth of a fixed
    *      `calibQueries`-vector stripe (truth costs one corpus scan
    *      against the broadcast stripe — stripe size is FIXED, so the
    *      calibration is linear in the corpus at any scale).
    *   2. SOLVE: per-table miss is (1−r₁)^(1/calibTables) under the
    *      OR-amplification model 1−(1−x)^L that the frontier
    *      measurements ride to three decimals (×10 AND ×30) — so the
    *      predicted miss at k·calibTables tables is (1−r₁)^k, an
    *      INTEGER power computed in micro space with per-step floor
    *      (m_k = ⌊m_{k−1}·m₁/10⁶⌋): no fractional pow/ln whose last
    *      ulp could differ across engines — the whole decision
    *      replays exactly in the DuckDB oracle. L is quantized to
    *      multiples of calibTables (the granularity the calibration
    *      actually priced; cost is linear in L, so the ≤ calibTables−1
    *      overshoot is bounded).
    *   3. BUILD: if the calibration pass already meets the target it
    *      IS the answer; else one more pass at the solved L, whose
    *      achieved recall is re-MEASURED on the same stripe (the card
    *      reports measurement, never prediction). If even the
    *      `maxTables` ceiling cannot reach the target, raise BY NAME
    *      with the measured geometry and the L the theory says would
    *      be needed — a 100 TB run learns the target is infeasible at
    *      calibration cost, not after a full pass.
    *
    * Scale shape: everything is the audited [[nearDupPairsLsh]] chain
    * (one scan per pass + one bucket shuffle, candidates ∝ n per
    * table) run at most twice, plus two stripe-bounded recall
    * aggregations; the driver pulls only counts.
    */
  def nearDupPairsLshAtRecall(corpus: DataFrame, threshold: Double,
      targetRecall: Double,
      calibQueries: Int = 64,
      targetBucket: Int = LshAutoTargetBucket,
      calibTables: Int = LshTables,
      maxTables: Int = LshAutoMaxTables,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      probes: Int = LshAutoProbes,
      sigs: Option[DataFrame] = None): LshAtRecall = {
    require(targetRecall >= 0.5 && targetRecall <= 0.999999,
      s"targetRecall must be in [0.5, 0.999999] (1.0 needs an exact " +
        s"generator, not LSH), got $targetRecall")
    require(calibQueries >= 1, s"calibQueries must be >= 1, got $calibQueries")
    require(calibTables >= 1 && calibTables <= maxTables &&
        maxTables <= LshWideMaxTables,
      s"need 1 <= calibTables ($calibTables) <= maxTables ($maxTables) " +
        s"<= $LshWideMaxTables (maxTables > $LshAutoMaxTables opts into " +
        "the wide hyperplane pool — cost is linear in L)")
    // a caller-shared signature stage (built at >= maxTables width, e.g.
    // one cached 32-table frame serving the whole session's LSH family)
    // replaces BOTH per-pass builds: table t's bits are bit-identical at
    // every signature width, so slicing a wider frame is the same run.
    // A shared frame NARROWER than a pass's t (a 32-table cache under a
    // wide-ceiling escalation) falls back to a fresh build instead of
    // failing the pass the solver just proved necessary.
    def sigStage(t: Int): DataFrame =
      sigs.filter(_.columns.contains(s"__ds${t - 1}"))
        .getOrElse(lshAutoSignatureStage(corpus, t))
    val targetMicro = math.ceil(targetRecall * 1000000.0).toLong

    // the stripe's exact ≥-threshold truth: one corpus scan vs the
    // broadcast stripe (same shape as the recall cards)
    val qs = corpus.filter(col("vec_id") < calibQueries)
    val truth = corpus
      .join(broadcast(qs.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("nrm").as("qn"))),
        col("vec_id") =!= col("query_id"))
      .filter(cosine(col("embedding"), col("qe"), col("nrm"), col("qn"))
        >= threshold)
      .select(col("query_id"), col("vec_id").as("other_id"))
      .cache()
    val nTrue = truth.count()
    if (nTrue == 0) {
      truth.unpersist()
      throw new IllegalArgumentException(
        s"nearDupPairsLshAtRecall: the calibration stripe (vec_id < " +
          s"$calibQueries) has NO true >= $threshold partner — recall is " +
          "undefined; widen calibQueries or lower the threshold")
    }
    // floor(hit·10⁶ / n_true): pure integer, oracle-identical
    def recallMicroOf(pairs: DataFrame): Long = {
      val both = pairs
        .select(col("vec_a").as("query_id"), col("vec_b").as("other_id"))
        .unionAll(pairs
          .select(col("vec_b").as("query_id"), col("vec_a").as("other_id")))
        .filter(col("query_id") < calibQueries)
      truth.join(both, Seq("query_id", "other_id"), "left_semi").count() *
        1000000L / nTrue
    }

    val pairs1 = nearDupPairsLshFrom(
      sigStage(calibTables), threshold,
      targetBucket, calibTables, maxBucket, probes).cache()
    val r1 = recallMicroOf(pairs1)

    // predicted micro MISS at k·calibTables tables (RecallMath: per-step
    // floor, the cross-engine contract shared with the MinHash twin)
    val m1 = 1000000L - r1
    val kmax = maxTables / calibTables
    RecallMath.solveUnits(m1, targetMicro, kmax) match {
      case None =>
        truth.unpersist(); pairs1.unpersist()
        val needL = RecallMath.adviseUnits(m1, targetMicro, calibTables)
        throw new LshRecallUnreachable(
          s"nearDupPairsLshAtRecall: target recall $targetRecall is " +
            s"UNREACHABLE at the $maxTables-table ceiling for threshold " +
            s"$threshold on this corpus: measured calibration recall " +
            s"${r1 / 1e6} at $calibTables tables predicts " +
            s"${(1000000L - RecallMath.missSchedule(m1, kmax).last) / 1e6} " +
            s"at ${kmax * calibTables} (the solver's real ceiling — " +
            s"multiples of calibTables; 1-(1-x)^L geometry says L ≈ " +
            s"$needL tables) — raise maxTables (up to $LshWideMaxTables " +
            "via the wide pool), lower the threshold, or consume the " +
            "top-k surface (topKPerVector / knnGraph) instead")
      case Some(1) =>
        truth.unpersist()
        LshAtRecall(pairs1, calibTables, targetMicro, nTrue,
          calibTables, r1, r1)
      case Some(k) =>
        val l = k * calibTables
        val pairs2 = nearDupPairsLshFrom(
          sigStage(l), threshold,
          targetBucket, l, maxBucket, probes).cache()
        val r2 = recallMicroOf(pairs2)
        truth.unpersist(); pairs1.unpersist()
        LshAtRecall(pairs2, l, targetMicro, nTrue, calibTables, r1, r2)
    }
  }

  /** [[graft.ops.GraphOps.knnGraph]] over the LSH candidate pairs WITH
    * a minimum head-recall CONTRACT — the enforcement form of the
    * `dedup_embedding_lsh_topk_recall` card (the card is an
    * instrument; this is the automatic response to a bad reading).
    * Before returning the arcs, the operator measures
    * top-of-ranking recall on a fixed `calibQueries` stripe: of each
    * stripe vector's true top-`k` ≥-threshold partners (exact cosine,
    * one corpus scan against the broadcast stripe), the fraction the
    * bucketed generator surfaced, pooled over the stripe in floor-micro
    * integers. If the reading is below `minHeadRecall`, the operator
    * APPLIES the frontier fix itself (at ×100 the 8-table reading is
    * 0.156 against a 0.25 contract):
    * solve the smallest L the validated 1−(1−x)^L geometry predicts
    * clears the contract, rebuild the pair surface at that L, and
    * re-measure — the auto-L escalation `nearDupPairsLshAtRecall`
    * already does on the absolute-recall axis. Only a contract past
    * even the [[LshAutoMaxTables]] ceiling's prediction, or a
    * re-measured reading the prediction overestimated, still FAILS BY
    * NAME instead of silently handing downstream analytics (BFS, PPR,
    * triangles, communities) a graph missing its strongest edges.
    *
    * Ranking-head recall is the right contract for a kNN-graph build:
    * absolute-threshold recall decays with corpus size by LSH geometry
    * (measured at ×10), but the arc-capped graph only consumes each
    * vector's k STRONGEST partners — measured 0.99 at sf0.01 yet 0.31
    * at ×10 on the synthetic corpus whose whole top-8 sits at
    * cos 0.39–0.43, sign-LSH's hardest regime. This operator is how a
    * build at the bad end of that spectrum stops being a silent
    * quality loss. Scale shape: the pair chain is [[nearDupPairsLsh]]
    * unchanged; the contract costs one stripe-bounded truth scan and
    * one count.
    */
  def knnGraphAtHeadRecall(corpus: DataFrame, threshold: Double, k: Int,
      minHeadRecall: Double,
      calibQueries: Int = 64,
      targetBucket: Int = LshAutoTargetBucket,
      tables: Int = LshTables,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      probes: Int = LshAutoProbes): DataFrame =
    knnGraphAtHeadRecallReleasable(corpus, threshold, k, minHeadRecall,
      calibQueries, targetBucket, tables, maxBucket, probes)._1

  /** [[knnGraphAtHeadRecall]] plus a release handle for the internal
    * candidate-pair cache: on the success path the arcs'
    * plan reads the cached pairs, so the cache must outlive the build —
    * but a consumer that has COUNTED/materialized the arcs should
    * release it rather than leave the surface pinned for the session
    * (the routed card hit this live at ×10). Contract-failure paths
    * still unpersist internally before raising.
    */
  def knnGraphAtHeadRecallReleasable(corpus: DataFrame, threshold: Double,
      k: Int,
      minHeadRecall: Double,
      calibQueries: Int = 64,
      targetBucket: Int = LshAutoTargetBucket,
      tables: Int = LshTables,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      probes: Int = LshAutoProbes): (DataFrame, () => Unit) = {
    require(minHeadRecall > 0 && minHeadRecall <= 0.999999,
      s"minHeadRecall must be in (0, 0.999999], got $minHeadRecall")
    require(k >= 1, s"k must be >= 1, got $k")
    require(calibQueries >= 1, s"calibQueries must be >= 1, got $calibQueries")
    val minMicro = math.ceil(minHeadRecall * 1000000.0).toLong
    val pairs = nearDupPairsLsh(corpus, threshold, targetBucket, tables,
      maxBucket, probes).cache()

    import org.apache.spark.sql.expressions.Window
    val qs = corpus.filter(col("vec_id") < calibQueries)
    val truthAll = corpus
      .join(broadcast(qs.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("nrm").as("qn"))),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("other_id"),
        cosine(col("embedding"), col("qe"), col("nrm"), col("qn")).as("cos"))
      .filter(col("cos") >= threshold)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("other_id"))
    val topk = truthAll
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select("query_id", "other_id")
      .cache()
    val nTrue = topk.count()
    if (nTrue == 0) {
      topk.unpersist(); pairs.unpersist()
      throw new IllegalArgumentException(
        s"knnGraphAtHeadRecall: the calibration stripe (vec_id < " +
          s"$calibQueries) has NO true >= $threshold partner — the head " +
          "recall contract cannot be checked; widen calibQueries or " +
          "lower the threshold")
    }
    def headRecallMicroOf(p: DataFrame): Long = {
      val both = p
        .select(col("vec_a").as("query_id"), col("vec_b").as("other_id"))
        .unionAll(p
          .select(col("vec_b").as("query_id"), col("vec_a").as("other_id")))
        .filter(col("query_id") < calibQueries)
      topk.join(both, Seq("query_id", "other_id"), "left_semi").count() *
        1000000L / nTrue
    }
    val rMicro = headRecallMicroOf(pairs)
    if (rMicro >= minMicro) {
      topk.unpersist()
      (GraphOps.knnGraph(pairs, "vec_a", "vec_b", "cos_sim", k),
        () => { pairs.unpersist(); () })
    } else {
      // the frontier fix, APPLIED: head miss shrinks ∝ (1−x)^L like
      // threshold miss — solve the smallest multiple of `tables` whose
      // predicted head recall clears the contract (RecallMath, the
      // integer chain nearDupPairsLshAtRecall uses), ESCALATE to the
      // solved count, and re-MEASURE on the same stripe — the contract
      // passes or raises on measurement, never on prediction. Only a
      // target past even the solver's ceiling (or a reading the
      // geometry's prediction overestimated) still raises by name; a
      // base table count above the ceiling leaves no multiple to solve.
      //
      // The escalation is INCREMENTAL — the already-built
      // `tables`-table pair surface is kept and only the NEW tables
      // [tables, l) are probed, the two unioned and pair-deduplicated.
      // Table t's hyperplanes are bit-identical at every pool width
      // (the wide-pool prefix property), so the union IS the
      // from-scratch l-table surface (escalation-identity test in
      // NativeFoldEquivalenceSpec); a from-scratch rebuild would pay
      // the first `tables` tables' signature scan, bucket shuffle and
      // in-bucket expansion a second time (515 s at ×100, ~tables/l of
      // it re-derivation).
      val kmax = LshAutoMaxTables / tables
      val solved =
        if (kmax < 1) None
        else RecallMath.solveUnits(1000000L - rMicro, minMicro, kmax)
      solved match {
        case None =>
          pairs.unpersist()
          topk.unpersist()
          throw new IllegalArgumentException(
            s"knnGraphAtHeadRecall: measured head recall ${rMicro / 1e6} " +
              s"(top-$k, $tables tables, stripe vec_id < $calibQueries) " +
              s"is BELOW the $minHeadRecall contract — the kNN graph " +
              "would be missing its strongest edges; NO table count <= " +
              s"${kmax * tables} (the solver's " +
              "ceiling in multiples of the current table count) reaches " +
              "the contract at this threshold — lower minHeadRecall, " +
              "lower the threshold, or use an exact generator")
        case Some(kk) =>
          val l = kk * tables
          val extra = nearDupPairsLshTableRange(corpus, threshold,
            targetBucket, tables, l, maxBucket, probes)
          val pairs2 = pairs.unionAll(extra)
            .groupBy("vec_a", "vec_b")
            .agg(max(col("cos_sim")).as("cos_sim"))
            .cache()
          val r2 = headRecallMicroOf(pairs2)
          // pairs2 is materialized by the recall count above; the
          // first surface can release its blocks now
          pairs.unpersist()
          topk.unpersist()
          if (r2 >= minMicro)
            (GraphOps.knnGraph(pairs2, "vec_a", "vec_b", "cos_sim", k),
              () => { pairs2.unpersist(); () })
          else {
            pairs2.unpersist()
            throw new IllegalArgumentException(
              s"knnGraphAtHeadRecall: measured head recall " +
                s"${rMicro / 1e6} at $tables tables (top-$k, stripe " +
                s"vec_id < $calibQueries) was BELOW the $minHeadRecall " +
                s"contract; ESCALATED to the solved $l tables and " +
                s"re-measured ${r2 / 1e6} — still below (the 1-(1-x)^L " +
                "prediction overestimated this geometry) — lower " +
                "minHeadRecall, lower the threshold, or use an exact " +
                "generator")
          }
      }
    }
  }

  /** Per-vector top-k cap over a near-dup pair surface: keep a pair iff
    * it is among EITHER endpoint's `k` best partners (cosine desc,
    * partner-id tiebreak) — the knnGraph arc-cap pattern applied to the
    * pair dump, making the OUTPUT linear in the corpus (≤ n·k pairs) no
    * matter how dense the ≥-threshold pair set is. At a fixed threshold
    * the true pair count is a DATA property that can grow superlinearly
    * (every exact generator returns the same superlinear set); this cap
    * is the output-bounded contract a 100 TB dedup pass wants — each
    * vector still surfaces its k strongest near-dups, but a degenerate
    * clique of m near-identical vectors costs m·k, not m².
    *
    * The rank filter compiles to WindowGroupLimit (per-partition
    * top-k pruning before the sort materializes a vector's full
    * partner list). Returns (vec_a, vec_b, cos_sim), vec_a < vec_b.
    */
  def topKPerVector(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val both = pairs
      .select(col("vec_a").as("q"), col("vec_b").as("o"), col("cos_sim"))
      .unionAll(pairs
        .select(col("vec_b").as("q"), col("vec_a").as("o"), col("cos_sim")))
    val w = Window.partitionBy("q").orderBy(col("cos_sim").desc, col("o"))
    both
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(least(col("q"), col("o")).as("vec_a"),
        greatest(col("q"), col("o")).as("vec_b"), col("cos_sim"))
      .distinct()
  }

  /** Per-BATCH-vector top-k cap over a CROSS-corpus pair surface
    * ([[nearDupPairsLshCrossSlim]] output): keep each batch vector's `k`
    * strongest existing-side partners (cosine desc, existing-id
    * tiebreak), so the probe's output is ≤ |batch|·k rows at ANY index
    * size — the [[topKPerVector]] contract restated for the
    * incremental shape, where the uncapped dump grows with the true
    * cross-dup density (a data property: a batch vector landing in a
    * dense region of the index emits every ≥-threshold partner). The
    * cap is one-sided by design: the INDEX side needs no cap because
    * each of its members can only be emitted against batch vectors,
    * and the batch is the bounded side of the daily-increment shape.
    *
    * The rank filter compiles to WindowGroupLimit (per-partition top-k
    * pruning before any full partner list materializes). Returns
    * (existing_id, batch_id, cos_sim).
    */
  def topKPerBatchVector(crossPairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy("batch_id")
      .orderBy(col("cos_sim").desc, col("existing_id"))
    crossPairs
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("existing_id"), col("batch_id"), col("cos_sim"))
  }

  /** A trained matrix applied to the `[offset, offset + len)` slice of
    * `vecCol` (`len < 0`: the book's width) by the one native kernel,
    * [[graft.expressions.CentroidDistances]]: one kernel call per row,
    * the rows ride the plan as one reference object, not literals.
    */
  private[ops] def matrixKernel(book: CentroidBook, vecCol: Column,
      score: RowScore, roundDp: Option[Int], output: CellOutput,
      offset: Int = 0, len: Int = -1): Column =
    ColumnBridge.column(CentroidDistances(ColumnBridge.expression(vecCol),
      book, offset, if (len < 0) book.dim else len, score, roundDp, output))

  /** d = round(|c|² − 2·x·c, dp) to every cell (|x|² dropped), cells
    * ordered by (d, cell): the argmin/rank rule both engines share.
    */
  private def centroidDistances(cs: Seq[(Long, Array[Double])], vecCol: Column,
      roundDp: Int, output: CellOutput, offset: Int = 0, len: Int = -1): Column =
    matrixKernel(CentroidBook(cs), vecCol, RowScore.Dist, Some(roundDp), output, offset, len)

  /** Nearest-cell assignment of the `embedding` column. */
  def assignCell(cs: Seq[(Long, Array[Double])], roundDp: Int = 6): Column =
    assignCellOn(cs, col("embedding"), roundDp)

  /** Per-label class prototypes (the Rocchio / nearest-centroid
    * classifier's training step, Rocchio 1971): the exact decimal mean
    * of each label's member vectors — ONE aggregation over the corpus
    * (the Lloyd's update step grouped by the LABEL column instead of an
    * assigned cell), collected as a labels×dim matrix. With
    * [[assignCell]] as the predictor this is the cheapest supervised
    * baseline an embedding column supports: train = one pass, predict =
    * scan-side native argmin against the prototypes, and the whole
    * train→predict→evaluate chain shares the audited k-means
    * arithmetic contract (6dp-rounded components, DECIMAL sums, cell
    * tiebreak), so it replays in the oracle.
    */
  def labelPrototypes(emb: DataFrame, roundDp: Int = 6): Seq[(Long, Array[Double])] = {
    val rows = emb
      .select(col("label").cast("long").as("cell"), posexplode(col("embedding")))
      .groupBy("cell", "pos")
      .agg(
        sum(round(col("col").cast("double"), roundDp).cast("decimal(28,12)")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cell"), col("pos"),
        round(col("s").cast("double") / col("n"), roundDp).as("m"))
      .collect()
    rows.groupBy(_.getLong(0)).map { case (cell, rs) =>
      val arr = new Array[Double](rs.length)
      rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
      (cell, arr)
    }.toSeq.sortBy(_._1)
  }

  /** [[assignCell]]'s argmin over the `[offset, offset + len)` slice of
    * a vector column — product quantization assigns per subspace slice,
    * not the whole embedding.
    */
  private def assignCellOn(cs: Seq[(Long, Array[Double])], vecCol: Column,
      roundDp: Int, offset: Int = 0, len: Int = -1): Column =
    centroidDistances(cs, vecCol, roundDp, CellOutput.Nearest, offset, len)
      .getField("cell")

  /** Lloyd's k-means coarse-quantizer training — the step that turns
    * [[ivfTopK]]'s "given" cells into TRAINED cells (what a real IVF
    * index builds). Driver-iterated exactly like Spark MLlib's KMeans:
    * each iteration is one distributed assign+update pass whose k×dim
    * result collects to the driver and becomes the next iteration's
    * broadcast constants — the only driver data ever held is the
    * centroid matrix itself.
    *
    * Every arithmetic step is cross-engine deterministic, so the final
    * assignment oracle-checks in DuckDB:
    *   - init: the first k vectors by id (data-deterministic, no RNG);
    *   - assignment: argmin over cells of round(|c|² − 2·x·c, dp) with
    *     cell-id tiebreak — |x|² is cell-independent and dropped; dots
    *     are the same left-to-right double accumulation on both engines
    *     (the native centroid kernel ≡ `list_dot_product`);
    *   - update: per-(cell, dim) mean from EXACT decimal sums of
    *     round(component, dp) — partitioning-independent — divided once
    *     and re-rounded.
    * Empty cells drop out on both sides (their id simply vanishes).
    *
    * Split as [[kmeansCentroids]] (training → the k×dim matrix) +
    * [[kmeansCells]] (assignment) so [[ivfTopKMultiProbe]] can rank
    * probe cells against the same trained centroids. Empty when no seed
    * vectors exist.
    */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int,
      roundDp: Int = 6): Seq[(Long, Array[Double])] = {
    def assignCol(cs: Seq[(Long, Array[Double])]): Column =
      assignCell(cs, roundDp)
    var cur: Seq[(Long, Array[Double])] = emb
      .filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .collect()
      // element-type-agnostic read: seeds may be array<float> (the
      // embeddings table) or array<double> (hashingTf output)
      .map(r => (r.getLong(0), r.getSeq[Number](1).map(_.doubleValue).toArray))
      .toSeq.sortBy(_._1)
    // no seed vectors (empty corpus, or nothing under id k): an empty
    // centroid matrix is the benign answer (one bad partition must never
    // kill a 100 TB job) — kmeansCells turns it into an empty assignment
    if (cur.isEmpty) return Seq.empty
    for (_ <- 1 to iters) {
      val upd = emb
        .withColumn("cell", assignCol(cur))
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy("cell", "pos")
        .agg(
          sum(round(col("col").cast("double"), roundDp).cast("decimal(28,12)")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("pos"),
          round(col("s").cast("double") / col("n"), roundDp).as("m"))
        .collect()
      cur = upd.groupBy(_.getLong(0)).map { case (cell, rows) =>
        val arr = new Array[Double](rows.length)
        rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
        (cell, arr)
      }.toSeq.sortBy(_._1)
    }
    cur
  }

  /** Trained-cell assignment per vector (the IVF index build step). */
  def kmeansCells(emb: DataFrame, k: Int, iters: Int, roundDp: Int = 6): DataFrame =
    kmeansCells(emb, kmeansCentroids(emb, k, iters, roundDp), roundDp)

  /** Assignment against an ALREADY-TRAINED centroid matrix — the
    * train-once / assign-many split (the cached-model path shares one
    * matrix across the whole recall family).
    */
  def kmeansCells(emb: DataFrame, cents: Seq[(Long, Array[Double])],
      roundDp: Int): DataFrame = {
    if (cents.isEmpty)
      return emb.select(col("vec_id"), lit(-1L).as("cell")).filter(lit(false))
    emb.withColumn("cell", assignCell(cents, roundDp)).select(col("vec_id"), col("cell"))
  }

  /** IVF multi-probe top-k: each query searches its `nprobe` NEAREST
    * trained cells instead of only the one its vector falls in — the
    * standard IVF recall knob (FAISS's `nprobe`). The true neighbor of a
    * query near a cell boundary usually sits in an adjacent cell; probing
    * the next-nearest centroids recovers it without touching the rest of
    * the corpus.
    *
    * Scale shape mirrors [[lshTopKMultiProbe]]: the probe expansion is
    * `nprobe×` rows on the BROADCAST (query) side only; the corpus is
    * scanned once and joined per-cell. `nprobe = 1` degenerates to
    * [[ivfTopK]] over the trained cells exactly (the rank-1 probe is the
    * same (d, cell) argmin the assignment uses).
    */
  def ivfTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
      centroids: Seq[(Long, Array[Double])], k: Int, nprobe: Int,
      roundDp: Int = 6): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val probes = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        explode(centroidDistances(centroids, col("q_emb"), roundDp,
          CellOutput.Ranked(nprobe))).as("cell"))
    val scored = corpus
      .withColumn("cell", assignCell(centroids, roundDp))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    topK(scored, k)
  }

  /** [[ivfTopKAtRecall]]'s result: the served top-k at the solved
    * nprobe plus the ENTIRE measured recall frontier the decision was
    * made from (index p−1 → recall at nprobe = p, floor-micro, measured
    * on the calibration stripe).
    */
  final case class IvfAtRecall(
      results: DataFrame,
      nprobe: Int,
      targetMicro: Long,
      nTrue: Long,
      maxProbe: Int,
      recallAtMicro: IndexedSeq[Long],
      pinned: Seq[DataFrame] = Nil) {
    /** `results` slices a candidate frame the operator CACHED (the
      * frontier was measured from those blocks; recomputing them to
      * serve would re-run the scan) — call this once the results are
      * consumed, or repeated operator calls in one session accumulate
      * cached blocks (the growth class the bench's evict knob bounds).
      */
    def release(): Unit = { pinned.foreach(_.unpersist()); () }
  }

  /** RECALL-TARGETING IVF top-k — the third leg of the enforcement
    * family after [[nearDupPairsLshAtRecall]] (hyperplane-table axis)
    * and [[DedupOps.minhashPairsAtRecall]] (MinHash-band axis). The
    * nprobe axis needs NO amplification model at all: a corpus vector
    * lives in exactly one cell, and that cell has exactly one rank in a
    * query's centroid ordering — so ONE candidate pass at `maxProbe`,
    * with each candidate tagged by its cell's probe rank, contains the
    * ENTIRE recall-vs-nprobe frontier (recall at p = the fraction of
    * true top-k pairs whose tag < p — the min_t trick with an exact
    * rank instead of a min). The operator:
    *
    *   1. TRUTH: brute-force top-`k` of the CALIBRATION STRIPE — the
    *      queries with `vec_id < calibQueries` (one corpus scan against
    *      the broadcast stripe; stripe size is FIXED, so the exact
    *      truth costs O(|corpus|·calibQueries) at any query-batch size
    *      — the same stripe contract as the LSH/MinHash twins; a
    *      full-query-set truth would be O(|corpus|·|Q|), the cost the
    *      index exists to avoid).
    *   2. SCAN ONCE at `maxProbe`, tag candidates with the probe rank,
    *      pull the ≤ `maxProbe`-row rank histogram of the STRIPE's
    *      truth hits.
    *   3. SOLVE: the smallest p whose MEASURED floor-micro stripe
    *      recall meets the target; ALL queries are served from the
    *      already-scanned candidate slice (tag < p) — no rebuild pass
    *      exists on this axis. Unreachable at `maxProbe` raises BY
    *      NAME with the measured frontier top and the guaranteed
    *      closer (recall is 1.0 by construction at nprobe = the cell
    *      count).
    *
    * A true top-k member that is scanned is always returned: its exact
    * cosine ranks it within any scanned superset at least as high as in
    * the full corpus. So scanned-at-p recall IS retrieved-at-p recall.
    *
    * Scale shape: two corpus scans total (stripe truth + candidates),
    * both against broadcast query relations; the driver pulls one
    * histogram of at most `maxProbe` rows. The candidate scan serves
    * the FULL query batch at `maxProbe` width — a cost the caller
    * bounds with `maxProbe`, not a hidden exact pass.
    */
  def ivfTopKAtRecall(corpus: DataFrame, queries: DataFrame,
      centroids: Seq[(Long, Array[Double])], k: Int, targetRecall: Double,
      maxProbe: Int, roundDp: Int = 6,
      calibQueries: Int = 64): IvfAtRecall = {
    require(targetRecall >= 0.5 && targetRecall <= 1.0,
      s"targetRecall must be in [0.5, 1.0] (1.0 IS reachable on this " +
        s"axis: probe every cell), got $targetRecall")
    require(maxProbe >= 1 && maxProbe <= centroids.size,
      s"need 1 <= maxProbe ($maxProbe) <= cell count (${centroids.size})")
    require(calibQueries >= 1, s"calibQueries must be >= 1, got $calibQueries")
    val targetMicro = math.ceil(targetRecall * 1000000.0).toLong

    val truth = bruteTopK(corpus,
      queries.filter(col("vec_id") < calibQueries), k)
      .select(col("query_id"), col("neighbor_id")).cache()
    val nTrue = truth.count()
    if (nTrue == 0) {
      truth.unpersist()
      throw new IllegalArgumentException(
        "ivfTopKAtRecall: the calibration stripe (vec_id < " +
          s"$calibQueries) produced NO brute-force truth rows — recall " +
          "is undefined; widen calibQueries or pass a query set that " +
          "overlaps the stripe")
    }
    val probes = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        posexplode(centroidDistances(centroids, col("q_emb"), roundDp,
          CellOutput.Ranked(maxProbe))))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("pos"), col("col").as("cell"))
    val scanned = corpus
      .withColumn("cell", assignCell(centroids, roundDp))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"),
        col("pos"))
      .cache()
    // the probe-rank histogram of the truth hits: ≤ maxProbe rows
    val hist = truth
      .join(scanned.select(col("query_id"), col("neighbor_id"), col("pos")),
        Seq("query_id", "neighbor_id"))
      .groupBy("pos").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val recallAt = (1 to maxProbe).map { p =>
      (0 until p).map(hist.getOrElse(_, 0L)).sum * 1000000L / nTrue
    }.toIndexedSeq
    recallAt.indexWhere(_ >= targetMicro) match {
      case -1 =>
        truth.unpersist(); scanned.unpersist()
        throw new IllegalArgumentException(
          s"ivfTopKAtRecall: target recall $targetRecall is UNREACHABLE " +
            s"at the $maxProbe-probe ceiling on this corpus: the measured " +
            s"frontier tops out at ${recallAt.last / 1e6} — raise maxProbe " +
            s"(recall is 1.0 by construction at nprobe = ${centroids.size}, " +
            "the cell count)")
      case i =>
        val p = i + 1
        val res = topK(scanned.filter(col("pos") < p).drop("pos"), k)
        truth.unpersist()
        IvfAtRecall(res, p, targetMicro, nTrue, maxProbe, recallAt,
          pinned = Seq(scanned))
    }
  }

  /** SPANN-style boundary replication (Chen et al., NeurIPS 2021): the
    * third recall axis after query-side probing ([[ivfTopKMultiProbe]]'s
    * nprobe) and table OR-ing ([[lshTableCandidates]]). Instead of each query
    * opening more cells at SEARCH time, each corpus vector is indexed
    * into its `replicas` nearest cells at BUILD time — the boundary
    * vectors that nprobe chases across cells are already present in the
    * neighboring posting lists, so the query touches exactly ONE cell.
    *
    * The trade is explicit: index size ×replicas (a build-time, storage
    * cost — amortized over every query) buys single-probe latency at
    * query time. At 100 TB serving scale that is usually the right side
    * of the trade: storage is cheap, per-query fan-out is not. The
    * replica expansion is a scan-side explode of the corpus (the big
    * side grows ×replicas but never shuffles for the join — the query
    * side is still the broadcast relation), and `replicas = 1`
    * degenerates to the trained-cell [[ivfTopK]] exactly.
    */
  def ivfTopKReplicated(corpus: DataFrame, queries: DataFrame,
      centroids: Seq[(Long, Array[Double])], k: Int, replicas: Int,
      roundDp: Int = 6): DataFrame = {
    require(replicas >= 1, s"replicas must be >= 1, got $replicas")
    val q = queries.select(
      col("vec_id").as("query_id"),
      assignCell(centroids, roundDp).as("cell"),
      col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val replicated = corpus
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(centroidDistances(centroids, col("embedding"), roundDp,
          CellOutput.Ranked(replicas))).as("cell"))
    val scored = replicated
      .join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    topK(scored, k)
  }

  // ─── Sparse random projection (Achlioptas, "Database-friendly random
  //     projections", JCSS 2003) ─────────────────────────────────────────
  //
  // The Johnson–Lindenstrauss axis of the compression family: project
  // dim-d vectors through a FIXED sparse ±1 matrix (entries +1/−1/0
  // with probability 1/6, 1/6, 2/3) into a much smaller space where
  // angles are approximately preserved. Unlike PQ (trained codebooks)
  // and Matryoshka (model-dependent prefix structure), the projection
  // is data-INDEPENDENT: no training pass, no model state — the matrix
  // derives deterministically from md5, so any engine regenerates it
  // bit-identically (the LSH-hyperplane determinism story, reused).
  //
  // Scale shape: the projection is a pure scan-side map (one native
  // kernel call per row over the outDim weight rows, 2/3 of whose
  // entries are zero); cosine in the projected space is
  // scale-invariant, so the 1/sqrt(outDim) JL normalization is dropped.

  /** The fixed sparse weight matrix: `outDim` rows of `inDim` entries in
    * {−1, 0, +1}, entry (j,i) from md5("rp:j:i") — the same derivation
    * an oracle replays.
    */
  def rpWeights(outDim: Int, inDim: Int): Seq[Seq[Int]] =
    (0 until outDim).map { j =>
      (0 until inDim).map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"rp:$j:$i".getBytes("UTF-8"))
        val h4 = ((d(0) & 0xff) << 8) | (d(1) & 0xff) // first 4 hex chars
        h4 % 6 match {
          case 0 => 1
          case 1 => -1
          case _ => 0
        }
      }
    }

  /** Projected embeddings: one row per (vec_id, dim j, rounded value) —
    * the exploded form hash-compares robustly across engines.
    */
  def randomProjectLong(emb: DataFrame, weights: Seq[Seq[Int]]): DataFrame =
    emb.select(col("vec_id"), posexplode(projected(weights)).as(Seq("j", "v")))
      .select(col("vec_id"), col("j").cast("long").as("j"), col("v"))

  /** The projected corpus in [[withNorm]] shape (embedding + nrm), ready
    * for any of the top-k searchers.
    */
  def randomProject(emb: DataFrame, weights: Seq[Seq[Int]]): DataFrame =
    withNorm(emb.select(col("vec_id"), projected(weights).as("embedding")))

  /** `embedding` through the weight matrix, coordinates rounded to 6dp. */
  private def projected(weights: Seq[Seq[Int]]): Column =
    matrixKernel(CentroidBook.rows(weights.map(_.map(_.toDouble).toArray)),
      col("embedding"), RowScore.Dot, Some(6), CellOutput.Table)

  // ─── k-center coreset (Gonzalez, "Clustering to minimize the maximum
  //     intercluster distance", TCS 1985) ───────────────────────────────
  //
  // Greedy farthest-point selection: start from a deterministic seed,
  // repeatedly add the corpus vector FARTHEST from the current center
  // set. The selected k vectors 2-approximate the optimal k-center
  // cover — the standard coreset / diverse-subset primitive for data
  // curation (pick maximally-spread exemplars, budget-bounded).
  //
  // Execution shape at 100 TB: each of the k−1 steps is ONE corpus scan
  // computing min-distance-to-centers against the ≤k selected centers
  // (one native kernel call per row, the centers by reference; the
  // oracle SQL inlines them as literals), reduced by
  // TakeOrderedAndProject to a SINGLE row (per-
  // partition top-1 heaps — only numPartitions rows ever reach the
  // driver). Selection is inherently sequential (step i's candidate
  // depends on centers 0..i−1 — the same driver-iterated contract as
  // Lloyd's); k is small by construction, so the chain is k−1 cheap
  // scan+reduce jobs, never a shuffle of the corpus.
  //
  // Determinism: squared L2 distance via round(|x|² + |c|² − 2·x·c, dp)
  // with vec_id tiebreak — the kmeansCentroids arithmetic contract, so
  // the DuckDB oracle replays the whole selection chain.

  /** `struct(d, cell)` of the nearest center under the full squared
    * distance round(|x|² + |c|² − 2·x·c, dp), ties by center id.
    */
  private def nearestFull(cs: Seq[(Long, Array[Double])], vecCol: Column,
      roundDp: Int): Column =
    matrixKernel(CentroidBook(cs), vecCol, RowScore.FullDist, Some(roundDp),
      CellOutput.Nearest)

  /** The k-center seed, the min-vec_id row; None for an empty corpus. */
  private def kcenterSeed(emb: DataFrame): Option[(Long, Array[Double])] =
    emb.select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).limit(1)
      .collect().headOption.map(readVector)

  private def readVector(r: org.apache.spark.sql.Row): (Long, Array[Double]) =
    (r.getLong(0), r.getSeq[Number](1).map(_.doubleValue).toArray)

  /** The selected centers, in selection order. Seed = min vec_id. */
  def kcenterCenters(emb: DataFrame, k: Int,
      roundDp: Int = 6): Seq[(Long, Array[Double])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val seed = kcenterSeed(emb)
    if (seed.isEmpty) return Seq.empty // empty corpus: benign empty coreset
    var centers = seed.toVector
    var covered = false // every remaining row is already a center (dmin 0)
    while (centers.length < k && !covered) {
      val next = emb
        .select(col("vec_id"), col("embedding"),
          nearestFull(centers, col("embedding"), roundDp).getField("d").as("dmin"))
        .orderBy(col("dmin").desc, col("vec_id").asc)
        .limit(1)
        .collect()
      // k > distinct corpus rows: the farthest remaining point is AT a
      // selected center. Appending it would duplicate a center, and the
      // oracle's LEFT JOIN on cid would then fan out — stop instead.
      if (next.isEmpty || next(0).getDouble(2) <= 0d) covered = true
      else centers = centers :+ readVector(next(0))
    }
    centers
  }

  /** k-center with PARALLEL seeding (the deterministic analog of
    * k-means|| oversampling, Bahmani et al., "Scalable k-means++",
    * VLDB 2012): instead of one corpus scan PER CENTER (k−1 sequential
    * passes — infeasible at 100 TB for k in the hundreds), run `rounds`
    * scans that each batch-select the `oversample` FARTHEST rows from
    * the current candidate set (dmin DESC, vec_id ASC — a
    * TakeOrderedAndProject, so only `oversample` rows reach the
    * driver), then reduce the ≤ 1 + rounds·oversample candidates to k
    * by the exact greedy — run in-engine over the tiny candidate
    * DataFrame, so the arithmetic contract (rounded d², vec_id
    * tiebreak) is the same code path the oracle replays.
    *
    * Corpus passes: `rounds` + 1 (seed) instead of k−1; with
    * oversample ≈ 2k, 2–3 rounds suffice in practice (the spec pins
    * cover radius within 2× of the full greedy's). `dmin > 0` keeps
    * already-selected rows out of later batches, so candidates never
    * duplicate and the reduce's oracle join stays 1:1.
    */
  def kcenterParallelCenters(emb: DataFrame, k: Int, rounds: Int = 2,
      oversample: Int = 0, roundDp: Int = 6): Seq[(Long, Array[Double])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val l = if (oversample > 0) oversample else 2 * k
    val seed = kcenterSeed(emb)
    if (seed.isEmpty) return Seq.empty
    var cands = seed.toVector
    for (_ <- 1 to rounds) {
      val batch = emb
        .select(col("vec_id"), col("embedding"),
          nearestFull(cands, col("embedding"), roundDp).getField("d").as("dmin"))
        .filter(col("dmin") > 0d)
        .orderBy(col("dmin").desc, col("vec_id").asc)
        .limit(l)
        .select(col("vec_id"), col("embedding"))
        .collect()
      cands = cands ++ batch.map(readVector)
    }
    val candDf = emb.sparkSession.createDataFrame(
      cands.map { case (id, e) => (id, e.toSeq) }).toDF("vec_id", "embedding")
    kcenterCenters(candDf, k, roundDp)
  }

  /** Corpus rows against a selected coreset: selection order for the
    * centers themselves (−1 otherwise), nearest center, and the rounded
    * squared distance — the per-row cover assignment downstream
    * curation filters on (e.g. keep one exemplar per cover cell, or
    * weight by cover radius).
    */
  def kcenterAssign(emb: DataFrame, centers: Seq[(Long, Array[Double])],
      roundDp: Int = 6): DataFrame = {
    if (centers.isEmpty)
      return emb.select(col("vec_id"), lit(-1L).as("center_ord"),
        lit(-1L).as("center_id"), lit(0d).as("d2")).filter(lit(false))
    val ordExpr = centers.zipWithIndex
      .foldLeft(lit(-1L)) { case (acc, ((id, _), i)) =>
        when(col("vec_id") === id, lit(i.toLong)).otherwise(acc)
      }
    emb
      .select(col("vec_id"),
        ordExpr.as("center_ord"),
        nearestFull(centers, col("embedding"), roundDp).as("best"))
      .select(col("vec_id"), col("center_ord"),
        col("best").getField("cell").as("center_id"),
        col("best").getField("d").as("d2"))
  }

  /** Max per-label cell occupancy — the routing statistic for
    * [[nearDupPairs]]'s two arms (ONE column-pruned scan + one tiny
    * aggregation; the hot-key guard checks the same per-cell n at
    * expansion time — this is its cost-model twin, measured BEFORE
    * choosing a plan, the [[DedupOps.inBlockPairCount]] pattern).
    */
  def maxLabelCell(corpus: DataFrame): Long =
    corpus.select(col("label"))
      .groupBy("label").agg(count(lit(1)).as("__n"))
      .agg(coalesce(max(col("__n")), lit(0L)).cast("long"))
      .collect()(0).getLong(0)

  /** The distributed arm of [[nearDupPairs]] for corpora whose label
    * cells exceed the collect ceiling: the IDENTICAL pair surface via a
    * null-safe label-keyed self-join (vec_a < vec_b orients pairs
    * exactly like the collect arm's sort_array order — vec_id leads the
    * member struct and is unique). The corpus is scanned twice and the
    * in-cell quadratic runs as join-task work spread across the
    * cluster instead of inside one collected row — no single task ever
    * holds a cell, so cells past [[DedupOps.DefaultMaxBucket]] compute
    * instead of raising. The per-pair math is the same
    * `cosine(ea,eb,na,nb)` expression, so the emitted rows hash-replay
    * bit-for-bit against the collect arm (property-pinned in
    * NearDupRegimeSpec).
    */
  private def nearDupPairsJoined(
      corpus: DataFrame, threshold: Double): DataFrame = {
    val a = corpus.select(col("label").as("__la"),
      col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = corpus.select(col("label").as("__lb"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    a.join(b, col("__la") <=> col("__lb"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosine(col("ea"), col("eb"), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Embedding-cosine near-dup pairs within a bucket: same-label pairs
    * above a cosine threshold. Bucketed self-join — quadratic only within
    * cells.
    *
    * Label blocking is FIXED-cardinality (see the auto-sized-LSH
    * header above) — cell occupancy grows ∝ n, so at ×100 the collect
    * arm's hot-cell guard fires by name and that arm cannot run at
    * all. Hence cost-routed (the
    * [[DedupOps.editDistancePairsAuto]] regime pattern): the measured
    * max cell size picks the collect arm (one scan + one shuffle,
    * optimal while cells fit) or the join arm ([[nearDupPairsJoined]],
    * scan-twice but cell-size-unbounded) — identical pairs either way,
    * so the choice is pure cost. The statistic, a routing long and never
    * a result, is memoized by the content of the corpus's labels.
    */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
      maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame = {
    val maxCell = ModelCache.value("maxLabelCell")(corpus.select("label")) {
      val m = maxLabelCell(corpus)
      System.err.println(s"[route] nearDupPairs: max cell $m, maxBucket $maxBucket, arm " +
        (if (m > maxBucket) "join" else "collect"))
      java.lang.Long.valueOf(m)
    }.longValue()
    if (maxCell > maxBucket) return nearDupPairsJoined(corpus, threshold)
    // Same single-branch shape as DedupOps.candidatePairs: ONE corpus
    // scan + one shuffle on the cell key, pairs expanded from collected
    // in-cell member lists (a self-join plans the corpus scan twice —
    // measured, and AQE did not reuse the exchanges). Cell size bounds
    // both the collected list and the quadratic expansion — enforced by
    // the same hot-bucket ceiling as candidatePairs (kept: the guard
    // now only backstops a cell that grows between the routing read and
    // expansion).
    val members = corpus
      .groupBy("label")
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("embedding"), col("nrm")))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(graft.ops.SessionOps.hotKeyGuarded(
        col("ms"), size(col("ms")).cast("long"), col("label").cast("string"),
        maxBucket.toLong, "nearDupPairs cell").as("ms"))
    // label cells carry no rule fields; a zero-norm member raises
    // DIVIDE_BY_ZERO like Spark's ANSI divide (CellCosinePairsSpec)
    members
      .select(explode(BlockPairs.of(col("ms"),
        Cosine(threshold, raiseOnZeroNorm = true))).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        round(col("p.cos"), 6).as("cos_sim"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): cluster the
    * embedding corpus with trained k-means cells, and within each cell
    * drop every vector that has a near-duplicate (cosine ≥ `threshold`)
    * ranked ahead of it — where the paper's keep rule ranks members by
    * DISTANCE FROM CENTROID, descending (the far-from-centroid example
    * survives; its redundant near-copies closer to the cluster core are
    * the ones removed), ties broken by vec_id.
    *
    * Unlike [[nearDupPairs]] (pairs within a PRE-LABELED bucket), this is
    * the full pipeline over learned cells: exact dedup catches byte
    * copies, MinHash catches lexical rewrites, SemDeDup catches semantic
    * redundancy — paraphrases and templated content that share no
    * shingles at all.
    *
    * Scale shape: one corpus scan assigns cells (the k×dim centroids
    * ride the plan as the native kernel's book), ONE shuffle on the cell
    * key, and the quadratic pair expansion happens only inside a cell's
    * collected member list, exactly the [[nearDupPairs]] single-branch
    * pattern. The drop rule needs no iteration: "dominated by any
    * earlier near-dup" is a one-shot EXISTS over in-cell ordered pairs,
    * which is what the paper's implementation computes per cluster.
    *
    * The centroid distance reuses the assignment functional
    * `round(|c|² − 2·x·c, dp)` — already exact across engines — so the
    * dominance order (and therefore the kept set) hash-replays.
    *
    * Returns every corpus row: (vec_id, cell, kept ∈ {0,1}).
    */
  def semanticDedup(emb: DataFrame, k: Int, iters: Int, threshold: Double,
      roundDp: Int = 6): DataFrame =
    semanticDedup(emb, kmeansCentroids(emb, k, iters, roundDp), threshold, roundDp)

  /** [[semanticDedup]] against an already-trained centroid matrix.
    * `maxPerCell` is the quadratic hot-key ceiling: a degenerate cell
    * (zero-vector collapse) raises by cell id instead of OOMing.
    */
  def semanticDedup(emb: DataFrame, cents: Seq[(Long, Array[Double])],
      threshold: Double, roundDp: Int): DataFrame =
    semanticDedup(emb, cents, threshold, roundDp,
      SessionOps.DefaultMaxQuadraticPerKey)

  def semanticDedup(emb: DataFrame, cents: Seq[(Long, Array[Double])],
      threshold: Double, roundDp: Int, maxPerCell: Long): DataFrame = {
    val n = withNorm(emb)
    if (cents.isEmpty)
      return n.select(col("vec_id"), lit(-1L).as("cell"), lit(1L).as("kept"))
        .filter(lit(false))
    val assigned = n
      .select(col("vec_id"), col("embedding"), col("nrm"),
        centroidDistances(cents, col("embedding"), roundDp, CellOutput.Nearest)
          .as("best"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("best").getField("cell").as("cell"),
        col("best").getField("d").as("cdist"))
    // Sort key: (−cdist, vec_id) ascending ≡ centroid distance
    // descending — struct sort is lexicographic, so the survivor
    // ordering is pinned before the pair expansion.
    // Trained cells bound the expansion in expectation, but a
    // degenerate centroid (all-zero embeddings collapsing into one
    // cell) would make one task's pair array quadratic — the same
    // hotKeyGuarded ceiling as nearDupPairs, counted on this agg.
    val members = assigned
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(
        (lit(0d) - col("cdist")).as("negd"), col("vec_id"),
        col("embedding"), col("nrm")))).as("ms0"),
        count(lit(1)).as("__n"))
      .select(col("cell"), graft.ops.SessionOps.hotKeyGuarded(col("ms0"),
        col("__n"), col("cell"), maxPerCell, "semanticDedup").as("ms"))
      .filter(size(col("ms")) > 1)
    assigned
      .join(semanticDedupDropped(members, threshold).withColumn("__dup", lit(1L)),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("__dup").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
  }

  /** SemDeDup's dropped vectors: each later member of a near-dup pair, once. */
  private[graft] def semanticDedupDropped(members: DataFrame, threshold: Double): DataFrame =
    members
      .select(explode(BlockPairs.of(col("ms"),
        Cosine(threshold, raiseOnZeroNorm = true))).as("p"))
      .select(col("p.vec_b").as("vec_id"))
      .distinct()

  // ─── Product quantization (Jégou, Douze, Schmid, "Product Quantization
  //     for Nearest Neighbor Search", TPAMI 2011) ────────────────────────
  //
  // The third leg of the bucketed-ANN stool next to IVF (trained coarse
  // cells) and LSH (data-independent cells): split each vector into `m`
  // contiguous subspaces, train an independent k-centroid codebook per
  // subspace, and store each vector as its m nearest-sub-centroid ids.
  // Queries run asymmetric distance computation (ADC): the query stays
  // exact, each corpus vector is approximated by its sub-centroids, and
  // the approximate distance is a sum of m table lookups instead of a
  // dim-wide dot product. The 100 TB story is compression: with m=4,k=8
  // the serving scan reads m small codes per vector instead of dim
  // float32s — the codes ARE the index — and each query's m×k distance
  // table rides the broadcast side.
  //
  // Every step keeps the kmeansCentroids determinism contract (same
  // init/argmin/decimal-update arithmetic per subspace), so codes, ADC
  // distances, and the recall evaluation all oracle-check in DuckDB.

  /** Train the `m` per-subspace codebooks with the SAME deterministic
    * Lloyd's arithmetic as [[kmeansCentroids]] — identical init (first k
    * vectors by id, sliced), argmin (round(|c|²−2·x_s·c, dp) with cell
    * tiebreak), and decimal-exact re-rounded component means — but in ONE
    * corpus scan per iteration for ALL subspaces: the pass computes the m
    * assignment columns side by side, posexplodes the full embedding
    * once, and routes every component to its (subspace, cell, position)
    * mean. Training each subspace separately would read the corpus
    * m×iters times; an index build over 100 TB pays for that difference.
    * Only the m×k×subDim centroid matrix ever reaches the driver.
    *
    * Returns one `(cellId, centroid)` codebook per subspace; empty cells
    * drop per subspace exactly as in [[kmeansCentroids]]. Spec-asserted
    * ≡ independent per-subspace training on the sliced corpus.
    */
  def pqCodebooks(emb: DataFrame, m: Int, subDim: Int, k: Int, iters: Int,
      roundDp: Int = 6): Seq[Seq[(Long, Array[Double])]] = {
    val seeds = emb
      .filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Number](1).map(_.doubleValue).toArray))
      .toSeq.sortBy(_._1)
    if (seeds.isEmpty) return Seq.fill(m)(Seq.empty)
    var books: Seq[Seq[(Long, Array[Double])]] = (0 until m).map { s =>
      seeds.map { case (id, v) => (id, v.slice(s * subDim, (s + 1) * subDim)) }
    }
    for (_ <- 1 to iters) {
      val upd = emb
        .select(
          array(books.zipWithIndex.map { case (cb, s) =>
            assignCellOn(cb, col("embedding"), roundDp, s * subDim, subDim)
          }: _*).as("cells"),
          col("embedding"))
        .select(col("cells"), posexplode(col("embedding")))
        .select(
          (col("pos") / lit(subDim)).cast("int").as("s"),
          element_at(col("cells"),
            (col("pos") / lit(subDim)).cast("int") + 1).as("cell"),
          pmod(col("pos"), lit(subDim)).as("p"),
          col("col"))
        .groupBy("s", "cell", "p")
        .agg(
          sum(round(col("col").cast("double"), roundDp)
            .cast("decimal(28,12)")).as("sm"),
          count(lit(1)).as("n"))
        .select(col("s"), col("cell"), col("p"),
          round(col("sm").cast("double") / col("n"), roundDp).as("mn"))
        .collect()
      books = (0 until m).map { s =>
        upd.filter(_.getInt(0) == s).groupBy(_.getLong(1)).map {
          case (cell, rows) =>
            val arr = new Array[Double](subDim)
            rows.foreach(r => arr(r.getInt(2)) = r.getDouble(3))
            (cell, arr)
        }.toSeq.sortBy(_._1)
      }
    }
    books
  }

  /** Encode the corpus: `vec_id` plus one BIGINT code per subspace — the
    * compressed representation that replaces the float32 embeddings at
    * serving time. Each code is one call into the native centroid
    * kernel ([[graft.expressions.CentroidDistances]]), which argmins the
    * subspace slice of the embedding in place; the corpus is scanned
    * once, nothing shuffles.
    */
  def pqCodes(emb: DataFrame, books: Seq[Seq[(Long, Array[Double])]],
      subDim: Int, roundDp: Int = 6): DataFrame = {
    if (books.exists(_.isEmpty))
      return emb
        .select(col("vec_id") +:
          books.indices.map(s => lit(-1L).as(s"code_$s")): _*)
        .filter(lit(false))
    emb.select(col("vec_id") +: books.indices.map { s =>
      assignCellOn(books(s), col("embedding"), roundDp, s * subDim, subDim)
        .as(s"code_$s")
    }: _*)
  }

  /** ADC top-k: each query precomputes one `cell → round(|c|² − 2·q_s·c,
    * dp)` lookup map per subspace (the query-independent |q_s|² term is
    * dropped — it cancels in the per-query ranking, the same reduction
    * the assignment argmin uses; each table is one native kernel call
    * over the query's subspace slice), and every corpus candidate costs
    * m map probes summed left-to-right instead of a dim-wide dot
    * product. The m×k tables ride the BROADCAST side; the corpus side
    * touches only its codes, computed once per corpus row. Ranking is
    * (adist asc, neighbor_id) — each term is rounded, the sum order is
    * fixed, so the rank is cross-engine deterministic.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      books: Seq[Seq[(Long, Array[Double])]], subDim: Int, k: Int,
      roundDp: Int = 6): DataFrame = {
    val empty = corpus.sparkSession.emptyDataFrame
      .select(lit(-1L).as("query_id"), lit(-1L).as("neighbor_id"),
        lit(-1L).as("rank"), lit(0.0).as("adist"))
    if (books.exists(_.isEmpty)) return empty.filter(lit(false))
    def tab(s: Int, qEmb: Column): Column =
      map_from_arrays(typedlit(books(s).map(_._1)),
        centroidDistances(books(s), qEmb, roundDp, CellOutput.Table,
          s * subDim, subDim))
    val q = queries.select(
      col("vec_id").as("query_id") +:
        books.indices.map(s => tab(s, col("embedding")).as(s"tab_$s")): _*)
    // each corpus row is encoded once
    val scored = oncePerRow(pqCodes(corpus, books, subDim, roundDp))
      .withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        books.indices.map(s => element_at(col(s"tab_$s"), col(s"code_$s")))
          .reduce(_ + _).as("adist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("adist"), roundDp).as("adist"))
  }

  /** `df` with its columns computed once per row. A deterministic
    * Project's columns are evaluated where first used, which for a join
    * above it is the per-match loop; a generator evaluates its input
    * once per row, so the columns pass through a one-row inline.
    */
  private def oncePerRow(df: DataFrame): DataFrame =
    df.select(inline(array(struct(df.columns.map(col): _*))))

  /** `corpus` as (neighbor_id, embedding, sq) with sq = |x|², computed
    * once per corpus row rather than once per (row, query) pair.
    */
  private def withSqNorm(corpus: DataFrame): DataFrame =
    oncePerRow(corpus.select(col("vec_id").as("neighbor_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("sq")))

  /** PQ search the way production systems actually run it (FAISS's
    * refine stage): ADC produces a `shortlist`-sized candidate set per
    * query from the CODES ALONE, then only those candidates' true
    * embeddings are fetched and exactly re-ranked. At 100 TB the full
    * scan touches m bytes per vector; the float32 reads are bounded by
    * queries×shortlist — recall then depends only on the true neighbor
    * making the shortlist, not on ADC's rank resolution, which is why
    * the measured recall jumps vs raw [[pqTopK]] at tiny extra cost.
    *
    * `shortlist` is [[pqTopK]]'s output at the shortlist size; only its
    * (query_id, neighbor_id) pairs are read. A caller that also reports
    * raw ADC at k ≤ shortlist filters the same frame to `rank <= k`:
    * row_number over (adist, neighbor_id) is a total order, so that is
    * exactly [[pqTopK]] at k, and ADC runs once.
    */
  def pqTopKRefined(corpus: DataFrame, queries: DataFrame,
      shortlist: DataFrame, k: Int, roundDp: Int = 6): DataFrame = {
    val cand = shortlist.select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    // queries×shortlist rows + the query vectors: both tiny — the corpus
    // is scanned once with a broadcast hash join on neighbor_id
    val candQ = cand.join(broadcast(q), Seq("query_id"))
    val scored = withSqNorm(corpus)
      .join(broadcast(candQ), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("sq") - lit(2.0) * dot(col("embedding"), col("q_emb")),
          roundDp).as("d"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("d").asc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("d"))
  }

  /** Exact L2 top-k under the SAME ranking functional ADC approximates
    * (|x|² − 2·q·x, the per-query-constant |q|² dropped) — the ground
    * truth for [[pqTopK]]'s recall so the evaluation isolates
    * quantization loss instead of mixing in a cosine-vs-L2 metric
    * mismatch. Same broadcast-query/one-corpus-scan shape as
    * [[bruteTopK]].
    */
  def bruteTopKL2(corpus: DataFrame, queries: DataFrame, k: Int,
      roundDp: Int = 6): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val scored = withSqNorm(corpus)
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("sq") - lit(2.0) * dot(col("embedding"), col("q_emb")),
          roundDp).as("d"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("d").asc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("d"))
  }

  /** PCA top principal component trained IN-ENGINE: scatter matrix by
    * one corpus aggregation, eigenvector by power iteration (the von
    * Mises iteration) over the BOUNDED dim² table — the TRAINED linear
    * compression next to the data-independent JL projection
    * ([[rpWeights]]) and the prefix-dim Matryoshka truncation: where
    * those pick their subspace blindly, PCA picks the axis the corpus
    * actually varies along.
    *
    * Execution shape: mean = one corpus aggregation (the Lloyd's-update
    * arithmetic contract, dim-bounded collect); scatter = ONE corpus
    * scan exploding the dim² flattened centered outer product in-row
    * (map-side combined on dim² keys — at 100 TB the shuffle carries
    * dim² partials per partition, never rows); each power-iteration
    * step is two aggregations over the CACHED dim²-row scatter frame —
    * corpus-independent. Only dim-bounded vectors reach the driver (the
    * kmeansCentroids contract).
    *
    * Numeric contract — ALL-INTEGER, by necessity not just hygiene: the
    * first build used round(·,6) per term (the kmeans form) and
    * diverged from DuckDB at sf0.001 — scatter terms are O(1e-5), so
    * 6dp rounding sits exactly in the band where Spark's
    * exact-BigDecimal HALF_UP and DuckDB's ×1e6/std::round disagree,
    * and the iteration amplifies any flip. Instead every derived value
    * is a SCALE-0 round (the only portable one): scatter terms are
    * micro longs, the matrix-vector product is exact DECIMAL(18,0)
    * integer arithmetic, and normalization is by max|w| (exact decimal
    * max — power iteration is scale-invariant, so the L2 norm and its
    * non-portable sqrt/decimal-sum are simply not needed), with the new
    * iterate re-quantized to micro units. Works on the SCATTER matrix,
    * not the covariance — dropping the 1/n division keeps everything
    * integer and changes no eigenvector.
    *
    * Returns (mean, component): the 6dp mean vector and the micro-unit
    * eigenvector (≈1e6 · unit-max-norm component).
    */
  def pcaComponent(emb: DataFrame, dim: Int, iters: Int,
      roundDp: Int = 6): (Array[Double], Array[Long]) = {
    val muRows = emb
      .select(posexplode(col("embedding")))
      .groupBy("pos")
      .agg(
        sum(round(col("col").cast("double"), roundDp).cast("decimal(28,12)")).as("s"),
        count(lit(1)).as("n"))
      .select(col("pos"),
        round(col("s").cast("double") / col("n"), roundDp).as("m"))
      .collect()
    val mu = new Array[Double](dim)
    muRows.foreach(r => mu(r.getInt(0)) = r.getDouble(1))
    val scatter = pcaScatter(emb, mu).cache()
    var v = Array.fill(dim)(
      BigDecimal(1000000.0 / math.sqrt(dim.toDouble))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact)
    for (_ <- 1 to iters) {
      val vLit = array(v.map(lit): _*)
      val w = scatter
        .groupBy(floor(col("pos") / dim).cast("int").as("i"))
        .agg(sum(col("s").cast("decimal(18,0)") *
          element_at(vLit, (col("pos") % dim) + 1).cast("decimal(18,0)"))
          .as("w"))
        .cache()
      val wmax = w.agg(max(abs(col("w"))).as("wm"))
      // wm = 0 (all-identical corpus → zero scatter): v collapses to the
      // zero vector instead of 0/0 NaN (ANSI would throw on the cast)
      val vRows = w.crossJoin(broadcast(wmax))
        .select(col("i"),
          when(col("wm") === 0, lit(0L))
            .otherwise(round(col("w").cast("double") /
              col("wm").cast("double") * lit(1000000.0)).cast("long"))
            .as("v"))
        .collect()
      w.unpersist()
      val next = new Array[Long](dim)
      vRows.foreach(r => next(r.getInt(0)) = r.getLong(1))
      v = next
    }
    scatter.unpersist()
    (mu, v)
  }

  /** Sign-bit binary quantization (Charikar 2002's hyperplane sketch at
    * the coordinate axes; "binary embeddings" as shipped by every
    * production vector store's 1-bit mode): each dimension contributes
    * its SIGN, packed MSB-first into exact 32-bit long halves — 64
    * floats become 8 bytes, and similarity becomes a Hamming distance
    * of two longs. The fifth compression axis next to truncation (MRL),
    * JL, PQ, and PCA, measured on the same recall frontier.
    */
  def signBits(vec: Column, from: Int, n: Int): Column =
    aggregate(
      transform(slice(vec, from, n), e =>
        when(e.cast("double") >= 0, 1L).otherwise(0L)),
      lit(0L), (acc, b) => acc * 2 + b)

  /** (vec_id, c_lo, c_hi) sign-bit codes for a 64-dim embedding. */
  def binaryCodes(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      signBits(col("embedding"), 1, 32).as("c_lo"),
      signBits(col("embedding"), 33, 32).as("c_hi"))

  /** Hamming top-k over the packed codes: the corpus is touched as 8
    * bytes per vector (bit_count of two XORs — pure codegen integer
    * ops), queries broadcast, per-query top-k through WindowGroupLimit;
    * ties break on neighbor id. Returns
    * (query_id, neighbor_id, rank, hamming).
    */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = binaryCodes(corpus)
    val q = binaryCodes(queries).select(col("vec_id").as("query_id"),
      col("c_lo").as("q_lo"), col("c_hi").as("q_hi"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id"))
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("c_lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("c_hi").bitwiseXOR(col("q_hi"))))
          .cast("long").as("hamming"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("hamming"))
  }

  /** The flattened micro-long scatter matrix (pos = i·dim + j, 0-based
    * i-major): one corpus scan, map-side combined on dim² keys.
    */
  private def pcaScatter(emb: DataFrame, mu: Array[Double]): DataFrame = {
    val muLit = array(mu.map(lit): _*)
    val centered = transform(col("embedding"), (e, i) =>
      e.cast("double") - element_at(muLit, i + 1))
    emb
      .select(posexplode(flatten(transform(centered, a =>
        transform(centered, b =>
          round(a * b * lit(1000000.0)).cast("long"))))))
      .groupBy("pos")
      .agg(sum(col("col").cast("decimal(28,0)")).cast("long").as("s"))
  }

  /** The scatter matrix as a collected dim²-long vector (pos-ordered) —
    * a BOUNDED trained artifact like the centroid matrices, so the
    * variance quotient can ModelCache it and never re-pay the corpus
    * pass at serve time.
    */
  def pcaScatterVector(emb: DataFrame, mu: Array[Double],
      dim: Int): Array[Long] = {
    val out = new Array[Long](dim * dim)
    pcaScatter(emb, mu).collect().foreach(r => out(r.getInt(0)) = r.getLong(1))
    out
  }

  /** Variance explained by the trained component — the measured-quality
    * number for the PCA axis (the recall-frontier pattern applied to
    * compression): the Rayleigh-quotient fraction
    * (vᵀSv / vᵀv) / trace(S) over the exact integer scatter, which is
    * λ̂₁/Σλᵢ — how much of the corpus's variance one projected
    * dimension keeps. Every operand is an exact integer (staged
    * DECIMAL(18,0)→(28,0)×(10,0) products — the 18-wide staging
    * overflowed at sf0.1's scatter magnitudes; |v|² precomputed in
    * exact Scala integer arithmetic); the fraction derives through
    * identical doubles + an integer floor. The quotient runs over an
    * already-collected dim²-row scatter vector — corpus-independent.
    */
  def pcaVarFromScatter(spark: org.apache.spark.sql.SparkSession,
      scatter: Array[Long], dim: Int, v: Array[Long]): DataFrame = {
    import spark.implicits._
    val sc = scatter.toSeq.zipWithIndex.map { case (s, p) => (p, s) }
      .toDF("pos", "s")
    val vLit = array(v.map(lit): _*)
    val vv2 = v.map(x => x * x).sum
    val iIdx = floor(col("pos") / dim).cast("int")
    val jIdx = (col("pos") % dim).cast("int")
    val term = (col("s").cast("decimal(18,0)") *
      element_at(vLit, iIdx + 1).cast("decimal(18,0)"))
      .cast("decimal(28,0)") *
      element_at(vLit, jIdx + 1).cast("decimal(10,0)")
    sc
      .agg(
        sum(term).as("vsv"),
        sum(when(iIdx === jIdx, col("s")).otherwise(0L)).as("trace"))
      .select(lit(dim.toLong).as("n_dims"),
        col("trace").as("trace_micro"),
        when(col("trace") === 0, 0L)
          .otherwise(floor(col("vsv").cast("double") / lit(vv2.toDouble) /
            col("trace").cast("double") * lit(1000000.0)).cast("long"))
          .as("var_explained_micro"))
  }

  /** Out-of-distribution score per vector: the FULL squared L2 distance
    * to the nearest trained centroid — the embedding-space outlier
    * filter (mislabeled content, encoder failures, genuinely novel
    * inputs all sit far from every cell a clean corpus trained). The
    * [[kmeansCells]] assignment drops the cell-independent |x|² term;
    * an OOD SCORE needs it back, so the candidate functional here is
    * round(|x|² + |c|² − 2·x·c, dp) with the same (d, cell) tiebreak.
    *
    * Pure scan-side map (one native kernel call per row, the centroids
    * by reference; the oracle SQL inlines them as literals), zero
    * shuffles — the 100 TB outlier pass costs one corpus read. Returns
    * (vec_id, cell, d2).
    */
  def oodDistance(emb: DataFrame, cs: Seq[(Long, Array[Double])],
      roundDp: Int = 6): DataFrame = {
    require(cs.nonEmpty, "oodDistance needs a trained centroid matrix")
    emb.select(col("vec_id"), nearestFull(cs, col("embedding"), roundDp).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        col("best.d").as("d2"))
  }

  /** Scan-side projection onto a trained micro-unit component: per-dim
    * terms `round(centered · v_micro)` as scale-0 longs (the
    * unconditional cross-engine round) summed exactly in-row — zero
    * shuffles, the model rides as literals.
    */
  def pcaProject(emb: DataFrame, mu: Array[Double],
      v: Array[Long]): DataFrame = {
    val muLit = array(mu.map(lit): _*)
    val vLit = array(v.map(lit): _*)
    val centered = transform(col("embedding"), (e, i) =>
      e.cast("double") - element_at(muLit, i + 1))
    emb.select(col("vec_id"),
      aggregate(
        zip_with(centered, vLit, (a, b) =>
          round(a * b.cast("double")).cast("long")),
        lit(0L), (acc, x) => acc + x).as("pc1_micro"))
  }

  /** DBSCAN-style density clustering over a threshold neighbor graph
    * (Ester et al., KDD'96 adapted to the precomputed-pairs setting):
    * CORE points have ≥ `minPts` neighbors (self excluded), clusters are
    * the connected components of the core-core subgraph (id = min core
    * vec_id — deterministic), BORDER points attach to the minimum
    * cluster id among their core neighbors, everything else is NOISE
    * (cluster −1) — the density layer the centroid family (k-means
    * cells, SemDeDup) can't express: arbitrary-shape clusters and an
    * explicit outlier verdict.
    *
    * Scale shape: `pairs` comes from a bucketed similarity join (LSH /
    * blocked cosine — never all-pairs), so degrees, the core filter,
    * and the component resolution (the shared size-switched
    * [[DedupOps.duplicateClusters]] machinery) are all dup-graph-sized;
    * the corpus is touched exactly once, by the final noise anti-join.
    *
    * Returns (vec_id, role ∈ core|border|noise, cluster_id).
    */
  def dbscan(emb: DataFrame, pairs: DataFrame, minPts: Long): DataFrame = {
    val edges = pairs
      .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionAll(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      .cache()
    val core = edges.groupBy("src").agg(count(lit(1)).as("d"))
      .filter(col("d") >= minPts).select(col("src").as("node")).cache()
    val corePairs = pairs
      .join(core.select(col("node").as("vec_a")), Seq("vec_a"))
      .join(core.select(col("node").as("vec_b")), Seq("vec_b"))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val coreClusters = DedupOps.duplicateClusters(
        core.select(col("node").as("doc_id")), corePairs)
      .select(col("doc_id").as("node"), col("cluster_id")).cache()
    val borderOut = edges
      .join(coreClusters.select(col("node").as("dst"), col("cluster_id")),
        Seq("dst"))
      .join(core.select(col("node").as("src")), Seq("src"), "left_anti")
      .groupBy(col("src").as("vec_id"))
      .agg(min("cluster_id").as("cluster_id"))
      .select(col("vec_id"), lit("border").as("role"), col("cluster_id"))
    val coreOut = coreClusters.select(col("node").as("vec_id"),
      lit("core").as("role"), col("cluster_id"))
    val noise = emb.select(col("vec_id"))
      .join(coreOut.select("vec_id").unionAll(borderOut.select("vec_id")),
        Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit("noise").as("role"),
        lit(-1L).as("cluster_id"))
    coreOut.unionAll(borderOut).unionAll(noise)
  }

  /** Sparse TF-IDF cosine similarity join over k-word shingles — the
    * inverted-index complement to the dense-ANN family: document
    * similarity WITHOUT embeddings, via the classic
    * term-at-a-time partial-product expansion (Bayardo et al., WWW'07
    * "Scaling Up All Pairs Similarity Search" shape).
    *
    * Vocabulary pruning IS the scale guard: shingles with
    * `df > maxDf` are dropped from the vector space entirely (the
    * sklearn `max_df` semantics — stop-shingles carry no similarity
    * signal and their posting lists are what makes the self-join
    * quadratic). After pruning, every shingle's posting list is
    * ≤ `maxDf` long, so the per-shingle pair expansion is ≤ maxDf²
    * rows — the join's output is bounded by |vocab|·maxDf² no matter
    * how big the corpus, and the expansion key (the shingle) hashes
    * uniformly. No all-pairs path exists anywhere in the plan.
    *
    * Numeric contract (PLANS.md scale-0 rule): weights are
    * round(tf·ln(N/df), 6) DECIMALs — partial products and norms sum
    * EXACTLY, in any partition order; the only double step is the final
    * cosine ratio, where both engines divide the same exact decimals
    * and round the same double at micro scale. The threshold compares
    * the MICRO value, so the cut is engine-identical at the boundary.
    *
    * One corpus explode feeds everything: df derives FROM tf (no second
    * scan), and the pruned weight table is cached — it is read three
    * times (norms + both sides of the posting-list self-join) and is
    * df-bounded per shingle, not raw-corpus-sized (caching a raw
    * shingle explode would be; this post-aggregation table is not).
    */
  def sparseCosinePairs(docs: DataFrame, shingleK: Int, maxDf: Long,
      minCosMicro: Long): DataFrame =
    sparseCosinePairsHandle(docs, shingleK, maxDf, minCosMicro)._1

  /** [[sparseCosinePairs]] plus a release handle for the internal
    * pruned-weight cache: a consumer that MATERIALIZES the pair
    * surface (the session memo feeding the dump + its top-k twin) no
    * longer needs the weight table pinned afterwards — release it after
    * the checkpoint instead of accumulating blocks for the session (the
    * knnGraphAtHeadRecall lesson, applied to the sparse family).
    */
  def sparseCosinePairsHandle(docs: DataFrame, shingleK: Int, maxDf: Long,
      minCosMicro: Long): (DataFrame, () => Unit) = {
    val nDf = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val grams = docs.select(col("doc_id"),
      explode(TextOps.shingles(TextOps.tokens(col("text")), shingleK))
        .as("gram"))
    val tf = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("tf"))
    // df is vocab-sized; at this SF it broadcasts, at 100 TB AQE would
    // plan the gram-keyed shuffle join over tf's existing exchange —
    // either way the pruned weight table downstream is what matters.
    val df = tf.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val w = tf.join(broadcast(df), Seq("gram"))
      .crossJoin(broadcast(nDf))
      .select(col("doc_id"), col("gram"),
        round(col("tf") * log(col("n_docs") / col("df")), 6)
          .cast("decimal(18,6)").as("w"))
      // a df=N shingle has idf 0: it contributes nothing to any dot or
      // norm, and keeping it would let an all-stop-shingle doc reach the
      // ratio with a ZERO norm — drop it so every surviving doc's norm
      // is strictly positive (the divide-by-zero guard, mirrored in the
      // oracle).
      .filter(col("w") =!= 0)
      .cache()
    val nrm = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val dots = w.alias("a")
      .join(w.alias("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
    val pairs = dots
      .join(nrm.select(col("doc_id").as("doc_a"), col("n2").as("na2")),
        Seq("doc_a"))
      .join(nrm.select(col("doc_id").as("doc_b"), col("n2").as("nb2")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")))
          * 1e6, 0).cast("long").as("cos_micro"))
      .filter(col("cos_micro") >= minCosMicro)
    (pairs, () => { w.unpersist(); () })
  }
}
