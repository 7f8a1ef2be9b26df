package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** LLM-training-data pipeline operators as driver-checkable queries over
  * the documents / embeddings / events testdata (see BASELINE.json
  * north_star). Oracle SQL mirrors in [[PipelineOracles]].
  */
object PipelineQueries {

  import CoreQueries.table

  val BruteQueryCount = 10
  val BruteK = 10
  val IvfQueryCount = 20
  val IvfK = 5
  val LshQueryCount = 20
  val LshK = 5
  val LshProbes = 4
  val IvfNprobe = 3
  val NearDupThreshold = 0.3
  val KmeansK = 8
  val KmeansIters = 2
  val SetJoinThreshold = 0.5
  val PqM = 4
  val PqSubDim = 16
  val PqK = 12
  val PqIters = 2
  val PqShortlist = 50
  val SpannReplicas = 3
  val TruncDim = 16
  val KcenterK = 6
  /** Parallel k-center seeding: scans and per-scan candidate batch. */
  val KcenterRounds = 2
  val KcenterOversample = 12
  val LeakJaccard = 0.3
  val RpDim = 8
  val EmbDim = 64
  val BpeMergeCount = 6
  /** funnel_window conversion window: 24 h per stage transition. */
  val FunnelWindowUs: Long = 24L * 3600L * 1000000L
  /** PMI collocations: min bigram count (prunes PMI's hapax bias). */
  val PmiMinCount = 10L
  /** Novelty n-gram order. */
  val NoveltyN = 2
  /** MMR re-ranking: candidate-list depth, picks, trade-off. */
  val MmrCandidates = 20
  val MmrK = 5
  val MmrLambda = 0.5
  val MmrQueryVec = 0L
  /** Bradley-Terry MM iterations. */
  val BtIters = 3
  /** Kneser-Ney absolute discount. */
  val KnDiscount = 0.75
  /** Paraphrase mining: embedding-near pairs below this lexical overlap. */
  val ParaJaccardMax = 0.2
  /** SAX discretization: PAA segment count (alphabet is fixed at 4). */
  val SaxSegments = 4
  /** Weighted reservoir: docs kept per source. */
  val ReservoirK = 3
  /** Proximity search: the two query terms and result depth. */
  val ProximityTermA = "data"
  val ProximityTermB = "spark"
  val ProximityK = 20
  /** Triangle counting: cosine edge threshold (denser than the 0.3
    * near-dup graph so triangles exist at every SF). */
  val TriangleCos = 0.25
  /** LSH recall/cost frontier: the targetBucket settings measured. */
  val LshFrontierTargets = Seq(8, 32, 128)
  /** LSH tables-axis frontier: the table counts measured (theory: at a
    * FIXED absolute threshold, recall at growing corpus size is held
    * by growing L ∝ n^ρ — this card prices that axis). */
  val LshTablesFrontier = Seq(8, 16, 32)
  /** Per-vector pair cap for the output-bounded LSH dedup surface. */
  val LshTopKPerVector = 8
  /** Recall target for the auto-L operator's oracle row — above the
    * measured 8-table calibration recall at sf0.01 (≈ 0.9875), so the
    * oracle exercises the SOLVE→BUILD escalation path, not just the
    * calibration-suffices short-circuit. */
  val LshAutoRecallTarget = 0.99

  /** The wide-pool escalation card's regime: a lower threshold grows
    * the truth set toward the near-orthogonal pairs sign-LSH is worst
    * at, so at the bench SF (sf0.1: measured calibration recall
    * 0.724886 at 8 tables) the 0.999 target is UNREACHABLE at the
    * 32-table default ceiling and the solver escalates into the wide
    * pool (L=48) — the decision `dedup_lsh_auto_recall_wide` replays.
    */
  val LshWideThreshold = 0.2
  val LshWideRecallTarget = 0.999

  /** Head-recall contract of `dedup_lsh_recall_routed`'s fallback arm —
    * the minimum the top-k surface must demonstrate on the calibration
    * stripe when the absolute-recall target proves unreachable.
    */
  val RoutedMinHeadRecall = 0.25
  /** MinHash at-recall twin: the Jaccard truth threshold, recall
    * target, calibration stripe, and band ceiling its oracle row runs
    * at. Unlike the hyperplane twin, a band key is exact minhash
    * equality, so per-pair recall is a function of the pair's Jaccard
    * ALONE (scale-free); this corpus's dup profile is near-exact
    * (stripe truth all ≥ 0.9 Jaccard), so the row exercises the
    * calibration-suffices short-circuit — the escalation and the
    * by-name raises are deterministic spec territory
    * (MinhashAtRecallSpec's controlled mid-Jaccard corpora). */
  val MinhashRecallJaccard = 0.5
  val MinhashRecallTarget = 0.9
  val MinhashQueryCount = 64
  val MinhashMaxBands = 32
  /** IVF auto-nprobe: a 0.9 target sits above the fixed default's
    * measured reading (nprobe=3 → 0.74 at sf0.01), so the oracle row
    * shows the solver doing what no fixed setting can — the measured
    * frontier at sf0.01 is [0.49, 0.62, 0.74, 0.86, 0.91, …] and the
    * pick lands at nprobe=5. maxProbe = the cell count, where recall
    * is 1.0 by construction (so this row can never raise). */
  val IvfAutoRecallTarget = 0.9
  /** PRF expansion: feedback-doc count and appended-term count. */
  val PrfFeedbackDocs = 5
  val PrfExpandTerms = 3
  /** Cluster-balanced sampling: rows kept per trained cell. */
  val ClusterSampleN = 25
  /** PCA power-iteration count. */
  val PcaIters = 3
  /** Label-propagation rounds. */
  val LabelPropIters = 3
  /** BFS: source-set stride over vec_id and the hop bound. */
  val BfsSourceMod = 50
  val BfsMaxHops = 4
  /** Degree cap for the linear-at-scale kNN-graph BFS twin. */
  val BfsKnnK = 4
  /** Fellegi-Sunter unmatched-pair derangement shift. */
  val FsOffset = 37L
  /** Ljung-Box: χ²(3) 5% critical value (acf's maxLag = 3). */
  val LbCrit = 7.814728
  /** DBSCAN: core threshold (neighbors at TriangleCos, self excluded). */
  val DbscanMinPts = 3L
  /** kNN classifier eval: FIXED query count and neighborhood size. A
    * fixed count (not a stride) keeps the eval LINEAR in the corpus:
    * queries stay constant as n grows, so cosines ∝ n — the stride
    * form was the suite's designed quadratic (queries ∝ n ⇒ cosines
    * ∝ n²/mod, measured 4.9× at ×10).
    */
  val KnnQueryCount = 200
  val KnnK = 5
  /** k-anonymity release threshold. */
  val KAnonK = 10L
  /** KMV set-overlap synopsis size and the two compared sources. */
  val KmvOverlapK = 128
  /** Vocabulary size for the coverage card. */
  val VocabCoverageK = 256
  val KmvSrcA = "src0"
  val KmvSrcB = "src1"
  /** Link-prediction candidates returned. */
  val LinkPredK = 50
  /** Balanced-shard deal width. */
  val ShardBalanceK = 8
  /** WAV frame analysis: samples per frame, silence RMS threshold. */
  val WavFrameLen = 4
  val WavSilenceRms = 8192.0
  /** WordPiece probe bounds: longest piece tried per position, and the
    * max_input_chars_per_word rule (longer words → one [UNK]).
    */
  val WordpieceMaxPiece = 8
  val WordpieceMaxWord = 16
  /** Unigram-LM (SentencePiece-style) trainer: piece-length cap, seed
    * multi-char candidates kept, post-prune multi-char vocab size, hard-
    * EM rounds, and the overlong-word char-fallback bound.
    */
  val UnigramPieceLen = 4
  val UnigramSeedK = 40
  val UnigramFinalK = 24
  val UnigramRounds = 2
  val UnigramMaxWord = 10
  /** k-core threshold and synchronous peel rounds (k = 2 prunes
    * pendant chains/trees to the cyclic nuclei and is nonempty at
    * every test SF; 3-cores only appear at sf0.1's density).
    */
  val KCoreK = 2
  val KCoreRounds = 4
  /** distinct l-diversity threshold. */
  val LDiversityL = 5L
  /** Content-defined chunking: gram order and the cutpoint divisor
    * (expected chunk length in grams). */
  val CdcChunkK = 3
  val CdcDivisor = 8L
  /** Winnow-index candidates: min shared fingerprints, boilerplate df cap. */
  val WinnowMinShared = 2L
  val WinnowMaxDf = 20L
  /** Sparse TF-IDF cosine join: shingle order, max_df vocabulary prune
    * (the posting-list length bound — the scale guard), pair cut. */
  val SparseShingleK = 3
  val SparseMaxDf = 20L
  val SparseMinCosMicro = 200000L

  /** Per-doc cap of the output-bounded sparse-cosine surface
    * (`sim_sparse_topk`) — mirrors [[JaroTopKPerDoc]] on the
    * text-similarity axis.
    */
  val SparseTopKPerDoc = 8
  /** Jaro-Winkler fuzzy-linkage pair cut (micro units). */
  val JaroMinMicro = 850000L

  /** Per-doc cap of the output-bounded jaro surface (`dedup_jaro_topk`)
    * — mirrors [[LshTopKPerVector]] on the fuzzy-linkage axis.
    */
  val JaroTopKPerDoc = 8
  val Bm25Terms = Seq("spark", "window", "hash")
  val Bm25K = 20
  /** The multi-query BM25 batch: (query_id, term) rows. */
  val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "spark", 0L -> "window",
    1L -> "hash", 1L -> "shuffle",
    2L -> "join", 2L -> "data")
  val HybridK = 10
  val IndexDim = 16
  val IndexTopK = 5
  val IndexQueryDocs = 3
  val SampleFraction = 0.1
  val StratifiedFractions: Map[String, Double] =
    Map("en" -> 0.1, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.5)

  /** `build` over `dir`'s table `t`, memoized as the frame `name(params)`
    * keyed by that table's content.
    */
  private def tableFrame(s: SparkSession, dir: String, t: String, name: String,
      params: Any*)(build: DataFrame => DataFrame): DataFrame = {
    val in = table(s, dir, t)
    ModelCache.frame(name, params: _*)(in)(build(in))
  }

  /** `train` over `dir`'s table `t`, memoized as the driver value
    * `name(params)` keyed by that table's content.
    */
  private def tableValue[T <: AnyRef](s: SparkSession, dir: String, t: String, name: String,
      params: Any*)(train: DataFrame => T): T = {
    val in = table(s, dir, t)
    ModelCache.value(name, params: _*)(in)(train(in))
  }

  /** The tokenized documents relation: the stage a production pipeline
    * materializes once and every text, dedup and retrieval query reads
    * (tokenize once, query many). At 100 TB the same stage writes
    * parquet; the shape, one tokenize pass feeding the family, is the
    * same.
    */
  private def docsTok(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "docsTok")(_.withColumn("toks", TextOps.tokens(col("text"))))

  /** Shared per-(doc, token) term frequencies, read by the TF family
    * (tfidf, repetition, lm_score, burstiness): one explode and one
    * shuffle over the corpus.
    */
  private def docTokTf(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "docTokTf") { _ =>
      docsTok(s, dir).select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    }

  /** Shared per-(source, token) counts, the source-keyed twin of
    * [[docTokTf]] (vocab stats, source entropy).
    */
  private def srcTokCounts(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "srcTokCounts") { _ =>
      docsTok(s, dir).select(col("source"), explode(col("toks")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    }

  /** Shared exploded (source, shingle) rows at the default gram order,
    * the sketch family's input (HLL registers and estimates, KMV set
    * algebra).
    */
  private def srcShingles(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "srcShingles") { _ =>
      docsTok(s, dir).select(col("source"), explode(TextOps.shingles(col("toks"))).as("shingle"))
    }

  /** Shared per-doc distinct bigrams (doc_id, source, gram) at order
    * [[NoveltyN]], read by novelty scoring and the cross-source overlap
    * card.
    */
  private def docBigrams(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "docBigrams", NoveltyN) { _ =>
      docsTok(s, dir).select(col("doc_id"), col("source"),
        explode(array_distinct(TextOps.shingles(col("toks"), NoveltyN))).as("gram"))
    }

  /** Shared winnowing fingerprint index, read by the fingerprint dump
    * and the candidate-pair expansion.
    */
  private def winnowFp(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "winnowFp")(_ => TextOps.winnowFingerprints(docsTok(s, dir)))

  private def normed(s: SparkSession, dir: String): DataFrame =
    SimilarityOps.withNorm(table(s, dir, "embeddings"))

  /** The shared LSH signature stage at the 32-table ceiling, sliced by
    * every consumer: table t's bits are the same at every signature
    * width, and the signature does not depend on the threshold, so one
    * stage serves dedup_embedding_lsh (+topk), both frontier cards, the
    * auto-L operator's two passes and the TriangleCos graph chain. (A
    * per-consumer stage at its own width measured 3.57 s against 1.30 s
    * for dedup_embedding_lsh.)
    */
  private def lshSigs(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "embeddings", "lshSigs", SimilarityOps.LshAutoMaxTables) { emb =>
      SimilarityOps.lshAutoSignatureStage(SimilarityOps.withNorm(emb),
        SimilarityOps.LshAutoMaxTables)
    }

  /** The frozen cross-probe LSH index over the existing (even vec_id)
    * half: both incremental queries probe it, and a second batch pays
    * only its own signing plus the shared shuffle, never an
    * existing-side re-scan (an inline form measured 3.2× for ×10 index
    * size at a fixed batch). The slim pair: id-sized bucket entries
    * plus a single-copy vector side table.
    */
  private def lshCrossIndex(s: SparkSession, dir: String): SimilarityOps.LshSlimIndex = {
    def existing(emb: DataFrame) =
      SimilarityOps.withNorm(emb).filter(pmod(col("vec_id"), lit(2)) === 0)
    SimilarityOps.LshSlimIndex(
      tableFrame(s, dir, "embeddings", "lshCrossEntries")(
        emb => SimilarityOps.lshIndexEntriesSlim(existing(emb))),
      tableFrame(s, dir, "embeddings", "lshCrossVectors")(
        emb => SimilarityOps.lshIndexVectors(existing(emb))))
  }

  /** One batch probe of the frozen index, shared by both incremental
    * output shapes (the uncapped dump and its per-batch-vector top-k
    * cap). Cross pairs are id+cosine rows bounded by the batch's dup
    * density, cheap to hold. The probe's cost is
    * dedup_embedding_incremental's `cold` seconds in `graft.Bench`.
    */
  private def lshCrossPairs(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "embeddings", "lshCrossPairs", NearDupThreshold) { emb =>
      val idx = lshCrossIndex(s, dir)
      SimilarityOps.nearDupPairsLshCrossSlim(idx.entries, idx.vectors,
        SimilarityOps.withNorm(emb).filter(pmod(col("vec_id"), lit(2)) === 1), NearDupThreshold)
    }

  /** The MinHash incremental-dedup index over the existing (even
    * doc_id) half: hashes, bands and shingle sets, the band-axis twin of
    * [[lshCrossIndex]] (an inline form re-shingles and re-bands the
    * whole existing corpus on every batch probe).
    */
  private def minhashCrossIndex(s: SparkSession, dir: String): DedupOps.MinhashIndex = {
    def idx(docs: DataFrame) = DedupOps.minhashIndex(
      docs.select("doc_id", "text").filter(pmod(col("doc_id"), lit(2)) === 0))
    DedupOps.MinhashIndex(
      tableFrame(s, dir, "documents", "minhashCrossHashes")(idx(_).hashes),
      tableFrame(s, dir, "documents", "minhashCrossBands")(idx(_).bands),
      tableFrame(s, dir, "documents", "minhashCrossSets")(idx(_).sets))
  }

  /** The default (8-table) near-dup pair surface at [[NearDupThreshold]]:
    * the dump, its top-k cap and the recall card read this frame
    * (without it the card re-runs the pair pass, measured 0.50 → 0.83 s).
    * Pair surfaces are id+cosine rows, at most the candidate volume.
    */
  private def lshPairsNearDup(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "embeddings", "lshPairsNearDup", NearDupThreshold)(
      _ => SimilarityOps.nearDupPairsLshFrom(lshSigs(s, dir), NearDupThreshold))

  /** The blocked Jaro-Winkler pair surface at [[JaroMinMicro]], read by
    * the dump (`dedup_jaro`) and its per-doc top-k cap
    * (`dedup_jaro_topk`). Bounded by the corpus's match density.
    */
  private def jaroPairsShared(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "jaroPairs", JaroMinMicro)(DedupOps.jaroPairs(_,
      strCol = substring(col("text"), 1, 24),
      blockCol = concat_ws("|", col("lang"), substring(col("text"), 1, 8)),
      minMicro = JaroMinMicro))

  /** The sparse TF-IDF cosine pair surface at [[SparseMinCosMicro]],
    * read by the dump (`sim_sparse_cosine`) and its per-doc top-k cap
    * (`sim_sparse_topk`). The operator's pruned-weight cache is released
    * once the pairs are materialized: the weight table would otherwise
    * stay pinned.
    */
  private def sparsePairsShared(s: SparkSession, dir: String): DataFrame = {
    var release: () => Unit = () => ()
    val pairs = tableFrame(s, dir, "documents", "sparseCosinePairs", SparseShingleK,
        SparseMaxDf, SparseMinCosMicro) { docs =>
      val (p, r) = SimilarityOps.sparseCosinePairsHandle(docs,
        SparseShingleK, SparseMaxDf, SparseMinCosMicro)
      release = r
      p
    }
    release()
    pairs
  }

  /** LSH-bucket candidate pairs at the threshold-graph cut, read by
    * sim_dbscan, graph_bfs_hops, graph_bfs_knn and graph_ppr: the
    * signature, bucket and cosine work runs once per input.
    */
  private def lshPairsTri(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "embeddings", "lshPairsTri", TriangleCos)(
      emb => SimilarityOps.nearDupPairsLsh(SimilarityOps.withNorm(emb), TriangleCos))

  /** The directed top-[[BfsKnnK]] arc set over [[lshPairsTri]], what
    * BFS-kNN and personalized PageRank traverse (each node's k best
    * partners as out-arcs).
    */
  private def knnArcsTri(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "embeddings", "knnArcsTri", TriangleCos, BfsKnnK)(
      _ => GraphOps.knnGraph(lshPairsTri(s, dir), "vec_a", "vec_b", "cos_sim", BfsKnnK))

  /** The degree-capped undirected kNN edge set over [[lshPairsTri]], the
    * graph surface every scale-facing graph analytic rides (BFS, PPR,
    * triangles, link-pred, label-prop, modularity): LSH candidates cut
    * to each node's top-[[BfsKnnK]] arcs, symmetrized to distinct
    * undirected edges, so |E| ≤ k·n at any corpus size, where the raw
    * threshold graph's |E| grows superlinearly (5.9× pairs for 3× data
    * at ×30). Label propagation iterates over it, so it is a
    * materialized frame, not a plan.
    */
  private def knnEdgesTri(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "embeddings", "knnEdgesTri", TriangleCos, BfsKnnK) { _ =>
      knnArcsTri(s, dir).select(least(col("src"), col("dst")).as("vec_a"),
        greatest(col("src"), col("dst")).as("vec_b")).distinct()
    }

  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))

  /** Trained k-means centroids for `dir`'s embeddings, shared by the
    * recall family (cells, nprobe, SPANN, SemDeDup): the index is built
    * in one job and probed by every query after it.
    */
  private def cachedCentroids(s: SparkSession, dir: String): Seq[(Long, Array[Double])] =
    tableValue(s, dir, "embeddings", "kmeans", KmeansK, KmeansIters)(
      SimilarityOps.kmeansCentroids(_, KmeansK, KmeansIters))

  /** Trained PQ codebooks for `dir`'s embeddings, shared by the codes
    * and both serving evaluations.
    */
  private def cachedBooks(s: SparkSession, dir: String): Seq[Seq[(Long, Array[Double])]] =
    tableValue(s, dir, "embeddings", "pq", PqM, PqSubDim, PqK, PqIters)(
      SimilarityOps.pqCodebooks(_, PqM, PqSubDim, PqK, PqIters))

  /** Fitted DSIR log-ratio model (target = lang='en'); one fit serves
    * both the weights and the selection.
    */
  private def cachedDsirModel(s: SparkSession, dir: String): Array[Long] =
    tableValue(s, dir, "documents", "dsir", "en", DsirOps.DefaultDim) { _ =>
      DsirOps.logRatioMicro(s, DsirOps.fitCounts(docsTok(s, dir),
        DsirOps.featureBuckets(col("toks")), col("lang") === "en"))
    }

  /** The is-English logistic-regression weights, shared by the quality
    * scorer family.
    */
  private def lrWeights(s: SparkSession, dir: String): Seq[Double] =
    tableValue(s, dir, "documents", "lr", "en", ClassifierOps.DefaultIters)(_ =>
      ClassifierOps.trainLogistic(docsTok(s, dir),
        ClassifierOps.features(col("toks")), col("lang") === "en"))

  /** Each featurable doc's fixed-point LR logit (`logit_fp`) and
    * is-English label (`y`), shared by the quality scorer family.
    */
  private def lrScored(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "lrScored", ClassifierOps.DefaultIters) { _ =>
      docsTok(s, dir).filter(ClassifierOps.featurable(col("toks")))
        .select(col("doc_id"), col("lang"), ClassifierOps.marginFixed(lrWeights(s, dir),
            ClassifierOps.microFeatures(col("toks"))).as("logit_fp"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    }

  /** The trained BPE merge list, shared by the tokenizer family. */
  private def bpeMerges(s: SparkSession, dir: String): Seq[(Long, String, String, Long)] =
    tableValue(s, dir, "documents", "bpe", BpeMergeCount)(
      TokenizerOps.bpeMerges(_, BpeMergeCount))

  /** The trained unigram-LM piece vocabulary. */
  private def unigramVocab(s: SparkSession, dir: String): Seq[(String, Long, Long)] =
    tableValue(s, dir, "documents", "unigram", UnigramPieceLen, UnigramSeedK,
        UnigramFinalK, UnigramRounds, UnigramMaxWord)(TokenizerOps.unigramTrain(_,
      UnigramPieceLen, UnigramSeedK, UnigramFinalK, UnigramRounds, UnigramMaxWord))

  /** The top PCA component (mean, direction) of `dir`'s embeddings. */
  private def pcaModel(s: SparkSession, dir: String): (Array[Double], Array[Long]) =
    tableValue(s, dir, "embeddings", "pca", EmbDim, PcaIters)(
      SimilarityOps.pcaComponent(_, EmbDim, PcaIters))

  /** The BM25 top-k list (Bm25K rows), shared by the lexical query and
    * the hybrid fusion.
    */
  private def bm25Cached(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "bm25", Bm25Terms, Bm25K)(
      RetrievalOps.bm25TopK(_, Bm25Terms, Bm25K))

  /** The multi-query BM25 batch, k-bounded per query, shared by the
    * batch query and the batched hybrid fusion.
    */
  private def bm25MultiCached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tableFrame(s, dir, "documents", "bm25Multi", Bm25Queries, HybridK)(
      RetrievalOps.bm25TopKQueries(_, Bm25Queries.toDF("query_id", "term"), HybridK))
  }

  /** The MinHash LSH bands table (doc_id, band, h): one short row per
    * doc×band, the dedup family's shared artifact. Every query
    * downstream of it (buckets, candidate pairs, Jaccard verification)
    * skips the tokenize→shingle→md5→min-agg pipeline.
    */
  private def dedupBands(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "dedupBands")(docs =>
      DedupOps.lshBands(DedupOps.minhashSignature(DedupOps.shingledAll(docs))))

  /** The MinHash candidate pairs over [[dedupBands]], read by the
    * Jaccard, containment, cluster and graph queries.
    */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "minhashPairs")(
      _ => DedupOps.candidatePairs(dedupBands(s, dir)))

  /** The candidate docs' shingle-set arrays beside [[minhashPairs]]:
    * the docs are semi-filtered to pair endpoints before tokenization,
    * so the shingle work stays candidate-sized, and collect_set folds
    * the distinct into the one shuffle. (Earlier forms, each measured
    * slower at sf0.1: a corpus-wide distinct 2×, a post-explode endpoint
    * filter ~2×, a 6-stage shingle-equi-join Jaccard 2.5×.)
    */
  private def minhashPairSets(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "minhashPairSets")(
      DedupOps.candidateShingleSets(minhashPairs(s, dir), _))

  /** Per-doc 64-bit simhash fingerprints: one short row per doc, read
    * by the fingerprint dump and the Hamming pair expansion.
    */
  private def simhash(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "simhash")(DedupOps.simhash)

  /** The packed image bitstreams: the decode queries' fixture,
    * synthesized because no real media column exists. Materializing it
    * makes those queries measure the decode operator, not the encoding.
    */
  private def imageIo(s: SparkSession, dir: String): DataFrame =
    tableFrame(s, dir, "documents", "imageIo")(MultimodalOps.packImageIo)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- text analysis ----------------------------------------------------
    "text_token_stats" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).as("n_tokens_bpe"),
        TextOps.punctCount(col("text")).as("n_punct"))),

    "text_quality" -> ((s, dir) =>
      docsTok(s, dir).select(
        col("doc_id"),
        TextOps.stopwordRatio(col("toks")).as("stopword_ratio"),
        TextOps.meanTokenLength(col("toks")).as("mean_token_len"))),

    "text_langid" -> ((s, dir) =>
      docsTok(s, dir).select(
        col("doc_id"),
        TextOps.langId(col("toks")).as("lang_pred"))),

    // the langid heuristic EVALUATED against the corpus's true labels
    // (the langs² confusion matrix incl. the 'und' abstain column) —
    // the measured-quality row for the weak-supervision ladder, the
    // Rocchio/NB evaluation shape applied to a rule
    "quality_langid_confusion" -> ((s, dir) =>
      docsTok(s, dir)
        .groupBy(col("lang"), TextOps.langId(col("toks")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))),

    "text_fingerprint" -> ((s, dir) =>
      docsTok(s, dir).select(
        col("doc_id"),
        TextOps.fingerprint(col("toks")).as("fp"))),

    // winnowing fingerprints (MOSS): every w-window's rightmost-minimal
    // gram hash with its position — the guaranteed-overlap fingerprint
    // set at 2/(w+1) density; each gram hashed once, one doc-keyed
    // sliding frame (min(struct(h, −p)) = rightmost-min in one pass).
    "text_winnow" -> ((s, dir) => winnowFp(s, dir)),

    // the winnowing index USED: pairs sharing ≥2 selected fingerprints,
    // boilerplate fingerprints (df > cap) dropped before the bounded
    // in-list expansion — the guaranteed-local-overlap candidate
    // generator next to MinHash-LSH's probabilistic global one.
    "dedup_winnow_pairs" -> ((s, dir) =>
      DedupOps.winnowCandidatePairs(
        winnowFp(s, dir), WinnowMinShared, WinnowMaxDf)),

    // TF-IDF top terms per document — term frequency × inverse document
    // frequency, two aggregations and a broadcast-joined document-
    // frequency dim; top-3 by score with term tiebreak.
    "text_tfidf_topterms" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // corpus size as a broadcast 1-row dim, not a driver-side count():
      // keeps the whole computation ONE plan/action (a separate count()
      // is a second full scan job at 100 TB)
      val nDf = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val tf = docTokTf(s, dir)
      // df derives FROM tf: tf already has one row per (doc, tok), so
      // the doc-frequency is a count over it — no second explode+distinct
      // scan of the corpus, and the shared cache serves both uses.
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("tok"))
      tf.join(broadcast(df), Seq("tok"))
        .crossJoin(broadcast(nDf))
        .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("tok"), col("rk"), col("tfidf"))
    }),

    // Corpus-level top-20 bigrams: explode adjacent pairs, count, rank
    // with a deterministic (count desc, bigram) tiebreak.
    "text_bigrams" -> ((s, dir) =>
      // global top-20 via orderBy+limit, which plans as
      // TakeOrderedAndProject: each partition keeps only its own top 20
      // in a bounded heap and the driver merges K·20 rows — strictly
      // better than the single-partition global-window form at any scale
      docsTok(s, dir)
        .select(explode(TextOps.bigrams(col("toks"))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)),

    // Repetition quality signals (the Gopher-style filters): fraction of
    // distinct tokens and the single most-frequent token's share. One
    // explode + per-(doc,tok) count, then a per-doc rollup — both
    // aggregations partial-agg before their shuffle.
    "text_repetition" -> ((s, dir) =>
      docTokTf(s, dir)
        .groupBy("doc_id").agg(
          sum("tf").as("n"),
          count(lit(1)).as("n_distinct"),
          max("tf").as("top"))
        .select(col("doc_id"),
          round(col("n_distinct").cast("double") / col("n").cast("double"), 6)
            .as("distinct_ratio"),
          round(col("top").cast("double") / col("n").cast("double"), 6)
            .as("top_tok_frac"))),

    // Gopher-style composite quality filter (Rae et al. 2021, §A1.1
    // shape): the individual signals the engine already oracle-checks
    // (token count, mean token length, stopword ratio, repetition)
    // combined into per-rule verdict columns and a conjunctive keep —
    // the form a production curation pass actually applies. Everything
    // is scan-side (the repetition signals use the in-row array forms,
    // not the aggregated ones), so the whole filter is a zero-shuffle
    // pass over the corpus; thresholds are set to split the synthetic
    // corpus so both verdicts are exercised.
    "text_gopher_rules" -> ((s, dir) =>
      docsTok(s, dir)
        .select(col("doc_id"), TextOps.gopherRules(col("toks")).as("g"))
        .select(col("doc_id"), col("g.r_len").as("r_len"),
          col("g.r_mean_len").as("r_mean_len"),
          col("g.r_stopwords").as("r_stopwords"),
          col("g.r_distinct").as("r_distinct"),
          col("g.r_top_share").as("r_top_share"),
          col("g.keep").as("keep"))),

    // T5 span corruption: deterministic masked-span (input, target)
    // pairs — the denoising-objective prep a pretraining pipeline runs
    // after curation and before packing. Pure in-row array algebra
    // (zero shuffle), pseudo-random span draw from the md5 hash both
    // engines share. spanLen=3, 15% mask rate.
    "text_span_corrupt" -> ((s, dir) => {
      val d = docsTok(s, dir)
      d.select(col("doc_id"),
        TextOps.spanCorrupt(col("doc_id"), col("toks"), 3, 15).as("sc"))
        .select(col("doc_id"), col("sc.input").as("input"),
          col("sc.target").as("target"), col("sc.n_masked").as("n_masked"))
    }),

    // Document chunking: overlapping 32-token windows every 24 tokens —
    // the pretraining chunk shape. Explode happens scan-side (Generate
    // in the scan stage, no shuffle); tail coverage is guaranteed by the
    // clamped final window.
    "text_chunks" -> ((s, dir) =>
      docsTok(s, dir)
        .select(col("doc_id"),
          explode(TextOps.chunks(col("toks"), 32, 24)).as("c"))
        .select(col("doc_id"),
          col("c.chunk_start").cast("long").as("chunk_start"),
          col("c.chunk").as("chunk"))),

    // Retrieval-index flagship: chunk → HashingTF embed → cosine top-k,
    // the whole build-a-RAG-index path as ONE oracle-checked plan. The
    // chunk-vector table is materialized once (corpus AND query sides
    // read it); the query side broadcasts; integer bucket counts make
    // every cosine bit-reproducible cross-engine.
    "pipeline_index" -> ((s, dir) => {
      val vecs = tableFrame(s, dir, "documents", "chunkVecs", IndexDim) { _ =>
        val ch = docsTok(s, dir)
          .select(col("doc_id"),
            explode(TextOps.chunks(col("toks"), 32, 24)).as("c"))
          .select(col("doc_id"),
            col("c.chunk_start").cast("long").as("chunk_start"),
            TextOps.tokens(col("c.chunk")).as("ctoks"))
        SimilarityOps.withNorm(
          SimilarityOps.hashingTf(ch, Seq("doc_id", "chunk_start"), "ctoks", IndexDim))
      }
      val q = vecs.filter(col("doc_id") < IndexQueryDocs &&
          col("chunk_start") === 1)
        .select(col("doc_id").as("query_doc"),
          col("embedding").as("qv"), col("nrm").as("qn"))
      val scored = vecs.join(broadcast(q), col("doc_id") =!= col("query_doc"))
        .select(col("query_doc"), col("doc_id").as("neighbor_doc"),
          col("chunk_start").as("neighbor_start"),
          round(SimilarityOps.cosine(col("embedding"), col("qv"),
            col("nrm"), col("qn")), 6).as("cos"))
      scored
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_doc")
            .orderBy(col("cos").desc, col("neighbor_doc"),
              col("neighbor_start"))).cast("long"))
        .filter(col("rk") <= IndexTopK)
        .select("query_doc", "rk", "neighbor_doc", "neighbor_start", "cos")
    }),

    // Sequence packing: greedy fill of docs (in doc_id order) into
    // fixed 256-token training sequences — seq id = the bin where the
    // doc's cumulative start offset falls. Pure integer math over one
    // total order, so the packing is deterministic on any partitioning.
    // The global cumsum runs on the two-phase prefix sum (PrefixOps) —
    // no single-partition sort; start offset = inclusive cumsum − own.
    "pack_sequences" -> ((s, dir) => {
      val cap = 256L
      PrefixOps.globalCumsum(
        table(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens")),
        binCol = "doc_id", tieCols = Seq.empty,
        valueCol = "n_tokens", outCol = "cum")
        .withColumn("start_off", col("cum") - col("n_tokens"))
        .withColumn("seq_id", floor(col("start_off") / cap).cast("long"))
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("seq_tokens"),
          min("doc_id").as("first_doc_id"))
    }),

    // Chunk-level exact dedup — the boilerplate detector: identical
    // 32-token windows recurring ACROSS documents (headers, disclaimers,
    // license text) surface as multi-copy chunk groups; composition of
    // the chunker with the exact-dedup aggregate.
    "dedup_chunk_boilerplate" -> ((s, dir) =>
      docsTok(s, dir)
        .select(col("doc_id"),
          explode(TextOps.chunks(col("toks"), 32, 24)).as("c"))
        .select(col("doc_id"), md5(col("c.chunk")).as("chunk_md5"))
        .groupBy("chunk_md5")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min("doc_id").as("first_doc_id"))
        .filter(col("n_docs") > 1)),

    // Corpus-trained unigram LM quality score: avg token log-probability
    // (Σ tf·ln c_w − n·ln total)/n — the model-based quality filter
    // (docs of rare tokens score low). The corpus counts derive from the
    // tf aggregate (no second corpus scan, same trick as TF-IDF), and
    // the per-(doc,tok) log terms are ROUNDED THEN SUMMED AS DECIMALS:
    // a raw double sum would be partition-order-dependent and break the
    // oracle; round(·,6)→DECIMAL makes the sum exact and associative at
    // a precision far beyond the score's meaning.
    "text_lm_score" -> ((s, dir) => {
      val tf = docTokTf(s, dir)
      val cw = tf.groupBy("tok").agg(sum("tf").as("cw"))
      val tot = cw.agg(sum("cw").cast("double").as("total"))
      tf.join(broadcast(cw), Seq("tok"))
        .withColumn("term",
          round(col("tf") * log(col("cw").cast("double")), 6).cast("decimal(28,6)"))
        .groupBy("doc_id")
        .agg(sum(col("term")).cast("decimal(38,6)").as("sum_term"),
          sum(col("tf")).as("n"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          round((col("sum_term").cast("double") - col("n") * log(col("total"))) /
            col("n"), 6).as("lm_score"))
    }),

    // Okapi BM25 top-k: lexical retrieval, the sparse complement to the
    // ANN family. The token explode filters to the query's terms at the
    // scan — only those posting lists exist anywhere in the plan.
    "text_bm25_topk" -> ((s, dir) => bm25Cached(s, dir)),

    // the SERVING shape: a whole query batch scored in ONE corpus pass —
    // posting lists filtered at the scan to the union of all queries'
    // terms, per-query top-k via WindowGroupLimit.
    "ret_bm25_multi" -> ((s, dir) => bm25MultiCached(s, dir)),

    // MaxScore-pruned BM25: per-term upper bounds (bounded collect) set
    // a safe threshold, docs with only non-essential terms never reach
    // the aggregation — same results as text_bm25_topk by the MaxScore
    // invariant, which is why its oracle IS the unpruned replay.
    "ret_wand_topk" -> ((s, dir) =>
      RetrievalOps.bm25TopKMaxScore(
        table(s, dir, "documents"), Bm25Terms, Bm25K)),

    // the lexical-vs-dense ablation on the shared metric frame: how
    // well does BM25 alone recover each query's dense-cosine ground
    // truth? (The complementarity these numbers show is the case for
    // hybrid fusion.) Exact = dense top-5 per query id; approx = the
    // cached BM25 batch ranking.
    "ret_metrics_lexical" -> ((s, dir) => {
      val corpus = normed(s, dir)
      val qids = Bm25Queries.map(_._1).distinct
      val exact = SimilarityOps.bruteTopK(
        corpus, corpus.filter(col("vec_id").isin(qids: _*)), IvfK)
      val approx = bm25MultiCached(s, dir)
        .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rank"))
      RetrievalOps.rankingMetrics(exact, approx)
    }),

    // the TREC headline metric over the same frames: per-query average
    // precision of the BM25 ranking against the dense ground truth, in
    // exact integer micro-units (nested floor divisions — no float
    // association-order drift). Complements recall/MRR/nDCG above.
    "ret_metrics_map" -> ((s, dir) => {
      val corpus = normed(s, dir)
      val qids = Bm25Queries.map(_._1).distinct
      val exact = SimilarityOps.bruteTopK(
        corpus, corpus.filter(col("vec_id").isin(qids: _*)), IvfK)
      val approx = bm25MultiCached(s, dir)
        .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rank"))
      RetrievalOps.apMetric(exact, approx)
    }),

    // common-neighbor link prediction over the capped kNN dup graph:
    // which non-adjacent doc pairs share the most dup-neighbors — the
    // graph-completion answer to "these two docs are probably dups the
    // generator missed" (a recall repair for the LSH layer), top-50 by
    // shared count then neighborhood Jaccard. On the capped edge set
    // the wedge join is bounded by k·|E| ≤ k²·n.
    "graph_linkpred" -> ((s, dir) =>
      GraphOps.linkPrediction(
        knnEdgesTri(s, dir),
        "vec_a", "vec_b", LinkPredK)),

    // k-core peeling over the cosine graph: the dense dup nucleus after
    // fringe members cascade away — the cluster-core extractor beside
    // triangles' local density. Bounded synchronous rounds, each a
    // degree aggregation + two semi-joins on the shrinking edge set.
    // Rides the shared degree-capped kNN edge artifact like the rest
    // of the graph family — an exact label-cell pair pass rebuilt per
    // run is quadratic in cell size (measured
    // 16.6 s of a 17.1 s total at ×10: 10 cells × 2000 members →
    // 20M candidates, 103× the 1× pair count).
    "graph_kcore" -> ((s, dir) =>
      GraphOps.kCore(knnEdgesTri(s, dir),
        "vec_a", "vec_b", KCoreK, KCoreRounds)),

    // batched hybrid search end to end: the multi-query BM25 batch and
    // the dense top-k batch for the same query ids, fused per query by
    // reciprocal rank — the full serving pipeline (two one-pass batch
    // rankings + a query-keyed fusion) as one plan.
    // team-draft interleaving of the BM25 batch against the dense
    // ranking — the online-eval merge with per-position attribution,
    // deterministic to the hash coin.
    "ret_interleave" -> ((s, dir) => {
      val lex = bm25MultiCached(s, dir)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val corpus = normed(s, dir)
      val qids = Bm25Queries.map(_._1).distinct
      val sem = SimilarityOps.bruteTopK(
        corpus, corpus.filter(col("vec_id").isin(qids: _*)), HybridK)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      RetrievalOps.teamDraftInterleave(lex, sem, HybridK)
    }),

    "hybrid_rrf_multi" -> ((s, dir) => {
      val lex = bm25MultiCached(s, dir)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val corpus = normed(s, dir)
      val qids = Bm25Queries.map(_._1).distinct
      val sem = SimilarityOps.bruteTopK(
        corpus, corpus.filter(col("vec_id").isin(qids: _*)), HybridK)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      RetrievalOps.rrfFuseByQuery(Seq(lex, sem), HybridK)
    }),

    // Hybrid search: reciprocal rank fusion of the BM25 list and the
    // embedding-cosine list (query = vec 0, embeddings aligned to
    // doc_ids). Rank-based, so the incomparable score scales never mix;
    // both inputs are k-bounded so fusion is corpus-size-independent.
    // The BM25 list is the cached relation text_bm25_topk materializes —
    // one corpus scoring pass serves both queries (dedupBands precedent).
    "hybrid_rrf" -> ((s, dir) => {
      val lex = bm25Cached(s, dir)
        .select(col("doc_id"), col("rank"))
      val corpus = normed(s, dir)
      val sem = SimilarityOps.bruteTopK(
        corpus, corpus.filter(col("vec_id") === 0), Bm25K)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      RetrievalOps.rrfFuse(Seq(lex, sem), HybridK)
    }),

    // the score-based hybrid combiner next to hybrid_rrf's rank-based
    // one: per-list min-max to micro ints, 0.5/0.5 weights, exact long
    // sum — shares the cached BM25 pass.
    "hybrid_linear" -> ((s, dir) => {
      val lex = bm25Cached(s, dir).select(col("doc_id"), col("score"))
      val corpus = normed(s, dir)
      val sem = SimilarityOps.bruteTopK(
        corpus, corpus.filter(col("vec_id") === 0), Bm25K)
        .select(col("neighbor_id").as("doc_id"), col("cos_sim").as("score"))
      RetrievalOps.linearFuse(Seq(lex -> 0.5, sem -> 0.5), HybridK)
    }),

    // PII scrubbing over the events payload (the one testdata column with
    // digit runs): typed placeholders for emails / IPv4 / digit runs,
    // plus the redaction count. Pure scan-side regexp chain — no shuffle.
    "text_pii_scrub" -> ((s, dir) =>
      table(s, dir, "events").select(
        col("event_id"),
        TextOps.piiScrub(col("props")).as("scrubbed"),
        regexp_count(col("props"), lit(TextOps.DigitRunPattern)).cast("long")
          .as("n_digit_runs"))),

    // -- dedup ------------------------------------------------------------
    "dedup_exact" -> ((s, dir) =>
      DedupOps.exactGroups(table(s, dir, "documents"))),

    // Exact substring-span dedup (Lee et al. 2022): repeated k-gram
    // occurrences merged into per-doc removal spans. One corpus scan,
    // gram-count + semi-join shuffles, per-doc window only over hits.
    "dedup_substring_spans" -> ((s, dir) =>
      DedupOps.substringSpans(table(s, dir, "documents"), k = 8, minCount = 2)),

    // ...and the spans applied: the cleaned corpus, span tokens cut,
    // survivors reassembled in position order (doc spine left-joined so
    // fully-cleaned docs surface as empty text, not missing rows).
    "dedup_substring_clean" -> ((s, dir) =>
      DedupOps.substringClean(table(s, dir, "documents"), k = 8, minCount = 2)),

    // "fuzzy-exact" dedup: group by md5 of the canonical form — catches
    // case/punctuation/whitespace-only variants before the MinHash pass.
    "dedup_canonical" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          md5(TextOps.canonicalize(col("text"))).as("canon_md5"))
        .groupBy("canon_md5")
        .agg(min("doc_id").as("canonical_doc_id"),
          count(lit(1)).as("n_copies"))),

    // shingledAll, not shingled: the signature's min-agg is duplicate-
    // insensitive, so the LSH-only path skips the distinct shuffle.
    // The bands table is the family's shared memo: one row per
    // doc×band, ~1000× smaller than the raw shingle table (materializing
    // the raw shingles made THIS query 2.5× slower than recomputing:
    // scanning the exploded shingles cost more than the codegen explode
    // it saved).
    "dedup_minhash_buckets" -> ((s, dir) =>
      DedupOps.lshBuckets(dedupBands(s, dir))),

    "dedup_minhash_pairs" -> ((s, dir) => minhashPairs(s, dir)),

    "dedup_jaccard" -> ((s, dir) => {
      // three memos sized to their reuse: the bands table, the candidate
      // pair list (read twice here: as the broadcast endpoint filter and
      // as the jaccard join's left side) and the candidate docs'
      // pre-aggregated shingle sets, so a re-run is two joins
      DedupOps.ngramJaccardSets(minhashPairs(s, dir), minhashPairSets(s, dir))
    }),

    // asymmetric containment: the quote/subset-dup signal Jaccard
    // misses (a short doc quoted whole inside a long one unions big →
    // low Jaccard, but containment ≈ 1 on the short side). Rides the
    // same candidate memos as dedup_jaccard.
    "dedup_containment" -> ((s, dir) =>
      DedupOps.ngramContainmentSets(minhashPairs(s, dir), minhashPairSets(s, dir))),

    // deterministic fixed-size uniform sample per stratum: the k
    // smallest hash draws per language — "give me 20 random docs per
    // lang, stably across reruns and engines". One shuffle on the
    // stratum key; rank<=k compiles to WindowGroupLimit so the
    // per-partition heaps prune before the exchange.
    "sample_topk_stratum" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
        .orderBy(SampleOps.hashDraw(col("doc_id")).asc, col("doc_id").asc)
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
    }),

    // cross-split leakage audit: verified near-dup pairs stranded on
    // opposite sides of the train/val/test wall. Rides the SAME cached
    // bands/pairs/shingle-set artifacts as dedup_jaccard (candidate
    // generation is shared, not recomputed); split labels are scan-side
    // expressions of the ids, so the audit itself adds zero shuffles.
    "dedup_split_leakage" -> ((s, dir) =>
      DedupOps.splitLeakage(
        DedupOps.ngramJaccardSets(minhashPairs(s, dir), minhashPairSets(s, dir)),
        LeakJaccard)),

    // EXACT similarity self-join (prefix filtering, PPJoin-style): every
    // pair with jaccard >= 0.5, NO false negatives — the exact
    // counterpart to the LSH candidate path above; the oracle is the
    // naive all-pairs shingle join, so the hash match proves perfect
    // recall on this corpus.
    "dedup_setjoin_exact" -> ((s, dir) =>
      DedupOps.similarityJoinExact(
        table(s, dir, "documents"), SetJoinThreshold)),

    // transitive duplicate clusters over the LSH candidate graph —
    // the keep-one-per-cluster id assignment (connected components).
    // The pairs are the shared memo: duplicateClusters reads them twice
    // (the size check and the collect/loop).
    "dedup_clusters" -> ((s, dir) =>
      DedupOps.duplicateClusters(
        table(s, dir, "documents").select("doc_id"),
        minhashPairs(s, dir),
        driverMaxEdges = 1L << 20)),

    // per-source duplication-rate data card: which ingest source is
    // feeding the dup clusters — the number that decides where to point
    // the crawler fix. Cluster labels from the shared LSH machinery,
    // one source-keyed rollup, integer-ppm rate (floor div).
    "profile_dedup_rate" -> ((s, dir) => {
      val clusters = DedupOps.duplicateClusters(
        table(s, dir, "documents").select("doc_id"),
        minhashPairs(s, dir))
      val sizes = clusters.groupBy("cluster_id")
        .agg(count(lit(1)).as("sz"))
      clusters.join(sizes, Seq("cluster_id"))
        .join(table(s, dir, "documents").select("doc_id", "source"),
          Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_duped"))
        .select(col("source"), col("n_docs"), col("n_duped"),
          expr("(n_duped * 1000000) div n_docs").as("dup_ppm"))
    }),

    // survivorship: the keep-THIS-one decision per duplicate cluster —
    // canonical record = longest text, ties to the smallest doc_id (a
    // deterministic, defensible curation rule). One aggregation over
    // the shared cluster labels via the max-struct trick (no window,
    // no second shuffle): max(struct(n_chars, −doc_id)) picks the
    // canonical atomically with the member count.
    "dedup_survivorship" -> ((s, dir) => {
      val clusters = DedupOps.duplicateClusters(
        table(s, dir, "documents").select("doc_id"),
        minhashPairs(s, dir))
      clusters
        .join(table(s, dir, "documents").select("doc_id", "n_chars"),
          Seq("doc_id"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), (-col("doc_id")).as("neg"))).as("c"))
        .select(col("cluster_id"), (-col("c.neg")).as("canonical_doc"),
          col("c.n_chars").as("canonical_chars"), col("n_members"))
    }),

    // the duplication report a curation run actually reads: how many
    // clusters of each size exist (size 1 = unique docs). Derives from
    // the same cluster labels as split_leakproof; two tiny aggregations
    // over the label table.
    "dedup_cluster_sizes" -> ((s, dir) =>
      DedupOps.duplicateClusters(
        table(s, dir, "documents").select("doc_id"),
        minhashPairs(s, dir),
        driverMaxEdges = 1L << 20)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))),

    // per-source vocabulary profile (the Heaps-curve report): token
    // volume, distinct-word count, and type/token ratio per source —
    // the corpus-composition numbers a mixing decision starts from.
    "text_vocab_stats" -> ((s, dir) =>
      srcTokCounts(s, dir)
        .filter(length(col("tok")) > 0)
        .groupBy("source")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          round(col("n_types") / col("n_tokens").cast("double"), 6).as("ttr"))),

    // PageRank over the duplicate graph — which documents sit at the
    // CENTER of duplication clusters (high-rank nodes are the hubs
    // worth keeping/canonicalizing). Each power iteration is one
    // edges⋈ranks join + a node-keyed aggregation, both partitioned on
    // node ids; the rank vector never leaves the executors.
    "graph_pagerank" -> ((s, dir) =>
      GraphOps.pagerank(
        minhashPairs(s, dir), "doc_a", "doc_b")),

    // the DIRECTED form over the same pairs, oriented doc_a → doc_b
    // (earlier id → later id, a DAG): rank flows toward the latest
    // members of each duplication chain. The DAG's leaves are dangling
    // nodes — their mass redistributes uniformly each iteration, which
    // is exactly what the undirected variant never has to face.
    "graph_pagerank_directed" -> ((s, dir) =>
      GraphOps.pagerankDirected(
        minhashPairs(s, dir), "doc_a", "doc_b")),

    // the REMEDY for what dedup_split_leakage detects: split by
    // duplicate-CLUSTER id instead of doc id, so every near-dup group
    // lands on one side of the train/val/test wall by construction —
    // any pair the candidate generation can see shares a cluster and
    // therefore a split. Costs one extra scan-side hash over the
    // cluster label on top of the clustering itself.
    "split_leakproof" -> ((s, dir) =>
      DedupOps.duplicateClusters(
        table(s, dir, "documents").select("doc_id"),
        minhashPairs(s, dir),
        driverMaxEdges = 1L << 20)
        .select(col("doc_id"), col("cluster_id"),
          SampleOps.splitOf(col("cluster_id")).as("split"))),

    // incremental dedup — the production daily-increment workflow: even
    // doc_ids play the already-ingested corpus, odd ones the new batch,
    // plus synthesized exact copies (re-keyed) so every status branch is
    // exercised: +100000 copies of existing docs (exact_dup_existing),
    // +200000 copies of in-batch docs (exact_dup_in_batch); cross-half
    // near-dups surface via band collision + Jaccard ≥ 0.5 confirm.
    // The batch probes the persisted MinhashIndex ARTIFACT
    // (hashes/bands/shingle-sets, materialized once per input) — the
    // band-axis twin of the embedding index treatment: no existing-side
    // text re-scan anywhere in the probe.
    "dedup_incremental" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .unionAll(docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        .unionAll(docs.filter(pmod(col("doc_id"), lit(10)) === 1)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      DedupOps.incrementalStatusIndexed(
        minhashCrossIndex(s, dir), batch, SetJoinThreshold)
    }),

    "dedup_simhash" -> ((s, dir) => simhash(s, dir)),

    "dedup_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashPairs(simhash(s, dir))),

    // -- embeddings / similarity -----------------------------------------
    "emb_norm" -> ((s, dir) =>
      normed(s, dir).select(col("vec_id"), round(col("nrm"), 6).as("l2_norm"))),

    "sim_brute_topk" -> ((s, dir) => {
      val corpus = normed(s, dir)
      SimilarityOps.bruteTopK(
        corpus, corpus.filter(col("vec_id") < BruteQueryCount), BruteK)
    }),

    "sim_ivf_topk" -> ((s, dir) => {
      val corpus = normed(s, dir)
      SimilarityOps.ivfTopK(
        corpus, corpus.filter(col("vec_id") < IvfQueryCount), IvfK)
    }),

    // ANN quality evaluation: recall@k of the IVF cell-restricted search
    // against the brute-force ground truth at the same (queries, k).
    // Both inputs are deterministic, so the recall itself oracle-checks —
    // the evaluation harness any approximate index needs before it
    // replaces the exact path at scale.
    "sim_recall_ivf" -> ((s, dir) => {
      val corpus = normed(s, dir)
      val qs = corpus.filter(col("vec_id") < IvfQueryCount)
      val exact = SimilarityOps.bruteTopK(corpus, qs, IvfK)
        .select(col("query_id"), col("neighbor_id"))
      val approx = SimilarityOps.ivfTopK(corpus, qs, IvfK)
        .select(col("query_id"), col("neighbor_id"))
      exact
        .join(broadcast(approx.withColumn("hit", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
          count(lit(1)).as("k"))
        .select(col("query_id"), col("n_hits"), col("k"),
          round(col("n_hits") / col("k").cast("double"), 6).as("recall"))
    }),

    // the payoff measurement for the trained quantizer: identical
    // evaluation to sim_recall_ivf but over kmeansCells assignments
    // instead of the given labels — trained cells group by actual
    // similarity, so recall@k rises accordingly.
    "sim_recall_kmeans" -> ((s, dir) => {
      val cells = SimilarityOps.kmeansCells(
        table(s, dir, "embeddings"), cachedCentroids(s, dir), 6)
        .withColumnRenamed("cell", "label")
      val base = normed(s, dir)
      val corpus = base.drop("label").join(cells, Seq("vec_id"))
      val qs = corpus.filter(col("vec_id") < IvfQueryCount)
      // ground truth is label-independent (brute force scores cosine
      // only), so the exact branch skips the cells join entirely — one
      // less shuffle join; kmeansCells assigns every vec, so the joined
      // and unjoined corpora hold identical vectors
      val exact = SimilarityOps.bruteTopK(
        base, base.filter(col("vec_id") < IvfQueryCount), IvfK)
        .select(col("query_id"), col("neighbor_id"))
      val approx = SimilarityOps.ivfTopK(corpus, qs, IvfK)
        .select(col("query_id"), col("neighbor_id"))
      exact
        .join(broadcast(approx.withColumn("hit", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
          count(lit(1)).as("k"))
        .select(col("query_id"), col("n_hits"), col("k"),
          round(col("n_hits") / col("k").cast("double"), 6).as("recall"))
    }),

    // IVF nprobe — the other half of the multi-probe story (FAISS's
    // recall knob): each query searches its IvfNprobe nearest TRAINED
    // cells instead of only its own. Probe expansion rides the broadcast
    // side; nprobe=1 is bitwise the trained-cell ivfTopK (same (d, cell)
    // argmin), so the 1-vs-nprobe pair quantifies what probing buys.
    "sim_recall_ivf_probe" -> ((s, dir) => {
      val cents = cachedCentroids(s, dir)
      val base = normed(s, dir)
      val qs = base.filter(col("vec_id") < IvfQueryCount)
      val exact = SimilarityOps.bruteTopK(base, qs, IvfK)
        .select(col("query_id"), col("neighbor_id"))
      val one = SimilarityOps.ivfTopKMultiProbe(base, qs, cents, IvfK, 1)
        .select(col("query_id"), col("neighbor_id"))
      val multi = SimilarityOps.ivfTopKMultiProbe(base, qs, cents, IvfK, IvfNprobe)
        .select(col("query_id"), col("neighbor_id"))
      exact
        .join(broadcast(one.withColumn("hit1", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .join(broadcast(multi.withColumn("hitm", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          sum(coalesce(col("hit1"), lit(0L))).as("n_hits_1probe"),
          sum(coalesce(col("hitm"), lit(0L))).as("n_hits_nprobe"),
          count(lit(1)).as("k"))
        .select(col("query_id"), col("n_hits_1probe"), col("n_hits_nprobe"),
          col("k"),
          round(col("n_hits_1probe") / col("k").cast("double"), 6)
            .as("recall_1probe"),
          round(col("n_hits_nprobe") / col("k").cast("double"), 6)
            .as("recall_nprobe"))
    }),

    // the nprobe axis CLOSED: recall-targeting IVF serving. One tagged
    // candidate pass at maxProbe contains the whole recall-vs-nprobe
    // frontier (a corpus vector is in exactly one cell; its cell has
    // exactly one rank per query), so the operator measures the
    // frontier, picks the smallest nprobe meeting the target, and the
    // served top-k is the already-scanned slice — no model, no rebuild.
    "sim_ivf_auto_recall" -> ((s, dir) => {
      import s.implicits._
      // the CARD is a handful of longs from a deterministic
      // calibrate→solve run, memoized like every other trained artifact
      // (train once, serve many), with the operator's cached scan
      // released as soon as the counts are collected (the release is
      // the block bound; the memo is why releasing does not turn every
      // bench pass into a re-solve — the un-memoized cost is the
      // query's `cold` seconds in `graft.Bench`)
      val row = tableValue(s, dir, "embeddings", "ivfAutoRecallCard", IvfK,
          IvfAutoRecallTarget) { _ =>
        val base = normed(s, dir)
        val r = SimilarityOps.ivfTopKAtRecall(
          base, base.filter(col("vec_id") < IvfQueryCount),
          cachedCentroids(s, dir), IvfK, IvfAutoRecallTarget, KmeansK)
        val nRes = r.results.count()
        r.release()
        (r.targetMicro, r.nTrue, r.maxProbe.toLong, r.nprobe.toLong,
          r.recallAtMicro(r.nprobe - 1), nRes)
      }
      Seq(row).toDF("target_micro", "n_true", "max_probe", "n_probe",
        "achieved_recall_micro", "n_results")
    }),

    // LSH-bucketed ANN: data-independent sign-signature cells instead of
    // the IVF labels — the scale path when no trained quantizer exists.
    "sim_lsh_topk" -> ((s, dir) => {
      val corpus = normed(s, dir)
      SimilarityOps.lshTopK(
        corpus, corpus.filter(col("vec_id") < LshQueryCount), LshK)
    }),

    // the LSH quality evaluation: recall@k of 1-probe vs multi-probe
    // (LshProbes buckets per query — own bucket + lowest-|margin| bit
    // flips) against the brute-force ground truth. One result row per
    // query demonstrates the tradeoff multi-probe buys: more buckets
    // probed (query-side only — the corpus is still scanned and signed
    // once) for strictly-no-worse recall, since the 1-probe bucket is a
    // subset of the probe set.
    "sim_recall_lsh" -> ((s, dir) => {
      val corpus = normed(s, dir)
      val qs = corpus.filter(col("vec_id") < LshQueryCount)
      val exact = SimilarityOps.bruteTopK(corpus, qs, LshK)
        .select(col("query_id"), col("neighbor_id"))
      val one = SimilarityOps.lshTopK(corpus, qs, LshK)
        .select(col("query_id"), col("neighbor_id"))
      val multi = SimilarityOps.lshTopKMultiProbe(corpus, qs, LshK, LshProbes)
        .select(col("query_id"), col("neighbor_id"))
      exact
        .join(broadcast(one.withColumn("hit1", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .join(broadcast(multi.withColumn("hitm", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          sum(coalesce(col("hit1"), lit(0L))).as("n_hits_1probe"),
          sum(coalesce(col("hitm"), lit(0L))).as("n_hits_multiprobe"),
          count(lit(1)).as("k"))
        .select(col("query_id"), col("n_hits_1probe"),
          col("n_hits_multiprobe"), col("k"),
          round(col("n_hits_1probe") / col("k").cast("double"), 6)
            .as("recall_1probe"),
          round(col("n_hits_multiprobe") / col("k").cast("double"), 6)
            .as("recall_multiprobe"))
    }),

    // index-side replication (SPANN, Chen et al. 2021): the dual of
    // nprobe — boundary vectors are indexed into their SpannReplicas
    // nearest trained cells at BUILD time, and each query probes exactly
    // ONE cell. Same evaluation frame as sim_recall_ivf_probe so the
    // two sides of the trade (index ×r storage vs query ×n fan-out) are
    // directly comparable; replicas=1 is bitwise the trained-cell
    // 1-probe baseline.
    "sim_recall_spann" -> ((s, dir) => {
      val cents = cachedCentroids(s, dir)
      val base = normed(s, dir)
      val qs = base.filter(col("vec_id") < IvfQueryCount)
      val exact = SimilarityOps.bruteTopK(base, qs, IvfK)
        .select(col("query_id"), col("neighbor_id"))
      val one = SimilarityOps.ivfTopKReplicated(base, qs, cents, IvfK, 1)
        .select(col("query_id"), col("neighbor_id"))
      val rep = SimilarityOps.ivfTopKReplicated(
        base, qs, cents, IvfK, SpannReplicas)
        .select(col("query_id"), col("neighbor_id"))
      exact
        .join(broadcast(one.withColumn("hit1", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .join(broadcast(rep.withColumn("hitr", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          sum(coalesce(col("hit1"), lit(0L))).as("n_hits_1replica"),
          sum(coalesce(col("hitr"), lit(0L))).as("n_hits_replicated"),
          count(lit(1)).as("k"))
        .select(col("query_id"), col("n_hits_1replica"),
          col("n_hits_replicated"), col("k"),
          round(col("n_hits_1replica") / col("k").cast("double"), 6)
            .as("recall_1replica"),
          round(col("n_hits_replicated") / col("k").cast("double"), 6)
            .as("recall_replicated"))
    }),

    // Matryoshka truncation recall: one row per query reports raw
    // truncated-space recall (16 of 64 dims — the scan reads 1/4 of the
    // bytes, no index, no training) AND funnel-retrieval recall (cheap
    // shortlist → exact re-rank of only the shortlisted candidates) —
    // the fourth ANN axis after IVF/LSH/PQ, measured on the same
    // frontier contract as the others.
    "sim_recall_trunc" -> ((s, dir) => {
      val corpus = normed(s, dir)
      val qs = corpus.filter(col("vec_id") < IvfQueryCount)
      val exact = SimilarityOps.bruteTopK(corpus, qs, IvfK)
        .select(col("query_id"), col("neighbor_id"))
      val raw = SimilarityOps.truncatedTopK(corpus, qs, TruncDim, IvfK)
        .select(col("query_id"), col("neighbor_id"))
      val refined = SimilarityOps.truncatedTopKRefined(
        corpus, qs, TruncDim, IvfK, PqShortlist)
        .select(col("query_id"), col("neighbor_id"))
      exact
        .join(broadcast(raw.withColumn("hitt", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .join(broadcast(refined.withColumn("hitr", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          sum(coalesce(col("hitt"), lit(0L))).as("n_hits_trunc"),
          sum(coalesce(col("hitr"), lit(0L))).as("n_hits_refined"),
          count(lit(1)).as("k"))
        .select(col("query_id"), col("n_hits_trunc"), col("n_hits_refined"),
          col("k"),
          round(col("n_hits_trunc") / col("k").cast("double"), 6)
            .as("recall_trunc"),
          round(col("n_hits_refined") / col("k").cast("double"), 6)
            .as("recall_refined"))
    }),

    // product quantization, index-build half: train the m per-subspace
    // codebooks in one corpus scan per iteration (pqCodebooks) and
    // encode every vector as m sub-centroid ids — 64 float32s become 4
    // small codes. The DuckDB oracle replays all four per-subspace
    // k-means chains (same init/argmin/decimal-mean arithmetic as the
    // sim_kmeans_cells oracle, over list slices) and re-derives every
    // code, so the compressed index itself is hash-checked.
    "sim_pq_codes" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      SimilarityOps.pqCodes(emb, cachedBooks(s, dir), PqSubDim)
    }),

    // product quantization, serving half: raw ADC top-k vs
    // shortlist+exact-refine top-k (the FAISS production shape) against
    // the exact L2 ground truth under the same ranking functional. One
    // row per query reports BOTH recalls, so the frontier — what the
    // bounded exact re-rank of an ADC shortlist buys over trusting the
    // 4-byte codes' distance resolution — is oracle-checked, like
    // sim_recall_ivf_probe / sim_recall_lsh_tables.
    "sim_recall_pq" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val books = cachedBooks(s, dir)
      val qs = emb.filter(col("vec_id") < IvfQueryCount)
      val exact = SimilarityOps.bruteTopKL2(emb, qs, IvfK)
        .select(col("query_id"), col("neighbor_id"))
      // one ADC pass at the shortlist size serves both rankers: raw
      // ADC's top-k is its rank <= IvfK rows (row_number over (adist,
      // neighbor_id) is a total order). They are flagged, not filtered:
      // a rank filter would fold into the window's group limit and plan
      // a second ADC pass instead of reusing the shortlist's exchange.
      val shortlist = SimilarityOps.pqTopK(emb, qs, books, PqSubDim, PqShortlist)
      val adc = shortlist.select(col("query_id"), col("neighbor_id"),
        when(col("rank") <= IvfK, 1L).otherwise(0L).as("hita"))
      val refined = SimilarityOps.pqTopKRefined(emb, qs, shortlist, IvfK)
        .select(col("query_id"), col("neighbor_id"))
      exact
        .join(broadcast(adc), Seq("query_id", "neighbor_id"), "left")
        .join(broadcast(refined.withColumn("hitr", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          sum(coalesce(col("hita"), lit(0L))).as("n_hits_adc"),
          sum(coalesce(col("hitr"), lit(0L))).as("n_hits_refined"),
          count(lit(1)).as("k"))
        .select(col("query_id"), col("n_hits_adc"), col("n_hits_refined"),
          col("k"),
          round(col("n_hits_adc") / col("k").cast("double"), 6)
            .as("recall_adc"),
          round(col("n_hits_refined") / col("k").cast("double"), 6)
            .as("recall_refined"))
    }),

    // the OTHER amplification axis: instead of probing more buckets of
    // ONE 8-bit table (multi-probe above), OR over 8 INDEPENDENT 6-bit
    // tables — fewer bits raise each table's match probability p^b, and
    // any-table-matches amplifies recall to 1−(1−p^b)^L. One row per
    // query reports recall AND candidate volume for 1-table vs L-table,
    // so the frontier (recall bought per candidate inspected) is
    // oracle-checked, not asserted.
    "sim_recall_lsh_tables" -> ((s, dir) => {
      val corpus = normed(s, dir)
      val qs = corpus.filter(col("vec_id") < LshQueryCount)
      val exact = SimilarityOps.bruteTopK(corpus, qs, LshK)
        .select(col("query_id"), col("neighbor_id"))
      // min_t = 0 marks the pairs table 0 alone finds: the 1-table
      // baseline is a FILTER over the same candidate frame, not a
      // second corpus pass
      val cand = SimilarityOps.lshTableCandidates(corpus, qs)
      val counts = cand.groupBy("query_id").agg(
        sum(when(col("min_t") === 0, 1L).otherwise(0L)).as("n_cand_1table"),
        count(lit(1)).as("n_cand_tables"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
      def top(src: DataFrame) = src
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= LshK)
        .select(col("query_id"), col("neighbor_id"))
      val one = top(cand.filter(col("min_t") === 0))
      val tbl = top(cand)
      exact
        .join(broadcast(one.withColumn("hit1", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .join(broadcast(tbl.withColumn("hitt", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          sum(coalesce(col("hit1"), lit(0L))).as("n_hits_1table"),
          sum(coalesce(col("hitt"), lit(0L))).as("n_hits_tables"),
          count(lit(1)).as("k"))
        .join(broadcast(counts), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_cand_1table"), lit(0L)).as("n_cand_1table"),
          coalesce(col("n_cand_tables"), lit(0L)).as("n_cand_tables"),
          col("n_hits_1table"), col("n_hits_tables"), col("k"),
          round(col("n_hits_1table") / col("k").cast("double"), 6)
            .as("recall_1table"),
          round(col("n_hits_tables") / col("k").cast("double"), 6)
            .as("recall_tables"))
    }),

    // the metric triple over the PQ/ADC ranker (L2 functional) — with
    // ret_metrics_trunc and ret_metrics_rp this puts all three
    // compression families (trained codes, informative prefix, random
    // projection) on one comparable evaluation frame.
    "ret_metrics_pq" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < IvfQueryCount)
      RetrievalOps.rankingMetrics(
        SimilarityOps.bruteTopKL2(emb, qs, IvfK),
        SimilarityOps.pqTopK(emb, qs, cachedBooks(s, dir), PqSubDim, IvfK))
    }),

    // the IR evaluation triple over the truncated (Matryoshka) ranker:
    // recall@k says WHETHER the right neighbors surface, MRR says how
    // soon the first one does, nDCG says how well the whole order is
    // preserved — one oracle-checked row per query, the evaluation
    // frame any retrieval system must pass through before it replaces
    // the exact path. Both inputs are k-bounded, so the metric join
    // never touches corpus-sized data.
    // hard-negative mining: per anchor the top-k nearest DIFFERENT-label
    // vectors — the near-miss negatives contrastive training needs
    // (random negatives are trivially separable). Label mismatch is
    // fused into the broadcast join condition: same-label rows never
    // reach the scorer.
    "sim_hard_negatives" -> ((s, dir) => {
      val corpus = normed(s, dir)
      SimilarityOps.hardNegatives(
        corpus, corpus.filter(col("vec_id") < IvfQueryCount), IvfK)
    }),

    // sparse random projection (Achlioptas/JL): 64 dims → 8 through a
    // fixed md5-derived ±1 matrix — data-independent compression (no
    // training, no model state; contrast PQ's codebooks and
    // Matryoshka's model-dependent prefixes). Exploded (vec_id, j, v)
    // form so the projected values hash-compare robustly.
    "sim_rp_project" -> ((s, dir) =>
      SimilarityOps.randomProjectLong(
        table(s, dir, "embeddings"),
        SimilarityOps.rpWeights(RpDim, EmbDim))),

    // the JL quality measurement: the full IR metric triple of the
    // projected-space ranking vs exact — directly comparable to
    // ret_metrics_trunc (16 informative prefix dims vs 8 random ones).
    "ret_metrics_rp" -> ((s, dir) => {
      val corpus = normed(s, dir)
      val qs = corpus.filter(col("vec_id") < IvfQueryCount)
      val w = SimilarityOps.rpWeights(RpDim, EmbDim)
      val rp = SimilarityOps.randomProject(table(s, dir, "embeddings"), w)
      RetrievalOps.rankingMetrics(
        SimilarityOps.bruteTopK(corpus, qs, IvfK),
        SimilarityOps.bruteTopK(rp, rp.filter(col("vec_id") < IvfQueryCount), IvfK))
    }),

    "ret_metrics_trunc" -> ((s, dir) => {
      val corpus = normed(s, dir)
      val qs = corpus.filter(col("vec_id") < IvfQueryCount)
      RetrievalOps.rankingMetrics(
        SimilarityOps.bruteTopK(corpus, qs, IvfK),
        SimilarityOps.truncatedTopK(corpus, qs, TruncDim, IvfK))
    }),

    "dedup_embedding" -> ((s, dir) =>
      SimilarityOps.nearDupPairs(normed(s, dir), NearDupThreshold)),

    // the SCALE-PATH twin of dedup_embedding: candidates from
    // auto-sized LSH signature-prefix buckets (bucket count grows with
    // the corpus, expected bucket size stays pinned) instead of the
    // fixed label cells whose in-cell pairs grow quadratically.
    // Precision is exact; recall is measured by the card below.
    "dedup_embedding_lsh" -> ((s, dir) => lshPairsNearDup(s, dir)),

    // cross-corpus near-dup probe — the embedding daily-increment
    // (vector twin of dedup_incremental / sim_ivf_append): the batch
    // (odd vec_ids) probes the FROZEN index ARTIFACT of the existing
    // corpus (even vec_ids — built ONCE per input by
    // [[lshCrossIndex]]; the prefix width rides the artifact's bits
    // column, so the probe plan never touches the existing side's raw
    // embeddings), one shared bucket-collect shuffle, cross-side pairs
    // only, exact-cosine verified.
    "dedup_embedding_incremental" -> ((s, dir) => lshCrossPairs(s, dir)),

    // the OUTPUT-BOUNDED incremental surface: the
    // same frozen-index probe (shared — one batch probed once, read
    // twice), capped to each BATCH vector's k best existing-side
    // partners — ≤ |batch|·k rows at any index size, where the
    // uncapped dump grows with the true cross-dup density.
    "dedup_embedding_incremental_topk" -> ((s, dir) =>
      SimilarityOps.topKPerBatchVector(lshCrossPairs(s, dir),
        LshTopKPerVector)),

    // the targetBucket knob's recall/cost frontier: for three bucket
    // sizes, total recall on the query subset AND the generator's
    // total pair output — the "recall bought per candidate inspected"
    // evidence for sizing the knob at a new scale. One row per target.
    // The (cached) signature stage — tables × 24 plane-dots per vector
    // — is computed ONCE and shared by all three settings: only the
    // prefix width (and the probe flips within it) varies per target.
    "dedup_lsh_frontier" -> ((s, dir) => {
      val corpus = normed(s, dir)
      // the shared 32-table stage: one cached scan serves this card,
      // the tables frontier, dedup_embedding_lsh(+topk), the auto-L
      // operator, and the TriangleCos graph chain (this card reads
      // only the first LshTables dot columns of it)
      val sigs = lshSigs(s, dir)
      val qs = corpus.filter(col("vec_id") < LshQueryCount)
      val truth = corpus
        .join(broadcast(qs.select(col("vec_id").as("query_id"),
          col("embedding").as("qe"), col("nrm").as("qn"))),
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("other_id"),
          SimilarityOps.cosine(
            col("embedding"), col("qe"), col("nrm"), col("qn")).as("cos"))
        .filter(col("cos") >= NearDupThreshold)
      // single pass: one branch per target would re-evaluate the truth
      // subtree and carry its own join+agg+crossJoin (3× truth, 6
      // broadcasts, a 390 KB plan). Instead the three targets' pair
      // sets union ONCE with a target tag, per-(query, other) hit flags aggregate per target,
      // the truth joins a single broadcast, and one row explodes into
      // the same three — same counts, same rounded ratio, a ~3×
      // smaller plan, truth evaluated once.
      val tagged = LshFrontierTargets.map { t =>
        SimilarityOps.nearDupPairsLshFrom(sigs, NearDupThreshold,
          targetBucket = t)
          .select(lit(t).as("tgt"), col("vec_a"), col("vec_b"))
      }.reduce(_ unionAll _)
      // per-(query, other) found-flags aggregate over the (small)
      // query-stripe slice of the directed pairs and broadcast-join the
      // truth ONCE; per-target pair volumes are conditional sums in one
      // pure-pipeline aggregation over the tagged union. (A fully-fused
      // single-union form — everything through one (q, o) groupBy — was
      // tried and measured SLOWER: it funnels every directed row and
      // the truth through a wide shuffle, where this form's second
      // evaluation of the tagged union is a cheap pipeline; see
      // archive/OPTIMIZATION_r16.md.)
      val flags = tagged
        .select(col("tgt"), col("vec_a").as("query_id"),
          col("vec_b").as("other_id"))
        .unionAll(tagged.select(col("tgt"), col("vec_b").as("query_id"),
          col("vec_a").as("other_id")))
        .filter(col("query_id") < LshQueryCount)
        .groupBy("query_id", "other_id")
        .agg(
          max(when(col("tgt") === LshFrontierTargets.head, 1L).otherwise(0L))
            .as(s"__f${LshFrontierTargets.head}"),
          LshFrontierTargets.tail.map(t =>
            max(when(col("tgt") === t, 1L).otherwise(0L)).as(s"__f$t")): _*)
      val hits = truth
        .join(broadcast(flags), Seq("query_id", "other_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          LshFrontierTargets.map(t =>
            sum(coalesce(col(s"__f$t"), lit(0L))).as(s"__h$t")): _*)
      val volumes = tagged.agg(
        coalesce(sum(when(col("tgt") === LshFrontierTargets.head, 1L)
          .otherwise(0L)), lit(0L)).as(s"__p${LshFrontierTargets.head}"),
        LshFrontierTargets.tail.map(t =>
          coalesce(sum(when(col("tgt") === t, 1L).otherwise(0L)), lit(0L))
            .as(s"__p$t")): _*)
      hits.crossJoin(broadcast(volumes))
        .select(explode(array(LshFrontierTargets.map(t => struct(
          lit(t.toLong).as("target_bucket"), col("n_true"),
          col(s"__h$t").as("n_hit"),
          round(col(s"__h$t") / col("n_true").cast("double"), 6)
            .as("recall"),
          col(s"__p$t").as("n_pairs"))): _*)).as("r"))
        .select(col("r.target_bucket"), col("r.n_true"), col("r.n_hit"),
          col("r.recall"), col("r.n_pairs"))
    }),

    // the OUTPUT-BOUNDED near-dup surface: the same LSH candidate
    // chain, capped to each vector's k best partners — ≤ n·k pairs at
    // any scale, where the uncapped dump grows with the data's true
    // ≥-threshold pair density (superlinear on clumpy corpora).
    "dedup_embedding_lsh_topk" -> ((s, dir) =>
      SimilarityOps.topKPerVector(lshPairsNearDup(s, dir),
        LshTopKPerVector)),

    // the TABLES-axis recall/cost frontier: recall and pair volume at
    // L ∈ {8, 16, 32} tables, all priced from ONE pair pass (min_t < L
    // selects exactly the L-table result). This is the knob LSH theory
    // says holds recall as the corpus grows (L ∝ n^ρ at a fixed
    // absolute threshold — the prefix width grows with n, so per-table
    // collision for a FIXED angle decays; occupancy pinning keeps COST
    // flat per table, not recall). One row per L.
    "dedup_lsh_tables_frontier" -> ((s, dir) => {
      val corpus = normed(s, dir)
      val pairs = tableFrame(s, dir, "embeddings", "lshPairsByTable", NearDupThreshold,
          SimilarityOps.LshAutoMaxTables) { _ =>
        SimilarityOps.nearDupPairsLshByTable(lshSigs(s, dir), NearDupThreshold,
          tables = SimilarityOps.LshAutoMaxTables)
      }
      val qs = corpus.filter(col("vec_id") < LshQueryCount)
      val truth = corpus
        .join(broadcast(qs.select(col("vec_id").as("query_id"),
          col("embedding").as("qe"), col("nrm").as("qn"))),
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("other_id"),
          SimilarityOps.cosine(
            col("embedding"), col("qe"), col("nrm"), col("qn")).as("cos"))
        .filter(col("cos") >= NearDupThreshold)
      // single pass (the dedup_lsh_frontier pattern):
      // min_t < L selects an L-table run, so per-L hits and volumes are
      // CONDITIONAL SUMS; pair rows (both directions) and truth rows
      // ride ONE union into one (query, other) grouping and one 1-row
      // aggregation — the old per-L branches re-evaluated the truth
      // subtree 3× and shipped 6 broadcasts; values are unchanged.
      val unioned = pairs
        .select(col("vec_a").as("query_id"), col("vec_b").as("other_id"),
          col("min_t"), lit(0L).as("is_truth"))
        .unionAll(pairs.select(col("vec_b").as("query_id"),
          col("vec_a").as("other_id"), col("min_t"),
          lit(0L).as("is_truth")))
        .unionAll(truth.select(col("query_id"), col("other_id"),
          lit(null).cast("int").as("min_t"), lit(1L).as("is_truth")))
      val grouped = unioned
        .groupBy("query_id", "other_id")
        .agg(max(col("is_truth")).as("__tf"), min(col("min_t")).as("__mt"),
          count(col("min_t")).as("__nd"))
      val one = grouped.agg(
        sum(col("__tf")).as("n_true"),
        LshTablesFrontier.flatMap(l => Seq(
          sum(when(col("__tf") === 1L && col("__mt") < l, 1L).otherwise(0L))
            .as(s"__h$l"),
          sum(when(col("__mt") < l, col("__nd")).otherwise(0L))
            .as(s"__cc$l"))): _*)
      one
        .select(explode(array(LshTablesFrontier.map(l => struct(
          lit(l.toLong).as("n_tables"), col("n_true"),
          col(s"__h$l").as("n_hit"),
          round(col(s"__h$l") / col("n_true").cast("double"), 6)
            .as("recall"),
          expr(s"__cc$l div 2").as("n_pairs"))): _*)).as("r"))
        .select(col("r.n_tables"), col("r.n_true"), col("r.n_hit"),
          col("r.recall"), col("r.n_pairs"))
    }),

    // the RECALL-TARGETING auto-L operator's card:
    // calibrate at 8 tables on the query stripe, solve 1-(1-x)^L >=
    // target with integer-exact micro arithmetic, rebuild at the
    // solved L, report MEASURED achieved recall — every number on the
    // card replays in the oracle, decision included. One row.
    "dedup_lsh_auto_recall" -> ((s, dir) => {
      import s.implicits._
      // memoized card + released operator cache — see the
      // sim_ivf_auto_recall note
      val row = tableValue(s, dir, "embeddings", "lshAutoRecallCard", NearDupThreshold,
          LshAutoRecallTarget) { _ =>
        val r = SimilarityOps.nearDupPairsLshAtRecall(
          normed(s, dir), NearDupThreshold, LshAutoRecallTarget,
          LshQueryCount, sigs = Some(lshSigs(s, dir)))
        val nPairs = r.pairs.count()
        r.release()
        (r.targetMicro, r.nTrue, r.calibTables.toLong,
          r.calibRecallMicro, r.tables.toLong, r.achievedRecallMicro,
          nPairs)
      }
      Seq(row).toDF("target_micro", "n_true", "calib_tables",
        "calib_recall_micro", "n_tables", "achieved_recall_micro",
        "n_pairs")
    }),

    // the WIDE-POOL escalation card: the same
    // auto-L decision with the 64-table pool as the ceiling, at a
    // threshold/target pair whose geometry at the bench SF genuinely
    // needs it — at sf0.1 the measured calibration recall (0.724886 at
    // 8 tables) makes 0.999 UNREACHABLE at the 32-table default and
    // the solver escalates to L=48, a decision only the wide pool can
    // execute; the smaller SFs solve below the default ceiling and
    // replay the same arithmetic. The cached 32-table signature stage
    // serves the calibration pass; a wide solve pays a fresh build at
    // the solved L (the honest cost of escalation — prefix stability
    // makes it the same pairs a persisted 64-wide stage would give).
    "dedup_lsh_auto_recall_wide" -> ((s, dir) => {
      import s.implicits._
      // memoized card + released operator cache — see the
      // sim_ivf_auto_recall note; the wide solve (a fresh 48-table
      // build at sf0.1) is paid once per input, in the query's `cold`
      // seconds
      val row = tableValue(s, dir, "embeddings", "lshAutoRecallWideCard", LshWideThreshold,
          LshWideRecallTarget) { _ =>
        val r = SimilarityOps.nearDupPairsLshAtRecall(
          normed(s, dir), LshWideThreshold, LshWideRecallTarget,
          LshQueryCount, maxTables = SimilarityOps.LshWideMaxTables,
          sigs = Some(lshSigs(s, dir)))
        val nPairs = r.pairs.count()
        r.release()
        (r.targetMicro, r.nTrue, r.calibTables.toLong,
          r.calibRecallMicro, r.tables.toLong, r.achievedRecallMicro,
          nPairs)
      }
      Seq(row).toDF("target_micro", "n_true", "calib_tables",
        "calib_recall_micro", "n_tables", "achieved_recall_micro",
        "n_pairs")
    }),

    // the ROUTED recall decision end-to-end: same regime as the
    // wide card, but through nearDupPairsLshAtRecallOrTopK — at the
    // oracle SFs the target solves inside the wide pool (the SOLVED
    // arm, decision replayed in DuckDB like the wide card, with the
    // error sentinel guarding a regime flip); at ×10, where both
    // auto-recall cards raise UNREACHABLE by design, this card takes
    // the documented second arm LIVE — the head-recall-contracted
    // top-k arc surface — so the family's scale row is a measured
    // number, not a dash: the production posture is "solve or degrade
    // to the bounded consumer surface", never dead-end.
    "dedup_lsh_recall_routed" -> ((s, dir) => {
      import s.implicits._
      val row = tableValue(s, dir, "embeddings", "lshRecallRoutedCard", LshWideThreshold,
          LshWideRecallTarget, LshTopKPerVector, RoutedMinHeadRecall) { _ =>
        SimilarityOps.nearDupPairsLshAtRecallOrTopK(
          normed(s, dir), LshWideThreshold, LshWideRecallTarget,
          LshTopKPerVector, RoutedMinHeadRecall, LshQueryCount,
          sigs = Some(lshSigs(s, dir))) match {
          case SimilarityOps.LshRouteSolved(r) =>
            val n = r.pairs.count()
            r.release()
            ("solved", r.tables.toLong, n)
          case SimilarityOps.LshRouteTopK(arcs, _, release) =>
            // count, then release the arm's internal pair cache — the
            // card memoizes the scalars, so nothing reads the frame
            // again
            val n = arcs.count()
            release()
            ("topk_head_recall", -1L, n)
        }
      }
      Seq(row).toDF("route", "n_tables", "n_rows")
    }),

    // the band-axis twin: recall-targeting MinHash candidate generation.
    // Same card shape as dedup_lsh_auto_recall; the solved band count is
    // a property of the dup-similarity profile (per-pair recall is
    // 1-(1-s^r)^b — Jaccard alone, no corpus-size term), so unlike the
    // hyperplane twin this decision TRANSFERS across scale.
    "dedup_minhash_auto_recall" -> ((s, dir) => {
      import s.implicits._
      // memoized card + released operator cache — see the
      // sim_ivf_auto_recall note
      val row = tableValue(s, dir, "documents", "minhashAutoRecallCard", MinhashRecallJaccard,
          MinhashRecallTarget, MinhashQueryCount, MinhashMaxBands) { docs =>
        val r = DedupOps.minhashPairsAtRecall(docs, MinhashRecallJaccard,
          MinhashRecallTarget, MinhashQueryCount, maxBands = MinhashMaxBands)
        val nPairs = r.pairs.count()
        r.release()
        (r.targetMicro, r.nTrue, r.calibBands.toLong,
          r.calibRecallMicro, r.bands.toLong, r.achievedRecallMicro,
          nPairs)
      }
      Seq(row).toDF("target_micro", "n_true", "calib_bands",
        "calib_recall_micro", "n_bands", "achieved_recall_micro",
        "n_pairs")
    }),

    // top-of-ranking recall — what the kNN-graph consumers actually
    // need from the generator: of each query's true TOP-k partners
    // (among those clearing the consumers' edge threshold), how many
    // did the bucketed pairs surface. Absolute-threshold recall decays
    // with corpus size by LSH geometry (the prefix widens with n);
    // this card measures the ranking-head quality the arc-capped
    // graph build rides instead.
    "dedup_embedding_lsh_topk_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val corpus = normed(s, dir)
      val qs = corpus.filter(col("vec_id") < LshQueryCount)
      val truthAll = corpus
        .join(broadcast(qs.select(col("vec_id").as("query_id"),
          col("embedding").as("qe"), col("nrm").as("qn"))),
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("other_id"),
          SimilarityOps.cosine(
            col("embedding"), col("qe"), col("nrm"), col("qn")).as("cos"))
        .filter(col("cos") >= TriangleCos)
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("other_id"))
      val topk = truthAll
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= LshTopKPerVector)
      val lsh = lshPairsTri(s, dir)
      val both = lsh
        .select(col("vec_a").as("query_id"), col("vec_b").as("other_id"))
        .unionAll(lsh
          .select(col("vec_b").as("query_id"), col("vec_a").as("other_id")))
        .filter(col("query_id") < LshQueryCount)
      topk
        .join(broadcast(both.withColumn("hit", lit(1L))),
          Seq("query_id", "other_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("query_id"), col("n_true"), col("n_hit"),
          round(col("n_hit") / col("n_true").cast("double"), 6)
            .as("recall"))
    }),

    // recall card for the LSH candidate generator vs exact truth on
    // the query subset — the dedup_lsh_recall pattern for embeddings:
    // per query, how many of its true ≥-threshold partners did the
    // bucketed generator find. Queries with no true partner drop
    // (0/0 is not a recall).
    "dedup_embedding_lsh_recall" -> ((s, dir) => {
      val corpus = normed(s, dir)
      val qs = corpus.filter(col("vec_id") < LshQueryCount)
      val truth = corpus
        .join(broadcast(qs.select(col("vec_id").as("query_id"),
          col("embedding").as("qe"), col("nrm").as("qn"))),
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("other_id"),
          SimilarityOps.cosine(
            col("embedding"), col("qe"), col("nrm"), col("qn")).as("cos"))
        .filter(col("cos") >= NearDupThreshold)
      val lsh = lshPairsNearDup(s, dir)
      val lshBoth = lsh
        .select(col("vec_a").as("query_id"), col("vec_b").as("other_id"))
        .unionAll(lsh
          .select(col("vec_b").as("query_id"), col("vec_a").as("other_id")))
        .filter(col("query_id") < LshQueryCount)
      truth
        .join(broadcast(lshBoth.withColumn("hit", lit(1L))),
          Seq("query_id", "other_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("query_id"), col("n_true"), col("n_hit"),
          round(col("n_hit") / col("n_true").cast("double"), 6)
            .as("recall"))
    }),

    // blocked fuzzy matching: Levenshtein ≤ 4 over 24-char prefixes,
    // COST-ROUTED between the plain in-block
    // quadratic and PassJoin SEGMENT blocking on the measured in-block
    // candidate volume: at sf0.1 (~91k candidates) the blocked DP wins
    // (the segmented probe's fixed ~6-stage overhead measured 3.8×);
    // at ×10 (911k candidates for 12.7k true pairs) the segment
    // pigeonhole removes the 71× waste — both arms provably emit the
    // SAME pairs, so the selector changes cost only (the oracle stays
    // the full in-block join). The segmented arm segments the 16-char
    // SUFFIX: two same-block strings share their first min(8, len)
    // chars EXACTLY, and Levenshtein is invariant under stripping a
    // shared prefix — so suffix distance IS the 24-char distance. The
    // block key is LENGTH-PREFIXED: an injective encoding of (lang,
    // prefix8), so "same block ⟹ shared prefix verbatim" is
    // structural — a lang containing a separator character cannot
    // collide two different prefixes into one block and silently break
    // the suffix-stripping invariant. The order-sensitive
    // record-linkage pass the shingle family can't express; early-exit
    // threshold DP on both arms.
    // The routing statistic (in-block candidate volume) is memoized by
    // its input's content — one statistics scan per input, not one per
    // invocation; the memoized long IS the measurement.
    "dedup_editdist" -> ((s, dir) =>
      DedupOps.editDistancePairsAuto(
        table(s, dir, "documents"),
        strCol = substring(col("text"), 9, 16),
        blockCol = concat(
          lpad(length(col("lang")).cast("string"), 2, "0"),
          col("lang"), substring(col("text"), 1, 8)),
        maxDist = 4)),

    // blocked Jaro-Winkler fuzzy linkage — the normalized,
    // transposition-tolerant metric next to dedup_editdist, computed by
    // the native exact-integer expression (graft.expressions
    // .JaroWinkler) so the threshold is integer-decided on both
    // engines. The pair surface is memoized: two queries
    // consume exactly this frame (the dump and its top-k cap), and the
    // surface is id+score rows bounded by the corpus's match density.
    "dedup_jaro" -> ((s, dir) => jaroPairsShared(s, dir)),

    // the OUTPUT-BOUNDED jaro surface: the same blocked pair
    // chain, capped to each doc's k best partners — ≤ n·k rows at any
    // scale, where the uncapped dump grows with the corpus's true
    // match density (measured QUADRATIC in clump size on the bench
    // corpus: 4,050 → 441,594 pairs for 10× docs — jaro admits no
    // exact sub-blocking since the Winkler boost rides the common
    // prefix the blocks share, so the bounded CONSUMER surface is the
    // scale posture, exactly as dedup_embedding_lsh_topk is to
    // dedup_embedding_lsh).
    "dedup_jaro_topk" -> ((s, dir) =>
      DedupOps.topKPerDoc(jaroPairsShared(s, dir), "jw_micro",
        JaroTopKPerDoc)),

    // content-defined chunk dedup (Rabin/FastCDC cutpoints at token
    // granularity): boundaries derive from content, so shared
    // boilerplate hashes identically wherever it floats — sub-document
    // dedup that survives edits, the edit-robust complement to
    // dedup_substring_spans' fixed global-gram filter.
    "dedup_cdc_chunks" -> ((s, dir) =>
      DedupOps.cdcDuplicateChunks(docsTok(s, dir), CdcChunkK, CdcDivisor)),

    // SemDeDup: semantic dedup over TRAINED k-means cells — the third
    // dedup layer after exact (byte copies) and MinHash (lexical
    // rewrites). Keeps the far-from-centroid member of every near-dup
    // group; all 500 corpus rows come back with a kept/dropped mark so
    // the selection itself is the oracle-checked artifact.
    "dedup_semantic" -> ((s, dir) =>
      SimilarityOps.semanticDedup(
        table(s, dir, "embeddings"), cachedCentroids(s, dir), NearDupThreshold, 6)),

    // trained IVF cells: Lloyd's k-means (driver-iterated, MLlib-style)
    // over the embedding corpus — deterministic init + decimal-exact
    // centroid means, so the final assignment oracle-checks; the output
    // cell column is what ivfTopK would consume in place of `label`.
    "sim_kmeans_cells" -> ((s, dir) =>
      SimilarityOps.kmeansCells(
        table(s, dir, "embeddings"), cachedCentroids(s, dir), 6)),

    // incremental index maintenance — the production daily-append: the
    // quantizer was trained on the EXISTING corpus (even vec_ids); the
    // new batch (odd vec_ids) is assigned to those frozen cells without
    // retraining — a pure scan-side argmin against the cached centroid
    // literals. The vector twin of dedup_incremental's probe-stored-
    // indexes story.
    "sim_ivf_append" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = ModelCache.value("kmeansExisting", KmeansK, KmeansIters)(emb)(
        SimilarityOps.kmeansCentroids(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), KmeansK, KmeansIters))
      SimilarityOps.kmeansCells(emb, cents, 6)
        .withColumn("is_new", pmod(col("vec_id"), lit(2)) === 1)
    }),

    // k-center greedy coreset (Gonzalez 1985): the diverse-subset
    // selection primitive — k maximally-spread exemplars, each step ONE
    // corpus scan reduced to a single row by TakeOrderedAndProject.
    // Every corpus row comes back with its cover assignment (selection
    // order, nearest center, rounded d²), so the whole greedy chain is
    // the oracle-checked artifact. Centers share the train-once cache.
    "sim_kcenter_coreset" -> ((s, dir) =>
      SimilarityOps.kcenterAssign(
        table(s, dir, "embeddings"),
        tableValue(s, dir, "embeddings", "kcenter", KcenterK)(
          SimilarityOps.kcenterCenters(_, KcenterK)))),

    // the same coreset contract seeded the SCALABLE way (k-means||-
    // style batched oversampling, Bahmani 2012): `rounds` corpus scans
    // each pulling the `oversample` farthest rows, then the exact
    // greedy reduces the bounded candidate set to k — corpus passes
    // O(rounds), not O(k), which is what makes k in the hundreds
    // feasible at 100 TB.
    "sim_kcenter_parallel" -> ((s, dir) =>
      SimilarityOps.kcenterAssign(
        table(s, dir, "embeddings"),
        tableValue(s, dir, "embeddings", "kcenterParallel", KcenterK, KcenterRounds,
            KcenterOversample)(SimilarityOps.kcenterParallelCenters(_,
          KcenterK, KcenterRounds, KcenterOversample)))),

    // -- SQL surface ------------------------------------------------------
    // the same engine through pure SQL: temp view + the natively-
    // registered codegen expression resolving by name (the
    // SparkSessionExtensions path a SQL-only user would take).
    "sql1_ext_fns" -> ((s, dir) => {
      table(s, dir, "embeddings").createOrReplaceTempView("embeddings_sqlv")
      s.sql("""SELECT vec_id, round(vec_dot(embedding, embedding), 6) AS self_dot
              |FROM embeddings_sqlv""".stripMargin)
    }),

    // the whole relational engine through SQL TEXT: multi-table join +
    // aggregate + window over temp views, exactly as a SQL-only user
    // would drive it (spark.sql parses/plans through the same Catalyst
    // pipeline as the DataFrame queries — this proves the surface, the
    // SQL itself exercises nation⋈customer⋈orders with a ranking window)
    "sql2_views_join" -> ((s, dir) => {
      table(s, dir, "nation").createOrReplaceTempView("nation_sqlv")
      table(s, dir, "customer").createOrReplaceTempView("customer_sqlv")
      table(s, dir, "orders").createOrReplaceTempView("orders_sqlv")
      s.sql("""
        |WITH spend AS (
        |  SELECT n.n_name, c.c_custkey,
        |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS cust_spend
        |  FROM nation_sqlv n
        |  JOIN customer_sqlv c ON c.c_nationkey = n.n_nationkey
        |  JOIN orders_sqlv o ON o.o_custkey = c.c_custkey
        |  GROUP BY n.n_name, c.c_custkey
        |)
        |SELECT n_name, c_custkey, CAST(cust_spend AS STRING) AS cust_spend, spend_rank
        |FROM (
        |  SELECT n_name, c_custkey, cust_spend,
        |    CAST(rank() OVER (PARTITION BY n_name
        |      ORDER BY cust_spend DESC, c_custkey) AS BIGINT) AS spend_rank
        |  FROM spend)
        |WHERE spend_rank <= 5
        |""".stripMargin)
    }),

    // benchmark decontamination: distinct k-shingle overlap between the
    // training split and a (tiny) benchmark split — the bench side
    // collapses to a distinct shingle set before the equi-join, so the
    // train corpus never pairs doc×doc. Split rule doc_id%10==0 stands in
    // for a real holdout table.
    "dedup_contamination" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      DedupOps.contaminationCounts(
        DedupOps.shingled(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)),
        DedupOps.shingled(docs.filter(pmod(col("doc_id"), lit(10)) === 0)))
    }),

    // seeded deterministic corpus shuffle: position = rank of a stable
    // per-doc hash — same permutation on any partitioning/engine/rerun
    // (the data-ordering contract for reproducible training runs). The
    // global rank comes from the two-phase prefix sum, not a
    // single-partition row_number.
    "shuffle_seeded" -> ((s, dir) =>
      graft.ops.PrefixOps.globalRowNumber(
        table(s, dir, "documents").select(
          col("doc_id"),
          graft.expressions.Md5PrefixLong.draw(
            concat(lit("42:"), col("doc_id").cast("string")), 8).as("h")),
        binCol = "h", tieCols = Seq("doc_id"), outCol = "pos")
        .select("doc_id", "pos")),

    // -- deterministic sampling -------------------------------------------
    // key-hash draw, not sample(seed): same rows on any partitioning /
    // engine / rerun — the reproducibility contract corpus subsetting
    // needs at 100 TB.
    "sample_hash" -> ((s, dir) =>
      SampleOps.hashSample(table(s, dir, "documents"), "doc_id", SampleFraction)
        .select("doc_id", "lang")),

    // the curation flagship: the data-pipeline analog of billing_invoice
    // — quality gate → exact-dedup (keep canonical) → split assignment →
    // per-(split, lang) corpus accounting, composed as ONE plan. Every
    // stage is deterministic, so the whole chain oracle-checks.
    "pipeline_curate" -> ((s, dir) => {
      val t1 = (0.8 * SampleOps.HashSpace).toLong
      val t2 = (0.9 * SampleOps.HashSpace).toLong
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          TextOps.tokenCount(col("text")).as("tok"))
        .filter(col("tok") >= 5)
      val canonical = docs
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val draw = SampleOps.hashDraw(col("doc_id"))
      docs
        .join(canonical, Seq("doc_id"), "left_semi")
        .withColumn("split",
          when(draw < t1, "train").when(draw < t2, "val").otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
    }),

    // THE WHOLE PREPROCESSING DAG AS ONE PLAN: Gopher quality gate →
    // exact dedup → benchmark decontamination → duplicate-cluster
    // leak-proof split → per-(split, lang) accounting. Every stage is
    // an operator this engine ships individually and oracle-checks
    // individually; this query proves they COMPOSE — one declarative
    // plan Catalyst optimizes end-to-end, the shape a real 100 TB
    // curation run has. Corpus-sized data crosses a shuffle only for
    // the dedup hash, the shingle semi-joins, and the final accounting;
    // the bench gram set and the cluster labels are the small sides.
    "pipeline_full" -> ((s, dir) => {
      val all = table(s, dir, "documents")
      val isBench = pmod(col("doc_id"), lit(10)) === 0
      val bench = all.filter(isBench)
      val quality = all.filter(!isBench)
        .withColumn("toks", TextOps.tokens(col("text")))
        .filter(TextOps.gopherRules(col("toks")).getField("keep"))
      val canonical = quality
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val deduped = quality.join(canonical, Seq("doc_id"), "left_semi")
      val benchSh = DedupOps.shingled(bench).select("shingle").distinct()
      val contaminated = DedupOps.shingledAll(deduped)
        .join(benchSh, Seq("shingle"))
        .select("doc_id").distinct()
      val clean = ModelCache.frame("pipelineClean")(all) {
        deduped.join(contaminated, Seq("doc_id"), "left_anti")
      }
      val pairs = DedupOps.candidatePairs(DedupOps.lshBands(
        DedupOps.minhashSignature(DedupOps.shingledAll(clean))))
      val clusters = DedupOps.duplicateClusters(
        clean.select("doc_id"), pairs, driverMaxEdges = 1L << 20)
      clean.join(clusters, Seq("doc_id"))
        .select(col("lang"),
          SampleOps.splitOf(col("cluster_id")).as("split"),
          size(col("toks")).cast("long").as("tok"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
    }),

    // dataset split assignment: every doc lands in exactly one of
    // train/val/test by hash range (80/10/10) — deterministic, disjoint,
    // exhaustive, partitioning-independent; the split survives corpus
    // growth (a doc's assignment never changes as others arrive).
    "split_assign" -> ((s, dir) =>
      table(s, dir, "documents").select(col("doc_id"), col("lang"),
        SampleOps.splitOf(col("doc_id")).as("split"))),

    // importance sampling: per-row keep probability = a quality proxy
    // (token count / 100, clamped) — longer docs kept preferentially,
    // still a deterministic scan-side filter.
    "sample_weighted" -> ((s, dir) =>
      SampleOps.weightedHashSample(
        table(s, dir, "documents")
          .withColumn("tok", TextOps.tokenCount(col("text"))),
        "doc_id", col("tok") / 100.0)
        .select("doc_id", "lang", "tok")),

    // stratified: rebalance the language mix (downsample dominant en,
    // keep more of the rare strata).
    "sample_stratified" -> ((s, dir) =>
      SampleOps.stratifiedHashSample(
        table(s, dir, "documents"), "doc_id", "lang", StratifiedFractions)
        .select("doc_id", "lang")),

    // data mixing: rebalance toward equal tokens per language with
    // fractions DERIVED from the corpus (MixOps) — dominant strata
    // shrink to the per-stratum token budget, rare ones pass whole.
    // Deterministic hash-draw membership, fraction math in one fixed
    // IEEE expression shape both engines share.
    "mix_downsample" -> ((s, dir) =>
      graft.ops.MixOps.equalTokenDownsample(
        table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextOps.tokenCount(col("text")).as("tok")),
        keyCol = "doc_id", stratumCol = "lang", tokensCol = "tok")
        .select("doc_id", "lang", "tok")),

    // budget-prefix curation: per language keep the best-first (longest
    // docs here) prefix that reaches a 2500-token budget — the
    // deterministic rank-cut companion to the probabilistic hash-draw
    // mixers; the row crossing the budget is kept, everything after
    // drops.
    "mix_budget_prefix" -> ((s, dir) =>
      graft.ops.MixOps.budgetPrefix(
        table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextOps.tokenCount(col("text")).as("tok")),
        keyCol = "doc_id", stratumCol = "lang", scoreCol = "tok",
        tokensCol = "tok", budget = 2500L)
        .select("doc_id", "lang", "tok")),

    // temperature mixing at α=0.5: the multilingual-pretraining rule —
    // target shares ∝ stok^α, interpolating natural (α=1) toward equal
    // tokens (α=0); fraction rounded to 6 dp so cross-engine pow ulp
    // drift cannot move a threshold.
    "mix_temperature" -> ((s, dir) =>
      graft.ops.MixOps.temperatureDownsample(
        table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextOps.tokenCount(col("text")).as("tok")),
        keyCol = "doc_id", stratumCol = "lang", tokensCol = "tok",
        alpha = 0.5)
        .select("doc_id", "lang", "tok")),

    // logistic-regression quality classifier trained IN-ENGINE (full-
    // batch GD, one corpus aggregation per iteration, weight updates
    // computed in-engine — no driver float math anywhere) and applied
    // as a scan-side scorer. The oracle replays training AND scoring
    // from raw text: unrolled gradient CTEs with DECIMAL sums and the
    // same 6dp sigmoid/margin arithmetic. Weights share the train-once
    // cache.
    // NOTE the hashed surface is the LOGIT, not the sigmoid: the margin
    // is exact polynomial arithmetic (hash-stable on any engine), while
    // a raw transcendental in a hash-compared column is fragile by
    // nature — at sf0.1 one doc in 5000 landed within one exp() ulp of
    // a 6dp rounding boundary and flipped between engines. The sigmoid
    // is a monotone function of the logit, so ranking, thresholding
    // (pred ⟺ logit ≥ 0), and calibration all survive unchanged;
    // training is robust regardless (a single-row ulp flip shifts the
    // 6dp-rounded gradient MEAN by ~1e-10, which rounds away).
    "quality_lr_score" -> ((s, dir) =>
      lrScored(s, dir).select(col("doc_id"), col("logit_fp"),
        (col("logit_fp") >= 0L).as("pred"), (col("lang") === "en").as("label"))),

    // active learning's query step: the k most UNCERTAIN docs under the
    // trained classifier (|score − 0.5| smallest) — the rows a labeling
    // budget should go to next. TakeOrderedAndProject: only k rows
    // leave the executors.
    // |logit| ascending ≡ |sigmoid − 0.5| ascending (monotone +
    // symmetric), so the selected set is identical and hash-exact
    "sample_uncertainty" -> ((s, dir) =>
      lrScored(s, dir)
        .select(col("doc_id"), col("logit_fp"), abs(col("logit_fp")).as("margin_fp"))
        .orderBy(col("margin_fp").asc, col("doc_id").asc)
        .limit(25)),

    // the classifier's reliability diagram: scores binned into 10 equal
    // slices of the OBSERVED score range (min/max travel as a broadcast
    // 1-row dim — no global sort, unlike rank deciles) vs the actual
    // positive rate per bin — calibration is what decides whether a
    // score can gate a curation threshold.
    // the ranking-quality companion to the reliability diagram: the
    // exact precision/recall operating curve of the trained scorer at
    // decile cut depths — rank by the fixed-point logit (two-phase
    // binned rank + prefix-sum, no global sort), cum-TP at each decile,
    // integer-ppm ratios. The "where do I set the keep threshold"
    // curve a curation run reads before committing a cutoff.
    "quality_pr_curve" -> ((s, dir) => {
      val scored = lrScored(s, dir).withColumn("neg", -col("logit_fp"))
      val ranked = PrefixOps.globalRowNumber(scored, "neg", Seq("doc_id"), "pos")
        .select(col("doc_id"), col("pos"))
      val cum = PrefixOps.globalCumsum(scored, "neg", Seq("doc_id"), "y", "cum_tp")
        .select(col("doc_id"), col("cum_tp"))
      val tot = scored.agg(count(lit(1)).as("n"), sum("y").as("p"))
      s.range(1, 11).select(col("id").as("decile"))
        .crossJoin(broadcast(tot))
        .withColumn("k", expr("(decile * n) div 10"))
        .join(ranked.join(cum, Seq("doc_id")), col("pos") === col("k"))
        .select(col("decile"), col("k"), col("cum_tp").as("tp"),
          expr("cum_tp * 1000000 div k").as("precision_ppm"),
          expr("cum_tp * 1000000 div p").as("recall_ppm"))
    }),

    // exact ROC AUC of the trained scorer via the Mann-Whitney
    // rank-sum identity, tie-aware: midranks per distinct logit (kept
    // integer by the ×2 trick), rank sums through the binned prefix
    // sum — AUC = (R⁺·2 − P(P+1))·10⁶ div (2PN), pure integers end to
    // end. The single-number ranking summary beside the PR curve.
    "quality_auc" -> ((s, dir) => {
      val g = lrScored(s, dir)
        .groupBy("logit_fp")
        .agg(count(lit(1)).as("cnt"), sum("y").as("pc"))
      val cum = PrefixOps.globalCumsum(g, "logit_fp", Seq.empty, "cnt", "cumc")
      cum
        .select(col("pc"), col("cnt"),
          (col("pc") * (lit(2L) * (col("cumc") - col("cnt")) +
            col("cnt") + 1)).as("rs2"))
        .agg(sum("pc").as("p"), sum(col("cnt") - col("pc")).as("n"),
          sum("rs2").as("ranksum2"))
        .select(col("p").as("n_pos"), col("n").as("n_neg"),
          expr("(ranksum2 - p * (p + 1)) * 1000000 div (2 * p * n)")
            .as("auc_ppm"))
    }),

    "quality_lr_calibration" -> ((s, dir) => {
      // logit-space bins (a monotone reparametrization of the score
      // axis — still a reliability diagram, now hash-exact end to end)
      val scored = lrScored(s, dir)
      val range = scored.agg(min(col("logit_fp")).as("mn"), max(col("logit_fp")).as("mx"))
      scored.crossJoin(broadcast(range))
        .select(
          when(col("mx") > col("mn"),
            least(floor(round((col("logit_fp") - col("mn")).cast("double") /
              (col("mx") - col("mn")).cast("double"), 6) * 10), lit(9.0)))
            .otherwise(lit(0.0)).cast("long").as("bin"),
          col("logit_fp"), col("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(col("logit_fp")).as("sum_logit_fp"),
          round(sum(col("y")) / count(lit(1)).cast("double"), 6)
            .as("frac_positive"))
    }),

    // BPE tokenizer-merge training IN-ENGINE: the tokenizer is itself a
    // trained corpus artifact. One corpus pass folds to the (word,
    // count) vocab; each of the 6 merges is a vocab-sized aggregation +
    // a 1-row TakeOrderedAndProject argmax; the learned merge list —
    // including which pair wins each round under the (count DESC, pair
    // ASC) tie rule — replays bit-for-bit in the oracle's unrolled
    // merge CTEs. Shares the train-once cache.
    "text_bpe_merges" -> ((s, dir) =>
      TokenizerOps.mergeTable(s,
        bpeMerges(s, dir))),

    // the learned tokenizer APPLIED: per-doc word vs subword counts
    // after segmenting with the trained merges — the compression the
    // tokenizer buys, measured on the corpus that trained it. Zero
    // shuffles: the merge chain rides as nested replace() literals
    // inside a per-row transform/aggregate.
    "text_bpe_segment" -> ((s, dir) =>
      TokenizerOps.segmentStats(
        table(s, dir, "documents"),
        bpeMerges(s, dir))),

    // WordPiece greedy longest-match inference (the BERT tokenizer's
    // algorithm) against a vocab of the full alphabet plus the trained
    // BPE merge products (admitted in both initial and ## continuation
    // position): the OTHER segmentation family over the same corpus,
    // measured as pieces-per-word beside text_bpe_segment's
    // merge-order replay. Segmentation runs once per DISTINCT word.
    "text_wordpiece" -> ((s, dir) => {
      val merges = bpeMerges(s, dir)
      val vocab = (('a' to 'z').map(_.toString) ++ merges.map(_._3))
        .flatMap(p => Seq(p, "##" + p))
      TokenizerOps.wordpieceStats(table(s, dir, "documents"), vocab,
        WordpieceMaxPiece, WordpieceMaxWord)
    }),

    // Unigram-LM tokenizer trained in-engine (Kudo 2018 / SentencePiece
    // --model_type=unigram, deterministic Viterbi hard-EM): seed = all
    // substrings of the distinct-word table (singles always kept for
    // coverage + top-K multis), then 2 EM rounds of per-word Viterbi
    // lattice argmax (integer micro log-probs, max-struct tie rule) →
    // usage-count re-score → prune. Only the piece vocab (bounded by
    // seedK + alphabet) ever reaches the driver; E-steps run over the
    // Heaps'-small distinct-word table, never the corpus. The whole
    // chain — seed ranking, every lattice argmax, every prune — replays
    // in the oracle's unrolled DP CTEs.
    "text_unigram_train" -> ((s, dir) =>
      TokenizerOps.unigramVocabTable(s,
        unigramVocab(s, dir))),

    // the trained unigram vocab APPLIED: per-doc words / pieces / exact
    // integer negative-log-likelihood of the Viterbi best path — the
    // compression+fit card for the third tokenizer family, beside
    // text_bpe_segment (merge replay) and text_wordpiece (longest
    // match). DP once per DISTINCT word, broadcast back, one shuffle.
    "text_unigram_segment" -> ((s, dir) =>
      TokenizerOps.unigramSegmentStats(
        table(s, dir, "documents"),
        unigramVocab(s, dir),
        UnigramPieceLen, UnigramMaxWord)),

    // weak supervision (Snorkel pattern): three scan-side labeling
    // functions vote is-English per doc (abstentions allowed), majority
    // resolves — programmatic labels where ground truth doesn't exist
    // at corpus scale. Entirely integer votes: hash-exact by
    // construction, one corpus pass, zero shuffles.
    "weak_labels" -> ((s, dir) => {
      val d = docsTok(s, dir).filter(size(col("toks")) > 0)
      WeakLabelOps.majorityLabel(
        d, WeakLabelOps.englishLfs(col("toks")),
        Seq(col("doc_id"), (col("lang") === "en").as("label")))
    }),

    // skip-gram pairs + deterministic negative sampling (the word2vec /
    // contrastive data prep): every (center, context) pair in a ±2
    // window plus 2 md5-drawn corrupted contexts per pair — pure in-row
    // array algebra, zero shuffles; generation is a map over the scan.
    // Negatives surface as one joined string (the mm_frame_embed
    // array-hashing pattern).
    "text_skipgram_pairs" -> ((s, dir) =>
      TokenizerOps.skipgramPairs(table(s, dir, "documents"))
        .select(col("doc_id"), col("center"), col("context"),
          col("pos"), col("ctx_pos"),
          concat_ws(",", col("neg_samples")).as("negs"))),

    // DSIR importance weights: every doc scored by how en-like its
    // hashed-n-gram profile is (target = lang='en'). Fit is one
    // exploded-feature aggregate to ≤1024 rows; scoring is a zero-
    // shuffle scan against the collected model as a single array
    // literal. Weights are exact micro-unit longs (round(ln·,6)·1e6) so
    // the per-doc sum is integer math the oracle replays bit-for-bit.
    "mix_dsir_weights" -> ((s, dir) => {
      val d = docsTok(s, dir)
      val feats = DsirOps.featureBuckets(col("toks"))
      d.select(col("doc_id"),
        DsirOps.scoreMicro(feats, cachedDsirModel(s, dir)).as("dsir_micro"))
    }),

    // DSIR resampling: Gumbel-top-k ≡ sampling k docs without
    // replacement ∝ exp(weight), with the Gumbel's uniform drawn from
    // the md5 hash of doc_id — deterministic on any partitioning and
    // replayed by the oracle. Top-k is TakeOrderedAndProject: only k
    // rows leave the executors.
    "mix_dsir_select" -> ((s, dir) =>
      DsirOps.select(docsTok(s, dir), col("toks"), "doc_id",
        cachedDsirModel(s, dir), k = 100, DsirOps.DefaultDim)),

    // cohort retention — the product-analytics matrix next to funnel
    // and sessionization: users bucketed by first-activity day, one row
    // per (cohort_day, days_since) with the distinct-user count. The
    // (user, day) distinct collapses events first (the big reduction),
    // the per-user cohort derives from it, and the join back is
    // co-partitioned on user_id so AQE reuses the exchange.
    "cohort_retention" -> ((s, dir) => {
      val act = table(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val cohort = act.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
      act.join(cohort, Seq("user_id"))
        .select(col("cohort_day"),
          datediff(col("d"), col("cohort_day")).cast("long").as("days_since"))
        .groupBy("cohort_day", "days_since")
        .agg(count(lit(1)).as("n_users"))
    }),

    // event-path transition matrix (first-order Markov): per user the
    // time-ordered event stream, counted over adjacent (from → to)
    // pairs, plus each from-state's outgoing total so the transition
    // probability is oracle-checked too. ONE shuffle (user_id window);
    // the from-state totals derive FROM the pair counts (window sum
    // over the tiny matrix), never a second corpus pass.
    "path_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
      val pairs = table(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val wt = org.apache.spark.sql.expressions.Window.partitionBy("from_type")
      pairs
        .withColumn("from_total", sum(col("n")).over(wt))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n") / col("from_total").cast("double"), 6).as("p"))
    }),

    // -- sessionization ---------------------------------------------------
    "sessionize" -> ((s, dir) =>
      SessionOps.sessionStats(eventsUs(s, dir))),

    // ordered funnel: first view → first click strictly after it →
    // first purchase strictly after that. ONE shuffle + a linear fold
    // per user; the sequencing (not per-stage mins) is the operator.
    "funnel_stages" -> ((s, dir) =>
      SessionOps.funnel(
        table(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type")),
        Seq("view", "click", "purchase"))),

    // windowed funnel: same stages, but each transition must convert
    // within 24 h of the previous stage — the real-world form (an
    // unbounded funnel credits a purchase months after the view).
    "funnel_window" -> ((s, dir) =>
      SessionOps.funnel(
        table(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type")),
        Seq("view", "click", "purchase"),
        maxGapUs = FunnelWindowUs)),

    // -- multimodal plumbing ---------------------------------------------
    "mm_media_meta" -> ((s, dir) =>
      MultimodalOps.decodeStub(
        MultimodalOps.packDocuments(table(s, dir, "documents")))
        .select("media_id", "mime", "byte_len", "payload_md5", "n_frames")),

    // REAL codec round-trip: docs → actual BMP/WAV bitstreams → the
    // batched mapPartitions decode seam running genuine binary parsers
    // (header fields, 4-byte row padding, bottom-up pixel order, RIFF
    // chunk walk + odd-size pad). The oracle recomputes the decoded
    // stats in CLOSED FORM from (doc_id, index) — equality proves every
    // byte of the encode→decode path, with the md5 stub kept as the
    // declared fallback for mp4.
    "mm_codec_decode" -> ((s, dir) =>
      MultimodalOps.decodeMedia(
        MultimodalOps.packMediaCodec(table(s, dir, "documents")))),

    // real-world image formats through the SAME decode seam, with the
    // JDK's own pure-Java codecs: PNG is lossless so its decoded stats
    // replay exactly in closed form; JPEG is lossy so its contract is a
    // rated-error boolean (|sum − exact| ≤ 4/channel over one uniform
    // 8×8 DCT block — the a5 sketch-bounds pattern), which the oracle
    // asserts TRUE. The lossy columns are nulled in the projection:
    // hash-comparing a lossy byte-for-byte value would pin the JDK's
    // quantization tables, not this engine.
    "mm_imageio_decode" -> ((s, dir) => {
      // the packed bitstreams are the test FIXTURE (synthesized here
      // because no real media column exists); caching them makes the
      // timed query measure the decode operator, not fixture encoding
      val dec = MultimodalOps.decodeMedia(
        imageIo(s, dir))
      val png = col("mime") === "image/png"
      val pngExact =
        lit(3L) * aggregate(
          sequence(lit(0L), col("n_units") - 1L),
          lit(0L),
          (acc, i) => acc + (col("media_id") + i * 7L) % 256L)
      val jpegExact = lit(3L) * col("n_units") * (col("media_id") % 256L)
      dec.select(
        col("media_id"), col("mime"), col("width"), col("height"),
        col("n_units"),
        when(png, col("unit_sum")).as("unit_sum"),
        when(png, col("first_unit")).as("first_unit"),
        when(png, col("unit_sum") === pngExact)
          .otherwise(abs(col("unit_sum") - jpegExact) <= lit(12L) * col("n_units"))
          .as("sum_ok"))
    }),

    // perceptual-hash image dedup over the REAL decoded PNGs: aHash
    // signatures (exact-integer luma-vs-mean bits) grouped into
    // duplicate classes — image dedup that survives re-encoding, where
    // byte-level hashing would not. The oracle replays the hash from
    // the fixture's closed-form pixel pattern, so the decode path must
    // reproduce the encoded pixels exactly (PNG is lossless).
    // luminance histogram over the REAL decoded BMP rasters — the
    // tonal data card through the decode seam; the oracle recomputes
    // the bins in closed form from the pixel generator, so equality
    // proves decode, unflip, and binning.
    "mm_image_hist" -> ((s, dir) =>
      MultimodalOps.bmpGrayHistogram(
        MultimodalOps.packMediaCodec(table(s, dir, "documents")), 4)),

    // frame-level RMS energy + silence flags over the REAL decoded WAV
    // payloads — the VAD-lite curation pass for speech data, through
    // the same batched decode seam; oracle replays the closed-form
    // sample generator, so equality proves decode AND framing.
    "mm_wav_energy" -> ((s, dir) =>
      MultimodalOps.wavFrameEnergy(
        MultimodalOps.packMediaCodec(table(s, dir, "documents")),
        WavFrameLen, WavSilenceRms)),

    "mm_phash_dedup" -> ((s, dir) =>
      MultimodalOps.perceptualHash(
        imageIo(s, dir))
        .groupBy("width", "height", "ahash")
        .agg(count(lit(1)).as("n_imgs"), min("media_id").as("first_media"))
        .filter(col("n_imgs") > 1)),

    // frame sampling: one row per stride offset with a frame checksum —
    // the explode shape a real decoder's seek plan uses.
    "mm_frames" -> ((s, dir) => {
      val media = MultimodalOps.packDocuments(table(s, dir, "documents"))
      media
        .select(col("media_id"),
          explode(MultimodalOps.frameOffsets(
            length(col("payload")).cast("long"), 256)).as("frame_offset"),
          col("payload"))
        .select(col("media_id"), col("frame_offset"),
          md5(expr("substring(payload, cast(frame_offset + 1 as int), 256)")).as("frame_md5"))
    }),

    // frame embedding + mean pool: each sampled frame gets a stub 8-dim
    // embedding (md5-derived — swap for a real vision encoder; the
    // aggregation shape is the real part), pooled to one doc vector.
    // Pooling sums INTEGER dims exactly and divides once at the end, so
    // the result is partition-order-independent — a double mean over
    // shuffled frame rows would not be.
    "mm_frame_embed" -> ((s, dir) => {
      val media = MultimodalOps.packDocuments(table(s, dir, "documents"))
      val frames = media
        .select(col("media_id"),
          explode(MultimodalOps.frameOffsets(
            length(col("payload")).cast("long"), 256)).as("frame_offset"),
          col("payload"))
        .select(col("media_id"),
          md5(expr("substring(payload, cast(frame_offset + 1 as int), 256)")).as("fm"))
      val dims = (0 until 8).map(j =>
        conv(substring(col("fm"), j * 4 + 1, 4), 16, 10).cast("long").as(s"d$j"))
      val sums = (0 until 8).map(j => sum(col(s"d$j")).as(s"s$j"))
      frames
        .select(col("media_id") +: dims: _*)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"), sums: _*)
        .select(col("media_id"), col("n_frames"),
          concat_ws(",", (0 until 8).map(j =>
            round(col(s"s$j") / col("n_frames") / lit(65535.0), 6)
              .cast("decimal(10,6)").cast("string")): _*)
            .as("doc_embedding"))
    }),

    // resize (thumbnail-crop stub): payload slice + halved dimension
    // metadata; surfaced as length+md5 so the oracle checks the slice
    // bytes exactly.
    "mm_resize" -> ((s, dir) =>
      MultimodalOps.resizeStub(
        MultimodalOps.packDocuments(table(s, dir, "documents")))
        .select(col("media_id"), col("width"), col("height"),
          length(col("thumb")).cast("long").as("thumb_len"),
          md5(col("thumb")).as("thumb_md5"))),

    // int8 quantization of embeddings (min/max affine) — the compression
    // step before a quantized ANN index; checksum column keeps the oracle
    // compact.
    "emb_quantize" -> ((s, dir) =>
      table(s, dir, "embeddings")
        .select(col("vec_id"),
          round(array_min(col("embedding")).cast("double"), 6).as("q_min"),
          round(array_max(col("embedding")).cast("double"), 6).as("q_max"),
          aggregate(
            transform(col("embedding"), x =>
              round((x.cast("double") - array_min(col("embedding")).cast("double")) /
                (array_max(col("embedding")).cast("double") -
                  array_min(col("embedding")).cast("double")) * 255).cast("long")),
            lit(0L), (acc, q) => acc + q).as("q_checksum"))),

    // -- collocations / novelty / diversity / preferences -----------------

    // PMI collocations over adjacent bigrams (Church & Hanks 1990) — the
    // phrase-vocabulary induction pass (word2vec's phrase step). One
    // corpus shuffle builds the bigram table; marginals + total derive
    // FROM it (vocab-bounded) and ride back as broadcasts.
    "text_pmi_bigrams" -> ((s, dir) =>
      TokenizerOps.bigramPmi(table(s, dir, "documents"), PmiMinCount)),

    // per-doc n-gram novelty — the memorization-risk score: fraction of
    // a doc's distinct bigrams occurring in no other document. Grams
    // deduplicate in-row first, so df is a plain count per gram.
    "text_novelty" -> ((s, dir) =>
      TextOps.noveltyFromGrams(docBigrams(s, dir).select("doc_id", "gram"))),

    // MMR diversity re-ranking over the dense top-20 of query vec 0 —
    // the serving-time de-dup that keeps a RAG context from burning
    // slots on near-copies. Greedy loop over the k-BOUNDED candidate
    // frame (1-row argmax per step, the kcenter contract); the score
    // surface is integer micro-units end to end.
    "ret_mmr_rerank" -> ((s, dir) =>
      RetrievalOps.mmrRerank(normed(s, dir), MmrQueryVec,
        MmrCandidates, MmrK, MmrLambda)),

    // implicit pairwise preferences from the event log: within each
    // user's (ts, event_id)-ordered stream, every consecutive a→b
    // transition (a≠b) is one "b beats a". One window shuffle, then the
    // aggregate collapses to ≤ items² rows.
    "pref_pairs" -> ((s, dir) =>
      PreferenceOps.pairsFromLog(table(s, dir, "events"))),

    // Bradley-Terry strengths via 3 in-engine MM iterations (Hunter
    // 2004) over the comparison counts — the reward-model fit on
    // preference data, with the same train-in-engine contract as the
    // LR classifier: per-round work is items²-bounded, only the weight
    // vector reaches the driver, the whole chain replays in the oracle.
    "pref_bt_strength" -> ((s, dir) =>
      PreferenceOps.btStrengths(
        PreferenceOps.pairsFromLog(table(s, dir, "events")), BtIters)),

    // corpus-trained interpolated Kneser-Ney bigram LM score — the
    // CCNet-style perplexity filter with CONTEXT: word salad with
    // plausible unigrams scores low because its transitions are rare.
    // All five KN statistics fold from one bigram aggregation.
    "text_kn_score" -> ((s, dir) =>
      TextOps.knBigramScores(table(s, dir, "documents"), KnDiscount)),

    // Rocchio nearest-prototype classification over the embedding
    // corpus: per-label exact-decimal-mean prototypes (one corpus
    // aggregation, the Lloyd's update grouped by label), prediction as
    // a scan-side argmin against the prototype literals, evaluated as
    // the labels² confusion matrix — the cheapest supervised baseline
    // an embedding column supports, sharing the audited k-means
    // arithmetic contract end to end.
    "sim_rocchio_confusion" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val protos = ModelCache.value("rocchio")(emb)(SimilarityOps.labelPrototypes(emb))
      emb.select(col("label").cast("long").as("label"),
          SimilarityOps.assignCell(protos, 6).as("predicted"))
        .groupBy("label", "predicted")
        .agg(count(lit(1)).as("n"))
    }),

    // split-conformal calibration over the nearest-prototype score: the
    // distribution-free "prediction SET with ≥90% coverage" guarantee a
    // point classifier (rocchio/NB/kNN above) cannot give — calibration
    // quantile q̂ by exact rank selection on a hash split, then the
    // coverage and mean-set-size audit on the held-out rest. Shares the
    // cached Rocchio prototypes.
    "quality_conformal" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val protos = ModelCache.value("rocchio")(emb)(SimilarityOps.labelPrototypes(emb))
      ClassifierOps.conformalEval(emb, protos)
    }),

    // per-source corpus data card: vocabulary size, token count, token
    // entropy (as the exact Σ c·ln c micro sum — H = ln N − S/(N·1e6)
    // derives in the consumer), and a micro-unit type/token ratio. One
    // corpus explode + two bounded aggregations; all-integer surface.
    "profile_source_entropy" -> ((s, dir) => {
      val c = srcTokCounts(s, dir)
      c.groupBy("source").agg(
        count(lit(1)).as("vocab_size"),
        sum("c").as("n_tokens"),
        sum(round(col("c") * log(col("c").cast("double")) * lit(1000000.0))
          .cast("long")).as("clogc_sum_micro"),
        floor(count(lit(1)).cast("double") * lit(1000000.0) / sum("c"))
          .cast("long").as("ttr_micro"))
    }),

    // soft dedup (SoftDeDup-style loss weighting): instead of DROPPING
    // near-duplicates, weight every doc by 1/cluster_size in exact
    // integer micro units — the training loss then sees each duplicate
    // GROUP once in expectation, preserving rare-dup signal hard
    // removal destroys. One window shuffle over the cluster assignment
    // (no join back); singletons keep weight 1e6.
    "mix_dedup_weights" -> ((s, dir) => {
      val cl = DedupOps.duplicateClusters(
        table(s, dir, "documents").select("doc_id"),
        minhashPairs(s, dir),
        driverMaxEdges = 1L << 20)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
      cl.withColumn("cluster_size", count(lit(1)).over(w))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          floor(lit(1000000.0) / col("cluster_size")).cast("long")
            .as("weight_micro"))
    }),

    // cross-source overlap matrix — the contamination data card: for
    // every source pair, how many distinct bigrams they share. The
    // per-gram source set is BOUNDED (≤ |sources|), so the in-row pair
    // expansion is the nearDupPairs single-branch shape: one gram-keyed
    // shuffle, pairs never touch corpus-scale data.
    "profile_source_overlap" -> ((s, dir) => {
      val gs = docBigrams(s, dir).select("source", "gram").distinct()
      gs.groupBy("gram")
        .agg(sort_array(collect_set(col("source"))).as("ss"))
        .filter(size(col("ss")) > 1)
        .select(explode(
          graft.expressions.BlockPairs.of(col("ss"),
            graft.expressions.PairScorer.AllPairs)).as("p"))
        .select(col("p.a").as("source_a"), col("p.b").as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_shared_grams"))
    }),

    // per-source distinct-shingle HLL registers — the MERGEABLE sketch
    // state for "how big will the MinHash index be per source" asked
    // before building it. max is algebraic, so the shuffle carries at
    // most 64 register partials per (source, partition) regardless of
    // corpus size; two slices' registers merge by the same groupBy/max
    // (SketchHllSpec proves merge ≡ whole).
    "profile_hll_registers" -> ((s, dir) =>
      SketchOps.hllRegisters(
        srcShingles(s, dir), Seq("source"), col("shingle"))),

    // the register table cashed in: raw-HLL estimate per source in exact
    // integer micro-units next to the exact distinct count and the
    // integer-ppm error — the accuracy data card for the sketch above.
    // The exact column is the part a 100 TB run would DROP (that's the
    // point of the sketch); it rides here so the error is measured, not
    // asserted.
    "profile_hll_shingles" -> ((s, dir) => {
      val sh = srcShingles(s, dir)
      val est = SketchOps.hllEstimate(
        SketchOps.hllRegisters(sh, Seq("source"), col("shingle")), Seq("source"))
      val exact = sh.groupBy("source")
        .agg(countDistinct("shingle").as("exact_distinct"))
      est.join(exact, Seq("source"))
        .withColumn("err_ppm",
          expr("abs(est_micro - exact_distinct * 1000000) div exact_distinct"))
    }),

    // KMV set algebra between two sources' shingle sets: estimated
    // |A|, |B|, |A∪B|, Jaccard, |A∩B| from two 128-minimum-value
    // synopses, each next to its exact companion — the sketch-level
    // answer to "how much does source B overlap what source A already
    // gave me" (crawl-dedup planning) with the estimator error
    // measured in the same row. All integer arithmetic.
    "profile_kmv_overlap" -> ((s, dir) => {
      def shOf(src: String) = srcShingles(s, dir)
        .filter(col("source") === src)
        .select(col("shingle").as("v"))
      SketchOps.kmvSetOps(shOf(KmvSrcA), shOf(KmvSrcB), KmvOverlapK)
    }),

    // paraphrase mining — the dedup layer near-dup Jaccard CANNOT see:
    // embedding-near pairs (semantic overlap) verified lexically; low
    // Jaccard + high cosine = paraphrase candidates (keep one for a
    // dedup policy, keep BOTH as a paraphrase-pair training example).
    // Composition of the shared artifacts: label-bucketed cosine pairs
    // × candidate-bounded shingle-set Jaccard.
    "dedup_paraphrase" -> ((s, dir) => {
      // pairs (pair-bounded) and the candidate shingle sets (endpoint-
      // bounded) are each read twice downstream — materialize both so the
      // embeddings corpus is scanned once and the documents corpus once
      // (8 planned scans collapse to 2)
      val pairs = tableFrame(s, dir, "embeddings", "paraphrasePairs", NearDupThreshold) { emb =>
        SimilarityOps.nearDupPairs(SimilarityOps.withNorm(emb), NearDupThreshold)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"), col("cos_sim"))
      }
      val docs = table(s, dir, "documents")
      val sets = ModelCache.frame("paraphraseSets")(pairs, docs) {
        DedupOps.candidateShingleSets(pairs, docs)
      }
      pairs
        .join(DedupOps.ngramJaccardSets(pairs, sets), Seq("doc_a", "doc_b"))
        .select(col("doc_a"), col("doc_b"), col("cos_sim"), col("jaccard"),
          (col("jaccard") < ParaJaccardMax).as("is_paraphrase"))
    }),

    // multinomial Naive Bayes over the full sparse token space — the
    // supervised baseline dense-feature LR cannot be: language/topic
    // classification from raw counts. One corpus aggregation trains the
    // (class, token) model; the smoothed decomposition keeps scoring an
    // INNER join (unseen tokens contribute ln(1)=0), so nothing
    // vocab×classes-dense ever materializes. Self-evaluated as the
    // classes² confusion matrix.
    "quality_nb_confusion" -> ((s, dir) =>
      ClassifierOps.naiveBayesConfusion(table(s, dir, "documents"))),

    // per-node triangle counts over the capped kNN dup graph — local
    // clustering density (how clique-like each doc's dup neighborhood
    // is). Degree-ordered orientation bounds the wedge join by the
    // oriented out-degree (O(√m)), the MapReduce triangle shape; the
    // capped edge set makes m itself ≤ k·n, so the whole count is
    // linear in the corpus where the raw threshold graph's m grows
    // superlinearly.
    "graph_triangles" -> ((s, dir) =>
      GraphOps.triangleCounts(
        knnEdgesTri(s, dir),
        "vec_a", "vec_b")),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per-lang
    // head/middle/tail terciles of the trained-LM score — the standard
    // "keep head+middle, drop tail" curation split, with the KN bigram
    // LM standing in for CCNet's 5-gram KenLM. The ranking key is the
    // integer-floored per-bigram NLL (exact micro longs; identical
    // doubles → identical ntile order), so the split replays exactly.
    "mix_perplexity_buckets" -> ((s, dir) => {
      val kn = TextOps.knBigramScores(table(s, dir, "documents"), KnDiscount)
      val scored = kn
        .join(table(s, dir, "documents").select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          floor((-col("kn_sum_micro")).cast("double") /
            col("n_bigrams").cast("double")).cast("long").as("nll_micro"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("nll_micro"), col("doc_id"))
      scored.withColumn("tercile", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("nll_micro"),
          when(col("tercile") === 1, "head")
            .when(col("tercile") === 2, "middle")
            .otherwise("tail").as("bucket"))
    }),

    // tokenizer fertility per source (subwords/word under the trained
    // BPE merges) — the vocab-fit data card: a source far above the
    // corpus mean is under-served by the merge table. Scan-side
    // segmentation + one |sources|-row aggregation; shares the
    // train-once merge cache.
    "text_bpe_fertility" -> ((s, dir) =>
      TokenizerOps.fertilityBySource(
        table(s, dir, "documents"),
        bpeMerges(s, dir))),

    // binary (sign-bit) embedding recall — the fifth compression axis
    // on the shared frontier: 64 floats → 8 bytes, similarity = two
    // XOR+popcounts; recall@k of Hamming top-k vs exact cosine.
    "sim_recall_binary" -> ((s, dir) => {
      val corpus = normed(s, dir)
      val qs = corpus.filter(col("vec_id") < IvfQueryCount)
      val exact = SimilarityOps.bruteTopK(corpus, qs, IvfK)
        .select(col("query_id"), col("neighbor_id"))
      val approx = SimilarityOps.binaryTopK(
        table(s, dir, "embeddings"),
        table(s, dir, "embeddings").filter(col("vec_id") < IvfQueryCount),
        IvfK)
        .select(col("query_id"), col("neighbor_id"))
      exact
        .join(broadcast(approx.withColumn("hit", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
          count(lit(1)).as("k"))
        .select(col("query_id"), col("n_hits"), col("k"),
          round(col("n_hits") / col("k").cast("double"), 6).as("recall"))
    }),

    // passage-level retrieval (MaxP): fixed-width overlapping chunks
    // are the scoring unit, each doc returned by its BEST passage with
    // the offset — the long-document standard that also hands the
    // serving layer an excerpt window.
    "ret_passage_topk" -> ((s, dir) =>
      RetrievalOps.bm25PassageTopK(table(s, dir, "documents"), Bm25Terms,
        width = 32, stride = 24, k = Bm25K)),

    // k-anonymity small-cell suppression over the (lang, source) quasi-
    // identifier grid — the release gate for published data cards:
    // cells under k get their count nulled, not published.
    "privacy_k_anon" -> ((s, dir) =>
      ProfileOps.kAnonymize(table(s, dir, "documents"),
        Seq("lang", "source"), KAnonK)),

    // distinct l-diversity over (event_type, day) cells with user_id as
    // the sensitive attribute — the homogeneity-attack guard k-anonymity
    // misses; one aggregation, suppression in the result expressions.
    "privacy_l_diversity" -> ((s, dir) =>
      ProfileOps.lDiversity(
        table(s, dir, "events")
          .select(col("event_type"),
            unix_micros(date_trunc("DAY", col("ts"))).as("day_us"),
            col("user_id")),
        Seq("event_type", "day_us"), "user_id", LDiversityL)),

    // Neyman optimal allocation executed in-engine: per-stratum rates
    // ∝ N_h·σ_h from one exact moment pass, integer draw thresholds,
    // and the deterministic sample counted in the same query — the
    // minimum-variance budget design for an eval-set build.
    "sample_neyman" -> ((s, dir) =>
      SampleOps.neymanAllocate(CoreQueries.table(s, dir, "events"),
        "event_type", "event_id", "value", 0.1)),

    // token burstiness (Church & Gale's clumping measure): the Fano
    // factor of per-doc counts over ALL docs (zeros included) — kept
    // an exact rational, fano_ppm = (N·Σc² − (Σc)²)·10⁶ div (N·Σc).
    // Function words sit near 1 (Poisson-like); topical/content words
    // run far above — the stopword-vs-content discriminator that needs
    // no stopword list.
    "text_burstiness" -> ((s, dir) => {
      val perDoc = docTokTf(s, dir)
        .filter(length(col("tok")) > 0)
        .select(col("tok"), col("doc_id"), col("tf").as("c"))
      val nDocs = table(s, dir, "documents").agg(count(lit(1)).as("nd"))
      perDoc.groupBy("tok")
        .agg(count(lit(1)).as("n_docs_with"), sum("c").as("total_c"),
          sum(col("c") * col("c")).as("sum_c2"))
        .crossJoin(broadcast(nDocs))
        .select(col("tok"), col("n_docs_with"), col("total_c"),
          expr("(nd * sum_c2 - total_c * total_c) * 1000000" +
            " div (nd * total_c)").as("fano_ppm"))
    }),

    // bounded symmetric TEXT drift between two sources' token
    // distributions — the JS-divergence companion to dq_psi_drift's
    // binned-numeric PSI; per-token terms integer-rounded before the
    // sum, so the one number is partition-exact.
    "profile_drift_js" -> ((s, dir) =>
      ProfileOps.jsDivergence(
        table(s, dir, "documents"), "source", KmvSrcA, KmvSrcB)),

    // the generalization route to k-anonymity: each doc releases at
    // the finest rung of (lang, source, fine-length) → (lang, source,
    // coarse-length) → (lang, coarse-length) → (lang) whose cell
    // reaches k — the keep-the-data alternative to suppression; the
    // output is the release census per ladder level.
    "privacy_generalize" -> ((s, dir) =>
      ProfileOps.kAnonGeneralize(
        table(s, dir, "documents"),
        Seq(
          Seq(col("lang"), col("source"), expr("n_chars div 50")),
          Seq(col("lang"), col("source"), expr("n_chars div 200")),
          Seq(col("lang"), expr("n_chars div 200")),
          Seq(col("lang"))),
        KAnonK)),

    // t-closeness over the same (lang, source) QI grid with the
    // n_chars bucket as the ORDERED sensitive attribute: the ordered
    // earth-mover distance to the global distribution in exact integer
    // micro-units — the skew guard k-anonymity and l-diversity both
    // miss (a cell can be large AND diverse yet lean on one end of the
    // sensitive range).
    "privacy_t_closeness" -> ((s, dir) =>
      ProfileOps.tCloseness(
        table(s, dir, "documents")
          .select(col("lang"), col("source"),
            expr("n_chars div 100").as("sens_bucket")),
        Seq("lang", "source"), "sens_bucket")),

    // pseudo-relevance feedback: BM25 → mine the top-5 results' most
    // frequent non-query terms → re-run with the expanded query. The
    // vocabulary-mismatch fix with zero trained models; the mining step
    // is semi-join-bounded to the feedback docs, so both passes keep
    // the scan-filtered posting-list shape.
    "ret_prf_expand" -> ((s, dir) =>
      RetrievalOps.prfExpandTopK(table(s, dir, "documents"), Bm25Terms,
        PrfFeedbackDocs, PrfExpandTerms, Bm25K)),

    // cluster-balanced sampling: equal per-cell quotas over the trained
    // k-means cells (the diversity-preserving alternative to uniform
    // sampling — rare clusters keep full representation while dominant
    // ones cap). Membership by the deterministic hash draw inside each
    // cell, so the sample is stable under any partitioning; shares the
    // train-once centroid cache.
    "sample_cluster_balanced" -> ((s, dir) => {
      val cells = SimilarityOps.kmeansCells(
        table(s, dir, "embeddings"), cachedCentroids(s, dir), 6)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cell")
        .orderBy(SampleOps.hashDraw(col("vec_id")), col("vec_id"))
      cells.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= ClusterSampleN)
        .select(col("vec_id"), col("cell"), col("rk"))
    }),

    // PCA top component trained in-engine (covariance aggregation +
    // power iteration over the dim²-bounded matrix) and the corpus
    // projected onto it — the TRAINED compression axis next to JL
    // (random) and Matryoshka (prefix); projection is a zero-shuffle
    // scan with the model as literals, per-dim micro-long terms summed
    // exactly. Shares the train-once cache.
    "sim_pca_project" -> ((s, dir) => {
      val (mu, v) = pcaModel(s, dir)
      SimilarityOps.pcaProject(table(s, dir, "embeddings"), mu, v)
    }),

    // the PCA axis's measured quality: the Rayleigh-quotient fraction
    // (vᵀSv/vᵀv)/trace(S) — how much corpus variance one projected
    // dimension keeps; the compression analog of the recall frontier.
    "sim_pca_var" -> ((s, dir) => {
      val (mu, v) = pcaModel(s, dir)
      // the scatter is itself a dim²-bounded trained artifact: memoize
      // it so the quotient never re-pays the corpus pass at serve time
      val scat = tableValue(s, dir, "embeddings", "pcaScatter", EmbDim, PcaIters)(
        SimilarityOps.pcaScatterVector(_, mu, EmbDim))
      SimilarityOps.pcaVarFromScatter(s, scat, EmbDim, v)
    }),

    // per-key exponential moving average over event time — the
    // recursive smoothing a window frame cannot express: one shuffle +
    // in-row fold (the K1 shape) with the hot-key guard, scale-0
    // micro-long state so the recursion replays in the oracle's
    // recursive CTE.
    "ts_ema" -> ((s, dir) =>
      TimeSeriesOps.emaSmooth(
        table(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value")),
        "user_id", "ts_us", "event_id", "value")),

    // which training sequence length wastes least? greedy no-split
    // packing per source at L ∈ {64, 128, 256}: sequences, padding,
    // fill ppm — the seq-len decision card, computed by an exact
    // integer fold (greedy reset-on-overflow has no honest prefix-sum
    // form; packing is per group, as real pipelines pack per shard).
    "mix_pack_efficiency" -> ((s, dir) =>
      MixOps.packEfficiency(
        table(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            TextOps.tokenCount(col("text")).as("tok")),
        "source", "doc_id", "tok", Seq(64, 128, 256))),

    // the smoothing family's completion: Holt-Winters level + trend +
    // 7-slot seasonal state per key — the forecast baseline when the
    // series has a cycle the EMA and Holt lines smear.
    "ts_holt_winters" -> ((s, dir) =>
      TimeSeriesOps.holtWintersSmooth(
        table(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value")),
        "user_id", "ts_us", "event_id", "value")),

    // randomness sanity per user: the Wald-Wolfowitz runs test over
    // the value sequence — trend/oscillation shows up as too-few /
    // too-many above-mean runs before any i.i.d. statistic is trusted.
    "ts_runs_test" -> ((s, dir) =>
      TimeSeriesOps.runsTest(
        table(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value")),
        "user_id", "ts_us", "event_id", "value")),

    // per-user autocorrelation profile at lags 1..3 — does yesterday
    // predict today, per key, before any smoother is trusted.
    "ts_acf" -> ((s, dir) =>
      TimeSeriesOps.acf(
        table(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value")),
        "user_id", "ts_us", "event_id", "value", maxLag = 3)),

    // Ljung-Box whiteness test per user over the same acf lags — the
    // residual-diagnostics gate for the smoothing family: Q from the
    // micro-rounded ρ_k, χ²(3) 5% decision where all lags exist.
    "ts_ljung_box" -> ((s, dir) =>
      TimeSeriesOps.ljungBox(
        table(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value")),
        "user_id", "ts_us", "event_id", "value", maxLag = 3, crit = LbCrit)),

    // exact two-sample KS drift test between two sources' length
    // distributions: the sup-CDF distance as pure integers, the 5%
    // critical value and reject flag riding along.
    "dq_ks_test" -> ((s, dir) =>
      ProfileOps.ksTest(table(s, dir, "documents"),
        "source", KmvSrcA, KmvSrcB, "n_chars")),

    // weekly-pattern data card per event_type: per-dow means + the
    // between-dow variance share (one-way ANOVA R²) — is the weekly
    // cycle real structure before anything fits to it.
    "ts_seasonality" -> ((s, dir) =>
      TimeSeriesOps.dowSeasonality(
        table(s, dir, "events").select(col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value")),
        "event_type", "ts_us", "value")),

    // onion decomposition of the cosine graph: kCore's peel with the
    // removal round recorded — layer = how deep into the fringe a node
    // sits, 0 = the surviving core. On the capped kNN edge artifact,
    // same rationale as graph_kcore.
    "graph_onion" -> ((s, dir) =>
      GraphOps.onionLayers(knnEdgesTri(s, dir),
        "vec_a", "vec_b", KCoreK, KCoreRounds)),

    // CUSUM changepoint per user over daily event counts: where the
    // cumulative deviation from the user's own mean peaks — the
    // "behavior changed HERE" detector beside ts_anomaly's pointwise
    // outliers. Exact integers throughout (the mean's division is
    // scaled out), deterministic earliest-tie argmax.
    "ts_changepoint" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .groupBy(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("c"))
      TimeSeriesOps.cusumChangepoint(daily, "user_id", "day", "c")
    }),

    // Holt linear smoothing — level + trend states per key: the
    // trend-aware baseline ts_ema can't give (an EMA always lags a
    // ramp; Holt's forecast l+b tracks it). Same one-shuffle fold,
    // two-field accumulator, engine-exact micro arithmetic.
    "ts_holt" -> ((s, dir) =>
      TimeSeriesOps.holtSmooth(
        table(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value")),
        "user_id", "ts_us", "event_id", "value")),

    // per-key rolling z-score anomaly detection over a trailing window
    // of 20 prior observations — the frame-expressible companion to
    // ts_ema's recursion: one shuffle, window sums (exact decimals),
    // one identically-ordered double ratio, micro-rounded; a value is
    // never scored against a baseline that includes itself.
    "ts_anomaly" -> ((s, dir) =>
      TimeSeriesOps.rollingZScore(
        table(s, dir, "events"), "user_id", "ts", "event_id", "value")),

    // community detection by deterministic SYNCHRONOUS label
    // propagation over the capped kNN dup graph — the coarse community
    // layer above exact connected components: every round one
    // co-partitioned edges⋈labels join + per-node majority argmax
    // (count DESC, label ASC). Per-round cost is linear in |E| ≤ k·n
    // on the capped edge set.
    "graph_label_prop" -> ((s, dir) =>
      GraphOps.labelPropagation(
        knnEdgesTri(s, dir),
        "vec_a", "vec_b", LabelPropIters)),

    // hubs-link-hubs or hubs-link-leaves? degree assortativity of the
    // capped kNN dup graph — negative r is the canonical-center star
    // shape near-dup clusters produce (out-arcs are capped at k but
    // in-degree is not, so hub structure still shows). On the capped
    // edge set like the rest of the graph family: a label-cell pair
    // surface OOMs a 16 GiB ×10 run inside the pair explode — the
    // measured form of "fixed cells go quadratic".
    "graph_assortativity" -> ((s, dir) =>
      GraphOps.degreeAssortativity(
        knnEdgesTri(s, dir),
        "vec_a", "vec_b")),

    // are the propagated communities real? Newman-Girvan modularity
    // terms per community as EXACT integer rationals (q_num/q_den —
    // signed division left to the consumer; the trunc-vs-floor
    // division trap stays out of the hash surface). Rides the shared
    // capped kNN edge set — already cached, and the
    // label source is the SAME graph graph_label_prop reads.
    "graph_modularity" -> ((s, dir) => {
      val edges = knnEdgesTri(s, dir)
      val labels = GraphOps.labelPropagation(
        edges, "vec_a", "vec_b", LabelPropIters)
      GraphOps.modularityTerms(edges, "vec_a", "vec_b", labels)
    }),

    // kNN classifier evaluation — the non-parametric member of the
    // model family (LR / NB / Rocchio / kNN): leave-one-out top-k
    // cosine neighbors for a FIXED-COUNT query stripe, majority label
    // vote (count DESC, label ASC), rolled to the labels² confusion
    // matrix. One corpus pass against the broadcast query stripe; the
    // vote and confusion are query-bounded aggregations. The fixed
    // count makes the whole eval linear in the corpus (queries do not
    // grow with n — the id-stride form was quadratic by design).
    "quality_knn_confusion" -> ((s, dir) => {
      val corpus = normed(s, dir)
      ClassifierOps.knnConfusion(corpus,
        corpus.filter(col("vec_id") < KnnQueryCount), KnnK)
    }),

    // DBSCAN over the cosine neighbor graph — the density layer next to
    // the centroid family: core (≥ minPts neighbors), clusters = core
    // components via the shared size-switched resolution, border joins
    // its min core neighbor's cluster, noise gets −1. All dup-graph-
    // sized except the one corpus anti-join that finds the noise.
    // edges come from the LSH-bucket candidate generator (the scale
    // path — linear candidate volume), so this is LSH-approximate
    // DBSCAN: a missed candidate edge can split a cluster, never
    // invent one. The label-cell graph remains as dedup_embedding.
    "sim_dbscan" -> ((s, dir) =>
      SimilarityOps.dbscan(
        table(s, dir, "embeddings"),
        lshPairsTri(s, dir),
        DbscanMinPts)),

    // bounded multi-source BFS over the same cosine graph — hop
    // distance from the seed set (contamination blast radius /
    // steps-to-curated-seed): per hop one co-partitioned
    // edges⋈frontier join + a visited anti-join, each node expanded
    // exactly once; the oracle replays it as a recursive CTE.
    // the cosine graph's edges come from the LSH-bucket candidate
    // generator: candidate volume is linear in the corpus (auto-sized
    // buckets) where the label-cell graph's was measured quadratic at
    // ×10. BFS semantics are the threshold graph's; the graph is its
    // LSH-recall subgraph.
    "graph_bfs_hops" -> ((s, dir) =>
      GraphOps.bfsHops(
        lshPairsTri(s, dir),
        "vec_a", "vec_b",
        table(s, dir, "embeddings")
          .filter(pmod(col("vec_id"), lit(BfsSourceMod)) === 0)
          .select(col("vec_id")),
        BfsMaxHops)),

    // embedding-space outlier scoring: full squared L2 distance to the
    // nearest trained centroid (the |x|² term the assignment drops,
    // restored) — the OOD filter for encoder failures / novel inputs;
    // zero-shuffle scan, the cached centroids passed by reference.
    "sim_ood_distance" -> ((s, dir) =>
      SimilarityOps.oodDistance(
        table(s, dir, "embeddings"), cachedCentroids(s, dir))),

    // sparse TF-IDF cosine similarity join — document similarity with
    // NO embeddings: inverted-index partial products over max_df-pruned
    // shingles (posting lists ≤ maxDf ⇒ per-shingle pair expansion
    // ≤ maxDf² — bounded regardless of corpus size; the all-pairs join
    // never exists). Decimal-exact dots/norms, micro-integer cosine.
    // The pair surface is memoized: the dump and its
    // top-k twin read exactly this frame. SCALE NOTE: this dump's
    // volume is |vocab|·maxDf²-bounded but |vocab| grows with the
    // corpus — at 100× consume `sim_sparse_topk` instead.
    "sim_sparse_cosine" -> ((s, dir) => sparsePairsShared(s, dir)),

    // the OUTPUT-BOUNDED sparse-cosine surface: the same posting-list
    // pair chain, capped to each doc's k best partners — ≤ n·k rows at
    // any scale, where the uncapped dump is the suite's largest
    // non-instrument ×10 row (5.90 s / 3.54×:
    // join volume is |vocab|·maxDf² and |vocab| grows ~linearly with
    // the corpus). The bounded CONSUMER surface for the text-similarity
    // family, exactly as dedup_jaro_topk is to dedup_jaro and
    // dedup_embedding_lsh_topk to dedup_embedding_lsh.
    "sim_sparse_topk" -> ((s, dir) =>
      DedupOps.topKPerDoc(sparsePairsShared(s, dir), "cos_micro",
        SparseTopKPerDoc)),

    // pairwise Cohen's κ between the weak-supervision labeling
    // functions — the LF diagnostic (κ≈1 = redundant heuristic, κ≈0 =
    // independent signal): every pair's sufficient statistics from ONE
    // corpus aggregation, κ via exact-integer inputs + integer floor.
    "weak_kappa" -> ((s, dir) => {
      val d = docsTok(s, dir).filter(size(col("toks")) > 0)
      WeakLabelOps.pairKappa(d, WeakLabelOps.englishLfs(col("toks")))
    }),

    // EXACT global median with no global sort: two-phase selection
    // (count/min/max pass → bounded fixed-width histogram → sort only
    // the 1/nBins bin holding rank k) — the selection companion to
    // w6_global_cumsum's binned prefix sums; at 100 TB no stage sees
    // more than one bin's rows.
    "a14_exact_median" -> ((s, dir) =>
      PrefixOps.exactKth(table(s, dir, "events"), "value")),

    // Zipf slope per source — the degenerate-source data card (natural
    // language runs ≈ −1; templates flatter, constant streams steeper):
    // OLS over micro-ln (rank, frequency) with exact decimal moments.
    "profile_zipf_slope" -> ((s, dir) =>
      ProfileOps.zipfSlope(table(s, dir, "documents"))),

    // measured LSH recall: the fraction of TRUE jaccard≥t pairs the
    // banded candidate generation recovers, plus the candidate volume
    // paid for it — the dedup analog of the sim_recall_* frontier, and
    // the number that justifies (or indicts) the band configuration.
    // Truth comes from the EXACT set-similarity join (PPJoin — zero
    // false negatives without all-pairs), so the measurement itself
    // scales.
    "dedup_lsh_recall" -> ((s, dir) => {
      val truth = tableFrame(s, dir, "documents", "setJoinTruth", SetJoinThreshold)(
        DedupOps.similarityJoinExact(_, SetJoinThreshold).select("doc_a", "doc_b"))
      val cand = minhashPairs(s, dir)
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("n_hit")))
        .select(col("n_true"), col("n_cand"), col("n_hit"),
          when(col("n_true") === 0, 0L)
            .otherwise(floor(col("n_hit").cast("double") * lit(1000000.0) /
              col("n_true").cast("double")).cast("long"))
            .as("recall_micro"))
    }),

    // curriculum ordering: a deterministic GLOBAL training order that
    // schedules clean (head-perplexity) docs first and shuffles within
    // each tercile — composed from the KN quality terciles, the seeded
    // md5 draw, and the binned global row number (no single-partition
    // sort anywhere).
    "mix_curriculum_order" -> ((s, dir) => {
      val kn = TextOps.knBigramScores(table(s, dir, "documents"), KnDiscount)
      val scored = kn
        .join(table(s, dir, "documents").select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          floor((-col("kn_sum_micro")).cast("double") /
            col("n_bigrams").cast("double")).cast("long").as("nll_micro"))
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("nll_micro"), col("doc_id"))
      // one short row per doc, materialized because globalRowNumber
      // reads its input twice (the bin-boundary quantile probe + the
      // window pass) — unmaterialized, each read replays the whole KN
      // scoring join (measured 3.50 → 1.9s at sf0.1)
      val keyed = tableFrame(s, dir, "documents", "curriculumKeys", KnDiscount) { _ =>
        scored.withColumn("tercile", ntile(3).over(wl))
          .select(col("doc_id"), col("lang"),
            col("tercile").cast("long").as("tercile"),
            (col("tercile").cast("long") * lit(4294967296L) +
              graft.expressions.Md5PrefixLong.draw(concat(lit("42:"),
                col("doc_id").cast("string")), 8))
              .as("ck"))
      }
      PrefixOps.globalRowNumber(keyed, "ck", Seq("doc_id"), "pos")
        .select(col("doc_id"), col("lang"), col("tercile"), col("pos"))
    }),

    // size-balanced shard assignment: docs ranked globally by token
    // count (desc, id tiebreak) through the two-phase binned rank (no
    // global sort), dealt round-robin into ShardBalanceK shards — the
    // deterministic LPT-style deal that keeps per-shard token budgets
    // near-equal so no trainer shard finishes early. Per-shard doc and
    // token totals are the output data card.
    "mix_shard_balance" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("tok"))
        .withColumn("neg", -col("tok"))
      PrefixOps.globalRowNumber(docs, "neg", Seq("doc_id"), "pos")
        .withColumn("shard", pmod(col("pos") - 1, lit(ShardBalanceK.toLong)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("tok_sum"))
    }),

    // order- and partitioning-invariant dataset fingerprint per source:
    // Σ over rows of a 48-bit md5 slice of the canonical row string,
    // mod 2^48 (DECIMAL sum — exact at any row count). The
    // dataset-versioning primitive: two ingest runs disagree on ANY
    // row field → different checksum; equal data in any order/layout →
    // equal checksum. One map-side-combined aggregation, zero joins.
    "profile_checksum" -> ((s, dir) =>
      ProfileOps.datasetChecksum(table(s, dir, "documents"), "source",
        Seq("doc_id", "lang", "n_chars", "text"))),

    // mutual information between language and source — the categorical
    // dependence card ("does source determine language?") as per-cell
    // e-12 terms; margins derive from the one cell aggregation.
    "profile_mutual_info" -> ((s, dir) =>
      StatsOps.mutualInfoCells(table(s, dir, "documents"), "lang", "source")),

    // per-source Gini of the token-frequency distribution — the
    // vocabulary-concentration card (templated sources skew high). Reads
    // the shared (source, tok, c) materialization; the rank window runs
    // over the vocab spine, never the corpus.
    "profile_gini" -> ((s, dir) =>
      StatsOps.giniCard(srcTokCounts(s, dir), "source", "tok", "c")),

    // Theil-Sen robust slope per user — the outlier-proof drift
    // estimator: one shuffle to sorted in-row point arrays, the O(m²)
    // pair expansion and lower-median pick entirely in-row.
    "ts_theil_sen" -> ((s, dir) =>
      TimeSeriesOps.theilSen(
        table(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("value")),
        "user_id", "ts_us", "value")),

    // SAX symbolization per user — series → 4-segment, 4-symbol words
    // (motif/dedup/anomaly lookup on series as plain strings). Two
    // aligned shuffles on user_id, exact decimal moments, one word
    // concat from an in-row sorted segment array.
    "ts_sax" -> ((s, dir) =>
      TimeSeriesOps.sax(
        table(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("value")),
        "user_id", "ts_us", "event_id", "value", SaxSegments)),

    // ROUGE-1/2 over adjacent doc pairs — the clipped-n-gram-overlap
    // summarization metric engine-side: per-order TF relations, one
    // co-keyed (doc+1, gram) equi-join each, micro-rounded P/R/F.
    "eval_rouge" -> ((s, dir) =>
      TextOps.rougeAdjacent(docsTok(s, dir).select(col("doc_id"), col("toks")))),

    // BLEU-4 over the same adjacent (cand, ref) pairs — the clipped
    // n-gram PRECISION metric with brevity penalty, beside ROUGE's
    // recall orientation; zero-match pairs surface as bleu 0 (the
    // unsmoothed corpus definition).
    "eval_bleu" -> ((s, dir) =>
      TextOps.bleuAdjacent(docsTok(s, dir).select(col("doc_id"), col("toks")))),

    // distinct-1/distinct-2 diversity card per source — the degenerate-
    // generation screen (low distinct-n = repetitive/templated text).
    // Unigrams read the shared (source, tok, c) materialization.
    "text_distinct_n" -> ((s, dir) => {
      val uni = srcTokCounts(s, dir).groupBy("source")
        .agg(sum("c").as("n_uni"), count(lit(1)).as("n_uni_distinct"))
      val bi = docsTok(s, dir)
        .select(col("source"),
          explode(TextOps.shingles(col("toks"), 2)).as("g"))
        .groupBy("source", "g").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n_bi"), count(lit(1)).as("n_bi_distinct"))
      def micro(num: org.apache.spark.sql.Column,
          den: org.apache.spark.sql.Column) =
        when(den > 0, round(num.cast("double") / den * lit(1000000.0)))
          .otherwise(lit(0.0)).cast("long")
      uni.join(bi, Seq("source"), "left")
        .na.fill(0L, Seq("n_bi", "n_bi_distinct"))
        .select(col("source"), col("n_uni"), col("n_uni_distinct"),
          micro(col("n_uni_distinct"), col("n_uni")).as("d1_micro"),
          col("n_bi"), col("n_bi_distinct"),
          micro(col("n_bi_distinct"), col("n_bi")).as("d2_micro"))
    }),

    // weighted reservoir (A-ES): exactly ReservoirK docs per source,
    // inclusion ∝ n_chars, deterministic from the doc_id hash — the
    // audit-sample primitive ("show me k docs per source, longer docs
    // more likely") with a replayable draw.
    "sample_weighted_reservoir" -> ((s, dir) =>
      SampleOps.weightedReservoir(table(s, dir, "documents"),
        "doc_id", "source", col("n_chars").cast("double"), ReservoirK)),

    // two-term positional proximity: min token gap + exact-phrase hits
    // per doc containing both terms, top-ProximityK. The position
    // relation prunes to the two terms at the scan; the pair expansion
    // is per-doc tf×tf, never corpus-sized.
    "ret_proximity" -> ((s, dir) =>
      RetrievalOps.proximityPair(table(s, dir, "documents"),
        ProximityTermA, ProximityTermB, ProximityK)),

    // ROUGE-L over the same adjacent pairs — LCS P/R/F via the in-row
    // rolling-row DP; the order-sensitive twin of eval_rouge's clipped
    // n-gram overlap.
    "eval_rouge_l" -> ((s, dir) =>
      TextOps.rougeL(docsTok(s, dir).select(col("doc_id"), col("toks")))),

    // Fellegi-Sunter linkage weights — the calibration layer of the
    // record-linkage stack (blocking → comparison → WEIGHTS →
    // clustering → survivorship): per field, m/u agreement rates over
    // self-labeled matched (exact-dup → canonical) and unmatched
    // (fixed-shift derangement) pairs, and the ln(m/u) match weight.
    "dedup_fs_weights" -> ((s, dir) =>
      DedupOps.linkageWeights(table(s, dir, "documents"),
        Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
            org.apache.spark.sql.Column)](
          "lang" -> ((a, b) => a.getField("lang") === b.getField("lang")),
          "source" -> ((a, b) => a.getField("source") === b.getField("source")),
          "len_bucket" -> ((a, b) =>
            floor(a.getField("n_chars").cast("double") / lit(100.0)) ===
              floor(b.getField("n_chars").cast("double") / lit(100.0)))),
        FsOffset)),

    // Mann-Whitney rank-sum between two sources' length distributions —
    // the nonparametric location-shift test beside dq_ks_test's
    // anywhere-in-the-CDF distance; doubled tie-averaged ranks from the
    // distinct-value spine keep the U statistic pure-integer.
    "dq_mann_whitney" -> ((s, dir) =>
      StatsOps.mannWhitney(table(s, dir, "documents"),
        "source", KmvSrcA, KmvSrcB, "n_chars")),

    // BFS over the DEGREE-CAPPED kNN graph — the default production
    // BFS surface: candidates from the LSH-bucket generator (linear
    // candidate volume), then top-BfsKnnK arcs per node
    // (|E| ≤ k·n), so EVERY stage of the chain is linear in the
    // corpus. graph_bfs_hops remains the threshold-graph diagnostic.
    "graph_bfs_knn" -> ((s, dir) =>
      GraphOps.bfsHops(
        knnArcsTri(s, dir),
        "src", "dst",
        table(s, dir, "embeddings")
          .filter(pmod(col("vec_id"), lit(BfsSourceMod)) === 0)
          .select(col("vec_id")),
        BfsMaxHops)),

    // query-likelihood retrieval with Dirichlet smoothing (Zhai &
    // Lafferty 2001) — the language-modeling ranker beside BM25's
    // tf-idf family; same posting-list scan shape, same query terms,
    // so the two rankers are directly comparable.
    "ret_ql_dirichlet" -> ((s, dir) =>
      RetrievalOps.qlDirichletTopK(
        table(s, dir, "documents"), Bm25Terms, Bm25K)),

    // UNSUPERVISED Fellegi-Sunter fit: EM over agreement-pattern
    // counts (Winkler 1988) — the estimator used when no labels exist,
    // beside dedup_fs_weights' self-labeled rates. The candidate mix
    // is what a real linkage run generates: MinHash candidate pairs
    // (the match-class carrier) plus the fixed-shift derangement (the
    // background). The corpus reduces to ≤2^F pattern rows in one
    // aggregation; EM iterates on that bounded table with
    // 12dp-rounded clamped arithmetic the oracle replays iteration
    // for iteration.
    "dedup_fs_em" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val mh = minhashPairs(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val ids = docs.select(col("doc_id"), md5(col("text")).as("h"))
      val shift = ids
        .select(col("doc_id").as("a"), col("h").as("__ma"),
          (col("doc_id") + FsOffset).as("b"))
        .join(ids.select(col("doc_id").as("b"), col("h").as("__mb")),
          Seq("b"))
        .filter(col("__ma") =!= col("__mb"))
        .select(col("a"), col("b"))
      DedupOps.linkageWeightsEm(docs,
        Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
            org.apache.spark.sql.Column)](
          "lang" -> ((a, b) => a.getField("lang") === b.getField("lang")),
          "source" -> ((a, b) => a.getField("source") === b.getField("source")),
          "len_bucket" -> ((a, b) =>
            floor(a.getField("n_chars").cast("double") / lit(100.0)) ===
              floor(b.getField("n_chars").cast("double") / lit(100.0)))),
        mh.unionAll(shift), 20)
    }),

    // DP Laplace release of the (lang, source) count card — seeded
    // inverse-CDF noise at sensitivity 1 (see ProfileOps.dpCounts'
    // loud determinism caveat: the seed is the replayability contract,
    // production uses a secret salt).
    "privacy_dp_counts" -> ((s, dir) =>
      ProfileOps.dpCounts(table(s, dir, "documents"),
        Seq("lang", "source"))),

    // personalized PageRank over the default graph surface (LSH
    // candidates → degree-capped kNN arcs): graph-proximity to the
    // curated seed set — the seed-expansion score. Same seeds as BFS.
    "graph_ppr" -> ((s, dir) =>
      GraphOps.personalizedPagerank(
        knnArcsTri(s, dir),
        "src", "dst",
        table(s, dir, "embeddings")
          .filter(pmod(col("vec_id"), lit(BfsSourceMod)) === 0)
          .select(col("vec_id")))),

    // Heaps-law vocabulary growth V(N) = K·N^β fitted at 32 doc-id
    // checkpoints — the synthetic-corpus detector and tokenizer-vocab
    // extrapolator next to profile_zipf_slope.
    "text_heaps_law" -> ((s, dir) =>
      ProfileOps.heapsLaw(table(s, dir, "documents"))),

    // quantile normalization of per-source quality scores onto the
    // pooled distribution (Bolstad et al. 2003) — "top 30% quality"
    // means the same thing in every source even when raw scales
    // disagree; the harmonization step before any cross-source mixing
    // rule reads a score column. 100-bucket resolution, pure integer
    // rank arithmetic.
    "mix_quantile_norm" -> ((s, dir) =>
      MixOps.quantileNormalize(table(s, dir, "documents"),
        "source", "n_chars", "doc_id")),

    // Simpson's-paradox card: does the pooled src0-vs-src1 length
    // comparison reverse inside any language stratum? The aggregation
    // trap every cross-source data card risks, surfaced as a flag.
    "dq_simpson" -> ((s, dir) =>
      StatsOps.simpsonCard(table(s, dir, "documents"),
        "lang", "source", KmvSrcA, KmvSrcB, "n_chars")),

    // expected-calibration-error bins for the in-engine LR classifier:
    // the same logit-range bins as quality_lr_calibration, plus the
    // model's own probability (sigmoid of the fixed-point logit,
    // rounded per row and summed in DECIMAL — order-independent), so
    // gap_micro = |observed − predicted| per bin and
    // Σ gap·n / N IS the ECE. frac_pos tells calibration DIRECTION;
    // this card prices it.
    "quality_ece" -> ((s, dir) => {
      val scored = lrScored(s, dir)
      val prob = round(lit(1.0) / (lit(1.0) +
        exp(col("logit_fp").cast("double") / lit(-1000000.0))), 6)
      val range = scored.agg(min(col("logit_fp")).as("mn"),
        max(col("logit_fp")).as("mx"))
      scored.crossJoin(broadcast(range))
        .select(
          when(col("mx") > col("mn"),
            least(floor(round((col("logit_fp") - col("mn")).cast("double") /
              (col("mx") - col("mn")).cast("double"), 6) * 10), lit(9.0)))
            .otherwise(lit(0.0)).cast("long").as("bin"),
          col("y"), prob.cast("decimal(18,6)").as("p6"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          round(sum(col("y")) / count(lit(1)).cast("double") * lit(1000000.0))
            .cast("long").as("frac_pos_micro"),
          round(sum(col("p6")).cast("double") / count(lit(1)).cast("double")
            * lit(1000000.0)).cast("long").as("conf_micro"))
        .withColumn("gap_micro",
          abs(col("frac_pos_micro") - col("conf_micro")))
    }),

    // proper scoring rules for the LR classifier: Brier (mean squared
    // probability error) and log-loss (mean negative log-likelihood,
    // nats) — the single-number calibration+sharpness prices next to
    // quality_ece's per-bin diagram. Per-row terms round to 12dp and
    // sum in DECIMAL (order-independent); probabilities clamp to
    // [1e-6, 1-1e-6] so a saturated sigmoid cannot emit ln(0).
    "quality_brier" -> ((s, dir) => {
      val scored = lrScored(s, dir)
      val p = round(lit(1.0) / (lit(1.0) +
        exp(col("logit_fp").cast("double") / lit(-1000000.0))), 6)
      val pc = least(greatest(p, lit(0.000001)), lit(0.999999))
      val yd = col("y").cast("double")
      val bt = round((p - yd) * (p - yd), 12).cast("decimal(28,12)")
      val lt = round(lit(0.0) - (yd * log(pc) +
        (lit(1.0) - yd) * log(lit(1.0) - pc)), 12).cast("decimal(28,12)")
      scored.select(bt.as("bt"), lt.as("lt"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bt")).cast("double") / count(lit(1)).cast("double")
            * lit(1000000.0)).cast("long").as("brier_micro"),
          round(sum(col("lt")).cast("double") / count(lit(1)).cast("double")
            * lit(1000000.0)).cast("long").as("log_loss_micro"))
    }),

    // top-K vocabulary coverage per source — the vocab-size planning
    // card: what fraction of token occurrences (and of distinct
    // types) would a K-entry vocabulary cover, per source. Token
    // spine + one broadcast vocab semi-flag, exact integer ppm.
    "text_vocab_coverage" -> ((s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(VocabCoverageK)
        .select(col("tok"), lit(1L).as("__in"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"),
          count_distinct(col("tok")).as("n_types"),
          count_distinct(when(col("__in").isNull, col("tok"))).as("n_oov_types"))
        .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
    })
  )
}
