package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.expressions.BlockPairs
import graft.expressions.PairScorer.{AllPairs, PrefixBound}

/** Deduplication operators for LLM training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard verification — all shuffle-
  * bounded (never an unbucketed O(n²) self-join; candidate generation goes
  * through LSH buckets, so at 100 TB the quadratic blow-up is confined to
  * same-bucket groups).
  */
object DedupOps {

  /** Exact dedup: group by content hash. One shuffle on a 32-byte key —
    * the canonical doc is the min id, `n_copies` drives the keep/drop
    * decision downstream.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
      .groupBy("text_md5")
      .agg(min("doc_id").as("canonical_doc_id"), count(lit(1)).as("n_copies"))

  /** LSH structure: `Bands` bands of `RowsPerBand` minhashes each. Band
    * width 2 (vs 1) drops false-candidate pairs quadratically — measured
    * 29× fewer candidates on the sf0.1 corpus — which is what keeps the
    * downstream pair join bounded at 100 TB.
    */
  val Bands = 4
  val RowsPerBand = 2
  val MinHashes: Int = Bands * RowsPerBand

  /** doc_id → exploded shingles, duplicates kept (no shuffle — explode
    * stays in the scan stage).
    *
    * Built from explode(index range) + element_at/concat_ws instead of
    * TextOps.shingles' transform/slice/array_join: higher-order-function
    * lambdas are interpreted per-row in Spark, while this form stays in
    * whole-stage codegen — measured ~2.5× faster shingle generation.
    */
  def shingledAll(docs: DataFrame): DataFrame = {
    val k = TextOps.ShingleK
    val toks = TextOps.tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(when(size(col("toks")) >= k,
          sequence(lit(1), size(col("toks")) - (k - 1)))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", (0 until k).map(j => element_at(col("toks"), col("i") + j)): _*)
          .as("shingle"))
  }

  /** Distinct (doc_id, shingle) set — required where shingles are
    * COUNTED (the Jaccard |A∩B| join). The MinHash signature's per-lane
    * `min` is duplicate-insensitive, so feed it [[shingledAll]] instead:
    * that drops a full corpus-sized distinct shuffle from the LSH path
    * (the explode then flows straight into the partial min aggregate).
    */
  def shingled(docs: DataFrame): DataFrame =
    shingledAll(docs).distinct()

  /** MinHash signature: per hash lane i, min over shingles of an
    * 8-hex-char slice of md5("d:"+shingle) — `MinHashes` permutation
    * approximations in ONE aggregation pass over a projection that
    * materializes the per-row digests once. Each band's `RowsPerBand`
    * lane-minima then collapse to a single band key via md5(concat).
    */
  def minhashSignature(sh: DataFrame): DataFrame =
    minhashSignatureAt(sh, Bands)

  /** [[minhashSignature]] at an arbitrary band count — the recall knob
    * [[minhashPairsAtRecall]] turns. Lane i's hash depends only on i
    * (digest i/4, slice i%4), so band j's key is BIT-IDENTICAL at every
    * band count ≥ j+1: growing the signature ADDS bands, it never
    * reshuffles the ones already priced — the property the calibration
    * logic (and the oracle's min-band replay) relies on.
    */
  def minhashSignatureAt(sh: DataFrame, bands: Int): DataFrame = {
    val minHashes = bands * RowsPerBand
    require(bands >= 1 && minHashes % 4 == 0,
      s"bands·$RowsPerBand lanes must pack into 4-lane md5 digests, " +
        s"got $bands bands")
    // each digest yields four 8-hex-char (32-bit) lanes: a quarter of
    // the md5 calls (MessageDigest instantiation dominated the
    // aggregation), and 2^32 is ample — collisions matter per bucket
    val digests = (0 until minHashes / 4).map(d =>
      md5(concat(lit(s"$d:"), col("shingle"))).as(s"m$d"))
    val projected = sh.select(col("doc_id") +: digests: _*)
    val aggs = (0 until minHashes).map { i =>
      val digest = i / 4
      val pos = (i % 4) * 8 + 1
      min(substring(col(s"m$digest"), pos, 8)).as(s"h$i")
    }
    val sig = projected.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}"))
      md5(concat(parts: _*)).as(s"b$b")
    }
    sig.select(col("doc_id") +: bandCols: _*)
  }

  /** Signature → long (doc_id, band, h) table. */
  def lshBands(sig: DataFrame): DataFrame = lshBandsAt(sig, Bands)

  /** [[lshBands]] for a signature built at `bands` bands. */
  def lshBandsAt(sig: DataFrame, bands: Int): DataFrame = {
    val stackArgs = (0 until bands)
      .map(b => s"$b, b$b").mkString(s"stack($bands, ", ", ", ") as (band, h)")
    sig.select(col("doc_id"), expr(stackArgs))
  }

  /** LSH buckets with >1 member — the scalable dedup summary (bucket
    * sizes stay small, so downstream pair generation is bounded).
    */
  def lshBuckets(bands: DataFrame): DataFrame =
    bands
      .groupBy("band", "h")
      .agg(min("doc_id").as("canonical_doc_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)

  /** Ceiling on one bucket's member count in an in-row pair expansion:
    * a bucket of m members expands to m²/2 pairs INSIDE one row, so a
    * degenerate bucket (an empty-text cluster, a boilerplate shingle
    * set, a constant embedding) OOMs a single task at scale no matter
    * how healthy the rest of the job is. 10k members ≈ 50M pair structs
    * ≈ the edge of one task's memory; beyond it, fail LOUDLY with the
    * bucket named (the SessionOps hot-key / F3 quarantine pattern) —
    * the fix is upstream (drop the degenerate key), not a bigger heap.
    * Measured, not hypothetical: the 10× scale run OOMed exactly here
    * when synthetic copies made every embedding 10-way duplicated.
    */
  val DefaultMaxBucket: Int = 10000

  /** Candidate near-dup pairs: docs sharing any band bucket.
    *
    * Deliberately NOT a self-join — a self-join plans the whole
    * shingle→signature pipeline twice (Spark broadcasts one side rather
    * than reuse the exchange; at 100 TB that is two corpus scans).
    * Instead: one aggregation collects each bucket's doc ids, and pairs
    * expand from the (tiny, skew-bounded) in-bucket lists — bounded by
    * [[DefaultMaxBucket]], above which the bucket raise_errors by name.
    */
  def candidatePairs(bands: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    bands
      .groupBy("band", "h")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(graft.ops.SessionOps.hotKeyGuarded(
        col("ids"), size(col("ids")).cast("long"),
        concat(col("band").cast("string"), lit(":"), col("h").cast("string")),
        maxBucket.toLong, "candidatePairs bucket").as("ids"))
      .select(explode(
        BlockPairs.of(col("ids"), AllPairs)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()

  /** [[minhashPairsAtRecall]]'s result: the candidate-pair surface plus
    * every number on the achieved-recall card the decision was made
    * from. All recalls are integer micro (floor(hit·10⁶/n_true)) — the
    * exact arithmetic the DuckDB oracle replays.
    */
  final case class MinhashAtRecall(
      pairs: DataFrame,
      bands: Int,
      targetMicro: Long,
      nTrue: Long,
      calibBands: Int,
      calibRecallMicro: Long,
      achievedRecallMicro: Long) {
    /** `pairs` is returned STILL CACHED (its recall was measured from
      * the cached blocks) — call this once done with the surface, or
      * repeated operator calls in one session accumulate blocks.
      */
    def release(): Unit = { pairs.unpersist(); () }
  }

  /** RECALL-TARGETING MinHash candidate generation — the band-axis twin
    * of [[SimilarityOps.nearDupPairsLshAtRecall]]. MinHash-LSH's two
    * knobs split cleanly: `RowsPerBand` is the PRECISION knob (a false
    * candidate's per-band collision falls as s^r), the band count is
    * the RECALL knob (a true pair at Jaccard s is caught with
    * 1−(1−s^r)^b). Instead of the caller hand-picking b from the
    * S-curve, this operator measures per-band-group collision ON THIS
    * CORPUS and solves b itself, with the same three-step contract as
    * the embedding twin:
    *
    *   1. CALIBRATE: candidate pairs at `calibBands` bands; measured
    *      recall r₁ against the exact ≥-`threshold` Jaccard truth of a
    *      fixed `calibQueries`-doc stripe. The truth pass is the
    *      shingle-join Jaccard (stripe shingles ⋈ corpus shingles) —
    *      stripe size is FIXED, so truth stays linear in the corpus at
    *      any scale.
    *   2. SOLVE: [[RecallMath]]'s floor-micro OR-amplification
    *      schedule — the solved b is a multiple of `calibBands`; the
    *      whole decision replays exactly in the DuckDB oracle.
    *   3. BUILD: if calibration already meets the target it IS the
    *      answer; else one more pass at the solved b, re-MEASURED on
    *      the same stripe. Unreachable at `maxBands` raises BY NAME
    *      with the geometry's needed band count.
    *
    * Unlike the hyperplane twin, whose corpus-ADAPTIVE prefix makes
    * recall decay with n at a fixed threshold (measured at ×10), a
    * band key here is exact minhash equality — per-pair recall depends
    * on the pair's Jaccard ALONE, so the calibration transfers across
    * corpus scale and the solved b is a property of the dup-similarity
    * profile, not of n. What grows with n is bucket occupancy (false-
    * candidate cost), which the [[DefaultMaxBucket]] ceiling and
    * `RowsPerBand` bound.
    *
    * Scale shape: ONE tokenize+distinct pass feeds truth sizes, the
    * truth join, and both signature passes (the cached distinct
    * shingle set; minhash lane-minima are duplicate-insensitive, so
    * distinct input is signature-identical); each pair pass is the
    * audited one-scan bucket-collect of [[candidatePairs]]; the driver
    * pulls only counts.
    */
  def minhashPairsAtRecall(docs: DataFrame, threshold: Double,
      targetRecall: Double,
      calibQueries: Int = 64,
      calibBands: Int = Bands,
      maxBands: Int = 32,
      maxBucket: Int = DefaultMaxBucket): MinhashAtRecall = {
    require(targetRecall >= 0.5 && targetRecall <= 0.999999,
      s"targetRecall must be in [0.5, 0.999999] (1.0 needs the exact " +
        s"shingle join, not MinHash), got $targetRecall")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be a Jaccard in (0,1], got $threshold")
    require(calibQueries >= 1, s"calibQueries must be >= 1, got $calibQueries")
    require(calibBands >= 1 && calibBands <= maxBands,
      s"need 1 <= calibBands ($calibBands) <= maxBands ($maxBands)")
    val targetMicro = math.ceil(targetRecall * 1000000.0).toLong

    val sh = shingled(docs).cache()
    // the stripe's exact ≥-threshold Jaccard truth: stripe shingles ⋈
    // corpus shingles (one pass, stripe-bounded fan-out), set sizes
    // from the same cached distinct relation
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("__n"))
    val qsh = sh.filter(col("doc_id") < calibQueries)
      .select(col("doc_id").as("query_id"), col("shingle"))
    val truth = sh
      .join(broadcast(qsh), Seq("shingle"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id").as("other_id"))
      .agg(count(lit(1)).as("__c"))
      .join(broadcast(cnt.filter(col("doc_id") < calibQueries)
        .withColumnRenamed("doc_id", "query_id")
        .withColumnRenamed("__n", "__na")), Seq("query_id"))
      .join(cnt.withColumnRenamed("doc_id", "other_id")
        .withColumnRenamed("__n", "__nb"), Seq("other_id"))
      .filter(col("__c").cast("double") /
        (col("__na") + col("__nb") - col("__c")) >= threshold)
      .select(col("query_id"), col("other_id"))
      .cache()
    val nTrue = truth.count()
    if (nTrue == 0) {
      truth.unpersist(); sh.unpersist()
      throw new IllegalArgumentException(
        s"minhashPairsAtRecall: the calibration stripe (doc_id < " +
          s"$calibQueries) has NO true >= $threshold Jaccard partner — " +
          "recall is undefined; widen calibQueries or lower the threshold")
    }
    // floor(hit·10⁶ / n_true): pure integer, oracle-identical
    def recallMicroOf(pairs: DataFrame): Long = {
      val both = pairs
        .select(col("doc_a").as("query_id"), col("doc_b").as("other_id"))
        .unionAll(pairs
          .select(col("doc_b").as("query_id"), col("doc_a").as("other_id")))
        .filter(col("query_id") < calibQueries)
      truth.join(both, Seq("query_id", "other_id"), "left_semi").count() *
        1000000L / nTrue
    }

    val pairs1 =
      candidatePairs(lshBandsAt(minhashSignatureAt(sh, calibBands),
        calibBands), maxBucket).cache()
    val r1 = recallMicroOf(pairs1)

    val m1 = 1000000L - r1
    val kmax = maxBands / calibBands
    RecallMath.solveUnits(m1, targetMicro, kmax) match {
      case None =>
        truth.unpersist(); pairs1.unpersist(); sh.unpersist()
        val needB = RecallMath.adviseUnits(m1, targetMicro, calibBands)
        throw new IllegalArgumentException(
          s"minhashPairsAtRecall: target recall $targetRecall is " +
            s"UNREACHABLE at the $maxBands-band ceiling for Jaccard " +
            s"$threshold on this corpus: measured calibration recall " +
            s"${r1 / 1e6} at $calibBands bands predicts " +
            s"${(1000000L - RecallMath.missSchedule(m1, kmax).last) / 1e6} " +
            s"at ${kmax * calibBands} bands (the solver's real ceiling — " +
            s"multiples of calibBands; 1-(1-x)^b geometry says b ≈ $needB " +
            "bands) — raise maxBands, lower the threshold, or verify " +
            "candidates with the exact shingle join (ngramJaccardSets) " +
            "instead")
      case Some(1) =>
        truth.unpersist(); sh.unpersist()
        MinhashAtRecall(pairs1, calibBands, targetMicro, nTrue,
          calibBands, r1, r1)
      case Some(k) =>
        val b = k * calibBands
        val pairs2 =
          candidatePairs(lshBandsAt(minhashSignatureAt(sh, b), b),
            maxBucket).cache()
        val r2 = recallMicroOf(pairs2)
        truth.unpersist(); pairs1.unpersist(); sh.unpersist()
        MinhashAtRecall(pairs2, b, targetMicro, nTrue, calibBands, r1, r2)
    }
  }

  /** Blocked edit-distance pairs — the record-linkage primitive (fuzzy
    * key matching: titles, names, URLs) the shingle/minhash family
    * doesn't cover: Levenshtein is ORDER-sensitive ("ab cd" vs "cd ab"
    * is far by edit distance, identical by shingle set), which is what
    * fuzzy identifier matching wants.
    *
    * Classic blocking shape: pairs expand only within a caller-chosen
    * block key (sorted neighborhood / standard blocking from the record-
    * linkage literature) via the same one-scan collected-member-list
    * expansion as [[candidatePairs]] — no all-pairs anywhere, one
    * shuffle on the block key, quadratic only inside a block. The
    * distance itself runs with Spark's threshold form (`levenshtein(a,
    * b, maxDist)`), which abandons a pair's DP early once it exceeds
    * `maxDist` — at 100 TB the threshold is the difference between
    * O(len²) and O(len·maxDist) per pair.
    *
    * Emits (doc_a, doc_b, dist), doc_a < doc_b, dist ≤ `maxDist`.
    *
    * A block past `maxPerBlock` members (a degenerate block key — an
    * empty-string prefix, a null-ish bucket) raises by name instead of
    * expanding quadratically: the [[SessionOps.hotKeyGuarded]] ceiling,
    * counted on the SAME aggregation.
    */
  def editDistancePairs(
      docs: DataFrame,
      strCol: Column,
      blockCol: Column,
      maxDist: Int,
      maxPerBlock: Long = SessionOps.DefaultMaxQuadraticPerKey): DataFrame = {
    val members = docs
      .select(col("doc_id"), strCol.as("__s"), blockCol.as("__blk"))
      .groupBy("__blk")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("__s"))))
        .as("ms0"), count(lit(1)).as("__n"))
      .select(SessionOps.hotKeyGuarded(col("ms0"), col("__n"), col("__blk"),
        maxPerBlock, "editDistancePairs").as("ms"))
      .filter(size(col("ms")) > 1)
    members
      .select(explode(
        BlockPairs.of(col("ms"), AllPairs)).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        levenshtein(col("p.a.__s"), col("p.b.__s"), maxDist).as("dist"))
      // threshold form returns -1 past maxDist — exclude it with the
      // same predicate shape the oracle's plain levenshtein uses
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("long").as("dist"))
  }

  /** [[editDistancePairs]] with SEGMENT second-level blocking — the
    * PassJoin partition filter (Li/Deng/Feng, ICDE 2011; exact, no
    * false negatives): partition each string into maxDist+1 segments;
    * any pair within `maxDist` edits must share at least one segment
    * VERBATIM, shifted by at most maxDist (pigeonhole: k edits cannot
    * touch all k+1 segments, and the untouched one moves by at most
    * the edits before it). Candidates therefore come from an equi-join
    * on (block, indexed-length, segment-index, segment-text) instead
    * of the full in-block quadratic — on the bench corpus the same
    * blocks hold 911k in-block pairs for 12.7k true ≤4-edit pairs at
    * ×10 (a 71× candidate waste this filter removes), while the
    * emitted pair set is IDENTICAL by the pigeonhole guarantee.
    *
    * Shape: the index side emits k+1 rows per doc (its own partition);
    * the probe side emits, per candidate indexed length l ∈
    * [len−k, len] present in the block (a broadcast length dim prunes
    * absent ls) and per segment, the ≤ 2k+1 substrings within the
    * shift tolerance — a bounded ≤ (k+1)·(2k+1)·(k+1) explode factor,
    * LINEAR in the corpus where the in-block expansion was quadratic.
    * Both sides ride ONE shared bucket-collect shuffle keyed by the
    * segment (the [[SimilarityOps.nearDupPairsLshCrossSlim]] pattern) with
    * the same hot-bucket ceiling, cross-side expansion only, and the
    * (shorter, or equal-length smaller-id) direction rule generating
    * each unordered pair once; survivors dedup BEFORE the Levenshtein
    * verify. Strings shorter than maxDist+1 cannot be partitioned into
    * k+1 nonempty segments — any partner is within 2·maxDist length by
    * the length filter, so the SHORT POOL (len ≤ 2·maxDist) pairs with
    * a short-side member run through the plain blocked expansion,
    * disjoint from the segmented pairs (min length ≤ k vs ≥ k+1).
    *
    * Emits exactly [[editDistancePairs]]' contract: (doc_a, doc_b,
    * dist), doc_a < doc_b, dist ≤ `maxDist`.
    */
  def editDistancePairsSegmented(
      docs: DataFrame,
      strCol: Column,
      blockCol: Column,
      maxDist: Int,
      maxPerBlock: Long = SessionOps.DefaultMaxQuadraticPerKey): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val k1 = maxDist + 1
    val base = docs
      .select(col("doc_id"), strCol.as("__s"), blockCol.as("__blk"))
      .withColumn("__len", length(col("__s")))
    // ---- short pool: either member of a pair with min length <= k
    // has length <= 2k (dist <= k bounds the length gap), so the plain
    // blocked quadratic over len <= 2k docs covers every such pair
    val shortPool = base.filter(col("__len") <= 2 * maxDist)
    val shortLens = shortPool.select(col("doc_id"), col("__len"))
    val shortPairs = editDistancePairs(shortPool, col("__s"), col("__blk"),
      maxDist, maxPerBlock)
      .join(shortLens.select(col("doc_id").as("doc_a"),
        col("__len").as("__la")), Seq("doc_a"))
      .join(shortLens.select(col("doc_id").as("doc_b"),
        col("__len").as("__lb")), Seq("doc_b"))
      .filter(least(col("__la"), col("__lb")) <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
    // ---- segmented path: docs long enough for k+1 nonempty segments
    val longDocs = base.filter(col("__len") >= k1)
    // even-split boundaries as pure integer arithmetic of (l, i):
    // start_i = (i*l) div k1 + 1 (1-based), width_i = ((i+1)*l) div k1
    // - (i*l) div k1 — the probe recomputes the SAME function, which is
    // all the pigeonhole needs
    def stExpr(lCol: String, i: Int) = s"(($i * $lCol) div $k1 + 1)"
    def wExpr(lCol: String, i: Int) =
      s"((${i + 1} * $lCol) div $k1 - ($i * $lCol) div $k1)"
    // both entry generators are ONE computed-array explode per scan —
    // a k+1-way union of per-segment frames measured ~1.2 s of pure
    // stage-scheduling overhead at sf0.1 for the same rows
    val idxSegArr = (0 until k1).map(i =>
      s"named_struct('__i', $i, '__seg', " +
        s"substring(__s, ${stExpr("__len", i)}, ${wExpr("__len", i)}))")
      .mkString("array(", ", ", ")")
    val idxEntries = longDocs
      .select(col("__blk"), col("__len").as("__l"),
        explode(expr(idxSegArr)).as("__e"),
        col("doc_id"), col("__len"), col("__s"))
      .select(col("__blk"), col("__l"), col("__e.__i").as("__i"),
        col("__e.__seg").as("__seg"), col("doc_id"), col("__len"),
        col("__s"))
      .withColumn("__side", lit(0))
    // candidate indexed lengths actually PRESENT per block — a small
    // distinct dim, broadcast so the probe enumerates only real ls
    val idxLens = longDocs.select(col("__blk"), col("__len").as("__l"))
      .distinct()
    // probe shift bounds (exactness-preserving necessary conditions on
    // the untouched segment's displacement s = p − st, with Δ = L − l):
    // edits before the segment ≥ |s| and after ≥ |Δ − s|, so
    // |s| + |Δ−s| ≤ k; and taking the FIRST untouched segment i, every
    // earlier segment holds ≥1 edit, so edits after ≤ k − i giving
    // |Δ − s| ≤ k − i (the PassJoin position filter) — at Δ=0 the last
    // segment probes exactly ONE position where the naive ±k probes 9
    val probeSegArr = (0 until k1).map { i =>
      val st = stExpr("__l", i)
      val w = wExpr("__l", i)
      val lo = s"greatest($st + greatest(-(($maxDist - __d) div 2), " +
        s"__d - ${maxDist - i}), 1)"
      val hi = s"least($st + least((__d + $maxDist) div 2, " +
        s"__d + ${maxDist - i}), __len - $w + 1)"
      s"transform(sequence($lo, $hi), " +
        s"p -> named_struct('__i', $i, '__seg', substring(__s, p, $w)))"
    }.mkString("flatten(array(", ", ", "))")
    val probeEntries = longDocs
      .join(broadcast(idxLens), Seq("__blk"))
      .filter(col("__l").between(col("__len") - maxDist, col("__len")))
      .withColumn("__d", col("__len") - col("__l"))
      .select(col("__blk"), col("__l"), explode(expr(probeSegArr)).as("__e"),
        col("doc_id"), col("__len"), col("__s"))
      .select(col("__blk"), col("__l"), col("__e.__i").as("__i"),
        col("__e.__seg").as("__seg"), col("doc_id"), col("__len"),
        col("__s"))
      .withColumn("__side", lit(1))
    // the ceiling counts DISTINCT docs per segment bucket:
    // entry rows duplicate a doc up to ~(k+1)(2k+1) times (index
    // partition + probe positions), so an entry-count ceiling would
    // raise on dense clumps the blocked form's per-block DOC-count
    // guard admits — the two arms must share guard semantics to be
    // interchangeable. Computed from the already-collected list, so the
    // distinct count costs no planner expand.
    val members = idxEntries.unionAll(probeEntries)
      .groupBy("__blk", "__l", "__i", "__seg")
      .agg(sort_array(collect_list(struct(col("__side").as("side"), col("doc_id"),
        col("__len").as("len"), col("__s").as("s")))).as("ms0"))
      .select(SessionOps.hotKeyGuarded(col("ms0"),
        size(array_distinct(transform(col("ms0"),
          m => m.getField("doc_id")))).cast("long"),
        concat(col("__blk"), lit("/"), col("__l").cast("string"), lit("/"),
          col("__i").cast("string"), lit("/"), col("__seg")),
        maxPerBlock, "editDistancePairsSegmented").as("ms"))
      .filter(size(col("ms")) > 1)
    val segPairs = passJoinCandidates(members)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("sa"), col("sb"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("long").as("dist"))
    segPairs.unionAll(shortPairs)
  }

  /** The PassJoin arm's distinct candidates from its (side, doc_id, len, s) buckets. */
  private[graft] def passJoinCandidates(members: DataFrame): DataFrame = {
    val (a, b) = (col("p.a"), col("p.b"))
    def ordered(x: Column, y: Column) = when(a("doc_id") <= b("doc_id"), x).otherwise(y)
    members.select(explode(BlockPairs.of(col("ms"), AllPairs)).as("p"))
      .filter(a("len") < b("len") ||
        (a("len") === b("len") && a("doc_id") < b("doc_id")))
      .select(least(a("doc_id"), b("doc_id")).as("doc_a"),
        greatest(a("doc_id"), b("doc_id")).as("doc_b"),
        ordered(a("s"), b("s")).as("sa"), ordered(b("s"), a("s")).as("sb"))
      .distinct()
  }

  /** The regime boundary for [[editDistancePairsAuto]], in IN-BLOCK
    * CANDIDATE PAIRS (Σ over blocks of n·(n−1)/2): below it the plain
    * blocked quadratic wins; above it the PassJoin segment filter does.
    * Calibrated from measurements on the sf0.1 bench corpus — blocked
    * 0.34 s at 91k pairs / 3.11 s at 911k (≈3.4 µs per candidate's
    * early-exit DP), segmented 1.28 s / 2.09 s (≈1.1 s of fixed
    * multi-stage probe overhead + ≈1.0 µs marginal) — the two linear
    * models cross near 480k candidates; 400k keeps the selector inside
    * the blocked arm's cheap region with margin for slower hosts.
    */
  val EditDistSegmentMinPairs: Long = 400L * 1000L

  /** Σ over blocks of n·(n−1)/2 — the in-block candidate-pair volume
    * that prices the blocked quadratic. ONE column-pruned scan + one
    * count aggregation; the single driver-pulled long is the routing
    * statistic (the hot-key guard counts the same per-block n at
    * expansion time — this is its cost-model twin, measured BEFORE
    * choosing a plan).
    */
  def inBlockPairCount(docs: DataFrame, blockCol: Column): Long =
    docs.select(blockCol.as("__blk"))
      .groupBy("__blk").agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__n") * (col("__n") - 1) / 2), lit(0))
        .cast("long"))
      .collect()(0).getLong(0)

  /** Cost-routed edit-distance pairs: the
    * blocked quadratic ([[editDistancePairs]]) and the PassJoin
    * segment filter ([[editDistancePairsSegmented]]) emit IDENTICAL
    * pairs (the pigeonhole guarantee, property-pinned in
    * EditDistRegimeSpec) but price differently — the segmented plan's
    * ~6-stage probe machinery is a fixed overhead the small-corpus
    * regime never amortizes (measured 3.8× the blocked form at sf0.1),
    * while past [[EditDistSegmentMinPairs]] candidates the blocked
    * expansion's per-pair DP dominates. Route on the measured in-block
    * candidate volume: one cheap aggregate, then the asymptotically
    * right plan at EVERY scale instead of the right plan at one.
    */
  def editDistancePairsAuto(
      docs: DataFrame,
      strCol: Column,
      blockCol: Column,
      maxDist: Int,
      maxPerBlock: Long = SessionOps.DefaultMaxQuadraticPerKey,
      segmentMinPairs: Long = EditDistSegmentMinPairs): DataFrame = {
    // the routing statistic is memoized by the block column's content:
    // it is deterministic in the input, so re-measuring it would cost
    // one column-pruned corpus scan per call
    val volume = ModelCache.value("inBlockPairCount")(docs.select(blockCol)) {
      val v = inBlockPairCount(docs, blockCol)
      System.err.println(s"[route] editDistancePairsAuto: in-block pairs $v, threshold " +
        s"$segmentMinPairs, arm ${if (v > segmentMinPairs) "segmented" else "blocked"}")
      java.lang.Long.valueOf(v)
    }.longValue()
    if (volume > segmentMinPairs)
      editDistancePairsSegmented(docs, strCol, blockCol, maxDist, maxPerBlock)
    else
      editDistancePairs(docs, strCol, blockCol, maxDist, maxPerBlock)
  }

  /** Blocked Jaro-Winkler pairs — the name/title fuzzy-linkage metric
    * next to [[editDistancePairs]]' Levenshtein: transposition-tolerant,
    * prefix-weighted (Winkler's boost), and normalized to [0,1], so one
    * threshold works across string lengths where an absolute edit
    * distance cannot. Same blocking shape (pairs expand only inside a
    * caller-chosen block — no all-pairs), with the similarity computed
    * by the native [[graft.expressions.JaroWinkler]] expression: a
    * codegen'd byte scan returning the EXACT micro integer, so the
    * threshold cut is decided by integer arithmetic on both engines.
    *
    * Emits (doc_a, doc_b, jw_micro), doc_a < doc_b, jw ≥ `minMicro`.
    */
  def jaroPairs(
      docs: DataFrame,
      strCol: Column,
      blockCol: Column,
      minMicro: Long,
      maxPerBlock: Long = SessionOps.DefaultMaxQuadraticPerKey): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    def jw(a: Column, b: Column): Column = ColumnBridge.column(
      graft.expressions.JaroWinkler(
        ColumnBridge.expression(a), ColumnBridge.expression(b)))
    val members = docs
      .select(col("doc_id"), strCol.as("__s"), blockCol.as("__blk"))
      .groupBy("__blk")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("__s"))))
        .as("ms0"), count(lit(1)).as("__n"))
      .select(SessionOps.hotKeyGuarded(col("ms0"), col("__n"), col("__blk"),
        maxPerBlock, "jaroPairs").as("ms"))
      .filter(size(col("ms")) > 1)
    members
      .select(explode(
        BlockPairs.of(col("ms"), AllPairs)).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        jw(col("p.a.__s"), col("p.b.__s")).as("jw_micro"))
      .filter(col("jw_micro") >= minMicro)
  }

  /** Per-doc top-k cap over a symmetric (doc_a, doc_b, score) pair
    * surface — [[SimilarityOps.topKPerVector]]'s contract for the
    * fuzzy-linkage family: keep a pair iff it is among EITHER
    * endpoint's `k` strongest partners (score desc, partner-id
    * tiebreak), emitting ≤ n·k rows at any scale where the uncapped
    * dump grows with the corpus's true match density (quadratic in
    * clump size on dup-heavy data — the jaro surface measured 109×
    * pairs for 10× docs). The rank filter compiles to WindowGroupLimit
    * (per-partition top-k pruning before any full partner list
    * materializes). Returns (doc_a, doc_b, score), doc_a < doc_b.
    */
  def topKPerDoc(pairs: DataFrame, scoreCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val both = pairs
      .select(col("doc_a").as("q"), col("doc_b").as("o"), col(scoreCol))
      .unionAll(pairs
        .select(col("doc_b").as("q"), col("doc_a").as("o"), col(scoreCol)))
    val w = Window.partitionBy("q").orderBy(col(scoreCol).desc, col("o"))
    both
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(least(col("q"), col("o")).as("doc_a"),
        greatest(col("q"), col("o")).as("doc_b"), col(scoreCol))
      .distinct()
  }

  /** Winnowing-index near-dup candidates — the MOSS fingerprints
    * ([[TextOps.winnowFingerprints]]) used as the dedup index: documents
    * sharing at least `minShared` selected fingerprints become candidate
    * pairs, with the shared count as the ranking signal. The third
    * candidate generator next to MinHash-LSH (probabilistic, global
    * similarity) and the substring-span filter (exact long runs):
    * winnowing GUARANTEES a shared fingerprint for any shared
    * w+k−1-token run, so short verbatim overlaps LSH dilutes away are
    * caught, with positions available for span localization.
    *
    * Scale guard, same as the sparse-cosine join: a fingerprint shared
    * by more than `maxDf` documents is boilerplate, carries no pair
    * signal, and is what makes the expansion quadratic — dropped before
    * pair generation, so per-fingerprint fanout is ≤ maxDf². The
    * in-list expansion is maxDf-bounded by construction.
    *
    * Returns (doc_a, doc_b, n_shared), doc_a < doc_b,
    * n_shared ≥ `minShared`.
    */
  def winnowCandidatePairs(fps: DataFrame, minShared: Long,
      maxDf: Long): DataFrame =
    fps
      .groupBy("fp")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) between (2, maxDf))
      .select(explode(
        BlockPairs.of(col("ds"), AllPairs)).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** Content-defined chunk dedup (the rolling-hash cutpoint family —
    * Rabin/FastCDC — at token granularity): a gram position is a CUT
    * when its hash ≡ 0 (mod `divisor`), chunks are the runs between
    * cuts, and duplicate chunks are grouped by an order-preserving
    * fingerprint of their gram hashes. The property fixed-width
    * chunking lacks: boundaries derive from CONTENT, so an insertion
    * early in a document shifts no downstream chunk boundaries and
    * shared boilerplate hashes identically wherever it floats —
    * sub-document dedup that survives edits.
    *
    * Shape: posexplode grams, hash each once (the winnow lesson), one
    * doc-keyed window for the running cut count (= chunk id), one
    * (doc, chunk) aggregation building the fingerprint from the
    * in-chunk hash sequence, one fingerprint-keyed rollup. The
    * collect_list is CHUNK-bounded (expected `divisor` grams; at worst
    * one document — the per-doc contract every in-row fold here
    * documents). `divisor` sets the expected chunk length and is the
    * dedup granularity knob.
    *
    * Returns duplicate groups: (chunk_fp, n_chunks, n_docs, first_doc,
    * n_grams).
    */
  def cdcDuplicateChunks(docs: DataFrame, k: Int = TextOps.ShingleK,
      divisor: Long = 8L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cuts = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"),
        posexplode(TextOps.shingles(col("toks"), k)).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
        graft.expressions.Md5PrefixLong.draw(col("gram"), 12).as("h"))
      .select(col("doc_id"), col("p"), col("h"),
        coalesce(
          sum(when(pmod(col("h"), lit(divisor)) === 0, 1L).otherwise(0L))
            .over(cuts), lit(0L)).as("chunk_id"))
      .groupBy("doc_id", "chunk_id")
      .agg(
        // bounded: per-(doc, chunk) gram list — the CDC cut rule caps a
        // chunk at ~`divisor` grams in expectation, never a whole key's
        // corpus, so the fold is chunk-sized by construction.
        md5(array_join(
          transform(sort_array(collect_list(struct(col("p"), col("h")))),
            s => s.getField("h").cast("string")), ",")).as("chunk_fp"),
        count(lit(1)).as("n_grams"))
      .groupBy("chunk_fp")
      .agg(count(lit(1)).as("n_chunks"),
        count_distinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("first_doc"), min("n_grams").as("n_grams"))
      .filter(col("n_chunks") > 1)
  }

  /** Duplicate-cluster resolution: connected components over the
    * near-dup pair graph, so transitive duplicates (A~B, B~C) collapse
    * into ONE cluster with `cluster_id = min(doc_id)` — the id downstream
    * keep-one-per-cluster filters group on. Singletons map to themselves.
    *
    * Small graphs (≤ `driverMaxEdges`, checked at runtime) resolve with
    * a driver-side union-find broadcast back as a mapping join; larger
    * ones use iterative min-label propagation: each round joins labels to
    * edges and takes the neighborhood minimum, converging in O(component
    * diameter) rounds — near-dup clusters are small and dense, so a
    * handful. Each round is one shuffle join + aggregate on the EDGE
    * table (not all docs × all docs); rounds cache their labels and drop
    * the previous round's so lineage and memory stay bounded. Fails
    * loudly past `maxRounds` rather than returning a half-converged
    * labeling.
    */
  def duplicateClusters(
      docs: DataFrame,
      pairs: DataFrame,
      maxRounds: Int = 50,
      driverMaxEdges: Long = 1L << 20
  ): DataFrame = {
    // Runtime size switch, the same pattern as broadcast-join thresholds:
    // the near-dup pair graph is LSH-survivor-sized by construction —
    // usually thousands of edges out of a corpus of billions — so when it
    // fits comfortably on the driver, a union-find there replaces the
    // whole iterative join loop (and its convergence-detection round)
    // with ONE bounded collect + one broadcast join. The size check and
    // the edge fetch are a SINGLE action (limit N+1): two separate
    // actions (count then collect) on an uncached nondeterministic input
    // could see different edge sets, and would double-evaluate the plan.
    // Oversized graphs (the limit is hit) fall through to the distributed
    // propagation below; both paths produce
    // cluster_id = min(doc_id in component).
    val limitN = math.min(driverMaxEdges + 1, Int.MaxValue.toLong).toInt
    val edgeRows =
      pairs.select(col("doc_a"), col("doc_b")).limit(limitN).collect()
    if (edgeRows.length <= driverMaxEdges) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
        }
        r
      }
      edgeRows.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val roots = {
        import scala.jdk.CollectionConverters._
        parent.keySet().asScala.toSeq.map(k => (k, find(k)))
      }
      val spark = docs.sparkSession
      import spark.implicits._
      val mapping = roots.toDF("doc_id", "root")
      return docs.select(col("doc_id"))
        .join(broadcast(mapping), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("doc_id")).as("cluster_id"))
    }
    val spark = docs.sparkSession
    // Iterative plans grow 4× per round (two propagation hops each
    // embed the prior round's tree twice); cache() materializes the
    // EXECUTION but Catalyst still analyzes/canonicalizes the full
    // logical lineage every round, and with the pair-generation pipeline
    // (shingle explode → minhash agg → bucket expand) at the leaves that
    // driver-side cost dominated end-to-end time (measured: a 6.8k-edge
    // graph spending 20+ s planning while executing milliseconds of
    // work). localCheckpoint (eager) truncates lineage to a leaf RDD, so
    // every round plans the SAME constant-size tree — the standard
    // iterative-algorithm pattern (GraphX/MLlib checkpointing). The
    // checkpoint RDDs are collected via getPersistentRDDs diff and
    // dropped as rounds retire, so peak extra storage is two
    // dup-graph-sized label tables.
    def checkpointed(df: DataFrame): (DataFrame, Seq[Int]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = df.localCheckpoint()
      val ids = (spark.sparkContext.getPersistentRDDs.keySet -- before).toSeq
      (out, ids)
    }
    def dropCheckpoint(ids: Seq[Int]): Unit = ids.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    val (edges, edgeIds) = checkpointed(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    // Labels iterate over edge ENDPOINTS only, never the corpus: the
    // near-dup pair graph is vanishingly small next to the documents
    // table (LSH survivors), so every per-round join/aggregate/count is
    // dup-graph-sized. The corpus appears exactly once, in the final
    // left join that maps singletons to themselves — the same shape the
    // driver union-find path above broadcasts. (Both src and dst appear
    // as src in the symmetrized edge table, so src alone covers every
    // endpoint.)
    var (labels, labelIds) = checkpointed(
      edges.select(col("src").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("cluster_id")))
    // one min-label propagation step; the running `__changed` flag rides
    // along, so convergence needs no join of next against prior labels
    def step(l: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(l.select(col("doc_id").as("dst"), col("cluster_id").as("nbr")),
          Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min("nbr").as("nbr_min"))
      l.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"),
          (col("__changed") ||
            coalesce(col("nbr_min"), col("cluster_id")) < col("cluster_id"))
            .as("__changed"))
    }
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // TWO propagation hops per materialized round: the checkpoint job
      // dominates at small label sizes, so halving the round count buys
      // more than the extra in-plan join costs
      val (next, nextIds) = checkpointed(
        step(step(labels.withColumn("__changed", lit(false)))))
      // cheap: counts over the already-materialized checkpoint RDD
      val changed = next.filter(col("__changed")).count()
      dropCheckpoint(labelIds)
      labels = next.select("doc_id", "cluster_id")
      labelIds = nextIds
      converged = changed == 0
      round += 1
    }
    dropCheckpoint(edgeIds)
    if (!converged) {
      // unpin the last round's checkpoint BEFORE throwing: Verify/Bench
      // catch per-query failures and keep the session alive, so a leaked
      // RDD would silently tax every later query's memory budget
      dropCheckpoint(labelIds)
      throw new IllegalArgumentException(
        s"duplicateClusters did not converge in $maxRounds rounds — component " +
          "diameter exceeds the bound; raise maxRounds")
    }
    // Singletons re-enter here, once: endpoint labels are converged and
    // checkpointed, so this is a single corpus scan against a
    // dup-graph-sized build side.
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Benchmark decontamination: per training doc, how many of its
    * distinct k-shingles appear anywhere in the benchmark/holdout corpus.
    * The shape that scales: the benchmark side collapses to a DISTINCT
    * shingle set (tiny next to the training corpus — benchmarks are),
    * which then equi-joins the training shingles — one shuffle on the
    * shingle key, no doc×doc pairing anywhere. Downstream filters on
    * `n_contaminated` (≥1 ⇒ drop, or threshold by fraction).
    *
    * Both inputs are (doc_id, shingle) tables from [[shingled]]
    * (distinct), so `count(*)` counts distinct shared shingles.
    */
  /** Train/test leakage audit: verified near-dup pairs whose endpoints
    * land in DIFFERENT splits — the cross-split twin of benchmark
    * decontamination. Exact dedup before splitting removes byte copies,
    * but hash-based split assignment happily strands two near-duplicate
    * REWRITES on opposite sides of the train/test wall, silently
    * inflating eval scores; this is the audit that catches it.
    *
    * `verified` is a (doc_a, doc_b, jaccard) relation — the LSH-candidate
    * → Jaccard-verified pipeline's output, already bounded (never
    * corpus²). Split labels are pure scan-side expressions of the ids
    * ([[SampleOps.splitOf]]), so the audit adds ZERO joins and zero
    * shuffles on top of the pair list it reads.
    */
  def splitLeakage(verified: DataFrame, threshold: Double): DataFrame =
    verified
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        SampleOps.splitOf(col("doc_a")).as("split_a"),
        SampleOps.splitOf(col("doc_b")).as("split_b"),
        col("jaccard"))
      .filter(col("split_a") =!= col("split_b"))

  def contaminationCounts(trainSh: DataFrame, benchSh: DataFrame): DataFrame =
    trainSh
      .join(benchSh.select(col("shingle")).distinct(), Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated"))

  /** `docs` semi-filtered to the endpoints of `pairs` (broadcast — LSH
    * survivors are few by construction) BEFORE tokenization, so the
    * tokenize → explode → shingle work is candidate-sized, never the
    * corpus (filtering the exploded shingle stream instead still paid a
    * full corpus tokenize+shingle — measured ~2× slower at sf0.1).
    */
  def candidateDocs(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val cand = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    docs.join(broadcast(cand), Seq("doc_id"), "left_semi")
  }

  /** Per-doc DISTINCT shingle sets as one array row per candidate doc —
    * the cache-friendly artifact [[ngramJaccardSets]] joins against.
    * `collect_set` dedupes inside the aggregation buffer, so this is ONE
    * shuffle over the raw (duplicates-kept) shingle stream — no separate
    * distinct pass.
    */
  def candidateShingleSets(pairs: DataFrame, docs: DataFrame): DataFrame =
    shingledAll(candidateDocs(pairs, docs))
      .groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("shset"))

  /** n-gram Jaccard verification of candidate pairs over pre-aggregated
    * (doc_id, shset) rows from [[candidateShingleSets]]: each endpoint's
    * distinct shingle set is ONE array row, the pair attaches both
    * arrays via two joins, and |A∩B| is a codegen'd `array_intersect`
    * in the final projection — |A∪B| = |A|+|B|−|A∩B|. Long/long
    * division → double is identical IEEE math in DuckDB.
    *
    * Two joins and a projection (the earlier shingle-equi-join form —
    * two joins INTO the exploded shingle table, a pair-grouped count,
    * then two more joins for |A|/|B| — ran 2.5× slower at sf0.1: six
    * sequential shuffle/broadcast stages of pure scheduling latency).
    * Per-doc arrays are bounded by doc length (shingles ≤ tokens), the
    * same bound [[simhash]] already enforces — LSH survivors are few, so
    * the array rows stay broadcast-sized at any corpus scale. Cache the
    * sets when they are reused: the cache then holds the
    * POST-aggregation arrays and re-runs skip the shuffle.
    */
  def ngramJaccardSets(pairs: DataFrame, docsets: DataFrame): DataFrame =
    pairs
      .join(docsets.select(col("doc_id").as("doc_a"), col("shset").as("set_a")),
        Seq("doc_a"))
      .join(docsets.select(col("doc_id").as("doc_b"), col("shset").as("set_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("n_common"),
        size(col("set_a")).as("n_a"), size(col("set_b")).as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))

  /** Asymmetric containment over candidate pairs: |A∩B|/|A| and
    * |A∩B|/|B| alongside Jaccard. Jaccard misses the subset case a
    * curation pipeline cares about — a short doc quoted WHOLE inside a
    * long one scores low Jaccard (the union is big) but containment ≈ 1
    * on the short side; that is the quote/extraction-dup signal.
    * Same bounded shape as [[ngramJaccardSets]]: candidate-pair list ×
    * pre-aggregated shingle-set arrays, in-row intersect.
    */
  def ngramContainmentSets(pairs: DataFrame, docsets: DataFrame): DataFrame =
    pairs
      .join(docsets.select(col("doc_id").as("doc_a"), col("shset").as("set_a")),
        Seq("doc_a"))
      .join(docsets.select(col("doc_id").as("doc_b"), col("shset").as("set_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("n_common"),
        size(col("set_a")).as("n_a"), size(col("set_b")).as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common") / col("n_a").cast("double"), 6).as("containment_a"),
        round(col("n_common") / col("n_b").cast("double"), 6).as("containment_b"),
        round(col("n_common") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))

  /** EXACT set-similarity self-join via prefix filtering (PPJoin-style):
    * every pair with Jaccard ≥ `threshold`, no false negatives — the
    * exact counterpart to the MinHash/LSH candidate path (which misses
    * pairs by construction).
    *
    * Prefix principle: order each doc's distinct shingles by a global
    * canonical order (document frequency asc, then shingle — rarest
    * first); if jaccard(A,B) ≥ t then |A∩B| ≥ t/(1+t)·(|A|+|B|), and two
    * sets that share NO shingle in their first |A|−⌈t·|A|⌉+1 rarest
    * shingles cannot reach that overlap. So candidates = pairs sharing
    * at least one PREFIX shingle — and because prefixes hold each doc's
    * rarest shingles, the candidate join is skew-resistant by
    * construction (the frequent shingles that would fan out quadratically
    * are exactly the ones excluded from prefixes).
    *
    * Shape at scale: one df aggregate (shuffle on shingle), ONE cached
    * per-doc table of canonically-sorted shingle arrays that serves both
    * prefix generation and exact verification (no separate docsets pass),
    * a prefix×prefix equi-join on the shingle key, then array-intersect
    * verification — candidates only, never the corpus.
    */
  /** Incremental dedup: classify a NEW batch of documents against an
    * already-ingested corpus — the production shape of dedup (a 100 TB
    * corpus is not re-deduped per day; the daily increment is checked
    * against it). Statuses, in precedence order:
    *
    *   - `exact_dup_in_batch`: not the min-doc_id canonical of its
    *     content hash within the batch;
    *   - `exact_dup_existing`: content hash already ingested;
    *   - `near_dup_existing`: shares an LSH band bucket with an existing
    *     document AND the shingle-set Jaccard confirms ≥ `threshold`;
    *   - `new`: ingest it.
    *
    * Scale shape: the existing side contributes only its DISTINCT hash
    * set and its LSH bands — both of which a production deployment
    * stores as indexes at ingest time (this method recomputes them so
    * the operator is self-contained; substitute the stored tables by
    * passing pre-shaped inputs). The batch side is scanned once per
    * artifact; the Jaccard confirm is candidate-sized on BOTH endpoints
    * (semi-filtered before any shingle aggregation), never corpus-sized.
    * Unconfirmed band collisions (false-positive candidates) survive as
    * `new` — only a verified Jaccard drops a document.
    */
  def incrementalStatus(existing: DataFrame, batch: DataFrame,
      threshold: Double): DataFrame = {
    val sh = shingledAll(existing)
    // the inline verify side shingles ONLY candidate existing docs: the
    // semi-join applies to the raw documents BEFORE the shingle explode
    // and collect_set — Catalyst cannot push a semi-join below an
    // explode+aggregate, so routing this wrapper through minhashIndex's
    // corpus-wide `sets` plan did strictly more aggregation work on
    // large corpora with few candidates (the persisted-artifact path
    // is unaffected — its sets are already materialized, pruning them
    // is a read-side semi-join)
    incrementalStatusCore(
      existing.select(md5(col("text")).as("h")).distinct(),
      lshBands(minhashSignature(sh)).withColumnRenamed("doc_id", "e_doc"),
      eDocs => shingledAll(
        existing.join(eDocs.withColumnRenamed("e_doc", "doc_id"),
          Seq("doc_id"), "left_semi"))
        .groupBy("doc_id").agg(collect_set(col("shingle")).as("set_e"))
        .withColumnRenamed("doc_id", "e_doc"),
      batch, threshold)
  }

  /** The MinHash incremental-dedup index as persistable ARTIFACTS —
    * the band-axis twin of [[SimilarityOps.lshIndexEntriesSlim]]:
    * everything [[incrementalStatus]] needs from the EXISTING corpus,
    * computed once per index generation so a daily batch probe never
    * re-scans (or even references) the existing documents' raw text.
    * Three relations, each a plain table a cluster persists beside the
    * corpus:
    *   - `hashes(h)` — the distinct md5 content-hash set (exact-dup
    *     membership probe);
    *   - `bands(e_doc, band, h)` — the banded minhash entries
    *     (candidate generation: batch bands ⋈ these);
    *   - `sets(e_doc, set_e)` — per-doc distinct shingle sets (the
    *     exact-Jaccard verify side; storing the computed feature
    *     instead of re-deriving it from text is the posting-list /
    *     feature-store trade — linear storage, zero per-batch
    *     recompute).
    */
  final case class MinhashIndex(hashes: DataFrame, bands: DataFrame,
      sets: DataFrame)

  def minhashIndex(existing: DataFrame): MinhashIndex = {
    val sh = shingledAll(existing)
    MinhashIndex(
      existing.select(md5(col("text")).as("h")).distinct(),
      lshBands(minhashSignature(sh)).withColumnRenamed("doc_id", "e_doc"),
      sh.groupBy("doc_id").agg(collect_set(col("shingle")).as("set_e"))
        .withColumnRenamed("doc_id", "e_doc"))
  }

  /** [[incrementalStatus]] against a PREBUILT [[MinhashIndex]]
    * (typically persisted and re-read): the batch computes its own
    * hashes/bands/sets; the existing side is read from the artifact
    * relations alone. Same output contract as [[incrementalStatus]].
    */
  def incrementalStatusIndexed(index: MinhashIndex, batch: DataFrame,
      threshold: Double): DataFrame =
    incrementalStatusCore(index.hashes, index.bands,
      // the verify side reads the artifact's precomputed sets, pruned
      // to the candidate docs (a semi-join on the artifact, not a
      // re-shingle of the corpus — per-doc sets are identical either
      // way)
      eDocs => index.sets.join(eDocs, Seq("e_doc"), "left_semi"),
      batch, threshold)

  /** The shared probe plan under both incremental forms: the existing
    * side enters ONLY through its hash set, its band entries, and a
    * `setsFor` hook mapping the distinct candidate `e_doc`s to their
    * (e_doc, set_e) shingle-set rows — so the inline wrapper can prune
    * BEFORE shingling while the artifact path prunes its materialized
    * sets.
    */
  private def incrementalStatusCore(eHashes: DataFrame, eBands: DataFrame,
      setsFor: DataFrame => DataFrame, batch: DataFrame,
      threshold: Double): DataFrame = {
    val bHash = batch.select(col("doc_id"), md5(col("text")).as("h"))
    val canon = bHash.groupBy("h").agg(min("doc_id").as("canon"))
    val eHash = eHashes.withColumn("in_existing", lit(true))

    // candidates: batch bands ⋈ the index's band entries — the
    // incremental form of candidatePairs (cross-side collisions only;
    // within-batch near-dups are the full pipeline's job once the
    // batch is ingested)
    val bBands = lshBands(minhashSignature(shingledAll(batch)))
    val cand = bBands.join(eBands, Seq("band", "h"))
      .select(col("doc_id"), col("e_doc")).distinct()

    val bSets = shingledAll(
      batch.join(cand.select("doc_id").distinct(), Seq("doc_id"), "left_semi"))
      .groupBy("doc_id").agg(collect_set(col("shingle")).as("set_b"))
    val eSets = setsFor(cand.select("e_doc").distinct())
    val nearDup = cand
      .join(bSets, Seq("doc_id"))
      .join(eSets, Seq("e_doc"))
      .select(col("doc_id"),
        size(array_intersect(col("set_b"), col("set_e"))).as("n_common"),
        size(col("set_b")).as("n_b"), size(col("set_e")).as("n_e"))
      .filter(round(col("n_common") /
        (col("n_b") + col("n_e") - col("n_common")).cast("double"), 6)
        >= threshold)
      .select(col("doc_id")).distinct()
      .withColumn("near_dup", lit(true))

    bHash
      .join(canon, Seq("h"))
      .join(eHash, Seq("h"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("canon"), "exact_dup_in_batch")
          .when(col("in_existing"), "exact_dup_existing")
          .when(col("near_dup"), "near_dup_existing")
          .otherwise("new").as("status"))
  }

  /** Phase handles for [[similarityJoinExact]], factored so the
    * equivalence specs read the same prefix buckets as the join.
    */
  private[graft] case class SetJoinParts(perdoc: DataFrame, buckets: DataFrame,
      cand: DataFrame)

  def similarityJoinExact(docs: DataFrame, threshold: Double): DataFrame = {
    val eps = 1e-9
    val p = setJoinParts(docs, threshold)
    // Two-stage verify. Stage 1 intersects xxhash64 LONG arrays — the
    // candidate set is ~500× the output (measured 125k candidates → 256
    // pairs at sf0.1, t=0.5), so the per-pair intersect is the dominant
    // e2e cost and primitive-long hashing beats string hashing several-
    // fold. Recall argument: equal shingles hash equal, so the hashed
    // overlap undercounts the true overlap ONLY when two distinct common
    // shingles collide within one pair's ~n-element sets — P ≈ n²/2⁶⁴
    // per pair (~1e-16 at n≈52); stage 1 keeps every pair whose hashed
    // overlap reaches the exact-join overlap bound ⌈t/(1+t)·(n_a+n_b)⌉.
    // Stage 2 re-intersects the STRING arrays for survivors only
    // (output-sized), so reported jaccard values are exact and any
    // cross-set collision survivor (hashed overlap inflated past the
    // bound) is removed — false positives cost nothing, false negatives
    // carry the 2⁻⁶⁴ bound stage 1 documents.
    val prever = p.cand
      .join(p.perdoc.select(col("doc_id").as("doc_a"),
        col("hashed_sh").as("h_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(p.perdoc.select(col("doc_id").as("doc_b"),
        col("hashed_sh").as("h_b"), col("n").as("n_b")), Seq("doc_b"))
      // native merge-scan overlap over the (pre-sorted) hashed
      // arrays — identical count to size(array_intersect(h_a, h_b)),
      // property-pinned; zero per-pair allocation
      .filter(ColumnBridge.column(graft.expressions.SortedLongOverlap(
        ColumnBridge.expression(col("h_a")),
        ColumnBridge.expression(col("h_b")))) >=
        ceil(lit(threshold / (1 + threshold)) *
          (col("n_a") + col("n_b")) - lit(eps)))
      .select("doc_a", "doc_b")
    prever
      .join(p.perdoc.select(col("doc_id").as("doc_a"),
        col("sorted_sh").as("set_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(p.perdoc.select(col("doc_id").as("doc_b"),
        col("sorted_sh").as("set_b"), col("n").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("n_common"),
        col("n_a"), col("n_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  private[graft] def setJoinParts(docs: DataFrame, threshold: Double): SetJoinParts = {
    val sh = shingled(docs).cache() // distinct (doc_id, shingle)
    // global canonical order: rarest shingles first
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val perdoc = sh
      .join(df, Seq("shingle"))
      .groupBy("doc_id")
      // bounded: per-doc distinct-shingle list — capped by the document's
      // own length (a single row of the corpus), not by key cardinality.
      .agg(sort_array(collect_list(struct(col("df"), col("shingle"))))
        .as("ss"))
      .select(col("doc_id"),
        transform(col("ss"), e => e.getField("shingle")).as("sorted_sh"),
        size(col("ss")).as("n"))
      // hashed twin of sorted_sh for the stage-1 overlap count,
      // SORTED (once per doc, inside the cache) so the per-pair count
      // is a native merge scan ([[graft.expressions.SortedLongOverlap]])
      // instead of array_intersect's per-pair hash set — the join's
      // measured dominant cost. Order never mattered to its only
      // consumer (set intersection); the count is unchanged.
      .withColumn("hashed_sh",
        array_sort(transform(col("sorted_sh"), s => xxhash64(s))))
      .cache()
    // prefix length |A| − ⌈t·|A|⌉ + 1; rk is the 1-based canonical rank.
    // The tiny epsilon inside each ceil guards double rounding: when the
    // exact product is an integer but the double lands a hair above it,
    // a bare ceil would overshoot by 1 — shortening the prefix (here) or
    // raising the overlap bound (below) and silently dropping truly-
    // similar pairs. Subtracting ε lets rounding only err in the safe
    // direction (longer prefix / lower bound); false positives that slip
    // through are removed by the exact verify step.
    val eps = 1e-9
    val prefix = perdoc
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("sorted_sh"), lit(1),
          (col("n") - ceil(lit(threshold) * col("n") - lit(eps)) + 1).cast("int"))))
      .select(col("doc_id"), col("col").as("shingle"),
        (col("pos") + 1).as("rk"), col("n"))
    // Candidate pairs from in-bucket lists, gated by the POSITIONAL
    // filter: a shared shingle at ranks (rk_a, rk_b) bounds the overlap
    // by 1 + min(n_a−rk_a, n_b−rk_b), which must reach the required
    // overlap ⌈t/(1+t)·(n_a+n_b)⌉. Safe under the post-hoc distinct
    // because for a truly-similar pair the globally-FIRST common shingle
    // is inside both prefixes (any earlier common shingle would rank
    // earlier in both docs), and at that occurrence the bound is valid
    // and passes — so the pair survives the union over occurrences.
    // Subsumes the length filter (the bound is ≤ min(n_a, n_b)).
    // Measured: 409k → far fewer verify candidates at sf0.1, t=0.5.
    val buckets = prefix
      .groupBy("shingle")
      .agg(sort_array(collect_set(struct(col("doc_id"), col("rk"), col("n"))))
        .as("es"))
      .filter(size(col("es")) > 1)
    val cand = buckets
      .select(explode(BlockPairs.of(col("es"), PrefixBound(threshold, eps))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
      .cache()
    SetJoinParts(perdoc, buckets, cand)
  }

  /** SimHash bit width: 16 hex digits of md5 × 4 bits. */
  val SimhashBits = 64

  /** SimHash near-dup blocking: `SimhashBlocks` equal substrings of the
    * fingerprint. Pigeonhole: any pair within Hamming distance
    * `SimhashBlocks - 1` shares at least one full block, so block-bucket
    * candidate generation has perfect recall at that radius — and never
    * does an all-pairs join.
    */
  val SimhashBlocks = 4
  val SimhashMaxHamming: Int = SimhashBlocks - 1

  /** Counts per packed aggregation buffer and their bit width. 15-bit
    * slots keep the top slot's shifted max (32767 << 45) inside a signed
    * long; a doc with ≥ 2^15 tokens would overflow a slot into its
    * neighbor's count, so [[simhash]] FAILS LOUDLY on such docs
    * (raise_error on the already-computed token count) rather than
    * emitting a silently-corrupt fingerprint. LLM-corpus docs are
    * chunked far below that; pre-split any that aren't.
    */
  private val SlotBits = 15
  private val SlotsPerSum = 4
  private val SlotMask = (1L << SlotBits) - 1
  private val MaxSimhashTokens = 1L << SlotBits

  /** 64-bit SimHash per doc as a bit string: explode tokens, md5 each,
    * majority-vote each bit position, emit the sign bit. One explode +
    * ONE 16-buffer aggregation: the per-bit one-counts are packed four to
    * a long (15-bit slots), so the aggregate carries 16 long sums + a
    * token count instead of 64 separate sums — 4× fewer buffers and a
    * far smaller generated class (the 64-sum form dominated this
    * pipeline's bench time via codegen size, and at 1000 executors the
    * narrow buffer also shrinks the partial-agg shuffle rows).
    * bit(j) = 1  ⇔  2·ones(j) > n  ⇔  sum over tokens of ±1 > 0 —
    * identical fingerprints to the unpacked formulation.
    */
  def simhash(docs: DataFrame): DataFrame = {
    // first 64 bits of md5 as two unsigned-32-bit words (conv can't
    // round-trip a full 64-bit word through a signed long)
    val toks = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("lo"))
    // global bit j (MSB-first): j<32 → bit 31-j of hi, else bit 63-j of lo
    def bitOf(j: Int) = {
      val (w, sh) = if (j < 32) (col("hi"), 31 - j) else (col("lo"), 63 - j)
      shiftright(w, sh).bitwiseAND(lit(1L))
    }
    val packed = (0 until SimhashBits / SlotsPerSum).map { g =>
      val slots = (0 until SlotsPerSum).map(k =>
        bitOf(g * SlotsPerSum + k) * lit(1L << ((SlotsPerSum - 1 - k) * SlotBits)))
      sum(slots.reduce(_ + _)).as(s"s$g")
    }
    val agg = toks.groupBy("doc_id")
      .agg(packed.head, packed.tail :+ count(lit(1)).as("n"): _*)
      // slot-overflow guard: per-group, post-agg — costs one comparison
      // per DOC, and makes an oversized doc a job failure, not a wrong
      // fingerprint
      .withColumn("n",
        when(col("n") < MaxSimhashTokens, col("n")).otherwise(raise_error(
          concat(lit(s"simhash: doc exceeds $MaxSimhashTokens tokens (packed " +
            "bit-count slot would overflow); pre-chunk doc_id="),
          col("doc_id").cast("string")))))
    val bits = (0 until SimhashBits).map { j =>
      val g = j / SlotsPerSum
      val sh = (SlotsPerSum - 1 - j % SlotsPerSum) * SlotBits
      val ones = shiftright(col(s"s$g"), sh).bitwiseAND(lit(SlotMask))
      when(ones * 2 > col("n"), "1").otherwise("0")
    }
    agg.select(col("doc_id"), concat(bits: _*).as("simhash"))
  }

  /** SimHash near-dup pairs: block-bucket candidates, then exact Hamming
    * via the native codegen'd [[graft.expressions.BitStringHamming]]
    * expression, built through the Column API so the op does not depend
    * on the session's function registry. Same single-branch shape
    * as [[candidatePairs]]: fingerprints ride along in the bucket lists,
    * so the simhash pipeline is planned ONCE.
    */
  def simhashPairs(sims: DataFrame, maxHamming: Int = SimhashMaxHamming): DataFrame = {
    val blockLen = SimhashBits / SimhashBlocks
    val blockCols = (0 until SimhashBlocks).map(b =>
      struct(lit(b).as("blk"),
        substring(col("simhash"), b * blockLen + 1, blockLen).as("key")))
    sims
      .select(col("doc_id"), col("simhash"), explode(array(blockCols: _*)).as("block"))
      .select(col("doc_id"), col("simhash"),
        col("block.blk").as("blk"), col("block.key").as("key"))
      .groupBy("blk", "key")
      .agg(sort_array(collect_set(struct(col("doc_id"), col("simhash")))).as("members"))
      .filter(size(col("members")) > 1)
      .select(explode(
        BlockPairs.of(col("members"), AllPairs)).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        ColumnBridge.column(graft.expressions.BitStringHamming(
          ColumnBridge.expression(col("p.a.simhash")),
          ColumnBridge.expression(col("p.b.simhash")))).as("hamming"))
      .distinct()
      // between, not <=: bit_hamming returns -1 on length mismatch, which
      // must reject the pair rather than count as "0 bits apart"
      .filter(col("hamming").between(0, maxHamming))
  }

  /** Exact substring-span dedup (the repeated-span removal of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, in its k-token-gram form): find every k-token gram
    * occurring ≥ `minCount` times across the corpus, mark each occurrence
    * as a token span, and merge overlapping/adjacent spans per document.
    * Output: (doc_id, span_start, span_end) — 1-based token index, end
    * exclusive — the spans a cleaning pass would cut.
    *
    * Plan shape: the (doc, position, gram) explode is the same codegen
    * element_at chain as [[shingledAll]] and is RECOMPUTED on both
    * branches (two parquet scans) — materializing the exploded gram table
    * costs ~k× the corpus, the same measured tradeoff behind the LSH
    * bands-not-shingles cache note. The global gram count
    * partial-aggregates before its shuffle; the repeated-gram set joins
    * back (broadcast when small, shuffle-on-gram at scale — Catalyst/AQE
    * decide); the per-doc interval merge is one (doc_id) partition window
    * over HIT spans only (repeated-gram positions, far smaller than the
    * corpus). No driver state, no quadratic step — the suffix-array
    * construction the paper uses single-node becomes three shuffles.
    */
  def substringSpans(docs: DataFrame, k: Int = 8, minCount: Long = 2): DataFrame = {
    val grams = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(when(size(col("toks")) >= k,
          sequence(lit(1), size(col("toks")) - (k - 1)))
          .otherwise(array().cast("array<int>"))).as("p"))
      .select(col("doc_id"), col("p"),
        concat_ws(" ", (0 until k).map(j => element_at(col("toks"), col("p") + j)): _*)
          .as("gram"))
    val repeated = grams
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select("gram")
    val hits = grams
      .join(repeated, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("p").cast("long").as("s"),
        (col("p") + k).cast("long").as("e"))
    // classic island merge: a span starts a new island iff it begins
    // after every prior span's end (running max over the sorted prefix)
    val w = Window.partitionBy("doc_id").orderBy("s", "e")
    hits
      .withColumn("prev_max_e",
        max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1)
          .otherwise(0)).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** Apply [[substringSpans]]: the cleaned corpus, every marked token
    * span cut. Tokens anti-join the span table on (doc, position-in-span)
    * — spans are repeated-gram-sized, far smaller than the corpus — and
    * each doc's survivors reassemble in position order. Docs that lose
    * every token (or had none marked) still appear: the doc spine is the
    * documents table itself, left-joined to the reassembled text.
    */
  def substringClean(docs: DataFrame, k: Int = 8, minCount: Long = 2): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
        col("col").as("tok"))
    // the spans share `docs`' lineage: a renamed key keeps the join
    // condition an explicit two-sided equality
    val spans = substringSpans(docs, k, minCount)
      .withColumnRenamed("doc_id", "s_doc_id")
    val kept = toks.join(spans,
      col("doc_id") === col("s_doc_id") &&
        col("p") >= col("span_start") && col("p") < col("span_end"),
      "left_anti")
    val rebuilt = kept
      .groupBy("doc_id")
      // bounded: per-doc surviving-token list — capped by the document's
      // own length, a single corpus row, not a skewable key.
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    docs.select("doc_id")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Fellegi-Sunter record-linkage weights (Fellegi & Sunter, JASA
    * 1969): per comparison field, m = P(agree | matched pair) and
    * u = P(agree | unmatched pair), and the field's log-likelihood
    * match weight ln(m/u) — the calibration layer between pair
    * comparison (edit distance, blocking) and clustering/survivorship:
    * it tells you how much EVIDENCE a field agreement actually carries
    * (source agreement on a 20-source corpus ≈ nothing; exact length
    * agreement ≈ a lot).
    *
    * Training pairs are self-labeled from the corpus, both sides
    * linear: MATCHED pairs link each exact-duplicate doc to its group's
    * canonical (one pair per non-canonical member — never the in-group
    * quadratic expansion); UNMATCHED pairs link doc d to doc d+`offset`
    * (a deterministic derangement), EXCLUDING any pair that shares a
    * text_md5 — a corpus whose duplicate groups sit at regular id
    * strides would otherwise leak true matches into the u estimate.
    * Laplace-smoothed
    * ((agree+1)/(n+2)) so a never/always-agreeing field stays finite.
    * One doc-keyed join per side; field agreements are scan-side
    * expressions. Returns per field:
    * (field, n_matched, n_unmatched, m_micro, u_micro, weight_milli).
    */
  def linkageWeights(
      docs: DataFrame,
      fields: Seq[(String, (Column, Column) => Column)],
      offset: Long): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val fieldNames = fields.map(_._1)
    val keyed = docs.select(col("doc_id"), md5(col("text")).as("text_md5"),
      struct(docs.columns.map(col): _*).as("row"))
    val groups = exactGroups(docs)
    val matchedPairs = keyed
      .join(groups, Seq("text_md5"))
      .filter(col("doc_id") =!= col("canonical_doc_id"))
      .select(col("doc_id").as("a"), col("canonical_doc_id").as("b"))
    // exclude pairs that are GENUINE duplicates (same text_md5): a
    // corpus with duplicate groups laid out at regular id strides
    // (ScaleUp copies, batch re-ingestion) would otherwise count true
    // matches as "unmatched", biasing every field's u rate upward
    val ids = keyed.select(col("doc_id"), col("text_md5"))
    val unmatchedPairs = ids
      .select(col("doc_id").as("a"), col("text_md5").as("__ma"),
        (col("doc_id") + offset).as("b"))
      .join(ids.select(col("doc_id").as("b"), col("text_md5").as("__mb")),
        Seq("b"))
      .filter(col("__ma") =!= col("__mb"))
      .select(col("a"), col("b"))
    def agreements(pairs: DataFrame, side: String): DataFrame = {
      val withRows = pairs
        .join(keyed.select(col("doc_id").as("a"), col("row").as("ra")), Seq("a"))
        .join(keyed.select(col("doc_id").as("b"), col("row").as("rb")), Seq("b"))
      val aggs = fields.flatMap { case (nm, f) => Seq(
        count(lit(1)).as(s"n_$nm"),
        sum(when(f(col("ra"), col("rb")), 1L).otherwise(0L)).as(s"ag_$nm"))
      }
      // one aggregation for every field; stack to (field, n, agree)
      val one = withRows.agg(aggs.head, aggs.tail: _*)
      val stacked = fieldNames
        .map(nm => s"'$nm', n_$nm, ag_$nm").mkString(", ")
      one.selectExpr(
        s"stack(${fieldNames.length}, $stacked) AS (field, n_$side, ag_$side)")
    }
    val m = agreements(matchedPairs, "m")
    val u = agreements(unmatchedPairs, "u")
    val pm = (col("ag_m") + 1).cast("double") / (col("n_m") + 2)
    val pu = (col("ag_u") + 1).cast("double") / (col("n_u") + 2)
    m.join(u, "field")
      .select(col("field"), col("n_m").as("n_matched"),
        col("n_u").as("n_unmatched"),
        round(pm * lit(1000000.0)).cast("long").as("m_micro"),
        round(pu * lit(1000000.0)).cast("long").as("u_micro"),
        round(log(pm / pu) * lit(1000.0)).cast("long").as("weight_milli"))
  }

  /** UNSUPERVISED Fellegi-Sunter parameter estimation via EM (Winkler
    * 1988; the jellyfish/Splink estimation step): where
    * [[linkageWeights]] self-labels its pairs, this fits the two-class
    * mixture over AGREEMENT PATTERNS with no labels at all — the
    * estimator a real linkage run uses when no ground truth exists.
    *
    * The candidate pairs are the union of the same two relations
    * (exact-dup→canonical and fixed-shift derangement — a mix known to
    * contain both classes); each pair reduces to its γ ∈ {0,1}^F
    * agreement pattern, patterns aggregate to ≤ 2^F counted rows (ONE
    * aggregation — the only corpus-scale work), and EM iterates
    * driver-side on that bounded table (the kmeansCentroids bounded-
    * model-pull pattern; 2^F rows, never data).
    *
    * Determinism contract: every derived scalar (w_γ, p, m_i, u_i)
    * rounds to 12dp (HALF_UP — Spark SQL round semantics) before use —
    * and p/m/u additionally clamp to [1e-6, 0.999999] (the
    * Splink/fastLink convention) so a saturating run cannot freeze in
    * a degenerate corner or emit an infinite ln(m/u) —
    * pattern-weighted sums run over the 12dp values exactly (BigDecimal
    * here, DECIMAL(38,12) in the oracle), products evaluate
    * left-to-right in field order — so a SQL replay of the same
    * iteration count reproduces every parameter bit-for-bit.
    *
    * Fixed init p=0.1, m=0.9, u=0.1 (the standard orientation anchor:
    * matches agree more than chance). Returns one row per field:
    * (field, n_pairs, p_micro, m_micro, u_micro, weight_milli).
    */
  def linkageWeightsEm(
      docs: DataFrame,
      fields: Seq[(String, (Column, Column) => Column)],
      offset: Long,
      iters: Int): DataFrame = {
    val keyed0 = docs.select(col("doc_id"), md5(col("text")).as("text_md5"))
    val groups = exactGroups(docs)
    val matchedPairs = keyed0
      .join(groups, Seq("text_md5"))
      .filter(col("doc_id") =!= col("canonical_doc_id"))
      .select(col("doc_id").as("a"), col("canonical_doc_id").as("b"))
    val unmatchedPairs = keyed0
      .select(col("doc_id").as("a"), col("text_md5").as("__ma"),
        (col("doc_id") + offset).as("b"))
      .join(keyed0.select(col("doc_id").as("b"), col("text_md5").as("__mb")),
        Seq("b"))
      .filter(col("__ma") =!= col("__mb"))
      .select(col("a"), col("b"))
    linkageWeightsEm(docs, fields, matchedPairs.unionAll(unmatchedPairs),
      iters)
  }

  /** [[linkageWeightsEm]] over a CALLER-CHOSEN candidate-pair mix
    * (a, b) — the production form: feed it the blocked candidates a
    * real linkage run generates (MinHash/LSH candidates plus a
    * background derangement), and EM separates the match class inside
    * that mix with no labels.
    */
  def linkageWeightsEm(
      docs: DataFrame,
      fields: Seq[(String, (Column, Column) => Column)],
      pairs: DataFrame,
      iters: Int): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val spark = docs.sparkSession
    val nf = fields.length
    val keyed = docs.select(col("doc_id"),
      struct(docs.columns.map(col): _*).as("row"))
    val withRows = pairs
      .join(keyed.select(col("doc_id").as("a"), col("row").as("ra")), Seq("a"))
      .join(keyed.select(col("doc_id").as("b"), col("row").as("rb")), Seq("b"))
    val gammaCols = fields.zipWithIndex.map { case ((_, f), i) =>
      when(f(col("ra"), col("rb")), 1).otherwise(0).as(s"g$i")
    }
    // the ONLY corpus-scale aggregation: ≤ 2^F pattern rows out
    val patterns = withRows
      .select(gammaCols: _*)
      .groupBy((0 until nf).map(i => col(s"g$i")): _*)
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => ((0 until nf).map(r.getInt), r.getAs[Long]("n")))
      .toSeq
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    // probability clamp (the Splink/fastLink convention): a saturated
    // m→1 or u→0 freezes EM in a degenerate corner and makes the final
    // ln(m/u) infinite — clamp every parameter to [1e-6, 0.999999]
    // (micro resolution, the output's own granularity) after rounding
    def c12(x: Double): Double =
      math.min(math.max(r12(x), 0.000001), 0.999999)
    val bigN = patterns.map(_._2).sum
    // no candidate pairs -> no estimate (an empty frame, not a NaN EM)
    if (bigN == 0L) {
      import spark.implicits._
      return Seq.empty[(String, Long, Long, Long, Long, Long)]
        .toDF("field", "n_pairs", "p_micro", "m_micro", "u_micro",
          "weight_milli")
    }
    var p = 0.1
    var m = Array.fill(nf)(0.9)
    var u = Array.fill(nf)(0.1)
    for (_ <- 1 to iters) {
      val weighted = patterns.map { case (g, n) =>
        var a = p
        var b = 1.0 - p
        for (i <- 0 until nf) {
          a = a * (if (g(i) == 1) m(i) else 1.0 - m(i))
          b = b * (if (g(i) == 1) u(i) else 1.0 - u(i))
        }
        (g, n, r12(a / (a + b)))
      }
      val sw = weighted.map { case (_, n, w) => BigDecimal(w) * n }.sum
      p = c12(sw.toDouble / bigN.toDouble)
      m = Array.tabulate(nf) { i =>
        val swi = weighted.collect { case (g, n, w) if g(i) == 1 =>
          BigDecimal(w) * n }.sum
        c12(swi.toDouble / sw.toDouble)
      }
      u = Array.tabulate(nf) { i =>
        val sui = weighted.collect { case (g, n, w) if g(i) == 1 =>
          BigDecimal(r12(1.0 - w)) * n }.sum
        c12(sui.toDouble / (bigN.toDouble - sw.toDouble))
      }
    }
    import spark.implicits._
    fields.map(_._1).zipWithIndex.map { case (nm, i) =>
      (nm, bigN,
        math.round(p * 1000000.0),
        math.round(m(i) * 1000000.0),
        math.round(u(i) * 1000000.0),
        BigDecimal(math.log(m(i) / u(i)) * 1000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }.toDF("field", "n_pairs", "p_micro", "m_micro", "u_micro",
      "weight_milli")
  }
}
