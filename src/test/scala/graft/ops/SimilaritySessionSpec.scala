package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class SimilaritySessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Orthogonal-ish basis: cosine structure is known exactly.
  lazy val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f), 0),
    (1L, Array(0.9f, 0.1f, 0f, 0f), 0),  // closest to 0
    (2L, Array(0f, 1f, 0f, 0f), 0),      // orthogonal to 0
    (3L, Array(-1f, 0f, 0f, 0f), 1),     // opposite, other label
    (4L, Array(0.8f, 0.2f, 0f, 0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("brute-force cosine top-k ranks by similarity with id tiebreak") {
    val c = SimilarityOps.withNorm(vecs)
    val top = SimilarityOps.bruteTopK(c, c.filter(col("vec_id") === 0), 4)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"), r.getAs[Double]("cos_sim")))
    assert(top.map(_._1).toSeq == Seq(1L, 4L, 2L, 3L))
    assert(top.head._3 > 0.99)
    assert(top.last._3 == -1.0)
  }

  test("IVF top-k only searches the query's cell") {
    val c = SimilarityOps.withNorm(vecs)
    val top = SimilarityOps.ivfTopK(c, c.filter(col("vec_id") === 0), 4)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(top == Set(1L, 2L)) // label-0 cell only
  }

  test("hyperplane LSH: deterministic planes, bucket-restricted top-k") {
    // same seed → same planes (the oracle SQL inlines these constants)
    val r = new scala.util.Random(SimilarityOps.LshSeed)
    val expected = Seq.fill(SimilarityOps.LshPlanes)(
      Seq.fill(SimilarityOps.LshDim)(if (r.nextBoolean()) 1.0 else -1.0))
    assert(SimilarityOps.hyperplanes.map(_.toSeq) == expected)
    val c = SimilarityOps.withNorm(vecs)
    val top = SimilarityOps.lshTopK(c, c.filter(col("vec_id") === 0), 4)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    // vecs 1 and 4 are sign-identical to vec 0 on every plane (their
    // first component dominates every ±1 dot); vec 3 is sign-OPPOSITE on
    // every plane; vec 2's signature depends on independent plane bits
    assert(top.contains(1L) && top.contains(4L) && !top.contains(3L))
  }

  test("multi-probe LSH: probes=1 ≡ lshTopK; more probes never lose neighbors") {
    val c = SimilarityOps.withNorm(vecs)
    val qs = c.filter(col("vec_id") === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val base = pairs(SimilarityOps.lshTopK(c, qs, 4))
    assert(pairs(SimilarityOps.lshTopKMultiProbe(c, qs, 4, 1)) == base)
    // each extra probe opens a superset of buckets, and k=4 ≥ corpus
    // size here, so the neighbor set can only grow
    var prev = base
    for (p <- 2 to SimilarityOps.LshPlanes + 1) {
      val cur = pairs(SimilarityOps.lshTopKMultiProbe(c, qs, 4, p))
      assert(prev.subsetOf(cur), s"probes=$p lost neighbors")
      prev = cur
    }
    // probing every 1-bit flip of an 8-bit signature must reach vec 2
    // (orthogonal — roughly half its plane signs differ) only if it is
    // 1 flip away; sign-opposite vec 3 (8 flips away) stays unreachable
    assert(!prev.contains((0L, 3L)))
    // ... and no pair ever duplicates (distinct probe sigs, one sig per
    // corpus vector)
    val all = SimilarityOps.lshTopKMultiProbe(c, qs, 4, 4)
      .select("query_id", "neighbor_id").collect()
    assert(all.length == all.distinct.length)
  }

  test("multi-table LSH: OR over tables, deduped pairs, 1-table slice consistent") {
    val c = SimilarityOps.withNorm(vecs)
    val qs = c.filter(col("vec_id") === 0)
    val cand = SimilarityOps.lshTableCandidates(c, qs).collect()
    val byN = cand.map(r => r.getAs[Long]("neighbor_id") -> r).toMap
    // one row per (query, neighbor) even when several tables match
    assert(cand.length == byN.size)
    // vecs 1 and 4 are sign-identical to vec 0 under EVERY ±1 plane
    // (first component dominates), so they match in all L tables →
    // min_t = 0; sign-opposite vec 3 matches in none
    assert(byN.contains(1L) && byN(1L).getAs[Int]("min_t") == 0)
    assert(byN.contains(4L) && byN(4L).getAs[Int]("min_t") == 0)
    assert(!byN.contains(3L))
  }

  test("IVF nprobe: probe-1 ≡ trained-cell assignment; more probes never lose neighbors") {
    val c = SimilarityOps.withNorm(vecs)
    val cents = SimilarityOps.kmeansCentroids(vecs, k = 2, iters = 2)
    assert(cents.nonEmpty)
    val qs = c.filter(col("vec_id") === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // probe-1 must equal ivfTopK over the trained assignment — the rank-1
    // probe IS the assignment argmin
    val assigned = c.withColumn("label", SimilarityOps.assignCell(cents))
    val viaIvf = pairs(SimilarityOps.ivfTopK(
      assigned, assigned.filter(col("vec_id") === 0), 4))
    assert(pairs(SimilarityOps.ivfTopKMultiProbe(c, qs, cents, 4, 1)) == viaIvf)
    // growing nprobe only opens more cells; at nprobe = k (all cells) the
    // probe search IS the brute-force search
    var prev = viaIvf
    for (p <- 2 to cents.length) {
      val cur = pairs(SimilarityOps.ivfTopKMultiProbe(c, qs, cents, 4, p))
      assert(prev.subsetOf(cur), s"nprobe=$p lost neighbors")
      prev = cur
    }
    assert(prev == pairs(SimilarityOps.bruteTopK(c, qs, 4)))
  }

  test("SPANN replication: replicas=1 ≡ trained-cell IVF; more replicas never lose; all cells ≡ brute") {
    val c = SimilarityOps.withNorm(vecs)
    val cents = SimilarityOps.kmeansCentroids(vecs, k = 2, iters = 2)
    assert(cents.nonEmpty)
    val qs = c.filter(col("vec_id") === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // 1-replica index = plain trained-cell assignment
    val assigned = c.withColumn("label", SimilarityOps.assignCell(cents))
    val viaIvf = pairs(SimilarityOps.ivfTopK(
      assigned, assigned.filter(col("vec_id") === 0), 4))
    assert(pairs(SimilarityOps.ivfTopKReplicated(c, qs, cents, 4, 1)) == viaIvf)
    // each extra replica only ADDS vectors to the query's posting list
    var prev = viaIvf
    for (r <- 2 to cents.length) {
      val cur = pairs(SimilarityOps.ivfTopKReplicated(c, qs, cents, 4, r))
      assert(prev.subsetOf(cur), s"replicas=$r lost neighbors")
      prev = cur
    }
    // replicated into EVERY cell, the one probed cell holds the whole
    // corpus — the search IS brute force
    assert(prev == pairs(SimilarityOps.bruteTopK(c, qs, 4)))
    // and no (query, neighbor) pair ever duplicates (distinct replica
    // cells per vector, one probed cell per query)
    val all = SimilarityOps.ivfTopKReplicated(c, qs, cents, 4, cents.length)
      .select("query_id", "neighbor_id").collect()
    assert(all.length == all.distinct.length)
  }

  // Exactly-representable components (multiples of 0.25): every product,
  // sum, and 6dp round below is EXACT in double arithmetic, so rank
  // comparisons are deterministic, not tolerance-based.
  lazy val pvecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0.75f, 0.25f, 0f, 0f)),
    (2L, Array(0f, 1f, 0.5f, 0f)),
    (3L, Array(-1f, 0f, 0f, 0.5f)),
    (4L, Array(0.5f, 0.25f, 0f, 0f)),
    (5L, Array(0f, 0.5f, 1f, 0.25f))
  ).toDF("vec_id", "embedding")

  test("PQ: one-scan codebook training ≡ independent per-subspace k-means") {
    val books = SimilarityOps.pqCodebooks(pvecs, m = 2, subDim = 2, k = 3, iters = 2)
    val indep = (0 until 2).map { s =>
      SimilarityOps.kmeansCentroids(
        pvecs.select(col("vec_id"),
          slice(col("embedding"), s * 2 + 1, 2).as("embedding")),
        k = 3, iters = 2)
    }
    assert(books.map(_.map { case (id, c) => (id, c.toSeq) }) ==
      indep.map(_.map { case (id, c) => (id, c.toSeq) }))
  }

  test("PQ: codes come from the codebooks, one column per subspace") {
    val books = SimilarityOps.pqCodebooks(pvecs, m = 2, subDim = 2, k = 3, iters = 2)
    val codes = SimilarityOps.pqCodes(pvecs, books, subDim = 2)
    assert(codes.columns.toSeq == Seq("vec_id", "code_0", "code_1"))
    val rows = codes.collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(books(0).exists(_._1 == r.getAs[Long]("code_0")))
      assert(books(1).exists(_._1 == r.getAs[Long]("code_1")))
    }
  }

  test("PQ: with a codebook big enough to be lossless, ADC ≡ exact L2 top-k") {
    // k = corpus size → after one iteration each sub-codebook holds
    // exactly the distinct subvectors (duplicate seeds collapse to the
    // lowest cell id), so quantization loses nothing and the ADC ranking
    // must equal the exact one, with identical distances
    val books = SimilarityOps.pqCodebooks(pvecs, m = 2, subDim = 2, k = 6, iters = 1)
    val qs = pvecs.filter(col("vec_id") === 0)
    val adc = SimilarityOps.pqTopK(pvecs, qs, books, subDim = 2, k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("adist")))
    val exact = SimilarityOps.bruteTopKL2(pvecs, qs, k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("d")))
    assert(adc.toSeq == exact.toSeq)
  }

  test("PQ: refine with a full-corpus shortlist ≡ exact L2 top-k, even on a lossy codebook") {
    // deliberately coarse codebook (k=2) so raw ADC CAN misrank, but a
    // shortlist covering the whole corpus makes the exact re-rank total
    val books = SimilarityOps.pqCodebooks(pvecs, m = 2, subDim = 2, k = 2, iters = 2)
    val qs = pvecs.filter(col("vec_id") === 0)
    val refined = SimilarityOps.pqTopKRefined(pvecs, qs,
      SimilarityOps.pqTopK(pvecs, qs, books, subDim = 2, k = 10), k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("d")))
    val exact = SimilarityOps.bruteTopKL2(pvecs, qs, k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("d")))
    assert(refined.toSeq == exact.toSeq)
  }

  test("PQ: empty corpus degrades to empty codebooks and empty frames") {
    val empty = pvecs.filter(lit(false))
    val books = SimilarityOps.pqCodebooks(empty, m = 2, subDim = 2, k = 3, iters = 2)
    assert(books == Seq(Seq.empty, Seq.empty))
    assert(SimilarityOps.pqCodes(empty, books, subDim = 2).count() == 0)
    assert(SimilarityOps.pqTopK(pvecs, pvecs, books, subDim = 2, k = 3).count() == 0)
  }

  test("binary codes: MSB-first sign packing, Hamming ranks by shared signs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 4-dim check of the packing arithmetic: signs 1,0,1,0 → 0b1010
    val small = Seq(0L -> Array(1f, -1f, 2f, -3f)).toDF("vec_id", "embedding")
    val packed = small.select(
      SimilarityOps.signBits(col("embedding"), 1, 4).as("b")).head.getLong(0)
    assert(packed == 10L, s"expected 0b1010, got $packed")
    // 64-dim retrieval: neighbor 1 shares query 0's sign pattern
    // exactly (hamming 0), neighbor 2 flips one dim, neighbor 3 flips
    // many — rank order must follow
    def v(flips: Set[Int]): Array[Float] =
      Array.tabulate(64)(i => if (flips(i)) -1f else 1f)
    val emb = Seq(
      0L -> v(Set()), 1L -> v(Set()), 2L -> v(Set(7)),
      3L -> v((0 until 40).toSet)).toDF("vec_id", "embedding")
    val out = SimilarityOps.binaryTopK(
      emb, emb.filter(col("vec_id") === 0L), 3)
      .collect().map(r => (r.getLong(2), r.getLong(1), r.getLong(3))).sorted
    assert(out.toSeq == Seq((1L, 1L, 0L), (2L, 2L, 1L), (3L, 3L, 40L)), out.toSeq)
  }

  test("near-dup pairs: bucketed, thresholded, a<b") {
    val c = SimilarityOps.withNorm(vecs)
    val pairs = SimilarityOps.nearDupPairs(c, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L))) // 3-4 same label but cos<0.9
    // r17: a cell above the collect ceiling no longer raises — the
    // selector routes it to the join arm, which emits the same pairs
    // (arm equality pinned in NearDupRegimeSpec)
    val routed = SimilarityOps.nearDupPairs(c, 0.9, maxBucket = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed == pairs)
  }

  test("nearDupPairsLsh: exact dups always collide; precision is exact; guard raises") {
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(1.0f, 0f, 0f, 0f)),   // exact dup of 1 — same sig in every table
      (3L, Array(0.95f, 0.05f, 0f, 0f)),
      (4L, Array(0f, 1.0f, 0f, 0f)),
      (5L, Array(0f, 0f, 1.0f, 0f))
    ).toDF("vec_id", "embedding")
    val corpus = SimilarityOps.withNorm(vecs)
    val got = SimilarityOps.nearDupPairsLsh(corpus, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical vectors share every table's signature: (1,2) MUST appear
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 1.0, s"$got")
    // precision: every emitted pair truly clears the threshold (exact cosine)
    val brute = (for {
      a <- 1L to 5L; b <- (a + 1) to 5L
    } yield (a, b)).toSet
    assert(got.keySet.subsetOf(brute))
    got.foreach { case (_, c) => assert(c >= 0.9) }
    // n ≤ targetBucket → 1-bit prefixes (2 buckets/table) — still runs
    assert(SimilarityOps.nearDupPairsLsh(corpus, 1.1).count() == 0)
    // a degenerate bucket (all-identical corpus) raises by bucket name;
    // the ceiling is stated in HOME members and scaled by (1+probes)
    // inside the core (r11 advice), so 6 clones vs maxBucket=5 now sit
    // UNDER the effective 15-entry guard — maxBucket=1 (effective 3)
    // still trips on the 6-clone home bucket
    val clones = SimilarityOps.withNorm(
      (1L to 6L).map(i => (i, Array(1.0f, 0f, 0f, 0f))).toDF("vec_id", "embedding"))
    assert(SimilarityOps.nearDupPairsLsh(clones, 0.9, maxBucket = 5)
      .count() == 15L, "6 clones fit under the probe-scaled ceiling")
    val e = intercept[Exception] {
      SimilarityOps.nearDupPairsLsh(clones, 0.9, maxBucket = 1).collect()
    }
    assert(e.getMessage.contains("nearDupPairsLsh"), e.getMessage)
  }

  test("sessionization: gap splits, stats per user") {
    val M = 60L * 1000000L
    val ev = Seq(
      (1L, 0 * M, 1L), (1L, 10 * M, 2L), (1L, 20 * M, 3L), // session 1: 20min
      (1L, 60 * M, 4L),                                    // session 2 (40min gap)
      (2L, 0 * M, 5L)                                      // single event
    ).toDF("user_id", "ts_us", "event_id")
    val st = SessionOps.sessionStats(ev).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"), r.getAs[Long]("max_session_us"))))
      .toMap
    assert(st(1L) == ((2L, 4L, 20 * M)))
    assert(st(2L) == ((1L, 1L, 0L)))
  }

  test("funnel: sequencing enforced — later stages only count after earlier ones") {
    val ev = Seq(
      // user 1: full funnel in order
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      // user 2: purchase BEFORE the first view — must not convert;
      // the click at the view's exact ts must not count either (strict >)
      (2L, 5L, "purchase"), (2L, 10L, "view"), (2L, 10L, "click"),
      (2L, 40L, "click"),
      // user 3: no funnel events at all
      (3L, 10L, "error"),
      // user 4: stages reachable only via the SECOND view (first view
      // has no later click) — greedy-first still converts because the
      // first click after the FIRST view is what stage 2 wants
      (4L, 10L, "view"), (4L, 50L, "view"), (4L, 60L, "click"),
      (4L, 55L, "purchase")
    ).toDF("user_id", "ts_us", "event_type")
    val out = SessionOps.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("stage1_us"), r.getAs[Long]("stage2_us"),
          r.getAs[Long]("stage3_us"), r.getAs[Long]("n_stages")))).toMap
    assert(out(1L) == ((10L, 20L, 30L, 3L)))
    assert(out(2L) == ((10L, 40L, -1L, 2L))) // early purchase ignored, ts-tie click ignored
    assert(out(3L) == ((-1L, -1L, -1L, 0L)))
    // purchase at 55 precedes the click at 60 → stage 3 unreached
    assert(out(4L) == ((10L, 60L, -1L, 2L)))
  }

  test("windowed funnel: gap == maxGapUs converts, gap+1 stalls, later events can't rescue") {
    val ev = Seq(
      // user 1: click exactly AT the window boundary (inclusive), then
      // purchase inside its own window → full conversion
      (1L, 10L, "view"), (1L, 110L, "click"), (1L, 150L, "purchase"),
      // user 2: click one past the window → stage 2 expires; the later
      // purchase is orphaned (its predecessor never converted)
      (2L, 10L, "view"), (2L, 111L, "click"), (2L, 120L, "purchase"),
      // user 3: first click out of window and a SECOND, later click too
      // (later events are later still — no rescue), purchase in window
      // of nothing
      (3L, 10L, "view"), (3L, 115L, "click"), (3L, 130L, "click"),
      // user 4: stage 1→2 converts mid-window, 2→3 exactly at boundary
      (4L, 10L, "view"), (4L, 50L, "click"), (4L, 150L, "purchase")
    ).toDF("user_id", "ts_us", "event_type")
    val out = SessionOps.funnel(ev, Seq("view", "click", "purchase"),
      maxGapUs = 100L)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("stage1_us"), r.getAs[Long]("stage2_us"),
          r.getAs[Long]("stage3_us"), r.getAs[Long]("n_stages")))).toMap
    assert(out(1L) == ((10L, 110L, 150L, 3L)), "boundary gap must convert")
    assert(out(2L) == ((10L, -1L, -1L, 1L)), "boundary+1 must expire")
    assert(out(3L) == ((10L, -1L, -1L, 1L)))
    assert(out(4L) == ((10L, 50L, 150L, 3L)))
    // unbounded default reproduces the unwindowed funnel exactly
    val unb = SessionOps.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_stages")).toMap
    assert(unb(2L) == 3L && unb(3L) == 2L)
  }

  test("hot-key guard: a pathological key fails loudly with the key named") {
    val ev = ((1 to 20).map(i => (7L, i.toLong, "view")) :+ ((2L, 1L, "view")))
      .toDF("user_id", "ts_us", "event_type")
    // generous ceiling: both keys pass
    assert(SessionOps.funnel(ev, Seq("view"), maxEventsPerKey = 100)
      .count() == 2)
    // ceiling below the hot key's 20 events: loud failure naming key 7
    val e = intercept[Exception] {
      SessionOps.funnel(ev, Seq("view"), maxEventsPerKey = 10).collect()
    }
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains("exceeding maxEventsPerKey=10") && msg.contains("key 7"),
      s"unexpected error: $msg")
  }

  test("multimodal plumbing: decodeStub matches typed extractFeatures") {
    val docs = Seq((0L, "hello world", 11L), (1L, "spark", 5L), (2L, "x" * 600, 600L))
      .toDF("doc_id", "text", "n_chars")
    val media = MultimodalOps.packDocuments(docs)
    val meta = MultimodalOps.decodeStub(media).collect()
      .map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Long]("byte_len"), r.getAs[String]("payload_md5"), r.getAs[Long]("n_frames"))))
      .toMap
    assert(meta(0L)._1 == 11L)
    assert(meta(2L)._3 == 3L) // ceil(600/256)

    import spark.implicits._
    val typed = media.as[MultimodalOps.MediaRow]
    val feats = MultimodalOps.extractFeatures(typed).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(0L).payload_md5 == meta(0L)._2) // codegen path == JVM path
    assert(feats(0L).feature.length == 8)
    assert(feats(2L).n_frames == meta(2L)._3)
  }

  test("multimodal resize stub: quarter payload, halved dimensions") {
    val docs = Seq((0L, "hello world!", 12L), (1L, "", 0L))
      .toDF("doc_id", "text", "n_chars")
    val out = MultimodalOps.resizeStub(MultimodalOps.packDocuments(docs))
      .collect().map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height"),
          new String(r.getAs[Array[Byte]]("thumb"), "UTF-8"))))
      .toMap
    assert(out(0L) == ((320, 240, "hel"))) // ceil(12/4) = 3 bytes kept
    assert(out(1L) == ((320, 240, "")))    // empty payload survives
  }

  test("kmeansCells separates well-clustered data and keeps cell ids stable") {
    // two tight blobs; seeds are vec_id 0 (blob A) and 1 (blob B), so
    // after any number of Lloyd steps cell 0 = A, cell 1 = B
    val blob = Seq(
      (0L, Array(10f, 0f, 0f, 0f)), (2L, Array(11f, 0f, 0f, 0f)),
      (4L, Array(9.5f, 0.5f, 0f, 0f)),
      (1L, Array(0f, 10f, 0f, 0f)), (3L, Array(0f, 11f, 0f, 0f)),
      (5L, Array(0.5f, 9.5f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val cells = SimilarityOps.kmeansCells(blob, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells == Map(0L -> 0L, 2L -> 0L, 4L -> 0L, 1L -> 1L, 3L -> 1L, 5L -> 1L))
  }

  test("kmeansCells accepts array<double> embeddings (e.g. hashingTf output)") {
    // same blobs as above but double-typed — seeding must read the
    // element type it finds, not assume float
    val blob = Seq(
      (0L, Array(10.0, 0.0)), (2L, Array(11.0, 0.0)),
      (1L, Array(0.0, 10.0)), (3L, Array(0.0, 11.0))
    ).toDF("vec_id", "embedding")
    val cells = SimilarityOps.kmeansCells(blob, k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells == Map(0L -> 0L, 2L -> 0L, 1L -> 1L, 3L -> 1L))
  }

  test("hashingTf: counts sum to token count, hash matches JVM md5, empties drop") {
    val df = Seq(
      (1L, Seq("alpha", "beta", "alpha", "gamma")),
      (2L, Seq("alpha")),
      (3L, Seq.empty[String])
    ).toDF("id", "toks")
    val dim = 16
    val out = SimilarityOps.hashingTf(df, Seq("id"), "toks", dim)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[scala.collection.Seq[Double]]("embedding")).toMap
    assert(out.keySet == Set(1L, 2L)) // empty token array drops
    assert(out(1L).length == dim && out(1L).sum == 4.0)
    assert(out(2L).sum == 1.0)
    // the bucket is the first 4 md5 hex digits mod dim, verified off-Spark
    def bucket(tok: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (Integer.parseInt(d.substring(0, 4), 16) % dim)
    }
    assert(out(2L)(bucket("alpha")) == 1.0)
    assert(out(1L)(bucket("alpha")) >= 2.0)
  }

  test("truncated retrieval: slice+renorm space; full shortlist ≡ exact brute") {
    val c = SimilarityOps.withNorm(vecs)
    val qs = c.filter(col("vec_id") === 0)
    // truncation to d=2 keeps (x, y): vec 2 (0,1,..) is orthogonal to
    // vec 0 in BOTH spaces; 1 and 4 stay near-parallel to 0
    val t = SimilarityOps.truncatedTopK(c, qs, d = 2, k = 2)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(t == Set(1L, 4L))
    // shortlist covering the whole corpus makes the funnel exact: the
    // re-rank IS brute force then
    val exact = SimilarityOps.bruteTopK(c, qs, 4)
      .select("query_id", "neighbor_id", "rank").collect().toSeq
    val refined = SimilarityOps.truncatedTopKRefined(c, qs, d = 2, k = 4,
      shortlist = 10).select("query_id", "neighbor_id", "rank").collect().toSeq
    assert(refined.sortBy(_.getLong(2)) == exact.sortBy(_.getLong(2)))
  }

  test("semanticDedup: far-from-centroid member survives, near-copies drop") {
    // k=2 seeds are vec 0 and 1. After one Lloyd's iteration the cells
    // are {0,2,4} (4 lands in cell 0 on the distance tie → smaller cell
    // id) and {1,3}. Hand-computed dominance (centroid distance DESC):
    // cell 0 orders (4, 2, 0) and cos(2,0)=0.9939 ≥ 0.95 drops 0 — the
    // member CLOSER to the cell core than its near-copy 2; cell 1 orders
    // (1, 3) and cos(1,3)=0.9806 drops 3. Orthogonal 4 has no near-dup.
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0.2f, 0f)),
      (4L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.semanticDedup(emb, k = 2, iters = 1, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L)) // every row comes back
    assert(out(0L) == (0L, 0L) && out(2L) == (0L, 1L), s"cell0: $out")
    assert(out(3L) == (1L, 0L) && out(1L) == (1L, 1L), s"cell1: $out")
    assert(out(4L)._2 == 1L)
    // an unreachable threshold keeps everything
    val all = SimilarityOps.semanticDedup(emb, 2, 1, threshold = 1.1)
      .collect()
    assert(all.length == 5 && all.forall(_.getLong(2) == 1L))
    // empty corpus: empty result, not a crash
    assert(SimilarityOps.semanticDedup(emb.filter(lit(false)), 2, 1, 0.9)
      .collect().isEmpty)
    // a degenerate cell past the quadratic ceiling raises by cell id
    val cents = Seq((0L, Array(1.0, 0.0, 0.0, 0.0)))
    val e = intercept[Exception] {
      SimilarityOps.semanticDedup(emb, cents, threshold = 0.95,
        roundDp = 6, maxPerCell = 4).collect()
    }
    assert(e.getMessage.contains("semanticDedup") &&
      e.getMessage.contains("0"), e.getMessage)
    // a zero vector sharing a cell raises ANSI DIVIDE_BY_ZERO, as the
    // cosine's Spark `/` does
    val zero = emb.unionAll(Seq((5L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val z = intercept[Exception](SimilarityOps.semanticDedup(zero, cents,
      threshold = 0.95, roundDp = 6).collect())
    assert(Iterator.iterate[Throwable](z)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")), z.toString)
  }

  test("random projection: deterministic sparse ±1 matrix, exact dot products") {
    val w = SimilarityOps.rpWeights(4, 4)
    assert(w == SimilarityOps.rpWeights(4, 4)) // regenerates bit-identically
    assert(w.flatten.forall(v => v == -1 || v == 0 || v == 1))
    assert(w.flatten.exists(_ != 0), "degenerate all-zero matrix")
    val emb = Seq((0L, Array(1f, 2f, 3f, 4f)), (1L, Array(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.randomProjectLong(emb, w)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 8) // 2 vecs × 4 dims
    // each projected component is exactly the signed sum the weights say
    for (j <- 0 until 4) {
      val expect = Seq(1d, 2d, 3d, 4d).zip(w(j)).map { case (x, s) => x * s }.sum
      assert(out((0L, j.toLong)) == expect, s"dim $j")
    }
    // the withNorm-shaped variant carries the same values as an array
    val proj = SimilarityOps.randomProject(emb, w)
      .filter(col("vec_id") === 0L).select("embedding").collect()
      .head.getSeq[Double](0)
    assert(proj == (0 until 4).map(j => out((0L, j.toLong))))
  }

  test("hard negatives: only cross-label neighbors, similarity-ranked") {
    val c = SimilarityOps.withNorm(vecs)
    val negs = SimilarityOps.hardNegatives(c, c.filter(col("vec_id") === 0), 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
    // label(0)=0; cross-label corpus = {3 (opposite), 4 (near)}: vec 4
    // outranks vec 3, and the same-label near-twin vec 1 NEVER appears
    assert(negs.map(_._1).toSeq == Seq(4L, 3L))
    assert(negs.head._2 > 0.9 && negs.last._2 == -1.0)
  }

  test("k-center greedy: farthest-point order, ties by vec_id, cover assignment") {
    // 1-D line positions 0, 1, 9, 10, 5 (padded to 4 dims). Greedy from
    // seed vec 0 (pos 0): farthest is pos 10 (vec 3, d²=100); then min-
    // distance-to-{0,10} maximizes at pos 5 (vec 4, d²=25); then pos 9
    // and pos 1 tie at d²=1 → vec_id tiebreak picks vec 1 (pos 1).
    val emb = Seq(
      (0L, Array(0f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(9f, 0f, 0f, 0f)),
      (3L, Array(10f, 0f, 0f, 0f)),
      (4L, Array(5f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val centers = SimilarityOps.kcenterCenters(emb, k = 4)
    assert(centers.map(_._1) == Seq(0L, 3L, 4L, 1L))
    val asg = SimilarityOps.kcenterAssign(emb, centers)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // centers carry their selection order and cover themselves at d²=0
    assert(asg(0L) == (0L, 0L, 0.0) && asg(3L) == (1L, 3L, 0.0))
    assert(asg(4L) == (2L, 4L, 0.0) && asg(1L) == (3L, 1L, 0.0))
    // the one non-center (pos 9) covers to the nearest center (pos 10)
    assert(asg(2L) == (-1L, 3L, 1.0))
    // empty corpus: benign empties on both halves
    assert(SimilarityOps.kcenterCenters(emb.filter(lit(false)), 3).isEmpty)
    assert(SimilarityOps.kcenterAssign(emb, Seq.empty).collect().isEmpty)
    // k > distinct rows: selection stops when every row is a center
    // (appending a duplicate would fan out the oracle's cid join)
    val all = SimilarityOps.kcenterCenters(emb, k = 99)
    assert(all.length == emb.count())
    assert(all.map(_._1).distinct.length == all.length, "no duplicate centers")
  }

  test("k-center parallel seeding: O(rounds) scans, cover radius within 2x of greedy") {
    // 16 points on a 1-D line with three tight clumps and outliers —
    // enough structure that a bad seeding would blow the radius
    val pts = Seq(0f, 1f, 2f, 10f, 11f, 12f, 30f, 31f, 32f, 50f,
      51f, 52f, 70f, 71f, 90f, 100f)
    val emb = pts.zipWithIndex
      .map { case (p, i) => (i.toLong, Array(p, 0f, 0f, 0f)) }
      .toDF("vec_id", "embedding")
    def radius(cs: Seq[(Long, Array[Double])]) =
      SimilarityOps.kcenterAssign(emb, cs)
        .agg(org.apache.spark.sql.functions.max("d2")).collect()(0).getDouble(0)
    val greedy = SimilarityOps.kcenterCenters(emb, k = 4)
    val par = SimilarityOps.kcenterParallelCenters(emb, k = 4,
      rounds = 2, oversample = 8)
    assert(par.length == 4)
    assert(par.map(_._1).distinct.length == 4, "no duplicate centers")
    assert(par.map { case (id, a) => (id, a.toSeq) } ==
      SimilarityOps.kcenterParallelCenters(emb, 4, 2, 8)
        .map { case (id, a) => (id, a.toSeq) },
      "parallel seeding must be deterministic")
    // greedy is a 2-approx of optimal; the batched seeding must stay
    // within 2x of GREEDY's cover radius (d² compares as 4x)
    assert(radius(par) <= 4.0 * radius(greedy) + 1e-9,
      s"par radius² ${radius(par)} vs greedy ${radius(greedy)}")
    // degenerate: k larger than the candidate pool still terminates
    // with distinct centers only
    val small = SimilarityOps.kcenterParallelCenters(
      emb.filter(col("vec_id") < 3), k = 10, rounds = 2, oversample = 4)
    assert(small.length == 3 && small.map(_._1).distinct.length == 3)
    assert(SimilarityOps.kcenterParallelCenters(
      emb.filter(lit(false)), 3).isEmpty)
  }
}
