package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence pins: every operator whose hot path runs in a native
  * expression instead of an interpreted higher-order-function chain is
  * property-tested against the composed Column formulation (the `*Hof`
  * references in test sources: SmoothingFoldReference,
  * TextFormReference, PairExpansionReference),
  * on randomized inputs that exercise duplicate timestamps, negative
  * values, and round-half boundaries.
  */
class NativeFoldEquivalenceSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def randomEvents(seed: Long, keys: Int, perKey: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to keys).flatMap { k =>
      (1 to perKey).map { i =>
        // duplicate timestamps on ~1/4 of events; values mix plain
        // doubles with exact half-micro boundaries (x.0000005) that
        // stress the HALF_UP rounding equivalence
        val t = (if (rnd.nextInt(4) == 0) rnd.nextInt(perKey / 2 + 1)
          else i) * 1000000L
        val v = rnd.nextInt(8) match {
          case 0 => (rnd.nextInt(2000) - 1000) / 2.0 * 1e-6
          case 1 => rnd.nextInt(100) + 0.5
          case _ => (rnd.nextDouble() - 0.5) * 200.0
        }
        (k.toLong, t, (k * 10000 + i).toLong, v)
      }
    }.toDF("k", "t", "q", "v")
  }

  test("theilSen: native == HOF on randomized series") {
    (1 to 3).foreach { seed =>
      val ev = randomEvents(seed, keys = 7, perKey = 25)
        .select(col("k"), col("t"), col("v"))
      assert(
        collectSorted(TimeSeriesOps.theilSen(ev, "k", "t", "v")) ==
          collectSorted(PairExpansionReference.theilSenHof(ev, "k", "t", "v")),
        s"seed $seed")
    }
  }

  test("emaSmooth: native == HOF on randomized series") {
    (1 to 3).foreach { seed =>
      val ev = randomEvents(seed + 10, keys = 7, perKey = 25)
      assert(
        collectSorted(TimeSeriesOps.emaSmooth(ev, "k", "t", "q", "v")) ==
          collectSorted(SmoothingFoldReference.emaSmoothHof(ev, "k", "t", "q", "v")),
        s"seed $seed")
    }
  }

  test("holtSmooth: native == HOF on randomized series") {
    (1 to 3).foreach { seed =>
      val ev = randomEvents(seed + 20, keys = 7, perKey = 25)
      assert(
        collectSorted(TimeSeriesOps.holtSmooth(ev, "k", "t", "q", "v")) ==
          collectSorted(SmoothingFoldReference.holtSmoothHof(ev, "k", "t", "q", "v")),
        s"seed $seed")
    }
  }

  test("holtWintersSmooth: native == HOF, periods 2/3/7") {
    Seq(2, 3, 7).foreach { p =>
      val ev = randomEvents(30 + p, keys = 5, perKey = 23)
      assert(
        collectSorted(
          TimeSeriesOps.holtWintersSmooth(ev, "k", "t", "q", "v", p)) ==
          collectSorted(
            SmoothingFoldReference.holtWintersSmoothHof(ev, "k", "t", "q", "v", p)),
        s"period $p")
    }
  }

  test("native folds keep the hot-key guard raising by name") {
    val ev = randomEvents(99, keys = 1, perKey = 12)
    Seq(
      () => TimeSeriesOps.theilSen(ev, "k", "t", "v",
        maxEventsPerKey = 5).collect(),
      () => TimeSeriesOps.emaSmooth(ev, "k", "t", "q", "v",
        maxEventsPerKey = 5).collect(),
      () => TimeSeriesOps.holtSmooth(ev, "k", "t", "q", "v",
        maxEventsPerKey = 5).collect(),
      () => TimeSeriesOps.holtWintersSmooth(ev, "k", "t", "q", "v", 7,
        maxEventsPerKey = 5).collect()
    ).foreach { run =>
      val e = intercept[Exception](run())
      assert(e.getMessage.contains("maxEventsPerKey"), e.getMessage)
    }
  }

  // ---- LSH bucket-pair expansion ----

  private def randomCorpus(seed: Long, n: Int, dim: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      // clumped vectors so real near-dup pairs exist at the threshold
      val base = Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
      val emb = base.map(x => x + rnd.nextGaussian() * 0.7)
      (i.toLong, emb.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("lshPairsCore: native bucket expansion == HOF chain (both modes)") {
    val corpus = SimilarityOps.withNorm(randomCorpus(5, 80, 16))
    val sigs = SimilarityOps.lshAutoSignatureStage(corpus, tables = 4)
    val members = SimilarityOps.lshBucketMembers(
      sigs, targetBucket = 8, tables = 4,
      maxBucket = DedupOps.DefaultMaxBucket, probes = 2)
    val hof = PairExpansionReference.lshScoredPairsHof(members, 0.2)
      .groupBy("vec_a", "vec_b")
      .agg(round(max(col("cos")), 6).as("cos_sim"), min(col("t")).as("min_t"))
    val native = SimilarityOps.nearDupPairsLshByTable(
      sigs, 0.2, targetBucket = 8, tables = 4, probes = 2)
    assert(collectSorted(native) == collectSorted(hof))
    assert(native.count() > 0, "degenerate test corpus: no pairs at all")
  }

  test("lshPairsCore: zero-norm NaN-cosine pairs survive identically " +
    "(the edge an ANSI-divide restructure would break)") {
    // regression pin: any restructure that moves the cosine out
    // of the in-bucket native into a Column-level divide hits ANSI
    // DIVIDE_BY_ZERO on zero-norm vectors, where the native's Java
    // division yields NaN — which then SURVIVES the nan-safe >=
    // threshold. This pins the operator's NaN surface against the
    // in-bucket native reference on a corpus containing a zero vector.
    val base = randomCorpus(31, 70, 16)
    val corpus = SimilarityOps.withNorm(
      base.unionAll(Seq((70L, Seq.fill(16)(0.0))).toDF("vec_id", "embedding")))
    val sigs = SimilarityOps.lshAutoSignatureStage(corpus, tables = 4)
    val members = SimilarityOps.lshBucketMembers(
      sigs, targetBucket = 8, tables = 4,
      maxBucket = DedupOps.DefaultMaxBucket, probes = 2)
    // reference = the in-bucket fused native (the BlockPairs cosine
    // scorer) over the FAT member frame — the HOF column chain would
    // itself raise under ANSI on the zero divisor; the in-bucket native's
    // Java division is the semantics the operator always had
    val ref = members
      .select(col("t"), explode(
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.expressions.BlockPairs(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("ms")),
            graft.expressions.PairScorer.Cosine(0.2, raiseOnZeroNorm = false)))).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        col("p.cos").as("cos"))
      .groupBy("vec_a", "vec_b")
      .agg(round(max(col("cos")), 6).as("cos_sim"))
    val native = SimilarityOps.nearDupPairsLshFrom(
      sigs, 0.2, targetBucket = 8, tables = 4, probes = 2)
    assert(collectSorted(native) == collectSorted(ref))
    assert(native.filter(isnan(col("cos_sim"))).count() > 0,
      "zero-norm vector produced no NaN pair — edge case not exercised")
  }

  test("shingles: native == HOF, k in 1..4, incl. short/empty/unicode docs") {
    val rnd = new scala.util.Random(13)
    val words = Seq("a", "bb", "ccc", "Ünïcodé", "字", "x1", "", "zz")
    val docs = (0 until 60).map { i =>
      val n = rnd.nextInt(9) // 0..8 tokens — includes below-k docs
      (i.toLong, (0 until n).map(_ => words(rnd.nextInt(words.length))))
    }.toDF("doc_id", "toks")
    (1 to 4).foreach { k =>
      val nat = docs.select(col("doc_id"),
        TextOps.shingles(col("toks"), k).as("g"))
      val hof = docs.select(col("doc_id"),
        TextFormReference.shinglesHof(col("toks"), k).as("g"))
      assert(collectSorted(nat) == collectSorted(hof), s"k=$k")
    }
  }

  test("chunks: native == HOF across width/stride, incl. short docs") {
    val rnd = new scala.util.Random(17)
    val words = Seq("a", "bb", "ccc", "Ünïcodé", "字", "x1", "zz")
    val docs = (0 until 60).map { i =>
      val n = rnd.nextInt(14) // 0..13 tokens
      (i.toLong, (0 until n).map(_ => words(rnd.nextInt(words.length))))
    }.toDF("doc_id", "toks")
    Seq((4, 2), (4, 4), (3, 1), (6, 5), (1, 1)).foreach { case (w, st) =>
      val nat = docs.select(col("doc_id"),
        TextOps.chunks(col("toks"), w, st).as("c"))
      val hof = docs.select(col("doc_id"),
        TextFormReference.chunksHof(col("toks"), w, st).as("c"))
      assert(collectSorted(nat) == collectSorted(hof), s"width=$w stride=$st")
    }
  }

  test("sortedLongOverlap: native merge scan == size(array_intersect)") {
    import org.apache.spark.sql.graft.ColumnBridge
    val rnd = new scala.util.Random(23)
    // duplicate-carrying sorted arrays — array_intersect dedups, the
    // merge scan must too
    val rows = (0 until 200).map { i =>
      def arr() = (0 until rnd.nextInt(20))
        .map(_ => rnd.nextInt(12).toLong).sorted
      (i.toLong, arr(), arr())
    }.toDF("id", "a", "b")
    val nat = rows.select(col("id"), ColumnBridge.column(
      graft.expressions.SortedLongOverlap(
        ColumnBridge.expression(col("a")),
        ColumnBridge.expression(col("b")))).as("o"))
    val ref = rows.select(col("id"),
      size(array_intersect(col("a"), col("b"))).as("o"))
    assert(collectSorted(nat) == collectSorted(ref))
  }

  test("setjoin: native prefix expansion == HOF; operator output unchanged") {
    val rnd = new scala.util.Random(29)
    val words = ('a' to 'p').map(_.toString)
    // clumps: 20 base docs, each repeated 4× with the LAST token
    // mutated on some copies — real ≥ 0.5-jaccard pairs exist
    val docs = (0 until 80).map { i =>
      val clumpRnd = new scala.util.Random(i / 4)
      val base = (0 until 10 + clumpRnd.nextInt(4))
        .map(_ => words(clumpRnd.nextInt(words.length)))
      val mutated =
        if (i % 4 < 2) base
        else base.init :+ words(rnd.nextInt(words.length))
      (i.toLong, mutated.mkString(" "))
    }.toDF("doc_id", "text")
    val buckets = PairExpansionReference.setJoinBuckets(docs, 0.5)
    val nat = buckets
      .select(explode(org.apache.spark.sql.graft.ColumnBridge.column(
        graft.expressions.BlockPairs(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("es")),
          graft.expressions.PairScorer.PrefixBound(0.5, 1e-9)))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    val hof = PairExpansionReference.setJoinExpandHof(buckets, 0.5)
    assert(collectSorted(nat) == collectSorted(hof))
    // end-to-end: the full operator still returns a non-trivial result
    // (the oracle pins exact values; this pins non-degeneracy)
    assert(DedupOps.similarityJoinExact(docs, 0.5).count() > 0)
  }

  test("setjoin: operator == brute-force jaccard join " +
    "(no false negatives, ground truth)") {
    // ground-truth pin for candidate-volume tightenings (the PPJoin
    // indexing-prefix filter removes ZERO candidates — it is provably
    // subsumed by the positional bound, see archive/OPTIMIZATION_r17.md). Any
    // candidate pruning must keep this exact equality on clumped
    // corpora at two thresholds.
    Seq(0.5, 0.7).foreach { t =>
      val rnd = new scala.util.Random(41)
      val words = ('a' to 'r').map(_.toString)
      val docs = (0 until 90).map { i =>
        val clumpRnd = new scala.util.Random(i / 3)
        val base = (0 until 8 + clumpRnd.nextInt(7))
          .map(_ => words(clumpRnd.nextInt(words.length)))
        val mutated =
          if (i % 3 == 0) base
          else base.init :+ words(rnd.nextInt(words.length))
        (i.toLong, mutated.mkString(" "))
      }.toDF("doc_id", "text")
      // ground truth: every doc pair's exact jaccard over distinct
      // 3-shingles, no candidate pruning anywhere
      val sets = docs.select(col("doc_id"),
        array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 3))
          .as("sh"))
      val brute = sets.as("x").join(sets.as("y"),
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          size(array_intersect(col("x.sh"), col("y.sh"))).as("nc"),
          size(col("x.sh")).as("na"), size(col("y.sh")).as("nb"))
        .select(col("doc_a"), col("doc_b"),
          round(col("nc") / (col("na") + col("nb") - col("nc"))
            .cast("double"), 6).as("jaccard"))
        .filter(col("jaccard") >= t)
      val op = DedupOps.similarityJoinExact(docs, t)
      assert(collectSorted(op) == collectSorted(brute), s"t=$t")
      assert(op.count() > 0, s"degenerate corpus at t=$t")
    }
  }

  test("table-range union == from-scratch rebuild (escalation identity)") {
    val corpus = SimilarityOps.withNorm(randomCorpus(11, 80, 16))
    val full = SimilarityOps.nearDupPairsLsh(corpus, 0.2,
      targetBucket = 8, tables = 8, probes = 2)
    val first = SimilarityOps.nearDupPairsLsh(corpus, 0.2,
      targetBucket = 8, tables = 4, probes = 2)
    val extra = SimilarityOps.nearDupPairsLshTableRange(corpus, 0.2,
      targetBucket = 8, fromTable = 4, tables = 8, probes = 2)
    val union = first.unionAll(extra)
      .groupBy("vec_a", "vec_b")
      .agg(max(col("cos_sim")).as("cos_sim"))
    assert(collectSorted(union) == collectSorted(full))
  }
}
