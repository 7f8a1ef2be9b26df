package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class RetrievalOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 4 docs, equal lengths (dl terms cancel): "rare" appears in one doc,
  // "common" in three — idf separates them.
  lazy val docs = Seq(
    (1L, "rare x y z"),
    (2L, "common x y z"),
    (3L, "common common y z"),
    (4L, "common a b c")
  ).toDF("doc_id", "text")

  test("bm25: rare terms outrank common ones; tf raises within a term; no-hit docs absent") {
    val out = RetrievalOps.bm25TopK(docs, Seq("rare", "common"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val rankOf = out.map(r => r._1 -> r._2).toMap
    // doc 1 holds the df=1 term — highest idf wins at equal tf and dl
    assert(rankOf(1L) == 1L, out.toSeq)
    // within 'common' (same idf): tf=2 (doc 3) above tf=1 (docs 2, 4)
    assert(rankOf(3L) < rankOf(2L) && rankOf(3L) < rankOf(4L))
    // equal scores tie-break by doc_id, and docs without any query term
    // never appear
    assert(rankOf(2L) < rankOf(4L))
    assert(out.length == 4)
    // k truncates the ranked list
    assert(RetrievalOps.bm25TopK(docs, Seq("common"), k = 2).count() == 2)
  }

  test("rrf fuses by rank only; presence in both lists compounds") {
    val a = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("doc_id", "rank")
    val b = Seq((10L, 2L), (13L, 1L)).toDF("doc_id", "rank")
    val out = RetrievalOps.rrfFuse(Seq(a, b), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // doc 10: 1/61 + 1/62 beats doc 13's single 1/61
    assert(out.head._1 == 10L && out.head._3 == 2L)
    assert(out.head._2 == BigDecimal(1.0 / 61 + 1.0 / 62)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // singles ordered by their one rank, ties by doc_id
    assert(out.map(_._1).toSeq == Seq(10L, 13L, 11L, 12L))
  }

  test("multi-query BM25 with one query ≡ the literal-terms form") {
    val docs = graft.etl.Ingest.table(spark, "/root/testdata/sf0.001", "documents")
    val terms = Seq("spark", "window", "hash")
    val single = RetrievalOps.bm25TopK(docs, terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val multi = RetrievalOps.bm25TopKQueries(
      docs, terms.map(t => (7L, t)).toDF("query_id", "term"), 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(single == multi, s"single $single vs multi $multi")
  }

  test("rankingMetrics equals a plain-Scala reference over seeded random rankings") {
    def refMetrics(exact: Seq[(Long, Long)], approx: Seq[(Long, Long)])
        : Map[Long, (Long, Long, Double, Double, Double)] = {
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def gain(r: Long) = BigDecimal(r6(1.0 / (math.log(r + 1.0) / math.log(2.0))))
      exact.groupBy(_._1).map { case (q, ex) =>
        val ap = approx.filter(_._1 == q).zipWithIndex
          .map { case ((_, n), i) => n -> (i + 1L) }.toMap
        val hits = ex.zipWithIndex.collect {
          case ((_, n), _) if ap.contains(n) => ap(n)
        }
        val k = ex.length.toLong
        val dcg = hits.map(gain).sum
        val idcg = ex.indices.map(i => gain(i + 1L)).sum
        val mrr = if (hits.isEmpty) 0.0 else r6(1.0 / hits.min)
        q -> ((hits.length.toLong, k, r6(hits.length.toDouble / k), mrr,
          r6((dcg / idcg).toDouble)))
      }
    }
    // seeded pseudo-random rankings: 4 queries, k=4, neighbor pool of 12
    val rnd = new scala.util.Random(42)
    val exact = for (q <- 0L until 4L; r <- 0 until 4)
      yield (q, rnd.shuffle((0L until 12L).toList).take(4)(r))
    val approx = for (q <- 0L until 4L; r <- 0 until 4)
      yield (q, rnd.shuffle((0L until 12L).toList).take(4)(r))
    def df(xs: Seq[(Long, Long)]) = xs.groupBy(identity).keys.toSeq // dedup (q,n)
      .groupBy(_._1).toSeq.flatMap { case (_, g) =>
        g.zipWithIndex.map { case ((q, n), i) => (q, n, i + 1L) }
      }.toDF("query_id", "neighbor_id", "rank")
    // rebuild rank-consistent frames: ranks are 1..k per query
    val exD = df(exact)
    val apD = df(approx)
    val got = RetrievalOps.rankingMetrics(exD, apD).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    val exSeq = exD.collect().sortBy(r => (r.getLong(0), r.getLong(2)))
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val apSeq = apD.collect().sortBy(r => (r.getLong(0), r.getLong(2)))
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = refMetrics(exSeq, apSeq)
    assert(got.keySet == want.keySet)
    got.foreach { case (q, g) =>
      assert(g == want(q), s"query $q: spark $g vs reference ${want(q)}")
    }
  }

  test("rankingMetrics: hand-computed recall/MRR/nDCG, perfect and zero cases") {
    // query 1: exact top-3 = (a,b,c); approx ranks: b@1, c@3, a missed.
    // recall = 2/3; MRR = 1 (first hit at approx rank 1);
    // DCG  = g(1) + g(3) = 1 + 0.5      (gains rounded at 6dp)
    // IDCG = g(1) + g(2) + g(3) = 1 + 0.630930 + 0.5
    val exact = Seq(
      (1L, 100L, 1L), (1L, 101L, 2L), (1L, 102L, 3L),
      (2L, 200L, 1L), (2L, 201L, 2L), // query 2: approx ≡ exact → all 1.0
      (3L, 300L, 1L)                  // query 3: approx finds nothing
    ).toDF("query_id", "neighbor_id", "rank")
    val approx = Seq(
      (1L, 101L, 1L), (1L, 999L, 2L), (1L, 102L, 3L),
      (2L, 200L, 1L), (2L, 201L, 2L),
      (3L, 999L, 1L)
    ).toDF("query_id", "neighbor_id", "rank")
    val m = RetrievalOps.rankingMetrics(exact, approx)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val g2 = BigDecimal(1.0 / math.log(3) * math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble // 0.630930
    assert(m(1L)._1 == 2L && m(1L)._2 == 3L)
    assert(m(1L)._3 == BigDecimal(2.0 / 3).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(m(1L)._4 == 1.0)
    assert(m(1L)._5 == BigDecimal(1.5 / (1.5 + g2)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(m(2L) == ((2L, 2L, 1.0, 1.0, 1.0))) // perfect retrieval
    assert(m(3L) == ((0L, 1L, 0.0, 0.0, 0.0))) // total miss
  }

  test("mmrRerank: a near-duplicate of the first pick drops behind a diverse candidate") {
    // query (1,0); a=(4,3) rel .8; b=(8,6) exact duplicate direction of
    // a, rel .8; c=(1,−1) rel .707107 but nearly orthogonal to a.
    val emb = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(4.0, 3.0)),
      (2L, Array(8.0, 6.0)),
      (3L, Array(1.0, -1.0))
    ).toDF("vec_id", "embedding")
    val corpus = SimilarityOps.withNorm(emb)
    val out = RetrievalOps.mmrRerank(corpus, 0L, candidates = 3, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // relevance alone ranks a, b, c — MMR flips b and c: after picking a,
    // b's msim is 1.0 (cos(a,b)=1) so its margin collapses to −100000,
    // while c keeps round(.5·707107 − .5·141421) = 282843
    assert(out.toSeq == Seq(
      (1L, 1L, 800000L, 400000L),
      (2L, 3L, 707107L, 282843L),
      (3L, 2L, 800000L, -100000L)))
    // candidate list shorter than k: everything selected, nothing padded
    assert(RetrievalOps.mmrRerank(corpus, 0L, candidates = 3, k = 5)
      .count() == 3L)
  }

  test("mmrRerank: a zero-norm candidate raises by name, not as a cast overflow") {
    val corpus = SimilarityOps.withNorm(Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(4.0, 3.0)),
      (7L, Array(0.0, 0.0))
    ).toDF("vec_id", "embedding"))
    val e = intercept[Exception](
      RetrievalOps.mmrRerank(corpus, 0L, candidates = 2, k = 2).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("mmrRerank") && m.contains("neighbor_id 7")),
      msgs.mkString("\n"))
    assert(!msgs.exists(_.contains("CAST_OVERFLOW")), msgs.mkString("\n"))
  }

  test("mmrRerank: a row without an embedding (null norm) sorts last, no raise") {
    val rows = Seq((0L, Array(1.0, 0.0)), (1L, Array(4.0, 3.0)), (2L, Array(0.0, 1.0)))
    val corpus = SimilarityOps.withNorm(rows.toDF("vec_id", "embedding"))
    val withNull = corpus.unionByName(SimilarityOps.withNorm(
      Seq((9L, null: Array[Double])).toDF("vec_id", "embedding")))
    def run(c: DataFrame) =
      RetrievalOps.mmrRerank(c, 0L, candidates = 3, k = 2).collect().toSeq
    assert(run(withNull) == run(corpus))
  }

  test("prfExpandTopK: expansion mines FEEDBACK docs only, ≡ hand-expanded query") {
    import spark.implicits._
    // query 'q'; feedback (top-2) must be d1/d2. Their non-query counts:
    // a=3, b=1, c=1 → expandTerms=2 picks a then b (tf DESC, term ASC).
    // d3 is c-heavy: if mining leaked corpus-wide, c (6) would beat b.
    val docs = Seq(
      (1L, "q a a b"),
      (2L, "q a c"),
      (3L, "c c c c c")).toDF("doc_id", "text")
    val prf = RetrievalOps.prfExpandTopK(docs, Seq("q"),
      feedbackDocs = 2, expandTerms = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val hand = RetrievalOps.bm25TopKQueries(docs,
      Seq((0L, "q"), (0L, "a"), (0L, "b")).toDF("query_id", "term"), 3)
      .select("doc_id", "rank", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(prf == hand, s"prf $prf vs hand-expanded $hand")
    // the expanded query now reaches d3 via nothing (no a/b/q) — d3 may
    // only appear through its own terms; with none shared it is absent
    assert(!prf.exists(_._1 == 3L), s"c-only doc must not enter: $prf")
  }

  test("linearFuse: per-list min-max micro norm, exact weighted long sum") {
    import spark.implicits._
    val a = Seq((1L, 10.0), (2L, 5.0), (3L, 0.0)).toDF("doc_id", "score")
    val b = Seq((2L, 1.0), (4L, 1.0)).toDF("doc_id", "score") // constant → 1e6
    val out = RetrievalOps.linearFuse(Seq(a -> 0.5, b -> 0.5), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // a norms to 1e6 / 5e5 / 0; b's constant list maps every doc to 1e6
    assert(out.toSeq == Seq(
      (2L, 750000L, 2L),   // 250000 + 500000
      (1L, 500000L, 1L),
      (4L, 500000L, 1L),   // doc_id tiebreak after doc 1
      (3L, 0L, 1L)), out.mkString(","))
    // asymmetric weights go through the same scale-0 round
    val w = RetrievalOps.linearFuse(Seq(a -> 0.3), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w == Map(1L -> 300000L, 2L -> 150000L, 3L -> 0L))
  }

  test("bm25PassageTopK: MaxP ranks by the BEST passage, with its offset") {
    import spark.implicits._
    // doc 1 concentrates the term in its last chunk (tf 4 there);
    // doc 2 spreads the same four occurrences (best chunk tf 2);
    // doc 3 never matches and must be absent
    val docs = Seq(
      (1L, "x x x x q q q q"),
      (2L, "q x q x q x q x"),
      (3L, "y y y y y y y y")).toDF("doc_id", "text")
    val out = RetrievalOps.bm25PassageTopK(docs, Seq("q"),
      width = 4, stride = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L), out.mkString(","))
    // doc 1's winning passage is the dense window at 1-based offset 5
    assert(out.head == ((1L, 1L, 5L)), out.mkString(","))
    // a doc shorter than the width still scores through its one chunk
    val short = Seq((7L, "q q")).toDF("doc_id", "text")
    val s = RetrievalOps.bm25PassageTopK(short, Seq("q"), 4, 2, 5).collect()
    assert(s.length == 1 && s.head.getLong(3) == 1L)
  }

  test("apMetric: hand-computed AP in exact micro-units, zero-hit queries kept") {
    // query 1: relevant {10,11,12}; approx ranks: 10->1, 11->3 (12 missed)
    //   AP = (1/3)(1/1 + 2/3); micro terms: 1000000 + 666666 -> sum div 3 = 555555
    // query 2: relevant {20}; no hits -> ap 0, n_hits 0
    val exact = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L), (2L, 20L, 1L))
      .toDF("query_id", "neighbor_id", "rank")
    val approx = Seq((1L, 10L, 1L), (1L, 99L, 2L), (1L, 11L, 3L), (2L, 21L, 1L))
      .toDF("query_id", "neighbor_id", "rank")
    val rows = RetrievalOps.apMetric(exact, approx)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(rows(1L) == ((2L, 555555L)))
    assert(rows(2L) == ((0L, 0L)))
  }

  test("teamDraftInterleave: balanced picks in team order, overlap once, cede on empty") {
    val la = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val lb = Seq((1L, 11L, 1L), (1L, 20L, 2L), (1L, 21L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val rows = RetrievalOps.teamDraftInterleave(la, lb, 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    // every doc appears once (11 overlaps but is picked by one team)
    assert(rows.map(_._2).distinct.length == rows.length)
    assert(rows.map(_._2).toSet.subsetOf(Set(10L, 11L, 12L, 20L, 21L)))
    // balance: pick counts differ by at most one
    val byTeam = rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(math.abs(byTeam.getOrElse("a", 0) - byTeam.getOrElse("b", 0)) <= 1)
    // each team's picks respect its own ranking order
    def order(team: String, pref: Seq[Long]) = {
      val picks = rows.filter(_._3 == team).map(_._2).toSeq
      assert(picks == pref.filter(picks.contains),
        s"$team picks ${picks.mkString(",")}")
    }
    order("a", Seq(10L, 11L, 12L))
    order("b", Seq(11L, 20L, 21L))
    // one-sided exhaustion: B empty -> A serves everything, attributed a
    val only = RetrievalOps.teamDraftInterleave(la,
      Seq.empty[(Long, Long, Long)].toDF("query_id", "doc_id", "rank"), 3)
    assert(only.collect().isEmpty) // inner join: no query present in both
    val lbShort = Seq((1L, 30L, 1L)).toDF("query_id", "doc_id", "rank")
    val ced = RetrievalOps.teamDraftInterleave(la, lbShort, 3)
      .collect().map(r => (r.getLong(2), r.getString(3)))
    assert(ced.length == 4 && ced.count(_._2 == "b") == 1,
      s"cede gave ${ced.toSeq}")
  }

  test("apMetric: perfect ranking gives ap_micro = 1000000") {
    val exact = Seq((5L, 1L, 1L), (5L, 2L, 2L)).toDF("query_id", "neighbor_id", "rank")
    val approx = Seq((5L, 1L, 1L), (5L, 2L, 2L)).toDF("query_id", "neighbor_id", "rank")
    val r = RetrievalOps.apMetric(exact, approx).collect().head
    assert(r.getLong(1) == 2L && r.getLong(2) == 1000000L)
  }
}
