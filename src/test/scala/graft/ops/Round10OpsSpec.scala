package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 operator wave: query-likelihood retrieval, EM-trained
  * Fellegi-Sunter, DP count release, personalized PageRank, Heaps law.
  */
class Round10OpsSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  test("qlDirichlet: matching more query terms wins at equal length; exact value") {
    val docs = Seq(
      (1L, "spark window hash pad pad pad pad pad"),
      (2L, "spark window pads pad pad pad pad pad"),
      (3L, "spark alone pads pad pad pad pad padx"),
      (4L, "none here pads pad pad pad pad padxx")
    ).toDF("doc_id", "text")
    val top = RetrievalOps.qlDirichletTopK(docs, Seq("spark", "window", "hash"),
      k = 10, mu = 10.0).collect()
    val ranks = top.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 4 matches nothing: not a candidate at all
    assert(!ranks.contains(4L) && ranks(1L) == 1L && ranks(2L) == 2L &&
      ranks(3L) == 3L, ranks.toString)
    // exact score of doc 1: per-term ln((tf + mu*cf/C) / (dl + mu)),
    // 6dp-rounded terms, summed; C = 32 tokens, dl = 8
    def term(tf: Long, cf: Long): BigDecimal = BigDecimal(
      math.log((tf.toDouble + 10.0 * (cf.toDouble / 32.0)) / (8.0 + 10.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val want = (term(1, 3) + term(1, 2) + term(1, 1)) * 1000000
    assert(top.find(_.getLong(0) == 1L).get.getLong(2) ==
      want.setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
  }

  test("linkageWeightsEm: separable fields recover orientation and match fraction") {
    // 12 docs: 4 exact-dup pairs (8 docs in 4 groups) + 4 singletons.
    // matched pairs (dup -> canonical) agree on lang+source+len;
    // shifted pairs mostly disagree.
    val docs = (0L until 4L).flatMap { g =>
      Seq((g * 2, s"dup text $g", s"l$g", s"s$g", 100L + g * 100),
        (g * 2 + 1, s"dup text $g", s"l$g", s"s$g", 100L + g * 100))
    } ++ (8L until 12L).map(i =>
      (i, s"unique $i", s"l$i", s"s$i", 1000L + i * 300))
    val df = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DedupOps.linkageWeightsEm(df,
      Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
          org.apache.spark.sql.Column)](
        "lang" -> ((a, b) => a.getField("lang") === b.getField("lang")),
        "source" -> ((a, b) => a.getField("source") === b.getField("source")),
        "len" -> ((a, b) => a.getField("n_chars") === b.getField("n_chars"))),
      offset = 3L, iters = 20)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // orientation: every field's m must dominate u, weights positive
    out.foreach { case (f, (_, m, u, w)) =>
      assert(m > u && w > 0, s"$f: m=$m u=$u w=$w")
    }
    // p estimates the match-class share of the pair mix (4 matched of
    // 4 + ~9 shifted pairs): between 15% and 45%
    val p = out.values.head._1
    assert(p > 150000 && p < 450000, s"p_micro=$p")
  }

  test("dpCounts: noise is the seeded inverse-CDF Laplace draw, exactly") {
    val df = Seq(("en", "web"), ("en", "web"), ("en", "web"), ("de", "web"))
      .toDF("lang", "source")
    val out = ProfileOps.dpCounts(df, Seq("lang", "source"), epsilon = 1.0)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4))).toList
    def expectedNoise(key: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dp:$key".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        d.take(2).map("%02x".format(_)).mkString, 16)
      val u = (h.toDouble * 2 + 1) / 131072.0
      val cen = u - 0.5
      val noise = -1.0 * math.signum(cen) * math.log(1.0 - 2.0 * math.abs(cen))
      BigDecimal(noise * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val en = out.find(_._1 == "en").get
    assert(en._2 == 3L && en._3 == expectedNoise("2:en|3:web"), en.toString)
    // release = count + noise, in micro
    assert(math.abs(en._4 - (en._2 * 1000000L + en._3)) <= 1, en.toString)
  }

  test("dpCounts: NULL and '|'-containing keys are distinct groups with distinct seeds") {
    // a NULL lang must stay its own group, and values containing the '|'
    // separator must not alias: ('a|b','s') and ('a','b|s') would share
    // one seed under a plain '|' join
    val df = Seq[(Option[String], String)]((None, "s"), (None, "s"),
      (None, "s"), (Some("a|b"), "s"), (Some("a|b"), "s"), (Some("a"), "b|s"))
      .toDF("lang", "source")
    val out = ProfileOps.dpCounts(df, Seq("lang", "source"))
      .collect().map(r => (Option(r.getString(0)), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 3, out.toString)
    assert(out((None, "s"))._1 == 3L && out((Some("a|b"), "s"))._1 == 2L &&
      out((Some("a"), "b|s"))._1 == 1L, out.toString)
    assert(out((Some("a|b"), "s"))._2 != out((Some("a"), "b|s"))._2,
      s"separator-straddling keys drew identical noise: $out")
  }

  test("personalizedPagerank: mass stays near seeds, sums to ~1, zero unreachable") {
    // chain: 1 -> 2 -> 3, and isolated-from-seeds node 4 -> 5
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val r = GraphOps.personalizedPagerank(edges, "a", "b", seeds, 0.85, 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L)._1 == 1L && r(2L)._1 == 0L)
    // all teleport returns to node 1: it holds the most mass
    assert(r(1L)._2 > r(2L)._2 && r(2L)._2 > r(3L)._2, r.toString)
    // nodes unreachable from the seed converge to 0
    assert(r(4L)._2 == 0.0 && r(5L)._2 == 0.0, r.toString)
    assert(math.abs(r.values.map(_._2).sum - 1.0) < 0.01, r.toString)
  }

  test("quantileNormalize: two sources with shifted scales align by rank") {
    // source b = source a's values + 1000: after normalization, equal
    // ranks map to the SAME pooled value in both sources
    val docs = ((1L to 50L).map(i => (i, "a", i * 2)) ++
      (1L to 50L).map(i => (100 + i, "b", i * 2 + 1000)))
      .toDF("doc_id", "source", "n_chars")
    val out = MixOps.quantileNormalize(docs, "source", "n_chars", "doc_id",
      q = 10).collect()
      .map(r => (r.getString(1), r.getLong(3)) -> r.getLong(4)).toMap
    // same bucket -> same normalized value regardless of source
    (0L until 10L).foreach { b =>
      assert(out(("a", b)) == out(("b", b)), s"bucket $b: $out")
    }
    // normalization is monotone in the bucket
    val norms = (0L until 10L).map(b => out(("a", b)))
    assert(norms == norms.sorted, norms.toString)
  }

  test("simpsonCard: a textbook reversal is flagged in every stratum") {
    // stratum s1: A={10,10}, B={8}; stratum s2: A={2}, B={1,1}:
    // within both strata A > B; pooled: A=(10+10+2)/3=7.33 < B=(8+1+1)/3=3.33
    // — wait, pooled A is larger here; build the classic flip instead:
    // s1: A mean 10 > B mean 9 (A: one row, B: many rows at 9)
    // s2: A mean 2 > B mean 1 (A: many rows at 2, B: one row)
    // pooled: A = (10 + 2*9)/10 ... construct explicitly:
    val rows =
      Seq((1L, "s1", "A", 10L), (2L, "s1", "B", 9L), (3L, "s1", "B", 9L),
        (4L, "s1", "B", 9L), (5L, "s1", "B", 9L), (6L, "s1", "B", 9L),
        (7L, "s2", "A", 2L), (8L, "s2", "A", 2L), (9L, "s2", "A", 2L),
        (10L, "s2", "A", 2L), (11L, "s2", "A", 2L), (12L, "s2", "B", 1L))
    val df = rows.toDF("id", "lang", "source", "v")
    val out = StatsOps.simpsonCard(df, "lang", "source", "A", "B", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(5), r.getLong(6))).toMap
    // per-stratum: A wins both
    assert(out("s1")._1 > 0 && out("s2")._1 > 0, out.toString)
    // pooled: A = (10 + 5*2)/6 = 3.33; B = (5*9 + 1)/6 = 7.67 — B wins
    assert(out("__pooled")._1 < 0, out.toString)
    // both strata contradict the pooled sign -> flagged
    assert(out("s1")._2 == 1L && out("s2")._2 == 1L &&
      out("__pooled")._2 == 0L, out.toString)
  }

  test("bleuAdjacent: identical pair scores 1, disjoint pair 0, BP penalizes short") {
    val docs = Seq(
      (1L, Seq("a", "b", "c", "d", "e")),  // cand 1 vs ref 2: identical
      (2L, Seq("a", "b", "c", "d", "e")),  // cand 2 vs ref 3: disjoint
      (3L, Seq("x", "y", "z", "w", "v")),  // cand 3 vs ref 4: short cand
      (4L, Seq("x", "y", "z", "w", "v", "q", "r", "s", "t", "u"))
    ).toDF("doc_id", "toks")
    val out = TextOps.bleuAdjacent(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(6), r.getLong(7))).toMap
    assert(out(1L) == (1000000L, 1000000L), out.toString) // perfect match
    assert(out(2L)._2 == 0L, out.toString)                // no overlap
    // cand 3 = the first half of ref 4: all p_n = 1, BP = e^(1-10/5)
    val bp = BigDecimal(math.exp(1.0 - 2.0) * 1000000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(out(3L)._1 == bp && out(3L)._2 == bp, out.toString)
  }

  test("heapsLaw: a two-point power law is recovered exactly") {
    // doc ids 0..31 -> buckets 0..31 (max 31, (id*32) div 32 = id).
    // tokens per doc: 10 each => N_j = 10(j+1); new vocab per doc:
    // constant 5 => V_j = 5(j+1): V = 0.5 * N^1 — beta = 1, K = 0.5.
    val docs = (0 until 32).map { d =>
      val toks = (0 until 5).map(i => s"w_${d}_$i") ++
        (0 until 5).map(i => s"w_${d}_${i % 5}")
      (d.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val r = ProfileOps.heapsLaw(docs).collect().head
    assert(r.getLong(0) == 32L)
    assert(math.abs(r.getLong(1) - 1000000L) <= 2L, s"beta=${r.getLong(1)}")
    // lnK = ln(0.5) = -0.693147... (floor rounding)
    assert(math.abs(r.getLong(2) - -693148L) <= 2L, s"lnk=${r.getLong(2)}")
  }
}
