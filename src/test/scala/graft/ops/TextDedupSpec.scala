package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Text-analysis + dedup operators over handcrafted fixtures with known
  * answers.
  */
class TextDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox jumps over a sleepy dog"), // near dup
    (3L, "completely different text about spark engines here"),
    (4L, "ab cd") // shorter than shingle size
  ).toDF("doc_id", "text")

  test("token counting: whitespace and BPE-ish") {
    val r = docs.select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.bpeTokenCount(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(r(0L) == ((9L, 9L)))
    assert(r(4L) == ((2L, 2L)))
    // digits count one-per-char, punctuation separately
    val b = Seq((9L, "ab12, cd!")).toDF("doc_id", "text")
      .select(TextOps.bpeTokenCount(col("text"))).head().getLong(0)
    assert(b == 6L) // ab,1,2,",",cd,"!"
  }

  test("quality: stopword ratio and mean token length") {
    val r = docs.withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), TextOps.stopwordRatio(col("toks"))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r(0L) == 0.222222) // "the" twice out of 9, rounded to 6 places
    assert(r(3L) == 0.0)
  }

  test("scan-side repetition signals: distinct ratio and top-token share") {
    val r = docs.withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        TextOps.distinctRatio(col("toks")).as("dr"),
        TextOps.topTokenShare(col("toks")).as("ts"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // doc 0: 9 tokens, 8 distinct ("the" twice) → dr 8/9, top share 2/9
    assert(r(0L) == ((0.888889, 0.222222)))
    // doc 4: "ab cd" — all distinct, top share 1/2
    assert(r(4L) == ((1.0, 0.5)))
    // and the array forms agree with the aggregated text_repetition
    // computation on every doc (same numbers via explode+groupBy)
    val agg = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum("cnt").as("n"), count(lit(1)).as("nd"), max("cnt").as("top"))
      .select(col("doc_id"),
        round(col("nd").cast("double") / col("n"), 6).as("dr"),
        round(col("top").cast("double") / col("n"), 6).as("ts"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(agg == r)
  }

  test("span corruption: input+target reconstruct the original exactly") {
    val rows = docs.withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), col("text"),
        TextOps.spanCorrupt(col("doc_id"), col("toks"), 3, 40).as("sc"))
      .select(col("doc_id"), col("text"), col("sc.input"), col("sc.target"),
        col("sc.n_masked"))
      .collect()
    var sawMasked = false
    rows.foreach { r =>
      val (text, input, target, nMasked) =
        (r.getString(1), r.getString(2), r.getString(3), r.getLong(4))
      // target holds one span per sentinel plus the closing sentinel
      val spans = target.split("<extra_id_\\d+>", -1).map(_.trim)
      // spans(0) is the empty prefix before sentinel 0
      val fills = spans.drop(1)
      assert(fills.length == nMasked + 1 && fills.last.isEmpty,
        s"target shape: $target")
      // splice each fill back over its sentinel — must give the original
      var rebuilt = input
      fills.dropRight(1).zipWithIndex.foreach { case (f, k) =>
        rebuilt = rebuilt.replace(s"<extra_id_$k>", f)
      }
      assert(rebuilt.replaceAll(" +", " ").trim == text.trim,
        s"doc ${r.getLong(0)}: $rebuilt != $text")
      if (nMasked > 0) sawMasked = true
      // sentinel count in input matches n_masked
      assert("<extra_id_\\d+>".r.findAllIn(input).length == nMasked)
    }
    assert(sawMasked, "mask rate 40% drew nothing — hash draw broken?")
    // empty token array degrades to the all-sentinel pair
    val e = Seq((99L, Array.empty[String])).toDF("doc_id", "toks")
      .select(TextOps.spanCorrupt(col("doc_id"), col("toks"), 3, 40).as("sc"))
      .select("sc.input", "sc.target", "sc.n_masked").head()
    assert(e.getString(0) == "" && e.getString(1) == "<extra_id_0>" &&
      e.getLong(2) == 0L)
  }

  test("langid: marker argmax with und fallback") {
    val fx = Seq(
      (0L, "the cat and the dog is here"),
      (1L, "der hund und die katze ist hier"),
      (2L, "el perro y la casa es aqui"),
      (3L, "xyzzy plugh qwerty")
    ).toDF("doc_id", "text").withColumn("toks", TextOps.tokens(col("text")))
    val r = fx.select(col("doc_id"), TextOps.langId(col("toks"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r == Map(0L -> "en", 1L -> "de", 2L -> "es", 3L -> "und"))
  }

  test("fingerprint: deterministic, null for short docs") {
    val r = docs.withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), TextOps.fingerprint(col("toks"))).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(r(0L) == r(1L) && r(0L).isDefined) // identical docs, same fp
    assert(r(4L).isEmpty)                     // 2 tokens < k=3
  }

  test("exact dedup groups duplicates under one canonical id") {
    val g = DedupOps.exactGroups(docs).collect()
      .map(r => r.getAs[Long]("canonical_doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(g(0L) == 2L) // docs 0 and 1
    assert(g(2L) == 1L)
  }

  test("minhash LSH: exact dups collide in every band, distinct docs don't") {
    val sh = DedupOps.shingled(docs)
    val pairs = DedupOps.candidatePairs(
      DedupOps.lshBands(DedupOps.minhashSignature(sh)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("candidatePairs: a bucket above the ceiling fails by name, not by OOM") {
    val bands = DedupOps.lshBands(DedupOps.minhashSignature(DedupOps.shingled(docs)))
    // dup docs 0/1 collide in every band → buckets of size 2; ceiling 1
    // makes them pathological
    val e = intercept[Exception] {
      DedupOps.candidatePairs(bands, maxBucket = 1).collect()
    }
    assert(e.getMessage.contains("candidatePairs bucket"), e.getMessage)
    // at the default ceiling the same input passes untouched
    assert(DedupOps.candidatePairs(bands).collect().nonEmpty)
  }

  test("ngram jaccard: 1.0 for identical docs, high for near dups") {
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("doc_a", "doc_b")
    val j = DedupOps.ngramJaccardSets(pairs,
      DedupOps.candidateShingleSets(pairs, docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 2L)) > 0.3 && j((0L, 2L)) < 1.0)
  }

  test("simhash: equal texts equal hashes; near dups within small hamming") {
    val h = DedupOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h(0L) == h(1L))
    assert(h(0L).length == 64 && h(0L).forall(c => c == '0' || c == '1'))
    def hamming(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(hamming(h(0L), h(2L)) < hamming(h(0L), h(3L)))
  }

  test("chunks: full coverage, overlap, clamped tail, short-doc identity") {
    import spark.implicits._
    def chunksOf(n: Int, w: Int, s: Int): Seq[(Int, Int)] = {
      val toks = (1 to n).map(i => s"t$i").mkString(" ")
      Seq(toks).toDF("text")
        .select(explode(TextOps.chunks(TextOps.tokens(col("text")), w, s)).as("c"))
        .select(col("c.chunk_start"), size(split(col("c.chunk"), " ")))
        .as[(Int, Int)].collect().toSeq
    }
    assert(chunksOf(10, 32, 24) == Seq((1, 10)))           // short doc: itself
    assert(chunksOf(32, 32, 24) == Seq((1, 32)))           // exact fit: one chunk
    assert(chunksOf(33, 32, 24) == Seq((1, 32), (25, 9)))  // tail token covered
    assert(chunksOf(56, 32, 24) == Seq((1, 32), (25, 32))) // flush final window
    // every token index is inside some chunk
    val covered = chunksOf(100, 32, 24)
      .flatMap { case (st, len) => st until (st + len) }.toSet
    assert(covered == (1 to 100).toSet)
  }

  test("duplicateClusters: transitive chains collapse, components stay disjoint") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // chain 1-2-3 (1~3 only transitively), pair 4-5, singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L)
    // both paths — the driver union-find fast path and the distributed
    // min-label propagation — must agree exactly
    val fast = DedupOps.duplicateClusters(docs, pairs)
      .as[(Long, Long)].collect().toMap
    val dist = DedupOps.duplicateClusters(docs, pairs, driverMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast == expect)
    assert(dist == expect)
  }

  test("similarityJoinExact equals the naive all-pairs join (no false negatives)") {
    import spark.implicits._
    // near-dup family (0,1 identical; 2 overlapping), plus distinct docs
    // sharing COMMON shingles — the skew case prefix filtering excludes
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy cat tonight"),
      (3L, "a completely different document about spark engines here"),
      (4L, "a completely different document about flink engines here"),
      (5L, "the quick unrelated text with common words the the the")
    ).toDF("doc_id", "text")
    val t = 0.4
    val got = DedupOps.similarityJoinExact(corpus, t)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // naive ground truth from the same distinct shingle sets
    val sets = DedupOps.shingled(corpus).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble /
        sets(a).union(sets(b)).size
      if j >= t
    } yield (a, b)).toSet
    assert(got == expect)
    assert(expect.contains((0L, 1L)) && expect.contains((0L, 2L)))
  }

  test("similarityJoinExact: no false negatives across thresholds incl. inexact-double products") {
    import spark.implicits._
    // t=0.7 is the trap case the ceil-epsilon guards: 0.7*10 floats to
    // 7.000000000000001, so a bare ceil would demand overlap 8 of 10 and
    // silently drop genuinely-0.7-similar pairs. Docs below have 10-token
    // (= 9-shingle at k=2 / varies with ShingleK) texts with controlled
    // overlap; equality against the naive all-pairs join at each t is the
    // no-false-negatives proof.
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "alpha beta gamma delta epsilon zeta eta nu xi omicron"),
      (4L, "pi rho sigma tau upsilon phi chi psi omega aleph"),
      (5L, "pi rho sigma tau upsilon phi chi psi omega bet"),
      (6L, "alpha beta unrelated words entirely shared shared shared here now")
    ).toDF("doc_id", "text")
    val sets = DedupOps.shingled(corpus).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    for (t <- Seq(0.3, 0.5, 0.7, 0.75, 0.9)) {
      val got = DedupOps.similarityJoinExact(corpus, t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val expect = (for {
        a <- sets.keys; b <- sets.keys if a < b
        j = sets(a).intersect(sets(b)).size.toDouble /
          sets(a).union(sets(b)).size
        if j >= t
      } yield (a, b)).toSet
      assert(got == expect, s"threshold $t: got $got expected $expect")
    }
  }

  test("substringSpans marks repeated k-gram spans and merges overlaps") {
    import spark.implicits._
    // docs 1 and 2 share the 10-token run "t1 ... t10" → with k=4 every
    // window inside it repeats, and the per-doc hits [1,5),[2,6)...[7,11)
    // must merge to ONE span [1,11). doc 3 is all-unique (no spans);
    // doc 4 is shorter than k (no grams at all).
    val shared = (1 to 10).map("t" + _).mkString(" ")
    val docs = Seq(
      (1L, shared + " ax bx cx"),
      (2L, "qx rx " + shared),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8"),
      (4L, "v1 v2 v3")
    ).toDF("doc_id", "text")
    val got = DedupOps.substringSpans(docs, k = 4, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 11L), (2L, 3L, 13L)))

    // applying the spans: shared runs cut, untouched docs intact, order kept
    val clean = DedupOps.substringClean(docs, k = 4, minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean == Map(
      1L -> "ax bx cx", 2L -> "qx rx",
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8", 4L -> "v1 v2 v3"))
  }

  test("substringClean: the span join compares two distinct keys, never doc_id with itself") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("trivially-true-equals", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("trivially true equals predicate")) warned.add(m)
      }
    }
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
    val clean = try DedupOps.substringClean(docs, k = 4, minCount = 2)
    finally {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
    }
    assert(warned.isEmpty, warned)
    val selfEq = clean.queryExecution.analyzed.collect {
      case j: Join => j.condition.toSeq.flatMap(_.collect {
        case e @ EqualTo(a: Attribute, b: Attribute) if a.exprId == b.exprId => e
      })
    }.flatten
    assert(selfEq.isEmpty, selfEq)
  }

  test("substringSpans equals a sequential reference on random small-vocab corpora") {
    import spark.implicits._
    // small vocabulary forces repeated k-grams; the reference recomputes
    // spans the obvious way (count all grams, mark, merge sequentially)
    for (seed <- Seq(7, 11)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c")
      val k = 3
      val docs = (1L to 12L).map(id =>
        (id, (1 to 6 + rnd.nextInt(10)).map(_ => vocab(rnd.nextInt(3))).mkString(" ")))
      val grams = docs.flatMap { case (id, text) =>
        val t = text.split(" ")
        (0 to t.length - k).map(i => (id, i + 1, t.slice(i, i + k).mkString(" ")))
      }
      val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
      val expect = docs.flatMap { case (id, _) =>
        val hits = grams.filter(g => g._1 == id && counts(g._3) >= 2)
          .map(g => (g._2.toLong, g._2.toLong + k)).sorted
        // sequential island merge
        hits.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (s, e)) =>
          acc.lastOption match {
            case Some((ps, pe)) if s <= pe => acc.init :+ (ps, math.max(pe, e))
            case _ => acc :+ (s, e)
          }
        }.map { case (s, e) => (id, s, e) }
      }.toSet
      val got = DedupOps.substringSpans(docs.toDF("doc_id", "text"), k = k, minCount = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect, s"seed $seed")
    }
  }

  test("duplicateClusters fails loudly when the round bound is too low") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException](
      DedupOps.duplicateClusters(docs, chain, maxRounds = 1, driverMaxEdges = 0))
  }

  test("canonicalize folds case, punctuation, and whitespace variants together") {
    import spark.implicits._
    val c = Seq(
      (1L, "Hello,  World!"),
      (2L, "hello world"),
      (3L, "  HELLO --- world  "),
      (4L, "hello worlds"))
      .toDF("id", "text")
      .select(col("id"), TextOps.canonicalize(col("text")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(c(1L) == "hello world" && c(2L) == "hello world" && c(3L) == "hello world")
    assert(c(4L) == "hello worlds") // real differences survive
  }

  test("piiScrub masks emails and IPs before digit runs") {
    import spark.implicits._
    val m = Seq(
      (1L, "contact john.doe+x@example.com now"),
      (2L, "server at 192.168.0.1 port 8080"),
      (3L, "id 1234567 and 9 single"),
      (4L, "clean text"))
      .toDF("id", "text")
      .select(col("id"), TextOps.piiScrub(col("text")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(m(1L) == "contact <EMAIL> now")
    // the IP is one <IP>, not four <NUM>s — order of application
    assert(m(2L) == "server at <IP> port <NUM>")
    assert(m(3L) == "id <NUM> and 9 single")
    assert(m(4L) == "clean text")
  }

  test("incremental dedup classifies a new batch against the ingested corpus") {
    import spark.implicits._
    val existing = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark engines here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact vs existing
      (11L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 0 (jaccard 7/8)
      (12L, "some entirely unrelated sentence with many fresh words"),
      (13L, "some entirely unrelated sentence with many fresh words"), // dup of 12
      (14L, "ab cd") // shorter than the shingle size → always new
    ).toDF("doc_id", "text")
    val st = DedupOps.incrementalStatus(existing, batch, 0.5)
      .as[(Long, String)].collect().toMap
    assert(st == Map(
      10L -> "exact_dup_existing",
      11L -> "near_dup_existing",
      12L -> "new",
      13L -> "exact_dup_in_batch",
      14L -> "new"))
    // empty sides degrade, not error: everything in the batch is new
    // against an empty corpus; an empty batch classifies to nothing
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val vsEmpty = DedupOps.incrementalStatus(noDocs, batch, 0.5)
      .as[(Long, String)].collect().toMap
    assert(vsEmpty.values.toSet == Set("new", "exact_dup_in_batch"))
    assert(DedupOps.incrementalStatus(existing, noDocs, 0.5).count() == 0)
  }

  test("simhash fails loudly past the packed-slot token limit") {
    import spark.implicits._
    val big = Seq((7L, Seq.fill(33000)("tok").mkString(" ")))
      .toDF("doc_id", "text")
    val e = intercept[Exception](DedupOps.simhash(big).collect())
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + messages(t.getCause)
    assert(messages(e).contains("pre-chunk doc_id=7"))
  }

  test("editDistancePairs: blocked, thresholded, order-sensitive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", "b1"), // dist(1,2)=1
      (2L, "alpha betg", "b1"),
      (3L, "alpha XXXX", "b1"), // dist to 1 = 4 (boundary, kept)
      (4L, "alpha beta", "b2"), // identical to 1 but other block: no pair
      (5L, "beta alpha", "b1")  // same token SET as 1 — edit-far, excluded
    ).toDF("doc_id", "s", "blk")
    val pairs = DedupOps.editDistancePairs(docs, col("s"), col("blk"), maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs((1L, 2L)) == 1L && pairs((1L, 3L)) == 4L)
    // empty input: no groups, no pairs
    assert(DedupOps.editDistancePairs(
      docs.filter(lit(false)), col("s"), col("blk"), 4).count() == 0)
    // a degenerate block past the quadratic ceiling raises by name
    val e = intercept[Exception] {
      DedupOps.editDistancePairs(docs, col("s"), col("blk"), 4,
        maxPerBlock = 3).collect()
    }
    assert(e.getMessage.contains("editDistancePairs") &&
      e.getMessage.contains("b1"), e.getMessage)
    val ej = intercept[Exception] {
      DedupOps.jaroPairs(docs, col("s"), col("blk"), 500000L,
        maxPerBlock = 3).collect()
    }
    assert(ej.getMessage.contains("jaroPairs") &&
      ej.getMessage.contains("b1"), ej.getMessage)
  }

  test("topKPerDoc bounds a pair surface to each doc's k best partners") {
    import spark.implicits._
    // a 6-doc clump where everything matches everything (15 pairs):
    // the cap keeps a pair iff it ranks in either endpoint's top-k
    val clump = (0 until 6).map(i =>
      (i.toLong, "alpha beta " + ("x" * i), "b1"))
      .toDF("doc_id", "s", "blk")
    val pairs = DedupOps.jaroPairs(clump, col("s"), col("blk"), 500000L)
    assert(pairs.count() == 15, "the clump must be all-pairs")
    val capped = DedupOps.topKPerDoc(pairs, "jw_micro", 2)
    assert(capped.count() < 15 && capped.count() > 0)
    // every doc keeps at most... a pair can survive via EITHER side,
    // so the bound is arcs: each doc contributes <= k arcs
    assert(capped.count() <= 6 * 2)
    // the strongest partner of every doc always survives (rank 1)
    val best = pairs
      .select(col("doc_a").as("q"), col("doc_b").as("o"), col("jw_micro"))
      .unionAll(pairs.select(col("doc_b"), col("doc_a"), col("jw_micro")))
      .orderBy(col("q"), col("jw_micro").desc, col("o"))
      .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        val r = rs.head
        (math.min(q, r.getLong(1)), math.max(q, r.getLong(1)))
      }.toSet
    val kept = capped.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(best.subsetOf(kept),
      s"missing strongest arcs: ${best -- kept}")
    intercept[IllegalArgumentException] {
      DedupOps.topKPerDoc(pairs, "jw_micro", 0)
    }
  }

  test("editDistancePairsSegmented: exactly the blocked form's pairs (PassJoin pigeonhole)") {
    import spark.implicits._
    // a randomized corpus deliberately covering the filter's hard
    // cases: dense near-dup clumps (edits scattered across segment
    // boundaries), insert/delete pairs (segment positions SHIFT),
    // mixed lengths, strings at/below the k+1 partition minimum (the
    // short pool), and cross short-long pairs near the length gap
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val alpha = "abcdef"
    def randStr(seed: Long, len: Int): String =
      (0 until len).map(i =>
        alpha(Math.floorMod(mix(seed * 131 + i), alpha.length))).mkString
    def edit(s: String, seed: Long): String = {
      val ops = 1 + Math.floorMod(mix(seed), 4L).toInt
      (0 until ops).foldLeft(s) { (t, j) =>
        if (t.isEmpty) t
        else {
          val p = Math.floorMod(mix(seed * 31 + j), t.length.toLong).toInt
          Math.floorMod(mix(seed * 37 + j), 3L) match {
            case 0 => t.updated(p, alpha(Math.floorMod(
              mix(seed * 41 + j), alpha.length.toLong).toInt)) // sub
            case 1 => t.take(p) + t.drop(p + 1)                // delete
            case _ => t.take(p) + "z" + t.drop(p)              // insert
          }
        }
      }
    }
    val rows = (0 until 60).flatMap { c =>
      val baseStr = randStr(c, 12 + Math.floorMod(mix(c), 14L).toInt)
      val blk = s"b${c % 4}"
      (0 until 4).map(v =>
        (c * 10L + v, if (v == 0) baseStr else edit(baseStr, c * 7L + v), blk))
    } ++ Seq( // explicit short-pool and boundary cases
      (9001L, "ab", "b0"), (9002L, "abz", "b0"), (9003L, "ba", "b0"),
      (9004L, "abcd", "b0"), (9005L, "abcdefgh", "b0"),
      (9006L, "", "b1"), (9007L, "zzzz", "b1"))
    val df = rows.toDF("doc_id", "s", "blk")
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val blocked = asMap(
      DedupOps.editDistancePairs(df, col("s"), col("blk"), maxDist = 4))
    val segmented = asMap(DedupOps.editDistancePairsSegmented(
      df, col("s"), col("blk"), maxDist = 4))
    assert(blocked.nonEmpty, "the corpus must actually produce pairs")
    assert(segmented == blocked,
      s"only-blocked=${blocked.keySet -- segmented.keySet} " +
        s"only-segmented=${segmented.keySet -- blocked.keySet}")
    // a degenerate segment bucket raises by name
    val e = intercept[Exception] {
      DedupOps.editDistancePairsSegmented(df, col("s"), col("blk"), 4,
        maxPerBlock = 2).collect()
    }
    assert(e.getMessage.contains("editDistancePairs"), e.getMessage)

    // the dedup_editdist usage: when the block key CARRIES the strings'
    // shared prefix (every in-block pair agrees on its first 8 chars),
    // Levenshtein on the SUFFIXES equals Levenshtein on the full
    // strings (lev(cx, cy) = lev(x, y) per shared char), so segmenting
    // the suffix gives identical (pairs, dist) to the blocked full-
    // string form while the segments stay out of the shared region
    val pfx = rows.map { case (id, s0, blk) =>
      (id, randStr(blk.hashCode.toLong, 8) + s0, blk)
    }.toDF("doc_id", "s", "blk")
    val blockedFull = asMap(DedupOps.editDistancePairs(
      pfx, col("s"), col("blk"), maxDist = 4))
    val segmentedSfx = asMap(DedupOps.editDistancePairsSegmented(
      pfx, expr("substring(s, 9, 1000000)"), col("blk"), maxDist = 4))
    assert(segmentedSfx == blockedFull,
      s"only-full=${blockedFull.keySet -- segmentedSfx.keySet} " +
        s"only-sfx=${segmentedSfx.keySet -- blockedFull.keySet}")
  }

  test("PassJoin candidates: the generator's side rule == the HOF loop") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    // index (side 0) and probe (side 1) entries of equal and different
    // lengths; a doc may sit on both sides of one bucket
    val buckets = (0 until 60).map { b =>
      b -> (0 until 2 + rnd.nextInt(8)).map { _ =>
        val doc = rnd.nextInt(20).toLong
        (rnd.nextInt(2), doc, 10 + (doc % 3).toInt, s"s$doc")
      }.distinct.sorted
    }.toDF("b", "ms")
      .select(col("b"),
        col("ms").cast("array<struct<side:int,doc_id:bigint,len:int,s:string>>").as("ms"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    val got = rows(DedupOps.passJoinCandidates(buckets))
    assert(got.nonEmpty)
    assert(got == rows(PairExpansionReference.passJoinCandidatesHof(buckets)))
  }

  test("editDistancePairsAuto: both arms emit identical pairs and the " +
      "selector routes on the measured in-block candidate volume") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", "b1"), (2L, "alpha betg", "b1"),
      (3L, "alpha XXXX", "b1"), (4L, "alpha beta", "b2"),
      (5L, "beta alpha", "b1"), (6L, "gamma delta", "b2")
    ).toDF("doc_id", "s", "blk")
    // the routing statistic: Σ n·(n−1)/2 over blocks — b1 has 4 docs
    // (6 pairs), b2 has 2 (1 pair)
    assert(DedupOps.inBlockPairCount(docs, col("blk")) == 7L)
    assert(DedupOps.inBlockPairCount(
      docs.filter(lit(false)), col("blk")) == 0L)
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val blocked = asMap(
      DedupOps.editDistancePairs(docs, col("s"), col("blk"), maxDist = 4))
    // force each arm via the threshold and pin WHICH arm ran by plan
    // shape: only the segmented plan unions its short pool
    def hasUnion(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.analyzed.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }.nonEmpty
    val viaBlocked = DedupOps.editDistancePairsAuto(docs, col("s"),
      col("blk"), 4, segmentMinPairs = Long.MaxValue)
    val viaSegmented = DedupOps.editDistancePairsAuto(docs, col("s"),
      col("blk"), 4, segmentMinPairs = 0L)
    assert(!hasUnion(viaBlocked), "below the threshold: the blocked arm")
    assert(hasUnion(viaSegmented), "above the threshold: the segmented arm")
    assert(asMap(viaBlocked) == blocked && asMap(viaSegmented) == blocked,
      "the selector must never change the emitted pairs")
    // the default threshold routes this 7-candidate corpus to the
    // blocked arm (the sf0.1 regime writ small)
    assert(!hasUnion(DedupOps.editDistancePairsAuto(
      docs, col("s"), col("blk"), 4)))
  }

  test("segmented guard counts DISTINCT docs per bucket, matching the " +
      "blocked form's per-block semantics") {
    import spark.implicits._
    // a dense clump of m identical strings: every segment bucket holds
    // all m docs but MANY more entry rows (index partition + probe
    // positions per doc) — an entry-count ceiling would raise where the
    // blocked form's doc-count guard admits the clump
    val m = 6
    val clump = (0 until m).map(i => (i.toLong, "abcdefghijkl", "b1"))
      .toDF("doc_id", "s", "blk")
    val blocked = DedupOps.editDistancePairs(
      clump, col("s"), col("blk"), 4, maxPerBlock = m.toLong)
    val segmented = DedupOps.editDistancePairsSegmented(
      clump, col("s"), col("blk"), 4, maxPerBlock = m.toLong)
    assert(blocked.count() == m.toLong * (m - 1) / 2)
    assert(segmented.count() == blocked.count(),
      "the same ceiling must admit the same corpus on both arms")
    // one doc past the ceiling raises on BOTH arms
    val over = (0 to m).map(i => (i.toLong, "abcdefghijkl", "b1"))
      .toDF("doc_id", "s", "blk")
    intercept[Exception] { DedupOps.editDistancePairs(
      over, col("s"), col("blk"), 4, maxPerBlock = m.toLong).collect() }
    intercept[Exception] { DedupOps.editDistancePairsSegmented(
      over, col("s"), col("blk"), 4, maxPerBlock = m.toLong).collect() }
  }

  test("native canonical_text is exactly the two-regex chain on randomized inputs") {
    import spark.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    // alphabet deliberately covering the hard cases: case folding,
    // digits, several whitespace flavors, punctuation runs, multi-byte
    // codepoints (each byte must fold into ONE collapsed space), and
    // the Kelvin sign K (U+212A) which LOWERCASES INTO ASCII 'k'
    val alpha: IndexedSeq[String] =
      ("abcXYZ089" + " \t\n").map(_.toString) ++
        Seq("!", "--", "..", "é", "日", "K", "𝔊", "  ", "", "_")
    val rows = (0 until 400).map { i =>
      val len = Math.floorMod(mix(i), 40L).toInt
      (i.toLong, (0 until len).map(j =>
        alpha(Math.floorMod(mix(i * 1009L + j), alpha.length.toLong).toInt))
        .mkString)
    } ++ Seq((9001L, ""), (9002L, "   "), (9003L, "a"), (9004L, "A1!b2"))
    val df = rows.toDF("id", "t")
    val bad = df.select(col("id"),
      TextOps.canonicalize(col("t")).as("native"),
      TextFormReference.canonicalizeRegex(col("t")).as("regex"))
      .filter(col("native") =!= col("regex") ||
        col("native").isNull =!= col("regex").isNull)
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString("; "))
    // null passes through on both forms
    val n = Seq((1L, null: String)).toDF("id", "t")
      .select(TextOps.canonicalize(col("t"))).head()
    assert(n.isNullAt(0))
  }

  test("splitLeakage: threshold gate, cross-split filter, scan-side labels") {
    import spark.implicits._
    // find two ids per split via the same splitOf rule the operator uses
    val labels = spark.range(0, 200)
      .select(col("id"), SampleOps.splitOf(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val trainId = labels.collectFirst { case (i, "train") => i }.get
    val testId = labels.collectFirst { case (i, "test") => i }.get
    val train2 = labels.collect { case (i, "train") => i }.apply(1)
    val verified = Seq(
      (trainId, testId, 0.9),  // cross-split, above threshold → leaks
      (trainId, train2, 0.9),  // same split → not leakage
      (trainId, testId, 0.1)   // cross-split but sub-threshold → dropped
    ).toDF("doc_a", "doc_b", "jaccard")
    val leaks = DedupOps.splitLeakage(verified, threshold = 0.3).collect()
    assert(leaks.length == 1)
    val r = leaks.head
    assert(r.getAs[Long]("doc_a") == trainId && r.getAs[Long]("doc_b") == testId)
    assert(r.getAs[String]("split_a") == "train" && r.getAs[String]("split_b") == "test")
    assert(r.getAs[Double]("jaccard") == 0.9)
  }
}
