package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines: tokenization,
  * quality scoring, language ID, and document fingerprinting — all pure
  * `Column` expressions (whole-stage codegen, no UDFs), each with a DuckDB
  * mirror in [[graft.queries.PipelineOracles]].
  *
  * Constants (stopword/marker lists, shingle size) live here so the Spark
  * plans and the oracle SQL are generated from the same source of truth.
  */
object TextOps {

  /** Whitespace tokenizer (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Feature-hashing bucket for a token: first 4 hex digits of md5, mod
    * `dim` — exact integer math any engine can replay (the DuckDB oracle
    * uses the same digits), unlike Spark's Murmur3 `hash()`. Served by
    * the native [[graft.expressions.Md5PrefixLong]] (bit-identical to
    * the composed conv∘substring∘md5 form, which paid a hex-string
    * round trip per token).
    */
  def hashBucket(tok: Column, dim: Int): Column =
    graft.expressions.Md5PrefixLong.draw(tok, 4) % dim

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish token estimate: letter runs, single digits, and isolated
    * punctuation each count as one token.
    */
  val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePattern)).cast("long")

  val Stopwords: Seq[String] =
    Seq("the", "a", "and", "or", "of", "to", "in", "is")

  def stopwordCount(toks: Column): Column = {
    val isStop = (t: Column) =>
      Stopwords.map(t === _).reduce(_ || _)
    size(filter(toks, isStop)).cast("long")
  }

  /** Overlapping token-window chunks: windows of `width` tokens starting
    * every `stride` tokens (stride < width ⇒ overlap, the usual LLM
    * pretraining shape). A doc shorter than `width` yields exactly one
    * chunk (itself); the last window clamps at the doc end. Emitted as
    * an array of (start, chunk-text) structs to explode scan-side — at
    * 100 TB chunking is a Generate in the scan stage, never a shuffle.
    * One native pass, [[graft.expressions.WordChunks]].
    */
  def chunks(toks: Column, width: Int, stride: Int): Column = {
    require(width > 0 && stride > 0, "width and stride must be positive")
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.WordChunks(
      ColumnBridge.expression(toks), width, stride))
  }

  /** Canonical text form for "fuzzy-exact" dedup: lowercase, non-
    * alphanumerics to spaces, runs of spaces collapsed, trimmed. Two
    * documents differing only in case/punctuation/whitespace canonicalize
    * identically, so exact-dedup machinery over md5(canonical) catches
    * them — the standard first pass before MinHash. Computed by the
    * native single-pass [[graft.expressions.CanonicalText]] expression:
    * the equivalent two-regex chain would be the suite's heaviest
    * per-row scalar, while the byte scan is exactly equivalent
    * (property-pinned against the regex form) and stays in whole-stage
    * codegen.
    */
  def canonicalize(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.CanonicalText(ColumnBridge.expression(text)))
  }

  /** PII scrubbing patterns — deliberately restricted to syntax valid in
    * BOTH Java regex (Spark) and RE2 (the DuckDB oracle): character
    * classes, bounded repetition, `\b`, plain groups; no backreferences
    * or lookaround. Order of application matters: emails and IPs are
    * masked before bare digit runs so an IP does not degrade into
    * `<NUM>.<NUM>...`.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val DigitRunPattern = "[0-9]{2,}"

  /** Redact emails, IPv4 addresses, and ≥2-digit runs (ids, phone
    * fragments, account numbers) with typed placeholders. Pure codegen
    * `regexp_replace` chain — at 100 TB this runs scan-side with zero
    * shuffle.
    */
  def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      DigitRunPattern, "<NUM>")

  /** Punctuation characters per document. */
  val PunctClass = "[.,!?;:]"

  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, PunctClass, ""))).cast("long")

  /** Quality features: stopword ratio and mean token length, the classic
    * cheap quality signals. Ratios are rounded to 6 places — the division
    * is identical IEEE math in both engines, so rounding is hash-stable.
    */
  def stopwordRatio(toks: Column): Column =
    round(stopwordCount(toks) / size(toks).cast("double"), 6)

  def meanTokenLength(toks: Column): Column =
    round(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)) /
        size(toks).cast("double"), 6)

  /** Scan-side distinct-token ratio: the repetition signal
    * `text_repetition` derives by aggregation, computed INSIDE the row
    * instead (array_distinct over a bounded token array) — zero
    * shuffles, so a 100 TB filter pass stays a pure scan.
    */
  def distinctRatio(toks: Column): Column =
    round(size(array_distinct(toks)).cast("double") /
      size(toks).cast("double"), 6)

  /** Scan-side top-token share (the single most frequent token's
    * fraction): O(distinct×len) comparisons within the row — bounded by
    * document length, still cheaper than a shuffle at corpus scale. All
    * counts are exact integers, so the rounded ratio is hash-stable.
    */
  def topTokenShare(toks: Column): Column =
    round(
      array_max(transform(array_distinct(toks),
        t => size(filter(toks, x => x === t)))).cast("double") /
        size(toks).cast("double"), 6)

  /** Language-ID marker lists (n-gram heuristic degenerated to function
    * words — enough to be a deterministic, SQL-expressible classifier).
    * Order is the tie-break priority.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "is", "of"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "les", "une", "et", "est"))

  def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => markers.map(t === _).reduce(_ || _))).cast("long")

  /** Predicted language: argmax of marker counts, ties resolved in
    * LangMarkers order, "und" (undetermined) when all scores are zero.
    */
  def langId(toks: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => lang -> markerCount(toks, ms) }
    val total = scores.map(_._2).reduce(_ + _)
    // CASE ladder: lang i wins when its score >= every later lang's score
    // (earlier langs already lost their WHEN) — argmax with list-order ties.
    val pred = scores.init.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((lang, score), i), els) =>
        val beatsRest = scores.drop(i + 1).map { case (_, o) => score >= o }
        when(beatsRest.reduce(_ && _), lit(lang)).otherwise(els)
    }
    when(total === 0, "und").otherwise(pred)
  }

  /** Word-shingle size for fingerprints / MinHash. */
  val ShingleK = 3

  /** k-word shingles joined by a space; empty array when the doc is
    * shorter than k. Computed by the native single-pass
    * [[graft.expressions.WordShingles]] (a higher-order form evaluates
    * interpreted and allocates a sliced k-array + join buffer per
    * shingle on every corpus pass of ~10 consumers); byte-identical
    * output, property-pinned against that form.
    */
  def shingles(toks: Column, k: Int = ShingleK): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.WordShingles(ColumnBridge.expression(toks), k))
  }

  /** Document fingerprint: lexicographic min of md5(shingle) — a
    * deterministic rolling-hash analog, null for too-short docs.
    */
  def fingerprint(toks: Column): Column =
    array_min(transform(shingles(toks), s => md5(s)))

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    * algorithm): from the k-gram hash sequence, each sliding window of
    * `w` positions selects its minimal hash (RIGHTMOST minimum on ties,
    * the paper's robust-winnowing tiebreak), and the selected (pos,
    * hash) set is the fingerprint. The guarantee [[fingerprint]]'s
    * single global min lacks: any shared run of w+k−1 tokens between
    * two documents yields at least one shared fingerprint, with
    * positions for span localization — density 2/(w+1) of all grams
    * instead of all of them (the substring-dedup index at a fraction
    * of the rows).
    *
    * Shape: posexplode the grams, hash each EXACTLY ONCE (48-bit md5
    * prefix — engine-portable, collision-safe at corpus scale
    * ~n²/2⁴⁸), then ONE doc-keyed sliding frame taking
    * `min(struct(h, −p))` — lexicographic struct-min is "smallest
    * hash, rightmost position on ties" in a single window pass.
    * A first draft did this in-row with nested higher-order functions
    * over the hash array; CollapseProject inlined the array expression
    * into every `element_at`, re-computing ALL the md5s per window
    * element — measured 188 s at sf0.1 where this form takes ~2 s
    * (the hashingTf lesson recurring; recorded in PLANS.md). Docs
    * shorter than w+k−1 tokens emit nothing — no full window exists.
    *
    * Input needs (doc_id, toks); returns DISTINCT (doc_id, pos, fp),
    * 1-based gram positions.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = ShingleK,
      w: Int = 4): DataFrame = {
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p").rowsBetween(0, w - 1)
    docs
      .select(col("doc_id"),
        posexplode(shingles(col("toks"), k)).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
        graft.expressions.Md5PrefixLong.draw(col("gram"), 12).as("h"))
      .select(col("doc_id"),
        min(struct(col("h"), (-col("p")).as("np"))).over(frame).as("sel"),
        count(lit(1)).over(frame).as("cnt"))
      .filter(col("cnt") === w)
      .select(col("doc_id"), (-col("sel.np")).as("pos"),
        col("sel.h").as("fp"))
      .distinct()
  }

  /** Adjacent token pairs ("corpus bigrams"), empty for 1-token docs —
    * shingles with k=2.
    */
  def bigrams(toks: Column): Column = shingles(toks, 2)

  /** The Gopher-style conjunctive quality verdict as one struct column
    * (rule booleans + final keep) — shared by `text_gopher_rules` and
    * the quality stage of `pipeline_full`, so the two cannot drift.
    * Entirely scan-side; see the query's oracle for the DuckDB replay of
    * every band.
    */
  def gopherRules(toks: Column): Column = {
    val n = size(toks).cast("long")
    val rLen = n >= 20 && n <= 90
    val rMean = meanTokenLength(toks) >= 4.0 && meanTokenLength(toks) <= 5.0
    val rStop = stopwordRatio(toks) >= 0.03
    val rDist = distinctRatio(toks) >= 0.4
    val rTop = topTokenShare(toks) <= 0.12
    struct(
      rLen.as("r_len"),
      rMean.as("r_mean_len"),
      rStop.as("r_stopwords"),
      rDist.as("r_distinct"),
      rTop.as("r_top_share"),
      (rLen && rMean && rStop && rDist && rTop).as("keep"))
  }

  /** T5-style span corruption (Raffel et al., JMLR 2020 §3.1.4): the
    * denoising-objective data prep — fixed-length token spans are
    * masked pseudo-randomly, the INPUT replaces each masked span with a
    * numbered sentinel, and the TARGET lists each sentinel followed by
    * the tokens it hid, closed by a final sentinel. Span selection is
    * the engine's deterministic md5 draw (`doc_id:spanIndex` hashed into
    * [0,100), masked below `pct`) so the same (input, target) pair comes
    * out on any partitioning, any rerun, and in the DuckDB oracle.
    *
    * Everything is in-row array algebra (sequence/filter/flatten over a
    * bounded token array — no shuffle, no Generate), so corrupting a
    * 100 TB corpus is a pure scan. Sentinel numbering uses the
    * masked-spans-before-this-one count rather than a positional lambda
    * index, because that form replays 1:1 in DuckDB (whose
    * list_transform has no index parameter). Tail spans shorter than
    * `spanLen` mask/copy whole via slice clamping on both engines.
    *
    * Returns `struct(input, target, n_masked)`; empty token arrays give
    * ("", "<extra_id_0>", 0) — the degenerate all-sentinel pair.
    */
  def spanCorrupt(docId: Column, toks: Column, spanLen: Int,
      pct: Int): Column = {
    def masked(s: Column): Column =
      (graft.expressions.Md5PrefixLong.draw(
        concat(docId.cast("string"), lit(":"), s.cast("string")), 4)
        % 100) < pct
    def sentinel(k: Column): Column =
      concat(lit("<extra_id_"), k.cast("string"), lit(">"))
    def spanToks(s: Column): Column =
      slice(toks, s * spanLen + 1, lit(spanLen))
    val nSpans = ((size(toks) + lit(spanLen - 1)) / lit(spanLen)).cast("int")
    val spanIdx = sequence(lit(0), nSpans - 1)
    val ms = filter(spanIdx, s => masked(s))
    def rank(s: Column): Column = size(filter(ms, j => j < s))
    val inputToks = flatten(transform(spanIdx, s =>
      when(masked(s), array(sentinel(rank(s)))).otherwise(spanToks(s))))
    val targetToks = concat(
      flatten(transform(ms, s =>
        concat(array(sentinel(rank(s))), spanToks(s)))),
      array(sentinel(size(ms))))
    when(size(toks) > 0,
      struct(
        array_join(inputToks, " ").as("input"),
        array_join(targetToks, " ").as("target"),
        size(ms).cast("long").as("n_masked")))
      .otherwise(struct(
        lit("").as("input"),
        lit("<extra_id_0>").as("target"),
        lit(0L).as("n_masked")))
  }

  /** Interpolated Kneser-Ney bigram language-model score per document
    * (Kneser & Ney 1995; Chen & Goodman 1999) — the model-based quality
    * filter of the CCNet lineage: train a smoothed n-gram LM on the
    * corpus, score every doc by mean log-probability, gate or bucket on
    * the score. The unigram `text_lm_score` ranks docs by token rarity;
    * this adds CONTEXT — word salad with plausible unigrams scores low
    * because its transitions are unseen-ish:
    *
    *   P(w|v) = (c(v,w) − D)/c(v) + D·N1+(v,·)/c(v) · N1+(·,w)/N1+(··)
    *
    * (absolute discount D, continuation-probability backoff). All five
    * statistics derive from ONE corpus bigram aggregation: c(v,w) is the
    * pair table; c(v) and the left continuation count N1+(v,·) fold from
    * it per left token; N1+(·,w) per right token; N1+(··) is its row
    * count. Scale shape: the corpus explodes once into the per-doc tf
    * table (doc,v,w) and once into the count table (both map-side
    * combined); the scoring join keys (v,w) against the vocab²-bounded
    * pair table, marginals broadcast. Self-scoring means no OOV path:
    * every doc bigram exists in the table, so c(v,w) ≥ 1 > D keeps the
    * discounted term positive.
    *
    * Determinism: the probability expression is a fixed tree of
    * IEEE double ops over exactly-represented integers; per-position
    * terms convert to MICRO-UNIT LONGS via round(tf·ln P · 1e6) —
    * scale-0 rounding, where Spark's exact-BigDecimal path and
    * DuckDB's std::round see the same double and always agree (the 6dp
    * form round(·,6) does NOT: its ×1e6 re-multiply diverges within an
    * ulp of a .5e-6 boundary — one doc in 5000 flipped at sf0.1, the
    * ClassifierOps logit lesson) — and sum exactly as longs. The
    * mean-log-prob ranking surface is (kn_sum_micro, n_bigrams); the
    * consumer divides.
    */
  def knBigramScores(docs: DataFrame, discount: Double): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    val toks = tokens(col("text"))
    val bg = docs.select(col("doc_id"), explode(
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("v"), b.as("w")))).as("p"))
      .select(col("doc_id"), col("p.v").as("v"), col("p.w").as("w"))
    val tf = bg.groupBy("doc_id", "v", "w").agg(count(lit(1)).as("tf"))
    // the vocab²-bounded LM itself is cached (the train/score split:
    // one corpus pass builds the model, one scores against it); the
    // corpus-sized tf table deliberately is NOT — materializing it
    // would trade a cheap re-explode for corpus-scale cache memory,
    // the raw-shingle-cache mistake
    val pc = tf.groupBy("v", "w").agg(sum("tf").as("c")).cache()
    val lm = pc.groupBy("v").agg(sum("c").as("cv"), count(lit(1)).as("n1v"))
    val rm = pc.groupBy("w").agg(count(lit(1)).as("n1w"))
    val tt = pc.agg(count(lit(1)).as("n1all"))
    val p =
      (col("c").cast("double") - lit(discount)) / col("cv").cast("double") +
        lit(discount) * col("n1v").cast("double") / col("cv").cast("double") *
          (col("n1w").cast("double") / col("n1all").cast("double"))
    // the model the scoring join reads is the FULLY-FOLDED
    // per-(v,w) log-probability table, cached as one artifact — ln P is
    // a function of (v,w) alone, the same double for every doc, so
    // folding it into the cached model changes nothing downstream while
    // a warm invocation runs ONE broadcast of this table instead of
    // four model-side jobs + broadcasts (pc hit, lm, rm, tt
    // re-aggregated per call): the scoring plan is explode → per-doc tf aggregate →
    // one broadcast join → per-doc sum. Still vocab²-bounded (same row
    // count as pc).
    val model = pc
      .join(lm, Seq("v"))
      .join(rm, Seq("w"))
      .crossJoin(tt)
      .select(col("v"), col("w"), log(p).as("lnp"))
      .cache()
    tf
      .join(broadcast(model), Seq("v", "w"))
      .select(col("doc_id"), col("tf"),
        round(col("tf") * col("lnp") * lit(1000000.0)).cast("long")
          .as("term_u"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        sum("term_u").as("kn_sum_micro"))
  }

  /** Per-document n-gram novelty — the memorization-risk complement of
    * the dedup family: for each doc, the fraction of its DISTINCT
    * n-grams that occur in no other document. Low novelty flags docs
    * assembled from corpus-common material (templates, quotes, near-
    * copies that slipped past doc-level dedup); training pipelines
    * up-weight high-novelty docs or cap low-novelty mass.
    *
    * Scale shape: grams deduplicate IN-ROW first (array_distinct on
    * the row's own shingles — scan-side), so the exploded table is
    * distinct-per-doc by construction and the document frequency is a
    * plain count per gram. The key trick: a df=1 gram has exactly ONE
    * owner, so `min(doc_id)` inside the SAME gram aggregate IS that
    * owner — the per-doc novel count then rolls up from the (tiny)
    * unique-gram set, and the corpus-sized gram⋈gram JOIN the naive
    * formulation pays disappears entirely (measured 3.2s → join-free
    * at sf0.1). Three aggregations, no join wider than per-doc counts.
    * Docs with fewer than `n` tokens have no n-grams and drop from the
    * output (no 0/0 row).
    */
  def noveltyScores(docs: DataFrame, n: Int): DataFrame =
    noveltyFromGrams(docs.select(col("doc_id"),
      explode(array_distinct(shingles(tokens(col("text")), n))).as("gram")))

  /** [[noveltyScores]] over a pre-exploded per-doc DISTINCT gram
    * relation (doc_id, gram) — the entry point when the gram table is
    * already materialized (the query layer's shared bigram cache).
    */
  def noveltyFromGrams(dg: DataFrame): DataFrame = {
    val novel = dg.groupBy("gram")
      .agg(count(lit(1)).as("df"), min("doc_id").as("doc_id"))
      .filter(col("df") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_novel"))
    dg.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams"), 6).as("novelty"))
  }

  /** ROUGE-1/2 (Lin 2004) over adjacent doc pairs (candidate d, reference
    * d+1) — the clipped-n-gram-overlap summary-quality metric, computed
    * engine-side over paired text columns. Clipped overlap = Σ per gram
    * of min(tf_cand, tf_ref); precision/recall divide by each side's
    * total gram count; F1 = 2PR/(P+R).
    *
    * Shape: per-doc gram TF relations (one explode + map-side-combined
    * aggregation per order), then ONE co-keyed equi-join on
    * (doc_id+1, gram) per order — the pair relation never materializes
    * gram cross products, and the pair spine is a doc-keyed self-join
    * (broadcast-free, co-partitioned). Pairs with zero overlap still
    * surface (score 0). All ratios micro-rounded from exact longs in one
    * fixed double order.
    *
    * Input (doc_id, toks); returns (cand_id, ref_id, ov1, r1_p_micro,
    * r1_r_micro, r1_f_micro, ov2, r2_f_micro).
    */
  def rougeAdjacent(docs: DataFrame): DataFrame = {
    def tf(grams: org.apache.spark.sql.Column) = docs
      .select(col("doc_id"), explode(grams).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    def overlap(rel: DataFrame, name: String) = rel.as("c")
      .join(rel.as("r"),
        col("c.doc_id") + 1 === col("r.doc_id") && col("c.g") === col("r.g"))
      .groupBy(col("c.doc_id").as("cand_id"))
      .agg(sum(least(col("c.tf"), col("r.tf"))).as(name))
    val spine = docs
      .select(col("doc_id").as("cand_id"),
        size(col("toks")).cast("long").as("tot1_c"),
        greatest(size(col("toks")) - 1, lit(0)).cast("long").as("tot2_c"))
      .as("cs")
      .join(docs.select((col("doc_id") - 1).as("cand_id"),
        size(col("toks")).cast("long").as("tot1_r"),
        greatest(size(col("toks")) - 1, lit(0)).cast("long").as("tot2_r")),
        Seq("cand_id"))
    def prf(ov: org.apache.spark.sql.Column, totC: org.apache.spark.sql.Column,
        totR: org.apache.spark.sql.Column) = {
      val p = when(totC > 0, ov.cast("double") / totC).otherwise(lit(0.0))
      val r = when(totR > 0, ov.cast("double") / totR).otherwise(lit(0.0))
      val f = when(ov > 0, lit(2.0) * p * r / (p + r)).otherwise(lit(0.0))
      (p, r, f)
    }
    val joined = spine
      .join(overlap(tf(col("toks")), "ov1"), Seq("cand_id"), "left")
      .join(overlap(tf(shingles(col("toks"), 2)), "ov2"), Seq("cand_id"), "left")
      .na.fill(0L, Seq("ov1", "ov2"))
    val (p1, r1, f1) = prf(col("ov1"), col("tot1_c"), col("tot1_r"))
    val (_, _, f2) = prf(col("ov2"), col("tot2_c"), col("tot2_r"))
    def micro(c: org.apache.spark.sql.Column) =
      round(c * lit(1000000.0)).cast("long")
    joined.select(col("cand_id"), (col("cand_id") + 1).as("ref_id"),
      col("ov1"), micro(p1).as("r1_p_micro"), micro(r1).as("r1_r_micro"),
      micro(f1).as("r1_f_micro"), col("ov2"), micro(f2).as("r2_f_micro"))
  }

  /** BLEU-4 (Papineni et al., ACL 2002) over the same adjacent
    * (candidate d, reference d+1) pairs as [[rougeAdjacent]]: the
    * geometric mean of clipped 1..4-gram precisions times the brevity
    * penalty — the reference MT/generation metric next to ROUGE's
    * recall orientation.
    *
    *   p_n  = Σ_g min(tf_cand, tf_ref) / (cand n-gram count)
    *   BP   = 1 if |c| ≥ |r|, else e^(1 − |r|/|c|)
    *   BLEU = BP · exp(¼ Σ_{n=1..4} ln p_n)   (0 if any p_n = 0 — the
    *          unsmoothed corpus definition; zero-match pairs surface
    *          with bleu_micro = 0 rather than an −∞ log)
    *
    * Shape: one per-doc TF relation per order (explode + map-side
    * combine), one co-keyed (doc_id+1, gram) equi-join per order —
    * exactly the rougeAdjacent plan, twice as many orders. The ln sum
    * evaluates left-to-right in one fixed expression; micro-rounded at
    * the end.
    *
    * Input (doc_id, toks); returns (cand_id, ref_id, ov1..ov4,
    * bp_micro, bleu_micro).
    */
  def bleuAdjacent(docs: DataFrame): DataFrame = {
    def tf(n: Int) = docs
      .select(col("doc_id"),
        explode(if (n == 1) col("toks") else shingles(col("toks"), n))
          .as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    def overlap(n: Int) = tf(n).as("c")
      .join(tf(n).as("r"),
        col("c.doc_id") + 1 === col("r.doc_id") && col("c.g") === col("r.g"))
      .groupBy(col("c.doc_id").as("cand_id"))
      .agg(sum(least(col("c.tf"), col("r.tf"))).as(s"ov$n"))
    val spine = docs
      .select(col("doc_id").as("cand_id"),
        size(col("toks")).cast("long").as("clen"))
      .join(docs.select((col("doc_id") - 1).as("cand_id"),
        size(col("toks")).cast("long").as("rlen")), Seq("cand_id"))
    val joined = (1 to 4).foldLeft(spine)((d, n) =>
      d.join(overlap(n), Seq("cand_id"), "left"))
      .na.fill(0L, (1 to 4).map(n => s"ov$n"))
    def tot(n: Int) = greatest(col("clen") - (n - 1), lit(0L))
    def p(n: Int) = col(s"ov$n").cast("double") / tot(n).cast("double")
    val allPos = (1 to 4).map(n => col(s"ov$n") > 0 && tot(n) > 0)
      .reduce(_ && _)
    // clen = 0 with a non-empty reference is bp = 0 by the limit of
    // e^(1 − |r|/|c|): guarded explicitly because Spark's division
    // yields NULL at 0 while IEEE engines give e^(−∞) = 0 — without
    // the guard the two engines diverge on an empty candidate.
    val bp = when(col("clen") >= col("rlen"), lit(1.0))
      .when(col("clen") === 0, lit(0.0))
      .otherwise(exp(lit(1.0) -
        col("rlen").cast("double") / col("clen").cast("double")))
    val bleu = when(allPos,
      bp * exp(((log(p(1)) + log(p(2))) + log(p(3)) + log(p(4))) *
        lit(0.25))).otherwise(lit(0.0))
    joined.select(
      (Seq(col("cand_id"), (col("cand_id") + 1).as("ref_id")) ++
        (1 to 4).map(n => col(s"ov$n")) ++ Seq(
        round(bp * lit(1000000.0)).cast("long").as("bp_micro"),
        round(bleu * lit(1000000.0)).cast("long").as("bleu_micro"))): _*)
  }

  /** ROUGE-L (Lin 2004 §3) over the same adjacent (d, d+1) pairs as
    * [[rougeAdjacent]]: longest-common-subsequence recall/precision/F —
    * the order-sensitive complement to clipped n-gram overlap (n-grams
    * reward local phrase matches; LCS rewards globally preserved
    * ordering without requiring contiguity).
    *
    * The LCS runs INSIDE the row as the classic rolling-row DP
    * (dp[j] over reference positions, folded across candidate tokens),
    * the [[TokenizerOps.viterbiDp]] in-row-DP pattern: per pair the
    * work is m·n integer ops in ONE whole-stage expression — no
    * per-cell rows, no join, nothing data-sized shuffles. The doc-keyed
    * pair join is the only exchange. Oracle-replayable: the DuckDB
    * twin iterates the SAME rows via a recursive CTE using the
    * prefix-max identity new[j] = max(prev[j], max_{j'≤j}(prev[j'−1] +
    * eq(j'))) (valid because LCS rows are non-decreasing), so both
    * engines produce identical integer LCS tables.
    *
    * Input (doc_id, toks); returns (cand_id, ref_id, lcs, rl_p_micro,
    * rl_r_micro, rl_f_micro).
    */
  def rougeL(docs: DataFrame): DataFrame = {
    val pairs = docs
      .select(col("doc_id").as("cand_id"), col("toks").as("x"))
      .join(docs.select((col("doc_id") - 1).as("cand_id"),
        col("toks").as("y")), Seq("cand_id"))
    val m = size(col("x"))
    val n = size(col("y"))
    val prev0 = array_repeat(lit(0), n + 1)
    val folded = aggregate(col("x"), prev0, (prev, xt) =>
      aggregate(sequence(lit(1), n), array(lit(0)), (cur, j) =>
        concat(cur, array(
          when(element_at(col("y"), j) === xt, element_at(prev, j) + 1)
            .otherwise(greatest(
              element_at(cur, size(cur)),
              element_at(prev, j + 1)))))))
    val lcs = when(m < 1 || n < 1, lit(0))
      .otherwise(element_at(folded, -1)).cast("long")
    val p = when(m > 0, lcs.cast("double") / m).otherwise(lit(0.0))
    val r = when(n > 0, lcs.cast("double") / n).otherwise(lit(0.0))
    val f = when(lcs > 0, lit(2.0) * p * r / (p + r)).otherwise(lit(0.0))
    def micro(c: org.apache.spark.sql.Column) =
      round(c * lit(1000000.0)).cast("long")
    pairs.select(col("cand_id"), (col("cand_id") + 1).as("ref_id"),
      lcs.as("lcs"), micro(p).as("rl_p_micro"), micro(r).as("rl_r_micro"),
      micro(f).as("rl_f_micro"))
  }
}
