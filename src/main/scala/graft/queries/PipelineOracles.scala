package graft.queries

import graft.ops.{DedupOps, RetrievalOps, TextOps}

/** DuckDB oracle SQL for [[PipelineQueries]]. The repetitive parts
  * (stopword lists, language markers, MinHash bands, SimHash digit/bit
  * expressions) are generated from the SAME Scala constants the Spark
  * plans use, so the two sides cannot drift.
  */
object PipelineOracles {

  private def inList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ", ", ")")

  private val K = TextOps.ShingleK

  /** doc_id → toks CTE, then k-shingles (distinct). Mirrors
    * TextOps.tokens/shingles + DedupOps.shingled.
    */
  private val tokCte =
    "t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)"

  private val shingleExpr =
    s"CASE WHEN len(toks) < $K THEN CAST([] AS VARCHAR[]) " +
      s"ELSE list_transform(range(1, len(toks) - ${K - 2}), i -> array_to_string(toks[i:i+${K - 1}], ' ')) END"

  private val shCte =
    s"""$tokCte,
       |sh AS (SELECT DISTINCT doc_id, shingle FROM
       |  (SELECT doc_id, unnest($shingleExpr) AS shingle FROM t))""".stripMargin

  /** The unigram-LM hard-EM training chain (TokenizerOps.unigramTrain)
    * as unrolled DuckDB CTEs: seed substring ranking, then per EM round
    * an unrolled Viterbi DP over word positions (integer micro scores;
    * the lattice argmax is max(struct_pack(s, l)) — lexicographically
    * identical to Spark's array_max over struct(s, l)), a recursive
    * backtrace to the used pieces, usage-count re-scoring, and the
    * singles-always/top-K-multis prune. floor(ln(·)·1e6) scoring is the
    * same function in both engines (round is not: Java half-up vs
    * DuckDB half-away-from-zero). `segPass` appends one extra DP pass
    * under the FINAL vocab for the segmentation oracle.
    */
  private def unigramChain(segPass: Boolean): String = {
    val p = PipelineQueries.UnigramPieceLen
    val seedK = PipelineQueries.UnigramSeedK
    val finalK = PipelineQueries.UnigramFinalK
    val rounds = PipelineQueries.UnigramRounds
    val mw = PipelineQueries.UnigramMaxWord
    require(rounds >= 1, "unigramChain assumes at least one EM round")

    def scoreCte(name: String, src: String) =
      s"""$name AS MATERIALIZED (SELECT piece, c, CAST(floor(ln(CAST(c + 1 AS DOUBLE) /
         |    (CAST((SELECT sum(c) FROM $src) AS DOUBLE) +
         |     (SELECT count(*) FROM $src))) * 1000000) AS BIGINT) AS s
         |  FROM $src)""".stripMargin

    def dpRound(r: Int, vsrc: String): String = {
      val dps = (1 to mw).map { i =>
        val branches = (1 to math.min(p, i)).map { l =>
          s"""      SELECT d.word, d.s + v.s AS s, $l AS l
             |      FROM dp${r}_${i - l} d JOIN $vsrc v
             |        ON v.piece = substr(d.word, ${i - l + 1}, $l)
             |      WHERE length(d.word) >= $i""".stripMargin
        }.mkString("\n      UNION ALL\n")
        s"""dp${r}_$i AS MATERIALIZED (SELECT word, struct_extract(b, 's') AS s,
           |    struct_extract(b, 'l') AS l
           |  FROM (SELECT word, max(struct_pack(s := s, l := l)) AS b FROM (
           |$branches
           |  ) GROUP BY word))""".stripMargin
      }
      val dpa = (1 to mw)
        .map(i => s"SELECT word, $i AS pos, s, l FROM dp${r}_$i")
        .mkString("\n  UNION ALL\n  ")
      s"""dp${r}_0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS s, 0 AS l FROM tw),
         |${dps.mkString(",\n")},
         |dpa$r AS MATERIALIZED (
         |  $dpa),
         |bt$r(word, pos) AS (
         |  SELECT word, CAST(length(word) AS INT) FROM tw
         |  UNION ALL
         |  SELECT b.word, b.pos - d.l FROM bt$r b
         |    JOIN dpa$r d ON d.word = b.word AND d.pos = b.pos
         |  WHERE b.pos > 0),
         |pc$r AS MATERIALIZED (SELECT b.word, substr(b.word, b.pos - d.l + 1, d.l) AS piece
         |  FROM bt$r b JOIN dpa$r d ON d.word = b.word AND d.pos = b.pos
         |  WHERE b.pos > 0)""".stripMargin
    }

    def mStep(r: Int): String =
      s"""ec$r AS MATERIALIZED (SELECT p.piece, sum(u.cnt) AS c FROM pc$r p
         |  JOIN tw u USING (word) GROUP BY p.piece),
         |mc$r AS MATERIALIZED (SELECT v.piece, coalesce(e.c, 0) AS c
         |  FROM v${r - 1} v LEFT JOIN ec$r e USING (piece)),
         |k$r AS MATERIALIZED (SELECT piece, c FROM mc$r WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, c FROM (SELECT piece, c FROM mc$r
         |    WHERE length(piece) > 1 ORDER BY c DESC, piece ASC LIMIT $finalK)),
         |${scoreCte(s"v$r", s"k$r")}""".stripMargin

    val seed =
      s"""uw AS MATERIALIZED (SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY word),
         |tw AS MATERIALIZED (SELECT word, cnt FROM uw WHERE length(word) <= $mw),
         |c0 AS MATERIALIZED (SELECT word, cnt, unnest(range(1, length(word) + 1)) AS i
         |  FROM uw),
         |c1 AS MATERIALIZED (SELECT word, cnt, i,
         |    unnest(range(1, least($p, length(word) - i + 1) + 1)) AS l
         |  FROM c0),
         |cand AS MATERIALIZED (SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
         |    sum(cnt) AS c
         |  FROM c1 GROUP BY piece),
         |k0 AS MATERIALIZED (SELECT piece, c FROM cand WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, c FROM (SELECT piece, c FROM cand
         |    WHERE length(piece) > 1 ORDER BY c DESC, piece ASC LIMIT $seedK)),
         |${scoreCte("v0", "k0")}""".stripMargin

    val emRounds = (1 to rounds)
      .map(r => dpRound(r, s"v${r - 1}") + ",\n" + mStep(r)).mkString(",\n")
    val seg = if (segPass) ",\n" + dpRound(rounds + 1, s"v$rounds") else ""
    seed + ",\n" + emRounds + seg
  }

  /** Per-source shingle multiset → HLL register table (SketchOps
    * constants: 32-bit md5 draw, top-HllP-bit index, rank =
    * cap − len(bin(remainder)) with the all-zeros cap case).
    */
  private val hllRegCte: String = {
    val w = graft.ops.SketchOps.HllW
    val cap = graft.ops.SketchOps.HllRankCap
    val mask = (1L << w) - 1
    s"""st AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
       |ssh AS (SELECT source, unnest($shingleExpr) AS shingle FROM st),
       |hh AS (SELECT source, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
       |  FROM ssh),
       |hr AS (SELECT source, h >> $w AS idx,
       |    CAST(CASE WHEN (h & $mask) = 0 THEN $cap
       |      ELSE $cap - length(bin(h & $mask)) END AS BIGINT) AS rank FROM hh),
       |regs AS (SELECT source, idx, max(rank) AS max_rank FROM hr
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** DSIR refit-and-score pipeline (mirrors DsirOps.featureBuckets /
    * fitCounts / logRatioMicro / scoreMicro): hashed unigram+bigram
    * buckets → one conditional count pass → dense log-ratio model in
    * exact micro units → per-doc integer sum. Target = lang='en',
    * dim/alpha from DsirOps defaults.
    */
  private val dsirWeightsCte = {
    val dim = graft.ops.DsirOps.DefaultDim
    def bk(e: String) = s"('0x' || substr(md5($e), 1, 4))::BIGINT % $dim"
    s"""t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |f AS (SELECT doc_id, lang, unnest(list_concat(
       |    list_transform(toks, tk -> ${bk("tk")}),
       |    CASE WHEN len(toks) < 2 THEN CAST([] AS BIGINT[])
       |         ELSE list_transform(range(1, len(toks)),
       |                i -> ${bk("toks[i] || ' ' || toks[i+1]")}) END)) AS bucket
       |  FROM t),
       |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS raw_n,
       |    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS tgt_n
       |  FROM f GROUP BY 1),
       |tot AS (SELECT CAST(sum(raw_n) AS BIGINT) AS rt,
       |    CAST(sum(tgt_n) AS BIGINT) AS tt FROM c),
       |m AS (SELECT r.range AS bucket,
       |    CAST(CAST(round(
       |      ln((coalesce(c.tgt_n, 0) + 1.0) / (tot.tt + $dim.0)) -
       |      ln((coalesce(c.raw_n, 0) + 1.0) / (tot.rt + $dim.0)), 6)
       |      AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS micro
       |  FROM range($dim) r LEFT JOIN c ON c.bucket = r.range, tot),
       |w AS (SELECT f.doc_id, CAST(sum(m.micro) AS BIGINT) AS dsir_micro
       |  FROM f JOIN m USING (bucket) GROUP BY 1)""".stripMargin
  }

  /** BM25 CTE chain (mirrors RetrievalOps.bm25TopK: same idf form, same
    * multiply-then-divide order, per-term round(·,6) into DECIMAL).
    * Ends in `bm(doc_id, rank, score)`.
    */
  private lazy val bm25Cte: String = {
    val terms = PipelineQueries.Bm25Terms.map(t => s"'$t'").mkString(", ")
    val k1 = RetrievalOps.DefaultK1
    val b = RetrievalOps.DefaultB
    s"""bl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
       |bst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM bl),
       |btf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM
       |    (SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |       unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok IN ($terms) GROUP BY 1, 2, 3),
       |bdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
       |bsc AS (SELECT btf.doc_id,
       |    CAST(round(ln((bst.n_docs - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)
       |      * (btf.tf * ($k1 + 1)) /
       |      (btf.tf + $k1 * (1.0 - $b + $b * btf.dl / bst.avgdl)), 6)
       |      AS DECIMAL(28,6)) AS term
       |  FROM btf JOIN bdf USING (tok), bst),
       |bagg AS (SELECT doc_id,
       |    CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE) AS score
       |  FROM bsc GROUP BY 1),
       |bm AS (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       |    score
       |  FROM bagg ORDER BY score DESC, doc_id LIMIT ${PipelineQueries.Bm25K})""".stripMargin
  }

  /** MinHash signature + band CTEs (mirrors DedupOps.minhashSignature /
    * lshBands).
    */
  private val bandsCte = {
    def lane(i: Int): String = {
      val digest = i / 4
      val pos = (i % 4) * 8 + 1
      s"min(substr(md5('$digest:' || shingle), $pos, 8))"
    }
    val sigCols = (0 until DedupOps.Bands).map { b =>
      val parts = (0 until DedupOps.RowsPerBand)
        .map(r => lane(b * DedupOps.RowsPerBand + r))
        .mkString(" || ")
      s"md5($parts) AS b$b"
    }.mkString(", ")
    val bandRows = (0 until DedupOps.Bands)
      .map(b => s"SELECT doc_id, $b AS band, b$b AS h FROM sig")
      .mkString(" UNION ALL ")
    s"""$shCte,
       |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |bands AS ($bandRows)""".stripMargin
  }

  /** Full-ceiling MinHash band CTEs with a per-pair MIN-BAND tag
    * (mirrors DedupOps.minhashSignatureAt at MinhashMaxBands): band j's
    * key is bit-identical at every band count ≥ j+1 (lane hashes depend
    * only on the lane index), so `min_b < b` IS the b-band candidate
    * surface — the min_t trick applied to the band axis. Feeds the
    * dedup_minhash_auto_recall decision replay.
    */
  private val minBandCtes = {
    val bmax = PipelineQueries.MinhashMaxBands
    def lane(i: Int): String = {
      val digest = i / 4
      val pos = (i % 4) * 8 + 1
      s"min(substr(md5('$digest:' || shingle), $pos, 8))"
    }
    val sigCols = (0 until bmax).map { b =>
      val parts = (0 until DedupOps.RowsPerBand)
        .map(r => lane(b * DedupOps.RowsPerBand + r))
        .mkString(" || ")
      s"md5($parts) AS b$b"
    }.mkString(", ")
    val bandRows = (0 until bmax)
      .map(b => s"SELECT doc_id, $b AS band, b$b AS h FROM mhsig")
      .mkString(" UNION ALL ")
    s"""mhsig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |mhbands AS ($bandRows),
       |mhmt AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    min(a.band) AS min_b
       |  FROM mhbands a JOIN mhbands b
       |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Prefixed shingle + band CTEs over an arbitrary source CTE — the
    * two-corpus (existing vs batch) form [[shCte]]/[[bandsCte]] can't
    * express, used by the incremental-dedup oracle.
    */
  private def shinglesFor(src: String, p: String): String =
    s"""${p}t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $src),
       |${p}sh AS (SELECT DISTINCT doc_id, shingle FROM
       |  (SELECT doc_id, unnest($shingleExpr) AS shingle FROM ${p}t))""".stripMargin

  private def bandsFor(p: String): String = {
    def lane(i: Int): String = {
      val digest = i / 4
      val pos = (i % 4) * 8 + 1
      s"min(substr(md5('$digest:' || shingle), $pos, 8))"
    }
    val sigCols = (0 until DedupOps.Bands).map { b =>
      val parts = (0 until DedupOps.RowsPerBand)
        .map(r => lane(b * DedupOps.RowsPerBand + r))
        .mkString(" || ")
      s"md5($parts) AS b$b"
    }.mkString(", ")
    val bandRows = (0 until DedupOps.Bands)
      .map(b => s"SELECT doc_id, $b AS band, b$b AS h FROM ${p}sig")
      .mkString(" UNION ALL ")
    s"""${p}sig AS (SELECT doc_id, $sigCols FROM ${p}sh GROUP BY doc_id),
       |${p}bands AS ($bandRows)""".stripMargin
  }

  /** Sequential-fold double dot product (mirrors SimilarityOps.dot —
    * left-assoc addition over per-element products keeps IEEE order
    * identical to Spark's `aggregate` fold).
    */
  private def dotExpr(a: String, b: String): String =
    s"list_dot_product($a::DOUBLE[], $b::DOUBLE[])"

  private val normCte =
    s"""n AS (SELECT vec_id, label, embedding::DOUBLE[] AS e,
       |  sqrt(${dotExpr("embedding", "embedding")}) AS nrm FROM embeddings)""".stripMargin

  /** Auto-sized LSH bucket CTEs over the `n` norm CTE (mirrors
    * SimilarityOps.nearDupPairsLsh, multi-probe form): `dsgt` holds
    * each (vector, table)'s full-width plane-dot list — signature bits
    * AND probe margins both derive from it, exactly as the Spark
    * `__ds$$t` columns; `ab$$tgt` computes a target's corpus-adaptive
    * prefix width with the same pure-integer length(bin(m−1)) formula;
    * `asgt$$tgt` is the per-table bucket-entry explode (home rows
    * pk=0 plus, per table, the `probes` lowest-|margin| single-bit
    * flips pk=1); and `lp$$tgt` the deduped candidate pairs that clear
    * `threshold` — probe×probe co-occupancy excluded, as in the
    * engine. The `tgt` suffix lets the frontier oracle derive three
    * targets from ONE materialized dot table.
    */
  private def lshDotsSql(t: Int): String = {
    def planeLit(p: Array[Double]): String =
      p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]::DOUBLE[]")
    graft.ops.SimilarityOps.autoTableHyperplanes(t)
      .map(p => s"list_dot_product(e, ${planeLit(p)})")
      .mkString("[", ",\n      ", "]")
  }

  /** The shared full-width dot CTE: one row per (vector, table). */
  private lazy val lshDsgtCte: String = {
    val branches = (0 until graft.ops.SimilarityOps.LshTables)
      .map(t => s"SELECT vec_id, e, nrm, $t AS t, ${lshDotsSql(t)} AS ds FROM n")
      .mkString("\n  UNION ALL ")
    s"dsgt AS MATERIALIZED ($branches)"
  }

  /** Per-targetBucket CTE block over `dsgt`: prefix width, bucket
    * entries (home + probes), candidate pairs. CTE names are suffixed
    * with `sfx` so several targets compose in one statement.
    */
  private def lshBucketCtes(threshold: Double, tgt: Int, sfx: String = ""): String = {
    val probes = graft.ops.SimilarityOps.LshAutoProbes
    s"""ab$sfx AS MATERIALIZED (SELECT CAST(least(greatest(length(bin(
       |    (count(*) + ${tgt - 1}) // $tgt - 1)), 1),
       |    ${graft.ops.SimilarityOps.LshAutoMaxBits}) AS INT) AS b FROM n),
       |sgt$sfx AS MATERIALIZED (SELECT vec_id, e, nrm, t, ds,
       |    substr(array_to_string(list_transform(ds,
       |      d -> CASE WHEN d > 0 THEN '1' ELSE '0' END), ''), 1, ab$sfx.b) AS sig
       |  FROM dsgt CROSS JOIN ab$sfx),
       |pidx$sfx AS (SELECT vec_id, t, i FROM (
       |    SELECT vec_id, t, i,
       |      row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(ds[i]), i) AS rn
       |    FROM (SELECT vec_id, t, ds,
       |        unnest(range(1, (SELECT b FROM ab$sfx) + 1)) AS i FROM dsgt))
       |  WHERE rn <= $probes),
       |asgt$sfx AS MATERIALIZED (
       |  SELECT vec_id, e, nrm, t, sig, 0 AS pk FROM sgt$sfx
       |  UNION ALL
       |  SELECT s.vec_id, s.e, s.nrm, s.t,
       |    substr(s.sig, 1, p.i - 1) ||
       |      (CASE WHEN substr(s.sig, p.i, 1) = '1' THEN '0' ELSE '1' END) ||
       |      substr(s.sig, p.i + 1) AS sig, 1 AS pk
       |  FROM sgt$sfx s JOIN pidx$sfx p ON s.vec_id = p.vec_id AND s.t = p.t),
       |lp$sfx AS MATERIALIZED (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(max(list_dot_product(a.e, b.e) / (a.nrm * b.nrm)), 6) AS cos_sim
       |  FROM asgt$sfx a JOIN asgt$sfx b ON a.t = b.t AND a.sig = b.sig
       |    AND a.vec_id < b.vec_id AND NOT (a.pk = 1 AND b.pk = 1)
       |  WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= $threshold
       |  GROUP BY 1, 2)""".stripMargin
  }

  private def lshAutoCtes(threshold: Double): String =
    s"""$lshDsgtCte,
       |${lshBucketCtes(threshold, graft.ops.SimilarityOps.LshAutoTargetBucket)}""".stripMargin

  /** The FULL-CEILING ([[graft.ops.SimilarityOps.LshAutoMaxTables]])
    * min_t pair chain plus the query-stripe truth: `lpmt(vec_a, vec_b,
    * min_t)` — min_t < L selects exactly an L-table run's pairs (the
    * prefix property) — `truth(query_id, other_id)` and `ntr(n)`.
    * Shared by the tables-frontier card and the auto-L recall card.
    */
  private def lshMinTCtes(thr: Double, q: Int,
      maxT: Int = graft.ops.SimilarityOps.LshAutoMaxTables): String = {
    val tgt = graft.ops.SimilarityOps.LshAutoTargetBucket
    val probes = graft.ops.SimilarityOps.LshAutoProbes
    val branches = (0 until maxT)
      .map(t => s"SELECT vec_id, e, nrm, $t AS t, ${lshDotsSql(t)} AS ds FROM n")
      .mkString("\n  UNION ALL ")
    s"""tdsg AS MATERIALIZED ($branches),
       |tab AS MATERIALIZED (SELECT CAST(least(greatest(length(bin(
       |    (count(*) + ${tgt - 1}) // $tgt - 1)), 1),
       |    ${graft.ops.SimilarityOps.LshAutoMaxBits}) AS INT) AS b FROM n),
       |tsgt AS MATERIALIZED (SELECT vec_id, e, nrm, t, ds,
       |    substr(array_to_string(list_transform(ds,
       |      d -> CASE WHEN d > 0 THEN '1' ELSE '0' END), ''), 1, tab.b) AS sig
       |  FROM tdsg CROSS JOIN tab),
       |tpidx AS (SELECT vec_id, t, i FROM (
       |    SELECT vec_id, t, i,
       |      row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(ds[i]), i) AS rn
       |    FROM (SELECT vec_id, t, ds,
       |        unnest(range(1, (SELECT b FROM tab) + 1)) AS i FROM tdsg))
       |  WHERE rn <= $probes),
       |tasg AS MATERIALIZED (
       |  SELECT vec_id, e, nrm, t, sig, 0 AS pk FROM tsgt
       |  UNION ALL
       |  SELECT s.vec_id, s.e, s.nrm, s.t,
       |    substr(s.sig, 1, p.i - 1) ||
       |      (CASE WHEN substr(s.sig, p.i, 1) = '1' THEN '0' ELSE '1' END) ||
       |      substr(s.sig, p.i + 1) AS sig, 1 AS pk
       |  FROM tsgt s JOIN tpidx p ON s.vec_id = p.vec_id AND s.t = p.t),
       |lpmt AS MATERIALIZED (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    min(a.t) AS min_t
       |  FROM tasg a JOIN tasg b ON a.t = b.t AND a.sig = b.sig
       |    AND a.vec_id < b.vec_id AND NOT (a.pk = 1 AND b.pk = 1)
       |  WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= $thr
       |  GROUP BY 1, 2),
       |truth AS MATERIALIZED (SELECT qq.vec_id AS query_id, n.vec_id AS other_id
       |  FROM n qq JOIN n ON qq.vec_id < $q AND n.vec_id <> qq.vec_id
       |  WHERE list_dot_product(n.e, qq.e) / (n.nrm * qq.nrm) >= $thr),
       |ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM truth)""".stripMargin
  }

  /** The cross-corpus LSH probe replayed (mirrors
    * SimilarityOps.nearDupPairsLshCrossSlim over the even/odd vec_id
    * split): the prefix width comes from the EXISTING side's count
    * ALONE (`xtab`), each side gets its own dot/signature/probe-entry
    * chain with the SAME planes, and the pair join crosses sides with
    * probe×probe co-occupancy excluded.
    */
  private def lshCrossCtes(thr: Double): String = {
    val tables = graft.ops.SimilarityOps.LshTables
    val tgt = graft.ops.SimilarityOps.LshAutoTargetBucket
    val probes = graft.ops.SimilarityOps.LshAutoProbes
    val maxBits = graft.ops.SimilarityOps.LshAutoMaxBits
    def sideChain(p: String, src: String): String = {
      val branches = (0 until tables)
        .map(t => s"SELECT vec_id, e, nrm, $t AS t, ${lshDotsSql(t)} AS ds FROM $src")
        .mkString("\n  UNION ALL ")
      s"""${p}d AS MATERIALIZED ($branches),
         |${p}s AS (SELECT vec_id, e, nrm, t, ds,
         |    substr(array_to_string(list_transform(ds,
         |      d -> CASE WHEN d > 0 THEN '1' ELSE '0' END), ''), 1, xtab.b) AS sig
         |  FROM ${p}d CROSS JOIN xtab),
         |${p}i AS (SELECT vec_id, t, i FROM (
         |    SELECT vec_id, t, i,
         |      row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(ds[i]), i) AS rn
         |    FROM (SELECT vec_id, t, ds,
         |        unnest(range(1, (SELECT b FROM xtab) + 1)) AS i FROM ${p}d))
         |  WHERE rn <= $probes),
         |${p}a AS MATERIALIZED (
         |  SELECT vec_id, e, nrm, t, sig, 0 AS pk FROM ${p}s
         |  UNION ALL
         |  SELECT s.vec_id, s.e, s.nrm, s.t,
         |    substr(s.sig, 1, p.i - 1) ||
         |      (CASE WHEN substr(s.sig, p.i, 1) = '1' THEN '0' ELSE '1' END) ||
         |      substr(s.sig, p.i + 1) AS sig, 1 AS pk
         |  FROM ${p}s s JOIN ${p}i p ON s.vec_id = p.vec_id AND s.t = p.t)""".stripMargin
    }
    s"""ne AS (SELECT * FROM n WHERE vec_id % 2 = 0),
       |nb AS (SELECT * FROM n WHERE vec_id % 2 = 1),
       |xtab AS MATERIALIZED (SELECT CAST(least(greatest(length(bin(
       |    (count(*) + ${tgt - 1}) // $tgt - 1)), 1), $maxBits) AS INT) AS b
       |  FROM ne),
       |${sideChain("xe", "ne")},
       |${sideChain("xb", "nb")},
       |xp AS (SELECT a.vec_id AS existing_id, b.vec_id AS batch_id,
       |    round(max(list_dot_product(a.e, b.e) / (a.nrm * b.nrm)), 6)
       |      AS cos_sim
       |  FROM xea a JOIN xba b ON a.t = b.t AND a.sig = b.sig
       |    AND NOT (a.pk = 1 AND b.pk = 1)
       |  WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= $thr
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** The degree-capped undirected kNN edge chain (mirrors
    * PipelineQueries.knnEdgesTri): LSH candidate pairs `lp` at
    * TriangleCos from [[lshAutoCtes]], both orientations ranked per
    * source, top-BfsKnnK arcs kept, symmetrized to the DISTINCT
    * undirected edge set `ke(a, b)`, a < b. Every CTE MATERIALIZED:
    * the graph oracles join against the edges repeatedly (label
    * propagation once per iteration), and an inlined CTE would replay
    * the whole LSH chain per reference (the 76 GB-spill trap).
    */
  private def knnEdgeCtes: String =
    s"""${lshAutoCtes(PipelineQueries.TriangleCos)},
       |karcs AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst, cos_sim AS c
       |  FROM lp UNION ALL SELECT vec_b, vec_a, cos_sim FROM lp),
       |kknn AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY c DESC, dst) AS rk
       |  FROM karcs) WHERE rk <= ${PipelineQueries.BfsKnnK}),
       |ke AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
       |    greatest(src, dst) AS b FROM kknn)""".stripMargin

  /** Top-k CTE body over the `n` norm CTE: brute (joinCond = id-only) or
    * cell-restricted. `name` prefixes the internal CTE names so two
    * instances compose in one statement.
    */
  private def topkCtes(name: String, nQueries: Int, k: Int, cellJoin: Boolean,
      src: String = "n"): String = {
    val cond = if (cellJoin) s"$src.label = ${name}q.label AND $src.vec_id <> ${name}q.query_id"
               else s"$src.vec_id <> ${name}q.query_id"
    s"""${name}q AS (SELECT vec_id AS query_id, label, e AS qe, nrm AS qn FROM $src
       |      WHERE vec_id < $nQueries),
       |${name}s AS (SELECT ${name}q.query_id, $src.vec_id AS neighbor_id,
       |    list_dot_product($src.e, ${name}q.qe) / ($src.nrm * ${name}q.qn) AS cos
       |  FROM $src JOIN ${name}q ON $cond),
       |$name AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM ${name}s) WHERE rank <= $k)""".stripMargin
  }

  /** Lloyd's k-means replayed as a CTE chain: one (assign, update) block
    * per iteration, generated to match PipelineQueries.KmeansIters. The
    * arithmetic mirrors SimilarityOps.kmeansCells step for step (argmin
    * of round(|c|²−2·x·c, 6) with cell tiebreak; decimal-exact component
    * means re-rounded to 6dp). Used standalone by `sim_kmeans_cells` and
    * as a nested-WITH CTE body by `sim_recall_kmeans`.
    */
  private lazy val oracleKmeans: String =
    s"WITH $kmeansCtes\nSELECT vec_id, cell FROM af"

  /** Ranked top-k CTE (keeps rank — the metric oracles need it): `$name`
    * = (query_id, neighbor_id, rank) over the `$src` (vec_id, e, nrm)
    * space, IvfQueryCount queries, IvfK deep.
    */
  private def rankedCte(name: String, src: String): String = {
    val nq = PipelineQueries.IvfQueryCount
    val k = PipelineQueries.IvfK
    s"""${name}q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM $src
       |      WHERE vec_id < $nq),
       |${name}s AS (SELECT ${name}q.query_id, $src.vec_id AS neighbor_id,
       |    list_dot_product($src.e, ${name}q.qe) / ($src.nrm * ${name}q.qn) AS cos
       |  FROM $src JOIN ${name}q ON $src.vec_id <> ${name}q.query_id),
       |$name AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM ${name}s) WHERE rank <= $k)""".stripMargin
  }

  /** The metric aggregate over ranked CTEs `ex` (exact) and `tr`
    * (approx): recall@k, MRR, nDCG@k — RetrievalOps.rankingMetrics'
    * arithmetic replayed (DECIMAL gain sums, double division, 6dp).
    */
  private val metricsTail: String =
    s"""j AS (SELECT ex.query_id, ex.rank, tr.rank AS rank_a
       |  FROM ex LEFT JOIN tr USING (query_id, neighbor_id)),
       |g AS (SELECT query_id,
       |    count(*) AS kk,
       |    sum(CASE WHEN rank_a IS NOT NULL THEN 1 ELSE 0 END) AS n_hits,
       |    min(rank_a) AS first_hit,
       |    sum(CASE WHEN rank_a IS NOT NULL
       |        THEN CAST(round(1.0 / log2(rank_a + 1), 6) AS DECIMAL(28,12))
       |        ELSE CAST(0 AS DECIMAL(28,12)) END) AS dcg,
       |    sum(CAST(round(1.0 / log2(rank + 1), 6) AS DECIMAL(28,12))) AS idcg
       |  FROM j GROUP BY query_id)
       |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
       |  CAST(kk AS BIGINT) AS k,
       |  round(CAST(n_hits AS DOUBLE) / kk, 6) AS recall,
       |  round(coalesce(1.0 / first_hit, 0.0), 6) AS mrr,
       |  round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg
       |FROM g""".stripMargin

  /** The sparse-random-projection space as a (vec_id, e, nrm) CTE: the
    * projected vector is RpDim rounded dot products against the fixed
    * ±1 weight literals.
    */
  private lazy val rpCte: String = {
    val ws = graft.ops.SimilarityOps.rpWeights(
      PipelineQueries.RpDim, PipelineQueries.EmbDim)
    val comps = ws.map(w =>
      s"round(list_dot_product(embedding::DOUBLE[], ${w.mkString("[", ",", "]")}::DOUBLE[]), 6)")
      .mkString("[", ",\n    ", "]")
    s"""rp0 AS (SELECT vec_id, $comps AS e FROM embeddings),
       |rp AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM rp0)"""
      .stripMargin
  }

  /** The logistic-regression GD chain (features `f`, weights `w0…wT`) —
    * shared by the score / uncertainty / calibration oracles.
    */
  private lazy val lrChainCtes: String = {
    val lr = graft.ops.ClassifierOps.DefaultLr
    val iters = graft.ops.ClassifierOps.DefaultIters
    def gsum(xj: String) =
      s"round(CAST(sum(CAST(round(e * $xj, 6) AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)"
    val steps = (1 to iters).map { i =>
      s"""g$i AS (SELECT w.w0 AS pw0, w.w1 AS pw1, w.w2 AS pw2,
         |    f.x0, f.x1, f.x2,
         |    round(1.0 / (1.0 + exp(0.0 - round(f.x0 * w.w0 + f.x1 * w.w1 + f.x2 * w.w2, 6))), 6) - f.y AS e
         |  FROM f CROSS JOIN w${i - 1} w),
         |w$i AS (SELECT
         |    round(pw0 - $lr * ${gsum("x0")}, 6) AS w0,
         |    round(pw1 - $lr * ${gsum("x1")}, 6) AS w1,
         |    round(pw2 - $lr * ${gsum("x2")}, 6) AS w2
         |  FROM g$i GROUP BY pw0, pw1, pw2)""".stripMargin
    }.mkString(",\n")
    s"""f AS (SELECT doc_id, lang, mx0, mx1, mx2,
       |    CAST(mx0 AS DOUBLE) / 1000000.0 AS x0,
       |    CAST(mx1 AS DOUBLE) / 1000000.0 AS x1,
       |    CAST(mx2 AS DOUBLE) / 1000000.0 AS x2,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |  FROM (SELECT doc_id, lang,
       |      CAST(1000000 AS BIGINT) AS mx0,
       |      CAST(floor(len(list_filter(toks, x -> x IN ${inList(TextOps.Stopwords)})) * 1000000.0 / len(toks)) AS BIGINT) AS mx1,
       |      CAST(floor(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) * 100000.0 / len(toks)) AS BIGINT) AS mx2
       |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
       |    WHERE len(toks) > 0)),
       |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
       |$steps""".stripMargin
  }

  /** The LOGIT in 1e-12 fixed point against the final weights CTE alias
    * `w` — pure INTEGER arithmetic (micro features × micro weights; a
    * 6dp weight ×1e6 sits within an ulp of its integer, so round→BIGINT
    * is exact). The sigmoid stays internal to training, where
    * gradient-mean rounding absorbs transcendental ulp noise.
    */
  private val lrLogitExpr: String = {
    def wMicro(c: String) = s"CAST(round($c * 1000000.0, 0) AS BIGINT)"
    s"(f.mx0 * ${wMicro("w.w0")} + f.mx1 * ${wMicro("w.w1")} + f.mx2 * ${wMicro("w.w2")})"
  }

  /** One Lloyd's CTE chain over `emb.e$sl` ($sl is a DuckDB list-slice
    * suffix, "" = the whole vector), every CTE name prefixed with `p` so
    * several chains (one per PQ subspace) coexist in one WITH. Produces
    * `${p}c0 … ${p}c$iters` (centroids) and `${p}af` (final assignment).
    */
  private def kmeansChain(p: String, sl: String, k: Int, iters: Int): String = {
    def assignCte(name: String, cs: String) =
      s"""$name AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT emb.vec_id, $cs.cell,
         |      row_number() OVER (PARTITION BY emb.vec_id
         |        ORDER BY round(list_dot_product($cs.c, $cs.c)
         |                       - 2.0 * list_dot_product(emb.e$sl, $cs.c), 6),
         |                 $cs.cell) AS rk
         |    FROM emb CROSS JOIN $cs) WHERE rk = 1)""".stripMargin
    def updateCte(prev: String, uName: String, cName: String) =
      s"""$uName AS (
         |  SELECT cell, pos,
         |    round(CAST(sum(CAST(round(v, 6) AS DECIMAL(28,12))) AS DOUBLE)
         |          / count(*), 6) AS m
         |  FROM (
         |    SELECT $prev.cell, generate_subscripts(emb.e$sl, 1) AS pos,
         |           unnest(emb.e$sl) AS v
         |    FROM emb JOIN $prev USING (vec_id))
         |  GROUP BY cell, pos),
         |$cName AS (SELECT cell, list(m ORDER BY pos) AS c FROM $uName GROUP BY cell)""".stripMargin
    val blocks = (1 to iters).map { i =>
      assignCte(s"${p}a$i", s"${p}c${i - 1}") + ",\n" +
        updateCte(s"${p}a$i", s"${p}u$i", s"${p}c$i")
    }
    s"""${p}c0 AS (SELECT vec_id AS cell, e$sl AS c FROM emb WHERE vec_id < $k),
       |${blocks.mkString(",\n")},
       |${assignCte(s"${p}af", s"${p}c$iters")}""".stripMargin
  }

  private val embCte =
    "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"

  /** The PCA training chain as CTEs — decimal-exact means, the dim²
    * micro-long scatter `sc(i, j, s)`, and the unrolled power iteration
    * ending in `v{PcaIters}(pos, vv)`; `cent(vec_id, pos, cv)` stays
    * visible for projections. Shared by the projection oracle and the
    * variance-explained quotient.
    */
  private lazy val pcaCtes: String = {
    val iters = PipelineQueries.PcaIters
    val dim = PipelineQueries.EmbDim
    val steps = (1 to iters).map { i =>
      s"""w$i AS (SELECT sc.i AS pos,
         |    sum(CAST(sc.s AS DECIMAL(18,0)) *
         |        CAST(v${i - 1}.vv AS DECIMAL(18,0))) AS w
         |  FROM sc JOIN v${i - 1} ON v${i - 1}.pos = sc.j GROUP BY 1),
         |m$i AS (SELECT max(abs(w)) AS wm FROM w$i),
         |v$i AS (SELECT pos,
         |    CASE WHEN wm = 0 THEN 0
         |         ELSE CAST(round(CAST(w AS DOUBLE) / CAST(wm AS DOUBLE)
         |           * 1000000.0) AS BIGINT) END AS vv
         |  FROM w$i, m$i)""".stripMargin
    }.mkString(",\n")
    s"""emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |mu AS (SELECT pos, round(CAST(sum(CAST(round(v, 6)
       |    AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS m
       |  FROM (SELECT generate_subscripts(e, 1) AS pos, unnest(e) AS v
       |        FROM emb)
       |  GROUP BY pos),
       |cent AS (SELECT vec_id, pos, v - m AS cv
       |  FROM (SELECT vec_id, generate_subscripts(e, 1) AS pos,
       |          unnest(e) AS v FROM emb)
       |  JOIN mu USING (pos)),
       |sc AS (SELECT a.pos AS i, b.pos AS j,
       |    CAST(sum(CAST(round(a.cv * b.cv * 1000000.0) AS BIGINT))
       |      AS BIGINT) AS s
       |  FROM cent a JOIN cent b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT pos,
       |    CAST(round(1000000.0 / sqrt($dim.0)) AS BIGINT) AS vv FROM mu),
       |$steps""".stripMargin
  }

  /** The three weak-supervision labeling functions as CTEs ending in
    * `lf(doc_id, label, v0, v1, v2)` — shared by the majority label
    * model and the pairwise-κ diagnostics.
    */
  private lazy val weakLfCtes: String = {
    val scores = TextOps.LangMarkers.zipWithIndex.map { case ((_, ms), i) =>
      s"len(list_filter(toks, x -> x IN ${inList(ms)})) AS s$i"
    }.mkString(", ")
    val n = TextOps.LangMarkers.size
    val total = (0 until n).map(i => s"s$i").mkString(" + ")
    val ladder = TextOps.LangMarkers.zipWithIndex.init.map { case ((lang, _), i) =>
      val conds = ((i + 1) until n).map(j => s"s$i >= s$j").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString(" ")
    s"""t0 AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
       |  FROM documents),
       |t AS (SELECT * FROM t0 WHERE len(toks) > 0),
       |s AS (SELECT doc_id, lang, toks, $scores FROM t),
       |lf AS (SELECT doc_id, lang = 'en' AS label,
       |  CASE WHEN len(list_filter(toks, x -> x IN ${inList(TextOps.Stopwords)})) >= 1 THEN 1 ELSE 0 END AS v0,
       |  CASE WHEN $total = 0 THEN -1
       |       WHEN (CASE $ladder ELSE '${TextOps.LangMarkers.last._1}' END) = 'en' THEN 1
       |       ELSE 0 END AS v1,
       |  CASE WHEN CAST(floor(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) * 1000000.0 / len(toks)) AS BIGINT)
       |         BETWEEN 4200000 AND 4800000 THEN 1 ELSE -1 END AS v2
       |  FROM s)""".stripMargin
  }

  /** The Kneser-Ney per-doc score chain (all five statistics from the
    * unrolled bigram tables), ending in `kns(doc_id, n_bigrams,
    * kn_sum_micro)` — shared by the raw score oracle and the
    * perplexity-bucket mixer that ranks on it.
    */
  private lazy val knScoreCtes: String = {
    val d = PipelineQueries.KnDiscount
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |bg AS (SELECT doc_id, toks[i] AS v, toks[i + 1] AS w
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
       |tf AS (SELECT doc_id, v, w, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
       |pc AS (SELECT v, w, sum(tf) AS c FROM tf GROUP BY 1, 2),
       |lmr AS (SELECT v, sum(c) AS cv, count(*) AS n1v FROM pc GROUP BY 1),
       |rmr AS (SELECT w, count(*) AS n1w FROM pc GROUP BY 1),
       |tt AS (SELECT count(*) AS n1all FROM pc),
       |kns AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |  CAST(sum(CAST(round(tf * ln(
       |      (CAST(c AS DOUBLE) - $d) / CAST(cv AS DOUBLE)
       |      + $d * CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE)
       |        * (CAST(n1w AS DOUBLE) / CAST(n1all AS DOUBLE))) * 1000000.0)
       |    AS BIGINT)) AS BIGINT) AS kn_sum_micro
       |FROM tf JOIN pc USING (v, w) JOIN lmr USING (v) JOIN rmr USING (w)
       |CROSS JOIN tt
       |GROUP BY doc_id)""".stripMargin
  }

  /** The k-means CTE chain without the WITH prefix / final select, so the
    * nprobe oracle can compose it with further CTEs that need BOTH the
    * final centroids (`c{iters}`) and the assignment (`af`).
    */
  private lazy val kmeansCtes: String =
    s"""$embCte,
       |${kmeansChain("", "", PipelineQueries.KmeansK, PipelineQueries.KmeansIters)}""".stripMargin

  /** DuckDB 1-based inclusive slice suffix for PQ subspace `s`. */
  private def pqSlice(s: Int): String = {
    val lo = s * PipelineQueries.PqSubDim + 1
    val hi = (s + 1) * PipelineQueries.PqSubDim
    s"[$lo:$hi]"
  }

  /** All m per-subspace chains (prefixes p0…p{m-1}) plus the code table
    * `pqcodes(vec_id, code_0…code_{m-1})` — shared by both PQ oracles.
    */
  private lazy val pqCtes: String = {
    val m = PipelineQueries.PqM
    val chains = (0 until m)
      .map(s => kmeansChain(s"p$s", pqSlice(s), PipelineQueries.PqK,
        PipelineQueries.PqIters))
      .mkString(",\n")
    val codeCols = (0 until m)
      .map(s => s"p${s}af.cell AS code_$s").mkString(", ")
    val joins = (1 until m)
      .map(s => s"JOIN p${s}af USING (vec_id)").mkString(" ")
    s"""$embCte,
       |$chains,
       |pqcodes AS (SELECT p0af.vec_id, $codeCols FROM p0af $joins)""".stripMargin
  }

  /** The recall@k comparison of an approximate result CTE against the
    * brute-force CTE — shared by the given-label and trained-cell recall
    * oracles.
    */
  private def recallSelect(exact: String, approx: String): String =
    s"""SELECT $exact.query_id,
       |  CAST(sum(CASE WHEN $approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(count(*) AS BIGINT) AS k,
       |  round(CAST(sum(CASE WHEN $approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 6) AS recall
       |FROM $exact LEFT JOIN $approx USING (query_id, neighbor_id)
       |GROUP BY $exact.query_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "text_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextOps.BpePattern}')) AS BIGINT) AS n_tokens_bpe,
         |  CAST(length(text) - length(regexp_replace(text, '${TextOps.PunctClass}', '', 'g')) AS BIGINT) AS n_punct
         |FROM documents""".stripMargin,

    "text_quality" ->
      s"""WITH $tokCte
         |SELECT doc_id,
         |  round(CAST(len(list_filter(toks, x -> x IN ${inList(TextOps.Stopwords)})) AS BIGINT) / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
         |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) / CAST(len(toks) AS DOUBLE), 6) AS mean_token_len
         |FROM t""".stripMargin,

    "text_gopher_rules" ->
      s"""WITH $tokCte,
         |s AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n,
         |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) / CAST(len(toks) AS DOUBLE), 6) AS mlen,
         |  round(CAST(len(list_filter(toks, x -> x IN ${inList(TextOps.Stopwords)})) AS BIGINT) / CAST(len(toks) AS DOUBLE), 6) AS stopr,
         |  round(CAST(len(list_distinct(toks)) AS BIGINT) / CAST(len(toks) AS DOUBLE), 6) AS dr,
         |  round(CAST(list_max(list_transform(list_distinct(toks), t2 -> len(list_filter(toks, x -> x = t2)))) AS BIGINT) / CAST(len(toks) AS DOUBLE), 6) AS tshare
         |FROM t)
         |SELECT doc_id,
         |  (n >= 20 AND n <= 90) AS r_len,
         |  (mlen >= 4.0 AND mlen <= 5.0) AS r_mean_len,
         |  (stopr >= 0.03) AS r_stopwords,
         |  (dr >= 0.4) AS r_distinct,
         |  (tshare <= 0.12) AS r_top_share,
         |  (n >= 20 AND n <= 90 AND mlen >= 4.0 AND mlen <= 5.0
         |   AND stopr >= 0.03 AND dr >= 0.4 AND tshare <= 0.12) AS keep
         |FROM s""".stripMargin,

    // span-corruption replay: same md5 span draw, same rank-by-count
    // sentinel numbering, same slice clamping. DuckDB list slices are
    // 1-based inclusive; range(0, n) is [0, n-1].
    "text_span_corrupt" -> {
      val L = 3
      val pct = 15
      def masked(s: String) =
        s"(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST($s AS VARCHAR)), 1, 4))::BIGINT % 100) < $pct"
      def sent(k: String) = s"'<extra_id_' || CAST($k AS VARCHAR) || '>'"
      def spanToks(s: String) = s"toks[$s*$L+1 : $s*$L+$L]"
      def rank(s: String) = s"len(list_filter(ms, j -> j < $s))"
      s"""WITH $tokCte,
         |m AS (SELECT doc_id, toks,
         |  list_filter(range(0, CAST(ceil(len(toks) / $L.0) AS INT)),
         |              s -> ${masked("s")}) AS ms
         |FROM t)
         |SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN '' ELSE
         |    array_to_string(flatten(list_transform(
         |      range(0, CAST(ceil(len(toks) / $L.0) AS INT)),
         |      s -> CASE WHEN ${masked("s")}
         |                THEN [${sent(rank("s"))}]
         |                ELSE ${spanToks("s")} END)), ' ')
         |  END AS input,
         |  CASE WHEN len(toks) = 0 THEN '<extra_id_0>' ELSE
         |    array_to_string(
         |      flatten(list_transform(ms,
         |        s -> list_prepend(${sent(rank("s"))}, ${spanToks("s")})))
         |      || [${sent("len(ms)")}], ' ')
         |  END AS target,
         |  CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE len(ms) END AS BIGINT) AS n_masked
         |FROM m""".stripMargin
    },

    "text_langid" -> {
      val scores = TextOps.LangMarkers.zipWithIndex.map { case ((_, ms), i) =>
        s"len(list_filter(toks, x -> x IN ${inList(ms)})) AS s$i"
      }.mkString(", ")
      val n = TextOps.LangMarkers.size
      val total = (0 until n).map(i => s"s$i").mkString(" + ")
      val ladder = TextOps.LangMarkers.zipWithIndex.init.map { case ((lang, _), i) =>
        val conds = ((i + 1) until n).map(j => s"s$i >= s$j").mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString(" ")
      s"""WITH $tokCte,
         |s AS (SELECT doc_id, $scores FROM t)
         |SELECT doc_id, CASE WHEN $total = 0 THEN 'und' $ladder
         |  ELSE '${TextOps.LangMarkers.last._1}' END AS lang_pred
         |FROM s""".stripMargin
    },

    // the same ladder grouped against the true label — the heuristic's
    // measured confusion matrix.
    "quality_langid_confusion" -> {
      val scores = TextOps.LangMarkers.zipWithIndex.map { case ((_, ms), i) =>
        s"len(list_filter(toks, x -> x IN ${inList(ms)})) AS s$i"
      }.mkString(", ")
      val n = TextOps.LangMarkers.size
      val total = (0 until n).map(i => s"s$i").mkString(" + ")
      val ladder = TextOps.LangMarkers.zipWithIndex.init.map { case ((lang, _), i) =>
        val conds = ((i + 1) until n).map(j => s"s$i >= s$j").mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
         |  FROM documents),
         |s AS (SELECT doc_id, lang, $scores FROM t),
         |p AS (SELECT lang, CASE WHEN $total = 0 THEN 'und' $ladder
         |    ELSE '${TextOps.LangMarkers.last._1}' END AS lang_pred
         |  FROM s)
         |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY 1, 2""".stripMargin
    },

    "text_fingerprint" ->
      s"""WITH $tokCte
         |SELECT doc_id, list_min(list_transform($shingleExpr, s -> md5(s))) AS fp
         |FROM t""".stripMargin,

    "text_bigrams" ->
      s"""WITH $tokCte,
         |b AS (SELECT
         |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bs
         |  FROM t),
         |c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(bs) AS bigram FROM b) GROUP BY 1)
         |SELECT bigram, n FROM c
         |QUALIFY row_number() OVER (ORDER BY n DESC, bigram) <= 20""".stripMargin,

    "text_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
        |), df AS (
        |  SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok
        |), scored AS (
        |  SELECT tf.doc_id, tf.tok,
        |    round(tf.tf * ln((SELECT count(*) FROM documents) / CAST(df.df AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN df ON tf.tok = df.tok
        |), ranked AS (
        |  SELECT doc_id, tok, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS BIGINT) AS rk
        |  FROM scored
        |)
        |SELECT doc_id, tok, rk, tfidf FROM ranked WHERE rk <= 3""".stripMargin,

    // perceptual-hash replay from the fixture's closed-form pixels:
    // the engine decodes REAL PNG bytes, the oracle recomputes the same
    // exact-integer luma-vs-mean bits from the generator formula — they
    // agree iff the decode is pixel-exact.
    "mm_phash_dedup" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
        |px AS (SELECT doc_id, CAST(1 + doc_id % 3 AS BIGINT) AS h, i,
        |    (doc_id + i * 7) % 256 AS p
        |  FROM d, LATERAL (
        |    SELECT unnest(range(0, 4 * (1 + doc_id % 3))) AS i) x),
        |s AS (SELECT doc_id, h, sum(p) AS sp, count(*) AS n
        |  FROM px GROUP BY 1, 2),
        |b AS (SELECT px.doc_id, s.h, s.n,
        |    sum(CASE WHEN s.n * px.p >= s.sp
        |      THEN (CAST(1 AS BIGINT) << (s.n - 1 - px.i)) ELSE 0 END)
        |      AS ahash
        |  FROM px JOIN s ON px.doc_id = s.doc_id GROUP BY 1, 2, 3)
        |SELECT CAST(4 AS BIGINT) AS width, h AS height,
        |  CAST(ahash AS BIGINT) AS ahash,
        |  CAST(count(*) AS BIGINT) AS n_imgs, min(doc_id) AS first_media
        |FROM b GROUP BY 1, 2, 3 HAVING count(*) > 1""".stripMargin,

    // winnow-index candidates: the winnow selections (distinct per doc),
    // boilerplate df cap, fp-keyed pair join, shared-count cut.
    "dedup_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
         |    i -> ('0x' || substr(md5(
         |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 12))::BIGINT)
         |    AS hs
         |  FROM t WHERE len(toks) >= 3),
         |win AS (SELECT doc_id, hs, unnest(range(1, len(hs) - 2)) AS i
         |  FROM g WHERE len(hs) >= 4),
         |m AS (SELECT doc_id, i, hs, list_min(hs[i:i+3]) AS mn FROM win),
         |p AS (SELECT DISTINCT doc_id, mn AS fp FROM m),
         |grp AS (SELECT fp FROM p GROUP BY fp
         |  HAVING count(*) BETWEEN 2 AND ${PipelineQueries.WinnowMaxDf}),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  WHERE a.fp IN (SELECT fp FROM grp))
         |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM pairs GROUP BY 1, 2
         |HAVING count(*) >= ${PipelineQueries.WinnowMinShared}"""
      .stripMargin,

    // content-defined chunking replay: same gram hashes, same modulo
    // cutpoints, running cut count as the chunk id, order-preserving
    // string_agg fingerprint, duplicate-group rollup.
    "dedup_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, i AS p,
         |    ('0x' || substr(md5(
         |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 12))::BIGINT
         |      AS h
         |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) x
         |  WHERE len(toks) >= 3),
         |c AS (SELECT doc_id, p, h,
         |    coalesce(sum(CASE WHEN h % ${PipelineQueries.CdcDivisor} = 0
         |        THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY p
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS chunk_id
         |  FROM g),
         |ch AS (SELECT doc_id, chunk_id,
         |    md5(string_agg(h, ',' ORDER BY p)) AS chunk_fp,
         |    CAST(count(*) AS BIGINT) AS n_grams
         |  FROM c GROUP BY 1, 2)
         |SELECT chunk_fp, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  min(doc_id) AS first_doc, min(n_grams) AS n_grams
         |FROM ch GROUP BY 1 HAVING count(*) > 1""".stripMargin,

    // winnowing replay: same 48-bit md5-prefix gram hashes, per-window
    // list_min with the rightmost-position tiebreak, DISTINCT selections.
    "text_winnow" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |    i -> ('0x' || substr(md5(
        |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 12))::BIGINT)
        |    AS hs
        |  FROM t WHERE len(toks) >= 3),
        |win AS (SELECT doc_id, hs, unnest(range(1, len(hs) - 2)) AS i
        |  FROM g WHERE len(hs) >= 4),
        |m AS (SELECT doc_id, i, hs, list_min(hs[i:i+3]) AS mn FROM win),
        |p AS (SELECT doc_id, mn AS fp,
        |    CAST(list_max(list_filter(range(i, i + 4), p -> hs[p] = mn))
        |      AS BIGINT) AS pos
        |  FROM m)
        |SELECT DISTINCT doc_id, pos, fp FROM p""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS canonical_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    // substring spans: same k-gram positions via list slicing, same
    // global count filter, same island merge via running-max window
    "dedup_substring_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, p.p AS p,
        |    array_to_string(toks[p.p : p.p + 7], ' ') AS gram
        |  FROM t, LATERAL (
        |    SELECT unnest(generate_series(1, len(toks) - 7)) AS p
        |  ) p
        |  WHERE len(toks) >= 8
        |), rep AS (
        |  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
        |), h AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS s, CAST(p + 8 AS BIGINT) AS e
        |  FROM g WHERE gram IN (SELECT gram FROM rep)
        |), m AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
        |  FROM h
        |), i AS (
        |  SELECT doc_id, s, e,
        |    sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
        |      THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY s, e) AS island
        |  FROM m
        |)
        |SELECT doc_id, min(s) AS span_start, max(e) AS span_end
        |FROM i GROUP BY doc_id, island""".stripMargin,

    "dedup_substring_clean" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, p.p AS p,
        |    array_to_string(toks[p.p : p.p + 7], ' ') AS gram
        |  FROM t, LATERAL (
        |    SELECT unnest(generate_series(1, len(toks) - 7)) AS p
        |  ) p
        |  WHERE len(toks) >= 8
        |), rep AS (
        |  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
        |), h AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS s, CAST(p + 8 AS BIGINT) AS e
        |  FROM g WHERE gram IN (SELECT gram FROM rep)
        |), m AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
        |  FROM h
        |), i AS (
        |  SELECT doc_id, s, e,
        |    sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
        |      THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY s, e) AS island
        |  FROM m
        |), sp AS (
        |  SELECT doc_id, min(s) AS span_start, max(e) AS span_end
        |  FROM i GROUP BY doc_id, island
        |), tokpos AS (
        |  SELECT doc_id, p.p AS p, toks[p.p] AS tok
        |  FROM t, LATERAL (
        |    SELECT unnest(generate_series(1, len(toks))) AS p
        |  ) p
        |), kept AS (
        |  SELECT tp.doc_id, tp.p, tp.tok FROM tokpos tp
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = tp.doc_id
        |      AND tp.p >= sp.span_start AND tp.p < sp.span_end)
        |)
        |SELECT d.doc_id,
        |  coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN kept k ON d.doc_id = k.doc_id
        |GROUP BY d.doc_id""".stripMargin,

    "dedup_canonical" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS canon_md5,
        |  min(doc_id) AS canonical_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY canon_md5""".stripMargin,

    "dedup_minhash_buckets" ->
      s"""WITH $bandsCte
         |SELECT band, h, min(doc_id) AS canonical_doc_id, count(*) AS n_docs
         |FROM bands GROUP BY band, h HAVING count(*) > 1""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""WITH $bandsCte
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id""".stripMargin,

    "dedup_jaccard" ->
      s"""WITH $bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT p.doc_a, p.doc_b, count(*) AS n_common
         |  FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.doc_a
         |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY p.doc_a, p.doc_b)
         |SELECT c.doc_a, c.doc_b,
         |  round(n_common / CAST(ca.n + cb.n - n_common AS DOUBLE), 6) AS jaccard
         |FROM common c
         |JOIN cnt ca ON ca.doc_id = c.doc_a
         |JOIN cnt cb ON cb.doc_id = c.doc_b""".stripMargin,

    // the GD chain replayed: per iteration, a gradient aggregate with
    // DECIMAL sums and the in-engine weight-update formula, weights
    // carried as 1-row CTEs; the final scoring select reuses the same
    // 6dp sigmoid/margin arithmetic.
    // the hashed surface is the LOGIT (exact polynomial arithmetic) —
    // raw transcendentals are kept out of hash-compared columns; see
    // the query-side note.
    "quality_lr_score" ->
      s"""WITH $lrChainCtes
         |SELECT f.doc_id,
         |  $lrLogitExpr AS logit_fp,
         |  $lrLogitExpr >= 0 AS pred,
         |  f.lang = 'en' AS label
         |FROM f CROSS JOIN w${graft.ops.ClassifierOps.DefaultIters} w""".stripMargin,

    // the trained scorer's |logit| bottom-k (≡ |sigmoid − 0.5| by
    // monotone symmetry — active learning's label-next set).
    "sample_uncertainty" -> {
      val iters = graft.ops.ClassifierOps.DefaultIters
      s"""WITH $lrChainCtes
         |SELECT doc_id, logit_fp, margin_fp FROM (
         |  SELECT f.doc_id, $lrLogitExpr AS logit_fp,
         |    abs($lrLogitExpr) AS margin_fp
         |  FROM f CROSS JOIN w$iters w)
         |ORDER BY margin_fp ASC, doc_id ASC LIMIT 25""".stripMargin
    },

    // the Mann-Whitney AUC replayed: distinct-logit groups, exclusive
    // prefix counts, ×2 midranks, the same integer floor division.
    "quality_auc" -> {
      val iters = graft.ops.ClassifierOps.DefaultIters
      s"""WITH $lrChainCtes,
         |sc AS (SELECT f.doc_id, $lrLogitExpr AS logit_fp,
         |    CAST(f.y AS BIGINT) AS yy
         |  FROM f CROSS JOIN w$iters w),
         |g AS (SELECT logit_fp, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(yy) AS BIGINT) AS pc FROM sc GROUP BY 1),
         |cu AS (SELECT pc, cnt,
         |    CAST(sum(cnt) OVER (ORDER BY logit_fp
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cumc
         |  FROM g),
         |ag AS (SELECT CAST(sum(pc) AS BIGINT) AS p,
         |    CAST(sum(cnt - pc) AS BIGINT) AS n,
         |    CAST(sum(pc * (2 * (cumc - cnt) + cnt + 1)) AS BIGINT)
         |      AS ranksum2
         |  FROM cu)
         |SELECT p AS n_pos, n AS n_neg,
         |  CAST((ranksum2 - p * (p + 1)) * 1000000 // (2 * p * n)
         |    AS BIGINT) AS auc_ppm
         |FROM ag""".stripMargin
    },

    // the ranked cut-depth curve over the same chain: logit-desc rank,
    // running TP, decile selection, integer-ppm ratios.
    "quality_pr_curve" -> {
      val iters = graft.ops.ClassifierOps.DefaultIters
      s"""WITH $lrChainCtes,
         |sc AS (SELECT f.doc_id, $lrLogitExpr AS logit_fp,
         |    CAST(f.y AS BIGINT) AS yy
         |  FROM f CROSS JOIN w$iters w),
         |r AS (SELECT doc_id, yy,
         |    CAST(row_number() OVER (ORDER BY logit_fp DESC, doc_id)
         |      AS BIGINT) AS pos,
         |    CAST(sum(yy) OVER (ORDER BY logit_fp DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_tp
         |  FROM sc),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(yy) AS BIGINT) AS p FROM sc),
         |dd AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS decile)
         |SELECT dd.decile, CAST((dd.decile * nn.n) // 10 AS BIGINT) AS k,
         |  r.cum_tp AS tp,
         |  CAST(r.cum_tp * 1000000 // r.pos AS BIGINT) AS precision_ppm,
         |  CAST(r.cum_tp * 1000000 // nn.p AS BIGINT) AS recall_ppm
         |FROM dd CROSS JOIN nn
         |JOIN r ON r.pos = (dd.decile * nn.n) // 10""".stripMargin
    },

    // observed-range reliability diagram over the same chain: DECIMAL
    // score sums so bin means are order-independent.
    "quality_lr_calibration" -> {
      val iters = graft.ops.ClassifierOps.DefaultIters
      s"""WITH $lrChainCtes,
         |sc AS (SELECT f.doc_id, $lrLogitExpr AS logit_fp, CAST(f.y AS BIGINT) AS yy
         |  FROM f CROSS JOIN w$iters w),
         |rg AS (SELECT min(logit_fp) AS mn, max(logit_fp) AS mx FROM sc),
         |b AS (SELECT
         |    CAST(CASE WHEN rg.mx > rg.mn THEN
         |      least(floor(round(CAST(sc.logit_fp - rg.mn AS DOUBLE) / CAST(rg.mx - rg.mn AS DOUBLE), 6) * 10), 9.0)
         |      ELSE 0.0 END AS BIGINT) AS bin,
         |    sc.logit_fp, sc.yy
         |  FROM sc CROSS JOIN rg)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(logit_fp) AS BIGINT) AS sum_logit_fp,
         |  round(CAST(sum(yy) AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
         |    AS frac_positive
         |FROM b GROUP BY bin""".stripMargin
    },

    // the three labeling functions replayed (stopword presence, the
    // langid ladder, the micro-unit length band) + integer majority.
    "weak_labels" ->
      s"""WITH $weakLfCtes,
         |v AS (SELECT doc_id, label,
         |  CAST(v0 AS BIGINT) AS v0, CAST(v1 AS BIGINT) AS v1, CAST(v2 AS BIGINT) AS v2,
         |  CAST((CASE WHEN v0 >= 0 THEN 1 ELSE 0 END) + (CASE WHEN v1 >= 0 THEN 1 ELSE 0 END)
         |    + (CASE WHEN v2 >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_votes,
         |  CAST((CASE WHEN v0 = 1 THEN 1 ELSE 0 END) + (CASE WHEN v1 = 1 THEN 1 ELSE 0 END)
         |    + (CASE WHEN v2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |  FROM lf)
         |SELECT doc_id, label, v0, v1, v2, n_votes, n_pos,
         |  CAST(CASE WHEN n_pos * 2 > n_votes THEN 1
         |            WHEN n_pos * 2 < n_votes THEN 0
         |            ELSE -1 END AS BIGINT) AS majority
         |FROM v""".stripMargin,

    // offset pairs re-derived with nested unnests, negatives by the
    // same md5 draw over the "doc:pos:ctx:g" key.
    "text_skipgram_pairs" -> {
      def neg(g: Int) =
        s"""toks[CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
           |  CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':' || '$g'), 1, 4))::BIGINT
           |  % len(toks) + 1 AS INT)]""".stripMargin.replace("\n", " ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |a AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
         |  FROM t WHERE len(toks) >= 2),
         |b AS (SELECT doc_id, toks, i,
         |    unnest(range(greatest(i - 2, 1), least(i + 2, len(toks)) + 1)) AS j
         |  FROM a),
         |c AS (SELECT * FROM b WHERE j <> i)
         |SELECT doc_id,
         |  toks[CAST(i AS INT)] AS center,
         |  toks[CAST(j AS INT)] AS context,
         |  CAST(i AS BIGINT) AS pos, CAST(j AS BIGINT) AS ctx_pos,
         |  ${neg(0)} || ',' || ${neg(1)} AS negs
         |FROM c""".stripMargin
    },

    // the BPE merge chain replayed step by step: per round, weighted
    // adjacent-pair counts over the vocab sequences, the (count DESC,
    // pair ASC) argmax, and a replace() rewrite — both engines'
    // replace() is leftmost non-overlapping all-occurrences, so the
    // chain (including each round's winner) replays exactly.
    "text_bpe_merges" -> {
      val t = PipelineQueries.BpeMergeCount
      def pairCte(i: Int, src: String) =
        s"""pc$i AS (SELECT tk[i] || ' ' || tk[i + 1] AS pair, sum(cnt) AS c
           |  FROM (SELECT tk, cnt, unnest(range(1, len(tk))) AS i
           |        FROM (SELECT string_split(seq, ' ') AS tk, cnt FROM $src))
           |  GROUP BY pair),
           |m$i AS (SELECT pair, c FROM pc$i ORDER BY c DESC, pair ASC LIMIT 1)"""
          .stripMargin
      def rewriteCte(i: Int, src: String) =
        s"""s$i AS (SELECT replace(seq, (SELECT pair FROM m$i),
           |  (SELECT replace(pair, ' ', '') FROM m$i)) AS seq, cnt FROM $src)"""
          .stripMargin
      val steps = (1 to t).map { i =>
        val src = s"s${i - 1}"
        if (i < t) pairCte(i, src) + ",\n" + rewriteCte(i, src)
        else pairCte(i, src)
      }.mkString(",\n")
      val out = (1 to t).map(i =>
        s"""SELECT CAST($i AS BIGINT) AS merge_rank, pair,
           |  replace(pair, ' ', '') AS merged, CAST(c AS BIGINT) AS pair_count
           |FROM m$i""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH w AS (SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY word),
         |s0 AS (SELECT rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq, cnt
         |  FROM w),
         |$steps
         |$out""".stripMargin
    },

    // the merge chain replayed, then APPLIED per word: the nested
    // replace() uses each round's winner via scalar subqueries over the
    // m_i CTEs, so the oracle derives the tokenizer AND the
    // segmentation from raw text alone.
    "text_bpe_segment" -> {
      val t = PipelineQueries.BpeMergeCount
      def pairCte(i: Int, src: String) =
        s"""pc$i AS (SELECT tk[i] || ' ' || tk[i + 1] AS pair, sum(cnt) AS c
           |  FROM (SELECT tk, cnt, unnest(range(1, len(tk))) AS i
           |        FROM (SELECT string_split(seq, ' ') AS tk, cnt FROM $src))
           |  GROUP BY pair),
           |m$i AS (SELECT pair, c FROM pc$i ORDER BY c DESC, pair ASC LIMIT 1)"""
          .stripMargin
      def rewriteCte(i: Int, src: String) =
        s"""s$i AS (SELECT replace(seq, (SELECT pair FROM m$i),
           |  (SELECT replace(pair, ' ', '') FROM m$i)) AS seq, cnt FROM $src)"""
          .stripMargin
      val steps = (1 to t).map { i =>
        val src = s"s${i - 1}"
        if (i < t) pairCte(i, src) + ",\n" + rewriteCte(i, src)
        else pairCte(i, src)
      }.mkString(",\n")
      val applied = (1 to t).foldLeft("seq0") { (acc, i) =>
        s"replace($acc, (SELECT pair FROM m$i), (SELECT replace(pair, ' ', '') FROM m$i))"
      }
      s"""WITH w AS (SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY word),
         |s0 AS (SELECT rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq, cnt
         |  FROM w),
         |$steps,
         |dw AS (SELECT doc_id, word,
         |    rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq0
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  WHERE len(word) > 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(string_split($applied, ' '))) AS BIGINT) AS n_subwords
         |FROM dw GROUP BY doc_id""".stripMargin
    },

    // the BPE chain re-derived (m1..mT), its products + the alphabet
    // assembled into the WordPiece vocab (initial + ## continuation
    // forms), then greedy longest-match segmentation of each DISTINCT
    // word as a recursive CTE; per-doc rollup joins the word stream.
    "text_wordpiece" -> {
      val t = PipelineQueries.BpeMergeCount
      val p = PipelineQueries.WordpieceMaxPiece
      val mw = PipelineQueries.WordpieceMaxWord
      def pairCte(i: Int, src: String) =
        s"""pc$i AS (SELECT tk[i] || ' ' || tk[i + 1] AS pair, sum(cnt) AS c
           |  FROM (SELECT tk, cnt, unnest(range(1, len(tk))) AS i
           |        FROM (SELECT string_split(seq, ' ') AS tk, cnt FROM $src))
           |  GROUP BY pair),
           |m$i AS (SELECT pair, c FROM pc$i ORDER BY c DESC, pair ASC LIMIT 1)"""
          .stripMargin
      def rewriteCte(i: Int, src: String) =
        s"""s$i AS (SELECT replace(seq, (SELECT pair FROM m$i),
           |  (SELECT replace(pair, ' ', '') FROM m$i)) AS seq, cnt FROM $src)"""
          .stripMargin
      val steps = (1 to t).map { i =>
        val src = s"s${i - 1}"
        if (i < t) pairCte(i, src) + ",\n" + rewriteCte(i, src)
        else pairCte(i, src)
      }.mkString(",\n")
      val singles = ('a' to 'z')
        .flatMap(c => Seq(s"'$c'", s"'##$c'")).mkString(", ")
      val products = (1 to t).map(i =>
        s"(SELECT replace(pair, ' ', '') FROM m$i), " +
          s"'##' || (SELECT replace(pair, ' ', '') FROM m$i)").mkString(", ")
      s"""WITH RECURSIVE w AS (SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY word),
         |s0 AS (SELECT rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq, cnt
         |  FROM w),
         |$steps,
         |v AS (SELECT [$singles, $products] AS vocab),
         |dw AS (SELECT doc_id, word FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |     FROM documents)
         |  WHERE len(word) > 0),
         |uw AS (SELECT DISTINCT word FROM dw),
         |rseg(word, pos, pieces, unk) AS (
         |  SELECT word,
         |    CASE WHEN length(word) > $mw THEN length(word) + 1 ELSE 1 END,
         |    CASE WHEN length(word) > $mw THEN 1 ELSE 0 END,
         |    CASE WHEN length(word) > $mw THEN 1 ELSE 0 END
         |  FROM uw
         |  UNION ALL
         |  SELECT word,
         |    CASE WHEN best = 0 THEN length(word) + 1
         |         ELSE pos + best END,
         |    CASE WHEN best = 0 THEN 1 ELSE pieces + 1 END,
         |    CASE WHEN best = 0 THEN 1 ELSE 0 END
         |  FROM (SELECT word, pos, pieces, unk,
         |      list_max(list_transform(range(1, ${p + 1}), l ->
         |        CASE WHEN pos + l - 1 <= length(word)
         |            AND list_contains(v.vocab,
         |              CASE WHEN pos = 1
         |                THEN substr(word, pos, CAST(l AS INT))
         |                ELSE '##' || substr(word, pos, CAST(l AS INT)) END)
         |          THEN l ELSE 0 END)) AS best
         |    FROM rseg, v WHERE unk = 0 AND pos <= length(word))
         |),
         |term AS (SELECT word, pieces, unk FROM rseg
         |  WHERE unk = 1 OR pos > length(word))
         |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(term.pieces) AS BIGINT) AS n_pieces,
         |  CAST(sum(term.unk) AS BIGINT) AS n_unk
         |FROM dw JOIN term USING (word) GROUP BY dw.doc_id""".stripMargin
    },

    // the unigram-LM trainer replayed end to end: seed substring
    // ranking, each EM round's Viterbi lattice (unrolled per-position
    // DP CTEs with the max(struct(s,l)) argmax), recursive backtrace,
    // usage re-score, prune — the final vocab row for row.
    "text_unigram_train" -> {
      val r = PipelineQueries.UnigramRounds
      s"""WITH RECURSIVE ${unigramChain(segPass = false)}
         |SELECT piece, CAST(c AS BIGINT) AS cnt, s AS score_micro
         |FROM v$r""".stripMargin
    },

    // the trained unigram vocab applied: the same chain plus one more
    // DP pass under the final vocab; per-doc rollup joins the word
    // stream, overlong words take the char-fallback branch.
    "text_unigram_segment" -> {
      val r = PipelineQueries.UnigramRounds
      val mw = PipelineQueries.UnigramMaxWord
      s"""WITH RECURSIVE ${unigramChain(segPass = true)},
         |np AS (SELECT word, CAST(count(*) AS BIGINT) AS np FROM pc${r + 1}
         |  GROUP BY word),
         |nl AS (SELECT word, -s AS nll FROM dpa${r + 1} d
         |  WHERE d.pos = length(d.word)),
         |lw AS (SELECT word, unnest(range(1, length(word) + 1)) AS i FROM uw
         |  WHERE length(word) > $mw),
         |lst AS (SELECT word, CAST(length(word) AS BIGINT) AS np,
         |    -sum(v.s) AS nll
         |  FROM lw JOIN v$r v ON v.piece = substr(word, CAST(i AS INT), 1)
         |  GROUP BY word),
         |stat AS (SELECT n.word, n.np, l.nll FROM np n JOIN nl l USING (word)
         |  UNION ALL
         |  SELECT word, np, nll FROM lst),
         |dw AS (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents)
         |  WHERE len(word) > 0)
         |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(st.np) AS BIGINT) AS n_pieces,
         |  CAST(sum(st.nll) AS BIGINT) AS nll_micro
         |FROM dw JOIN stat st USING (word) GROUP BY dw.doc_id""".stripMargin
    },

    // dedup_jaccard's replay with both asymmetric denominators.
    "dedup_containment" ->
      s"""WITH $bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT p.doc_a, p.doc_b, count(*) AS n_common
         |  FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.doc_a
         |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY p.doc_a, p.doc_b)
         |SELECT c.doc_a, c.doc_b,
         |  round(n_common / CAST(ca.n AS DOUBLE), 6) AS containment_a,
         |  round(n_common / CAST(cb.n AS DOUBLE), 6) AS containment_b,
         |  round(n_common / CAST(ca.n + cb.n - n_common AS DOUBLE), 6) AS jaccard
         |FROM common c
         |JOIN cnt ca ON ca.doc_id = c.doc_a
         |JOIN cnt cb ON cb.doc_id = c.doc_b""".stripMargin,

    "sample_topk_stratum" ->
      """SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT ASC,
        |               doc_id ASC) AS BIGINT) AS rk
        |  FROM documents) WHERE rk <= 20""".stripMargin,

    // dedup_jaccard's replay + the split CASE over each endpoint id +
    // the cross-split filter (wrapped one level so the aliases are
    // referenceable).
    "dedup_split_leakage" -> {
      val t1 = (0.8 * graft.ops.SampleOps.HashSpace).toLong
      val t2 = (0.9 * graft.ops.SampleOps.HashSpace).toLong
      def splitCase(idCol: String): String =
        s"""CASE WHEN ('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 4))::BIGINT < $t1 THEN 'train'
           |     WHEN ('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 4))::BIGINT < $t2 THEN 'val'
           |     ELSE 'test' END""".stripMargin
      s"""WITH $bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT p.doc_a, p.doc_b, count(*) AS n_common
         |  FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.doc_a
         |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY p.doc_a, p.doc_b),
         |jac AS (SELECT c.doc_a, c.doc_b,
         |    round(n_common / CAST(ca.n + cb.n - n_common AS DOUBLE), 6) AS jaccard
         |  FROM common c
         |  JOIN cnt ca ON ca.doc_id = c.doc_a
         |  JOIN cnt cb ON cb.doc_id = c.doc_b),
         |lab AS (SELECT doc_a, doc_b,
         |    ${splitCase("doc_a")} AS split_a,
         |    ${splitCase("doc_b")} AS split_b, jaccard
         |  FROM jac WHERE jaccard >= ${PipelineQueries.LeakJaccard})
         |SELECT doc_a, doc_b, split_a, split_b, jaccard
         |FROM lab WHERE split_a <> split_b""".stripMargin
    },

    "dedup_incremental" ->
      s"""WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |ba AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 10 = 1),
         |bhh AS (SELECT doc_id, md5(text) AS h FROM ba),
         |bcan AS (SELECT h, min(doc_id) AS canon FROM bhh GROUP BY h),
         |ehh AS (SELECT DISTINCT md5(text) AS h FROM ex),
         |${shinglesFor("ba", "ib")},
         |${bandsFor("ib")},
         |${shinglesFor("ex", "ie")},
         |${bandsFor("ie")},
         |cand AS (SELECT DISTINCT b.doc_id, e.doc_id AS e_doc
         |  FROM ibbands b JOIN iebands e ON b.band = e.band AND b.h = e.h),
         |bcnt AS (SELECT doc_id, count(*) AS n FROM ibsh GROUP BY doc_id),
         |ecnt AS (SELECT doc_id, count(*) AS n FROM iesh GROUP BY doc_id),
         |common AS (SELECT c.doc_id, c.e_doc, count(*) AS n_common
         |  FROM cand c
         |  JOIN ibsh sb ON sb.doc_id = c.doc_id
         |  JOIN iesh se ON se.doc_id = c.e_doc AND se.shingle = sb.shingle
         |  GROUP BY c.doc_id, c.e_doc),
         |nd AS (SELECT DISTINCT m.doc_id FROM common m
         |  JOIN bcnt cb ON cb.doc_id = m.doc_id
         |  JOIN ecnt ce ON ce.doc_id = m.e_doc
         |  WHERE round(n_common / CAST(cb.n + ce.n - n_common AS DOUBLE), 6)
         |        >= ${PipelineQueries.SetJoinThreshold})
         |SELECT bhh.doc_id,
         |  CASE WHEN bhh.doc_id <> bcan.canon THEN 'exact_dup_in_batch'
         |       WHEN ehh.h IS NOT NULL THEN 'exact_dup_existing'
         |       WHEN nd.doc_id IS NOT NULL THEN 'near_dup_existing'
         |       ELSE 'new' END AS status
         |FROM bhh JOIN bcan USING (h)
         |LEFT JOIN ehh ON ehh.h = bhh.h
         |LEFT JOIN nd ON nd.doc_id = bhh.doc_id""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(doc_id, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
         |)
         |SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id""".stripMargin,

    // the cluster flood joined back to sources, integer-ppm rate.
    "profile_dedup_rate" ->
      s"""WITH RECURSIVE $bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(doc_id, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
         |),
         |cl AS (SELECT doc_id, min(root) AS cluster_id FROM reach
         |  GROUP BY doc_id),
         |sz AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1),
         |j AS (SELECT d.source,
         |    CASE WHEN sz.sz > 1 THEN 1 ELSE 0 END AS duped
         |  FROM cl JOIN sz USING (cluster_id)
         |  JOIN documents d USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(duped) AS BIGINT) AS n_duped,
         |  CAST((sum(duped) * 1000000) // count(*) AS BIGINT) AS dup_ppm
         |FROM j GROUP BY source""".stripMargin,

    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(doc_id, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
         |),
         |cl AS (SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM cl GROUP BY cluster_id)
         |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY sz""".stripMargin,

    // the cluster chain + per-cluster size + the exact integer floor
    // weight (the microFeatures floor contract).
    "mix_dedup_weights" ->
      s"""WITH RECURSIVE $bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(doc_id, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
         |),
         |cl AS (SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM cl GROUP BY cluster_id)
         |SELECT cl.doc_id, cl.cluster_id, sz.cluster_size,
         |  CAST(floor(1000000.0 / sz.cluster_size) AS BIGINT) AS weight_micro
         |FROM cl JOIN sz USING (cluster_id)""".stripMargin,

    // distinct (source, gram) pairs self-joined on gram with the
    // lexicographic a<b rule — the same order sort_array gives the
    // collected source set.
    "profile_source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |g0 AS (SELECT DISTINCT source, toks[i] || ' ' || toks[i + 1] AS gram
        |  FROM (SELECT source, toks, unnest(range(1, len(toks))) AS i FROM t))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_grams
        |FROM g0 a JOIN g0 b ON a.gram = b.gram AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // SketchOps.hllRegisters replayed: 32-bit md5 draw, top-6-bit
    // register index, rank from bin()-string length (exact — no
    // floating log), max per (source, register).
    "profile_hll_registers" ->
      s"""WITH $hllRegCte
         |SELECT source, idx, max_rank FROM regs""".stripMargin,

    // registers → raw-HLL estimate in integer micro-units (the whole
    // α·m²·2^cap·10⁶ numerator folded into one exact long, floor-div
    // by the rescaled harmonic sum), joined to the exact distinct.
    "profile_hll_shingles" -> {
      val cap = graft.ops.SketchOps.HllRankCap
      val m = graft.ops.SketchOps.HllM
      val num = graft.ops.SketchOps.HllEstNumerator
      s"""WITH $hllRegCte,
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_registers,
         |    CAST(sum(CAST(1 AS BIGINT) << ($cap - max_rank)) AS BIGINT) AS zf
         |  FROM regs GROUP BY 1),
         |e AS (SELECT source, n_registers,
         |    CAST($num // (zf + ($m - n_registers) * ${1L << cap}) AS BIGINT)
         |      AS est_micro FROM g),
         |x AS (SELECT source, CAST(count(DISTINCT shingle) AS BIGINT)
         |    AS exact_distinct FROM ssh GROUP BY 1)
         |SELECT e.source, e.n_registers, e.est_micro, x.exact_distinct,
         |  CAST(abs(e.est_micro - x.exact_distinct * 1000000)
         |    // x.exact_distinct AS BIGINT) AS err_ppm
         |FROM e JOIN x USING (source)""".stripMargin
    },

    // SketchOps.kmvSetOps replayed: per-set 128-minimum md5 synopses,
    // (k−1)·2³² floor-div the k-th smallest for cardinalities, the
    // combined synopsis for the union, rho/k for Jaccard.
    "profile_kmv_overlap" -> {
      val k = PipelineQueries.KmvOverlapK
      val kNum = (k - 1).toLong * 4294967296L
      val sa = PipelineQueries.KmvSrcA
      val sb = PipelineQueries.KmvSrcB
      s"""WITH st AS (SELECT source, string_split(text, ' ') AS toks
         |  FROM documents WHERE source IN ('$sa', '$sb')),
         |ssh AS (SELECT source, unnest($shingleExpr) AS shingle FROM st),
         |dig AS (SELECT DISTINCT
         |    CASE WHEN source = '$sa' THEN 'a' ELSE 'b' END AS s,
         |    md5(shingle) AS d FROM ssh),
         |kmin AS (SELECT s, d FROM (SELECT s, d,
         |    row_number() OVER (PARTITION BY s ORDER BY d) AS r FROM dig)
         |  WHERE r <= $k),
         |ps AS (SELECT s,
         |    CAST($kNum // ('0x' || substr(max(d), 1, 8))::BIGINT AS BIGINT)
         |      AS est FROM kmin GROUP BY 1),
         |uk AS (SELECT d FROM (SELECT d,
         |    row_number() OVER (ORDER BY d) AS r FROM
         |    (SELECT DISTINCT d FROM kmin)) WHERE r <= $k),
         |uu AS (SELECT
         |    CAST($kNum // ('0x' || substr(max(d), 1, 8))::BIGINT AS BIGINT)
         |      AS est_union FROM uk),
         |rr AS (SELECT CAST(count(*) AS BIGINT) AS rho FROM uk
         |  WHERE d IN (SELECT d FROM kmin WHERE s = 'a')
         |    AND d IN (SELECT d FROM kmin WHERE s = 'b')),
         |xa AS (SELECT CAST(count(*) AS BIGINT) AS exact_a FROM dig WHERE s = 'a'),
         |xb AS (SELECT CAST(count(*) AS BIGINT) AS exact_b FROM dig WHERE s = 'b'),
         |xi AS (SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM
         |  (SELECT d FROM dig WHERE s = 'a') ia
         |  WHERE d IN (SELECT d FROM dig WHERE s = 'b'))
         |SELECT CAST($k AS BIGINT) AS k,
         |  (SELECT est FROM ps WHERE s = 'a') AS est_a, xa.exact_a,
         |  (SELECT est FROM ps WHERE s = 'b') AS est_b, xb.exact_b,
         |  uu.est_union,
         |  CAST(xa.exact_a + xb.exact_b - xi.exact_inter AS BIGINT) AS exact_union,
         |  rr.rho,
         |  CAST(rr.rho * 1000000 // $k AS BIGINT) AS est_jaccard_ppm,
         |  CAST(xi.exact_inter * 1000000
         |    // (xa.exact_a + xb.exact_b - xi.exact_inter) AS BIGINT)
         |    AS exact_jaccard_ppm,
         |  CAST(rr.rho * uu.est_union // $k AS BIGINT) AS est_inter,
         |  xi.exact_inter
         |FROM uu, rr, xa, xb, xi""".stripMargin
    },

    // RetrievalOps.apMetric over the lexical-vs-dense frames: the BM25
    // batch ranking (tr) scored against the dense top-k truth (ex) as
    // per-query average precision in nested integer floor divisions.
    "ret_metrics_map" -> {
      val k1 = RetrievalOps.DefaultK1
      val b = RetrievalOps.DefaultB
      val kk = PipelineQueries.HybridK
      val k = PipelineQueries.IvfK
      val vals = PipelineQueries.Bm25Queries
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      val qids = PipelineQueries.Bm25Queries.map(_._1).distinct.mkString(", ")
      s"""WITH qt(query_id, term) AS (VALUES $vals),
         |bl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
         |bst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM bl),
         |btf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM
         |    (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |       unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE tok IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
         |bdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
         |bsc AS (SELECT qt.query_id, btf.doc_id,
         |    CAST(round(ln((bst.n_docs - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)
         |      * (btf.tf * ($k1 + 1)) /
         |      (btf.tf + $k1 * (1.0 - $b + $b * btf.dl / bst.avgdl)), 6)
         |      AS DECIMAL(28,6)) AS term
         |  FROM btf JOIN bdf USING (tok) JOIN qt ON qt.term = btf.tok, bst),
         |bagg AS (SELECT query_id, doc_id,
         |    CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE) AS score
         |  FROM bsc GROUP BY 1, 2),
         |tr AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |  FROM bagg) WHERE rank <= $kk),
         |$normCte,
         |dq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n
         |  WHERE vec_id IN ($qids)),
         |dsems AS (SELECT dq.query_id, n.vec_id AS neighbor_id,
         |    list_dot_product(n.e, dq.qe) / (n.nrm * dq.qn) AS cos
         |  FROM n JOIN dq ON n.vec_id <> dq.query_id),
         |ex AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM dsems) WHERE rank <= $k),
         |apj AS (SELECT ex.query_id, tr.rank AS rank_a
         |  FROM ex JOIN tr USING (query_id, neighbor_id)),
         |rt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS r_total
         |  FROM ex GROUP BY 1),
         |ti AS (SELECT query_id, rank_a,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rank_a)
         |      AS BIGINT) AS i FROM apj),
         |ts AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits,
         |    CAST(sum(i * 1000000 // rank_a) AS BIGINT) AS tsum
         |  FROM ti GROUP BY 1)
         |SELECT rt.query_id, coalesce(ts.n_hits, 0) AS n_hits,
         |  CAST(coalesce(ts.tsum // rt.r_total, 0) AS BIGINT) AS ap_micro
         |FROM rt LEFT JOIN ts USING (query_id)""".stripMargin
    },

    // GraphOps.linkPrediction replayed: the same capped-kNN edge list
    // as graph_triangles (LSH candidates → top-BfsKnnK arcs per node,
    // symmetrized — the r12 re-point), wedge pairs through the center
    // node, NOT EXISTS against the edges, Jaccard in integer ppm,
    // deterministic top-50.
    "graph_linkpred" -> {
      val kk = PipelineQueries.LinkPredK
      s"""WITH $normCte,
         |$knnEdgeCtes,
         |e0 AS MATERIALIZED (SELECT a AS u, b AS v FROM ke),
         |adjacency AS (SELECT u AS nn, v AS nbr FROM e0
         |  UNION ALL SELECT v, u FROM e0),
         |deg AS (SELECT nn, count(*) AS d FROM adjacency GROUP BY 1),
         |cn AS (SELECT a1.nbr AS u, a2.nbr AS v, CAST(count(*) AS BIGINT) AS cn
         |  FROM adjacency a1 JOIN adjacency a2
         |    ON a1.nn = a2.nn AND a1.nbr < a2.nbr
         |  GROUP BY 1, 2),
         |nc AS (SELECT cn.u, cn.v, cn.cn FROM cn
         |  WHERE NOT EXISTS (SELECT 1 FROM e0
         |    WHERE e0.u = cn.u AND e0.v = cn.v))
         |SELECT nc.u, nc.v, nc.cn,
         |  CAST(nc.cn * 1000000 // (du.d + dv.d - nc.cn) AS BIGINT)
         |    AS jaccard_ppm
         |FROM nc JOIN deg du ON du.nn = nc.u JOIN deg dv ON dv.nn = nc.v
         |ORDER BY nc.cn DESC, jaccard_ppm DESC, nc.u, nc.v LIMIT $kk"""
        .stripMargin
    },

    // the global size rank replayed with a plain window, dealt mod k.
    "mix_shard_balance" -> {
      val k = PipelineQueries.ShardBalanceK
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         |  FROM documents),
         |r AS (SELECT doc_id, tok,
         |    row_number() OVER (ORDER BY tok DESC, doc_id) AS rn FROM d)
         |SELECT CAST((rn - 1) % $k AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS tok_sum
         |FROM r GROUP BY 1""".stripMargin
    },

    // the row-hash sum mod 2^48, same canonical '|'-joined row string.
    "profile_checksum" ->
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(('0x' || substr(md5(doc_id::VARCHAR || '|' || lang
         |      || '|' || n_chars::VARCHAR || '|' || text), 1, 12))::BIGINT)
         |    % ${graft.ops.ProfileOps.ChecksumMod} AS BIGINT) AS checksum
         |FROM documents GROUP BY 1""".stripMargin,

    // the same exact-rational Fano factor per token, zeros folded in
    // through the N·Σc² form.
    "text_burstiness" ->
      """WITH pd AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok, doc_id
        |        FROM documents)
        |  WHERE len(tok) > 0 GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |ag AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_docs_with,
        |    CAST(sum(c) AS BIGINT) AS total_c,
        |    CAST(sum(c * c) AS BIGINT) AS sum_c2
        |  FROM pd GROUP BY 1)
        |SELECT ag.tok, ag.n_docs_with, ag.total_c,
        |  CAST((nd.nd * ag.sum_c2 - ag.total_c * ag.total_c) * 1000000
        |    // (nd.nd * ag.total_c) AS BIGINT) AS fano_ppm
        |FROM ag CROSS JOIN nd""".stripMargin,

    // SampleOps.neymanAllocate replayed: exact moments, the same
    // fixed-order sigma/fraction doubles, integer thresholds, and the
    // same md5 draw counting the sample.
    "sample_neyman" ->
      """WITH v AS (SELECT event_type AS stratum, event_id,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v FROM events),
        |st AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_rows,
        |    sum(v) AS s1, sum(CAST(v AS DECIMAL(19,6)) * v) AS s2
        |  FROM v GROUP BY 1),
        |sg AS (SELECT stratum, n_rows,
        |    CASE WHEN n_rows < 2 THEN 0.0
        |      ELSE sqrt((n_rows * CAST(s2 AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |        / (n_rows * (n_rows - 1))) END AS sigma
        |  FROM st),
        |wg AS (SELECT stratum, n_rows, sigma,
        |    CAST(round(CAST(n_rows AS DOUBLE) * sigma * 1000000.0)
        |      AS BIGINT) AS w_micro FROM sg),
        |tt AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total,
        |    CAST(sum(w_micro) AS BIGINT) AS w_total_micro FROM wg),
        |th AS (SELECT stratum, n_rows,
        |    CAST(round(sigma * 1000000.0) AS BIGINT) AS sigma_micro,
        |    CAST(floor((CASE WHEN w_total_micro > 0
        |      THEN least(1.0, round(n_total * 0.1) * sigma * 1000000.0
        |        / w_total_micro)
        |      ELSE 0.0 END) * 65536.0) AS BIGINT) AS thr
        |  FROM wg CROSS JOIN tt)
        |SELECT th.stratum, th.n_rows, th.sigma_micro, th.thr,
        |  CAST(sum(CASE WHEN
        |      ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 4))::BIGINT
        |      < th.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM events e JOIN th ON e.event_type = th.stratum
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // ProfileOps.jsDivergence replayed: the same fixed-order per-token
    // doubles, e-12 integer rounding before the long sum.
    "profile_drift_js" -> {
      val a = PipelineQueries.KmvSrcA
      val b = PipelineQueries.KmvSrcB
      s"""WITH tk AS (SELECT source AS s, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE source IN ('$a', '$b')),
         |c AS (SELECT s, tok, count(*) AS c FROM tk WHERE len(tok) > 0
         |  GROUP BY 1, 2),
         |bt AS (SELECT tok,
         |    CAST(sum(CASE WHEN s = '$a' THEN c ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN s = '$b' THEN c ELSE 0 END) AS BIGINT) AS cb
         |  FROM c GROUP BY 1),
         |tt AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
         |    CAST(sum(cb) AS BIGINT) AS nb FROM bt),
         |tm AS (SELECT tt.na, tt.nb,
         |    CAST(round((
         |      (CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / na)
         |        * ln((CAST(ca AS DOUBLE) / na)
         |          / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb)
         |            / 2.0)) * 0.5 ELSE 0.0 END)
         |      + (CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / nb)
         |        * ln((CAST(cb AS DOUBLE) / nb)
         |          / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb)
         |            / 2.0)) * 0.5 ELSE 0.0 END)
         |      ) * 1000000000000.0) AS BIGINT) AS t12
         |  FROM bt CROSS JOIN tt)
         |SELECT na AS n_tokens_a, nb AS n_tokens_b,
         |  CAST(count(*) AS BIGINT) AS vocab_union,
         |  CAST(sum(t12) AS BIGINT) AS jsd_e12
         |FROM tm GROUP BY 1, 2""".stripMargin
    },

    // the ladder replayed: one count-window per rung, first-match
    // level, release census.
    "privacy_generalize" -> {
      val k = PipelineQueries.KAnonK
      s"""WITH b AS (SELECT lang, source, n_chars,
         |    count(*) OVER (PARTITION BY lang, source, n_chars // 50)
         |      AS c0,
         |    lang || source || CAST(n_chars // 50 AS VARCHAR) AS k0,
         |    count(*) OVER (PARTITION BY lang, source, n_chars // 200)
         |      AS c1,
         |    lang || source || CAST(n_chars // 200 AS VARCHAR) AS k1,
         |    count(*) OVER (PARTITION BY lang, n_chars // 200) AS c2,
         |    lang || CAST(n_chars // 200 AS VARCHAR) AS k2,
         |    count(*) OVER (PARTITION BY lang) AS c3,
         |    lang AS k3
         |  FROM documents),
         |lv AS (SELECT
         |    CASE WHEN c0 >= $k THEN 0 WHEN c1 >= $k THEN 1
         |         WHEN c2 >= $k THEN 2 WHEN c3 >= $k THEN 3
         |         ELSE 4 END AS level,
         |    CASE WHEN c0 >= $k THEN k0 WHEN c1 >= $k THEN k1
         |         WHEN c2 >= $k THEN k2 WHEN c3 >= $k THEN k3
         |         ELSE ' ' END AS cell
         |  FROM b)
         |SELECT CAST(level AS BIGINT) AS level,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT cell) AS BIGINT) AS n_cells
         |FROM lv GROUP BY 1""".stripMargin
    },

    // ProfileOps.tCloseness replayed: cells → margins → per-group
    // spine → cumulative count-difference window → mean |cum| as the
    // exact integer EMD.
    "privacy_t_closeness" ->
      """WITH b AS (SELECT lang, source, n_chars // 100 AS sens_bucket
        |  FROM documents),
        |cell AS (SELECT lang, source, sens_bucket,
        |    CAST(count(*) AS BIGINT) AS c_gs FROM b GROUP BY 1, 2, 3),
        |grp AS (SELECT lang, source, CAST(sum(c_gs) AS BIGINT) AS n_g
        |  FROM cell GROUP BY 1, 2),
        |gd AS (SELECT sens_bucket, CAST(sum(c_gs) AS BIGINT) AS c_s
        |  FROM cell GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_s) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS m FROM gd),
        |sp AS (SELECT g.lang, g.source, g.n_g, gl.sens_bucket, gl.c_s
        |  FROM grp g CROSS JOIN gd gl),
        |j AS (SELECT sp.lang, sp.source, sp.n_g, sp.sens_bucket, sp.c_s,
        |    coalesce(cell.c_gs, 0) AS c_gs
        |  FROM sp LEFT JOIN cell USING (lang, source, sens_bucket)),
        |cum AS (SELECT j.lang, j.source, j.n_g, tot.n, tot.m,
        |    sum(j.c_gs * tot.n - j.c_s * j.n_g) OVER (
        |      PARTITION BY j.lang, j.source ORDER BY j.sens_bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd
        |  FROM j CROSS JOIN tot),
        |agg AS (SELECT lang, source, n_g, n, m, sum(abs(cd)) AS sa
        |  FROM cum GROUP BY 1, 2, 3, 4, 5)
        |SELECT lang, source, n_g,
        |  CAST(CASE WHEN m <= 1 THEN 0
        |    ELSE (sa * 1000000) // (n_g * n * (m - 1)) END AS BIGINT)
        |    AS t_micro
        |FROM agg""".stripMargin,

    // the greedy no-split fold replayed as a recursive CTE per
    // (source, cap), same overflow/dedicated-sequence policy.
    "mix_pack_efficiency" ->
      """WITH RECURSIVE d AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        |  FROM documents),
        |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS total_tok FROM d GROUP BY 1),
        |caps AS (SELECT CAST(unnest([64, 128, 256]) AS BIGINT) AS cap),
        |r(source, cap, rk, fill, seqs, pad) AS (
        |  SELECT s.source, caps.cap, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT source FROM d) s CROSS JOIN caps
        |  UNION ALL
        |  SELECT r.source, r.cap, r.rk + 1,
        |    CASE WHEN d.n > r.cap THEN 0
        |         WHEN r.fill + d.n <= r.cap THEN r.fill + d.n
        |         ELSE d.n END,
        |    CASE WHEN d.n > r.cap THEN r.seqs
        |        + (CASE WHEN r.fill > 0 THEN 1 ELSE 0 END)
        |        + d.n // r.cap
        |        + (CASE WHEN d.n % r.cap > 0 THEN 1 ELSE 0 END)
        |      WHEN r.fill + d.n <= r.cap THEN r.seqs
        |      ELSE r.seqs + 1 END,
        |    CASE WHEN d.n > r.cap THEN r.pad
        |        + (CASE WHEN r.fill > 0 THEN r.cap - r.fill ELSE 0 END)
        |        + (CASE WHEN d.n % r.cap > 0 THEN r.cap - d.n % r.cap
        |           ELSE 0 END)
        |      WHEN r.fill + d.n <= r.cap THEN r.pad
        |      ELSE r.pad + (r.cap - r.fill) END
        |  FROM r JOIN d ON d.source = r.source AND d.rk = r.rk + 1),
        |term AS (SELECT r.source, r.cap, r.fill, r.seqs, r.pad
        |  FROM r JOIN nd ON nd.source = r.source WHERE r.rk = nd.n_docs),
        |fin AS (SELECT source, cap AS seq_len,
        |    seqs + (CASE WHEN fill > 0 THEN 1 ELSE 0 END) AS n_seqs,
        |    pad + (CASE WHEN fill > 0 THEN cap - fill ELSE 0 END) AS pad_tok
        |  FROM term)
        |SELECT fin.source, fin.seq_len, nd.n_docs, nd.total_tok,
        |  CAST(fin.n_seqs AS BIGINT) AS n_seqs,
        |  CAST(fin.pad_tok AS BIGINT) AS pad_tok,
        |  CAST(nd.total_tok * 1000000 // (fin.n_seqs * fin.seq_len)
        |    AS BIGINT) AS fill_ppm
        |FROM fin JOIN nd USING (source)""".stripMargin,

    // the three-state recursion replayed with a 7-slot LIST carried in
    // the CTE; intermediates can't be named, so the new level/seasonal
    // expressions repeat where referenced (the ts_holt pattern).
    "ts_holt_winters" -> {
      val lvl2 = "CAST(round(0.5 * (round(b.value * 1000000.0)" +
        " - CAST(r.seas[CAST(r.rn % 7 + 1 AS INT)] AS DOUBLE))" +
        " + 0.5 * (r.lvl + r.trd)) AS BIGINT)"
      val snew = s"CAST(round(0.5 * (round(b.value * 1000000.0) - $lvl2)" +
        " + 0.5 * r.seas[CAST(r.rn % 7 + 1 AS INT)]) AS BIGINT)"
      s"""WITH RECURSIVE b AS (SELECT user_id, event_id, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS rn
         |  FROM events),
         |r(user_id, event_id, rn, lvl, trd, s_out, seas) AS (
         |  SELECT user_id, event_id, rn,
         |    CAST(round(value * 1000000.0) AS BIGINT),
         |    CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0]
         |  FROM b WHERE rn = 1
         |  UNION ALL
         |  SELECT b.user_id, b.event_id, b.rn,
         |    $lvl2,
         |    CAST(round(0.5 * ($lvl2 - r.lvl) + 0.5 * r.trd) AS BIGINT),
         |    $snew,
         |    r.seas[1:CAST(r.rn % 7 AS INT)] || [$snew]
         |      || r.seas[CAST(r.rn % 7 + 2 AS INT):7]
         |  FROM r JOIN b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
         |SELECT user_id, event_id, lvl AS level_micro, trd AS trend_micro,
         |  s_out AS seasonal_micro
         |FROM r""".stripMargin
    },

    // the scaled-out sign compare, one lag window, the sigma-squared
    // identity in the same double order.
    "ts_runs_test" ->
      """WITH b AS (SELECT user_id, ts, event_id,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v FROM events),
        |st AS (SELECT user_id, ts, event_id, v,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
        |    sum(v) OVER (PARTITION BY user_id) AS s
        |  FROM b),
        |sg AS (SELECT user_id, ts, event_id, n,
        |    CASE WHEN v * n > s THEN 1 ELSE 0 END AS sign
        |  FROM st),
        |ch AS (SELECT user_id, n, sign,
        |    lag(sign, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM sg),
        |ag AS (SELECT user_id, CAST(max(n) AS BIGINT) AS nn,
        |    CAST(sum(sign) AS BIGINT) AS n1,
        |    CAST(1 + sum(CASE WHEN prev IS NULL OR prev = sign
        |      THEN 0 ELSE 1 END) AS BIGINT) AS n_runs
        |  FROM ch GROUP BY 1),
        |f AS (SELECT user_id, n1, nn - n1 AS n2, n_runs, nn FROM ag
        |  WHERE n1 >= 1 AND nn - n1 >= 1 AND nn >= 3)
        |SELECT user_id, n1, n2, n_runs,
        |  CAST(round((n_runs - (2.0 * n1 * n2 / nn + 1.0))
        |    / sqrt(((2.0 * n1 * n2 / nn + 1.0) - 1.0)
        |      * ((2.0 * n1 * n2 / nn + 1.0) - 2.0) / (nn - 1))
        |    * 1000000.0) AS BIGINT) AS z_micro
        |FROM f""".stripMargin,

    // the lag pairing replayed per lag, exact pair moments, the same
    // fixed-order Pearson doubles.
    "ts_acf" -> {
      val lags = (1 to 3).map { l =>
        s"""SELECT user_id, CAST($l AS BIGINT) AS lag, v,
           |  lag(v, $l) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           |    AS vl
           |FROM b""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH b AS (SELECT user_id, ts, event_id,
         |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v FROM events),
         |lg AS ($lags),
         |p AS (SELECT user_id, lag, v, vl FROM lg WHERE vl IS NOT NULL),
         |m AS (SELECT user_id, lag, CAST(count(*) AS BIGINT) AS n,
         |    sum(v) AS sx, sum(vl) AS sy,
         |    sum(CAST(v AS DECIMAL(19,6)) * vl) AS sxy,
         |    sum(CAST(v AS DECIMAL(19,6)) * v) AS sxx,
         |    sum(CAST(vl AS DECIMAL(19,6)) * vl) AS syy
         |  FROM p GROUP BY 1, 2)
         |SELECT user_id, lag, n AS n_pairs,
         |  CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |    * 1000000.0) AS BIGINT) AS r_micro
         |FROM m WHERE n >= 3""".stripMargin
    },

    // Ljung-Box replayed: the acf CTEs verbatim, e-12 terms from the
    // micro-rounded ρ, the same fixed-order Q and χ²(3) milli cut.
    "ts_ljung_box" -> {
      val lags = (1 to 3).map { l =>
        s"""SELECT user_id, CAST($l AS BIGINT) AS lag, v,
           |  lag(v, $l) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           |    AS vl
           |FROM b""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH b AS (SELECT user_id, ts, event_id,
         |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v FROM events),
         |lg AS ($lags),
         |p AS (SELECT user_id, lag, v, vl FROM lg WHERE vl IS NOT NULL),
         |m AS (SELECT user_id, lag, CAST(count(*) AS BIGINT) AS n,
         |    sum(v) AS sx, sum(vl) AS sy,
         |    sum(CAST(v AS DECIMAL(19,6)) * vl) AS sxy,
         |    sum(CAST(v AS DECIMAL(19,6)) * v) AS sxx,
         |    sum(CAST(vl AS DECIMAL(19,6)) * vl) AS syy
         |  FROM p GROUP BY 1, 2),
         |rho AS (SELECT user_id, lag,
         |  CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |    * 1000000.0) AS BIGINT) AS r_micro
         |  FROM m WHERE n >= 3),
         |nt AS (SELECT user_id, count(value) AS n_obs FROM events GROUP BY 1),
         |t AS (SELECT rho.user_id AS user_id, n_obs,
         |    CAST(round((CAST(r_micro AS DOUBLE) / 1000000.0)
         |      * (CAST(r_micro AS DOUBLE) / 1000000.0)
         |      / (n_obs - lag) * 1000000000000.0) AS BIGINT) AS t12
         |  FROM rho JOIN nt ON rho.user_id = nt.user_id),
         |a AS (SELECT user_id, n_obs, sum(t12) AS s12, count(*) AS n_lags
         |  FROM t GROUP BY 1, 2)
         |SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
         |  CAST(n_lags AS BIGINT) AS n_lags,
         |  CAST(round(CAST(n_obs AS DOUBLE) * (n_obs + 2)
         |    * (CAST(s12 AS DOUBLE) / 1000000000000.0) * 1000.0) AS BIGINT)
         |    AS q_milli,
         |  CASE WHEN n_lags = 3 THEN
         |    CAST(round(CAST(n_obs AS DOUBLE) * (n_obs + 2)
         |      * (CAST(s12 AS DOUBLE) / 1000000000000.0) * 1000.0) AS BIGINT)
         |      > 7815
         |    ELSE NULL END AS reject
         |FROM a""".stripMargin
    },

    // the integer sup-CDF distance over the merged value spine, the
    // identical fixed-order critical-value double.
    "dq_ks_test" -> {
      val a = PipelineQueries.KmvSrcA
      val b = PipelineQueries.KmvSrcB
      s"""WITH sp AS (SELECT n_chars AS v,
         |    CAST(sum(CASE WHEN source = '$a' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c1,
         |    CAST(sum(CASE WHEN source = '$b' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c2
         |  FROM documents WHERE source IN ('$a', '$b') GROUP BY 1),
         |cm AS (SELECT v,
         |    CAST(sum(c1) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS f1,
         |    CAST(sum(c2) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS f2
         |  FROM sp),
         |tt AS (SELECT CAST(sum(c1) AS BIGINT) AS n_a,
         |    CAST(sum(c2) AS BIGINT) AS n_b FROM sp),
         |dm AS (SELECT tt.n_a, tt.n_b,
         |    max(abs(cm.f1 * tt.n_b - cm.f2 * tt.n_a)) AS dmax
         |  FROM cm CROSS JOIN tt GROUP BY 1, 2)
         |SELECT n_a, n_b,
         |  CAST(dmax * 1000000 // (n_a * n_b) AS BIGINT) AS d_ppm,
         |  CAST(round(1.358 * sqrt(CAST(n_a + n_b AS DOUBLE)
         |    / CAST(n_a * n_b AS DOUBLE)) * 1000000.0) AS BIGINT)
         |    AS crit_ppm,
         |  CAST(dmax * 1000000 // (n_a * n_b) AS BIGINT)
         |    > CAST(round(1.358 * sqrt(CAST(n_a + n_b AS DOUBLE)
         |      / CAST(n_a * n_b AS DOUBLE)) * 1000000.0) AS BIGINT)
         |    AS reject
         |FROM dm""".stripMargin
    },

    // the same exact moments, micro-long between-variance terms, one
    // floor division; dow from epoch-day mod 7.
    "ts_seasonality" ->
      """WITH b AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000) % 7 AS dow,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v FROM events),
        |cell AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_d,
        |    sum(v) AS s1_d, sum(CAST(v AS DECIMAL(19,6)) * v) AS s2_d
        |  FROM b GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(n_d) AS BIGINT) AS n,
        |    CAST(sum(s1_d) AS DECIMAL(38,6)) AS s1,
        |    CAST(sum(s2_d) AS DECIMAL(38,12)) AS s2
        |  FROM cell GROUP BY 1),
        |tm AS (SELECT cell.event_type, cell.dow, cell.n_d,
        |    CAST(round(cell.n_d
        |      * ((CAST(cell.s1_d AS DOUBLE) / cell.n_d
        |          - CAST(tot.s1 AS DOUBLE) / tot.n)
        |        * (CAST(cell.s1_d AS DOUBLE) / cell.n_d
        |          - CAST(tot.s1 AS DOUBLE) / tot.n))
        |      * 1000000.0) AS BIGINT) AS ssb_t,
        |    CAST(round(CAST(cell.s1_d AS DOUBLE) / cell.n_d * 1000000.0)
        |      AS BIGINT) AS mean_micro,
        |    CAST(round((CAST(tot.s2 AS DOUBLE)
        |      - CAST(tot.s1 AS DOUBLE) * CAST(tot.s1 AS DOUBLE) / tot.n)
        |      * 1000000.0) AS BIGINT) AS sst
        |  FROM cell JOIN tot USING (event_type)),
        |sb AS (SELECT event_type, CAST(sum(ssb_t) AS BIGINT) AS ssb
        |  FROM tm GROUP BY 1)
        |SELECT tm.event_type, tm.dow, tm.n_d AS n_events, tm.mean_micro,
        |  CAST(CASE WHEN tm.sst > 0 THEN sb.ssb * 1000000 // tm.sst
        |    ELSE 0 END AS BIGINT) AS strength_ppm
        |FROM tm JOIN sb USING (event_type)""".stripMargin,

    // the kCore peel with per-round except: layer = the first round a
    // node leaves the graph, 0 = the surviving core. r13: over the
    // shared capped kNN edge chain (ke), like the rest of the family.
    "graph_onion" -> {
      val k = PipelineQueries.KCoreK
      val r = PipelineQueries.KCoreRounds
      val rounds = (1 to r).map { i =>
        s"""a$i AS (SELECT u AS nn FROM e${i - 1}
           |  UNION ALL SELECT v FROM e${i - 1}),
           |nb$i AS (SELECT DISTINCT nn FROM a$i),
           |k$i AS (SELECT nn FROM a$i GROUP BY nn HAVING count(*) >= $k),
           |e$i AS (SELECT e${i - 1}.u, e${i - 1}.v FROM e${i - 1}
           |  WHERE u IN (SELECT nn FROM k$i)
           |    AND v IN (SELECT nn FROM k$i)),
           |sv$i AS (SELECT u AS nn FROM e$i UNION SELECT v FROM e$i),
           |g$i AS (SELECT nn AS node, CAST($i AS BIGINT) AS layer
           |  FROM nb$i WHERE nn NOT IN (SELECT nn FROM sv$i))""".stripMargin
      }.mkString(",\n")
      val gones = (1 to r).map(i => s"SELECT node, layer FROM g$i")
        .mkString("\nUNION ALL\n")
      s"""WITH $normCte,
         |$knnEdgeCtes,
         |e0 AS (SELECT a AS u, b AS v FROM ke),
         |$rounds
         |$gones
         |UNION ALL
         |SELECT nn AS node, CAST(0 AS BIGINT) AS layer FROM sv$r"""
        .stripMargin
    },

    // GraphOps.kCore replayed: the capped kNN edge list (ke) peeled
    // for the same fixed round count, each round unrolled as
    // degree/keep/induce CTEs.
    "graph_kcore" -> {
      val k = PipelineQueries.KCoreK
      val rounds = (1 to PipelineQueries.KCoreRounds).map { i =>
        s"""a$i AS (SELECT u AS nn FROM e${i - 1}
           |  UNION ALL SELECT v FROM e${i - 1}),
           |k$i AS (SELECT nn FROM a$i GROUP BY nn HAVING count(*) >= $k),
           |e$i AS (SELECT e${i - 1}.u, e${i - 1}.v FROM e${i - 1}
           |  WHERE u IN (SELECT nn FROM k$i)
           |    AND v IN (SELECT nn FROM k$i))""".stripMargin
      }.mkString(",\n")
      val last = s"e${PipelineQueries.KCoreRounds}"
      s"""WITH $normCte,
         |$knnEdgeCtes,
         |e0 AS (SELECT a AS u, b AS v FROM ke),
         |$rounds
         |SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM
         |  (SELECT u AS node FROM $last UNION ALL SELECT v FROM $last)
         |GROUP BY node""".stripMargin
    },

    // the cluster flood joined to documents; canonical = longest text,
    // smallest doc_id — replayed with an explicit deterministic window.
    "dedup_survivorship" ->
      s"""WITH RECURSIVE $bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(doc_id, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
         |),
         |cl AS (SELECT doc_id, min(root) AS cluster_id FROM reach
         |  GROUP BY doc_id),
         |j AS (SELECT cl.cluster_id, d.doc_id, d.n_chars
         |  FROM cl JOIN documents d USING (doc_id)),
         |rk AS (SELECT cluster_id, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, doc_id) AS rk FROM j),
         |a AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |  FROM j GROUP BY 1)
         |SELECT a.cluster_id, rk.doc_id AS canonical_doc,
         |  rk.n_chars AS canonical_chars, a.n_members
         |FROM a JOIN rk ON rk.cluster_id = a.cluster_id AND rk.rk = 1"""
        .stripMargin,

    "text_vocab_stats" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT w) AS BIGINT) AS n_types,
        |  round(count(DISTINCT w) / CAST(count(*) AS DOUBLE), 6) AS ttr
        |FROM w WHERE len(w) > 0 GROUP BY source""".stripMargin,

    // the power-iteration chain over the LSH candidate graph, unrolled:
    // contributions round(r/outdeg,6) sum in DECIMAL, damped update
    // round((1-d)/N + d*sum, 6) — GraphOps.pagerank's exact arithmetic.
    "graph_pagerank" -> {
      val d = graft.ops.GraphOps.DefaultDamping
      val iters = graft.ops.GraphOps.DefaultIters
      val steps = (1 to iters).map { i =>
        s"""r$i AS (SELECT dd.dst AS node,
           |    round((1.0 - $d) / (SELECT n FROM nn) +
           |      $d * CAST(sum(CAST(round(r.rank / od.outdeg, 6)
           |        AS DECIMAL(28,12))) AS DOUBLE), 6) AS rank
           |  FROM directed dd
           |  JOIN od ON od.src = dd.src
           |  JOIN r${i - 1} r ON r.node = dd.src
           |  GROUP BY dd.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |directed AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |             UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM directed),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |od AS (SELECT src, count(*) AS outdeg FROM directed GROUP BY src),
         |r0 AS (SELECT node, round(1.0 / (SELECT n FROM nn), 6) AS rank
         |  FROM nodes),
         |$steps
         |SELECT node, rank FROM r$iters""".stripMargin
    },

    // the directed replay: per iteration a dangling-mass CTE (rank sum
    // over nodes absent from od) feeds the uniform redistribution term,
    // and nodes LEFT JOIN the contribution sums so source-only nodes
    // keep their teleport floor.
    "graph_pagerank_directed" -> {
      val d = graft.ops.GraphOps.DefaultDamping
      val iters = graft.ops.GraphOps.DefaultIters
      // every CTE each iterate reads twice (r$i feeds both the next
      // dangling mass AND the next contribution join) is MATERIALIZED
      // — without it DuckDB inlines the references and re-evaluates
      // the whole bands join 2^iters times (measured: a >76 GB temp
      // spill at sf0.1; the engine-side localCheckpoint is the same
      // fix in Spark)
      val steps = (1 to iters).map { i =>
        s"""dm$i AS MATERIALIZED (SELECT CAST(coalesce(sum(CAST(r.rank AS DECIMAL(28,12))), 0)
           |    AS DECIMAL(28,12)) AS dm
           |  FROM r${i - 1} r LEFT JOIN od ON od.src = r.node
           |  WHERE od.src IS NULL),
           |r$i AS MATERIALIZED (SELECT n.node,
           |    round((1.0 - $d) / (SELECT nv FROM nn) +
           |      $d * (CAST(coalesce(c.s, 0) AS DOUBLE) +
           |        CAST((SELECT dm FROM dm$i) AS DOUBLE) / (SELECT nv FROM nn)),
           |      6) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT dd.dst AS node,
           |        sum(CAST(round(r.rank / od.outdeg, 6) AS DECIMAL(28,12))) AS s
           |      FROM directed dd
           |      JOIN od ON od.src = dd.src
           |      JOIN r${i - 1} r ON r.node = dd.src
           |      GROUP BY dd.dst) c ON c.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |directed AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs),
         |nodes AS MATERIALIZED (SELECT src AS node FROM directed
         |          UNION SELECT dst FROM directed),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nv FROM nodes),
         |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM directed GROUP BY src),
         |r0 AS MATERIALIZED (SELECT node, round(1.0 / (SELECT nv FROM nn), 6) AS rank
         |  FROM nodes),
         |$steps
         |SELECT node, rank FROM r$iters""".stripMargin
    },

    // dedup_clusters' replay + the split CASE over the CLUSTER id.
    "split_leakproof" -> {
      val t1 = (0.8 * graft.ops.SampleOps.HashSpace).toLong
      val t2 = (0.9 * graft.ops.SampleOps.HashSpace).toLong
      s"""WITH RECURSIVE $bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(doc_id, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
         |),
         |cl AS (SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))::BIGINT < $t1 THEN 'train'
         |       WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))::BIGINT < $t2 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM cl""".stripMargin
    },

    "dedup_simhash" -> {
      val digits = (0 until 16)
        .map(p => s"instr('0123456789abcdef', substr(h, ${p + 1}, 1)) - 1 AS d$p")
        .mkString(", ")
      val sums = (0 until DedupOps.SimhashBits).map { j =>
        val digit = j / 4
        val pow = 1 << (3 - (j % 4))
        s"sum(2 * ((d$digit // $pow) % 2) - 1) AS s$j"
      }.mkString(", ")
      val bits = (0 until DedupOps.SimhashBits)
        .map(j => s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END")
        .mkString("concat(", ", ", ")")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |hh AS (SELECT doc_id, md5(tok) AS h FROM tok),
         |d AS (SELECT doc_id, $digits FROM hh),
         |s AS (SELECT doc_id, $sums FROM d GROUP BY doc_id)
         |SELECT doc_id, $bits AS simhash FROM s""".stripMargin
    },

    "dedup_simhash_pairs" -> {
      val digits = (0 until 16)
        .map(p => s"instr('0123456789abcdef', substr(h, ${p + 1}, 1)) - 1 AS d$p")
        .mkString(", ")
      val sums = (0 until DedupOps.SimhashBits).map { j =>
        val digit = j / 4
        val pow = 1 << (3 - (j % 4))
        s"sum(2 * ((d$digit // $pow) % 2) - 1) AS s$j"
      }.mkString(", ")
      val bits = (0 until DedupOps.SimhashBits)
        .map(j => s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END")
        .mkString("concat(", ", ", ")")
      val blockLen = DedupOps.SimhashBits / DedupOps.SimhashBlocks
      val blockRows = (0 until DedupOps.SimhashBlocks)
        .map(b => s"SELECT doc_id, simhash, $b AS blk, substr(simhash, ${b * blockLen + 1}, $blockLen) AS key FROM sim")
        .mkString(" UNION ALL ")
      val hamming = (1 to DedupOps.SimhashBits)
        .map(i => s"(CASE WHEN substr(sa, $i, 1) <> substr(sb, $i, 1) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |hh AS (SELECT doc_id, md5(tok) AS h FROM tok),
         |d AS (SELECT doc_id, $digits FROM hh),
         |s AS (SELECT doc_id, $sums FROM d GROUP BY doc_id),
         |sim AS (SELECT doc_id, $bits AS simhash FROM s),
         |blocks AS ($blockRows),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash AS sa, b.simhash AS sb
         |  FROM blocks a JOIN blocks b
         |    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST($hamming AS INT) AS hamming
         |FROM cand WHERE $hamming <= ${DedupOps.SimhashMaxHamming}""".stripMargin
    },

    "emb_norm" ->
      s"""SELECT vec_id, round(sqrt(${dotExpr("embedding", "embedding")}), 6) AS l2_norm
         |FROM embeddings""".stripMargin,

    // naive exact all-pairs form — the Spark side's prefix filter must
    // lose nothing, so the two must hash-match exactly
    "dedup_setjoin_exact" ->
      s"""WITH $shCte,
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b,
         |  round(c / CAST(na.n + nb.n - c AS DOUBLE), 6) AS jaccard
         |FROM common
         |JOIN cnt na ON doc_a = na.doc_id
         |JOIN cnt nb ON doc_b = nb.doc_id
         |WHERE round(c / CAST(na.n + nb.n - c AS DOUBLE), 6)
         |      >= ${PipelineQueries.SetJoinThreshold}""".stripMargin,

    "sim_brute_topk" ->
      s"""WITH $normCte,
         |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n
         |      WHERE vec_id < ${PipelineQueries.BruteQueryCount}),
         |scored AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |    list_dot_product(n.e, q.qe) / (n.nrm * q.qn) AS cos
         |  FROM n JOIN q ON n.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
         |FROM ranked WHERE rank <= ${PipelineQueries.BruteK}""".stripMargin,

    "sim_recall_ivf" ->
      s"""WITH $normCte,
         |${topkCtes("bt", PipelineQueries.IvfQueryCount, PipelineQueries.IvfK, cellJoin = false)},
         |${topkCtes("iv", PipelineQueries.IvfQueryCount, PipelineQueries.IvfK, cellJoin = true)}
         |${recallSelect("bt", "iv")}""".stripMargin,

    "sim_kmeans_cells" -> oracleKmeans,

    // the Lloyd's chain trained over the EXISTING (even-id) half only —
    // `emb` here IS the training subset — then every vector (old and
    // new) assigned against the frozen final centroids.
    "sim_ivf_append" -> {
      val k = PipelineQueries.KmeansK
      val iters = PipelineQueries.KmeansIters
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings WHERE vec_id % 2 = 0),
         |${kmeansChain("", "", k, iters)},
         |allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         |SELECT vec_id, cell, vec_id % 2 = 1 AS is_new FROM (
         |  SELECT allv.vec_id, c$iters.cell,
         |    row_number() OVER (PARTITION BY allv.vec_id
         |      ORDER BY round(list_dot_product(c$iters.c, c$iters.c)
         |                     - 2.0 * list_dot_product(allv.e, c$iters.c), 6),
         |               c$iters.cell) AS rk
         |  FROM allv CROSS JOIN c$iters) WHERE rk = 1""".stripMargin
    },

    // the greedy farthest-point chain replayed step by step: cents_i is
    // cents_{i-1} plus the row maximizing min-d² against it (rounded,
    // vec_id tiebreak — SimilarityOps.kcenterCenters' exact rule); the
    // final select re-derives every row's cover assignment.
    "sim_kcenter_coreset" -> {
      val k = PipelineQueries.KcenterK
      def d2(e: String, c: String) =
        s"round(list_dot_product($e, $e) + list_dot_product($c, $c)" +
          s" - 2.0 * list_dot_product($e, $c), 6)"
      val steps = (1 until k).map { i =>
        s"""dm$i AS (SELECT emb.vec_id, min(${d2("emb.e", s"cents${i - 1}.c")}) AS dmin
           |  FROM emb CROSS JOIN cents${i - 1} GROUP BY emb.vec_id),
           |pick$i AS (SELECT emb.vec_id AS cid, emb.e AS c, $i AS ord
           |  FROM emb JOIN dm$i USING (vec_id)
           |  ORDER BY dm$i.dmin DESC, emb.vec_id ASC LIMIT 1),
           |cents$i AS (SELECT * FROM cents${i - 1} UNION ALL SELECT * FROM pick$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $embCte,
         |cents0 AS (SELECT vec_id AS cid, e AS c, 0 AS ord FROM emb
         |  WHERE vec_id = (SELECT min(vec_id) FROM emb)),
         |$steps,
         |asg AS (SELECT vec_id, cid, d2 FROM (
         |  SELECT emb.vec_id, cents.cid, ${d2("emb.e", "cents.c")} AS d2,
         |    row_number() OVER (PARTITION BY emb.vec_id
         |      ORDER BY ${d2("emb.e", "cents.c")}, cents.cid) AS rk
         |  FROM emb CROSS JOIN cents${k - 1} cents) WHERE rk = 1)
         |SELECT asg.vec_id,
         |  CAST(coalesce(cents.ord, -1) AS BIGINT) AS center_ord,
         |  CAST(asg.cid AS BIGINT) AS center_id,
         |  asg.d2
         |FROM asg LEFT JOIN cents${k - 1} cents ON cents.cid = asg.vec_id""".stripMargin
    },

    // parallel-seeded replay: R candidate rounds (top-L farthest per
    // round, dmin>0 keeps batches disjoint), then the greedy reduce
    // unrolled over the CANDIDATE set instead of the corpus, then the
    // same cover-assignment select.
    "sim_kcenter_parallel" -> {
      val k = PipelineQueries.KcenterK
      val rounds = PipelineQueries.KcenterRounds
      val l = PipelineQueries.KcenterOversample
      def d2(e: String, c: String) =
        s"round(list_dot_product($e, $e) + list_dot_product($c, $c)" +
          s" - 2.0 * list_dot_product($e, $c), 6)"
      val candSteps = (1 to rounds).map { r =>
        s"""rdm$r AS (SELECT emb.vec_id, min(${d2("emb.e", s"cand${r - 1}.c")}) AS dmin
           |  FROM emb CROSS JOIN cand${r - 1} GROUP BY emb.vec_id),
           |rpick$r AS (SELECT emb.vec_id AS cid, emb.e AS c
           |  FROM emb JOIN rdm$r USING (vec_id) WHERE rdm$r.dmin > 0
           |  ORDER BY rdm$r.dmin DESC, emb.vec_id ASC LIMIT $l),
           |cand$r AS (SELECT * FROM cand${r - 1} UNION ALL SELECT * FROM rpick$r)"""
          .stripMargin
      }.mkString(",\n")
      val greedySteps = (1 until k).map { i =>
        s"""gdm$i AS (SELECT cand.cid, min(${d2("cand.c", s"gc${i - 1}.c")}) AS dmin
           |  FROM cand$rounds cand CROSS JOIN gc${i - 1} GROUP BY cand.cid),
           |gpick$i AS (SELECT cand.cid, cand.c, $i AS ord
           |  FROM cand$rounds cand JOIN gdm$i USING (cid)
           |  ORDER BY gdm$i.dmin DESC, cand.cid ASC LIMIT 1),
           |gc$i AS (SELECT * FROM gc${i - 1} UNION ALL SELECT * FROM gpick$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $embCte,
         |cand0 AS (SELECT vec_id AS cid, e AS c FROM emb
         |  WHERE vec_id = (SELECT min(vec_id) FROM emb)),
         |$candSteps,
         |gc0 AS (SELECT cid, c, 0 AS ord FROM cand$rounds
         |  WHERE cid = (SELECT min(cid) FROM cand$rounds)),
         |$greedySteps,
         |asg AS (SELECT vec_id, cid, d2 FROM (
         |  SELECT emb.vec_id, cents.cid, ${d2("emb.e", "cents.c")} AS d2,
         |    row_number() OVER (PARTITION BY emb.vec_id
         |      ORDER BY ${d2("emb.e", "cents.c")}, cents.cid) AS rk
         |  FROM emb CROSS JOIN gc${k - 1} cents) WHERE rk = 1)
         |SELECT asg.vec_id,
         |  CAST(coalesce(cents.ord, -1) AS BIGINT) AS center_ord,
         |  CAST(asg.cid AS BIGINT) AS center_id,
         |  asg.d2
         |FROM asg LEFT JOIN gc${k - 1} cents ON cents.cid = asg.vec_id""".stripMargin
    },

    "sim_pq_codes" -> {
      val cols = (0 until PipelineQueries.PqM)
        .map(s => s"code_$s").mkString(", ")
      s"""WITH $pqCtes
         |SELECT vec_id, $cols FROM pqcodes""".stripMargin
    },

    // MRL truncation replay: the truncated space is the same norm CTE
    // over sliced DOUBLE[] prefixes; shortlist + full-space re-rank
    // mirror truncatedTopKRefined
    "sim_recall_trunc" -> {
      val d = PipelineQueries.TruncDim
      val nq = PipelineQueries.IvfQueryCount
      val k = PipelineQueries.IvfK
      val r = PipelineQueries.PqShortlist
      s"""WITH $normCte,
         |tn AS (SELECT vec_id, label, (embedding::DOUBLE[])[1:$d] AS e,
         |  sqrt(list_dot_product((embedding::DOUBLE[])[1:$d],
         |                        (embedding::DOUBLE[])[1:$d])) AS nrm
         |  FROM embeddings),
         |${topkCtes("ex", nq, k, cellJoin = false)},
         |${topkCtes("tr", nq, k, cellJoin = false, src = "tn")},
         |${topkCtes("sl", nq, r, cellJoin = false, src = "tn")},
         |rfs AS (SELECT sl.query_id, sl.neighbor_id,
         |    list_dot_product(cn.e, qn2.e) / (cn.nrm * qn2.nrm) AS cos
         |  FROM sl JOIN n cn ON cn.vec_id = sl.neighbor_id
         |  JOIN n qn2 ON qn2.vec_id = sl.query_id),
         |rf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM rfs) WHERE rank <= $k)
         |SELECT ex.query_id,
         |  CAST(sum(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_trunc,
         |  CAST(sum(CASE WHEN rf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_refined,
         |  CAST(count(*) AS BIGINT) AS k,
         |  round(CAST(sum(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall_trunc,
         |  round(CAST(sum(CASE WHEN rf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall_refined
         |FROM ex LEFT JOIN tr USING (query_id, neighbor_id)
         |LEFT JOIN rf USING (query_id, neighbor_id)
         |GROUP BY ex.query_id""".stripMargin
    },

    // bruteTopK's replay with the label-mismatch predicate in the join,
    // keeping rank and the rounded cosine.
    "sim_hard_negatives" -> {
      val nq = PipelineQueries.IvfQueryCount
      val k = PipelineQueries.IvfK
      s"""WITH $normCte,
         |hq AS (SELECT vec_id AS query_id, label AS q_label, e AS qe, nrm AS qn
         |  FROM n WHERE vec_id < $nq),
         |hs AS (SELECT hq.query_id, n.vec_id AS neighbor_id,
         |    list_dot_product(n.e, hq.qe) / (n.nrm * hq.qn) AS cos
         |  FROM n JOIN hq ON n.vec_id <> hq.query_id AND n.label <> hq.q_label)
         |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim FROM (
         |  SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM hs) WHERE rank <= $k""".stripMargin
    },

    // ranked exact + ranked truncated lists, then the metric aggregate:
    // binary relevance, gains round(1/log2(r+1),6) summed in DECIMAL,
    // ideal DCG from the exact ranks through the SAME expression.
    "ret_metrics_trunc" -> {
      val d = PipelineQueries.TruncDim
      s"""WITH $normCte,
         |tn AS (SELECT vec_id, label, (embedding::DOUBLE[])[1:$d] AS e,
         |  sqrt(list_dot_product((embedding::DOUBLE[])[1:$d],
         |                        (embedding::DOUBLE[])[1:$d])) AS nrm
         |  FROM embeddings),
         |${rankedCte("ex", "n")},
         |${rankedCte("tr", "tn")},
         |$metricsTail""".stripMargin
    },

    // the metric frame over the PQ/ADC ranker: exact L2 ranked list and
    // the ADC ranked list (both from sim_recall_pq's replay machinery),
    // then the shared metric aggregate.
    "ret_metrics_pq" -> {
      val m = PipelineQueries.PqM
      val iters = PipelineQueries.PqIters
      val nq = PipelineQueries.IvfQueryCount
      val k = PipelineQueries.IvfK
      val qtabs = (0 until m).map { s =>
        s"""qt$s AS (SELECT q.query_id, c.cell,
           |  round(list_dot_product(c.c, c.c)
           |        - 2.0 * list_dot_product(q.e${pqSlice(s)}, c.c), 6) AS d
           |  FROM q CROSS JOIN p${s}c$iters c)""".stripMargin
      }.mkString(",\n")
      val adSum = (0 until m).map(s => s"qt$s.d").mkString(" + ")
      val adJoins = (0 until m)
        .map(s => s"JOIN qt$s ON qt$s.query_id = q.query_id AND qt$s.cell = pqcodes.code_$s")
        .mkString("\n  ")
      s"""WITH $pqCtes,
         |q AS (SELECT vec_id AS query_id, e FROM emb WHERE vec_id < $nq),
         |xs AS (SELECT q.query_id, emb.vec_id AS neighbor_id,
         |  round(list_dot_product(emb.e, emb.e)
         |        - 2.0 * list_dot_product(emb.e, q.e), 6) AS d
         |  FROM emb JOIN q ON emb.vec_id <> q.query_id),
         |ex AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
         |  FROM xs) WHERE rank <= $k),
         |$qtabs,
         |ads AS (SELECT q.query_id, pqcodes.vec_id AS neighbor_id, $adSum AS ad
         |  FROM pqcodes CROSS JOIN q
         |  $adJoins
         |  WHERE pqcodes.vec_id <> q.query_id),
         |tr AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY ad, neighbor_id) AS rank
         |  FROM ads) WHERE rank <= $k),
         |$metricsTail""".stripMargin
    },

    // the same metric frame over the sparse-random-projection space; the
    // ±1 weight matrix literals are the md5-derived constants
    // SimilarityOps.rpWeights defines (part of the algorithm spec, like
    // the LSH lane digests).
    "ret_metrics_rp" -> {
      s"""WITH $normCte,
         |$rpCte,
         |${rankedCte("ex", "n")},
         |${rankedCte("tr", "rp")},
         |$metricsTail""".stripMargin
    },

    // the projection itself, exploded to (vec_id, j, v) rows.
    "sim_rp_project" -> {
      val ws = graft.ops.SimilarityOps.rpWeights(
        PipelineQueries.RpDim, PipelineQueries.EmbDim)
      val rows = ws.zipWithIndex.map { case (w, j) =>
        s"""SELECT vec_id, CAST($j AS BIGINT) AS j,
           |  round(list_dot_product(e, ${w.mkString("[", ",", "]")}::DOUBLE[]), 6) AS v
           |FROM emb""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH $embCte\n$rows"
    },

    "sim_recall_pq" -> {
      val m = PipelineQueries.PqM
      val iters = PipelineQueries.PqIters
      val nq = PipelineQueries.IvfQueryCount
      val k = PipelineQueries.IvfK
      // per-subspace ADC tables against the FINAL trained codebooks
      // (p{s}c{iters}), mirroring pqTopK's broadcast maps
      val qtabs = (0 until m).map { s =>
        s"""qt$s AS (SELECT q.query_id, c.cell,
           |  round(list_dot_product(c.c, c.c)
           |        - 2.0 * list_dot_product(q.e${pqSlice(s)}, c.c), 6) AS d
           |  FROM q CROSS JOIN p${s}c$iters c)""".stripMargin
      }.mkString(",\n")
      val adSum = (0 until m).map(s => s"qt$s.d").mkString(" + ")
      val adJoins = (0 until m)
        .map(s => s"JOIN qt$s ON qt$s.query_id = q.query_id AND qt$s.cell = pqcodes.code_$s")
        .mkString("\n  ")
      val r = PipelineQueries.PqShortlist
      s"""WITH $pqCtes,
         |q AS (SELECT vec_id AS query_id, e FROM emb WHERE vec_id < $nq),
         |xs AS (SELECT q.query_id, emb.vec_id AS neighbor_id,
         |  round(list_dot_product(emb.e, emb.e)
         |        - 2.0 * list_dot_product(emb.e, q.e), 6) AS d
         |  FROM emb JOIN q ON emb.vec_id <> q.query_id),
         |x AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rk
         |  FROM xs) WHERE rk <= $k),
         |$qtabs,
         |ads AS (SELECT q.query_id, pqcodes.vec_id AS neighbor_id, $adSum AS ad
         |  FROM pqcodes CROSS JOIN q
         |  $adJoins
         |  WHERE pqcodes.vec_id <> q.query_id),
         |adr AS (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY ad, neighbor_id) AS rk
         |  FROM ads),
         |ap AS (SELECT query_id, neighbor_id FROM adr WHERE rk <= $k),
         |rf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT sl.query_id, sl.neighbor_id,
         |    row_number() OVER (PARTITION BY sl.query_id
         |      ORDER BY xs.d, sl.neighbor_id) AS rrk
         |  FROM (SELECT query_id, neighbor_id FROM adr WHERE rk <= $r) sl
         |  JOIN xs ON xs.query_id = sl.query_id
         |         AND xs.neighbor_id = sl.neighbor_id)
         |  WHERE rrk <= $k)
         |SELECT x.query_id,
         |  CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_adc,
         |  CAST(sum(CASE WHEN rf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_refined,
         |  CAST(count(*) AS BIGINT) AS k,
         |  round(CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall_adc,
         |  round(CAST(sum(CASE WHEN rf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall_refined
         |FROM x
         |LEFT JOIN ap USING (query_id, neighbor_id)
         |LEFT JOIN rf USING (query_id, neighbor_id)
         |GROUP BY x.query_id""".stripMargin
    },

    // trained-cell recall: the kmeans assignment CTE (nested WITH — a CTE
    // body is a full subquery) replaces the given labels, everything else
    // identical to sim_recall_ivf. The pair (given-label recall 0.13,
    // trained-cell recall 0.49 at sf0.01) is the quantitative case for
    // training the quantizer.
    "sim_recall_kmeans" -> {
      s"""WITH $normCte,
         |km AS ($oracleKmeans),
         |nk AS (SELECT n.vec_id, km.cell AS label, n.e, n.nrm
         |       FROM n JOIN km ON n.vec_id = km.vec_id),
         |${topkCtes("bt", PipelineQueries.IvfQueryCount, PipelineQueries.IvfK, cellJoin = false, src = "nk")},
         |${topkCtes("iv", PipelineQueries.IvfQueryCount, PipelineQueries.IvfK, cellJoin = true, src = "nk")}
         |${recallSelect("bt", "iv")}""".stripMargin
    },

    "text_repetition" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, count(*) AS cnt FROM tk GROUP BY doc_id, tok)
         |SELECT doc_id,
         |  round(CAST(count(*) AS DOUBLE) / CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE), 6) AS distinct_ratio,
         |  round(CAST(max(cnt) AS DOUBLE) / CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE), 6) AS top_tok_frac
         |FROM c GROUP BY doc_id""".stripMargin,

    "text_pii_scrub" ->
      s"""SELECT event_id,
         |  regexp_replace(regexp_replace(regexp_replace(props,
         |    '${TextOps.EmailPattern}', '<EMAIL>', 'g'),
         |    '${TextOps.Ipv4Pattern}', '<IP>', 'g'),
         |    '${TextOps.DigitRunPattern}', '<NUM>', 'g') AS scrubbed,
         |  CAST(len(regexp_extract_all(props, '${TextOps.DigitRunPattern}')) AS BIGINT) AS n_digit_runs
         |FROM events""".stripMargin,

    "sim_lsh_topk" -> {
      def planeLit(p: Array[Double]): String =
        p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]::DOUBLE[]")
      val sigExpr = graft.ops.SimilarityOps.hyperplanes
        .map(p => s"CASE WHEN list_dot_product(e, ${planeLit(p)}) > 0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"""WITH $normCte,
         |sg AS (SELECT vec_id, e, nrm, $sigExpr AS sig FROM n),
         |q AS (SELECT vec_id AS query_id, sig, e AS qe, nrm AS qn FROM sg
         |      WHERE vec_id < ${PipelineQueries.LshQueryCount}),
         |scored AS (SELECT q.query_id, sg.vec_id AS neighbor_id,
         |    list_dot_product(sg.e, q.qe) / (sg.nrm * q.qn) AS cos
         |  FROM sg JOIN q ON sg.sig = q.sig AND sg.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
         |FROM ranked WHERE rank <= ${PipelineQueries.LshK}""".stripMargin
    },

    // IVF nprobe recall replay: the k-means CTE chain yields both the
    // final centroids (cN) and the corpus assignment (af); each query
    // ranks ALL cells by the same rounded (d, cell) rule the assignment
    // argmin uses, probes rank ≤ 1 / ≤ nprobe, and both results
    // left-join the brute-force ground truth.
    "sim_recall_ivf_probe" -> {
      val cN = s"c${PipelineQueries.KmeansIters}"
      def rankTopkIvf(src: String, out: String) =
        s"""$out AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM $src) WHERE rank <= ${PipelineQueries.IvfK})""".stripMargin
      def probeScore(out: String, maxRk: Int) =
        s"""$out AS (SELECT pq.query_id, corp.vec_id AS neighbor_id,
           |    list_dot_product(corp.e, pq.qe) / (corp.nrm * pq.qn) AS cos
           |  FROM pr JOIN corp ON corp.cell = pr.cell AND pr.rk <= $maxRk
           |  JOIN pq ON pq.query_id = pr.query_id
           |  WHERE corp.vec_id <> pr.query_id)""".stripMargin
      s"""WITH $kmeansCtes,
         |$normCte,
         |pq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n
         |       WHERE vec_id < ${PipelineQueries.IvfQueryCount}),
         |pr AS (SELECT query_id, cell, rk FROM (
         |  SELECT pq.query_id, $cN.cell,
         |    row_number() OVER (PARTITION BY pq.query_id
         |      ORDER BY round(list_dot_product($cN.c, $cN.c)
         |                     - 2.0 * list_dot_product(pq.qe, $cN.c), 6),
         |               $cN.cell) AS rk
         |  FROM pq CROSS JOIN $cN)),
         |corp AS (SELECT n.vec_id, n.e, n.nrm, af.cell FROM n JOIN af USING (vec_id)),
         |${probeScore("s1", 1)},
         |${rankTopkIvf("s1", "one")},
         |${probeScore("sm", PipelineQueries.IvfNprobe)},
         |${rankTopkIvf("sm", "multi")},
         |${topkCtes("bt", PipelineQueries.IvfQueryCount, PipelineQueries.IvfK, cellJoin = false)}
         |SELECT bt.query_id,
         |  CAST(sum(CASE WHEN one.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_1probe,
         |  CAST(sum(CASE WHEN multi.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_nprobe,
         |  CAST(count(*) AS BIGINT) AS k,
         |  round(CAST(sum(CASE WHEN one.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall_1probe,
         |  round(CAST(sum(CASE WHEN multi.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall_nprobe
         |FROM bt LEFT JOIN one USING (query_id, neighbor_id)
         |        LEFT JOIN multi USING (query_id, neighbor_id)
         |GROUP BY bt.query_id""".stripMargin
    },

    // SPANN boundary-replication recall replay: the ivf_probe oracle's
    // dual — the row_number cell ranking moves from the query side (pr)
    // to the corpus side (crep), queries keep only their rank-1 cell,
    // and the replica bound is a predicate on the corpus rank.
    "sim_recall_spann" -> {
      val cN = s"c${PipelineQueries.KmeansIters}"
      val r = PipelineQueries.SpannReplicas
      def rankTopk(src: String, out: String) =
        s"""$out AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM $src) WHERE rank <= ${PipelineQueries.IvfK})""".stripMargin
      def repScore(out: String, maxRk: Int) =
        s"""$out AS (SELECT pq.query_id, crep.vec_id AS neighbor_id,
           |    list_dot_product(crep.e, pq.qe) / (crep.nrm * pq.qn) AS cos
           |  FROM qc JOIN crep ON crep.cell = qc.cell AND crep.rk <= $maxRk
           |  JOIN pq ON pq.query_id = qc.query_id
           |  WHERE crep.vec_id <> qc.query_id)""".stripMargin
      s"""WITH $kmeansCtes,
         |$normCte,
         |pq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n
         |       WHERE vec_id < ${PipelineQueries.IvfQueryCount}),
         |qc AS (SELECT query_id, cell FROM (
         |  SELECT pq.query_id, $cN.cell,
         |    row_number() OVER (PARTITION BY pq.query_id
         |      ORDER BY round(list_dot_product($cN.c, $cN.c)
         |                     - 2.0 * list_dot_product(pq.qe, $cN.c), 6),
         |               $cN.cell) AS rk
         |  FROM pq CROSS JOIN $cN) WHERE rk = 1),
         |crep AS (SELECT vec_id, e, nrm, cell, rk FROM (
         |  SELECT n.vec_id, n.e, n.nrm, $cN.cell,
         |    row_number() OVER (PARTITION BY n.vec_id
         |      ORDER BY round(list_dot_product($cN.c, $cN.c)
         |                     - 2.0 * list_dot_product(n.e, $cN.c), 6),
         |               $cN.cell) AS rk
         |  FROM n CROSS JOIN $cN)),
         |${repScore("s1", 1)},
         |${rankTopk("s1", "one")},
         |${repScore("sr", r)},
         |${rankTopk("sr", "rep")},
         |${topkCtes("bt", PipelineQueries.IvfQueryCount, PipelineQueries.IvfK, cellJoin = false)}
         |SELECT bt.query_id,
         |  CAST(sum(CASE WHEN one.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_1replica,
         |  CAST(sum(CASE WHEN rep.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_replicated,
         |  CAST(count(*) AS BIGINT) AS k,
         |  round(CAST(sum(CASE WHEN one.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall_1replica,
         |  round(CAST(sum(CASE WHEN rep.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall_replicated
         |FROM bt LEFT JOIN one USING (query_id, neighbor_id)
         |        LEFT JOIN rep USING (query_id, neighbor_id)
         |GROUP BY bt.query_id""".stripMargin
    },

    // multi-probe LSH recall replay: per-plane |margins| over the query
    // side only (8 UNION ALL branches of exact ±1-dot products), lowest
    // LshProbes−1 by (am, idx) are the flipped bits, probe set = own
    // signature + flips; 1-probe and multi-probe results each
    // left-join the brute-force ground truth.
    "sim_recall_lsh" -> {
      def planeLit(p: Array[Double]): String =
        p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]::DOUBLE[]")
      val sigExpr = graft.ops.SimilarityOps.hyperplanes
        .map(p => s"CASE WHEN list_dot_product(e, ${planeLit(p)}) > 0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      val mgBranches = graft.ops.SimilarityOps.hyperplanes.zipWithIndex
        .map { case (p, i) =>
          s"SELECT query_id, $i AS idx, abs(list_dot_product(qe, ${planeLit(p)})) AS am FROM lq"
        }.mkString("\n  UNION ALL ")
      def rankTopk(src: String, out: String) =
        s"""$out AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM $src) WHERE rank <= ${PipelineQueries.LshK})""".stripMargin
      s"""WITH $normCte,
         |sg AS (SELECT vec_id, e, nrm, $sigExpr AS sig FROM n),
         |lq AS (SELECT vec_id AS query_id, sig, e AS qe, nrm AS qn FROM sg
         |       WHERE vec_id < ${PipelineQueries.LshQueryCount}),
         |mg AS ($mgBranches),
         |fl AS (SELECT query_id, idx FROM (
         |  SELECT query_id, idx,
         |    row_number() OVER (PARTITION BY query_id ORDER BY am, idx) AS rn
         |  FROM mg) WHERE rn <= ${PipelineQueries.LshProbes - 1}),
         |probe AS (
         |  SELECT query_id, sig, qe, qn FROM lq
         |  UNION ALL
         |  SELECT lq.query_id,
         |    substr(lq.sig, 1, fl.idx)
         |      || (CASE substr(lq.sig, fl.idx + 1, 1) WHEN '1' THEN '0' ELSE '1' END)
         |      || substr(lq.sig, fl.idx + 2) AS sig,
         |    lq.qe, lq.qn
         |  FROM lq JOIN fl USING (query_id)),
         |s1 AS (SELECT lq.query_id, sg.vec_id AS neighbor_id,
         |    list_dot_product(sg.e, lq.qe) / (sg.nrm * lq.qn) AS cos
         |  FROM sg JOIN lq ON sg.sig = lq.sig AND sg.vec_id <> lq.query_id),
         |${rankTopk("s1", "one")},
         |sm AS (SELECT probe.query_id, sg.vec_id AS neighbor_id,
         |    list_dot_product(sg.e, probe.qe) / (sg.nrm * probe.qn) AS cos
         |  FROM sg JOIN probe ON sg.sig = probe.sig AND sg.vec_id <> probe.query_id),
         |${rankTopk("sm", "multi")},
         |${topkCtes("bt", PipelineQueries.LshQueryCount, PipelineQueries.LshK, cellJoin = false)}
         |SELECT bt.query_id,
         |  CAST(sum(CASE WHEN one.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_1probe,
         |  CAST(sum(CASE WHEN multi.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_multiprobe,
         |  CAST(count(*) AS BIGINT) AS k,
         |  round(CAST(sum(CASE WHEN one.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall_1probe,
         |  round(CAST(sum(CASE WHEN multi.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall_multiprobe
         |FROM bt LEFT JOIN one USING (query_id, neighbor_id)
         |        LEFT JOIN multi USING (query_id, neighbor_id)
         |GROUP BY bt.query_id""".stripMargin
    },

    // multi-table OR-amplification replay: 8 UNION ALL branches sign the
    // corpus under each 6-bit table's planes; candidates group per
    // (query, neighbor) over any-table bucket matches with min matching
    // table id, so the 1-table baseline is the min_t = 0 slice of the
    // same frame — exactly the Spark plan's shape.
    "sim_recall_lsh_tables" -> {
      def planeLit(p: Array[Double]): String =
        p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]::DOUBLE[]")
      def sigExpr(t: Int): String =
        graft.ops.SimilarityOps.tableHyperplanes(t)
          .map(p => s"CASE WHEN list_dot_product(e, ${planeLit(p)}) > 0 THEN '1' ELSE '0' END")
          .mkString(" || ")
      val sgtBranches = (0 until graft.ops.SimilarityOps.LshTables)
        .map(t => s"SELECT vec_id, e, nrm, $t AS t, ${sigExpr(t)} AS sig FROM n")
        .mkString("\n  UNION ALL ")
      def rankTopk(pred: String, out: String) =
        s"""$out AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM cand $pred) WHERE rank <= ${PipelineQueries.LshK})""".stripMargin
      s"""WITH $normCte,
         |sgt AS ($sgtBranches),
         |qt AS (SELECT vec_id AS query_id, t, sig, e AS qe, nrm AS qn FROM sgt
         |       WHERE vec_id < ${PipelineQueries.LshQueryCount}),
         |cand AS (SELECT qt.query_id, sgt.vec_id AS neighbor_id,
         |    max(list_dot_product(sgt.e, qt.qe) / (sgt.nrm * qt.qn)) AS cos,
         |    min(sgt.t) AS min_t
         |  FROM sgt JOIN qt ON sgt.t = qt.t AND sgt.sig = qt.sig
         |    AND sgt.vec_id <> qt.query_id
         |  GROUP BY qt.query_id, sgt.vec_id),
         |counts AS (SELECT query_id,
         |    CAST(sum(CASE WHEN min_t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cand_1table,
         |    CAST(count(*) AS BIGINT) AS n_cand_tables
         |  FROM cand GROUP BY query_id),
         |${rankTopk("WHERE min_t = 0", "one")},
         |${rankTopk("", "tbl")},
         |${topkCtes("bt", PipelineQueries.LshQueryCount, PipelineQueries.LshK, cellJoin = false)},
         |hits AS (SELECT bt.query_id,
         |    CAST(sum(CASE WHEN one.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_1table,
         |    CAST(sum(CASE WHEN tbl.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_tables,
         |    CAST(count(*) AS BIGINT) AS k
         |  FROM bt LEFT JOIN one USING (query_id, neighbor_id)
         |          LEFT JOIN tbl USING (query_id, neighbor_id)
         |  GROUP BY bt.query_id)
         |SELECT hits.query_id,
         |  CAST(coalesce(counts.n_cand_1table, 0) AS BIGINT) AS n_cand_1table,
         |  CAST(coalesce(counts.n_cand_tables, 0) AS BIGINT) AS n_cand_tables,
         |  hits.n_hits_1table, hits.n_hits_tables, hits.k,
         |  round(CAST(hits.n_hits_1table AS DOUBLE) / hits.k, 6) AS recall_1table,
         |  round(CAST(hits.n_hits_tables AS DOUBLE) / hits.k, 6) AS recall_tables
         |FROM hits LEFT JOIN counts USING (query_id)""".stripMargin
    },

    // the auto-nprobe decision replayed: the SAME k-means chain, each
    // query's centroid ranking (the (d, cell) struct order), ONE tagged
    // candidate relation at maxProbe, brute truth, the probe-rank
    // histogram, the floor-micro frontier, and the min-p pick — the
    // served rows' count comes from the picked slice's top-k.
    "sim_ivf_auto_recall" -> {
      val q = PipelineQueries.IvfQueryCount
      val k = PipelineQueries.IvfK
      val maxProbe = PipelineQueries.KmeansK
      val iters = PipelineQueries.KmeansIters
      val tMicro =
        math.ceil(PipelineQueries.IvfAutoRecallTarget * 1000000.0).toLong
      s"""WITH $kmeansCtes,
         |nv AS (SELECT emb.vec_id, emb.e,
         |    sqrt(list_dot_product(emb.e, emb.e)) AS nrm, af.cell
         |  FROM emb JOIN af USING (vec_id)),
         |nq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, cell
         |  FROM nv WHERE vec_id < $q),
         |pr AS (SELECT nq.query_id, cf.cell,
         |    CAST(row_number() OVER (PARTITION BY nq.query_id
         |      ORDER BY round(list_dot_product(cf.c, cf.c)
         |                     - 2.0 * list_dot_product(nq.qe, cf.c), 6),
         |               cf.cell) AS INT) - 1 AS pos
         |  FROM nq CROSS JOIN c$iters cf),
         |cand AS MATERIALIZED (SELECT p.query_id, nv.vec_id AS neighbor_id,
         |    list_dot_product(nv.e, nq.qe) / (nv.nrm * nq.qn) AS cos, p.pos
         |  FROM pr p JOIN nv ON nv.cell = p.cell
         |  JOIN nq ON nq.query_id = p.query_id
         |  WHERE nv.vec_id <> p.query_id AND p.pos < $maxProbe),
         |ivtr AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
         |    SELECT nq.query_id, nv.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY nq.query_id
         |        ORDER BY list_dot_product(nv.e, nq.qe) / (nv.nrm * nq.qn)
         |          DESC, nv.vec_id) AS rk
         |    FROM nq JOIN nv ON nv.vec_id <> nq.query_id) WHERE rk <= $k),
         |ivntr AS (SELECT count(*) AS n FROM ivtr),
         |ivhist AS (SELECT c.pos, count(*) AS n FROM ivtr t
         |  JOIN cand c USING (query_id, neighbor_id) GROUP BY 1),
         |ivrec AS (SELECT ps.p,
         |    coalesce((SELECT sum(h.n) FROM ivhist h WHERE h.pos < ps.p), 0)
         |    * 1000000 // (SELECT n FROM ivntr) AS r
         |  FROM (SELECT unnest(range(1, $maxProbe + 1)) AS p) ps),
         |ivpick AS (SELECT min(p) AS np FROM ivrec WHERE r >= $tMicro),
         |ivres AS (SELECT count(*) AS n FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM cand WHERE pos < (SELECT np FROM ivpick)) WHERE rk <= $k)
         |SELECT CAST($tMicro AS BIGINT) AS target_micro,
         |  (SELECT n FROM ivntr) AS n_true,
         |  CAST($maxProbe AS BIGINT) AS max_probe,
         |  CAST((SELECT np FROM ivpick) AS BIGINT) AS n_probe,
         |  CAST((SELECT r FROM ivrec WHERE p = (SELECT np FROM ivpick))
         |    AS BIGINT) AS achieved_recall_micro,
         |  (SELECT n FROM ivres) AS n_results""".stripMargin
    },

    "sim_ivf_topk" ->
      s"""WITH $normCte,
         |q AS (SELECT vec_id AS query_id, label, e AS qe, nrm AS qn FROM n
         |      WHERE vec_id < ${PipelineQueries.IvfQueryCount}),
         |scored AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |    list_dot_product(n.e, q.qe) / (n.nrm * q.qn) AS cos
         |  FROM n JOIN q ON n.label = q.label AND n.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
         |FROM ranked WHERE rank <= ${PipelineQueries.IvfK}""".stripMargin,

    // SemDeDup replay: the full k-means chain (same CTEs as
    // sim_kmeans_cells), centroid distance via the assignment functional
    // round(|c|²−2·x·c, 6), dominance = (cdist DESC, vec_id ASC), drop
    // any member with an earlier in-cell near-dup. Cosine compared
    // UNROUNDED, like dedup_embedding.
    "dedup_semantic" ->
      s"""WITH $kmeansCtes,
         |nv AS (SELECT emb.vec_id, emb.e,
         |    sqrt(list_dot_product(emb.e, emb.e)) AS nrm, af.cell,
         |    round(list_dot_product(cf.c, cf.c)
         |          - 2.0 * list_dot_product(emb.e, cf.c), 6) AS cdist
         |  FROM emb JOIN af USING (vec_id)
         |  JOIN c${PipelineQueries.KmeansIters} cf ON af.cell = cf.cell),
         |dup AS (SELECT DISTINCT b.vec_id
         |  FROM nv a JOIN nv b ON a.cell = b.cell
         |    AND (a.cdist > b.cdist OR (a.cdist = b.cdist AND a.vec_id < b.vec_id))
         |  WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
         |        >= ${PipelineQueries.NearDupThreshold})
         |SELECT nv.vec_id, nv.cell,
         |  CAST(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM nv LEFT JOIN dup USING (vec_id)""".stripMargin,

    // blocked Levenshtein replay: same (lang, prefix) blocking, plain
    // levenshtein ≤ maxDist (the engine side's threshold DP is an
    // early-exit of the same metric)
    // blk is the length-prefixed injective encoding of (lang, prefix8)
    // — see the engine-side note on the suffix-stripping invariant.
    "dedup_editdist" ->
      """WITH d AS (SELECT doc_id,
        |    lpad(CAST(length(lang) AS VARCHAR), 2, '0') || lang
        |      || substr(text, 1, 8) AS blk,
        |    substr(text, 1, 24) AS s
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 4""".stripMargin,

    // blocked Jaro-Winkler replay: same blocking, DuckDB's native
    // jaro_winkler_similarity micro-rounded (the engine's exact-integer
    // expression was verified equal to this on 40k randomized cases;
    // the threshold compares the micro value on both sides).
    "dedup_jaro" ->
      s"""WITH d AS (SELECT doc_id,
         |    lang || '|' || substr(text, 1, 8) AS blk,
         |    substr(text, 1, 24) AS s
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(round(jaro_winkler_similarity(a.s, b.s) * 1e6, 0) AS BIGINT)
         |    AS jw_micro
         |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |WHERE CAST(round(jaro_winkler_similarity(a.s, b.s) * 1e6, 0) AS BIGINT)
         |      >= ${PipelineQueries.JaroMinMicro}""".stripMargin,

    // the capped jaro surface: the same blocked pair chain, then a
    // pair survives iff it ranks within EITHER endpoint's k best
    // partners (jw desc, partner-id tiebreak), normalized undirected.
    "dedup_jaro_topk" ->
      s"""WITH d AS (SELECT doc_id,
         |    lang || '|' || substr(text, 1, 8) AS blk,
         |    substr(text, 1, 24) AS s
         |  FROM documents),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(round(jaro_winkler_similarity(a.s, b.s) * 1e6, 0) AS BIGINT)
         |    AS jw_micro
         |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |WHERE CAST(round(jaro_winkler_similarity(a.s, b.s) * 1e6, 0) AS BIGINT)
         |      >= ${PipelineQueries.JaroMinMicro}),
         |arcs AS (SELECT doc_a AS q, doc_b AS o, jw_micro FROM p
         |  UNION ALL SELECT doc_b, doc_a, jw_micro FROM p),
         |r AS (SELECT q, o, jw_micro,
         |    row_number() OVER (PARTITION BY q ORDER BY jw_micro DESC, o)
         |      AS rn FROM arcs)
         |SELECT DISTINCT least(q, o) AS doc_a, greatest(q, o) AS doc_b,
         |  jw_micro
         |FROM r WHERE rn <= ${PipelineQueries.JaroTopKPerDoc}""".stripMargin,

    "dedup_embedding" ->
      s"""WITH $normCte
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cos_sim
         |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= ${PipelineQueries.NearDupThreshold}""".stripMargin,

    // LSH-bucket near-dup pairs replayed: the same adaptive prefix
    // width (integer bin-length), per-table signature buckets, in-bucket
    // pairs, exact-cosine gate, per-pair dedup.
    "dedup_embedding_lsh" ->
      s"""WITH $normCte,
         |${lshAutoCtes(PipelineQueries.NearDupThreshold)}
         |SELECT vec_a, vec_b, cos_sim FROM lp""".stripMargin,

    // the targetBucket frontier replayed: ONE materialized full-width
    // plane-dot table, three targets' bucket chains (each with its own
    // prefix width and probe flips) derived from it, per-target recall
    // and pair volume.
    "dedup_lsh_frontier" -> {
      val thr = PipelineQueries.NearDupThreshold
      val q = PipelineQueries.LshQueryCount
      def per(tgt: Int): String =
        s"""${lshBucketCtes(thr, tgt, tgt.toString)},
           |h$tgt AS (SELECT count(*) AS n_hit FROM truth
           |  JOIN (SELECT query_id, other_id FROM (
           |      SELECT vec_a AS query_id, vec_b AS other_id FROM lp$tgt
           |      UNION ALL SELECT vec_b, vec_a FROM lp$tgt)
           |    WHERE query_id < $q) b USING (query_id, other_id)),
           |np$tgt AS (SELECT count(*) AS n_pairs FROM lp$tgt)""".stripMargin
      def row(tgt: Int): String =
        s"""SELECT CAST($tgt AS BIGINT) AS target_bucket,
           |  (SELECT n FROM ntr) AS n_true,
           |  CAST((SELECT n_hit FROM h$tgt) AS BIGINT) AS n_hit,
           |  round(CAST((SELECT n_hit FROM h$tgt) AS DOUBLE)
           |    / CAST((SELECT n FROM ntr) AS DOUBLE), 6) AS recall,
           |  CAST((SELECT n_pairs FROM np$tgt) AS BIGINT) AS n_pairs""".stripMargin
      s"""WITH $normCte,
         |$lshDsgtCte,
         |truth AS MATERIALIZED (SELECT q.vec_id AS query_id, n.vec_id AS other_id
         |  FROM n q JOIN n ON q.vec_id < $q AND n.vec_id <> q.vec_id
         |  WHERE list_dot_product(n.e, q.e) / (n.nrm * q.nrm) >= $thr),
         |ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM truth),
         |${PipelineQueries.LshFrontierTargets.map(per).mkString(",\n")}
         |${PipelineQueries.LshFrontierTargets.map(row).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // the top-k-capped LSH pair surface: same candidate chain, then
    // each pair survives iff it ranks within k of EITHER endpoint —
    // the output-bounded (≤ n·k) dedup dump.
    "dedup_embedding_lsh_topk" ->
      s"""WITH $normCte,
         |${lshAutoCtes(PipelineQueries.NearDupThreshold)},
         |bb AS (SELECT vec_a AS q, vec_b AS o, cos_sim FROM lp
         |  UNION ALL SELECT vec_b, vec_a, cos_sim FROM lp),
         |rk AS (SELECT q, o, cos_sim,
         |    row_number() OVER (PARTITION BY q ORDER BY cos_sim DESC, o) AS rn
         |  FROM bb)
         |SELECT DISTINCT least(q, o) AS vec_a, greatest(q, o) AS vec_b, cos_sim
         |FROM rk WHERE rn <= ${PipelineQueries.LshTopKPerVector}""".stripMargin,

    // the tables-axis frontier replayed: ONE 32-table dot CTE, one
    // bucket chain, one min_t pair join; each L's result is the
    // min_t < L slice.
    "dedup_lsh_tables_frontier" -> {
      val q = PipelineQueries.LshQueryCount
      def per(l: Int): String =
        s"""h$l AS (SELECT count(*) AS n_hit FROM truth
           |  JOIN (SELECT query_id, other_id FROM (
           |      SELECT vec_a AS query_id, vec_b AS other_id FROM lpmt WHERE min_t < $l
           |      UNION ALL SELECT vec_b, vec_a FROM lpmt WHERE min_t < $l)
           |    WHERE query_id < $q) b USING (query_id, other_id)),
           |np$l AS (SELECT count(*) AS n_pairs FROM lpmt WHERE min_t < $l)""".stripMargin
      def row(l: Int): String =
        s"""SELECT CAST($l AS BIGINT) AS n_tables,
           |  (SELECT n FROM ntr) AS n_true,
           |  CAST((SELECT n_hit FROM h$l) AS BIGINT) AS n_hit,
           |  round(CAST((SELECT n_hit FROM h$l) AS DOUBLE)
           |    / CAST((SELECT n FROM ntr) AS DOUBLE), 6) AS recall,
           |  CAST((SELECT n_pairs FROM np$l) AS BIGINT) AS n_pairs""".stripMargin
      s"""WITH $normCte,
         |${lshMinTCtes(PipelineQueries.NearDupThreshold, q)},
         |${PipelineQueries.LshTablesFrontier.map(per).mkString(",\n")}
         |${PipelineQueries.LshTablesFrontier.map(row).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // the auto-L operator's card replayed, DECISION INCLUDED: the same
    // full-ceiling min_t chain, measured calibration recall at the
    // min_t < calibTables slice (floor micro — integer division), the
    // identical m_k = floor(m_{k-1}*m1/1e6) predicted-miss chain, the
    // same first-k-meeting-target pick, and achieved recall + pair
    // volume at the picked L's slice (a fresh L-table run returns
    // exactly the min_t < L pairs — the prefix property the frontier
    // card is built on).
    "dedup_lsh_auto_recall" -> {
      val q = PipelineQueries.LshQueryCount
      val c = graft.ops.SimilarityOps.LshTables
      val kmax = graft.ops.SimilarityOps.LshAutoMaxTables / c
      val tMicro =
        math.ceil(PipelineQueries.LshAutoRecallTarget * 1000000.0).toLong
      val missExprs = (1 to kmax)
        .scanLeft("1000000")((e, _) => s"($e * m1) // 1000000").drop(1)
      // the ELSE mirrors the Scala operator's UNREACHABLE raise: if a
      // constant or corpus change pushes the decision into the
      // unreachable regime, the oracle FAILS BY NAME alongside the
      // engine instead of yielding a confusing NULL row (r12 advice)
      val arms = (1 to kmax)
        .map(k => s"WHEN 1000000 - ${missExprs(k - 1)} >= $tMicro THEN ${k * c}")
        .mkString("\n    ") +
        "\n    ELSE error('dedup_lsh_auto_recall: UNREACHABLE target " +
        "at the table ceiling - the engine raises by name in this regime')"
      s"""WITH $normCte,
         |${lshMinTCtes(PipelineQueries.NearDupThreshold, q)},
         |h1 AS (SELECT count(*) AS n_hit FROM truth
         |  JOIN (SELECT query_id, other_id FROM (
         |      SELECT vec_a AS query_id, vec_b AS other_id FROM lpmt WHERE min_t < $c
         |      UNION ALL SELECT vec_b, vec_a FROM lpmt WHERE min_t < $c)
         |    WHERE query_id < $q) b USING (query_id, other_id)),
         |dec AS (SELECT 1000000
         |    - (SELECT n_hit FROM h1) * 1000000 // (SELECT n FROM ntr) AS m1),
         |pick AS (SELECT 1000000 - m1 AS r1, CASE
         |    $arms END AS l FROM dec),
         |ach AS (SELECT count(*) AS n_hit FROM truth
         |  JOIN (SELECT query_id, other_id FROM (
         |      SELECT vec_a AS query_id, vec_b AS other_id FROM lpmt
         |        WHERE min_t < (SELECT l FROM pick)
         |      UNION ALL SELECT vec_b, vec_a FROM lpmt
         |        WHERE min_t < (SELECT l FROM pick))
         |    WHERE query_id < $q) b USING (query_id, other_id))
         |SELECT CAST($tMicro AS BIGINT) AS target_micro,
         |  (SELECT n FROM ntr) AS n_true,
         |  CAST($c AS BIGINT) AS calib_tables,
         |  CAST((SELECT r1 FROM pick) AS BIGINT) AS calib_recall_micro,
         |  CAST((SELECT l FROM pick) AS BIGINT) AS n_tables,
         |  CAST((SELECT n_hit FROM ach) * 1000000 // (SELECT n FROM ntr)
         |    AS BIGINT) AS achieved_recall_micro,
         |  CAST((SELECT count(*) FROM lpmt WHERE min_t < (SELECT l FROM pick))
         |    AS BIGINT) AS n_pairs""".stripMargin
    },

    // the wide-pool escalation replayed (r13 verdict item 3): the SAME
    // decision chain as dedup_lsh_auto_recall but with the min_t pair
    // table materialized at the FULL 64-table wide pool and CASE arms
    // up to its ceiling — at sf0.1 the data drives the pick past the
    // 32-table default (L=48), which the min_t < L slice then prices
    // and measures exactly like any other L.
    "dedup_lsh_auto_recall_wide" -> {
      val q = PipelineQueries.LshQueryCount
      val c = graft.ops.SimilarityOps.LshTables
      val kmax = graft.ops.SimilarityOps.LshWideMaxTables / c
      val tMicro =
        math.ceil(PipelineQueries.LshWideRecallTarget * 1000000.0).toLong
      val missExprs = (1 to kmax)
        .scanLeft("1000000")((e, _) => s"($e * m1) // 1000000").drop(1)
      // ELSE error sentinel: see dedup_lsh_auto_recall below (r12 advice)
      val arms = (1 to kmax)
        .map(k => s"WHEN 1000000 - ${missExprs(k - 1)} >= $tMicro THEN ${k * c}")
        .mkString("\n    ") +
        "\n    ELSE error('dedup_lsh_auto_recall_wide: UNREACHABLE target " +
        "at the wide-pool ceiling - the engine raises by name in this regime')"
      s"""WITH $normCte,
         |${lshMinTCtes(PipelineQueries.LshWideThreshold, q,
            graft.ops.SimilarityOps.LshWideMaxTables)},
         |h1 AS (SELECT count(*) AS n_hit FROM truth
         |  JOIN (SELECT query_id, other_id FROM (
         |      SELECT vec_a AS query_id, vec_b AS other_id FROM lpmt WHERE min_t < $c
         |      UNION ALL SELECT vec_b, vec_a FROM lpmt WHERE min_t < $c)
         |    WHERE query_id < $q) b USING (query_id, other_id)),
         |dec AS (SELECT 1000000
         |    - (SELECT n_hit FROM h1) * 1000000 // (SELECT n FROM ntr) AS m1),
         |pick AS (SELECT 1000000 - m1 AS r1, CASE
         |    $arms END AS l FROM dec),
         |ach AS (SELECT count(*) AS n_hit FROM truth
         |  JOIN (SELECT query_id, other_id FROM (
         |      SELECT vec_a AS query_id, vec_b AS other_id FROM lpmt
         |        WHERE min_t < (SELECT l FROM pick)
         |      UNION ALL SELECT vec_b, vec_a FROM lpmt
         |        WHERE min_t < (SELECT l FROM pick))
         |    WHERE query_id < $q) b USING (query_id, other_id))
         |SELECT CAST($tMicro AS BIGINT) AS target_micro,
         |  (SELECT n FROM ntr) AS n_true,
         |  CAST($c AS BIGINT) AS calib_tables,
         |  CAST((SELECT r1 FROM pick) AS BIGINT) AS calib_recall_micro,
         |  CAST((SELECT l FROM pick) AS BIGINT) AS n_tables,
         |  CAST((SELECT n_hit FROM ach) * 1000000 // (SELECT n FROM ntr)
         |    AS BIGINT) AS achieved_recall_micro,
         |  CAST((SELECT count(*) FROM lpmt WHERE min_t < (SELECT l FROM pick))
         |    AS BIGINT) AS n_pairs""".stripMargin
    },

    // the routed decision's SOLVED arm replayed: the wide chain's pick
    // plus the picked slice's pair count — route is constant 'solved'
    // at the oracle SFs (verified L = 16/16/48), and a regime flip
    // into the unreachable arm fails BY NAME via the sentinel instead
    // of silently diverging from the engine's live topk fallback
    // (which only the non-oracle ×10 run exercises).
    "dedup_lsh_recall_routed" -> {
      val q = PipelineQueries.LshQueryCount
      val c = graft.ops.SimilarityOps.LshTables
      val kmax = graft.ops.SimilarityOps.LshWideMaxTables / c
      val tMicro =
        math.ceil(PipelineQueries.LshWideRecallTarget * 1000000.0).toLong
      val missExprs = (1 to kmax)
        .scanLeft("1000000")((e, _) => s"($e * m1) // 1000000").drop(1)
      val arms = (1 to kmax)
        .map(k => s"WHEN 1000000 - ${missExprs(k - 1)} >= $tMicro THEN ${k * c}")
        .mkString("\n    ") +
        "\n    ELSE error('dedup_lsh_recall_routed: the oracle SFs must " +
        "take the SOLVED arm - the engine routes to the topk surface in " +
        "this regime, which only the non-oracle scale run exercises')"
      s"""WITH $normCte,
         |${lshMinTCtes(PipelineQueries.LshWideThreshold, q,
            graft.ops.SimilarityOps.LshWideMaxTables)},
         |h1 AS (SELECT count(*) AS n_hit FROM truth
         |  JOIN (SELECT query_id, other_id FROM (
         |      SELECT vec_a AS query_id, vec_b AS other_id FROM lpmt WHERE min_t < $c
         |      UNION ALL SELECT vec_b, vec_a FROM lpmt WHERE min_t < $c)
         |    WHERE query_id < $q) b USING (query_id, other_id)),
         |dec AS (SELECT 1000000
         |    - (SELECT n_hit FROM h1) * 1000000 // (SELECT n FROM ntr) AS m1),
         |pick AS (SELECT CASE
         |    $arms END AS l FROM dec)
         |SELECT 'solved' AS route,
         |  CAST((SELECT l FROM pick) AS BIGINT) AS n_tables,
         |  CAST((SELECT count(*) FROM lpmt WHERE min_t < (SELECT l FROM pick))
         |    AS BIGINT) AS n_rows""".stripMargin
    },

    // the band-axis twin's decision replayed: exact stripe Jaccard truth
    // (shingle join), calibration recall from the min_b < calibBands
    // slice, the SAME floor-micro CASE escalation, achieved recall and
    // pair count from the solved slice. All slices come from ONE
    // materialized min-band pair table (band keys are bit-identical at
    // every band count, so min_b < b IS the b-band surface).
    // cross-corpus probe replay: even/odd split, width frozen by the
    // even (existing) side, per-side entry chains, cross join on
    // (table, sig) minus probe×probe — same cosine surface as the
    // in-corpus generator.
    "dedup_embedding_incremental" ->
      s"""WITH $normCte,
         |${lshCrossCtes(PipelineQueries.NearDupThreshold)}
         |SELECT existing_id, batch_id, cos_sim FROM xp""".stripMargin,

    // the capped incremental surface: same cross-pair chain, then each
    // BATCH vector keeps its k best existing partners (cos desc,
    // existing-id tiebreak) — the ≤ |batch|·k output contract.
    "dedup_embedding_incremental_topk" ->
      s"""WITH $normCte,
         |${lshCrossCtes(PipelineQueries.NearDupThreshold)}
         |SELECT existing_id, batch_id, cos_sim FROM (
         |  SELECT existing_id, batch_id, cos_sim,
         |    row_number() OVER (PARTITION BY batch_id
         |      ORDER BY cos_sim DESC, existing_id) AS rn
         |  FROM xp) WHERE rn <= ${PipelineQueries.LshTopKPerVector}""".stripMargin,

    "dedup_minhash_auto_recall" -> {
      val q = PipelineQueries.MinhashQueryCount
      val c = graft.ops.DedupOps.Bands
      val kmax = PipelineQueries.MinhashMaxBands / c
      val thr = PipelineQueries.MinhashRecallJaccard
      val tMicro =
        math.ceil(PipelineQueries.MinhashRecallTarget * 1000000.0).toLong
      val missExprs = (1 to kmax)
        .scanLeft("1000000")((e, _) => s"($e * m1) // 1000000").drop(1)
      // ELSE error sentinel: see dedup_lsh_auto_recall above (r12 advice)
      val arms = (1 to kmax)
        .map(k => s"WHEN 1000000 - ${missExprs(k - 1)} >= $tMicro THEN ${k * c}")
        .mkString("\n    ") +
        "\n    ELSE error('dedup_minhash_auto_recall: UNREACHABLE target " +
        "at the band ceiling - the engine raises by name in this regime')"
      s"""WITH $shCte,
         |$minBandCtes,
         |mhcnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |mhq AS (SELECT doc_id AS query_id, shingle FROM sh WHERE doc_id < $q),
         |mhint AS (SELECT q.query_id, s.doc_id AS other_id, count(*) AS c
         |  FROM mhq q JOIN sh s
         |    ON s.shingle = q.shingle AND s.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |mhtruth AS MATERIALIZED (SELECT query_id, other_id FROM mhint i
         |  JOIN mhcnt ca ON ca.doc_id = i.query_id
         |  JOIN mhcnt cb ON cb.doc_id = i.other_id
         |  WHERE i.c / CAST(ca.n + cb.n - i.c AS DOUBLE) >= $thr),
         |mhntr AS (SELECT count(*) AS n FROM mhtruth),
         |mh1 AS (SELECT count(*) AS n_hit FROM mhtruth
         |  JOIN (SELECT query_id, other_id FROM (
         |      SELECT doc_a AS query_id, doc_b AS other_id FROM mhmt
         |        WHERE min_b < $c
         |      UNION ALL SELECT doc_b, doc_a FROM mhmt WHERE min_b < $c)
         |    WHERE query_id < $q) b USING (query_id, other_id)),
         |mdec AS (SELECT 1000000
         |    - (SELECT n_hit FROM mh1) * 1000000 // (SELECT n FROM mhntr)
         |    AS m1),
         |mpick AS (SELECT 1000000 - m1 AS r1, CASE
         |    $arms END AS l FROM mdec),
         |mach AS (SELECT count(*) AS n_hit FROM mhtruth
         |  JOIN (SELECT query_id, other_id FROM (
         |      SELECT doc_a AS query_id, doc_b AS other_id FROM mhmt
         |        WHERE min_b < (SELECT l FROM mpick)
         |      UNION ALL SELECT doc_b, doc_a FROM mhmt
         |        WHERE min_b < (SELECT l FROM mpick))
         |    WHERE query_id < $q) b USING (query_id, other_id))
         |SELECT CAST($tMicro AS BIGINT) AS target_micro,
         |  (SELECT n FROM mhntr) AS n_true,
         |  CAST($c AS BIGINT) AS calib_bands,
         |  CAST((SELECT r1 FROM mpick) AS BIGINT) AS calib_recall_micro,
         |  CAST((SELECT l FROM mpick) AS BIGINT) AS n_bands,
         |  CAST((SELECT n_hit FROM mach) * 1000000 // (SELECT n FROM mhntr)
         |    AS BIGINT) AS achieved_recall_micro,
         |  CAST((SELECT count(*) FROM mhmt WHERE min_b < (SELECT l FROM mpick))
         |    AS BIGINT) AS n_pairs""".stripMargin
    },

    // top-of-ranking recall replayed: exact top-k truth per query
    // (among >= TriangleCos partners), hits from the TriangleCos LSH
    // pair chain (the same lp the graph consumers read).
    "dedup_embedding_lsh_topk_recall" ->
      s"""WITH $normCte,
         |${lshAutoCtes(PipelineQueries.TriangleCos)},
         |truthall AS (SELECT qq.vec_id AS query_id, n.vec_id AS other_id,
         |    list_dot_product(n.e, qq.e) / (n.nrm * qq.nrm) AS cos
         |  FROM n qq JOIN n ON qq.vec_id < ${PipelineQueries.LshQueryCount}
         |    AND n.vec_id <> qq.vec_id
         |  WHERE list_dot_product(n.e, qq.e) / (n.nrm * qq.nrm)
         |        >= ${PipelineQueries.TriangleCos}),
         |topk AS (SELECT query_id, other_id FROM (
         |    SELECT query_id, other_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, other_id) AS rn
         |    FROM truthall) WHERE rn <= ${PipelineQueries.LshTopKPerVector}),
         |lb AS (SELECT vec_a AS query_id, vec_b AS other_id FROM lp
         |  UNION ALL SELECT vec_b, vec_a FROM lp)
         |SELECT topk.query_id,
         |  CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(sum(CASE WHEN lb.other_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  round(CAST(sum(CASE WHEN lb.other_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS recall
         |FROM topk LEFT JOIN lb USING (query_id, other_id)
         |GROUP BY topk.query_id""".stripMargin,

    // recall of the LSH candidate generator vs exact truth on the
    // query subset: per query, true ≥-threshold partners hit by the
    // bucketed pairs (normalized to both directions).
    "dedup_embedding_lsh_recall" ->
      s"""WITH $normCte,
         |${lshAutoCtes(PipelineQueries.NearDupThreshold)},
         |truth AS (SELECT q.vec_id AS query_id, n.vec_id AS other_id
         |  FROM n q JOIN n ON q.vec_id < ${PipelineQueries.LshQueryCount}
         |    AND n.vec_id <> q.vec_id
         |  WHERE list_dot_product(n.e, q.e) / (n.nrm * q.nrm)
         |        >= ${PipelineQueries.NearDupThreshold}),
         |lb AS (SELECT vec_a AS query_id, vec_b AS other_id FROM lp
         |  UNION ALL SELECT vec_b, vec_a FROM lp)
         |SELECT truth.query_id,
         |  CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(sum(CASE WHEN lb.other_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  round(CAST(sum(CASE WHEN lb.other_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS recall
         |FROM truth LEFT JOIN lb USING (query_id, other_id)
         |GROUP BY truth.query_id""".stripMargin,

    "text_chunks" ->
      s"""WITH $tokCte,
         |st AS (SELECT doc_id, toks,
         |    unnest(range(1, greatest(len(toks) - 31, 1) + 24, 24)) AS chunk_start
         |  FROM t)
         |SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
         |  array_to_string(toks[chunk_start:chunk_start + 31], ' ') AS chunk
         |FROM st""".stripMargin,

    // mirrors pipeline_index: same chunking as text_chunks, HashingTF
    // buckets from the same md5 digits, dense vectors via per-bucket
    // conditional counts, cosine top-k with the same tiebreak
    "pipeline_index" -> {
      val dim = PipelineQueries.IndexDim
      val vCols = (0 until dim)
        .map(i => s"CAST(count(*) FILTER (WHERE b = $i) AS DOUBLE) AS v$i")
        .mkString(", ")
      val vArr = (0 until dim).map(i => s"v$i").mkString("[", ", ", "]")
      s"""WITH $tokCte,
         |st AS (SELECT doc_id, toks,
         |    unnest(range(1, greatest(len(toks) - 31, 1) + 24, 24)) AS chunk_start
         |  FROM t),
         |ch AS (SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
         |    string_split(array_to_string(toks[chunk_start:chunk_start + 31], ' '), ' ') AS ctoks
         |  FROM st),
         |ex AS (SELECT doc_id, chunk_start, unnest(ctoks) AS tok FROM ch),
         |bb AS (SELECT doc_id, chunk_start,
         |    ('0x' || substr(md5(tok), 1, 4))::BIGINT % $dim AS b FROM ex),
         |cnt AS (SELECT doc_id, chunk_start, $vCols FROM bb GROUP BY 1, 2),
         |vec AS (SELECT doc_id, chunk_start, $vArr AS v,
         |    sqrt(list_dot_product($vArr, $vArr)) AS nrm FROM cnt),
         |q AS (SELECT doc_id AS query_doc, v AS qv, nrm AS qn FROM vec
         |  WHERE doc_id < ${PipelineQueries.IndexQueryDocs} AND chunk_start = 1),
         |scored AS (SELECT query_doc, vec.doc_id AS neighbor_doc,
         |    chunk_start AS neighbor_start,
         |    round(list_dot_product(v, qv) / (nrm * qn), 6) AS cos
         |  FROM vec JOIN q ON vec.doc_id <> query_doc),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_doc
         |    ORDER BY cos DESC, neighbor_doc, neighbor_start) AS rk FROM scored)
         |SELECT query_doc, CAST(rk AS BIGINT) AS rk, neighbor_doc,
         |  neighbor_start, cos
         |FROM ranked WHERE rk <= ${PipelineQueries.IndexTopK}""".stripMargin
    },

    "pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start_off
        |  FROM d
        |)
        |SELECT CAST(floor(start_off / 256) AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
        |  min(doc_id) AS first_doc_id
        |FROM o GROUP BY 1""".stripMargin,

    "dedup_chunk_boilerplate" ->
      s"""WITH $tokCte,
         |st AS (SELECT doc_id, toks,
         |    unnest(range(1, greatest(len(toks) - 31, 1) + 24, 24)) AS chunk_start
         |  FROM t),
         |ch AS (SELECT doc_id,
         |    md5(array_to_string(toks[chunk_start:chunk_start + 31], ' ')) AS chunk_md5
         |  FROM st)
         |SELECT chunk_md5,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occurrences,
         |  min(doc_id) AS first_doc_id
         |FROM ch GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) > 1""".stripMargin,

    "text_lm_score" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
         |cw AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cw FROM tf GROUP BY tok),
         |tot AS (SELECT CAST(CAST(sum(cw) AS BIGINT) AS DOUBLE) AS total FROM cw),
         |term AS (SELECT doc_id, tf,
         |    CAST(round(tf * ln(CAST(cw AS DOUBLE)), 6) AS DECIMAL(28,6)) AS term
         |  FROM tf JOIN cw USING (tok)),
         |agg AS (SELECT doc_id, CAST(sum(term) AS DECIMAL(38,6)) AS sum_term,
         |    CAST(sum(tf) AS BIGINT) AS n
         |  FROM term GROUP BY doc_id)
         |SELECT doc_id,
         |  round((CAST(sum_term AS DOUBLE) - n * ln(total)) / n, 6) AS lm_score
         |FROM agg, tot""".stripMargin,

    "sql1_ext_fns" ->
      s"""SELECT vec_id,
         |  round(${dotExpr("embedding", "embedding")}, 6) AS self_dot
         |FROM embeddings""".stripMargin,

    "sql2_views_join" ->
      """WITH spend AS (
        |  SELECT n.n_name, c.c_custkey,
        |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS cust_spend
        |  FROM nation n
        |  JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY n.n_name, c.c_custkey
        |)
        |SELECT n_name, c_custkey, CAST(cust_spend AS VARCHAR) AS cust_spend, spend_rank
        |FROM (
        |  SELECT n_name, c_custkey, cust_spend,
        |    CAST(rank() OVER (PARTITION BY n_name
        |      ORDER BY cust_spend DESC, c_custkey) AS BIGINT) AS spend_rank
        |  FROM spend)
        |WHERE spend_rank <= 5""".stripMargin,

    "dedup_contamination" ->
      s"""WITH $shCte,
         |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0)
         |SELECT doc_id, count(*) AS n_contaminated
         |FROM train JOIN bench USING (shingle)
         |GROUP BY doc_id""".stripMargin,

    "shuffle_seeded" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM h""".stripMargin,

    "mix_downsample" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents
        |), st AS (
        |  SELECT lang, sum(tok) AS stok FROM t GROUP BY lang
        |), tot AS (
        |  SELECT sum(stok) AS total, count(*) AS n FROM st
        |), fr AS (
        |  SELECT lang,
        |    CAST(floor(least(1.0, (CAST(total AS DOUBLE) / n) / stok) * 65536) AS BIGINT) AS thr
        |  FROM st, tot
        |)
        |SELECT doc_id, lang, tok FROM t JOIN fr USING (lang)
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < thr""".stripMargin,

    "mix_budget_prefix" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |c AS (SELECT *, sum(tok) OVER (PARTITION BY lang
        |    ORDER BY tok DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT doc_id, lang, tok FROM c WHERE cum - tok < 2500""".stripMargin,

    "mix_temperature" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents
        |), st AS (
        |  SELECT lang, sum(tok) AS stok FROM t GROUP BY lang
        |), tot AS (
        |  SELECT sum(stok) AS total,
        |    sum(pow(CAST(stok AS DOUBLE), 0.5)) AS z
        |  FROM st
        |), fr AS (
        |  SELECT lang,
        |    CAST(floor(round(least(1.0,
        |      (pow(CAST(stok AS DOUBLE), 0.5) / z) *
        |        (CAST(total AS DOUBLE) / stok)), 6) * 65536) AS BIGINT) AS thr
        |  FROM st, tot
        |)
        |SELECT doc_id, lang, tok FROM t JOIN fr USING (lang)
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < thr""".stripMargin,

    // every stage's individual replay, composed: gopher stats → keep →
    // md5 canonical → bench-shingle anti-join → prefixed bands over the
    // CLEAN survivors → recursive min-label clusters → split CASE over
    // the cluster id → accounting.
    "pipeline_full" -> {
      val t1 = (0.8 * graft.ops.SampleOps.HashSpace).toLong
      val t2 = (0.9 * graft.ops.SampleOps.HashSpace).toLong
      s"""WITH RECURSIVE
         |q AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks
         |  FROM documents WHERE doc_id % 10 <> 0),
         |st AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n,
         |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) / CAST(len(toks) AS DOUBLE), 6) AS mlen,
         |  round(CAST(len(list_filter(toks, x -> x IN ${inList(TextOps.Stopwords)})) AS BIGINT) / CAST(len(toks) AS DOUBLE), 6) AS stopr,
         |  round(CAST(len(list_distinct(toks)) AS BIGINT) / CAST(len(toks) AS DOUBLE), 6) AS dr,
         |  round(CAST(list_max(list_transform(list_distinct(toks), t2 -> len(list_filter(toks, x -> x = t2)))) AS BIGINT) / CAST(len(toks) AS DOUBLE), 6) AS tshare
         |  FROM q),
         |qa AS (SELECT q.* FROM q JOIN st USING (doc_id)
         |  WHERE st.n >= 20 AND st.n <= 90 AND st.mlen >= 4.0 AND st.mlen <= 5.0
         |    AND st.stopr >= 0.03 AND st.dr >= 0.4 AND st.tshare <= 0.12),
         |canon AS (SELECT min(doc_id) AS doc_id FROM qa GROUP BY md5(text)),
         |dd AS (SELECT qa.* FROM qa JOIN canon USING (doc_id)),
         |${shinglesFor("(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0)", "b")},
         |${shinglesFor("dd", "d")},
         |contam AS (SELECT DISTINCT dsh.doc_id
         |  FROM dsh JOIN (SELECT DISTINCT shingle FROM bsh) bs USING (shingle)),
         |clean AS (SELECT * FROM dd
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |${shinglesFor("clean", "c")},
         |${bandsFor("c")},
         |cpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM cbands a JOIN cbands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cpairs
         |          UNION ALL SELECT doc_b, doc_a FROM cpairs),
         |reach(doc_id, root) AS (
         |  SELECT doc_id, doc_id FROM clean
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
         |),
         |cl AS (SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id)
         |SELECT
         |  CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))::BIGINT < $t1 THEN 'train'
         |       WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))::BIGINT < $t2 THEN 'val'
         |       ELSE 'test' END AS split,
         |  clean.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(clean.toks)) AS BIGINT) AS n_tokens
         |FROM clean JOIN cl USING (doc_id)
         |GROUP BY 1, 2""".stripMargin
    },

    "pipeline_curate" -> {
      val t1 = (0.8 * graft.ops.SampleOps.HashSpace).toLong
      val t2 = (0.9 * graft.ops.SampleOps.HashSpace).toLong
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok, text
         |  FROM documents WHERE len(string_split(text, ' ')) >= 5
         |), canon AS (
         |  SELECT min(doc_id) AS doc_id FROM d GROUP BY md5(text)
         |), k AS (
         |  SELECT d.doc_id, d.lang, d.tok FROM d JOIN canon USING (doc_id)
         |)
         |SELECT CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < $t1 THEN 'train'
         |            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < $t2 THEN 'val'
         |            ELSE 'test' END AS split,
         |  lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
         |FROM k GROUP BY 1, 2""".stripMargin
    },

    "split_assign" -> {
      val t1 = (0.8 * graft.ops.SampleOps.HashSpace).toLong
      val t2 = (0.9 * graft.ops.SampleOps.HashSpace).toLong
      s"""SELECT doc_id, lang,
         |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < $t1 THEN 'train'
         |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < $t2 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin
    },

    "sample_weighted" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents
        |)
        |SELECT doc_id, lang, tok FROM t
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT <
        |  CAST(floor(least(CAST(1.0 AS DOUBLE),
        |    greatest(CAST(0.0 AS DOUBLE), CAST(tok AS DOUBLE) / 100)) * 65536) AS BIGINT)""".stripMargin,

    "sample_hash" -> {
      val thr = (PipelineQueries.SampleFraction * graft.ops.SampleOps.HashSpace).toLong
      s"""SELECT doc_id, lang FROM documents
         |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < $thr""".stripMargin
    },

    "sample_stratified" -> {
      val cases = PipelineQueries.StratifiedFractions.map { case (s, f) =>
        s"WHEN lang = '$s' THEN ${(f * graft.ops.SampleOps.HashSpace).toLong}"
      }.mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
         |  < (CASE $cases ELSE 0 END)""".stripMargin
    },

    // DSIR: the oracle refits the whole model — hashed unigram+bigram
    // buckets, conditional raw/target counts, dense range(dim) log-ratio
    // table in exact micro units — and replays the per-doc integer sum.
    "mix_dsir_weights" ->
      s"""WITH $dsirWeightsCte
         |SELECT doc_id, dsir_micro FROM w""".stripMargin,

    // Gumbel-top-k replay: the same md5 hash draw feeds −ln(−ln(u)),
    // keys rounded to 6 dp, ties broken by doc_id.
    "mix_dsir_select" ->
      s"""WITH $dsirWeightsCte
         |SELECT doc_id, dsir_micro,
         |  round(CAST(dsir_micro AS DOUBLE) / 1000000.0
         |    - ln(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT + 0.5) / 65536.0)),
         |    6) AS dsir_key
         |FROM w
         |QUALIFY row_number() OVER (ORDER BY dsir_key DESC, doc_id) <= 100""".stripMargin,

    "text_bm25_topk" ->
      s"""WITH $bm25Cte
         |SELECT doc_id, rank, score FROM bm""".stripMargin,

    // MaxScore pruning is an OPTIMIZATION, not a semantics change: its
    // oracle is the unpruned BM25 replay, verbatim.
    "ret_wand_topk" ->
      s"""WITH $bm25Cte
         |SELECT doc_id, rank, score FROM bm""".stripMargin,

    // the multi-query chain: same stats/tf/df/score arithmetic, the
    // query batch as a VALUES dim, per-query rank window.
    "ret_bm25_multi" -> {
      val k1 = RetrievalOps.DefaultK1
      val b = RetrievalOps.DefaultB
      val vals = PipelineQueries.Bm25Queries
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      s"""WITH qt(query_id, term) AS (VALUES $vals),
         |bl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
         |bst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM bl),
         |btf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM
         |    (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |       unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE tok IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
         |bdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
         |bsc AS (SELECT qt.query_id, btf.doc_id,
         |    CAST(round(ln((bst.n_docs - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)
         |      * (btf.tf * ($k1 + 1)) /
         |      (btf.tf + $k1 * (1.0 - $b + $b * btf.dl / bst.avgdl)), 6)
         |      AS DECIMAL(28,6)) AS term
         |  FROM btf JOIN bdf USING (tok) JOIN qt ON qt.term = btf.tok, bst),
         |bagg AS (SELECT query_id, doc_id,
         |    CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE) AS score
         |  FROM bsc GROUP BY 1, 2)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, score FROM (
         |  SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |  FROM bagg) WHERE rank <= ${PipelineQueries.HybridK}""".stripMargin
    },

    // dense ground truth (top-5 per query id) vs the BM25 batch ranks,
    // through the shared metric aggregate.
    "ret_metrics_lexical" -> {
      val k1 = RetrievalOps.DefaultK1
      val b = RetrievalOps.DefaultB
      val kk = PipelineQueries.HybridK
      val k = PipelineQueries.IvfK
      val vals = PipelineQueries.Bm25Queries
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      val qids = PipelineQueries.Bm25Queries.map(_._1).distinct.mkString(", ")
      s"""WITH qt(query_id, term) AS (VALUES $vals),
         |bl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
         |bst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM bl),
         |btf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM
         |    (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |       unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE tok IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
         |bdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
         |bsc AS (SELECT qt.query_id, btf.doc_id,
         |    CAST(round(ln((bst.n_docs - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)
         |      * (btf.tf * ($k1 + 1)) /
         |      (btf.tf + $k1 * (1.0 - $b + $b * btf.dl / bst.avgdl)), 6)
         |      AS DECIMAL(28,6)) AS term
         |  FROM btf JOIN bdf USING (tok) JOIN qt ON qt.term = btf.tok, bst),
         |bagg AS (SELECT query_id, doc_id,
         |    CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE) AS score
         |  FROM bsc GROUP BY 1, 2),
         |tr AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |  FROM bagg) WHERE rank <= $kk),
         |$normCte,
         |dq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n
         |  WHERE vec_id IN ($qids)),
         |dsems AS (SELECT dq.query_id, n.vec_id AS neighbor_id,
         |    list_dot_product(n.e, dq.qe) / (n.nrm * dq.qn) AS cos
         |  FROM n JOIN dq ON n.vec_id <> dq.query_id),
         |ex AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM dsems) WHERE rank <= $k),
         |$metricsTail""".stripMargin
    },

    // the batched hybrid: multi-query BM25 ranks + per-query dense
    // ranks for the same ids, fused by 1/(60+rank) per (query, doc),
    // per-query fused top-k.
    "hybrid_rrf_multi" -> {
      val k1 = RetrievalOps.DefaultK1
      val b = RetrievalOps.DefaultB
      val kk = PipelineQueries.HybridK
      val vals = PipelineQueries.Bm25Queries
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      val qids = PipelineQueries.Bm25Queries.map(_._1).distinct.mkString(", ")
      s"""WITH qt(query_id, term) AS (VALUES $vals),
         |bl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
         |bst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM bl),
         |btf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM
         |    (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |       unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE tok IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
         |bdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
         |bsc AS (SELECT qt.query_id, btf.doc_id,
         |    CAST(round(ln((bst.n_docs - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)
         |      * (btf.tf * ($k1 + 1)) /
         |      (btf.tf + $k1 * (1.0 - $b + $b * btf.dl / bst.avgdl)), 6)
         |      AS DECIMAL(28,6)) AS term
         |  FROM btf JOIN bdf USING (tok) JOIN qt ON qt.term = btf.tok, bst),
         |bagg AS (SELECT query_id, doc_id,
         |    CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE) AS score
         |  FROM bsc GROUP BY 1, 2),
         |lex AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS rank
         |  FROM bagg) WHERE rank <= $kk),
         |$normCte,
         |dq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n
         |  WHERE vec_id IN ($qids)),
         |dsems AS (SELECT dq.query_id, n.vec_id AS doc_id,
         |    list_dot_product(n.e, dq.qe) / (n.nrm * dq.qn) AS cos
         |  FROM n JOIN dq ON n.vec_id <> dq.query_id),
         |sem AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, doc_id) AS rank
         |  FROM dsems) WHERE rank <= $kk),
         |u AS (SELECT query_id, doc_id, rank FROM lex
         |      UNION ALL SELECT query_id, doc_id, rank FROM sem),
         |f AS (SELECT query_id, doc_id,
         |    round(sum(1.0 / (${RetrievalOps.RrfK} + rank)), 6) AS rrf_score,
         |    CAST(count(*) AS BIGINT) AS n_lists
         |  FROM u GROUP BY 1, 2)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |  fused_rank, rrf_score, n_lists FROM (
         |  SELECT query_id, doc_id, rrf_score, n_lists,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS fused_rank
         |  FROM f) WHERE fused_rank <= $kk""".stripMargin
    },

    // both ranked lists re-derived (the hybrid chain), then the
    // team-draft recursion: list state, hash-coin ties, cede-on-empty.
    "ret_interleave" -> {
      val k1 = RetrievalOps.DefaultK1
      val b = RetrievalOps.DefaultB
      val kk = PipelineQueries.HybridK
      val vals = PipelineQueries.Bm25Queries
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      val qids = PipelineQueries.Bm25Queries.map(_._1).distinct.mkString(", ")
      s"""WITH RECURSIVE qt(query_id, term) AS (VALUES $vals),
         |bl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
         |bst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM bl),
         |btf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM
         |    (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |       unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE tok IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
         |bdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
         |bsc AS (SELECT qt.query_id, btf.doc_id,
         |    CAST(round(ln((bst.n_docs - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)
         |      * (btf.tf * ($k1 + 1)) /
         |      (btf.tf + $k1 * (1.0 - $b + $b * btf.dl / bst.avgdl)), 6)
         |      AS DECIMAL(28,6)) AS term
         |  FROM btf JOIN bdf USING (tok) JOIN qt ON qt.term = btf.tok, bst),
         |bagg AS (SELECT query_id, doc_id,
         |    CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE) AS score
         |  FROM bsc GROUP BY 1, 2),
         |lex AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS rank
         |  FROM bagg) WHERE rank <= $kk),
         |$normCte,
         |dq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n
         |  WHERE vec_id IN ($qids)),
         |dsems AS (SELECT dq.query_id, n.vec_id AS doc_id,
         |    list_dot_product(n.e, dq.qe) / (n.nrm * dq.qn) AS cos
         |  FROM n JOIN dq ON n.vec_id <> dq.query_id),
         |sem AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, doc_id) AS rank
         |  FROM dsems) WHERE rank <= $kk),
         |pla AS (SELECT CAST(query_id AS BIGINT) AS query_id,
         |    list(doc_id ORDER BY rank) AS la FROM lex GROUP BY 1),
         |plb AS (SELECT query_id, list(doc_id ORDER BY rank) AS lb
         |  FROM sem GROUP BY 1),
         |pr AS (SELECT pla.query_id, pla.la, plb.lb
         |  FROM pla JOIN plb USING (query_id)),
         |r(query_id, step, out_d, out_t, na, nb) AS (
         |  SELECT query_id, 0, CAST([] AS BIGINT[]), CAST([] AS VARCHAR[]),
         |    0, 0 FROM pr
         |  UNION ALL
         |  SELECT query_id, step + 1,
         |    CASE WHEN pa THEN list_append(out_d, ca[1])
         |         WHEN pb THEN list_append(out_d, cb[1]) ELSE out_d END,
         |    CASE WHEN pa THEN list_append(out_t, 'a')
         |         WHEN pb THEN list_append(out_t, 'b') ELSE out_t END,
         |    na + CASE WHEN pa THEN 1 ELSE 0 END,
         |    nb + CASE WHEN pb THEN 1 ELSE 0 END
         |  FROM (SELECT t2.*,
         |      NOT pa AND ((NOT aturn AND len(cb) > 0)
         |        OR (aturn AND len(ca) = 0 AND len(cb) > 0)) AS pb
         |    FROM (SELECT t1.*,
         |        (aturn AND len(ca) > 0)
         |          OR (NOT aturn AND len(cb) = 0 AND len(ca) > 0) AS pa
         |      FROM (SELECT r.query_id, r.step, r.out_d, r.out_t, r.na,
         |          r.nb,
         |          list_filter(pr.la,
         |            x -> NOT list_contains(r.out_d, x)) AS ca,
         |          list_filter(pr.lb,
         |            x -> NOT list_contains(r.out_d, x)) AS cb,
         |          (r.na < r.nb) OR (r.na = r.nb
         |            AND ('0x' || substr(md5(CAST(r.query_id AS VARCHAR)
         |              || ':' || CAST(r.step AS VARCHAR)), 1, 1))::BIGINT
         |              % 2 = 0) AS aturn
         |        FROM r JOIN pr USING (query_id)
         |        WHERE r.step < ${2 * kk}) t1) t2)
         |)
         |SELECT query_id,
         |  CAST(generate_subscripts(out_d, 1) AS BIGINT) AS pos,
         |  unnest(out_d) AS doc_id, unnest(out_t) AS team
         |FROM r WHERE step = ${2 * kk}""".stripMargin
    },

    // RRF: both ranked lists replayed (BM25 chain + cosine top-k for
    // query vec 0), fused by 1/(60+rank) — rank-based, score scales
    // never mix
    "hybrid_rrf" ->
      s"""WITH $bm25Cte,
         |$normCte,
         |sq AS (SELECT e, nrm FROM n WHERE vec_id = 0),
         |sems AS (SELECT n.vec_id AS doc_id,
         |    list_dot_product(n.e, sq.e) / (n.nrm * sq.nrm) AS cos
         |  FROM n, sq WHERE n.vec_id <> 0),
         |sem AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
         |  FROM sems ORDER BY cos DESC, doc_id LIMIT ${PipelineQueries.Bm25K}),
         |u AS (SELECT doc_id, rank FROM bm
         |  UNION ALL SELECT doc_id, rank FROM sem),
         |f AS (SELECT doc_id, round(sum(1.0 / (${RetrievalOps.RrfK} + rank)), 6) AS rrf_score,
         |    CAST(count(*) AS BIGINT) AS n_lists
         |  FROM u GROUP BY 1)
         |SELECT doc_id, rrf_score, n_lists FROM f
         |ORDER BY rrf_score DESC, doc_id LIMIT ${PipelineQueries.HybridK}""".stripMargin,

    // per-list min-max to micro ints (constant list → 1e6), halved
    // scale-0 contributions, exact long sum, top-k.
    "hybrid_linear" ->
      s"""WITH $bm25Cte,
         |$normCte,
         |sq AS (SELECT e, nrm FROM n WHERE vec_id = 0),
         |sems AS (SELECT n.vec_id AS doc_id,
         |    list_dot_product(n.e, sq.e) / (n.nrm * sq.nrm) AS cr
         |  FROM n, sq WHERE n.vec_id <> 0),
         |semk AS (SELECT doc_id, round(cr, 6) AS cos FROM (
         |    SELECT doc_id, cr,
         |      row_number() OVER (ORDER BY cr DESC, doc_id) AS rk FROM sems)
         |  WHERE rk <= ${PipelineQueries.Bm25K}),
         |lexn AS (SELECT doc_id,
         |    CASE WHEN mx = mn THEN CAST(1000000 AS BIGINT)
         |      ELSE CAST(floor((score - mn) * 1000000.0 / (mx - mn))
         |        AS BIGINT) END AS nm
         |  FROM bm, (SELECT min(score) AS mn, max(score) AS mx FROM bm)),
         |semn AS (SELECT doc_id,
         |    CASE WHEN mx = mn THEN CAST(1000000 AS BIGINT)
         |      ELSE CAST(floor((cos - mn) * 1000000.0 / (mx - mn))
         |        AS BIGINT) END AS nm
         |  FROM semk, (SELECT min(cos) AS mn, max(cos) AS mx FROM semk)),
         |u AS (SELECT doc_id, CAST(round(0.5 * nm) AS BIGINT) AS wnm
         |  FROM lexn
         |  UNION ALL SELECT doc_id, CAST(round(0.5 * nm) AS BIGINT)
         |  FROM semn),
         |f AS (SELECT doc_id, CAST(sum(wnm) AS BIGINT) AS fused_micro,
         |    CAST(count(*) AS BIGINT) AS n_lists FROM u GROUP BY 1)
         |SELECT doc_id, fused_micro, n_lists FROM f
         |ORDER BY fused_micro DESC, doc_id
         |LIMIT ${PipelineQueries.HybridK}""".stripMargin,

    // funnel replay as a sequential-min CTE chain: stage i+1 = min ts
    // of its type STRICTLY after stage i's ts — provably what the
    // time-ordered greedy fold computes (first match in scan order ≡
    // min over the after-region).
    "funnel_stages" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |f1 AS (SELECT user_id, min(ts_us) AS s1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |f2 AS (SELECT e.user_id, min(ts_us) AS s2 FROM e JOIN f1 USING (user_id)
        |  WHERE event_type = 'click' AND ts_us > f1.s1 GROUP BY e.user_id),
        |f3 AS (SELECT e.user_id, min(ts_us) AS s3 FROM e JOIN f2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_us > f2.s2 GROUP BY e.user_id)
        |SELECT u.user_id, coalesce(s1, -1) AS stage1_us,
        |  coalesce(s2, -1) AS stage2_us, coalesce(s3, -1) AS stage3_us,
        |  CAST(CASE WHEN s3 IS NOT NULL THEN 3 WHEN s2 IS NOT NULL THEN 2
        |       WHEN s1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_stages
        |FROM u LEFT JOIN f1 USING (user_id) LEFT JOIN f2 USING (user_id)
        |LEFT JOIN f3 USING (user_id)""".stripMargin,

    // windowed funnel: the same sequential-min chain with each stage's
    // after-region additionally capped at prev + window. First-match-
    // in-scan-order ≡ min over the capped region because every later
    // event is later still — once past the window the funnel stalls.
    "funnel_window" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
         |u AS (SELECT DISTINCT user_id FROM e),
         |f1 AS (SELECT user_id, min(ts_us) AS s1 FROM e
         |  WHERE event_type = 'view' GROUP BY 1),
         |f2 AS (SELECT e.user_id, min(ts_us) AS s2 FROM e JOIN f1 USING (user_id)
         |  WHERE event_type = 'click' AND ts_us > f1.s1
         |    AND ts_us - f1.s1 <= ${PipelineQueries.FunnelWindowUs} GROUP BY e.user_id),
         |f3 AS (SELECT e.user_id, min(ts_us) AS s3 FROM e JOIN f2 USING (user_id)
         |  WHERE event_type = 'purchase' AND ts_us > f2.s2
         |    AND ts_us - f2.s2 <= ${PipelineQueries.FunnelWindowUs} GROUP BY e.user_id)
         |SELECT u.user_id, coalesce(s1, -1) AS stage1_us,
         |  coalesce(s2, -1) AS stage2_us, coalesce(s3, -1) AS stage3_us,
         |  CAST(CASE WHEN s3 IS NOT NULL THEN 3 WHEN s2 IS NOT NULL THEN 2
         |       WHEN s1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_stages
         |FROM u LEFT JOIN f1 USING (user_id) LEFT JOIN f2 USING (user_id)
         |LEFT JOIN f3 USING (user_id)""".stripMargin,

    "path_transitions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |x AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us ASC, event_id ASC) AS next_type
        |  FROM e),
        |m AS (SELECT event_type AS from_type, next_type AS to_type,
        |    count(*) AS n
        |  FROM x WHERE next_type IS NOT NULL
        |  GROUP BY from_type, to_type)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |  round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM m""".stripMargin,

    "cohort_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort_day FROM act GROUP BY user_id)
        |SELECT c.cohort_day,
        |  CAST(date_diff('day', c.cohort_day, act.d) AS BIGINT) AS days_since,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM act JOIN c USING (user_id)
        |GROUP BY c.cohort_day, days_since""".stripMargin,

    "sessionize" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
         |x AS (SELECT user_id, ts_us, event_id,
         |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
         |  FROM e),
         |y AS (SELECT user_id, ts_us, event_id,
         |    CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > ${graft.ops.SessionOps.DefaultGapUs} THEN 1 ELSE 0 END AS is_new
         |  FROM x),
         |z AS (SELECT user_id, ts_us,
         |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM y),
         |g AS (SELECT user_id, session_id, count(*) AS n_events,
         |    max(ts_us) - min(ts_us) AS len_us
         |  FROM z GROUP BY user_id, session_id)
         |SELECT user_id, count(*) AS n_sessions,
         |  CAST(sum(n_events) AS BIGINT) AS n_events,
         |  CAST(max(len_us) AS BIGINT) AS max_session_us
         |FROM g GROUP BY user_id""".stripMargin,

    // decoded-stat closed forms: the BMP branch sums the grey pattern
    // (doc_id + i) % 256 over all w×h pixels ×3 channels; the WAV branch
    // sums the sample pattern (doc_id·31 + i·7) % 65536 − 32768; first_unit
    // probes the top-left pixel / sample 0. None of this parses binary —
    // matching the Spark side's REAL parsers is the proof.
    // the closed-form BMP pixel generator binned: gray = (doc_id+i)%256
    // over the 5×(1+doc_id%4) raster, 4 bins of 64.
    "mm_image_hist" ->
      """WITH b AS (SELECT doc_id, 5 * (1 + doc_id % 4) AS np
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT doc_id, (doc_id + unnest(range(0, np))) % 256 AS g
        |  FROM b)
        |SELECT doc_id AS media_id, CAST(g // 64 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_px
        |FROM px GROUP BY 1, 2""".stripMargin,

    // the closed-form WAV sample generator framed and reduced: exact
    // integer sum-of-squares, one fixed-order sqrt, floor-micro RMS.
    "mm_wav_energy" -> {
      val fl = PipelineQueries.WavFrameLen
      val thr = PipelineQueries.WavSilenceRms
      s"""WITH w AS (SELECT doc_id, 1 + (doc_id % 6) * 2 AS n FROM documents
         |  WHERE doc_id % 3 = 1),
         |sm AS (SELECT doc_id, unnest(range(0, n)) AS i FROM w),
         |sv AS (SELECT doc_id, i // $fl AS frame_idx,
         |    (doc_id * 31 + i * 7) % 65536 - 32768 AS v FROM sm),
         |fr AS (SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT)
         |      AS frame_idx,
         |    CAST(count(*) AS BIGINT) AS n_samples,
         |    CAST(sum(v * v) AS BIGINT) AS sum_sq FROM sv GROUP BY 1, 2)
         |SELECT media_id, frame_idx, n_samples, sum_sq,
         |  CAST(floor(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1000000.0)
         |    AS BIGINT) AS rms_micro,
         |  CAST(CASE WHEN sqrt(CAST(sum_sq AS DOUBLE) / n_samples) < $thr
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_silence
         |FROM fr""".stripMargin
    },

    "mm_codec_decode" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 AS m, text FROM documents),
        |bmp AS (SELECT doc_id, 5 AS w, 1 + (doc_id % 4) AS h FROM d WHERE m = 0),
        |bpx AS (SELECT doc_id, unnest(range(0, w * h)) AS i FROM bmp),
        |bs AS (SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum(((doc_id + i) % 256) * 3) AS BIGINT) AS unit_sum
        |  FROM bpx GROUP BY doc_id),
        |wav AS (SELECT doc_id, 1 + (doc_id % 6) * 2 AS n FROM d WHERE m = 1),
        |wpx AS (SELECT doc_id, unnest(range(0, n)) AS i FROM wav),
        |ws AS (SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum((doc_id * 31 + i * 7) % 65536 - 32768) AS BIGINT) AS unit_sum
        |  FROM wpx GROUP BY doc_id)
        |SELECT bmp.doc_id AS media_id, 'image/bmp' AS mime,
        |  CAST(5 AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(NULL AS BIGINT) AS sample_rate, bs.n_units, bs.unit_sum,
        |  CAST(bmp.doc_id % 256 AS BIGINT) AS first_unit
        |FROM bmp JOIN bs USING (doc_id)
        |UNION ALL
        |SELECT wav.doc_id, 'audio/wav', NULL, NULL, 8000, ws.n_units, ws.unit_sum,
        |  CAST((wav.doc_id * 31) % 65536 - 32768 AS BIGINT)
        |FROM wav JOIN ws USING (doc_id)
        |UNION ALL
        |SELECT doc_id, 'video/mp4', NULL, NULL, NULL,
        |  CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT), NULL, NULL
        |FROM d WHERE m = 2""".stripMargin,

    // PNG rows replay exactly (lossless): sum over the (doc_id + 7i)%256
    // grey pattern ×3 channels. JPEG rows carry NULL sums (lossy — the
    // exact value would pin the JDK's quantization tables, not the
    // engine) and the oracle asserts the Spark-side rated-error boolean
    // came out TRUE.
    "mm_imageio_decode" ->
      """WITH d AS (SELECT doc_id, doc_id % 2 AS m FROM documents),
        |png AS (SELECT doc_id, 4 AS w, 1 + (doc_id % 3) AS h FROM d WHERE m = 0),
        |ppx AS (SELECT doc_id, unnest(range(0, w * h)) AS i FROM png),
        |ps AS (SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum(((doc_id + i * 7) % 256) * 3) AS BIGINT) AS unit_sum
        |  FROM ppx GROUP BY doc_id)
        |SELECT png.doc_id AS media_id, 'image/png' AS mime,
        |  CAST(4 AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  ps.n_units, ps.unit_sum,
        |  CAST(png.doc_id % 256 AS BIGINT) AS first_unit, TRUE AS sum_ok
        |FROM png JOIN ps USING (doc_id)
        |UNION ALL
        |SELECT doc_id, 'image/jpeg', 8, 8, 64, NULL, NULL, TRUE
        |FROM d WHERE m = 1""".stripMargin,

    "mm_frames" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id, text,
        |    unnest(range(0, octet_length(encode(text)), 256)) AS frame_offset
        |  FROM documents
        |)
        |SELECT media_id, CAST(frame_offset AS BIGINT) AS frame_offset,
        |  md5(substr(text, CAST(frame_offset + 1 AS INT), 256)) AS frame_md5
        |FROM f""".stripMargin,

    "mm_frame_embed" -> {
      val dims = (0 until 8).map(j =>
        s"sum(('0x' || substr(fm, ${j * 4 + 1}, 4))::BIGINT)").mkString(", ")
      val parts = (0 until 8).zipWithIndex.map { case (j, i) =>
        s"CAST(CAST(round(s$i / n_frames / CAST(65535 AS DOUBLE), 6) AS DECIMAL(10,6)) AS VARCHAR)"
      }.mkString(", ")
      val sAliases = (0 until 8).map(j =>
        s"sum(('0x' || substr(fm, ${j * 4 + 1}, 4))::BIGINT) AS s$j").mkString(", ")
      s"""WITH f AS (
         |  SELECT doc_id AS media_id,
         |    md5(substr(text, CAST(frame_offset + 1 AS INT), 256)) AS fm
         |  FROM (
         |    SELECT doc_id, text,
         |      unnest(range(0, octet_length(encode(text)), 256)) AS frame_offset
         |    FROM documents)
         |), p AS (
         |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames, $sAliases
         |  FROM f GROUP BY media_id
         |)
         |SELECT media_id, n_frames, concat_ws(',', $parts) AS doc_embedding
         |FROM p""".stripMargin
    },

    "emb_quantize" ->
      """SELECT vec_id,
        |  round(CAST(list_min(embedding) AS DOUBLE), 6) AS q_min,
        |  round(CAST(list_max(embedding) AS DOUBLE), 6) AS q_max,
        |  CAST(list_sum(list_transform(embedding, x ->
        |    CAST(round((CAST(x AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) /
        |      (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) * 255) AS BIGINT)))
        |    AS BIGINT) AS q_checksum
        |FROM embeddings""".stripMargin,

    "mm_resize" ->
      """SELECT doc_id AS media_id, 320 AS width, 240 AS height,
        |  CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT) AS thumb_len,
        |  md5(substr(text, 1, CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT))) AS thumb_md5
        |FROM documents""".stripMargin,

    "mm_media_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS payload_md5,
        |  CAST((octet_length(encode(text)) - 1) // 256 + 1 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,

    // bigram counts + marginals + total all from the pair table; the
    // PMI ratio multiplies exactly-represented integer doubles, then
    // ln + round(·,6) (the text_lm_score parity contract).
    "text_pmi_bigrams" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
         |b AS (SELECT toks[i] AS tok_l, toks[i + 1] AS tok_r
         |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
         |pc AS (SELECT tok_l, tok_r, count(*) AS n_pair FROM b GROUP BY 1, 2),
         |lm AS (SELECT tok_l, sum(n_pair) AS n_left FROM pc GROUP BY 1),
         |rm AS (SELECT tok_r, sum(n_pair) AS n_right FROM pc GROUP BY 1),
         |tot AS (SELECT sum(n_pair) AS n_total FROM pc)
         |SELECT pc.tok_l, pc.tok_r, CAST(pc.n_pair AS BIGINT) AS n_pair,
         |  round(ln((CAST(pc.n_pair AS DOUBLE) * CAST(n_total AS DOUBLE)) /
         |    (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE))), 6) AS pmi
         |FROM pc JOIN lm USING (tok_l) JOIN rm USING (tok_r) CROSS JOIN tot
         |WHERE pc.n_pair >= ${PipelineQueries.PmiMinCount}""".stripMargin,

    // distinct-per-doc bigrams, document frequency, per-doc unique
    // fraction — docs under n tokens have no grams and drop.
    "text_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g0 AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
        |dg AS (SELECT DISTINCT doc_id, gram FROM g0),
        |df AS (SELECT gram, count(*) AS df FROM dg GROUP BY 1)
        |SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
        |        / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM dg JOIN df USING (gram) GROUP BY 1""".stripMargin,

    // the MMR greedy unrolled: candidate list = brute top-20 of query
    // vec 0, then one (max-sim, argmax) CTE pair per pick. The score
    // surface is integer micro-units — 0.5·(long < 2⁵³) is exact, so
    // ordering and the .5 rounding cases replay bit-for-bit.
    "ret_mmr_rerank" -> {
      val cands = PipelineQueries.MmrCandidates
      val k = PipelineQueries.MmrK
      val q = PipelineQueries.MmrQueryVec
      def simU(a: String, b: String, na: String, nb: String) =
        s"CAST(round(round(list_dot_product($a, $b) / ($na * $nb), 6) * 1000000.0) AS BIGINT)"
      val steps = (2 to k).map { i =>
        s"""m$i AS (SELECT c.neighbor_id,
           |    max(${simU("c.e", "s.e", "c.nrm", "s.nrm")}) AS msim_u
           |  FROM cand c CROSS JOIN sel${i - 1} s
           |  WHERE c.neighbor_id NOT IN (SELECT neighbor_id FROM sel${i - 1})
           |  GROUP BY c.neighbor_id),
           |p$i AS (SELECT c.neighbor_id, c.rel_u, c.e, c.nrm,
           |    CAST(round(0.5::DOUBLE * c.rel_u - 0.5::DOUBLE * m$i.msim_u) AS BIGINT) AS score_u,
           |    $i AS mmr_rank
           |  FROM cand c JOIN m$i USING (neighbor_id)
           |  ORDER BY score_u DESC, c.neighbor_id LIMIT 1),
           |sel$i AS (SELECT * FROM sel${i - 1}
           |  UNION ALL SELECT neighbor_id, rel_u, e, nrm, score_u, mmr_rank FROM p$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $normCte,
         |qv AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = $q),
         |sc AS (SELECT n.vec_id AS neighbor_id,
         |    list_dot_product(n.e, qv.qe) / (n.nrm * qv.qn) AS cos
         |  FROM n CROSS JOIN qv WHERE n.vec_id <> $q),
         |topc AS (SELECT neighbor_id,
         |    CAST(round(round(cos, 6) * 1000000.0) AS BIGINT) AS rel_u
         |  FROM (SELECT neighbor_id, cos,
         |      row_number() OVER (ORDER BY cos DESC, neighbor_id) AS rk FROM sc)
         |  WHERE rk <= $cands),
         |cand AS (SELECT topc.neighbor_id, topc.rel_u, n.e, n.nrm
         |  FROM topc JOIN n ON n.vec_id = topc.neighbor_id),
         |sel1 AS (SELECT neighbor_id, rel_u, e, nrm,
         |    CAST(round(0.5::DOUBLE * rel_u) AS BIGINT) AS score_u, 1 AS mmr_rank
         |  FROM cand
         |  ORDER BY CAST(round(0.5::DOUBLE * rel_u) AS BIGINT) DESC, neighbor_id
         |  LIMIT 1),
         |$steps
         |SELECT CAST(mmr_rank AS BIGINT) AS mmr_rank, neighbor_id,
         |  rel_u AS rel_micro, score_u AS mmr_score_micro
         |FROM sel$k""".stripMargin
    },

    "pref_pairs" ->
      """WITH p AS (SELECT event_type AS cur,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT cur AS winner, prev AS loser, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE prev IS NOT NULL AND prev <> cur GROUP BY 1, 2""".stripMargin,

    // all five KN statistics re-derived from the unrolled bigram
    // tables; the probability expression mirrors TextOps.knBigramScores'
    // operator tree exactly (same association, same casts); per-term
    // micro-unit longs via SCALE-0 round (the only round both engines
    // agree on unconditionally) sum exactly.
    "text_kn_score" ->
      s"""WITH $knScoreCtes
         |SELECT doc_id, n_bigrams, kn_sum_micro FROM kns""".stripMargin,

    // per-label decimal-exact prototype means (the Lloyd's update CTE
    // grouped by label), assignment via the same rounded |c|²−2·x·c
    // argmin + cell tiebreak, rolled to the confusion matrix.
    "sim_rocchio_confusion" ->
      s"""WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |u AS (SELECT CAST(label AS BIGINT) AS cell, pos,
         |    round(CAST(sum(CAST(round(v, 6) AS DECIMAL(28,12))) AS DOUBLE)
         |          / count(*), 6) AS m
         |  FROM (SELECT label, generate_subscripts(e, 1) AS pos, unnest(e) AS v
         |        FROM emb)
         |  GROUP BY cell, pos),
         |cts AS (SELECT cell, list(m ORDER BY pos) AS c FROM u GROUP BY cell),
         |asg AS (SELECT vec_id, label, cell AS predicted FROM (
         |  SELECT emb.vec_id, emb.label, cts.cell,
         |    row_number() OVER (PARTITION BY emb.vec_id
         |      ORDER BY round(list_dot_product(cts.c, cts.c)
         |                     - 2.0 * list_dot_product(emb.e, cts.c), 6),
         |               cts.cell) AS rk
         |  FROM emb CROSS JOIN cts) WHERE rk = 1)
         |SELECT CAST(label AS BIGINT) AS label, predicted,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM asg GROUP BY 1, 2""".stripMargin,

    // ClassifierOps.conformalEval replayed: the same prototype means,
    // the full-distance score (xx + cc − 2xc, 6dp), the hash split,
    // exact-rank q̂ with the finite-sample ceil and n-clamp, then the
    // one-row coverage/set-size audit.
    "quality_conformal" ->
      s"""WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |u AS (SELECT CAST(label AS BIGINT) AS cell, pos,
         |    round(CAST(sum(CAST(round(v, 6) AS DECIMAL(28,12))) AS DOUBLE)
         |          / count(*), 6) AS m
         |  FROM (SELECT label, generate_subscripts(e, 1) AS pos, unnest(e) AS v
         |        FROM emb)
         |  GROUP BY cell, pos),
         |cts AS (SELECT cell, list(m ORDER BY pos) AS c FROM u GROUP BY cell),
         |sc AS (SELECT emb.vec_id, CAST(emb.label AS BIGINT) AS label,
         |    cts.cell,
         |    round(list_dot_product(emb.e, emb.e)
         |      + list_dot_product(cts.c, cts.c)
         |      - 2.0 * list_dot_product(emb.e, cts.c), 6) AS s
         |  FROM emb CROSS JOIN cts),
         |flag AS (SELECT vec_id,
         |    ('0x' || substr(md5(vec_id::VARCHAR), 1, 4))::BIGINT < 32768
         |      AS is_cal FROM emb),
         |cal AS (SELECT sc.s, sc.vec_id FROM sc
         |  JOIN flag USING (vec_id) WHERE sc.cell = sc.label AND is_cal),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
         |q AS (SELECT s AS qhat FROM
         |    (SELECT s, row_number() OVER (ORDER BY s, vec_id) AS rk
         |     FROM cal), nc
         |  WHERE rk = least(((n_cal + 1) * 9 + 9) // 10, n_cal)),
         |tst AS (SELECT sc.vec_id,
         |    max(CASE WHEN sc.cell = sc.label AND sc.s <= q.qhat
         |        THEN 1 ELSE 0 END) AS cov,
         |    sum(CASE WHEN sc.s <= q.qhat THEN 1 ELSE 0 END) AS ss
         |  FROM sc JOIN flag USING (vec_id), q
         |  WHERE NOT is_cal GROUP BY sc.vec_id),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(sum(cov) AS BIGINT) AS n_covered,
         |    CAST(sum(ss) AS BIGINT) AS sum_set FROM tst)
         |SELECT nc.n_cal,
         |  CAST(round(q.qhat * 1000000.0) AS BIGINT) AS qhat_micro,
         |  a.n_test, a.n_covered,
         |  CAST(a.n_covered * 1000000 // a.n_test AS BIGINT) AS coverage_ppm,
         |  CAST(a.sum_set * 1000000 // a.n_test AS BIGINT) AS avg_set_micro
         |FROM nc, q, a""".stripMargin,

    // per-source token stats; the entropy sum is Σ c·ln c in scale-0
    // micro longs, the TTR the bit-deterministic integer floor.
    "profile_source_entropy" ->
      """WITH c AS (SELECT source, tok, count(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab_size,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST(round(c * ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT))
        |    AS BIGINT) AS clogc_sum_micro,
        |  CAST(floor(count(*) * 1000000.0 / sum(c)) AS BIGINT) AS ttr_micro
        |FROM c GROUP BY source""".stripMargin,

    // embedding-near pairs (the dedup_embedding predicate) verified
    // lexically: LEFT JOIN the shared-shingle counts so zero-overlap
    // pairs keep jaccard 0 (Spark's array_intersect gives 0, not a
    // dropped row).
    "dedup_paraphrase" ->
      s"""WITH $normCte,
         |$shCte,
         |pairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         |    round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cos_sim
         |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
         |        >= ${PipelineQueries.NearDupThreshold}),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT p.doc_a, p.doc_b, count(*) AS n_common
         |  FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.doc_a
         |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY p.doc_a, p.doc_b)
         |SELECT p.doc_a, p.doc_b, p.cos_sim,
         |  round(coalesce(c.n_common, 0)
         |    / CAST(ca.n + cb.n - coalesce(c.n_common, 0) AS DOUBLE), 6) AS jaccard,
         |  round(coalesce(c.n_common, 0)
         |    / CAST(ca.n + cb.n - coalesce(c.n_common, 0) AS DOUBLE), 6)
         |    < ${PipelineQueries.ParaJaccardMax} AS is_paraphrase
         |FROM pairs p
         |JOIN cnt ca ON ca.doc_id = p.doc_a
         |JOIN cnt cb ON cb.doc_id = p.doc_b
         |LEFT JOIN common c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b""".stripMargin,

    // the MM chain unrolled: per iteration, per-pair terms round(·,6)
    // sum in DECIMAL, the weight update rounds to 6dp, the round
    // normalizes to a probability vector — PreferenceOps.btStrengths
    // step for step.
    "pref_bt_strength" -> {
      val iters = PipelineQueries.BtIters
      val steps = (1 to iters).map { i =>
        s"""d$i AS (SELECT s.item,
           |    sum(CAST(round(s.games / (wa.w + wb.w), 6) AS DECIMAL(28,12))) AS denom
           |  FROM sym s JOIN w${i - 1} wa ON wa.item = s.item
           |  JOIN w${i - 1} wb ON wb.item = s.opp GROUP BY s.item),
           |r$i AS (SELECT d$i.item,
           |    round(coalesce(wins.wins, 0) / CAST(denom AS DOUBLE), 6) AS wr
           |  FROM d$i LEFT JOIN wins ON wins.item = d$i.item),
           |w$i AS (SELECT item,
           |    round(wr / (SELECT CAST(sum(CAST(wr AS DECIMAL(28,6))) AS DOUBLE)
           |                FROM r$i), 6) AS w FROM r$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS (SELECT event_type AS cur,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM events),
         |pr AS (SELECT cur AS winner, prev AS loser, count(*) AS n FROM p
         |  WHERE prev IS NOT NULL AND prev <> cur GROUP BY 1, 2),
         |sym AS (SELECT item, opp, sum(n) AS games FROM (
         |    SELECT winner AS item, loser AS opp, n FROM pr
         |    UNION ALL SELECT loser AS item, winner AS opp, n FROM pr)
         |  GROUP BY 1, 2),
         |wins AS (SELECT winner AS item, sum(n) AS wins FROM pr GROUP BY 1),
         |gt AS (SELECT item, sum(games) AS n_games FROM sym GROUP BY 1),
         |w0 AS (SELECT DISTINCT item, 1.0::DOUBLE AS w FROM sym),
         |$steps
         |SELECT w$iters.item, CAST(coalesce(wins.wins, 0) AS BIGINT) AS wins,
         |  CAST(gt.n_games AS BIGINT) AS n_games, w$iters.w AS strength
         |FROM w$iters LEFT JOIN wins ON wins.item = w$iters.item
         |JOIN gt ON gt.item = w$iters.item""".stripMargin
    },

    // the NB chain re-derived: (class, token) counts, the smoothed
    // decomposition Σ tf·ln(c+1) − n_d·ln(N_l+V) + ln prior, every term
    // a scale-0 micro long, argmax with the class-ascending tiebreak.
    "quality_nb_confusion" ->
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, lang AS lang_true, tok, count(*) AS tf
        |  FROM t GROUP BY 1, 2, 3),
        |c AS (SELECT lang_true AS cl, tok, sum(tf) AS c FROM tf GROUP BY 1, 2),
        |nl AS (SELECT cl, sum(c) AS nl FROM c GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v FROM c),
        |pri AS (SELECT lang AS cl,
        |    CAST(round(ln(CAST(count(*) AS DOUBLE) /
        |      (SELECT CAST(count(*) AS DOUBLE) FROM documents)) * 1000000.0)
        |      AS BIGINT) AS prior_micro
        |  FROM documents GROUP BY 1),
        |terms AS (SELECT tf.doc_id, c.cl,
        |    sum(CAST(round(CAST(tf.tf AS DOUBLE) *
        |      ln(CAST(c.c AS DOUBLE) + 1.0) * 1000000.0) AS BIGINT)) AS tsum
        |  FROM tf JOIN c ON c.tok = tf.tok GROUP BY 1, 2),
        |nd AS (SELECT doc_id, lang_true, sum(tf) AS n_d FROM tf GROUP BY 1, 2),
        |langs AS (SELECT DISTINCT cl FROM c),
        |sc AS (SELECT nd.doc_id, nd.lang_true, l.cl,
        |    coalesce(t.tsum, 0)
        |    - CAST(round(CAST(nd.n_d AS DOUBLE) *
        |        ln(CAST(nl.nl + v.v AS DOUBLE)) * 1000000.0) AS BIGINT)
        |    + pri.prior_micro AS score_micro
        |  FROM nd CROSS JOIN langs l
        |  JOIN nl ON nl.cl = l.cl CROSS JOIN v
        |  JOIN pri ON pri.cl = l.cl
        |  LEFT JOIN terms t ON t.doc_id = nd.doc_id AND t.cl = l.cl),
        |pred AS (SELECT lang_true, cl FROM (
        |    SELECT lang_true, cl, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_micro DESC, cl) AS rk FROM sc)
        |  WHERE rk = 1)
        |SELECT lang_true AS lang, cl AS predicted, CAST(count(*) AS BIGINT) AS n
        |FROM pred GROUP BY 1, 2""".stripMargin,

    // degree-ordered orientation replayed with SQL row-value
    // comparisons: each triangle enumerated once from its lowest
    // corner, then exploded back to all three.
    "graph_triangles" ->
      s"""WITH $normCte,
         |$knnEdgeCtes,
         |e0 AS (SELECT a, b FROM ke),
         |deg AS (SELECT node, count(*) AS d FROM (
         |    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
         |o AS (SELECT
         |    CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.a ELSE e0.b END AS u,
         |    CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN db.d ELSE da.d END AS dv,
         |    CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.b ELSE e0.a END AS v
         |  FROM e0 JOIN deg da ON da.node = e0.a JOIN deg db ON db.node = e0.b),
         |tri AS (SELECT w1.u AS x1, w1.v AS x2, w2.v AS x3
         |  FROM o w1 JOIN o w2 ON w2.u = w1.u AND (w1.dv, w1.v) < (w2.dv, w2.v)
         |  JOIN o t ON t.u = w1.v AND t.v = w2.v)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
         |  SELECT x1 AS node FROM tri
         |  UNION ALL SELECT x2 FROM tri
         |  UNION ALL SELECT x3 FROM tri)
         |GROUP BY node""".stripMargin,

    // the KN chain (shared CTEs) ranked into per-lang terciles on the
    // integer-floored per-bigram NLL; ntile over identical integers
    // with the doc_id tiebreak is engine-exact.
    "mix_perplexity_buckets" ->
      s"""WITH $knScoreCtes,
         |sc AS (SELECT kns.doc_id, d.lang,
         |    CAST(floor(CAST(-kn_sum_micro AS DOUBLE) /
         |      CAST(n_bigrams AS DOUBLE)) AS BIGINT) AS nll_micro
         |  FROM kns JOIN documents d ON d.doc_id = kns.doc_id),
         |nt AS (SELECT doc_id, lang, nll_micro,
         |    ntile(3) OVER (PARTITION BY lang ORDER BY nll_micro, doc_id)
         |      AS tercile
         |  FROM sc)
         |SELECT doc_id, lang, nll_micro,
         |  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |    ELSE 'tail' END AS bucket
         |FROM nt""".stripMargin,

    // the BPE merge chain replayed (the text_bpe_segment steps), then
    // the segmentation rolled up per source with the integer-floored
    // fertility micro ratio.
    "text_bpe_fertility" -> {
      val t = PipelineQueries.BpeMergeCount
      def pairCte(i: Int, src: String) =
        s"""pc$i AS (SELECT tk[i] || ' ' || tk[i + 1] AS pair, sum(cnt) AS c
           |  FROM (SELECT tk, cnt, unnest(range(1, len(tk))) AS i
           |        FROM (SELECT string_split(seq, ' ') AS tk, cnt FROM $src))
           |  GROUP BY pair),
           |m$i AS (SELECT pair, c FROM pc$i ORDER BY c DESC, pair ASC LIMIT 1)"""
          .stripMargin
      def rewriteCte(i: Int, src: String) =
        s"""s$i AS (SELECT replace(seq, (SELECT pair FROM m$i),
           |  (SELECT replace(pair, ' ', '') FROM m$i)) AS seq, cnt FROM $src)"""
          .stripMargin
      val steps = (1 to t).map { i =>
        val src = s"s${i - 1}"
        if (i < t) pairCte(i, src) + ",\n" + rewriteCte(i, src)
        else pairCte(i, src)
      }.mkString(",\n")
      val applied = (1 to t).foldLeft("seq0") { (acc, i) =>
        s"replace($acc, (SELECT pair FROM m$i), (SELECT replace(pair, ' ', '') FROM m$i))"
      }
      s"""WITH w AS (SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY word),
         |s0 AS (SELECT rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq, cnt
         |  FROM w),
         |$steps,
         |dw AS (SELECT source, word,
         |    rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq0
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  WHERE len(word) > 0)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(string_split($applied, ' '))) AS BIGINT) AS n_subwords,
         |  CAST(floor(CAST(sum(len(string_split($applied, ' '))) AS DOUBLE)
         |    * 1000000.0 / CAST(count(*) AS DOUBLE)) AS BIGINT)
         |    AS fertility_micro
         |FROM dw GROUP BY source""".stripMargin
    },

    // sign bits packed MSB-first into two 32-bit halves (the closed
    // form of the engine's acc·2+b fold), Hamming top-k, recall vs the
    // exact cosine frontier.
    "sim_recall_binary" -> {
      val nq = PipelineQueries.IvfQueryCount
      val k = PipelineQueries.IvfK
      def bits(off: Int) =
        s"""list_sum(list_transform(range(1, 33), p ->
           |    CASE WHEN e[p + $off] >= 0 THEN (CAST(1 AS BIGINT) << (32 - p))
           |         ELSE CAST(0 AS BIGINT) END))""".stripMargin
      s"""WITH $normCte,
         |${topkCtes("ex", nq, k, cellJoin = false)},
         |bc AS (SELECT vec_id, CAST(${bits(0)} AS BIGINT) AS c_lo,
         |    CAST(${bits(32)} AS BIGINT) AS c_hi FROM n),
         |bq AS (SELECT vec_id AS query_id, c_lo AS q_lo, c_hi AS q_hi
         |  FROM bc WHERE vec_id < $nq),
         |bh AS (SELECT bq.query_id, bc.vec_id AS neighbor_id,
         |    CAST(bit_count(xor(bc.c_lo, bq.q_lo)) +
         |         bit_count(xor(bc.c_hi, bq.q_hi)) AS BIGINT) AS hamming
         |  FROM bc CROSS JOIN bq WHERE bc.vec_id <> bq.query_id),
         |bt AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY hamming, neighbor_id) AS rk
         |    FROM bh) WHERE rk <= $k)
         |${recallSelect("ex", "bt")}""".stripMargin
    },

    // the chunk replay (text_chunks' starts) scored with the bm25
    // formula at chunk granularity, per-doc best passage, top-k docs.
    "ret_passage_topk" -> {
      val terms = PipelineQueries.Bm25Terms.map(t => s"'$t'").mkString(", ")
      val k1 = graft.ops.RetrievalOps.DefaultK1
      val b = graft.ops.RetrievalOps.DefaultB
      s"""WITH $tokCte,
         |st AS (SELECT doc_id, toks,
         |    unnest(range(1, greatest(len(toks) - 31, 1) + 24, 24))
         |      AS chunk_start
         |  FROM t),
         |ch AS (SELECT doc_id, CAST(chunk_start AS BIGINT) AS cs,
         |    toks[chunk_start:chunk_start + 31] AS ct
         |  FROM st),
         |cst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(ct)) AS DOUBLE) / count(*) AS avgdl FROM ch),
         |ctf AS (SELECT doc_id, cs, dl, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, cs, len(ct) AS dl, unnest(ct) AS tok
         |        FROM ch)
         |  WHERE tok IN ($terms) GROUP BY 1, 2, 3, 4),
         |cdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM ctf
         |  GROUP BY 1),
         |csc AS (SELECT ctf.doc_id, ctf.cs,
         |    CAST(round(ln((cst.n_docs - cdf.df + 0.5) / (cdf.df + 0.5) + 1.0)
         |      * (ctf.tf * ($k1 + 1)) /
         |      (ctf.tf + $k1 * (1.0 - $b + $b * ctf.dl / cst.avgdl)), 6)
         |      AS DECIMAL(28,6)) AS term
         |  FROM ctf JOIN cdf USING (tok), cst),
         |cagg AS (SELECT doc_id, cs,
         |    CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE) AS score
         |  FROM csc GROUP BY 1, 2),
         |best AS (SELECT doc_id, cs AS chunk_start, score FROM (
         |    SELECT doc_id, cs, score,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, cs) AS rk
         |    FROM cagg) WHERE rk = 1)
         |SELECT doc_id, rank, score, chunk_start FROM (
         |  SELECT doc_id, chunk_start, score,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         |      AS rank
         |  FROM best)
         |WHERE rank <= ${PipelineQueries.Bm25K}""".stripMargin
    },

    // small-cell suppression replayed: counts per quasi cell, nulled
    // under k.
    "privacy_k_anon" ->
      s"""SELECT lang, source,
         |  count(*) >= ${PipelineQueries.KAnonK} AS released,
         |  CAST(CASE WHEN count(*) >= ${PipelineQueries.KAnonK}
         |    THEN count(*) END AS BIGINT) AS n_released
         |FROM documents GROUP BY 1, 2""".stripMargin,

    // phase 1 reuses the audited bm25 chain (feedback = its top-5),
    // candidate mining is IN-bounded to those docs, phase 2 re-derives
    // df/score over the expanded term set exactly like the multi-query
    // scorer.
    "ret_prf_expand" -> {
      val terms = PipelineQueries.Bm25Terms.map(t => s"'$t'").mkString(", ")
      val k1 = graft.ops.RetrievalOps.DefaultK1
      val b = graft.ops.RetrievalOps.DefaultB
      s"""WITH $bm25Cte,
         |cand AS (SELECT tok AS term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |  WHERE doc_id IN (SELECT doc_id FROM bm
         |                   WHERE rank <= ${PipelineQueries.PrfFeedbackDocs})
         |    AND tok NOT IN ($terms) AND len(tok) > 0
         |  GROUP BY 1 ORDER BY tf DESC, term
         |  LIMIT ${PipelineQueries.PrfExpandTerms}),
         |q2 AS (SELECT term FROM cand
         |  UNION ALL SELECT unnest([$terms]) AS term),
         |p2tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM
         |    (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |       unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE tok IN (SELECT term FROM q2) GROUP BY 1, 2, 3),
         |p2df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM p2tf GROUP BY 1),
         |p2sc AS (SELECT p2tf.doc_id,
         |    CAST(round(ln((bst.n_docs - p2df.df + 0.5) / (p2df.df + 0.5) + 1.0)
         |      * (p2tf.tf * ($k1 + 1)) /
         |      (p2tf.tf + $k1 * (1.0 - $b + $b * p2tf.dl / bst.avgdl)), 6)
         |      AS DECIMAL(28,6)) AS term
         |  FROM p2tf JOIN p2df USING (tok), bst),
         |p2agg AS (SELECT doc_id,
         |    CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE) AS score
         |  FROM p2sc GROUP BY 1)
         |SELECT doc_id, rank, score FROM (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         |      AS rank, score
         |  FROM p2agg)
         |WHERE rank <= ${PipelineQueries.Bm25K}""".stripMargin
    },

    // the PCA chain replayed end to end: decimal-exact means, the dim²
    // micro-long scatter matrix from the centered self-join, the power
    // iteration unrolled as exact DECIMAL(18,0) integer matrix-vector
    // products with max|w| normalization, and the per-vec micro-long
    // projection — scale-0 rounds only (the 6dp form diverged; see
    // SimilarityOps.pcaComponent).
    "sim_pca_project" ->
      s"""WITH $pcaCtes
         |SELECT c.vec_id,
         |  CAST(sum(CAST(round(c.cv * v${PipelineQueries.PcaIters}.vv)
         |    AS BIGINT)) AS BIGINT) AS pc1_micro
         |FROM cent c
         |JOIN v${PipelineQueries.PcaIters}
         |  ON v${PipelineQueries.PcaIters}.pos = c.pos
         |GROUP BY c.vec_id""".stripMargin,

    // the Rayleigh-quotient fraction of the trained axis: vᵀSv / vᵀv
    // over the exact integer scatter, against trace(S) — every operand
    // an exact integer, the fraction through identical doubles + floor.
    "sim_pca_var" -> {
      val it = PipelineQueries.PcaIters
      s"""WITH $pcaCtes,
         |q AS (SELECT sum(CAST(CAST(sc.s AS DECIMAL(18,0)) *
         |    CAST(a.vv AS DECIMAL(18,0)) AS DECIMAL(28,0)) *
         |    CAST(b.vv AS DECIMAL(10,0))) AS vsv
         |  FROM sc JOIN v$it a ON a.pos = sc.i JOIN v$it b ON b.pos = sc.j),
         |nv AS (SELECT sum(CAST(vv AS DECIMAL(18,0)) *
         |    CAST(vv AS DECIMAL(18,0))) AS vv2 FROM v$it),
         |tr AS (SELECT sum(s) AS trace FROM sc WHERE i = j)
         |SELECT CAST(${PipelineQueries.EmbDim} AS BIGINT) AS n_dims,
         |  CAST(trace AS BIGINT) AS trace_micro,
         |  CAST(CASE WHEN trace = 0 THEN 0
         |       ELSE floor(CAST(vsv AS DOUBLE) / CAST(vv2 AS DOUBLE)
         |            / CAST(trace AS DOUBLE) * 1000000.0) END AS BIGINT)
         |    AS var_explained_micro
         |FROM q, nv, tr""".stripMargin
    },

    // trained cells replayed, then the deterministic per-cell hash-draw
    // quota.
    "sample_cluster_balanced" ->
      s"""WITH $kmeansCtes,
         |r AS (SELECT vec_id, cell,
         |    CAST(row_number() OVER (PARTITION BY cell
         |      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT,
         |               vec_id) AS BIGINT) AS rk
         |  FROM af)
         |SELECT vec_id, cell, rk FROM r
         |WHERE rk <= ${PipelineQueries.ClusterSampleN}""".stripMargin,

    // the EMA recursion replayed literally: row_number orders each
    // key's stream, the recursive CTE carries the micro-long state.
    "ts_ema" ->
      """WITH RECURSIVE b AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, rn,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS ema
        |  FROM b WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.event_id, b.rn,
        |    CAST(round(0.5 * b.value * 1000000.0 + 0.5 * r.ema) AS BIGINT)
        |  FROM r JOIN b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
        |SELECT user_id, event_id, ema AS ema_micro FROM r""".stripMargin,

    // the scaled-integer CUSUM replayed: margins, running Σx·n − t·S,
    // earliest-tie max-|cusum| per key.
    "ts_changepoint" ->
      """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |st1 AS (SELECT user_id, day, c,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
        |    CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS s,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS BIGINT) AS t
        |  FROM d),
        |st2 AS (SELECT user_id, day, n, s, t,
        |    CAST(sum(c * n) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - t * s AS cusum
        |  FROM st1),
        |f AS (SELECT * FROM st2 WHERE n >= 2 AND t < n),
        |rk AS (SELECT user_id, n, s, t, day, abs(cusum) AS a,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY abs(cusum) DESC, t) AS rk FROM f)
        |SELECT user_id, n AS n_points, s AS x_total, t AS cp_pos,
        |  day AS cp_ts, a AS cusum_abs
        |FROM rk WHERE rk = 1""".stripMargin,

    // the Holt two-state recursion replayed: the new level expression
    // repeats inside the trend update (a recursive CTE can't name an
    // intermediate), same double ops in the same order.
    "ts_holt" ->
      """WITH RECURSIVE b AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, rn,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS lvl,
        |    CAST(0 AS BIGINT) AS trd
        |  FROM b WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.event_id, b.rn,
        |    CAST(round(0.5 * b.value * 1000000.0
        |      + 0.5 * (r.lvl + r.trd)) AS BIGINT),
        |    CAST(round(0.5 * (CAST(round(0.5 * b.value * 1000000.0
        |        + 0.5 * (r.lvl + r.trd)) AS BIGINT) - r.lvl)
        |      + 0.5 * r.trd) AS BIGINT)
        |  FROM r JOIN b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
        |SELECT user_id, event_id, lvl AS level_micro, trd AS trend_micro
        |FROM r""".stripMargin,

    // the rolling-window replay: same trailing frame, exact decimal
    // sums, the identical double z expression and micro round.
    "ts_anomaly" ->
      """WITH b AS (SELECT user_id, event_id, ts,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v
        |  FROM events),
        |w AS (SELECT user_id, event_id, v,
        |    sum(v) OVER tw AS s1, sum(v * v) OVER tw AS s2,
        |    count(*) OVER tw AS n
        |  FROM b
        |  WINDOW tw AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT user_id, event_id,
        |    CAST(round((CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
        |      / sqrt((CAST(s2 AS DOUBLE)
        |              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
        |             / (n - 1)) * 1e6, 0) AS BIGINT) AS z_micro
        |  FROM w
        |  WHERE n = 20
        |    AND (CAST(s2 AS DOUBLE)
        |         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
        |        / (n - 1) > 0)
        |SELECT user_id, event_id, z_micro,
        |  CAST(CASE WHEN abs(z_micro) >= 3000000 THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_anomaly
        |FROM z""".stripMargin,

    // three synchronous rounds unrolled over the capped-kNN edge list
    // (r12 re-point): per round a (node, label) count over the
    // bidirectional edges and the (count DESC, label ASC) argmax.
    "graph_label_prop" -> {
      val steps = (1 to PipelineQueries.LabelPropIters).map { i =>
        s"""c$i AS (SELECT g.src AS node, l.label, count(*) AS c
           |  FROM g JOIN l${i - 1} l ON l.node = g.dst GROUP BY 1, 2),
           |l$i AS (SELECT node, label FROM (SELECT node, label,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label)
           |      AS rk FROM c$i) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $normCte,
         |$knnEdgeCtes,
         |e0 AS MATERIALIZED (SELECT a, b FROM ke),
         |g AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION SELECT b AS src, a AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM g),
         |$steps
         |SELECT node, label FROM l${PipelineQueries.LabelPropIters}"""
        .stripMargin
    },

    // the capped-kNN edge list (r12 re-point) in both orientations,
    // degree joins, exact moment sums, the identical fixed-order
    // Pearson expression.
    "graph_assortativity" ->
      s"""WITH $normCte,
         |$knnEdgeCtes,
         |e0 AS (SELECT a AS u, b AS v FROM ke),
         |dr AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
         |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
         |  FROM dr GROUP BY 1),
         |xy AS (SELECT du.d AS dx, dv.d AS dy FROM dr
         |  JOIN deg du ON du.node = dr.u JOIN deg dv ON dv.node = dr.v),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         |    CAST(sum(dx * dy) AS BIGINT) AS sxy,
         |    CAST(sum(dx * dx) AS BIGINT) AS sxx,
         |    CAST(sum(dy * dy) AS BIGINT) AS syy
         |  FROM xy)
         |SELECT n AS n_directed_edges,
         |  CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |    * 1000000.0) AS BIGINT) AS r_micro
         |FROM m""".stripMargin,

    // the label-prop chain re-derived over the capped-kNN edge list
    // (r12 re-point), then the modularity rollup: intra-edge counts +
    // degree sums per final community, exact integer q_num/q_den pair.
    "graph_modularity" -> {
      val steps = (1 to PipelineQueries.LabelPropIters).map { i =>
        s"""c$i AS (SELECT g.src AS node, l.label, count(*) AS c
           |  FROM g JOIN l${i - 1} l ON l.node = g.dst GROUP BY 1, 2),
           |l$i AS (SELECT node, label FROM (SELECT node, label,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label)
           |      AS rk FROM c$i) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $normCte,
         |$knnEdgeCtes,
         |e0 AS MATERIALIZED (SELECT a, b FROM ke),
         |g AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION SELECT b AS src, a AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM g),
         |$steps,
         |lf AS (SELECT node, label FROM l${PipelineQueries.LabelPropIters}),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
         |el AS (SELECT lu.label AS cu, lv.label AS cv FROM e0
         |  JOIN lf lu ON lu.node = e0.a JOIN lf lv ON lv.node = e0.b),
         |intra AS (SELECT cu AS community, CAST(count(*) AS BIGINT)
         |    AS e_intra FROM el WHERE cu = cv GROUP BY 1),
         |deg AS (SELECT node, count(*) AS d FROM
         |  (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
         |ds AS (SELECT lf.label AS community,
         |    CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(deg.d) AS BIGINT) AS d_sum
         |  FROM deg JOIN lf ON lf.node = deg.node GROUP BY 1)
         |SELECT ds.community, ds.n_nodes,
         |  coalesce(intra.e_intra, 0) AS e_intra, ds.d_sum,
         |  CAST(4 * mm.m * coalesce(intra.e_intra, 0)
         |    - ds.d_sum * ds.d_sum AS BIGINT) AS q_num,
         |  CAST(4 * mm.m * mm.m AS BIGINT) AS q_den
         |FROM ds LEFT JOIN intra USING (community), mm""".stripMargin
    },

    // l-diversity replay: same day cells, distinct-user diversity,
    // suppression as NULLed statistics.
    "privacy_l_diversity" ->
      s"""WITH c AS (SELECT event_type,
         |    epoch_us(date_trunc('day', ts)) AS day_us,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS d
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, day_us,
         |  d >= ${PipelineQueries.LDiversityL} AS released,
         |  CASE WHEN d >= ${PipelineQueries.LDiversityL} THEN n END
         |    AS n_released,
         |  CASE WHEN d >= ${PipelineQueries.LDiversityL} THEN d END
         |    AS diversity_released
         |FROM c""".stripMargin,

    // kNN eval replay: same leave-one-out unrounded-cosine ranking
    // (identical left-to-right dots), majority vote, confusion rollup.
    "quality_knn_confusion" ->
      s"""WITH $normCte,
         |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n
         |  WHERE vec_id < ${PipelineQueries.KnnQueryCount}),
         |scored AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |    n.label AS nl,
         |    list_dot_product(n.e, q.qe) / (n.nrm * q.qn) AS cos
         |  FROM n JOIN q ON n.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, nl,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored),
         |votes AS (SELECT query_id, nl, count(*) AS c FROM ranked
         |  WHERE rank <= ${PipelineQueries.KnnK} GROUP BY 1, 2),
         |pred AS (SELECT query_id, nl AS label_pred FROM (
         |    SELECT query_id, nl,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY c DESC, nl) AS rk
         |    FROM votes) WHERE rk = 1)
         |SELECT n.label AS label, p.label_pred,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM pred p JOIN n ON n.vec_id = p.query_id
         |GROUP BY 1, 2""".stripMargin,

    // DBSCAN replay: same threshold pairs, degree count, core cut,
    // core-component min-root flood (the dedup_clusters recursion),
    // border = min core-neighbor cluster, noise = the rest at −1.
    // edges from the LSH-bucket candidate generator (mirrors the
    // engine's re-point): LSH-approximate DBSCAN over the recall
    // subgraph of the threshold graph.
    "sim_dbscan" ->
      s"""WITH RECURSIVE $normCte,
         |${lshAutoCtes(PipelineQueries.TriangleCos)},
         |e0 AS MATERIALIZED (SELECT vec_a AS a, vec_b AS b FROM lp),
         |g AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |core AS MATERIALIZED (SELECT src AS node FROM g GROUP BY src
         |  HAVING count(*) >= ${PipelineQueries.DbscanMinPts}),
         |ce AS MATERIALIZED (SELECT e0.a AS src, e0.b AS dst FROM e0
         |  JOIN core ca ON e0.a = ca.node JOIN core cb ON e0.b = cb.node),
         |ce2 AS MATERIALIZED (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce),
         |reach(node, root) AS (
         |  SELECT node, node FROM core
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN ce2 e ON e.src = r.node),
         |cl AS (SELECT node, min(root) AS cluster_id FROM reach
         |  GROUP BY node),
         |border AS (SELECT g.src AS node, min(cl.cluster_id) AS cluster_id
         |  FROM g JOIN cl ON g.dst = cl.node
         |  WHERE g.src NOT IN (SELECT node FROM core) GROUP BY 1)
         |SELECT node AS vec_id, 'core' AS role, cluster_id FROM cl
         |UNION ALL
         |SELECT node, 'border', cluster_id FROM border
         |UNION ALL
         |SELECT vec_id, 'noise', CAST(-1 AS BIGINT) FROM embeddings
         |WHERE vec_id NOT IN (SELECT node FROM cl)
         |  AND vec_id NOT IN (SELECT node FROM border)""".stripMargin,

    // bounded BFS as a recursive CTE: the recursion floods (node, hop)
    // pairs capped at maxHops, min(hop) per node = the BFS distance —
    // equal to the engine's expand-once frontier by induction on hops.
    "graph_bfs_hops" ->
      s"""WITH RECURSIVE $normCte,
         |${lshAutoCtes(PipelineQueries.TriangleCos)},
         |e0 AS MATERIALIZED (SELECT vec_a AS a, vec_b AS b FROM lp),
         |g AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION SELECT b AS src, a AS dst FROM e0),
         |s AS (SELECT vec_id AS node FROM embeddings
         |  WHERE vec_id % ${PipelineQueries.BfsSourceMod} = 0),
         |r AS (SELECT node, 0 AS hop FROM s
         |  UNION
         |  SELECT g.dst AS node, r.hop + 1 AS hop
         |  FROM r JOIN g ON g.src = r.node
         |  WHERE r.hop < ${PipelineQueries.BfsMaxHops})
         |SELECT node, CAST(min(hop) AS BIGINT) AS hop
         |FROM r GROUP BY node""".stripMargin,

    // ROUGE-L replayed: the LCS rolling row iterated as a recursive CTE
    // over candidate positions, each step one window pass using the
    // prefix-max identity new[j] = max(prev[j], max_{j'≤j}(prev[j'−1] +
    // eq(j'))) — valid because LCS rows are non-decreasing; verified
    // cell-for-cell against a reference DP.
    "eval_rouge_l" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |pr AS (SELECT c.doc_id AS cand_id, c.toks AS x, r.toks AS y,
        |    len(c.toks) AS m, len(r.toks) AS n
        |  FROM t c JOIN t r ON r.doc_id = c.doc_id + 1),
        |r AS (
        |  SELECT cand_id, 0 AS t, unnest(range(0, n + 1)) AS j, 0 AS v FROM pr
        |  UNION ALL
        |  SELECT cand_id, t, j,
        |    greatest(v, coalesce(max(cnd) OVER (PARTITION BY cand_id ORDER BY j
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)) AS v
        |  FROM (
        |    SELECT r.cand_id AS cand_id, r.t + 1 AS t, r.j AS j, r.v AS v,
        |      CASE WHEN r.j >= 1 AND pr.y[r.j] = pr.x[r.t + 1]
        |        THEN lag(r.v) OVER (PARTITION BY r.cand_id ORDER BY r.j) + 1
        |        ELSE NULL END AS cnd
        |    FROM r JOIN pr ON r.cand_id = pr.cand_id
        |    WHERE r.t < pr.m)
        |),
        |fin AS (SELECT pr.cand_id AS cand_id, pr.m, pr.n,
        |    CAST(r.v AS BIGINT) AS lcs
        |  FROM r JOIN pr ON r.cand_id = pr.cand_id
        |    AND r.t = pr.m AND r.j = pr.n),
        |pf AS (SELECT cand_id, lcs,
        |    CASE WHEN m > 0 THEN CAST(lcs AS DOUBLE) / m ELSE 0.0 END AS p,
        |    CASE WHEN n > 0 THEN CAST(lcs AS DOUBLE) / n ELSE 0.0 END AS rr
        |  FROM fin)
        |SELECT cand_id, cand_id + 1 AS ref_id, lcs,
        |  CAST(round(p * 1000000.0) AS BIGINT) AS rl_p_micro,
        |  CAST(round(rr * 1000000.0) AS BIGINT) AS rl_r_micro,
        |  CAST(round(CASE WHEN lcs > 0 THEN 2.0 * p * rr / (p + rr)
        |    ELSE 0.0 END * 1000000.0) AS BIGINT) AS rl_f_micro
        |FROM pf""".stripMargin,

    // Fellegi-Sunter replayed: same canonical-link matched pairs, same
    // fixed-shift unmatched pairs, Laplace (agree+1)/(n+2), ln(m/u).
    "dedup_fs_weights" -> {
      val off = PipelineQueries.FsOffset
      def fieldRow(nm: String, agree: String) =
        s"""SELECT '$nm' AS field, n_m AS n_matched, n_u AS n_unmatched,
           |  CAST(round(CAST(${agree}_m + 1 AS DOUBLE) / (n_m + 2)
           |    * 1000000.0) AS BIGINT) AS m_micro,
           |  CAST(round(CAST(${agree}_u + 1 AS DOUBLE) / (n_u + 2)
           |    * 1000000.0) AS BIGINT) AS u_micro,
           |  CAST(round(ln((CAST(${agree}_m + 1 AS DOUBLE) / (n_m + 2))
           |    / (CAST(${agree}_u + 1 AS DOUBLE) / (n_u + 2))) * 1000.0)
           |    AS BIGINT) AS weight_milli
           |FROM ma CROSS JOIN ua""".stripMargin
      s"""WITH k AS (SELECT doc_id, md5(text) AS h, lang, source, n_chars
         |  FROM documents),
         |g AS (SELECT h, min(doc_id) AS canon FROM k GROUP BY h),
         |mp AS (SELECT k.doc_id AS a, g.canon AS b FROM k
         |  JOIN g ON k.h = g.h WHERE k.doc_id <> g.canon),
         |up AS (SELECT x.doc_id AS a, y.doc_id AS b FROM k x
         |  JOIN k y ON y.doc_id = x.doc_id + $off AND y.h <> x.h),
         |ma AS (SELECT count(*) AS n_m,
         |    sum(CASE WHEN ka.lang = kb.lang THEN 1 ELSE 0 END) AS agl_m,
         |    sum(CASE WHEN ka.source = kb.source THEN 1 ELSE 0 END) AS ags_m,
         |    sum(CASE WHEN floor(CAST(ka.n_chars AS DOUBLE) / 100.0)
         |      = floor(CAST(kb.n_chars AS DOUBLE) / 100.0)
         |      THEN 1 ELSE 0 END) AS agb_m
         |  FROM mp JOIN k ka ON mp.a = ka.doc_id JOIN k kb ON mp.b = kb.doc_id),
         |ua AS (SELECT count(*) AS n_u,
         |    sum(CASE WHEN ka.lang = kb.lang THEN 1 ELSE 0 END) AS agl_u,
         |    sum(CASE WHEN ka.source = kb.source THEN 1 ELSE 0 END) AS ags_u,
         |    sum(CASE WHEN floor(CAST(ka.n_chars AS DOUBLE) / 100.0)
         |      = floor(CAST(kb.n_chars AS DOUBLE) / 100.0)
         |      THEN 1 ELSE 0 END) AS agb_u
         |  FROM up JOIN k ka ON up.a = ka.doc_id JOIN k kb ON up.b = kb.doc_id)
         |${fieldRow("lang", "agl")}
         |UNION ALL
         |${fieldRow("source", "ags")}
         |UNION ALL
         |${fieldRow("len_bucket", "agb")}""".stripMargin
    },

    // unsupervised Fellegi-Sunter EM replayed: the same pattern-count
    // reduction (matched ∪ derangement pairs → ≤2^3 γ rows), then the
    // EM recurrence as one generated CTE per iteration — every derived
    // scalar rounded to 12dp before use, pattern-weighted sums in
    // DECIMAL(38,12), products left-assoc in field order, exactly the
    // driver-side arithmetic.
    "dedup_fs_em" -> {
      val off = PipelineQueries.FsOffset
      val iters = 20
      def tprod(p: String, ms: Seq[String]): String =
        ms.zipWithIndex.map { case (m, i) =>
          s"(CASE WHEN g$i = 1 THEN $m ELSE 1.0 - $m END)"
        }.mkString(s"$p * ", " * ", "")
      val steps = (1 to iters).map { i =>
        val pv = s"p${i - 1}"
        val sw = "sum(CAST(w AS DECIMAL(38,12)) * n)"
        def swg(g: Int) =
          s"sum(CASE WHEN g$g = 1 THEN CAST(w AS DECIMAL(38,12)) * n ELSE CAST(0 AS DECIMAL(38,12)) END)"
        def sug(g: Int) =
          s"sum(CASE WHEN g$g = 1 THEN CAST(round(1.0 - w, 12) AS DECIMAL(38,12)) * n ELSE CAST(0 AS DECIMAL(38,12)) END)"
        // the c12 clamp: round to 12dp, then pin into [1e-6, 0.999999]
        def cl(e: String) = s"least(greatest($e, 0.000001), 0.999999)"
        val ms = (0 to 2).map(g => cl(
          s"round(CAST(${swg(g)} AS DOUBLE) / CAST($sw AS DOUBLE), 12)") +
          s" AS m$g")
        val us = (0 to 2).map(g => cl(
          s"""round(CAST(${sug(g)} AS DOUBLE) /
             |      (CAST((SELECT bn FROM nn) AS DOUBLE) - CAST($sw AS DOUBLE)), 12)""".stripMargin) +
          s" AS u$g")
        s"""e$i AS MATERIALIZED (SELECT g0, g1, g2, n, round(a / (a + b), 12) AS w FROM (
           |  SELECT pat.*, ${tprod("p", Seq("m0", "m1", "m2"))} AS a,
           |    ${tprod("(1.0 - p)", Seq("u0", "u1", "u2"))} AS b
           |  FROM pat CROSS JOIN $pv)),
           |p$i AS MATERIALIZED (SELECT
           |  least(greatest(round(CAST($sw AS DOUBLE) / CAST((SELECT bn FROM nn) AS DOUBLE), 12), 0.000001), 0.999999) AS p,
           |  ${ms.mkString(",\n  ")},
           |  ${us.mkString(",\n  ")}
           |  FROM e$i)""".stripMargin
      }.mkString(",\n")
      def out(nm: String, g: Int) =
        s"""SELECT '$nm' AS field,
           |  CAST((SELECT bn FROM nn) AS BIGINT) AS n_pairs,
           |  CAST(round(p * 1000000.0) AS BIGINT) AS p_micro,
           |  CAST(round(m$g * 1000000.0) AS BIGINT) AS m_micro,
           |  CAST(round(u$g * 1000000.0) AS BIGINT) AS u_micro,
           |  CAST(round(ln(m$g / u$g) * 1000.0) AS BIGINT) AS weight_milli
           |FROM p$iters""".stripMargin
      s"""WITH $bandsCte,
         |mhp AS MATERIALIZED (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |k AS (SELECT doc_id, md5(text) AS hh, lang, source, n_chars
         |  FROM documents),
         |up AS (SELECT x.doc_id AS a, y.doc_id AS b FROM k x
         |  JOIN k y ON y.doc_id = x.doc_id + $off AND y.hh <> x.hh),
         |pr AS (SELECT a, b FROM mhp UNION ALL SELECT a, b FROM up),
         |pat AS MATERIALIZED (SELECT
         |    CASE WHEN ka.lang = kb.lang THEN 1 ELSE 0 END AS g0,
         |    CASE WHEN ka.source = kb.source THEN 1 ELSE 0 END AS g1,
         |    CASE WHEN floor(CAST(ka.n_chars AS DOUBLE) / 100.0)
         |      = floor(CAST(kb.n_chars AS DOUBLE) / 100.0)
         |      THEN 1 ELSE 0 END AS g2,
         |    count(*) AS n
         |  FROM pr JOIN k ka ON pr.a = ka.doc_id JOIN k kb ON pr.b = kb.doc_id
         |  GROUP BY 1, 2, 3),
         |nn AS MATERIALIZED (SELECT sum(n) AS bn FROM pat),
         |p0 AS (SELECT 0.1 AS p, 0.9 AS m0, 0.9 AS m1, 0.9 AS m2,
         |  0.1 AS u0, 0.1 AS u1, 0.1 AS u2),
         |$steps
         |${out("lang", 0)}
         |UNION ALL
         |${out("source", 1)}
         |UNION ALL
         |${out("len_bucket", 2)}""".stripMargin
    },

    // query-likelihood Dirichlet replay: same posting-list reduction as
    // the BM25 CTEs, the candidate×term grid completed so zero-tf terms
    // contribute their smoothing mass, 6dp-rounded ln terms summed in
    // DECIMAL.
    "ret_ql_dirichlet" -> {
      val terms = PipelineQueries.Bm25Terms.map(t => s"'$t'").mkString(", ")
      val mu = 2000.0
      s"""WITH qex AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |    unnest(string_split(text, ' ')) AS tok FROM documents),
         |qct AS (SELECT CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS ct
         |  FROM documents),
         |qcf AS (SELECT tok, CAST(count(*) AS DOUBLE) AS cf FROM qex
         |  WHERE tok IN ($terms) GROUP BY 1),
         |qtf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM qex WHERE tok IN ($terms) GROUP BY 1, 2, 3),
         |qcand AS (SELECT DISTINCT doc_id, dl FROM qtf),
         |qgrid AS (SELECT qcand.doc_id, qcand.dl, qcf.tok,
         |    qcf.cf / (SELECT ct FROM qct) AS ptc
         |  FROM qcand CROSS JOIN qcf),
         |qsc AS (SELECT g.doc_id,
         |    CAST(round(ln((CAST(coalesce(t.tf, 0) AS DOUBLE) + $mu * g.ptc)
         |      / (CAST(g.dl AS DOUBLE) + $mu)), 6) AS DECIMAL(28,6)) AS term
         |  FROM qgrid g LEFT JOIN qtf t
         |    ON t.doc_id = g.doc_id AND t.tok = g.tok),
         |qagg AS (SELECT doc_id,
         |    CAST(round(CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE)
         |      * 1000000.0) AS BIGINT) AS score_micro
         |  FROM qsc GROUP BY 1)
         |SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank,
         |  score_micro
         |FROM qagg ORDER BY score_micro DESC, doc_id
         |LIMIT ${PipelineQueries.Bm25K}""".stripMargin
    },

    // DP Laplace release replayed: identical seeded 16-bit md5 uniform,
    // identical inverse-CDF arithmetic order.
    "privacy_dp_counts" ->
      s"""WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2),
         |z AS (SELECT lang, source, n,
         |    (CAST(('0x' || substr(md5('dp:'
         |        || length(coalesce(lang, chr(0)))::VARCHAR || ':'
         |        || coalesce(lang, chr(0))
         |        || '|' || length(coalesce(source, chr(0)))::VARCHAR || ':'
         |        || coalesce(source, chr(0))), 1, 4))::BIGINT
         |      AS DOUBLE) * 2 + 1) / 131072.0 - 0.5 AS cen
         |  FROM c)
         |SELECT lang, source, n,
         |  CAST(round((-1.0) * sign(cen) * ln(1.0 - 2.0 * abs(cen))
         |    * 1000000.0) AS BIGINT) AS noise_micro,
         |  CAST(round((CAST(n AS DOUBLE)
         |    + (-1.0) * sign(cen) * ln(1.0 - 2.0 * abs(cen)))
         |    * 1000000.0) AS BIGINT) AS n_dp_micro
         |FROM z""".stripMargin,

    // personalized PageRank replay over the LSH→kNN graph: per
    // iteration a seed-directed dangling CTE and the seed-restart
    // update in the same fixed double order.
    "graph_ppr" -> {
      val d = graft.ops.GraphOps.DefaultDamping
      val iters = graft.ops.GraphOps.DefaultIters
      val steps = (1 to iters).map { i =>
        s"""pdm$i AS MATERIALIZED (SELECT CAST(coalesce(sum(CAST(r.rank AS DECIMAL(28,12))), 0)
           |    AS DECIMAL(28,12)) AS dm
           |  FROM pr${i - 1} r LEFT JOIN pod ON pod.src = r.node
           |  WHERE pod.src IS NULL),
           |pc$i AS MATERIALIZED (SELECT pdir.dst AS node,
           |    sum(CAST(round(r.rank / pod.outdeg, 6) AS DECIMAL(28,12))) AS s
           |  FROM pdir JOIN pod ON pod.src = pdir.src
           |  JOIN pr${i - 1} r ON r.node = pdir.src
           |  GROUP BY pdir.dst),
           |pr$i AS MATERIALIZED (SELECT n.node, n.is_seed,
           |    round(CAST(n.is_seed AS DOUBLE) * ((1.0 - $d) / (SELECT ns FROM pns)
           |        + $d * CAST((SELECT dm FROM pdm$i) AS DOUBLE) / (SELECT ns FROM pns))
           |      + $d * CAST(coalesce(pc$i.s, 0) AS DOUBLE), 6) AS rank
           |  FROM pnodes n LEFT JOIN pc$i ON pc$i.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $normCte,
         |${lshAutoCtes(PipelineQueries.TriangleCos)},
         |parcs AS (SELECT vec_a AS src, vec_b AS dst, cos_sim AS c FROM lp
         |  UNION ALL SELECT vec_b, vec_a, cos_sim FROM lp),
         |pknn AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY c DESC, dst) AS rk
         |  FROM parcs) WHERE rk <= ${PipelineQueries.BfsKnnK}),
         |pdir AS MATERIALIZED (SELECT DISTINCT src, dst FROM pknn),
         |pnodes AS MATERIALIZED (SELECT node,
         |    CASE WHEN node % ${PipelineQueries.BfsSourceMod} = 0
         |      THEN 1 ELSE 0 END AS is_seed
         |  FROM (SELECT src AS node FROM pdir
         |        UNION SELECT dst AS node FROM pdir)),
         |pns AS (SELECT CAST(sum(is_seed) AS DOUBLE) AS ns FROM pnodes),
         |pod AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM pdir GROUP BY src),
         |pr0 AS MATERIALIZED (SELECT node, is_seed,
         |    round(CAST(is_seed AS DOUBLE) / (SELECT ns FROM pns), 6) AS rank
         |  FROM pnodes),
         |$steps
         |SELECT node, CAST(is_seed AS BIGINT) AS is_seed, rank
         |FROM pr$iters""".stripMargin
    },

    // Heaps-law replay: the same 32-checkpoint reduction (per-bucket
    // token sums + first-occurrence vocabulary counts), ROWS-frame
    // cumulatives over the bucket frame, micro-rounded logs, HUGEINT
    // sums, one fixed double order for slope and intercept.
    "text_heaps_law" ->
      s"""WITH hm AS (SELECT max(doc_id) AS mx FROM documents),
         |hb AS (SELECT doc_id, text,
         |    (doc_id * 32) // ((SELECT mx FROM hm) + 1) AS bkt FROM documents),
         |htk AS (SELECT bkt, sum(len(string_split(text, ' '))) AS tk
         |  FROM hb GROUP BY 1),
         |hfv AS (SELECT tok, min(bkt) AS bkt FROM
         |    (SELECT bkt, unnest(string_split(text, ' ')) AS tok FROM hb)
         |  GROUP BY tok),
         |hnv AS (SELECT bkt, count(*) AS nv FROM hfv GROUP BY 1),
         |hcum AS (SELECT bkt,
         |    sum(coalesce(tk, 0)) OVER (ORDER BY bkt
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nn,
         |    sum(coalesce(nv, 0)) OVER (ORDER BY bkt
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vv
         |  FROM htk FULL OUTER JOIN hnv USING (bkt)),
         |hpts AS (SELECT
         |    CAST(round(ln(CAST(nn AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
         |    CAST(round(ln(CAST(vv AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
         |  FROM hcum WHERE nn > 0 AND vv > 0),
         |hagg AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx
         |  FROM hpts)
         |SELECT n_points,
         |  CASE WHEN n_points < 2 THEN 0 ELSE
         |    CAST(floor((CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * 1000000.0) AS BIGINT) END AS beta_micro,
         |  CASE WHEN n_points < 2 THEN 0 ELSE
         |    CAST(floor((CAST(sy AS DOUBLE)
         |      - (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |        / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |        * CAST(sx AS DOUBLE))
         |      / CAST(n_points AS DOUBLE)) AS BIGINT) END AS lnk_micro
         |FROM hagg""".stripMargin,

    // quantile normalization replayed: per-source midrank bucket and
    // pooled order-statistic targets in the same pure-integer formulas.
    "mix_quantile_norm" ->
      s"""WITH r AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v,
         |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rr,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
         |sp AS (SELECT v, count(*) AS c FROM r GROUP BY 1),
         |spc AS (SELECT v, sum(c) OVER (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sp),
         |nt AS (SELECT count(*) AS n FROM r),
         |bk AS (SELECT b, ((2 * b + 1) * (SELECT n FROM nt) + 199) // 200 AS t
         |  FROM (SELECT unnest(range(0, 100)) AS b)),
         |dim AS (SELECT bk.b AS q_bucket, min(spc.v) AS norm
         |  FROM bk JOIN spc ON spc.cum >= bk.t GROUP BY 1)
         |SELECT r.doc_id, r.source, r.v AS n_chars,
         |  ((2 * rr - 1) * 100) // (2 * n) AS q_bucket, dim.norm
         |FROM r JOIN dim ON dim.q_bucket = ((2 * rr - 1) * 100) // (2 * n)""".stripMargin,

    // Simpson card replayed: the same cells + pooled union, exact sums
    // cast to DOUBLE for the micro means, pooled sign via subquery.
    "dq_simpson" -> {
      val a = PipelineQueries.KmvSrcA
      val b = PipelineQueries.KmvSrcB
      s"""WITH cells AS (SELECT lang AS stratum,
         |    sum(CASE WHEN source = '$a' THEN 1 ELSE 0 END) AS n_a,
         |    sum(CASE WHEN source = '$b' THEN 1 ELSE 0 END) AS n_b,
         |    sum(CASE WHEN source = '$a' THEN CAST(n_chars AS HUGEINT) ELSE 0 END) AS s_a,
         |    sum(CASE WHEN source = '$b' THEN CAST(n_chars AS HUGEINT) ELSE 0 END) AS s_b
         |  FROM documents
         |  WHERE lang IS NOT NULL AND source IN ('$a', '$b')
         |    AND n_chars IS NOT NULL
         |  GROUP BY 1),
         |allr AS (SELECT stratum, n_a, n_b, s_a, s_b FROM cells
         |  UNION ALL SELECT '__pooled', sum(n_a), sum(n_b), sum(s_a), sum(s_b)
         |  FROM cells),
         |sc AS (SELECT stratum, CAST(n_a AS BIGINT) AS n_a,
         |    CAST(n_b AS BIGINT) AS n_b,
         |    CASE WHEN n_a > 0 THEN CAST(round(CAST(s_a AS DOUBLE)
         |      / CAST(n_a AS DOUBLE) * 1000000.0) AS BIGINT) END AS mean_a_micro,
         |    CASE WHEN n_b > 0 THEN CAST(round(CAST(s_b AS DOUBLE)
         |      / CAST(n_b AS DOUBLE) * 1000000.0) AS BIGINT) END AS mean_b_micro
         |  FROM allr),
         |sd AS (SELECT *, CASE WHEN n_a > 0 AND n_b > 0
         |    THEN mean_a_micro - mean_b_micro END AS diff_micro FROM sc),
         |ps AS (SELECT sign(CAST(diff_micro AS DOUBLE)) AS s FROM sd
         |  WHERE stratum = '__pooled')
         |SELECT stratum, n_a, n_b, mean_a_micro, mean_b_micro, diff_micro,
         |  CAST(CASE WHEN stratum <> '__pooled' AND diff_micro IS NOT NULL
         |    AND sign(CAST(diff_micro AS DOUBLE)) * (SELECT s FROM ps) < 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS reversed
         |FROM sd""".stripMargin
    },

    // ECE bins replayed: the trained-LR chain (same CTEs as the
    // calibration oracle), per-row 6dp-rounded sigmoid summed in
    // DECIMAL, integer gap per bin.
    "quality_ece" -> {
      val iters = graft.ops.ClassifierOps.DefaultIters
      s"""WITH $lrChainCtes,
         |sc AS (SELECT f.doc_id, $lrLogitExpr AS logit_fp, CAST(f.y AS BIGINT) AS yy
         |  FROM f CROSS JOIN w$iters w),
         |eprob AS (SELECT logit_fp, yy,
         |    CAST(round(1.0 / (1.0 + exp(CAST(logit_fp AS DOUBLE)
         |      / (-1000000.0))), 6) AS DECIMAL(18,6)) AS p6
         |  FROM sc),
         |erange AS (SELECT min(logit_fp) AS mn, max(logit_fp) AS mx FROM eprob),
         |ebin AS (SELECT
         |    CAST(CASE WHEN rg.mx > rg.mn THEN
         |      least(floor(round(CAST(e.logit_fp - rg.mn AS DOUBLE)
         |        / CAST(rg.mx - rg.mn AS DOUBLE), 6) * 10), 9.0)
         |      ELSE 0.0 END AS BIGINT) AS bin,
         |    e.yy, e.p6
         |  FROM eprob e CROSS JOIN erange rg)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(round(CAST(sum(yy) AS DOUBLE) / count(*) * 1000000.0) AS BIGINT)
         |    AS frac_pos_micro,
         |  CAST(round(CAST(sum(p6) AS DOUBLE) / count(*) * 1000000.0) AS BIGINT)
         |    AS conf_micro,
         |  abs(CAST(round(CAST(sum(yy) AS DOUBLE) / count(*) * 1000000.0) AS BIGINT)
         |    - CAST(round(CAST(sum(p6) AS DOUBLE) / count(*) * 1000000.0) AS BIGINT))
         |    AS gap_micro
         |FROM ebin GROUP BY bin""".stripMargin
    },

    // Brier + log-loss replayed: same LR chain and sigmoid, per-row
    // 12dp-rounded terms summed in DECIMAL, clamped probabilities.
    "quality_brier" -> {
      val iters = graft.ops.ClassifierOps.DefaultIters
      s"""WITH $lrChainCtes,
         |sc AS (SELECT f.doc_id, $lrLogitExpr AS logit_fp, CAST(f.y AS BIGINT) AS yy
         |  FROM f CROSS JOIN w$iters w),
         |e AS (SELECT yy, round(1.0 / (1.0 + exp(CAST(logit_fp AS DOUBLE)
         |    / (-1000000.0))), 6) AS p FROM sc),
         |t AS (SELECT yy, p,
         |    least(greatest(p, 0.000001), 0.999999) AS pc FROM e),
         |terms AS (SELECT
         |    CAST(round((p - yy) * (p - yy), 12) AS DECIMAL(28,12)) AS bt,
         |    CAST(round(0.0 - (yy * ln(pc) + (1.0 - yy) * ln(1.0 - pc)), 12)
         |      AS DECIMAL(28,12)) AS lt
         |  FROM t)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(round(CAST(sum(bt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    * 1000000.0) AS BIGINT) AS brier_micro,
         |  CAST(round(CAST(sum(lt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    * 1000000.0) AS BIGINT) AS log_loss_micro
         |FROM terms""".stripMargin
    },

    // vocab coverage replayed: global top-K vocab by (count DESC, tok),
    // left-join flag, integer ppm.
    "text_vocab_coverage" ->
      s"""WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |vb AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tk GROUP BY 1)
         |  ORDER BY c DESC, tok LIMIT ${PipelineQueries.VocabCoverageK}),
         |fl AS (SELECT tk.source, tk.tok,
         |    CASE WHEN vb.tok IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tk LEFT JOIN vb ON tk.tok = vb.tok)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(oov) AS BIGINT) AS n_oov,
         |  CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
         |  CAST(count(DISTINCT CASE WHEN oov = 1 THEN tok END) AS BIGINT)
         |    AS n_oov_types,
         |  CAST(sum(oov) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
         |    AS oov_ppm
         |FROM fl GROUP BY source""".stripMargin,

    // Mann-Whitney replayed: doubled tie-averaged ranks from the value
    // spine, HUGEINT rank sums, the tie-corrected normal z in the same
    // fixed double order.
    "dq_mann_whitney" -> {
      val sa = PipelineQueries.KmvSrcA
      val sb = PipelineQueries.KmvSrcB
      s"""WITH s AS (SELECT n_chars AS v,
         |    sum(CASE WHEN source = '$sa' THEN 1 ELSE 0 END) AS ca,
         |    sum(CASE WHEN source = '$sb' THEN 1 ELSE 0 END) AS cb
         |  FROM documents WHERE source IN ('$sa', '$sb') GROUP BY 1),
         |t AS (SELECT v, ca, cb, ca + cb AS t FROM s),
         |r AS (SELECT ca, cb, t,
         |  2 * sum(t) OVER (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t + 1 AS r2
         |  FROM t),
         |a AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b,
         |  sum(CAST(ca AS HUGEINT) * r2) AS r2a,
         |  sum(CAST(t AS HUGEINT) * t * t - t) AS tie3 FROM r),
         |z AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |  CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS VARCHAR) AS u2_a,
         |  CAST(round((CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE)
         |      - CAST(n_a AS DOUBLE) * n_b)
         |    / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0 *
         |      ((CAST(n_a + n_b AS DOUBLE) + 1) - CAST(tie3 AS DOUBLE)
         |        / (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1)))))
         |    * 1000000.0) AS BIGINT) AS z_micro
         |  FROM a)
         |SELECT n_a, n_b, u2_a, z_micro,
         |  abs(z_micro) > 1960000 AS reject FROM z""".stripMargin
    },

    // the degree-capped twin: same label-blocked candidate pairs, both
    // orientations ranked per source by (rounded cosine desc, dst) and
    // cut at BfsKnnK, the kept arcs union-symmetrized (bfsHops'
    // internal union), then the same recursive reach.
    "graph_bfs_knn" ->
      s"""WITH RECURSIVE $normCte,
         |${lshAutoCtes(PipelineQueries.TriangleCos)},
         |arcs AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst, cos_sim AS c FROM lp
         |  UNION ALL SELECT vec_b, vec_a, cos_sim FROM lp),
         |knn AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY c DESC, dst) AS rk
         |  FROM arcs) WHERE rk <= ${PipelineQueries.BfsKnnK}),
         |g AS MATERIALIZED (SELECT src, dst FROM knn
         |  UNION SELECT dst AS src, src AS dst FROM knn),
         |s AS (SELECT vec_id AS node FROM embeddings
         |  WHERE vec_id % ${PipelineQueries.BfsSourceMod} = 0),
         |r AS (SELECT node, 0 AS hop FROM s
         |  UNION
         |  SELECT g.dst AS node, r.hop + 1 AS hop
         |  FROM r JOIN g ON g.src = r.node
         |  WHERE r.hop < ${PipelineQueries.BfsMaxHops})
         |SELECT node, CAST(min(hop) AS BIGINT) AS hop
         |FROM r GROUP BY node""".stripMargin,

    // trained centroids replayed, then the FULL squared distance
    // (|x|² restored) with the (d2, cell) argmin.
    "sim_ood_distance" ->
      s"""WITH $kmeansCtes,
         |d AS (SELECT emb.vec_id, c${PipelineQueries.KmeansIters}.cell,
         |    round(list_dot_product(emb.e, emb.e)
         |      + list_dot_product(c${PipelineQueries.KmeansIters}.c,
         |          c${PipelineQueries.KmeansIters}.c)
         |      - 2.0 * list_dot_product(emb.e,
         |          c${PipelineQueries.KmeansIters}.c), 6) AS d2
         |  FROM emb CROSS JOIN c${PipelineQueries.KmeansIters}),
         |r AS (SELECT vec_id, cell, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell)
         |      AS rk FROM d)
         |SELECT vec_id, cell, d2 FROM r WHERE rk = 1""".stripMargin,

    // sparse TF-IDF cosine replay: same shingle tf/df, same max_df
    // prune, decimal weights summed exactly, the one double step (the
    // final ratio) computed and micro-rounded identically.
    "sim_sparse_cosine" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
         |  FROM t WHERE len(toks) >= 3),
         |tf AS (SELECT doc_id, gram, count(*) AS tf FROM g GROUP BY 1, 2),
         |df AS (SELECT gram, count(*) AS df FROM tf GROUP BY 1
         |  HAVING count(*) <= ${PipelineQueries.SparseMaxDf}),
         |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         |w AS (SELECT * FROM (SELECT tf.doc_id, tf.gram,
         |    CAST(round(tf.tf * ln(n_docs / CAST(df.df AS DOUBLE)), 6)
         |      AS DECIMAL(18,6)) AS w
         |  FROM tf JOIN df USING (gram) CROSS JOIN nd) WHERE w <> 0),
         |nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
         |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    sum(a.w * b.w) AS dot
         |  FROM w a JOIN w b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(round(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |    * 1e6, 0) AS BIGINT) AS cos_micro
         |FROM dots JOIN nrm na ON dots.doc_a = na.doc_id
         |JOIN nrm nb ON dots.doc_b = nb.doc_id
         |WHERE CAST(round(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |    * 1e6, 0) AS BIGINT) >= ${PipelineQueries.SparseMinCosMicro}"""
      .stripMargin,

    // the capped sparse-cosine surface: the same tf/df/weight/dot
    // chain, then a pair survives iff it ranks within EITHER endpoint's
    // k best partners (cosine desc, partner-id tiebreak), normalized
    // undirected — the dedup_jaro_topk replay on the sparse axis.
    "sim_sparse_topk" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
         |  FROM t WHERE len(toks) >= 3),
         |tf AS (SELECT doc_id, gram, count(*) AS tf FROM g GROUP BY 1, 2),
         |df AS (SELECT gram, count(*) AS df FROM tf GROUP BY 1
         |  HAVING count(*) <= ${PipelineQueries.SparseMaxDf}),
         |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         |w AS (SELECT * FROM (SELECT tf.doc_id, tf.gram,
         |    CAST(round(tf.tf * ln(n_docs / CAST(df.df AS DOUBLE)), 6)
         |      AS DECIMAL(18,6)) AS w
         |  FROM tf JOIN df USING (gram) CROSS JOIN nd) WHERE w <> 0),
         |nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
         |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    sum(a.w * b.w) AS dot
         |  FROM w a JOIN w b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT doc_a, doc_b,
         |  CAST(round(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |    * 1e6, 0) AS BIGINT) AS cos_micro
         |FROM dots JOIN nrm na ON dots.doc_a = na.doc_id
         |JOIN nrm nb ON dots.doc_b = nb.doc_id
         |WHERE CAST(round(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |    * 1e6, 0) AS BIGINT) >= ${PipelineQueries.SparseMinCosMicro}),
         |arcs AS (SELECT doc_a AS q, doc_b AS o, cos_micro FROM p
         |  UNION ALL SELECT doc_b, doc_a, cos_micro FROM p),
         |r AS (SELECT q, o, cos_micro,
         |    row_number() OVER (PARTITION BY q ORDER BY cos_micro DESC, o)
         |      AS rn FROM arcs)
         |SELECT DISTINCT least(q, o) AS doc_a, greatest(q, o) AS doc_b,
         |  cos_micro
         |FROM r WHERE rn <= ${PipelineQueries.SparseTopKPerDoc}"""
        .stripMargin,

    // the shared LF CTEs rolled to per-pair sufficient statistics in
    // one aggregation, κ from exact integers via identical double
    // arithmetic + integer floor.
    "weak_kappa" -> {
      val pairs = Seq((0, 1), (0, 2), (1, 2))
      val sums = pairs.flatMap { case (a, b) =>
        Seq(
          s"sum(CASE WHEN v$a >= 0 AND v$b >= 0 THEN 1 ELSE 0 END) AS n$a$b",
          s"sum(CASE WHEN v$a >= 0 AND v$b >= 0 AND v$a = v$b THEN 1 ELSE 0 END) AS ag$a$b",
          s"sum(CASE WHEN v$a >= 0 AND v$b >= 0 AND v$a = 1 THEN 1 ELSE 0 END) AS a1$a$b",
          s"sum(CASE WHEN v$a >= 0 AND v$b >= 0 AND v$b = 1 THEN 1 ELSE 0 END) AS b1$a$b")
      }.mkString(",\n    ")
      val branches = pairs.map { case (a, b) =>
        val (n, ag, a1, b1) = (s"n$a$b", s"ag$a$b", s"a1$a$b", s"b1$a$b")
        val po = s"CAST($ag AS DOUBLE) / CAST($n AS DOUBLE)"
        val pe = s"CAST($a1 * $b1 + ($n - $a1) * ($n - $b1) AS DOUBLE) / CAST($n * $n AS DOUBLE)"
        s"""SELECT CAST($a AS BIGINT) AS lf_a, CAST($b AS BIGINT) AS lf_b,
           |  CAST($n AS BIGINT) AS n_both, CAST($ag AS BIGINT) AS n_agree,
           |  CAST(CASE WHEN $n = 0 THEN 0
           |       WHEN 1.0 - ($pe) = 0.0 THEN 1000000
           |       ELSE floor((($po) - ($pe)) / (1.0 - ($pe)) * 1000000.0)
           |       END AS BIGINT) AS kappa_micro
           |FROM k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $weakLfCtes,
         |k AS (SELECT
         |    $sums
         |  FROM lf)
         |$branches""".stripMargin
    },

    // two-phase exact selection's answer is the k-th value of the
    // sorted multiset — bin-placement-independent, so the oracle is a
    // plain rank lookup.
    "a14_exact_median" ->
      """WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
        |s AS (SELECT value, row_number() OVER (ORDER BY value) - 1 AS rk
        |  FROM v),
        |c AS (SELECT count(*) AS n FROM v)
        |SELECT CAST(c.n AS BIGINT) AS n, CAST((c.n - 1) // 2 AS BIGINT) AS k,
        |  s.value AS kth
        |FROM c JOIN s ON s.rk = (c.n - 1) // 2""".stripMargin,

    // per-source (rank, frequency) micro-ln pairs capped at top-200,
    // exact decimal OLS moments, closed-form slope through identical
    // double arithmetic + integer floor.
    "profile_zipf_slope" ->
      """WITH c AS (SELECT source, tok, count(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2),
        |rk AS (SELECT source, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS r
        |  FROM c),
        |xy AS (SELECT source,
        |    CAST(round(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
        |  FROM rk WHERE r <= 200),
        |m AS (SELECT source, count(*) AS n,
        |    sum(CAST(x AS DECIMAL(28,0))) AS sx,
        |    sum(CAST(y AS DECIMAL(28,0))) AS sy,
        |    sum(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS sxy,
        |    sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_terms,
        |  CAST(CASE WHEN n < 2 THEN 0 ELSE floor(
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * 1000000.0) END AS BIGINT) AS zipf_slope_micro
        |FROM m""".stripMargin,

    // truth = the naive jaccard≥t pairs, candidates = the band buckets;
    // recall joins them and floors the integer-numerator ratio.
    "dedup_lsh_recall" ->
      s"""WITH $bandsCte,
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS c
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b FROM common
         |  JOIN cnt na ON doc_a = na.doc_id
         |  JOIN cnt nb ON doc_b = nb.doc_id
         |  WHERE round(c / CAST(na.n + nb.n - c AS DOUBLE), 6)
         |        >= ${PipelineQueries.SetJoinThreshold}),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
         |tc AS (SELECT count(*) AS n_true FROM truth),
         |cc AS (SELECT count(*) AS n_cand FROM cand),
         |hc AS (SELECT count(*) AS n_hit
         |  FROM truth JOIN cand USING (doc_a, doc_b))
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(CASE WHEN n_true = 0 THEN 0
         |       ELSE floor(CAST(n_hit AS DOUBLE) * 1000000.0
         |                  / CAST(n_true AS DOUBLE)) END AS BIGINT)
         |    AS recall_micro
         |FROM tc, cc, hc""".stripMargin,

    // the KN tercile chain + the seeded draw fused into one sort key;
    // the binned global row number replays as a plain row_number.
    "mix_curriculum_order" ->
      s"""WITH $knScoreCtes,
         |sc AS (SELECT kns.doc_id, d.lang,
         |    CAST(floor(CAST(-kn_sum_micro AS DOUBLE) /
         |      CAST(n_bigrams AS DOUBLE)) AS BIGINT) AS nll_micro
         |  FROM kns JOIN documents d ON d.doc_id = kns.doc_id),
         |nt AS (SELECT doc_id, lang, nll_micro,
         |    ntile(3) OVER (PARTITION BY lang ORDER BY nll_micro, doc_id)
         |      AS tercile
         |  FROM sc),
         |ky AS (SELECT doc_id, lang, CAST(tercile AS BIGINT) AS tercile,
         |    CAST(tercile AS BIGINT) * 4294967296 +
         |    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      AS ck
         |  FROM nt)
         |SELECT doc_id, lang, tercile,
         |  CAST(row_number() OVER (ORDER BY ck, doc_id) AS BIGINT) AS pos
         |FROM ky""".stripMargin,

    // MI cells replayed: margins from the one cell aggregation, the
    // same fixed-order (p·ln) term, e-12 rounded per cell.
    "profile_mutual_info" ->
      """WITH cells AS (SELECT lang AS va, source AS vb, count(*) AS n_xy
        |  FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |ra AS (SELECT va, sum(n_xy) AS c_x FROM cells GROUP BY 1),
        |cb AS (SELECT vb, sum(n_xy) AS c_y FROM cells GROUP BY 1),
        |tot AS (SELECT sum(n_xy) AS n FROM cells)
        |SELECT va, vb, CAST(n_xy AS BIGINT) AS n_xy,
        |  CAST(round((CAST(n_xy AS DOUBLE) / n) *
        |    ln(CAST(n_xy AS DOUBLE) * n / (CAST(c_x AS DOUBLE) * c_y)) *
        |    1000000000000.0) AS BIGINT) AS mi_term_e12
        |FROM cells JOIN ra USING (va) JOIN cb USING (vb) CROSS JOIN tot""".stripMargin,

    // Gini replayed: the same ascending (count, token) rank over the
    // vocab spine and the folded integer identity, HUGEINT-exact,
    // micro-floored by integer division.
    "profile_gini" ->
      """WITH tc AS (SELECT source, tok, count(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |r AS (SELECT source, c,
        |  row_number() OVER (PARTITION BY source ORDER BY c, tok) AS i FROM tc),
        |a AS (SELECT source, count(*) AS n_items,
        |  sum(CAST(c AS HUGEINT)) AS sc, sum(CAST(i AS HUGEINT) * c) AS sic
        |  FROM r GROUP BY 1)
        |SELECT source, CAST(n_items AS BIGINT) AS n_items,
        |  CAST(((2 * sic - (n_items + 1) * sc) * 1000000)
        |    // (CAST(n_items AS HUGEINT) * sc) AS BIGINT) AS gini_micro
        |FROM a""".stripMargin,

    // Theil-Sen replayed as the per-user pair self-join (bounded by the
    // events-per-key contract), identical slope op order, lower median
    // by position.
    "ts_theil_sen" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, value AS v FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |n AS (SELECT user_id, count(*) AS n_pts FROM e GROUP BY 1),
        |p AS (SELECT a.user_id, (b.v - a.v) / ((b.t - a.t) / 1000000.0) AS s
        |  FROM e a JOIN e b ON a.user_id = b.user_id AND b.t > a.t),
        |r AS (SELECT user_id, s,
        |  row_number() OVER (PARTITION BY user_id ORDER BY s) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n_pairs FROM p)
        |SELECT r.user_id, CAST(n.n_pts AS BIGINT) AS n_pts,
        |  CAST(r.n_pairs AS BIGINT) AS n_pairs,
        |  CAST(round(r.s * 1000000.0) AS BIGINT) AS slope_micro
        |FROM r JOIN n USING (user_id) WHERE rn = (n_pairs + 1) // 2""".stripMargin,

    // SAX replayed: same row_number/count windows, 6dp-DECIMAL moments,
    // fixed-order mean/σ/PAA-z, the standard 4-symbol breakpoints, word
    // by ordered string_agg.
    "ts_sax" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id AS tie, value AS v
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
         |b AS (SELECT user_id, CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) AS v6,
         |  row_number() OVER (PARTITION BY user_id ORDER BY t, tie) AS i,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM e),
         |s AS (SELECT user_id, v6,
         |  CAST(floor(CAST(i - 1 AS DOUBLE) * ${PipelineQueries.SaxSegments} / n)
         |    AS INTEGER) AS seg FROM b),
         |segs AS (SELECT user_id, seg, sum(v6) AS s1, count(*) AS c
         |  FROM s GROUP BY 1, 2),
         |mom AS (SELECT user_id, count(*) AS n_pts, sum(v6) AS m1,
         |  sum(v6 * v6) AS m2 FROM s GROUP BY 1),
         |st AS (SELECT user_id, n_pts, CAST(m1 AS DOUBLE) / n_pts AS mean,
         |  CASE WHEN n_pts < 2 THEN 0.0 ELSE sqrt(
         |    (n_pts * CAST(m2 AS DOUBLE) - CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE))
         |    / (n_pts * (n_pts - 1))) END AS sd FROM mom),
         |z AS (SELECT segs.user_id, st.n_pts, segs.seg,
         |  CASE WHEN sd <= 0 THEN 0.0
         |    ELSE (CAST(s1 AS DOUBLE) / c - mean) / sd END AS pz
         |  FROM segs JOIN st ON segs.user_id = st.user_id),
         |sym AS (SELECT user_id, n_pts, seg,
         |  CASE WHEN pz < -0.6745 THEN 'a' WHEN pz < 0.0 THEN 'b'
         |    WHEN pz < 0.6745 THEN 'c' ELSE 'd' END AS sym FROM z)
         |SELECT user_id, CAST(n_pts AS BIGINT) AS n_pts,
         |  string_agg(sym, '' ORDER BY seg) AS sax_word
         |FROM sym GROUP BY user_id, n_pts""".stripMargin,

    // ROUGE replayed: per-order TF tables, the (doc+1, gram) clipped
    // join, identical P/R/F guards and micro rounding.
    // BLEU-4 replayed: four clipped-overlap joins, the same left-assoc
    // ln sum, the same BP branch.
    "eval_bleu" -> {
      def gram(n: Int): String =
        if (n == 1) "SELECT doc_id, unnest(toks) AS g FROM t"
        else {
          val parts = (0 until n).map(k => s"toks[i + $k]").mkString(" || ' ' || ")
          s"""SELECT doc_id, $parts AS g
             |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - ${n - 2})) AS i FROM t)""".stripMargin
        }
      val tfo = (1 to 4).map(n =>
        s"""g$n AS (${gram(n)}),
           |tf$n AS (SELECT doc_id, g, count(*) AS tf FROM g$n GROUP BY 1, 2),
           |o$n AS (SELECT c.doc_id AS cand_id, sum(least(c.tf, r.tf)) AS ov$n
           |  FROM tf$n c JOIN tf$n r ON c.doc_id + 1 = r.doc_id AND c.g = r.g
           |  GROUP BY 1)""".stripMargin).mkString(",\n")
      def tot(n: Int) = s"greatest(clen - ${n - 1}, 0)"
      def p(n: Int) = s"(CAST(ov$n AS DOUBLE) / CAST(${tot(n)} AS DOUBLE))"
      val allPos = (1 to 4).map(n => s"ov$n > 0 AND ${tot(n)} > 0").mkString(" AND ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |$tfo,
         |sp AS (SELECT c.doc_id AS cand_id,
         |    CAST(len(c.toks) AS BIGINT) AS clen,
         |    CAST(len(r.toks) AS BIGINT) AS rlen
         |  FROM t c JOIN t r ON r.doc_id = c.doc_id + 1),
         |j AS (SELECT cand_id, clen, rlen,
         |    ${(1 to 4).map(n => s"CAST(coalesce(ov$n, 0) AS BIGINT) AS ov$n").mkString(", ")}
         |  FROM sp ${(1 to 4).map(n => s"LEFT JOIN o$n USING (cand_id)").mkString(" ")}),
         |f AS (SELECT *,
         |    CASE WHEN clen >= rlen THEN 1.0
         |      WHEN clen = 0 THEN 0.0
         |      ELSE exp(1.0 - CAST(rlen AS DOUBLE) / CAST(clen AS DOUBLE)) END AS bp
         |  FROM j)
         |SELECT cand_id, cand_id + 1 AS ref_id, ov1, ov2, ov3, ov4,
         |  CAST(round(bp * 1000000.0) AS BIGINT) AS bp_micro,
         |  CAST(round(CASE WHEN $allPos
         |    THEN bp * exp((ln(${p(1)}) + ln(${p(2)}) + ln(${p(3)}) + ln(${p(4)})) * 0.25)
         |    ELSE 0.0 END * 1000000.0) AS BIGINT) AS bleu_micro
         |FROM f""".stripMargin
    },

    "eval_rouge" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |u AS (SELECT doc_id, unnest(toks) AS g FROM t),
        |tf1 AS (SELECT doc_id, g, count(*) AS tf FROM u GROUP BY 1, 2),
        |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
        |tf2 AS (SELECT doc_id, g, count(*) AS tf FROM bg GROUP BY 1, 2),
        |o1 AS (SELECT c.doc_id AS cand_id, sum(least(c.tf, r.tf)) AS ov1
        |  FROM tf1 c JOIN tf1 r ON c.doc_id + 1 = r.doc_id AND c.g = r.g
        |  GROUP BY 1),
        |o2 AS (SELECT c.doc_id AS cand_id, sum(least(c.tf, r.tf)) AS ov2
        |  FROM tf2 c JOIN tf2 r ON c.doc_id + 1 = r.doc_id AND c.g = r.g
        |  GROUP BY 1),
        |sp AS (SELECT c.doc_id AS cand_id,
        |    CAST(len(c.toks) AS BIGINT) AS tot1_c,
        |    CAST(greatest(len(c.toks) - 1, 0) AS BIGINT) AS tot2_c,
        |    CAST(len(r.toks) AS BIGINT) AS tot1_r,
        |    CAST(greatest(len(r.toks) - 1, 0) AS BIGINT) AS tot2_r
        |  FROM t c JOIN t r ON r.doc_id = c.doc_id + 1),
        |j AS (SELECT cand_id, tot1_c, tot2_c, tot1_r, tot2_r,
        |    CAST(coalesce(ov1, 0) AS BIGINT) AS ov1,
        |    CAST(coalesce(ov2, 0) AS BIGINT) AS ov2
        |  FROM sp LEFT JOIN o1 USING (cand_id) LEFT JOIN o2 USING (cand_id)),
        |f AS (SELECT cand_id, ov1, ov2, tot2_c, tot2_r,
        |    CASE WHEN tot1_c > 0 THEN CAST(ov1 AS DOUBLE) / tot1_c ELSE 0.0 END AS p1,
        |    CASE WHEN tot1_r > 0 THEN CAST(ov1 AS DOUBLE) / tot1_r ELSE 0.0 END AS r1
        |  FROM j)
        |SELECT cand_id, cand_id + 1 AS ref_id, ov1,
        |  CAST(round(p1 * 1000000.0) AS BIGINT) AS r1_p_micro,
        |  CAST(round(r1 * 1000000.0) AS BIGINT) AS r1_r_micro,
        |  CAST(round(CASE WHEN ov1 > 0 THEN 2.0 * p1 * r1 / (p1 + r1)
        |    ELSE 0.0 END * 1000000.0) AS BIGINT) AS r1_f_micro,
        |  ov2,
        |  CAST(round(CASE WHEN ov2 > 0 THEN
        |      2.0 * (CASE WHEN tot2_c > 0 THEN CAST(ov2 AS DOUBLE) / tot2_c ELSE 0.0 END)
        |        * (CASE WHEN tot2_r > 0 THEN CAST(ov2 AS DOUBLE) / tot2_r ELSE 0.0 END)
        |        / ((CASE WHEN tot2_c > 0 THEN CAST(ov2 AS DOUBLE) / tot2_c ELSE 0.0 END)
        |          + (CASE WHEN tot2_r > 0 THEN CAST(ov2 AS DOUBLE) / tot2_r ELSE 0.0 END))
        |    ELSE 0.0 END * 1000000.0) AS BIGINT) AS r2_f_micro
        |FROM f""".stripMargin,

    // distinct-n replayed over the same unfiltered token/bigram
    // relations, identical ratio op order.
    "text_distinct_n" ->
      """WITH u AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |uc AS (SELECT source, tok, count(*) AS c FROM u GROUP BY 1, 2),
        |ua AS (SELECT source, sum(c) AS n_uni, count(*) AS n_uni_distinct
        |  FROM uc GROUP BY 1),
        |t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT source, toks[i] || ' ' || toks[i + 1] AS g
        |  FROM (SELECT source, toks, unnest(range(1, len(toks))) AS i FROM t)),
        |bc AS (SELECT source, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |ba AS (SELECT source, sum(c) AS n_bi, count(*) AS n_bi_distinct
        |  FROM bc GROUP BY 1)
        |SELECT ua.source, CAST(n_uni AS BIGINT) AS n_uni,
        |  CAST(n_uni_distinct AS BIGINT) AS n_uni_distinct,
        |  CAST(CASE WHEN n_uni > 0 THEN
        |    round(CAST(n_uni_distinct AS DOUBLE) / n_uni * 1000000.0)
        |    ELSE 0.0 END AS BIGINT) AS d1_micro,
        |  CAST(coalesce(n_bi, 0) AS BIGINT) AS n_bi,
        |  CAST(coalesce(n_bi_distinct, 0) AS BIGINT) AS n_bi_distinct,
        |  CAST(CASE WHEN coalesce(n_bi, 0) > 0 THEN
        |    round(CAST(n_bi_distinct AS DOUBLE) / n_bi * 1000000.0)
        |    ELSE 0.0 END AS BIGINT) AS d2_micro
        |FROM ua LEFT JOIN ba ON ua.source = ba.source""".stripMargin,

    // A-ES reservoir replayed: the same md5 draw (2h+1)/2·65536, the
    // same ln(u)/w key, top-k per stratum by (score desc, key).
    "sample_weighted_reservoir" ->
      s"""WITH d AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS w,
         |    ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
         |        * 2 + 1 AS DOUBLE) / 131072.0)
         |      / CAST(n_chars AS DOUBLE) AS score
         |  FROM documents WHERE n_chars > 0),
         |r AS (SELECT source AS stratum, doc_id AS key, w AS weight, score,
         |  row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id)
         |    AS rk FROM d)
         |SELECT stratum, key, weight,
         |  CAST(round(score * 1000000000.0) AS BIGINT) AS score_e9,
         |  CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= ${PipelineQueries.ReservoirK}""".stripMargin,

    // proximity replayed: 1-based positions (offsets cancel in gaps),
    // per-doc min gap + adjacency count, same (gap, id) top-k.
    "ret_proximity" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(toks) AS tok,
         |  generate_subscripts(toks, 1) AS p FROM t),
         |pa AS (SELECT doc_id, p AS pa FROM p
         |  WHERE tok = '${PipelineQueries.ProximityTermA}'),
         |pb AS (SELECT doc_id, p AS pb FROM p
         |  WHERE tok = '${PipelineQueries.ProximityTermB}'),
         |g AS (SELECT pa.doc_id, min(abs(pa - pb)) AS min_gap,
         |    sum(CASE WHEN pb - pa = 1 THEN 1 ELSE 0 END) AS phrase_hits
         |  FROM pa JOIN pb USING (doc_id) GROUP BY 1)
         |SELECT doc_id, CAST(min_gap AS BIGINT) AS min_gap,
         |  CAST(phrase_hits AS BIGINT) AS phrase_hits,
         |  CAST(row_number() OVER (ORDER BY min_gap, doc_id) AS BIGINT) AS rank
         |FROM g ORDER BY min_gap, doc_id
         |LIMIT ${PipelineQueries.ProximityK}""".stripMargin
  )
}
