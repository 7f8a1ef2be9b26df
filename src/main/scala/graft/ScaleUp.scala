package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-up measurement tool: writes an N× synthetic copy of an sf dir
  * (ids offset per copy so joins/dedup keys stay consistent and no
  * cross-copy duplicates appear), then benches the named queries on both
  * the original and the scaled dir — the evidence PLANS.md's "measured
  * scaling" table reports. Usage:
  *
  *   runMain graft.ScaleUp [factor] [query ...]
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_SCALE_OUT
  * (default /tmp/graft_scaleup), SPARK_GRAFT_CPUS (default 4, via
  * [[GraftSession.local]]). Each query's result is produced into the
  * `noop` sink through [[SparkEntry.produce]]. Unknown query names fail
  * before any data is written; a query that fails at either scale
  * prints FAILED.
  */
object ScaleUp {

  /** Tables and the id-ish long columns to offset per copy. String keys
    * (doc md5s, uuids) get a copy suffix via the listed string columns so
    * exact-dedup keys stay distinct across copies.
    */
  val idCols: Map[String, Seq[String]] = Map(
    "region" -> Seq.empty, // dims: copied once, not scaled
    "nation" -> Seq.empty,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Text columns that must vary per copy so content-hash dedup does not
    * collapse the copies into one cluster. The per-copy transform
    * TRANSLATES the vocabulary (suffix on every token) instead of
    * appending a tag: an appended token leaves copies ~0.94-Jaccard
    * near-dups of their originals, which inflates similarity-join output
    * QUADRATICALLY in the copy count — a data artifact, not engine cost.
    * Vocabulary translation keeps every within-copy dup relationship and
    * makes cross-copy similarity zero: N× data, same dup-rate.
    */
  val textCols: Map[String, Seq[String]] = Map("documents" -> Seq("text"))

  /** Embedding columns that must vary per copy, for the same reason as
    * [[textCols]]: a verbatim-copied vector is a cross-copy EXACT
    * duplicate (cosine 1.0), so every similarity-graph operator sees its
    * edge set grow ×copies² instead of ×copies — 11× wall time at
    * factor 10 on graph_bfs_hops with verbatim copies, a data artifact,
    * not engine cost. The per-copy transform is an ORTHOGONAL map
    * composed of a circular shift by (copy mod dim) and a sign-flip
    * mask drawn from xxhash64(copy div dim, dim-index) — within-copy
    * dot products (hence all cosines, distances, and cluster
    * structure) are EXACTLY preserved (±1 factors square away; the
    * shift permutes), while cross-copy alignment is destroyed: two
    * copies share a transform only when BOTH the shift and the mask
    * group coincide, i.e. only at the same copy index — so any factor
    * gets a distinct isometry (a shift alone would repeat verbatim at
    * copy ≡ copy′ (mod dim), capping the factor at ×64).
    * ScaleUpSpec measures the worst surviving cross-copy cosine.
    */
  val vecCols: Map[String, Seq[String]] = Map("embeddings" -> Seq("embedding"))

  /** Copy `c`'s orthogonal embedding transform: with mask group
    * q = c div dim, circular-shift by (c + 17·q) mod dim, then flip
    * the sign of dimension i iff xxhash64(q, i) is odd — a ±1 diagonal
    * times a cyclic permutation, so |v|, all within-copy dots, and
    * hence every cosine/distance/cluster relation are preserved (the
    * ±1 factors square away; the permutation only reorders the dot's
    * additions), while two DIFFERENT copies always relate by a
    * non-trivial isometry: within a group the shifts differ (copies
    * 1..dim−1 are plain shifts COMPOSED with the one fixed group-0
    * mask — the mask is applied in every group, group 0 included, so
    * no copy is shift-only); across groups the masks differ AND the
    * 17·q offset de-phases the shifts, because a mask alone
    * decorrelates this data's embeddings too weakly (measured on
    * sf0.01 same-origin images: mean cross-copy |cos| ≈ 0.21 mask-only
    * vs ≈ 0.10 shift+mask — the same ≈ 0.10 as shift-only pairs within
    * a group, so cross-group copies are exactly as decorrelated as
    * in-group ones). Copy 0 is the IDENTITY, matching [[scaleTable]], which
    * leaves the c = 0 copy untransformed — so identity-vs-copy is the
    * relation any (0, b) comparison exercises. Distinctness at ANY
    * factor: (shift, mask) = ((c + 17q) mod dim, q) collides only for
    * equal q and equal c mod dim, i.e. equal c.
    */
  def shiftFlip(v: Column, c: Int): Column = {
    if (c == 0) return v
    val dim = size(v)
    val grp = floor(lit(c).cast("double") / dim.cast("double")).cast("long")
    val sh = pmod(lit(c) + lit(17L) * grp, dim.cast("long")).cast("int")
    val shifted = concat(
      slice(v, sh + 1, dim - sh),
      slice(v, lit(1), sh))
    transform(shifted, (x, i) =>
      when(pmod(xxhash64(grp, i), lit(2)) === 1, -x).otherwise(x))
  }

  def scaleTable(df: DataFrame, name: String, factor: Int): DataFrame = {
    val ids = idCols.getOrElse(name, Seq.empty)
    if (ids.isEmpty) df
    else {
      // offset = copy × (max_id + 1): one tiny agg per table, computed
      // once at write time (this is a data-gen tool, not a query path)
      val maxAll =
        if (ids.length == 1) col(ids.head) else greatest(ids.map(col): _*)
      // cast-to-long inside the agg (an Int id column would CCE on
      // getLong) and default an empty table to 0 instead of an NPE
      val base = Option(df.agg(max(maxAll.cast("long"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L) + 1L
      val copies = (0 until factor).map { c =>
        val off = base * c
        val offsetted = ids.foldLeft(df)((d, i) => d.withColumn(i, col(i) + off))
        val texted = textCols.getOrElse(name, Seq.empty).foldLeft(offsetted)((d, t) =>
          if (c == 0) d
          else d.withColumn(t, array_join(
            transform(split(col(t), "\\s+"), w => concat(w, lit(s"v$c"))), " ")))
        vecCols.getOrElse(name, Seq.empty).foldLeft(texted)((d, v) =>
          if (c == 0) d
          else d.withColumn(v, shiftFlip(col(v), c)))
      }
      copies.reduce(_.unionAll(_))
    }
  }

  /** One markdown row of the scale table: seconds at 1× and at the
    * factor, and their ratio. A failed run (None) prints FAILED, never a
    * number, and a ratio is printed only when both runs succeeded.
    */
  def tableRow(q: String, a: Option[Double], b: Option[Double]): String = {
    def secs(t: Option[Double]) = t.fold("FAILED")(x => f"$x%.2fs")
    val ratio = a.zip(b).fold("FAILED") { case (x, y) => f"${y / x}%.1f×" }
    s"| $q | ${secs(a)} | ${secs(b)} | $ratio |"
  }

  /** The scale factor argument (default 10); below 1 fails by name. */
  def parseFactor(args: Seq[String]): Int = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    require(factor >= 1, s"ScaleUp factor must be >= 1, got $factor")
    factor
  }

  def main(args: Array[String]): Unit = {
    val factor = parseFactor(args.toSeq)
    val queries = if (args.length > 1) args.tail.toSeq
      else Seq("q1_pricing_summary", "billing_invoice", "k1_state_machine",
        "dedup_minhash_pairs", "dedup_exact", "w6_global_cumsum",
        "aj3_asof_bucketed", "text_tfidf_topterms", "mix_downsample",
        "cdc_latest", "w4b_quartile_approx", "text_bigrams",
        "dedup_setjoin_exact", "sim_lsh_topk", "pack_sequences")
    // checked before the ×N write, so a typo costs nothing
    val selected = SparkEntry.selectQueries(Some(queries.mkString(",")))
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/graft_scaleup")
    val spark = GraftSession.local()

    // SPARK_GRAFT_SCALE_SKIP_GEN=1 reuses an already-written scaled dir
    // (same factor!) so iterating on one query's plan doesn't pay the
    // full ×N rewrite every run.
    if (!sys.env.get("SPARK_GRAFT_SCALE_SKIP_GEN").contains("1")) {
      idCols.keys.toSeq.sorted.foreach { t =>
        val df = etl.Ingest.table(spark, src, t)
        scaleTable(df, t, factor)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        System.err.println(s"[scaleup] wrote $t ×$factor")
      }
    }

    // a warm-up run, then the min of three; a failed run stops the query
    def bench(dir: String, name: String): Option[Double] = {
      def run() = SparkEntry.produce(name, selected(name)(spark, dir), SparkEntry.noop)
      if (run() < 0) None
      else Some(Seq.fill(3)(run())).filter(_.forall(_ >= 0)).map(_.min)
    }
    println(f"| Query | 1x | ${factor}x | ratio |")
    println("|---|---|---|---|")
    queries.foreach(q => println(tableRow(q, bench(src, q), bench(out, q))))
    spark.stop()
  }
}
