package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import SimilarityOps.cosine

/** The composed higher-order-function forms of the in-block pair
  * expansions that [[graft.expressions.BlockPairs]] (and, for Theil-Sen,
  * [[graft.expressions.TheilSenStats]]) compute natively:
  *
  *   flatten(transform(ms, (a, i) => … slice(ms, i + 2, size(ms)) …))
  *
  * Each reads the same member frame as its native site and returns the
  * same rows. Kept here only as the references the natives are pinned
  * against (NativeFoldEquivalenceSpec, CellCosinePairsSpec,
  * LshCrossSpec, SimilaritySessionSpec, TextDedupSpec).
  */
object PairExpansionReference {

  /** The in-corpus LSH bucket expansion over (t, ms) members of
    * (vec_id, pk, embedding, nrm): (t, vec_a, vec_b, cos), cos ≥
    * threshold, no probe×probe pairs.
    */
  def lshScoredPairsHof(members: DataFrame,
      threshold: Double): DataFrame =
    members
      .select(col("t"), explode(flatten(transform(col("ms"), (a, i) =>
        transform(
          filter(slice(col("ms"), i + 2, size(col("ms"))), b =>
            !(a.getField("pk") === 1 && b.getField("pk") === 1)),
          b =>
            struct(a.getField("vec_id").as("vec_a"),
              b.getField("vec_id").as("vec_b"),
              a.getField("embedding").as("ea"),
              b.getField("embedding").as("eb"),
              a.getField("nrm").as("na"),
              b.getField("nrm").as("nb")))))).as("p"))
      .select(col("t"), col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        cosine(col("p.ea"), col("p.eb"), col("p.na"), col("p.nb")).as("cos"))
      .filter(col("cos") >= threshold)

  /** [[SimilarityOps.nearDupPairs]]' label-cell expansion over (ms)
    * members of (vec_id, embedding, nrm).
    */
  def cellPairsHof(members: DataFrame,
      threshold: Double): DataFrame =
    members
      .select(explode(flatten(transform(col("ms"), (a, i) =>
        transform(slice(col("ms"), i + 2, size(col("ms"))), b =>
          struct(a.getField("vec_id").as("vec_a"), b.getField("vec_id").as("vec_b"),
            a.getField("embedding").as("ea"), b.getField("embedding").as("eb"),
            a.getField("nrm").as("na"), b.getField("nrm").as("nb")))))).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        cosine(col("p.ea"), col("p.eb"), col("p.na"), col("p.nb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))

  /** [[SimilarityOps.lshCrossCandidates]]: members sort (side, vec_id,
    * pk), so cross pairs always read (existing a, batch b); same-side
    * and probe×probe pairs drop.
    */
  def lshCrossCandidatesHof(members: DataFrame): DataFrame =
    members
      .select(explode(flatten(transform(col("ms"), (a, i) =>
        transform(
          filter(slice(col("ms"), i + 2, size(col("ms"))), b =>
            a.getField("side") < b.getField("side") &&
              !(a.getField("pk") === 1 && b.getField("pk") === 1)),
          b =>
            struct(a.getField("vec_id").as("existing_id"),
              b.getField("vec_id").as("batch_id")))))).as("p"))
      .select(col("p.existing_id").as("existing_id"),
        col("p.batch_id").as("batch_id"))
      .distinct()

  /** [[SimilarityOps.semanticDedupDropped]]: members of (negd, vec_id,
    * embedding, nrm); the later member of every pair whose cosine clears
    * the threshold.
    */
  def semanticDedupDroppedHof(members: DataFrame, threshold: Double): DataFrame =
    members
      .select(explode(flatten(transform(col("ms"), (a, i) =>
        transform(slice(col("ms"), i + 2, size(col("ms"))), b =>
          struct(b.getField("vec_id").as("dup_id"),
            a.getField("embedding").as("ea"),
            b.getField("embedding").as("eb"),
            a.getField("nrm").as("na"),
            b.getField("nrm").as("nb")))))).as("p"))
      .select(col("p.dup_id").as("vec_id"),
        cosine(col("p.ea"), col("p.eb"), col("p.na"), col("p.nb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_id")).distinct()

  /** [[DedupOps.passJoinCandidates]]: segment buckets of (side, doc_id,
    * len, s); cross-side pairs only; direction: indexed strictly
    * shorter, or equal length and smaller doc_id — each unordered pair
    * once.
    */
  def passJoinCandidatesHof(members: DataFrame): DataFrame =
    members
      .select(explode(flatten(transform(col("ms"), (a, i) =>
        transform(
          filter(slice(col("ms"), i + 2, size(col("ms"))), b =>
            a.getField("side") < b.getField("side") &&
              (a.getField("len") < b.getField("len") ||
                (a.getField("len") === b.getField("len") &&
                  a.getField("doc_id") < b.getField("doc_id")))),
          b =>
            struct(a.getField("doc_id").as("ia"),
              b.getField("doc_id").as("ib"),
              a.getField("s").as("sa"), b.getField("s").as("sb"))))))
        .as("p"))
      .select(least(col("p.ia"), col("p.ib")).as("doc_a"),
        greatest(col("p.ia"), col("p.ib")).as("doc_b"),
        when(col("p.ia") <= col("p.ib"), col("p.sa")).otherwise(col("p.sb"))
          .as("sa"),
        when(col("p.ia") <= col("p.ib"), col("p.sb")).otherwise(col("p.sa"))
          .as("sb"))
      .distinct()

  /** The exact set join's prefix bucket entry frame (shingle, es), the
    * one [[DedupOps.similarityJoinExact]] expands.
    */
  def setJoinBuckets(docs: DataFrame,
      threshold: Double): DataFrame =
    DedupOps.setJoinParts(docs, threshold).buckets

  /** The set join's prefix candidate expansion: same bucket entry frame
    * (shingle, es) in, same (doc_a, doc_b) rows out as the prefix-bound
    * scorer.
    */
  def setJoinExpandHof(buckets: DataFrame,
      threshold: Double): DataFrame = {
    val eps = 1e-9
    buckets
      .select(explode(flatten(transform(col("es"), (a, i) =>
        filter(
          transform(slice(col("es"), i + 2, size(col("es"))), b =>
            struct(a.getField("doc_id").as("doc_a"),
              b.getField("doc_id").as("doc_b"),
              (least(a.getField("n") - a.getField("rk"),
                b.getField("n") - b.getField("rk")) + 1 >=
                ceil(lit(threshold / (1 + threshold)) *
                  (a.getField("n") + b.getField("n")) - lit(eps))).as("ok"))),
          p => p.getField("ok"))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
  }

  /** [[TimeSeriesOps.theilSen]] as slope arrays: per key, the median of
    * every pairwise slope over distinct timestamps, in micro-units.
    */
  def theilSenHof(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      maxEventsPerKey: Long = TimeSeriesOps.DefaultMaxPointsQuadratic): DataFrame = {
    val pts = sort_array(collect_list(struct(
      col(tsCol).cast("long").as("t"), col(valCol).cast("double").as("v"))))
    val arr = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(valCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(pts.as("pts"), count(lit(1)).as("__n"))
    val slopes = filter(
      flatten(transform(col("pts"), (p, i) =>
        transform(slice(col("pts"), i + 2, size(col("pts"))), q =>
          when(q.getField("t") > p.getField("t"),
            (q.getField("v") - p.getField("v")) /
              ((q.getField("t") - p.getField("t")).cast("double") /
                lit(1000000.0)))
            .otherwise(lit(null).cast("double"))))),
      s => s.isNotNull)
    arr
      .select(col(keyCol), size(col("pts")).cast("long").as("n_pts"),
        SessionOps.hotKeyGuarded(array_sort(slopes), col("__n"),
          col(keyCol), maxEventsPerKey, "theilSen").as("ss"))
      .filter(size(col("ss")) > 0)
      .select(col(keyCol), col("n_pts"),
        size(col("ss")).cast("long").as("n_pairs"),
        round(element_at(col("ss"),
          ((size(col("ss")) + 1) / lit(2)).cast("int")) * lit(1000000.0))
          .cast("long").as("slope_micro"))
  }
}
