package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression tests: the physical-plan properties PLANS.md documents
  * as the 100 TB scale story, asserted so they cannot silently regress.
  * These inspect the STATIC plan (explain string) — the broadcast /
  * pushdown / shuffle-count decisions below are all made at plan time
  * (explicit `broadcast()` hints, scan-level pushdown), not by AQE.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** [[plan]] plus the plan of every memo frame the query builds. A
    * memo is materialized by `localCheckpoint`, so the query's own plan
    * reads it as `Scan ExistingRDD` and the corpus work runs in the
    * memo's build. The memos are dropped first, so every build the
    * query needs runs here and is audited with it.
    */
  private def planWithBuilds(name: String): String = {
    val builds = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") builds.synchronized { builds += qe.analyzed }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    graft.ops.ModelCache.clear()
    spark.listenerManager.register(listener)
    try {
      val p = plan(name)
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      (builds.map(org.apache.spark.sql.graft.TestPlans.explain(spark, _)) :+ p).mkString("\n")
    } finally spark.listenerManager.unregister(listener)
  }

  private def countOf(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).length

  test("r2_left_join broadcasts the dimension — no sort-merge join") {
    val p = plan("r2_left_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q1_pricing_summary pushes the shipdate filter into the scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [") && p.contains("l_shipdate"))
  }

  test("k1_state_machine is a single-shuffle plan") {
    val p = plan("k1_state_machine")
    // one Exchange for the whole state machine (no BroadcastExchange here)
    assert(countOf(p, "\\(\\d+\\) Exchange") == 1, p.linesIterator.take(25).mkString("\n"))
  }

  test("sim_lsh_topk: corpus scanned once, queries broadcast, top-k pushed down") {
    val p = plan("sim_lsh_topk")
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 2) // corpus + query subset, not 3+
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("WindowGroupLimit"))
  }

  test("dedup_minhash_pairs scans the corpus once") {
    val p = planWithBuilds("dedup_minhash_pairs")
    // the documents table appears in exactly one scan — whether read
    // directly or inside the cached bands table's build plan — never as
    // two planned copies of the shingle pipeline (the self-join shape)
    assert(countOf(p, "documents\\.parquet\\]") == 1,
      p.linesIterator.take(25).mkString("\n"))
  }

  test("text_pii_scrub is scan-side only — zero exchanges") {
    val p = plan("text_pii_scrub")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 0)
    assert(countOf(p, "BroadcastExchange") == 0)
  }

  test("rj1_range_join broadcasts the interval dim against the fact stream") {
    val p = plan("rj1_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"))
    // the events fact side must not be the broadcast side
    assert(p.contains("BuildRight") || p.contains("BuildLeft"))
  }

  test("aj3_asof_bucketed: the fact sweep partitions on (key, bucket), never key alone") {
    val p = plan("aj3_asof_bucketed")
    // the main window's exchange hashes BOTH the key and the time bucket —
    // the property that spreads a hot key across tasks
    assert(p.contains("hashpartitioning(key#") && p.contains("__bkt#"), p.linesIterator.take(30).mkString("\n"))
    // and it stays a window sweep — no nested-loop/theta join anywhere
    assert(!p.contains("NestedLoop"))
  }

  test("cdc_latest compacts via partial+final aggregate, not a window sort") {
    val p = plan("cdc_latest")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 1)
    assert(!p.contains("(\\d+\\) Window"))
    assert(p.contains("partial_max") || p.contains("HashAggregate"))
  }

  test("iv1/cdc_scd2: one shuffle + one in-partition sort, the per-key sweep ideal") {
    for (n <- Seq("iv1_interval_merge", "cdc_scd2")) {
      val p = plan(n)
      assert(countOf(p, "\\(\\d+\\) Exchange") == 1, n)
      assert(countOf(p, "\\(\\d+\\) Sort\\b") == 1, n)
    }
  }

  test("src4_schema_evolution reads both snapshots with zero exchanges") {
    assert(countOf(plan("src4_schema_evolution"), "\\(\\d+\\) Exchange") == 0)
  }

  test("profile_columns never plans an Expand (per-column branches, no row duplication)") {
    val p = plan("profile_columns")
    assert(!p.contains("Expand"), p.linesIterator.take(20).mkString("\n"))
  }

  test("bf1_bloom_prune probes the bloom scan-adjacent, before the semi join") {
    val p = plan("bf1_bloom_prune")
    // the probe is a Filter containing might_contain over the fact scan —
    // rows drop BEFORE the join, which is the whole point at 100 TB
    assert(p.contains("might_contain"), p.linesIterator.take(30).mkString("\n"))
    val probeIdx = p.indexOf("might_contain")
    val joinIdx = p.indexOf("Join LeftSemi")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      "probe filter must sit under (after, in explain order) the semi join")
  }

  test("f12_window_tumbling is a single-shuffle hash aggregate — no Expand, no sort") {
    val p = plan("f12_window_tumbling")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 1)
    // tumbling windows assign exactly one bucket per row: Spark plans a
    // projection, not the Expand it needs for overlapping windows
    assert(!p.contains("Expand"), p.linesIterator.take(20).mkString("\n"))
  }

  test("f13_window_sliding expands each row onto exactly its overlapping windows") {
    val p = plan("f13_window_sliding")
    // sliding (1h, 30m) → Expand (2 projections per row) + one shuffle
    assert(p.contains("Expand"))
    assert(countOf(p, "\\(\\d+\\) Exchange") == 1)
  }

  test("pipeline_index: one corpus scan, cached vectors reused, broadcast queries, pushed top-k") {
    val p = planWithBuilds("pipeline_index")
    assert(countOf(p, "Scan parquet") >= 1)
    // the chunk-vector table is a memo frame consumed by both the
    // corpus and query sides (bound below, and the corpus parquet
    // appears in at most one scan)
    assert(countOf(p, "\\(\\d+\\) Scan ExistingRDD") >= 2, p.linesIterator.take(30).mkString("\n"))
    assert(countOf(p, "InMemoryFileIndex \\[file:[^\\]]*documents") <= 1)
    assert(p.contains("BroadcastExchange"))
    // per-partition top-k runs BEFORE the final per-query shuffle
    // (partial + final node, counted in the details section)
    assert(countOf(p, "\\(\\d+\\) WindowGroupLimit") == 2)
  }

  test("dedup_setjoin_exact: single corpus scan, candidate pairs broadcast into verify") {
    val p = plan("dedup_setjoin_exact")
    assert(countOf(p, "InMemoryFileIndex \\[file:[^\\]]*documents") <= 1, "corpus must be scanned once")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "exact similarity join must never plan an all-pairs join")
  }

  test("text_bigrams plans the global top-20 as TakeOrderedAndProject") {
    // orderBy+limit → per-partition bounded heaps + driver merge of K·20
    // rows; a global row_number window would sort everything in ONE task
    val p = planWithBuilds("text_bigrams")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(20).mkString("\n"))
    assert(!p.contains("Window"), "top-20 must not plan a global window")
  }

  test("w4b_quartile_approx: no global sort/window — cutoffs broadcast onto the scan") {
    val p = plan("w4b_quartile_approx")
    assert(!p.contains("Window"), "approx quartiles must not rank over a global window")
    assert(p.contains("BroadcastExchange"), "the 3-cutoff dim must broadcast")
    // rangepartitioning would betray a hidden total sort
    assert(!p.contains("rangepartitioning"), p.linesIterator.take(25).mkString("\n"))
  }

  test("dedup_substring_spans: no all-pairs join, island merge partitioned by doc") {
    val p = plan("dedup_substring_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "substring dedup must never plan an all-pairs join")
    // the gram explode is recomputed per branch (cheaper than
    // materializing ~k× the corpus) — but never more than two scans
    assert(countOf(p, "InMemoryFileIndex \\[file:[^\\]]*documents") <= 2,
      "at most two corpus scans")
    assert(p.contains("Window"), "island merge is a per-doc window")
  }

  test("f3_gpu_flavor is scan-side only — classify without a shuffle") {
    val p = plan("f3_gpu_flavor")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 0, p.linesIterator.take(25).mkString("\n"))
    assert(countOf(p, "BroadcastExchange") == 0)
  }

  test("sim_recall_lsh: multi-probe expansion stays on the broadcast side") {
    val p = plan("sim_recall_lsh")
    // the probe-signature explode (Generate) must sit under a
    // BroadcastExchange — the corpus is never exploded
    assert(p.contains("BroadcastHashJoin"))
    val gen = "\\(\\d+\\) Generate".r.findAllMatchIn(p).size
    assert(gen >= 1)
    // no sort-merge join anywhere: every join side that matters is tiny
    // (queries, probe sigs) and hinted broadcast
    assert(!p.contains("SortMergeJoin"), p.linesIterator.take(30).mkString("\n"))
  }

  test("sim_recall_lsh_tables: table OR-amplification joins broadcast, no sort-merge") {
    val p = plan("sim_recall_lsh_tables")
    // the L-table signature explode feeds a BroadcastHashJoin on
    // (t, sig) — the corpus side is scan-side Generate, never shuffled
    // for candidate generation; per-pair dedup is a hash aggregate
    assert(p.contains("BroadcastHashJoin"))
    assert("\\(\\d+\\) Generate".r.findAllMatchIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"), p.linesIterator.take(30).mkString("\n"))
  }

  test("cdc_apply: winner-per-key via partial aggregate, no Window, anti join broadcast") {
    val p = plan("cdc_apply")
    // aggregate form: partial before each exchange bounds the shuffle to
    // one candidate per key per partition — never a window over the full
    // version history
    assert(!p.contains("Window"), p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("partial_max") || p.contains("partial_count"))
    // touched keys leave via a broadcast anti join — the snapshot never
    // sort-merge joins the (small) winners table
    assert(p.contains("BroadcastHashJoin LeftAnti"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("mix_budget_prefix: one exchange for the stratum window") {
    val p = plan("mix_budget_prefix")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 1,
      p.linesIterator.take(25).mkString("\n"))
  }

  test("a12_countmin: the sketch build aggregates partial+final (map-side combine)") {
    val p = plan("a12_countmin")
    assert(p.contains("partial_count") || p.contains("Functions [1]: [partial_count"))
    // the probe side joins the d×w sketch broadcast — never a sort-merge
    assert(!p.contains("SortMergeJoin"))
  }

  test("sim_pq_codes: encoding is scan-side only — zero exchanges") {
    // the codes are argmins over broadcast centroid literals: one corpus
    // scan, whole-stage codegen, nothing shuffles (the index build's
    // training collects are driver-bounded at m×k×subDim and happen
    // before this plan exists)
    val p = plan("sim_pq_codes")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 0, p.linesIterator.take(25).mkString("\n"))
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 1)
  }

  test("sim_recall_pq: ADC tables and shortlist ride the broadcast side, no sort-merge") {
    val p = plan("sim_recall_pq")
    // every join in the recall evaluation (ADC candidates, refine
    // shortlist, exact-vs-approx hit joins) is a broadcast hash join —
    // the corpus is never shuffled for a join
    assert(!p.contains("SortMergeJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("sj4_bloom_semijoin: bloom predicate prunes in the scan stage, confirm join broadcast") {
    val p = plan("sj4_bloom_semijoin")
    // the probe side carries the xxhash64 bit-test predicate as a plain
    // Filter in the scan stage — rows die BEFORE any exchange — and the
    // exact confirm is a broadcast semi join, never a sort-merge
    assert(p.contains("xxhash64"), p.linesIterator.take(20).mkString("\n"))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("w6_global_cumsum: the only single-partition stage is the bin summary") {
    val p = plan("w6_global_cumsum")
    // exactly ONE SinglePartition exchange — the nBins-row bin-offset
    // window — and the DATA window repartitions by __bin; a bare global
    // Window.orderBy would plan the data itself through SinglePartition
    assert(countOf(p, "Arguments: SinglePartition") == 1,
      p.linesIterator.take(25).mkString("\n"))
    assert(countOf(p, "hashpartitioning\\(__bin") >= 2,
      "bin agg and final window must both partition on __bin")
    assert(!p.contains("rangepartitioning"), "no global range sort of the data")
  }

  test("text_tfidf_topterms: dims broadcast, top-3 pruned by WindowGroupLimit") {
    val p = planWithBuilds("text_tfidf_topterms")
    // df and n_docs ride the broadcast side; the corpus is never
    // shuffled for a join, and rk<=3 prunes before the final sort
    assert(!p.contains("SortMergeJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("WindowGroupLimit"))
  }

  test("text_bm25_topk: term filter before aggregation, top-k via TakeOrderedAndProject") {
    val p = planWithBuilds("text_bm25_topk")
    // the query-term filter kills non-matching tokens straight off the
    // explode (before any exchange), the result is served from the
    // shared multi-query memo, and the global top-k plans as
    // TakeOrderedAndProject (per-partition heaps), never a full sort
    assert(p.contains("Scan ExistingRDD"), "bm25 serves from the shared memoized pass")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("dq_constraints: pure aggregation — no joins, no Expand") {
    val p = plan("dq_constraints")
    assert(!p.contains("Join"), p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("Expand"))
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 1, "one scan of events")
  }

  test("sim_rp_project is a pure scan-side map — zero exchanges, one scan") {
    val p = plan("sim_rp_project")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 0, p.linesIterator.take(25).mkString("\n"))
    assert(countOf(p, "BroadcastExchange") == 0)
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 1)
  }

  test("sim_kcenter_coreset assignment: zero joins, zero exchanges — centers by reference") {
    val p = plan("sim_kcenter_coreset")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 0, p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("Join"))
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 1)
  }

  test("sim_hard_negatives: label mismatch fused into one broadcast join, top-k pushed down") {
    val p = plan("sim_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("WindowGroupLimit")) // rank<=k prunes per partition
  }

  test("ret_metrics joins stay broadcast — k-bounded inputs never sort-merge") {
    val p = plan("ret_metrics_trunc")
    assert(!p.contains("SortMergeJoin"), p.linesIterator.take(30).mkString("\n"))
  }

  test("split_assign derives the split scan-side — zero exchanges") {
    val p = plan("split_assign")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 0)
  }

  test("pipeline_full: the composed DAG plans clean — no nested-loop joins, no cartesian") {
    val p = planWithBuilds("pipeline_full")
    // the decontamination anti-join and dedup semi-join must stay
    // equi-joins; a NOT-IN-style rewrite degenerating to a nested loop
    // would be quadratic at 100 TB
    assert(!p.contains("BroadcastNestedLoopJoin"), p.linesIterator.take(40).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  private def corpusScans(p: String): Int =
    countOf(p, "documents\\.parquet\\]") + countOf(p, "events\\.parquet\\]") +
      countOf(p, "embeddings\\.parquet\\]")

  test("text_pmi_bigrams: corpus scanned once (cached pair table feeds every branch)") {
    val p = plan("text_pmi_bigrams")
    assert(corpusScans(p) == 1, p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin")) // marginals + total ride broadcast
  }

  test("text_kn_score: exactly the train/score split — two corpus passes, no SMJ") {
    val p = plan("text_kn_score")
    // pass 1 builds the cached vocab²-bounded LM, pass 2 scores against
    // it; a third scan would mean a marginal recomputing the corpus
    assert(corpusScans(p) == 2, p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("dedup_paraphrase: embeddings once + documents once (cached pairs/sets)") {
    val p = planWithBuilds("dedup_paraphrase")
    assert(corpusScans(p) == 2, p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("pref_bt_strength: the event log is scanned once — MM rounds read the cached pairs") {
    val p = plan("pref_bt_strength")
    assert(corpusScans(p) == 1, p.linesIterator.take(30).mkString("\n"))
  }

  test("billing flagship keeps money in DecimalType to the sink edge") {
    val df = SparkEntry.queries("billing_invoice")(spark, dir)
    val costField = df.schema.fields.find(_.name.toLowerCase.contains("cost"))
    assert(costField.isEmpty ||
      costField.get.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] ||
      costField.get.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
  }

  test("Billing.instanceSuHours scans instance_actions once and plans no LeftSemi") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-plan-billing").toString
    Seq(("i1", "host1", 1L, 8192L, 2, None: Option[java.sql.Timestamp], 0, "projA"))
      .toDF("uuid", "hostname", "instance_type_id", "memory_mb", "vcpus",
        "deleted_at", "deleted", "project_id")
      .write.parquet(s"$d/instances.parquet")
    Seq(("i1", null: String)).toDF("instance_uuid", "pci_requests")
      .write.parquet(s"$d/instance_extra.parquet")
    Seq((1L, "i1", new java.sql.Timestamp(0L), "create", ""))
      .toDF("id", "instance_uuid", "created_at", "action", "message")
      .write.parquet(s"$d/instance_actions.parquet")
    def t(name: String) = etl.Ingest.table(spark, d, name)
    val start = graft.core.Types.utcMicros(2024, 1, 1)
    val end = graft.core.Types.utcMicros(2024, 2, 1)
    val rates = graft.core.Types.Rates(
      cpu = BigDecimal("0.013"), gpuA100 = BigDecimal(0), gpuA100sxm4 = BigDecimal(0),
      gpuV100 = BigDecimal(0), gpuA2 = BigDecimal(0), gpuK80 = BigDecimal(0),
      includeStoppedRuntime = false)
    val su = etl.Billing.instanceSuHours(t("instance_actions"),
      etl.Enrich.enrichInstances(t("instances"), t("instance_extra"), start),
      rates, start, end)
    val p = su.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(countOf(p, "Location: InMemoryFileIndex \\[[^\\]]*instance_actions\\.parquet") == 1,
      p.linesIterator.take(40).mkString("\n"))
    assert(!p.contains("LeftSemi"), p.linesIterator.take(40).mkString("\n"))
  }

  test("sim_ood_distance is a pure scan-side map — zero exchanges") {
    val p = plan("sim_ood_distance")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 0, p.linesIterator.take(20).mkString("\n"))
    assert(!p.contains("BroadcastExchange"))
  }

  test("sim_pca_project projection: zero exchanges, model as literals") {
    val p = plan("sim_pca_project")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 0, p.linesIterator.take(20).mkString("\n"))
    assert(!p.contains("Join"))
  }

  test("weak_kappa: every pair's statistics in ONE aggregation — no joins") {
    val p = planWithBuilds("weak_kappa")
    assert(!p.contains("Join"), p.linesIterator.take(20).mkString("\n"))
    // one exchange to the 1-row global aggregate; the 3 pair branches
    // read it via union, never re-scan the corpus per pair
    assert(countOf(p, "documents\\.parquet\\]") <= 3)
  }

  test("quality_nb_confusion: model joins broadcast; only the doc-keyed score join sort-merges") {
    val p = plan("quality_nb_confusion")
    // the (class, token) model, totals, priors and the class dim all ride
    // broadcast; the ONE sort-merge join is (doc_id, cl)-keyed between
    // two doc-scale relations — the correct shape at 100 TB
    assert(countOf(p, "\\(\\d+\\) SortMergeJoin") == 1,
      p.linesIterator.take(30).mkString("\n"))
    assert(countOf(p, "\\(\\d+\\) BroadcastHashJoin") >= 2)
  }

  test("ts_anomaly: one key shuffle, window operator, no per-key array fold") {
    val p = plan("ts_anomaly")
    // the frame sums run in Spark's (spilling) window operator after ONE
    // exchange to the key — never a collect_list the 100× hot key OOMs
    assert(countOf(p, "\\(\\d+\\) Exchange") == 1,
      p.linesIterator.take(25).mkString("\n"))
    assert(p.contains("Window"))
    assert(!p.contains("collect_list"))
  }

  test("text_winnow: grams exploded once, hashed once, one doc-keyed window") {
    val p = planWithBuilds("text_winnow")
    // the CollapseProject lesson, pinned: ONE Generate (the posexplode)
    // and the md5 only in its post-explode projection — the in-row form
    // this replaced planned the hash array into every window element
    assert(countOf(p, "\\(\\d+\\) Generate") == 1,
      p.linesIterator.take(25).mkString("\n"))
    assert(countOf(p, "documents\\.parquet\\]") == 1)
    assert(p.contains("Window"))
  }

  test("sim_sparse_cosine: the dump serves the checkpointed shared surface") {
    val p = plan("sim_sparse_cosine")
    // the dump and sim_sparse_topk read the memoized,
    // localCheckpoint'd pair surface — the serving plan is a bare
    // artifact scan (zero corpus reads, zero joins); the tf/df/weight
    // chain runs once inside the memo's build (its shape is pinned by
    // SparseCosineSpec's operator-level tests)
    assert(p.contains("Scan ExistingRDD"),
      p.linesIterator.take(25).mkString("\n"))
    assert(countOf(p, "documents\\.parquet\\]") == 0)
    assert(!p.contains("CartesianProduct"))
  }

  test("sim_sparse_topk: rank cap rides the shared surface, no recompute") {
    val p = plan("sim_sparse_topk")
    // same checkpointed artifact + one window rank filter — the arc
    // expansion and rank never touch the corpus
    assert(p.contains("Scan ExistingRDD"),
      p.linesIterator.take(25).mkString("\n"))
    assert(countOf(p, "documents\\.parquet\\]") == 0)
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_cdc_chunks: the chunk rollup reuses the window's doc partitioning") {
    val p = planWithBuilds("dedup_cdc_chunks")
    // hash(doc_id) from the cut-count window satisfies the
    // (doc_id, chunk_id) aggregation's clustering, so the whole chain is
    // TWO exchanges: to the doc key, then to the fingerprint rollup
    assert(countOf(p, "\\(\\d+\\) Exchange") == 2,
      p.linesIterator.take(30).mkString("\n"))
    assert(countOf(p, "documents\\.parquet\\]") == 1)
  }

  test("j4_local_supplier_revenue: date filter pushed, dims broadcast, no cartesian") {
    val p = plan("j4_local_supplier_revenue")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      "the order-date range must reach the orders scan")
    assert(countOf(p, "\\(\\d+\\) BroadcastHashJoin") >= 3,
      "supplier, nation, and the pre-filtered region ride broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("quality_knn_confusion: corpus passes once against the broadcast stripe") {
    val p = plan("quality_knn_confusion")
    // the non-equi scoring join is the intended broadcast nested loop
    // (every corpus row × the small query stripe), never a cartesian
    assert(p.contains("BroadcastNestedLoopJoin"),
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("w8_skyline: single-partition only for the bin summary, phase 2 by bin") {
    val p = plan("w8_skyline")
    // the exclusive prefix-min over <=nBins rows is the ONE
    // SinglePartition stage; the within-bin resolution window and the
    // survivor join are partitioned by bin — never a global data sort
    assert(countOf(p, "Arguments: SinglePartition") == 1,
      p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("hashpartitioning(__b2"),
      "phase-2 window must distribute by bin")
    assert(!p.contains("rangepartitioning"))
  }

  test("profile_hll_registers: one scan, one shuffle, zero joins") {
    val p = planWithBuilds("profile_hll_registers")
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 1,
      p.linesIterator.take(25).mkString("\n"))
    assert(countOf(p, "\\(\\d+\\) Exchange") == 1,
      "register build is one partial-aggregated shuffle")
    assert(!p.contains("Join"))
  }

  test("profile_checksum: one scan, one shuffle, zero joins") {
    val p = plan("profile_checksum")
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 1)
    assert(countOf(p, "\\(\\d+\\) Exchange") == 1,
      p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("Join"))
  }

  test("mix_shard_balance: the only single-partition stage is the bin summary") {
    val p = plan("mix_shard_balance")
    assert(countOf(p, "Arguments: SinglePartition") == 1,
      p.linesIterator.take(30).mkString("\n"))
    assert(countOf(p, "hashpartitioning\\(__bin") >= 2,
      "bin offsets and the data window both partition on __bin")
    assert(!p.contains("rangepartitioning"))
  }

  test("graph_linkpred: top-k via TakeOrderedAndProject, degree dims broadcast") {
    val p = planWithBuilds("graph_linkpred")
    assert(p.contains("TakeOrderedAndProject"),
      p.linesIterator.take(30).mkString("\n"))
    assert(countOf(p, "\\(\\d+\\) BroadcastHashJoin") >= 2,
      "both degree joins ride broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("a17_join_card_est: the sampled estimate reads each table once per role") {
    val p = plan("a17_join_card_est")
    // orders+lineitem each scanned twice (sampled estimate + exact
    // companion) and nothing more — the estimator itself adds no pass
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 4,
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("a18_ab_lift: one scan, one aggregation, zero joins") {
    val p = plan("a18_ab_lift")
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 1)
    assert(countOf(p, "\\(\\d+\\) Exchange") == 1,
      p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("Join"))
  }

  test("a19_bootstrap_ci: replicate aggregation shuffles by b, no sort-merge") {
    val p = plan("a19_bootstrap_ci")
    assert(p.contains("hashpartitioning(b"),
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("privacy_t_closeness: margins broadcast, no sort-merge joins") {
    val p = plan("privacy_t_closeness")
    assert(!p.contains("SortMergeJoin"),
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("quality_pr_curve: rank and prefix-sum ride the bin partitioning") {
    val p = planWithBuilds("quality_pr_curve")
    assert(countOf(p, "hashpartitioning\\(__bin") >= 2,
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("rangepartitioning"), "no global sort of the data")
  }

  test("ts_acf: lag windows only — no joins anywhere") {
    val p = plan("ts_acf")
    assert(!p.contains("Join"), p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("dq_ks_test: sup distance over the value spine, margins broadcast") {
    val p = plan("dq_ks_test")
    assert(!p.contains("SortMergeJoin"),
      p.linesIterator.take(25).mkString("\n"))
    // the cumulative window and the 1-row totals are the only
    // single-partition stages — both spine/summary-sized
    assert(countOf(p, "Arguments: SinglePartition") <= 3)
  }

  test("sample_neyman: the threshold table rides broadcast onto the scan") {
    val p = plan("sample_neyman")
    assert(countOf(p, "\\(\\d+\\) BroadcastHashJoin") >= 1,
      p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("mix_pack_efficiency: per-group folds, no joins") {
    val p = plan("mix_pack_efficiency")
    assert(!p.contains("Join"), p.linesIterator.take(25).mkString("\n"))
  }

  test("w11_cum_distinct: both windows share the key partitioning") {
    val p = plan("w11_cum_distinct")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 1,
      "one shuffle serves both windows: " +
        p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("Join"))
  }

  test("dq_benford: two bounded scans (digits + total), everything broadcast") {
    val p = plan("dq_benford")
    // the observed-digit aggregate and its total each plan one scan;
    // both reduce to <=9 rows before any join, and every join rides
    // broadcast
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 2,
      p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("graph_bfs_hops: returned plan is ONE flat checkpointed scan") {
    // the per-hop localCheckpoint cadence means the frontier loop's
    // joins all ran at build time; the plan handed back is a single
    // materialized RDD scan — no union chain, no retained joins, no
    // exchange. (Drift here = the checkpoint is gone and the lineage
    // grows maxHops deep again.)
    val p = plan("graph_bfs_hops")
    assert(p.contains("Scan ExistingRDD"), p.linesIterator.take(15).mkString("\n"))
    assert(!p.contains("Join") && countOf(p, "\\(\\d+\\) Exchange") == 0,
      p.linesIterator.take(15).mkString("\n"))
  }

  test("dedup_embedding_lsh: one sig scan, 1-row count broadcast, three shuffles") {
    // the QUERY hands back the memoized materialized pair artifact
    // (three consumers share one pair pass instead of the recall card
    // re-running it every invocation), so its own plan is one flat
    // checkpointed scan...
    val q = plan("dedup_embedding_lsh")
    assert(q.contains("Scan ExistingRDD"), q.linesIterator.take(10).mkString("\n"))
    assert(!q.contains("Join") && countOf(q, "\\(\\d+\\) Exchange") == 0,
      q.linesIterator.take(10).mkString("\n"))
    // ...and the BUILD-time shape stays pinned on the unmemoized
    // generator: corpus scanned once for signatures (plus one
    // column-pruned count-only scan), the corpus COUNT rides a 1-row
    // broadcast into the adaptive prefix width, and the only exchanges
    // are count-agg + bucket-collect + per-pair dedup. A SortMergeJoin
    // or a data-sized nested-loop here would mean the bucketing
    // collapsed back into a corpus self-join. The signature stage is
    // the shared CACHED 32-table frame (this build
    // slices its first 8 dot columns), so the sig scan appears as an
    // InMemoryTableScan whose build plan holds the one parquet scan.
    val p = graft.ops.SimilarityOps.nearDupPairsLshFrom(
      graft.ops.SimilarityOps.lshAutoSignatureStage(
        graft.ops.SimilarityOps.withNorm(
          graft.etl.Ingest.table(spark, dir, "embeddings")),
        graft.ops.SimilarityOps.LshAutoMaxTables).cache(),
      graft.queries.PipelineQueries.NearDupThreshold)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // 3 exchanges cold (count-agg + bucket-collect + pair-dedup); a 4th
    // appears once the shared sig cache is materialized (the corpus
    // count then aggregates over the InMemoryTableScan in two steps
    // instead of riding the parquet count scan). Anything beyond 4
    // means the bucketing collapsed back into a corpus self-join.
    val exchanges = countOf(p, "\\(\\d+\\) Exchange")
    assert(exchanges >= 3 && exchanges <= 4,
      p.linesIterator.take(30).mkString("\n"))
    // 2 parquet scans when the shared cache is cold (sig build + the
    // column-pruned count scan), fewer once another family member
    // already materialized it — never 3+ (that would be a corpus
    // re-scan)
    val scans = countOf(p, "\\(\\d+\\) Scan parquet")
    assert(scans <= 2,
      p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      "expected the shared cached signature stage in the plan")
    assert(!p.contains("SortMergeJoin"))
    // the only nested-loops are 1-row count broadcasts (Cross
    // BuildRight): one cold; warm-cache plans may keep a second copy
    // of the same 1-row count instead of reusing the exchange. Both
    // are constant-size — a data-sized NLJ would fail the SMJ/count
    // assertions around it.
    val nlj = countOf(p, "\\(\\d+\\) BroadcastNestedLoopJoin")
    assert(nlj >= 1 && nlj <= 2,
      p.linesIterator.take(30).mkString("\n"))
  }

  test("pair stages expand in block_pairs, never a HOF loop over the members") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform}
    import graft.expressions.BlockPairs
    import graft.ops.{DedupOps, SimilarityOps}
    val emb = SimilarityOps.withNorm(graft.etl.Ingest.table(spark, dir, "embeddings"))
    val existing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    // the incremental query hands back its checkpointed probe, so the
    // probe is built unmemoized here, as the query builds it
    val stages: Seq[(String, DataFrame)] = Seq(
      "dedup_embedding_incremental" -> SimilarityOps.nearDupPairsLshCrossSlim(
        SimilarityOps.lshIndexEntriesSlim(existing), SimilarityOps.lshIndexVectors(existing),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        graft.queries.PipelineQueries.NearDupThreshold),
      "dedup_semantic" -> SparkEntry.queries("dedup_semantic")(spark, dir),
      "dedup_editdist segmented arm" -> DedupOps.editDistancePairsAuto(
        graft.etl.Ingest.table(spark, dir, "documents"),
        strCol = substring(col("text"), 9, 16),
        blockCol = concat(lpad(length(col("lang")).cast("string"), 2, "0"),
          col("lang"), substring(col("text"), 1, 8)),
        maxDist = 4, segmentMinPairs = 0L))
    for ((name, df) <- stages) {
      val exprs = df.queryExecution.optimizedPlan
        .flatMap(_.expressions).flatMap(_.collect { case e => e })
      // the member array is the guarded `ms` column each site expands
      def overMembers(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        e.references.exists(_.name == "ms")
      assert(exprs.exists { case b: BlockPairs => overMembers(b.child); case _ => false },
        s"$name: no block_pairs over the member array")
      val hofs = exprs.collect {
        case f: ArrayTransform if overMembers(f.argument) => f
        case f: ArrayFilter if overMembers(f.argument) => f
      }
      assert(hofs.isEmpty, s"$name: ${hofs.map(_.sql).mkString("; ")}")
      assert(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).contains("block_pairs("), name)
    }
  }

  test("profile_source_overlap: in-row pair expansion, zero joins, two shuffles") {
    // per-gram source sets collapse via ONE gram-keyed aggregation;
    // pairs explode in-row (Generate) bounded by |sources|²; the only
    // other shuffle is the final (source_a, source_b) rollup
    val p = planWithBuilds("profile_source_overlap")
    assert(!p.contains("Join"), p.linesIterator.take(25).mkString("\n"))
    assert(countOf(p, "\\(\\d+\\) Exchange") == 2,
      p.linesIterator.take(25).mkString("\n"))
  }

  test("ret_prf_expand: both passes broadcast their term lists — no SMJ") {
    // pass 1 scores the seed query, pass 2 rescans with the expanded
    // term list; the feedback mining is semi-join-bounded and every
    // join (term semi-joins, avgdl dim, expansion terms) is broadcast;
    // per-doc top-k rides WindowGroupLimit. All passes read the
    // per-invocation tokenized localCheckpoint projection — documents
    // is FileScanned exactly once (at the checkpoint build, outside
    // this final plan), so the returned plan carries ONLY checkpoint
    // scans, zero parquet scans.
    val p = plan("ret_prf_expand")
    assert(!p.contains("SortMergeJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 0,
      p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("Scan ExistingRDD"),
      "expected the shared tokenized checkpoint projection in the plan")
    assert(p.contains("WindowGroupLimit"))
  }

  test("ret_passage_topk: tf checkpoint shared — stats is the only corpus scan") {
    // tf (the query-term-filtered per-chunk posting aggregate) is
    // consumed by both the df pass and the scoring pass; as a plain val
    // each reference re-expanded the whole chunk+tokenize subtree, so
    // the operator paid THREE corpus chunk passes. With tf
    // localCheckpoint'd the returned plan carries exactly ONE parquet
    // scan (the stats pass — its global chunk count/avgdl need all
    // chunks and cannot derive from the filtered tf) plus checkpoint
    // scans; best-passage still prunes through WindowGroupLimit and no
    // join degrades to SMJ. (Checkpointing the corpus-sized chunk
    // relation itself was measured 1.5× worse at ×100 and rejected.)
    val p = plan("ret_passage_topk")
    assert(countOf(p, "\\(\\d+\\) Scan parquet") == 1,
      p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("Scan ExistingRDD"),
      "expected the shared tf checkpoint in the plan")
    assert(!p.contains("SortMergeJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("WindowGroupLimit"))
  }

  test("dedup_winnow_pairs: fingerprint-bounded in-row expansion, zero joins") {
    // the candidate generator groups by fp (df cap filters boilerplate
    // BEFORE the expansion) and explodes pairs in-row — the pair count
    // is bounded per fingerprint and the corpus is scanned once
    val p = planWithBuilds("dedup_winnow_pairs")
    assert(!p.contains("Join"), p.linesIterator.take(25).mkString("\n"))
    assert(countOf(p, "documents\\.parquet\\]") == 1,
      p.linesIterator.take(25).mkString("\n"))
  }

  test("text_unigram_segment: DP per distinct word, stats broadcast back, one doc rollup") {
    // the Viterbi lattice evaluates once per DISTINCT word — two
    // distinct exchanges, one per branch of the union (DP-eligible
    // words and the char-fallback overlong words) — its (np, nll)
    // stats ride a BroadcastHashJoin back onto the token stream, and
    // the per-doc rollup is the only other shuffle — never a
    // sort-merge join of corpus-sized sides
    val p = plan("text_unigram_segment")
    assert(p.contains("BroadcastHashJoin"),
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
    assert(countOf(p, "\\(\\d+\\) Exchange") == 3,
      p.linesIterator.take(30).mkString("\n"))
  }

  test("graph_pagerank_directed: returned plan is a flat checkpointed scan") {
    // each iterate localCheckpoints (contribs AND the dangling
    // mass both read it — the eager checkpoint stops the 2-way
    // reference doubling evaluation per iteration), so the returned
    // plan is the materialized final vector — no join chain retained
    val p = plan("graph_pagerank_directed")
    assert(p.contains("Scan ExistingRDD"),
      p.linesIterator.take(15).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("graph_bfs_knn: returned plan is the same flat checkpointed scan") {
    // the degree-capped twin rides the identical bfsHops cadence — the
    // cap's window ran at build time like everything else
    val p = plan("graph_bfs_knn")
    assert(p.contains("Scan ExistingRDD"), p.linesIterator.take(15).mkString("\n"))
    assert(!p.contains("Join") && countOf(p, "\\(\\d+\\) Exchange") == 0,
      p.linesIterator.take(15).mkString("\n"))
  }

  test("mix_quantile_norm: row stream joins only broadcast dims, no SMJ") {
    // the q-row bucket dim and the value spine are the only join
    // inputs; a SortMergeJoin here would mean the normalization
    // degenerated into a data-sized rank-range join
    val p = plan("mix_quantile_norm")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("ret_ql_dirichlet: top-k via per-partition heaps, no SMJ") {
    val p = plan("ret_ql_dirichlet")
    assert(p.contains("TakeOrderedAndProject"),
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("graph_ppr: final vector is checkpointed — one node-keyed join left") {
    // the iteration loop checkpointed every iterate (and the edge
    // snapshot), so only the final nodes⋈ranks seed-flag join remains
    // in the returned plan — no iteration chain, no cartesian, no SMJ
    val p = plan("graph_ppr")
    assert(p.contains("Scan ExistingRDD"),
      p.linesIterator.take(20).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("knn graph build: degree cap rides WindowGroupLimit over LSH pairs") {
    // the default BFS surface's graph build: top-k arcs per node must
    // prune per-partition (WindowGroupLimit) BEFORE the sort
    // materializes a node's full candidate list, and the candidate
    // stage underneath is the LSH generator — no SortMergeJoin, no
    // corpus self-join anywhere in the chain
    val corpus = graft.ops.SimilarityOps.withNorm(
      graft.etl.Ingest.table(spark, dir, "embeddings"))
    val g = graft.ops.GraphOps.knnGraph(
      graft.ops.SimilarityOps.nearDupPairsLsh(corpus, 0.25),
      "vec_a", "vec_b", "cos_sim", 8)
    val p = g.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("WindowGroupLimit"),
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("ts_theil_sen: one shuffle to per-key arrays, zero joins") {
    // the O(m²) pairwise-slope expansion happens INSIDE the row (the
    // per-key bounded-events contract) — a join or a second exchange
    // here would mean the pair expansion leaked into the plan
    val p = plan("ts_theil_sen")
    assert(countOf(p, "\\(\\d+\\) Exchange") == 1,
      p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("Join"), p.linesIterator.take(25).mkString("\n"))
  }

  test("profile_spearman: rank dims broadcast back onto the scan, no SMJ") {
    // ranks derive from the distinct-value spines and broadcast; the
    // data itself is never globally sorted
    val p = plan("profile_spearman")
    assert(countOf(p, "\\(\\d+\\) BroadcastHashJoin") == 2,
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("eval_rouge: co-keyed equi-joins only, never a gram cross product") {
    val p = planWithBuilds("eval_rouge")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      p.linesIterator.take(30).mkString("\n"))
  }

  test("ret_proximity: term filter reaches the position explode input, no cartesian") {
    val p = plan("ret_proximity")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // the pair expansion is the doc-keyed equi-join of the two
    // term-position relations
    assert(p.contains("Join") || p.contains("BroadcastHashJoin"))
  }

  test("profile_kendall: cell-pair concordance never plans a cartesian over data") {
    // the only nested-loop joins are the broadcast cell self-join and
    // the 1-row margin crosses — bounded by the domains, not the data
    val p = plan("profile_kendall")
    assert(!p.contains("CartesianProduct"),
      p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("dq_mann_whitney: one spine aggregation, no join at all") {
    val p = plan("dq_mann_whitney")
    assert(!p.contains("Join"), p.linesIterator.take(25).mkString("\n"))
  }

  test("dq_robust_zscore and a24_trimmed_mean never sort or join data rows") {
    // medians/trims read off spine windows; the only joins are the
    // per-key med/mad dims back onto the SPINE (robust_zscore); the
    // trimmed mean has no join at all
    val rz = plan("dq_robust_zscore")
    assert(!rz.contains("CartesianProduct") && !rz.contains("SortMergeJoin"),
      rz.linesIterator.take(25).mkString("\n"))
    val tm = plan("a24_trimmed_mean")
    assert(!tm.contains("Join"), tm.linesIterator.take(25).mkString("\n"))
  }

  test("eval_rouge_l: the LCS DP stays in-row — exactly the pair join's shuffles") {
    // one doc-keyed self-join builds the pairs; the DP itself adds no
    // exchange, no extra scan of documents beyond the two pair sides
    val p = planWithBuilds("eval_rouge_l")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      p.linesIterator.take(25).mkString("\n"))
  }

  test("dedup_fs_weights: both pair relations are linear equi-joins, no cartesian") {
    val p = plan("dedup_fs_weights")
    assert(!p.contains("CartesianProduct"),
      p.linesIterator.take(25).mkString("\n"))
  }

  test("ts_ljung_box: rides the acf shape — no data-sized join beyond the n_obs dim") {
    val p = plan("ts_ljung_box")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      p.linesIterator.take(25).mkString("\n"))
  }

  test("sim_recall_pq: one ADC pass serves the raw and the refined recall") {
    val df = SparkEntry.queries("sim_recall_pq")(spark, dir)
    df.collect() // settle the adaptive plan: reused exchanges show only then
    val p = df.queryExecution.executedPlan.toString
    val fin = p.substring(p.indexOf("== Final Plan =="), p.indexOf("== Initial Plan =="))
    // the exact L2 truth and ONE ADC scan; the refine stage reuses the
    // shortlist's exchange
    assert(countOf(fin, "BroadcastNestedLoopJoin") == 2, fin)
    assert(fin.contains("ReusedExchange"), fin)
  }

  test("PQ and IVF centroid distances: every generated method under HotSpot's JIT limit, no unrolled vec_dot(slice(") {
    // HotSpot does not JIT-compile a method over 8,000 bytes of bytecode
    // (-XX:-DontCompileHugeMethods): per-cell unrolled argmins ran such
    // methods interpreted, once per (corpus row, query) pair
    import org.apache.spark.sql.functions.col
    import graft.ops.SimilarityOps
    import graft.queries.PipelineQueries._
    val emb = graft.queries.CoreQueries.table(spark, "/root/testdata/sf0.01", "embeddings")
    val normed = SimilarityOps.withNorm(emb)
    val qs = normed.filter(col("vec_id") < IvfQueryCount)
    val books = SimilarityOps.pqCodebooks(emb, PqM, PqSubDim, PqK, PqIters)
    val cents = SimilarityOps.kmeansCentroids(emb, KmeansK, KmeansIters)
    val frames = Seq(
      "pqCodes" -> SimilarityOps.pqCodes(emb, books, PqSubDim),
      "pqTopK" -> SimilarityOps.pqTopK(emb, qs, books, PqSubDim, IvfK),
      "kmeansCells" -> SimilarityOps.kmeansCells(emb, cents, 6),
      "ivfTopKMultiProbe" ->
        SimilarityOps.ivfTopKMultiProbe(normed, qs, cents, IvfK, IvfNprobe),
      // the other trained matrices: hyperplanes, centers, prototypes
      "lshAutoSignatureStage" ->
        SimilarityOps.lshAutoSignatureStage(normed, SimilarityOps.LshAutoMaxTables),
      "lshTopKMultiProbe" ->
        SimilarityOps.lshTopKMultiProbe(normed, qs, LshK, LshProbes),
      "kcenterAssign" ->
        SimilarityOps.kcenterAssign(emb, SimilarityOps.kcenterCenters(emb, KcenterK)),
      "oodDistance" -> SimilarityOps.oodDistance(emb, cents),
      "conformalEval" ->
        graft.ops.ClassifierOps.conformalEval(emb, SimilarityOps.labelPrototypes(emb)))
    for ((name, df) <- frames) {
      df.collect() // settle the adaptive plan
      val plan = df.queryExecution.executedPlan
      val subtrees = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
      assert(subtrees.nonEmpty, name)
      // a stage that does not compile (Janino's 64 KB method limit) runs
      // interpreted; its statistics read -1
      assert(subtrees.forall(_._3.maxMethodCodeSize >= 0),
        s"$name: a whole-stage codegen subtree does not compile")
      val widest = subtrees.map(_._3.maxMethodCodeSize).max
      assert(widest < 8000, s"$name: a generated method is $widest bytes")
      assert(!(plan.toString +: subtrees.map(_._1)).exists(_.contains("vec_dot(slice(")),
        s"$name: ${plan.toString.linesIterator.take(25).mkString("\n")}")
    }
  }

  test("bruteTopKL2 computes |x|² below its join, not once per (row, query) pair") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.functions.col
    import graft.expressions.VectorDotProduct
    import graft.queries.PipelineQueries._
    val emb = graft.queries.CoreQueries.table(spark, "/root/testdata/sf0.01", "embeddings")
    val df = graft.ops.SimilarityOps.bruteTopKL2(emb, emb.filter(col("vec_id") < IvfQueryCount), IvfK)
    df.collect()
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    def selfDots(p: SparkPlan): Int = p.expressions.map(_.collect {
      case VectorDotProduct(l, r) if l.semanticEquals(r) => 1
    }.sum).sum
    // every node from the root down to the join, and everything under it
    def walk(p: SparkPlan): (Seq[SparkPlan], Seq[SparkPlan]) = p match {
      case j: BroadcastNestedLoopJoinExec =>
        (Nil, Iterator.iterate(Seq[SparkPlan](j))(_.flatMap(kids)).takeWhile(_.nonEmpty).flatten.toSeq)
      case _ =>
        val below = kids(p).map(walk)
        (p +: below.flatMap(_._1), below.flatMap(_._2))
    }
    val (above, under) = walk(df.queryExecution.executedPlan)
    assert(under.nonEmpty, "no nested-loop join in the plan")
    assert(above.map(selfDots).sum == 0, above.mkString("\n"))
    assert(under.map(selfDots).sum == 1, under.mkString("\n"))
  }
}
