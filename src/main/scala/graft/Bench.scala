package graft

/** Benchmark main: one JSON line with the suite total at
  * SPARK_GRAFT_SF_DIR, plus a per-query sidecar. Every run produces the
  * query's full result into the `noop` sink through
  * [[SparkEntry.produce]], so the timed plan is the plan a consumer
  * pays for: a `count()` would let Catalyst prune every column it does
  * not need.
  *
  * Estimator design: a shared host shows two distinct failure modes the
  * numbers must be defended against.
  *
  *  1. ONE-SIDED STALLS (seconds): scheduling freezes that inflate a
  *     single measurement. Defense: min over repeated runs.
  *  2. SUSTAINED DEGRADATION (minutes to the whole run): a host slowdown
  *     spanning every query. Back-to-back min-of-3 per query cannot see
  *     it, because all three samples sit inside the degraded window and
  *     max≈min then reads as "real cost".
  *
  * Against (2) the harness does two things:
  *
  *  - PASS INTERLEAVING: after one warm-up sweep, the suite runs as
  *    THREE FULL TIMED PASSES (every query once per pass, sorted order),
  *    and each query reports the min across passes. A query's three
  *    samples are minutes apart, so a degradation window must span the
  *    entire run, not just three consecutive seconds, to taint a
  *    query's min.
  *  - CPU CALIBRATION PROBES: a fixed-work single-threaded spin
  *    (xorshift, constant iteration count, no I/O, no JVM allocation)
  *    runs before each pass and after the last. Its wall time is a
  *    host-health measurement with a KNOWN workload: across healthy runs
  *    it is near-constant, so a run whose calib values sit far above the
  *    historical band is self-evidently host-tainted, and the per-query
  *    numbers can be discounted (or rescaled) by the calib ratio without
  *    re-running anything.
  *
  * The warm-up sweep is timed too: its seconds are the query's `cold`
  * cost (training, memo builds, first codegen), the passes its `warm`.
  *
  * The stdout line carries the totals, the per-pass totals and the
  * calib series, and stays short enough for a caller that keeps only
  * the tail of stdout; the per-query detail goes to the
  * `bench_per_query.json` sidecar and stderr.
  *
  * The session comes from [[GraftSession.local]]; its sized codegen
  * cache, and why a many-query run needs it, is documented there.
  * `SPARK_GRAFT_ONLY=q` times one query: a warm-up, then three timed
  * passes.
  */
object Bench {

  /** A query's warm-up seconds and the min and max of its timed passes;
    * -1 marks a failed run.
    */
  final case class Times(cold: Double, min: Double, max: Double)

  /** Sidecar detail: per-query `{"min":…,"max":…,"cold":…}`. max >> min
    * fingerprints a one-sided host stall; max ~= min across INTERLEAVED
    * passes means the cost is real. Pure so the schema is spec-checked.
    */
  def sidecarJson(results: Seq[(String, Times)]): String =
    results.map { case (k, t) =>
      "\"" + k + "\":" + f"""{"min":${t.min}%.4f,"max":${t.max}%.4f,"cold":${t.cold}%.4f}"""
    }.mkString("{", ",", "}")

  /** Fixed-work CPU probe: `CalibIters` xorshift64 steps on one thread.
    * Pure register arithmetic — wall time is a direct read of how much
    * CPU the host is actually delivering. Returns seconds; the folded
    * state defeats dead-code elimination.
    */
  val CalibIters: Long = 400000000L

  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < CalibIters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 0L) System.err.println("[bench] calib state zero") // keep x live
    dt
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected = SparkEntry.selectQueries(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.local()
    val ordered = selected.toIndexedSeq.sortBy(_._1)

    // One sweep over the suite: each query's produced seconds, -1 for a
    // failed run (a failure must look like one, not like a fast run).
    def sweep(): Seq[Double] = ordered.map { case (name, fn) =>
      SparkEntry.produce(name, fn(spark, sfDir), SparkEntry.noop)
    }

    // JIT the probe itself before trusting its first reading.
    calibrate()

    // The JVM's and the session's first job (class loading, the first
    // parquet read, the first shuffle) is no query's cost: one
    // throwaway job pays it, reported as its own key.
    val firstJob = SparkEntry.produce("first_job", graft.etl.Ingest.table(spark, sfDir, "events")
      .groupBy("event_type").count(), SparkEntry.noop)

    // The warm-up sweep absorbs codegen and parquet-footer cost, fills
    // the plan-canonical caches and trains the memos, so the timed
    // passes measure steady-state serving.
    val cold = sweep()
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passes = Seq.fill(3) { calibs += calibrate(); sweep() }
    calibs += calibrate()

    val results = ordered.map(_._1).zipWithIndex.map { case (name, q) =>
      val ts = passes.map(_(q))
      name -> (if (ts.exists(_ < 0)) Times(cold(q), -1.0, -1.0)
               else Times(cold(q), ts.min, ts.max))
    }
    val qs = sidecarJson(results)
    System.err.println(s"[bench] per-query: $qs")
    // The per-query map also lands at a fixed sidecar path: 331 queries
    // of detail do not fit a short stdout tail. `queries` is the
    // {"name": sec} map (min per query, the same seconds the total
    // sums); `detail` keeps min, max and cold; `memo` the memo layer's
    // counters. SPARK_GRAFT_BENCH_OUT overrides the path.
    val perQueryJson = {
      val mins = results.map { case (k, t) => "\"" + k + "\":" + f"${t.min}%.4f" }
        .mkString("{", ",", "}")
      val m = graft.ops.ModelCache.stats
      s"""{"metric":"per_query","sf":"$sfDir","queries":$mins,"detail":$qs,"memo":{"hits":${m.hits},"misses":${m.misses},"entries":${m.entries},"bytes":${m.bytes},"evictions":${m.evictions}}}"""
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_per_query.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), perQueryJson)
    catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write $out failed: ${e.getMessage}")
    }
    def okSum(xs: Seq[Double]): Double = xs.filter(_ >= 0).sum
    val total = okSum(results.map(_._2.min))
    val failed = results.count(_._2.min < 0)
    def arr(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    // cold: the warm-up sweep's produced seconds. first_job: the
    // throwaway job's seconds. calib: fixed-work probe seconds (healthy
    // band ~ the committed history; >>band ⇒ host-tainted). passes:
    // per-pass totals (divergence ⇒ within-run drift; the min-aggregate
    // already routes around it).
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"failed":$failed,"cold":${okSum(cold)}%.3f,"first_job":$firstJob%.3f,"calib":${arr(calibs.toSeq)},"passes":${arr(passes.map(okSum))},"sf":"$sfDir"}""")
    spark.stop()
  }
}
