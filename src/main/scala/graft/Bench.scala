package graft

/** Benchmark main: one JSON line with the suite total at
  * SPARK_GRAFT_SF_DIR, plus a per-query sidecar.
  *
  * Estimator design — this host (a microVM) shows two distinct failure
  * modes the harness must defend the artifact against:
  *
  *  1. ONE-SIDED STALLS (seconds): scheduling freezes that inflate a
  *     single measurement. Defense: min over repeated runs.
  *  2. SUSTAINED DEGRADATION (minutes–the whole run): the round-5
  *     artifact was taken during a host slowdown spanning every query;
  *     back-to-back min-of-3 per query cannot see it, because all three
  *     samples sit inside the degraded window and max≈min then reads as
  *     "real cost".
  *
  * Against (2) the harness does two things:
  *
  *  - PASS INTERLEAVING: after one untimed warm-up sweep, the suite runs
  *    as THREE FULL TIMED PASSES (every query once per pass, sorted
  *    order), and each query reports the min across passes. A query's
  *    three samples are now minutes apart, so a degradation window must
  *    span the entire run — not just three consecutive seconds — to
  *    taint a query's min.
  *  - CPU CALIBRATION PROBES: a fixed-work single-threaded spin
  *    (xorshift, constant iteration count — no I/O, no JVM allocation)
  *    runs before each pass and after the last. Its wall time is a
  *    host-health measurement with a KNOWN workload: across healthy
  *    rounds it is near-constant, so a future artifact whose calib
  *    values sit far above the historical band is self-evidently
  *    host-tainted, and the per-query numbers can be discounted (or
  *    rescaled) by the calib ratio without re-running anything.
  *
  * The stdout line carries the per-pass totals and the calib series
  * (short — the driver's stdout tail capture is ~2 KB); the per-query
  * min/max detail goes to the `bench_queries.json` sidecar and stderr.
  *
  * The session comes from [[GraftSession.local]]; its sized codegen
  * cache, and why a many-query run needs it, is documented there.
  * `SPARK_GRAFT_BENCH_ONLY=q` times one query: a warm-up, then three
  * timed passes.
  */
object Bench {

  /** Sidecar line: per-query `{"min":…,"max":…}` of the timed runs.
    * max >> min fingerprints a one-sided host stall; max ~= min across
    * INTERLEAVED passes means the cost is real. Pure so the schema is
    * spec-checked.
    */
  def sidecarJson(results: Seq[(String, (Double, Double))]): String =
    results.map { case (k, (mn, mx)) =>
      "\"" + k + "\":" + f"""{"min":$mn%.4f,"max":$mx%.4f}"""
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
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run — an iteration aid;
    // the driver's full run leaves it unset
    val selected = SparkEntry.selectQueries(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val spark = GraftSession.local()
    val ordered = selected.toSeq.sortBy(_._1)

    // SPARK_GRAFT_BENCH_EVICT=N clears the plan-canonical cache registry
    // every N queries (same positions in warm-up and every timed pass).
    // This is the SCALE-RUN memory bound (r11 verdict item 4): the suite
    // holds ~all family caches simultaneously by design — the modeled
    // train-once/serve-many workflow — which at ×10 data exceeds the
    // 16 GiB default heap, previously forcing SPARK_DRIVER_MEM=64g.
    // Periodic eviction caps simultaneous cache volume at one window's
    // worth. The cost model: queries right after an eviction boundary
    // rebuild their family's shared cache IN EVERY PASS, inflating their
    // min — so the knob stays UNSET for the driver's headline artifact
    // (numbers stay comparable across rounds) and is set by the ×10/×100
    // harness where fitting in the default heap is the requirement.
    // ModelCache.clear() rides the same boundary (r12 verdict item 7):
    // the driver memos — trained models AND the localCheckpoint'd
    // edge/arc/index artifacts — are part of the cache volume the knob
    // exists to bound, not an exemption from it. Dropping the memo
    // reference is the release mechanism for checkpointed frames (the
    // ContextCleaner reclaims the backing blocks once unreferenced).
    val evictEvery = sys.env.get("SPARK_GRAFT_BENCH_EVICT").map(_.toInt)
    def maybeEvict(i: Int): Unit = evictEvery.foreach { n =>
      if ((i + 1) % n == 0) {
        spark.catalog.clearCache()
        graft.ops.ModelCache.clear()
      }
    }

    // JIT the probe itself before trusting its first reading.
    calibrate()

    // Warm-up sweep: absorbs JVM/codegen/parquet-footer cost, populates
    // the plan-canonical caches, and trains the ModelCache artifacts —
    // so every timed pass below measures steady-state serving, the
    // cluster-relevant number. A warm-up failure is logged (not
    // swallowed): it predicts timed failures below.
    ordered.zipWithIndex.foreach { case ((name, fn), i) =>
      try { fn(spark, sfDir).count(); () } catch { case e: Throwable =>
        System.err.println(s"[bench] $name warm-up failed: ${e.getMessage}")
      }
      maybeEvict(i)
    }

    val passes = 3
    // times(q) accumulates that query's per-pass seconds; -1 marks a
    // failed run — a failure must look like one, not like a fast run.
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    val passTotals = new Array[Double](passes)
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (p <- 0 until passes) {
      calibs += calibrate()
      ordered.zipWithIndex.foreach { case ((name, fn), i) =>
        val t0 = System.nanoTime()
        val dt =
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
          }
        times.updateWith(name)(prev => Some(dt :: prev.getOrElse(Nil)))
        if (dt >= 0) passTotals(p) += dt
        maybeEvict(i)
      }
    }
    calibs += calibrate()

    val results = ordered.map { case (name, _) =>
      val ts = times.getOrElse(name, Nil)
      if (ts.exists(_ < 0)) name -> (-1.0, -1.0)
      else name -> (ts.min, ts.max)
    }
    // SPARK_GRAFT_BENCH_MEMOBYTES=1: report the bytes pinned by the
    // session's cached/checkpointed artifacts (the kNN edge/arc sets,
    // the cross-probe index, the pair-surface memos) before and after
    // a full evict — the measured answer to "do the session memos stay
    // artifact-sized?" (r13 verdict item 5). The after-evict read polls
    // briefly: checkpointed blocks are reclaimed by the ContextCleaner
    // once the memo reference drops, which is asynchronous.
    if (sys.env.contains("SPARK_GRAFT_BENCH_MEMOBYTES")) {
      def storage(tag: String): Unit = {
        val infos = spark.sparkContext.getRDDStorageInfo
        System.err.println(s"[bench] memo-bytes $tag: " +
          s"rdds=${infos.length} mem=${infos.map(_.memSize).sum} " +
          s"disk=${infos.map(_.diskSize).sum} " +
          s"memoEntries=${graft.ops.ModelCache.size}")
      }
      storage("before-evict")
      spark.catalog.clearCache()
      graft.ops.ModelCache.clear()
      (0 until 10).foreach { _ => System.gc(); Thread.sleep(500) }
      storage("after-evict")
    }
    val qs = sidecarJson(results)
    System.err.println(s"[bench] per-query: $qs")
    // r17 (verdict item 1): the per-query map also lands at a FIXED
    // sidecar path the driver can read — the stdout/stderr tail capture
    // is ~2 KB, far smaller than 331 queries of min/max, so per-query
    // regression detection was blind (PERF per_query empty since ~r12).
    // `queries` is the contract's {"name": sec} map (min per query, the
    // same seconds the total sums); `detail` keeps the min/max pairs.
    // Additive only: the timing protocol and the final total line are
    // untouched. SPARK_GRAFT_BENCH_OUT overrides the path.
    val perQueryJson = {
      val mins = results.map { case (k, (mn, _)) =>
        "\"" + k + "\":" + f"$mn%.4f"
      }.mkString("{", ",", "}")
      s"""{"metric":"per_query","sf":"$sfDir","queries":$mins,"detail":$qs}"""
    }
    def writeSidecar(path: String, body: String): Unit =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          body.getBytes("UTF-8"))
        ()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sidecar write $path failed: ${e.getMessage}")
      }
    writeSidecar("bench_queries.json", qs)
    writeSidecar(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_per_query.json"),
      perQueryJson)
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val failed = results.count(_._2._1 < 0)
    def arr(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    // calib: fixed-work probe seconds (healthy band ~ the committed
    // history; >>band ⇒ host-tainted artifact). passes: per-pass totals
    // (divergence ⇒ within-run drift; the min-aggregate already routes
    // around it).
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"failed":$failed,"calib":${arr(calibs.toSeq)},"passes":${arr(passTotals.toIndexedSeq)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
