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

  /** `SPARK_GRAFT_BENCH_EVICT`'s query interval; below 1 fails by name. */
  def evictInterval(setting: Option[String]): Option[Int] =
    setting.map(_.toInt).map { n =>
      require(n >= 1, s"SPARK_GRAFT_BENCH_EVICT must be >= 1, got $n"); n
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run — an iteration aid;
    // the driver's full run leaves it unset
    val selected = SparkEntry.selectQueries(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val evictEvery = evictInterval(sys.env.get("SPARK_GRAFT_BENCH_EVICT"))
    val spark = GraftSession.local()
    val ordered = selected.toSeq.sortBy(_._1)

    // SPARK_GRAFT_BENCH_EVICT=N clears the cached frames and the
    // ModelCache memos every N queries (same positions in warm-up and
    // every timed pass): the scale-run memory bound, since the suite
    // holds ~all family caches at once, which at ×10 data exceeds the
    // default heap. Queries right after a boundary rebuild their
    // family's cache in every pass, so the headline run leaves it unset.
    // Dropping a memo reference lets the ContextCleaner reclaim its
    // checkpointed blocks.
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
