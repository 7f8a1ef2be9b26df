package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.perfbench.SparkBridge
import graft.{Main, SparkEntry}
import graft.etl.{Billing, DumpConvert, Enrich, Ingest, InvoiceSink}
import graft.ops.ModelCache
import graft.sql.RuntimeSql

/** One benchmark run of one workload in one JVM:
  *
  *   Harness --workload NAME --data DIR --work DIR --spans FILE --seconds S
  *     --trace 0|1 --cpus N --rows INPUT_ROWS --queries q1,q2,...
  *
  * `--queries` lists the analytics_mix queries in run order; `--spans`
  * receives the traced run's spans.
  *
  * Untraced (`--trace 0`): build the session in the fresh JVM (the
  * set-up time), run the first (cold) job, repeat warm jobs for S seconds
  * and check every output. Traced (`--trace 1`):
  * the same cold job and a few untraced warm jobs, then jobs split at each
  * layer boundary into spans. Prints one `PERFBENCH_RESULT {json}` line.
  */
object Harness {

  /** Warm jobs per run at the least, so that job_s is a median of several. */
  val MinWarm = 3

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val out =
      try new Harness(a).run()
      catch { case NonFatal(e) =>
        e.printStackTrace()
        sys.exit(2)
      }
    println("PERFBENCH_RESULT " + out)
    System.out.flush()
    sys.exit(0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString
}

final class Harness(a: Args) {
  import Harness._

  private val workload = a("workload")
  private val data = Paths.get(a("data"))
  private val work = Paths.get(a("work"))
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val cpus = a("cpus")
  private val tmp = Paths.get(sys.props("java.io.tmpdir"))
  // input rows of the workload, the numerator of rows_per_s
  private val rows = a("rows").toLong

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  private def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  def buildSession(): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()

  def run(): String = {
    CodegenFallbacks.install()
    val calibStart = graft.Bench.calibrate()
    val (spark0, setup0) = timed(buildSession())
    spark0.sparkContext.setLogLevel("WARN")
    val w: Workload = workload match {
      case "billing_month" | "billing_dump_skewed" => new BillingWorkload(spark0)
      case "analytics_mix" => new AnalyticsWorkload(spark0)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.execute()
    spark0.stop()
    val calibEnd = graft.Bench.calibrate()
    if (!traced) {
      // the one session build a user pays for: the first, in a fresh JVM
      metric("setup_s", setup0, "s")
      metric("peak_rss_mb", peakRssMb, "MB")
    }
    notes += s""""calib_s":[${num(calibStart)},${num(calibEnd)}]"""
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{$ms},"detail":{${notes.mkString(",")}}}"""
  }

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    System.err.println(s"[perfbench] $what failed: $e")
    notes += s""""error_${notes.size}":"${what.replace("\"", "'")}: ${
      String.valueOf(e.getMessage).take(200).replaceAll("[\"\\\\\\n\\r\\t]", " ")}""""
  }

  private trait Workload { def execute(): Unit }

  /** Cache and codegen counters of the cold job and of the last warm job. */
  private var coldCounts = (0L, 0L, 0L)
  private var warmCounts = (0L, 0L)

  /** Shared shape of the untraced measurement: the cold job, then warm
    * jobs for the run's seconds (at least `MinWarm`). Only `job(i)` is
    * timed; it returns whether its time is a real one, since a job that
    * threw or skipped work has none and a failure must never read as a
    * fast time. `prepare` and `verify` run untimed around it; `verify`
    * counts a wrong output as failed. Without a cold time or any warm
    * time the run fails.
    */
  private def measure(prepare: () => Unit, job: Int => Boolean, verify: () => Unit,
      stateRows: Long): Seq[Double] = {
    def attempt(i: Int): Option[Double] = {
      attempted += 1
      try {
        prepare()
        val (valid, dt) = timed(job(i))
        verify()
        if (valid) Some(dt) else None
      } catch { case NonFatal(e) => fail(s"job $i", e); None }
    }
    val (e0, c0, f0) = (ModelCache.size, SparkBridge.codegenCompiles, CodegenFallbacks.count)
    val cold = attempt(0).getOrElse(throw new IllegalStateException("the cold job failed"))
    coldCounts = (ModelCache.size - e0, SparkBridge.codegenCompiles - c0,
      CodegenFallbacks.count - f0)
    val warm = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 1
    while ((System.nanoTime() - t0) / 1e9 < seconds || warm.size < MinWarm) {
      val (we, wc) = (ModelCache.size, SparkBridge.codegenCompiles)
      attempt(i).foreach(warm += _)
      warmCounts = (ModelCache.size - we, SparkBridge.codegenCompiles - wc)
      i += 1
      if (warm.isEmpty && i > 2 * MinWarm)
        throw new IllegalStateException("every warm job failed")
    }
    if (!traced) {
      val jobS = median(warm.toSeq)
      metric("cold_s", cold, "s")
      metric("job_s", jobS, "s")
      metric("rows_per_s", stateRows / jobS, "1/s")
    }
    notes += s""""cold_s":${num(cold)}"""
    notes += s""""job_samples_s":[${warm.map(num).mkString(",")}]"""
    notes += s""""warm_codegen_compiles":${warmCounts._2}"""
    warm.toSeq
  }

  private def cacheMetrics(): Unit = {
    metric("ModelCache.entries_added", coldCounts._1, "count")
    metric("codegen.compiles", coldCounts._2, "count")
    metric("codegen.fallbacks", coldCounts._3, "count")
    metric("ModelCache.warm_entries_added", warmCounts._1, "count")
    metric("codegen.warm_compiles", warmCounts._2, "count")
  }

  // ------------------------------------------------------------------ billing

  private final class BillingWorkload(spark: SparkSession) extends Workload {
    private val meta = {
      val p = new java.util.Properties()
      val r = Files.newBufferedReader(data.resolve("meta.properties"))
      try p.load(r) finally r.close()
      p
    }
    private val dump = workload == "billing_dump_skewed"
    private val includeStopped = meta.getProperty("include_stopped").toBoolean
    private val outages: Seq[(String, String)] =
      meta.getProperty("outages").split(";").filter(_.nonEmpty).toSeq.map { s =>
        val Array(a, b) = s.split(",", 2); (a, b)
      }
    private val expected: Seq[String] =
      Files.readAllLines(data.resolve("expected.csv")).toArray.map(_.toString).toSeq
        .filter(_.nonEmpty)
    private val outDir = work.resolve("invoice")
    private val uploadDir = work.resolve("upload")

    private val rates = NovaMonth.NercRates.copy(includeStoppedRuntime = includeStopped)
    private def rateArgs: Seq[String] = Seq(
      "--rate-cpu-su", rates.cpu.toString, "--rate-gpu-a100-su", rates.gpuA100.toString,
      "--rate-gpu-a100sxm4-su", rates.gpuA100sxm4.toString,
      "--rate-gpu-v100-su", rates.gpuV100.toString, "--rate-gpu-a2-su", rates.gpuA2.toString,
      "--rate-gpu-k80-su", rates.gpuK80.toString)

    private def mainArgs: Seq[String] =
      (if (dump) Seq("--dump-file", data.resolve("nova.sql.gz").toString)
       else Seq("--data-dir", data.resolve("nova").toString)) ++
        Seq("--output-dir", outDir.toString,
          "--start", NovaMonth.WindowStart.toString, "--end", NovaMonth.WindowEnd.toString,
          "--invoice-month", NovaMonth.InvoiceMonth,
          "--upload-dest", uploadDir.toUri.toString) ++ rateArgs ++
        outages.flatMap { case (s, e) => Seq("--exclude-interval", s"$s,$e") } ++
        (if (includeStopped) Seq("--include-stopped-runtime") else Nil)

    /** The billing job's temporaries (dump conversion, staging) and
      * outputs, removed between jobs so every job starts from the input.
      */
    private def clean(): Unit = {
      deleteTree(outDir); deleteTree(uploadDir)
      val s = Files.list(tmp)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith("graft-")).foreach(deleteTree)
      finally s.close()
    }

    /** Invoice rows equal the driver-side fold, ignoring `Generated At`,
      * and the upload wrote the same bytes to all three keys.
      */
    private def check(): Boolean = {
      val bytes = InvoiceSink.readCsvBytes(outDir.toString)
      val lines = new String(bytes, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
      val header = lines.headOption.getOrElse("")
      val got = lines.drop(1).map(_.split(",", -1).dropRight(1).mkString(",")).sorted
      val uploads = {
        val s = Files.walk(uploadDir)
        try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).toSeq
        finally s.close()
      }.filterNot(_.getFileName.toString.startsWith("."))
      val ok = header == InvoiceSink.CsvHeader.mkString(",") && got == expected &&
        uploads.size == 3 && uploads.forall(p => java.util.Arrays.equals(Files.readAllBytes(p), bytes))
      if (!ok) {
        val missing = expected.diff(got).take(2)
        val extra = got.diff(expected).take(2)
        System.err.println(s"[perfbench] invoice mismatch: rows ${got.size}/${expected.size} " +
          s"uploads ${uploads.size}; missing ${missing.mkString(" | ")}; unexpected ${extra.mkString(" | ")}")
        notes += s""""invoice_mismatch":{"rows":${got.size},"expected":${expected.size},"missing":${expected.diff(got).size},"unexpected":${got.diff(expected).size}}"""
      }
      ok
    }

    def execute(): Unit = {
      // a wrong invoice still took the whole job's time, so it stays valid
      val warm = measure(() => clean(),
        _ => { Main.run(Main.parseArgs(mainArgs), spark); true },
        () => if (!check()) failed += 1, rows)
      if (traced) {
        val untraced = median(warm)
        val tr = new Tracer(spark)
        val times = mutable.ArrayBuffer.empty[Double]
        val t0 = System.nanoTime()
        var k = 0
        while (k < 2 || ((System.nanoTime() - t0) / 1e9 < seconds && k < 5)) {
          attempted += 1
          try {
            clean()
            tr.begin(k, "billing_job")
            times += timed(tracedJob(tr, k))._2
            if (!check()) failed += 1
          } catch { case NonFatal(e) => fail(s"traced job $k", e) }
          k += 1
        }
        tr.write(Paths.get(a("spans")))
        layerMetrics(tr, times.toSeq, untraced)
      }
      clean()
    }

    private val counts = mutable.LinkedHashMap.empty[String, Double]

    private def ck(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

    /** The billing job split at each layer boundary. Each layer's output
      * is materialized with an eager local checkpoint before the next
      * call, so a span holds one layer's work.
      */
    private def tracedJob(tr: Tracer, k: Int): Unit = {
      val startUs = NovaMonth.us(NovaMonth.WindowStart)
      val endUs = NovaMonth.us(NovaMonth.WindowEnd)
      val outagesUs = outages.map { case (s, e) =>
        (NovaMonth.us(java.time.LocalDateTime.parse(s)), NovaMonth.us(java.time.LocalDateTime.parse(e)))
      }
      val dataDir =
        if (dump) {
          val stageDir = Files.createDirectories(tmp.resolve(s"graft-stage-$k"))
          val staged = tr.span("DumpConvert.stage") {
            DumpConvert.stageSplittable(spark, data.resolve("nova.sql.gz").toString,
              stageDir.toString)
          }
          counts("DumpConvert.stage_bytes") =
            Files.size(Paths.get(new org.apache.hadoop.fs.Path(staged).toUri.getPath))
          val conv = tmp.resolve(s"graft-convert-$k")
          tr.span("DumpConvert.parse") { DumpConvert.convert(spark, staged, conv.toString) }
          counts("DumpConvert.rows_out") = DumpConvert.tableSchemas.keys.toSeq
            .map(t => spark.read.parquet(conv.resolve(s"$t.parquet").toString).count()).sum
          counts("DumpConvert.parquet_bytes") = dirBytes(conv)
          conv.toString
        } else data.resolve("nova").toString
      val (instances, extra, actions) = tr.span("Ingest.scan") {
        (ck(Ingest.table(spark, dataDir, "instances")),
          ck(Ingest.table(spark, dataDir, "instance_extra")),
          ck(Ingest.table(spark, dataDir, "instance_actions")))
      }
      val nInstances = instances.count()
      val nActions = actions.count()
      counts("Ingest.rows") = nInstances + extra.count() + nActions
      counts("Ingest.input_bytes") = Seq("instances", "instance_extra", "instance_actions")
        .map(t => dirBytes(Paths.get(dataDir, s"$t.parquet"))).sum
      val enriched = tr.span("Enrich") { ck(Enrich.enrichInstances(instances, extra, startUs)) }
      counts("Enrich.rows_in") = nInstances
      counts("Enrich.rows_out") = enriched.count()

      // Billing.instanceSuHours's input shaping, so that its two
      // RuntimeSql calls can be spanned on their own
      val tie =
        if (actions.columns.contains("id")) col("id").cast("long")
        else monotonically_increasing_id()
      val shaped = actions.select(col("instance_uuid").as("key"),
        unix_micros(col("created_at")).as("ts_us"), tie.as("tie"),
        RuntimeSql.mapState(col("action"), col("message")).as("state"))
      val deleted = enriched.filter(col("deleted_at").isNotNull)
        .select(col("uuid").as("key"), unix_micros(col("deleted_at")).as("deleted_at_us"))
      val runs = tr.span("RuntimeSql.state_runs") {
        ck(RuntimeSql.stateRuns(shaped, Some(deleted)))
      }
      val nRuns = runs.count()
      counts("RuntimeSql.events_in") = nActions
      counts("RuntimeSql.runs_out") = nRuns
      counts("RuntimeSql.merge_ratio") = nRuns.toDouble / math.max(1L, nActions)
      val excluding = RuntimeSql.runtimeExcluding(runs, startUs, endUs, outagesUs)
      tr.span("RuntimeSql.excluding") { ck(excluding) }
      // rows the run-by-interval join produced, read from the executed plan
      counts("RuntimeSql.interval_rows") = PlanRows.joinOutputRows(excluding)
      val su = tr.span("Billing.su_hours") {
        ck(Billing.instanceSuHours(actions, enriched, rates, startUs, endUs, outagesUs))
      }
      counts("Billing.instances_billed") = su.count()
      val invoices = tr.span("Billing.invoices") { ck(Billing.projectInvoices(su, rates)) }
      counts("Billing.invoice_rows") = invoices.count()
      tr.span("InvoiceSink.csv") {
        InvoiceSink.writeCsv(InvoiceSink.csvRows(invoices, NovaMonth.InvoiceMonth,
          NovaMonth.iso(NovaMonth.StartS), NovaMonth.iso(NovaMonth.EndS),
          java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
            .truncatedTo(java.time.temporal.ChronoUnit.SECONDS).toString), outDir.toString)
      }
      counts("InvoiceSink.csv_bytes") = InvoiceSink.readCsvBytes(outDir.toString).length
      tr.span("InvoiceSink.upload") {
        val root = new org.apache.hadoop.fs.Path(uploadDir.toUri.toString)
        InvoiceSink.uploadInvoice(InvoiceSink.readCsvBytes(outDir.toString),
          NovaMonth.InvoiceMonth, endUs, java.time.Instant.now(),
          InvoiceSink.fsPut(root.getFileSystem(spark.sessionState.newHadoopConf()), root))
      }
    }

    private def layerMetrics(tr: Tracer, traced: Seq[Double], untraced: Double): Unit = {
      def spanMedian(name: String, f: Span => Double): Double =
        median(tr.spans.filter(_.name == name).map(f).toSeq)
      def s(name: String) = spanMedian(name, _.seconds)
      metric("DumpConvert.stage_s", s("DumpConvert.stage"), "s")
      metric("DumpConvert.stage_bytes", counts.getOrElse("DumpConvert.stage_bytes", 0), "bytes")
      metric("DumpConvert.parse_s", s("DumpConvert.parse"), "s")
      metric("DumpConvert.rows_out", counts.getOrElse("DumpConvert.rows_out", 0), "count")
      metric("DumpConvert.parquet_bytes", counts.getOrElse("DumpConvert.parquet_bytes", 0), "bytes")
      metric("Ingest.scan_s", s("Ingest.scan"), "s")
      metric("Ingest.rows", counts("Ingest.rows"), "count")
      metric("Ingest.input_bytes", counts("Ingest.input_bytes"), "bytes")
      metric("Enrich.s", s("Enrich"), "s")
      metric("Enrich.rows_in", counts("Enrich.rows_in"), "count")
      metric("Enrich.rows_out", counts("Enrich.rows_out"), "count")
      metric("RuntimeSql.state_runs_s", s("RuntimeSql.state_runs"), "s")
      metric("RuntimeSql.events_in", counts("RuntimeSql.events_in"), "count")
      metric("RuntimeSql.runs_out", counts("RuntimeSql.runs_out"), "count")
      metric("RuntimeSql.merge_ratio", counts("RuntimeSql.merge_ratio"), "ratio")
      metric("RuntimeSql.excluding_s", s("RuntimeSql.excluding"), "s")
      metric("RuntimeSql.interval_rows", counts("RuntimeSql.interval_rows"), "count")
      metric("RuntimeSql.task_skew", spanMedian("RuntimeSql.state_runs", _.taskSkew), "ratio")
      metric("Billing.su_hours_s", s("Billing.su_hours"), "s")
      metric("Billing.instances_billed", counts("Billing.instances_billed"), "count")
      metric("Billing.invoices_s", s("Billing.invoices"), "s")
      metric("Billing.invoice_rows", counts("Billing.invoice_rows"), "count")
      metric("InvoiceSink.csv_s", s("InvoiceSink.csv"), "s")
      metric("InvoiceSink.csv_bytes", counts("InvoiceSink.csv_bytes"), "bytes")
      metric("InvoiceSink.upload_s", s("InvoiceSink.upload"), "s")
      OpsGroups.foreach(g => metric(s"$g.s", 0, "s"))
      spanCounters(tr, BillingSpans)
      OpsGroups.foreach(g => zeroCounters(g, OpsCounters))
      cacheMetrics()
      traceOverhead(traced, untraced)
    }
  }

  /** Spans whose task counters are reported, and which counters. */
  private val BillingSpans = Seq("DumpConvert.parse", "Ingest.scan", "Enrich",
    "RuntimeSql.state_runs", "RuntimeSql.excluding", "Billing.su_hours")
  private val BillingCounters = Seq("tasks", "task_busy_s", "scheduler_wait_s",
    "shuffle_write_bytes", "shuffle_records", "spill_bytes", "gc_s")
  private val OpsGroups = Seq("DedupOps", "SimilarityOps", "RetrievalOps", "TextOps",
    "StatsOps", "GraphOps", "TimeSeriesOps", "Layout")
  private val OpsCounters = Seq("tasks", "task_busy_s", "shuffle_write_bytes",
    "shuffle_records", "spill_bytes")

  private def counterValue(sp: Span, c: String): Double = c match {
    case "tasks" => sp.tasks.toDouble
    case "task_busy_s" => sp.busyS
    case "scheduler_wait_s" => sp.waitS
    case "shuffle_write_bytes" => sp.shuffleWriteBytes.toDouble
    case "shuffle_records" => sp.shuffleRecords.toDouble
    case "spill_bytes" => sp.spillBytes.toDouble
    case "gc_s" => sp.gcS
  }
  private def counterUnit(c: String): String =
    if (c.endsWith("_s")) "s" else if (c.endsWith("_bytes")) "bytes" else "count"

  /** Per-span task counters: the median over the run's traced jobs of
    * each counter (counts repeat exactly from job to job).
    */
  private def spanCounters(tr: Tracer, names: Seq[String]): Unit =
    names.foreach { n =>
      val spans = tr.spans.filter(_.name == n).toSeq
      BillingCounters.foreach { c =>
        metric(s"$n.$c", median(spans.map(counterValue(_, c))), counterUnit(c))
      }
    }

  private def zeroCounters(n: String, cs: Seq[String]): Unit =
    cs.foreach(c => metric(s"$n.$c", 0, counterUnit(c)))

  private def traceOverhead(traced: Seq[Double], untraced: Double): Unit = {
    val t = median(traced)
    metric("trace.job_s", t, "s")
    metric("trace.overhead_s", t - untraced, "s")
    notes += s""""traced_job_samples_s":[${traced.map(num).mkString(",")}]"""
  }

  // ---------------------------------------------------------------- analytics

  private final class AnalyticsWorkload(spark: SparkSession) extends Workload {
    private val queries: Seq[String] = a("queries").split(",").toSeq
    private val dir = data.toString
    private val resultDir = work.resolve("results")

    private def group(q: String): String =
      if (q.startsWith("dedup_")) "DedupOps"
      else if (q.startsWith("sim_")) "SimilarityOps"
      else if (q.startsWith("ret_")) "RetrievalOps"
      else if (q.startsWith("text_") || q.startsWith("eval_")) "TextOps"
      else if (q.startsWith("graph_")) "GraphOps"
      else if (q.startsWith("ts_")) "TimeSeriesOps"
      else if (q.startsWith("layout_")) "Layout"
      else "StatsOps"

    private def df(q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

    /** Fully produce `q`'s result: every column of every row is computed
      * and written to parquet under `tag`, where the oracle check reads it.
      */
    private def produce(q: String, tag: String): Unit =
      df(q).write.mode("overwrite").parquet(resultDir.resolve(tag).resolve(q).toString)

    private val broken = mutable.Set.empty[String]

    /** One pass over every query. A failing query counts as failed and
      * the pass goes on, but the pass then has no valid time.
      */
    private def pass(tag: String, tr: Option[Tracer]): Boolean =
      queries.map { q =>
        try {
          val dt = timed(tr match {
            case Some(t) => t.span(group(q)) { produce(q, tag) }
            case None => produce(q, tag)
          })._2
          System.err.println(f"[perfbench] $q%s $dt%.3f s")
          true
        } catch { case NonFatal(e) => broken += q; fail(s"query $q", e); false }
      }.forall(identity)

    def execute(): Unit = {
      // the cold pass keeps its results; each warm pass overwrites the
      // previous one's, so the last warm results remain for the check
      val warm = measure(() => (), i => pass(if (i == 0) "cold" else "warm", None), () => (),
        rows)
      // every pass attempted every query
      attempted = attempted * queries.size
      if (traced) {
        val tr = new Tracer(spark)
        val times = mutable.ArrayBuffer.empty[Double]
        val t0 = System.nanoTime()
        var k = 0
        while (k < 2 || ((System.nanoTime() - t0) / 1e9 < seconds && k < 5)) {
          tr.begin(k, "analytics_pass")
          attempted += queries.size
          val (ok, dt) = timed(pass("traced", Some(tr)))
          if (ok) times += dt
          k += 1
        }
        tr.write(Paths.get(a("spans")))
        val perPass = tr.spans.groupBy(_.trace).values.toSeq
        zeroBilling()
        OpsGroups.foreach { g =>
          val byPass = perPass.map(_.filter(_.name == g))
          metric(s"$g.s", median(byPass.map(_.map(_.seconds).sum)), "s")
          OpsCounters.foreach { c =>
            metric(s"$g.$c", median(byPass.map(_.map(counterValue(_, c)).sum)), counterUnit(c))
          }
        }
        cacheMetrics()
        traceOverhead(times.toSeq, median(warm))
      }
      Files.write(work.resolve("oracle.json"), oracleJson.getBytes("UTF-8"))
      notes += s""""broken_queries":[${broken.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]"""
    }

    private def zeroBilling(): Unit = {
      Seq("DumpConvert.stage_s" -> "s", "DumpConvert.stage_bytes" -> "bytes",
        "DumpConvert.parse_s" -> "s", "DumpConvert.rows_out" -> "count",
        "DumpConvert.parquet_bytes" -> "bytes", "Ingest.scan_s" -> "s", "Ingest.rows" -> "count",
        "Ingest.input_bytes" -> "bytes", "Enrich.s" -> "s", "Enrich.rows_in" -> "count",
        "Enrich.rows_out" -> "count", "RuntimeSql.state_runs_s" -> "s",
        "RuntimeSql.events_in" -> "count", "RuntimeSql.runs_out" -> "count",
        "RuntimeSql.merge_ratio" -> "ratio", "RuntimeSql.excluding_s" -> "s",
        "RuntimeSql.interval_rows" -> "count", "RuntimeSql.task_skew" -> "ratio",
        "Billing.su_hours_s" -> "s", "Billing.instances_billed" -> "count",
        "Billing.invoices_s" -> "s", "Billing.invoice_rows" -> "count",
        "InvoiceSink.csv_s" -> "s", "InvoiceSink.csv_bytes" -> "bytes",
        "InvoiceSink.upload_s" -> "s").foreach { case (n, u) => metric(n, 0, u) }
      BillingSpans.foreach(zeroCounters(_, BillingCounters))
    }

    private def oracleJson: String = {
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
      val oracle = SparkEntry.oracleSql
      queries.map(q => s""""$q":"${esc(oracle.getOrElse(q, ""))}"""")
        .mkString(s"""{"broken":[${broken.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}],"sql":{""",
          ",", "}}")
    }
  }
}
