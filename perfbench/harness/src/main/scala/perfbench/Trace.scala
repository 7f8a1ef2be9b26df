package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.perfbench.SparkBridge

/** Task counters of one stage, summed from `SparkListenerTaskEnd`. */
final class StageStats {
  var tasks = 0L
  var busyMs = 0L
  var waitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val durationsMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/** Attributes every finished task to the span whose id the submitting
  * thread carried in the `perfbench.span` local property (Spark copies
  * local properties into broadcast and subquery threads, so their jobs
  * land in the same span).
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val bySpan = new ConcurrentHashMap[String, mutable.Map[Int, StageStats]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(SpanListener.Key)).orNull
    if (span != null) e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val at: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmitted.put(e.stageInfo.stageId, at)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span == null || m == null) return
    val stages = bySpan.computeIfAbsent(span, _ => mutable.Map.empty)
    stages.synchronized {
      val st = stages.getOrElseUpdate(e.stageId, new StageStats)
      st.tasks += 1
      st.busyMs += m.executorRunTime
      val submitted = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
        .getOrElse(e.taskInfo.launchTime)
      st.waitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.gcMs += m.jvmGCTime
      st.durationsMs += e.taskInfo.duration
    }
  }

  /** Remove and return the stages recorded for span instance `id`. */
  def take(id: String): Seq[StageStats] =
    Option(bySpan.remove(id)).map(s => s.synchronized(s.values.toSeq)).getOrElse(Nil)
}

object SpanListener { val Key = "perfbench.span" }

/** One closed span: name, owning trace (one traced job), wall interval
  * and the task counters of the Spark work it caused.
  */
final case class Span(name: String, trace: Int, parent: String, startNs: Long,
    endNs: Long, stages: Seq[StageStats]) {
  def seconds: Double = (endNs - startNs) / 1e9
  private def sum(f: StageStats => Long): Long = stages.map(f).sum
  def tasks: Long = sum(_.tasks)
  def busyS: Double = sum(_.busyMs) / 1e3
  def waitS: Double = sum(_.waitMs) / 1e3
  def shuffleWriteBytes: Long = sum(_.shuffleWriteBytes)
  def shuffleRecords: Long = sum(_.shuffleRecords)
  def spillBytes: Long = sum(_.spillBytes)
  def gcS: Double = sum(_.gcMs) / 1e3

  /** Slowest over median task duration in the span's busiest stage. */
  def taskSkew: Double =
    if (stages.isEmpty) 0.0
    else {
      val d = stages.maxBy(_.busyMs).durationsMs.sorted
      if (d.isEmpty) 0.0 else d.last.toDouble / math.max(1L, d(d.length / 2))
    }

  def toJson: String =
    s"""{"name":"$name","trace":$trace,"parent":"$parent","start_ns":$startNs,"end_ns":$endNs,""" +
      s""""tasks":$tasks,"task_busy_s":$busyS,"scheduler_wait_s":$waitS,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"shuffle_records":$shuffleRecords,""" +
      s""""spill_bytes":$spillBytes,"gc_s":$gcS}"""
}

/** Spans recorded by the benchmark around its calls into each layer.
  * Spans stay in memory; [[write]] puts them on disk at the end.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new SpanListener
  sc.addSparkListener(listener)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var trace = 0
  private var parent = ""

  /** Open trace `t`: later spans share its id and name `root` as parent. */
  def begin(t: Int, root: String): Unit = { trace = t; parent = root }

  def span[T](name: String)(body: => T): T = {
    val id = s"$name#${spans.size}"
    sc.setLocalProperty(SpanListener.Key, id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(SpanListener.Key, null)
      SparkBridge.drainListenerBus(sc)
      spans += Span(name, trace, parent, t0, t1, listener.take(id))
    }
  }

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, spans.map(_.toJson).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

/** Counts whole-stage-codegen compile failures ("grows beyond 64 KB"),
  * after which Spark silently falls back to interpreted execution. Spark
  * only logs them, so the count comes from a log4j appender.
  */
object CodegenFallbacks {
  private val TooLarge = "grows beyond 64 KB"
  private val n = new AtomicLong
  def count: Long = n.get

  def install(): Unit = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("perfbench-codegen-fallbacks", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        // the 64 KB limit is named by the innermost cause only
        val causes = Iterator.iterate(e.getThrown)(_.getCause).takeWhile(_ != null).take(64)
        if ((Iterator.single(e.getMessage.getFormattedMessage) ++
            causes.map(t => String.valueOf(t.getMessage))).exists(_.contains(TooLarge)))
          n.incrementAndGet()
      }
    }
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }
}

/** Row counts the program's own executed plans report. */
object PlanRows extends AdaptiveSparkPlanHelper {

  /** Output rows of every join in `df`'s executed plan (adaptive stages
    * included), summed. Only meaningful after `df` has been executed.
    */
  def joinOutputRows(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case j: BaseJoinExec => j }
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
}
