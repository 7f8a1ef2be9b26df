package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.util.SizeEstimator

/** The engine's one memo layer: trained model artifacts (k-means
  * centroids, PQ codebooks, DSIR models, routing statistics, recall
  * cards) and materialized frames (the tokenized corpus, shared pair
  * surfaces, persisted indexes).
  *
  * A memo's key is the op's name with its hyperparameters plus the
  * CONTENT of every input frame: the input's canonical plan, and for
  * each file it reads, the (path, length, modification time) that
  * Hadoop FS reports now. A table rewritten in place therefore misses
  * and rebuilds; a prior result is reused only while its inputs are
  * provably unchanged. An input built on a memo frame fingerprints by
  * that frame's RDD, so a rebuilt source misses its derived memos.
  *
  * Every artifact here is deterministic in its inputs (seeded init,
  * decimal-exact updates; the oracle replays each one), so a hit and a
  * rebuild are indistinguishable to any consumer.
  *
  * Two value kinds:
  *  - [[value]]: a driver value, valid in any session.
  *  - [[frame]]: a frame materialized by `localCheckpoint`, bound to its
  *    SparkContext, keyed by the context's `applicationId` and dropped
  *    when that context stops. A hit returns the same frame object, so
  *    plan-keyed caches downstream of it keep matching. A `persist`ed
  *    frame would not do: Spark's CacheManager serves a persisted plan
  *    to any later plan equal to it, stale inputs included.
  *
  * Memory is bounded by [[enforceBound]], which `SparkEntry.produce`
  * calls after each query.
  */
object ModelCache {

  private final case class Key(name: String, params: Seq[Any], inputs: Seq[String],
      appId: Option[String])

  private final class Entry(val value: AnyRef, val rdd: Option[RDD[_]], val bytes: Long) {
    @volatile var lastUse: Long = tick.incrementAndGet()
  }

  private val entries = new ConcurrentHashMap[Key, Entry]()
  private val tick, hits, misses, evictions = new AtomicLong()

  /** applicationIds whose evict-on-stop listener is registered. Kept
    * apart from the entries: [[clear]] drops entries, but the listener
    * stays on the context's bus, and re-registering it after each clear
    * would add a duplicate listener every time.
    */
  private val listenerRegistered = ConcurrentHashMap.newKeySet[String]()

  /** The driver value `name(params)` over `inputs`, computed by `train`
    * on a miss. `train` may run Spark jobs and consult the memo itself,
    * which is why this is not `computeIfAbsent`: holding a hash-bin lock
    * across a training job would block unrelated keys and throw on a
    * reentrant trainer. A rare duplicate train under a race is harmless,
    * since both racers compute the same artifact.
    */
  def value[T <: AnyRef](name: String, params: Any*)(inputs: DataFrame*)(train: => T): T =
    memo(Key(name, params, inputs.map(fingerprint), None)) {
      val v = train
      (v, None, SizeEstimator.estimate(v))
    }.asInstanceOf[T]

  /** The frame `name(params)` over `inputs`, built by `build` and
    * materialized with `localCheckpoint` on a miss.
    */
  def frame(name: String, params: Any*)(inputs: DataFrame*)(build: => DataFrame): DataFrame = {
    val spark = inputs.headOption.fold(SparkSession.active)(_.sparkSession)
    val appId = spark.sparkContext.applicationId
    if (listenerRegistered.add(appId)) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = evictSession(appId)
      })
    }
    val key = Key(name, params, inputs.map(fingerprint), Some(appId))
    memo(key) {
      val df = build.localCheckpoint()
      val rdd = df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      (df, rdd, rdd.flatMap(r => storedBytes(spark).get(r.id)).getOrElse(0L))
    }.asInstanceOf[DataFrame]
  }

  private def memo(key: Key)(compute: => (AnyRef, Option[RDD[_]], Long)): AnyRef = {
    val hit = entries.get(key)
    if (hit ne null) { hits.incrementAndGet(); hit.lastUse = tick.incrementAndGet(); return hit.value }
    misses.incrementAndGet()
    val (v, rdd, bytes) = compute
    val prev = entries.putIfAbsent(key, new Entry(v, rdd, bytes))
    if (prev eq null) v
    else { rdd.foreach(_.unpersist(blocking = false)); prev.value }
  }

  /** A frame's content: its canonical plan, plus per leaf what the plan
    * string omits: each file's path, length and modification time, a
    * materialized RDD's id, a local relation's rows.
    */
  private def fingerprint(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val leaves = plan.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.inputFiles.sorted.map { f =>
          val p = new Path(f)
          val st = p.getFileSystem(conf).getFileStatus(p)
          s"$f:${st.getLen}:${st.getModificationTime}"
        }.mkString(",")
        case other => other.toString
      }
      case r: LogicalRDD => s"rdd:${r.rdd.sparkContext.applicationId}:${r.rdd.id}"
      case l: LocalRelation => l.data.hashCode.toString
      case _ => ""
    }
    plan.canonicalized.treeString(verbose = false, maxFields = Int.MaxValue) +
      leaves.mkString("|", "|", "")
  }

  /** Stored bytes (memory + disk) per persisted RDD id. */
  private def storedBytes(spark: SparkSession): Map[Int, Long] =
    spark.sparkContext.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap

  /** Hit, miss, entry, byte and eviction counts. */
  final case class Stats(hits: Long, misses: Long, entries: Int, bytes: Long, evictions: Long) {
    override def toString = s"hits=$hits misses=$misses entries=$entries bytes=$bytes evictions=$evictions"
  }

  def stats: Stats = Stats(hits.get, misses.get, entries.size,
    entries.values.asScala.map(_.bytes).sum, evictions.get)

  /** Entry count. */
  def size: Int = entries.size()

  /** The memo budget: half the block managers' storage memory, leaving
    * the rest to the ops' own caches and to execution.
    */
  def budget(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 2

  /** When the bytes this bound can free exceed `budget`, clears Spark's
    * plan cache, which the ops' internal `.cache()` frames fill, and
    * evicts the least recently used memos until the rest fit. An evicted
    * frame's blocks are released. The freeable bytes are the memos' and
    * the plan cache's: every persisted RDD that is not a checkpoint. An
    * op's own `localCheckpoint` is left out; nothing here can free it,
    * and Spark's context cleaner does once the op drops it.
    */
  def enforceBound(spark: SparkSession, budget: Long): Unit = {
    val held = entries.asScala.toSeq.sortBy(_._2.lastUse)
    var bytes = held.map(_._2.bytes).sum
    val stored = storedBytes(spark)
    val planCache = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed).map(r => stored.getOrElse(r.id, 0L)).sum
    if (bytes + planCache > budget) {
      spark.catalog.clearCache()
      for ((k, e) <- held if bytes > budget && entries.remove(k, e)) {
        e.rdd.foreach(_.unpersist(blocking = false))
        evictions.incrementAndGet()
        bytes -= e.bytes
      }
    }
  }

  def enforceBound(spark: SparkSession): Unit = enforceBound(spark, budget(spark))

  /** Drop every entry. A dropped frame stays readable; Spark's context
    * cleaner frees its blocks once nothing references it.
    */
  def clear(): Unit = entries.clear()

  /** Drop every frame bound to `applicationId`: the evict-on-stop
    * listener's path, public so specs can drive it (a second local
    * SparkContext cannot be stopped inside a shared-session test JVM).
    */
  def evictSession(applicationId: String): Unit =
    entries.keySet().removeIf(_.appId.contains(applicationId))

  /** Whether `applicationId`'s evict-on-stop listener is registered. */
  def listenerRegisteredFor(applicationId: String): Boolean =
    listenerRegistered.contains(applicationId)
}
