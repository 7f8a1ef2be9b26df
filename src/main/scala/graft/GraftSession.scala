package graft

import org.apache.spark.sql.SparkSession
import graft.expressions.GraftExtensions

/** The one place a graft SparkSession is configured. Every main builds
  * its session with [[local]]; the shared test session starts from
  * [[builder]] and adds only its test-local settings.
  */
object GraftSession {

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI, a
    * sized generated-class cache and graft's native functions, planner
    * strategy and optimizer rule ([[GraftExtensions]]), installed once
    * when the session is created, so no query registers them itself.
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The generated-class cache (static default 100 entries) is far too
      // small for a many-query run: a 331-query bench pass evicted every
      // query's codegen classes, so each timed pass re-Janino-compiled and
      // re-JITed from cold (pass walls fell 5.3/2.7/2.8 s in isolation on
      // dedup_setjoin_exact; an 18-query ×10 window went 34.4 → 22.0 s
      // with the cache sized). Sized to the workload's distinct codegen
      // units, not to a machine; the cost is metaspace, ~KB per class.
      // Results are identical: the cache only limits recompiles.
      .config("spark.sql.codegen.cache.maxEntries", "4000")

  /** A session on `SPARK_GRAFT_CPUS` cores (default 4), logging at WARN. */
  def local(): SparkSession = {
    val spark = builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
