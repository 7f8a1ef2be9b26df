package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Accessors for `private[spark]` members the benchmark's tracing needs.
  * They live inside the `org.apache.spark` package for that reason only.
  */
object SparkBridge {

  /** Block until every listener event posted so far is delivered, so a
    * span's task metrics are complete when the span closes.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Janino compilations so far in this JVM (Spark's `CodegenMetrics`). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
