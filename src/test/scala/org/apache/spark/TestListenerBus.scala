package org.apache.spark

/** Specs' access to the `private[spark]` listener bus. */
object TestListenerBus {

  /** Block until every listener event posted so far is delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
