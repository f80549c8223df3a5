package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * the trace read at the end of a run holds every job and progress event.
  * Lives in Spark's package because the bus is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
