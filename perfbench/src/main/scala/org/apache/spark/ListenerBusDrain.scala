package org.apache.spark

/** The listener bus is `private[spark]`; the trace needs to wait until every
  * task-end event of a finished span has been delivered before reading its
  * aggregates, so this shim lives in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
