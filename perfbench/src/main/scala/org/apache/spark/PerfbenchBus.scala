package org.apache.spark

/** The listener bus drain is `private[spark]`; the tracer needs it so that
  * every event of a span has been delivered before the next span starts
  * (events are attributed to the span that is open when they arrive). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
