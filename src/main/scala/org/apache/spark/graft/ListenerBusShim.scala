package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The one `private[spark]` doorway a metrics reader needs: the listener
  * bus delivers events asynchronously, so counters read right after an
  * action can miss its last jobs and stages. `waitUntilEmpty` returns once
  * every event posted so far (SparkListener and StreamingQueryListener
  * events share the bus) has been handed to its listeners. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
