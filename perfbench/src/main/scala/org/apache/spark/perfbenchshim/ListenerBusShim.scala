package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus, so a traced pass can wait
  * until every task-end event of its jobs has been delivered before it
  * reads the listener's totals. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
