package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. The traced run drains the
  * bus at every span boundary so each span's counters are complete before
  * they are read. `waitUntilEmpty` is `private[spark]`, hence this package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
