package org.apache.spark.etlbenchshim

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; a traced run must wait
  * for every queued listener event before it reads its counts. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
