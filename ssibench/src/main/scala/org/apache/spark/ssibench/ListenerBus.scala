package org.apache.spark.ssibench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; the benchmark reads its ledgers
  * only after every posted event has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
