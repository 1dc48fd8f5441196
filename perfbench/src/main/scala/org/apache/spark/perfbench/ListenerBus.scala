package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: counters a listener keeps are complete
  * only once every event posted so far has been delivered. The wait is
  * `private[spark]`, hence this package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
