package org.apache.spark.layerbench

import org.apache.spark.SparkContext

/** The benchmark reads its listener's counters at call boundaries; the
  * listener bus is asynchronous, so each read first waits until every
  * event posted so far has been delivered. `listenerBus` is
  * `private[spark]`, hence this one-method shim in Spark's package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
