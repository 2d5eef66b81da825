package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Deterministic wait for the listener bus: returns once every event
  * posted so far has been delivered to every listener. The bus is
  * `private[spark]`, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
