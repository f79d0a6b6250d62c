package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event already posted to the listener bus has been
  * delivered, so listener counters can be read without a fixed sleep. The
  * bus is `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
