package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access for the traced run. `waitUntilEmpty` is
  * package-private to Spark, so this bridge lives in a Spark package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
