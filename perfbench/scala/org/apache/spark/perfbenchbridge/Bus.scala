package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the traced run drains
  * it at each op boundary so that every event lands in its own op.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
