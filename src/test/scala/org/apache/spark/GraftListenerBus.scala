package org.apache.spark

/** The listener bus is package-private to Spark; job-count assertions
  * drain it so that every event of the measured block has been
  * delivered before they count.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
