package org.apache.spark

/** The one Spark-internal call the suites need: waiting until the listener
  * bus has delivered every queued event, so a test listener's counts are
  * complete before they are read.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
