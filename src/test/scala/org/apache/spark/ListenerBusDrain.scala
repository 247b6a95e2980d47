package org.apache.spark

/** Test access to the listener bus, which is private to Spark: a job
  * count read after `drain` has seen every event posted before it. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
