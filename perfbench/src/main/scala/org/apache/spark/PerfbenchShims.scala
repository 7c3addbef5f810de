package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private. The
  * benchmark's listener attributes task metrics to spans only after every
  * event of the measured work has been delivered.
  */
object PerfbenchShims {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
