package org.apache.spark

/** Waits until the live listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all jobs, stages and tasks of an op before
  * its counters are read. The bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
