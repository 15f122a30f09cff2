package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark's span listener has seen every job and task of the run
  * before its counters are read. The bus is internal to Spark, hence the
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
