package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it to read complete job and task counters after a call. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
