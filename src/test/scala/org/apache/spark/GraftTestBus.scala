package org.apache.spark

/** The listener bus's drain is package-private to Spark; specs that
  * read the status store after a call drain it first instead of
  * sleeping. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
