package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark needs
  * it so that a statement's counts are read only after every event the
  * statement posted has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
