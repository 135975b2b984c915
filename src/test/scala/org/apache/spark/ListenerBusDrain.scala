package org.apache.spark

/** The listener bus drain is package-private to Spark; specs that count
  * jobs with a listener wait on it before reading their counts.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
