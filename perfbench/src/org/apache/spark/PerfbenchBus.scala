package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced
  * section needs it so every job and task event of the section is
  * counted before the listeners detach. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
