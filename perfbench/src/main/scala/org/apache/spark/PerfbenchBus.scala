package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so listener counters read after an action include that
  * action's jobs and tasks. The bus is package-private to Spark, hence
  * this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
