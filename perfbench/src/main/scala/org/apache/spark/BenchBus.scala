package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a counter snapshot taken after an action includes that action's
  * task-end events. Lives in Spark's package because the listener bus
  * is package-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
