package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * a traced pass is summed only after its last task-end event arrived.
  * The bus is package-private to Spark, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
