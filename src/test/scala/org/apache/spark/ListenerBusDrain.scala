package org.apache.spark

/** Test access to the listener bus, which is package-private: returns
  * once every event posted so far has reached its listeners.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
