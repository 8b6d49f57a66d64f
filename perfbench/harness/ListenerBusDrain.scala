package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * The bus is private to Spark's own package, hence this one object in
  * it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
