package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * a spec counting Spark jobs reads complete records. Lives in Spark's
  * package because the listener bus is package-private.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
