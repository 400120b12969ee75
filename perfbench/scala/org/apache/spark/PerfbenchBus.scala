package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * a traced run reads complete job and task records. Lives in Spark's
  * package because the listener bus is package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
