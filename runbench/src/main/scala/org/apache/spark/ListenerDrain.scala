package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * task metrics read after a job are complete. The bus is internal to
  * Spark, hence this bridge in Spark's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
