package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is private to Spark, hence this one-line bridge in
  * Spark's package; only the traced run calls it.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
