package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * spec reads complete job counts without sleeping. The listener bus is
  * package-private to Spark, hence this object's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
