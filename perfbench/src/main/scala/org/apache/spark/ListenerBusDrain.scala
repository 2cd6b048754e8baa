package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * The listener bus is asynchronous and its drain is package-private,
  * hence this one-line bridge in Spark's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
