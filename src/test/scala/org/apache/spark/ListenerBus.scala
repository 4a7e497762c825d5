package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * spec's SparkListener holds complete counts before they are read. The
  * bus is Spark-internal, hence this package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
