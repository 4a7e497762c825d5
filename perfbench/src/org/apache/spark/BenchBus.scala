package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so the
  * benchmark's SparkListener holds complete counts before they are read.
  * The bus is Spark-internal; this is its one use.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
