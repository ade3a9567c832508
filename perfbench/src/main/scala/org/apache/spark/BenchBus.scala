package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so a traced span's listener counts are complete when it
  * closes. The bus is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
