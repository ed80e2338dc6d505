package org.apache.spark

/** The one Spark-internal call the benchmark needs: the listener bus
  * is package-private, and a traced iteration must not be read before
  * every event it caused has been delivered.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
