package org.apache.spark

/** The one piece of Spark-internal API the benchmark needs: draining the
  * listener bus, so listener events of an operation are counted before the
  * next operation starts.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
