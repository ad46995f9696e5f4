package org.apache.spark

/** The one Spark-internal hook the benchmark needs: draining the listener
  * bus, so that every job, task and block event of a pass has reached the
  * trace recorder before the pass's layer metrics are read. It lives in
  * Spark's package because `listenerBus` is `private[spark]`.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
