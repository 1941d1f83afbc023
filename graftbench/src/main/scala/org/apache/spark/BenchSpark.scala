package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until the
  * listener bus has delivered every queued event, so counts taken at an
  * op boundary belong to that op. */
object BenchSpark {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
