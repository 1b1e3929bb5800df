package org.apache.spark

/** The one engine hook the benchmark needs that Spark keeps package-private:
  * block until every listener event posted so far has been delivered, so
  * the probe's per-op buffers are complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
