package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: waiting until every posted listener event has been
  * delivered, so span counters are complete before they are reported.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
