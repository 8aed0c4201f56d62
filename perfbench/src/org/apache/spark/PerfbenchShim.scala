package org.apache.spark

/** Access to the one scheduler hook the benchmark needs that Spark keeps
  * package-private: waiting until every posted listener event (job, task
  * and streaming progress events) has been delivered, so counters read
  * after a run are complete. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
