package org.apache.spark

/** The one Spark-internal call the benchmark makes: wait until every
  * posted listener event has been delivered, so per-op attribution sees
  * all of an op's jobs, stages and tasks. */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
