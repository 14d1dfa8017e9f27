package org.apache.spark

/** The one scheduler hook the tracer needs that Spark keeps package-private:
  * waiting until every posted listener event has been delivered, so span
  * totals read after an operation include all of its tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
