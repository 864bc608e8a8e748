package org.apache.spark

/** Lets the benchmark wait until every posted listener event was delivered
  * (the bus is package-private), so a trace read after the last job is
  * complete. */
object PerfbenchDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
