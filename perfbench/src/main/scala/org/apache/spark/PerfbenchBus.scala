package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every event
  * posted so far, so per-span Spark counters are complete when read. The bus
  * is private to Spark; this shim is the benchmark's only reach into it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
