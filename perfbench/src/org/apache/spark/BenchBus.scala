package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every queued
  * event before it reads the counters its listener collected. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
