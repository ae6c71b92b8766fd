package org.apache.spark

/** Waits until every event posted to the listener bus has been delivered,
  * so the benchmark's listener has seen all tasks of the jobs that already
  * returned. (`listenerBus` is package-private to Spark.) */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
