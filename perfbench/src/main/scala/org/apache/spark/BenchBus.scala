package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains
  * it after each measured call (outside the timed window) so that a call's
  * Spark counters are complete before they are attributed to it.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
