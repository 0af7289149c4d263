package org.apache.spark

/** Reaches the listener bus's own drain, which is package-private, so the
  * trace reads task metrics only after every event has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
