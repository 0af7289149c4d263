package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/**
 * Bridge to the listener bus's own drain, which is `private[spark]`. Lives
 * in an `org.apache.spark` subpackage purely for access; no Spark internals
 * are modified.
 */
object ListenerBusBridge {
  /** Blocks until every event posted so far has reached every listener. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
