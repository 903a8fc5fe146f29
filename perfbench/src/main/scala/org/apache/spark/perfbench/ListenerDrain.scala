package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered — the
  * listener bus is asynchronous, and per-request task metrics must be
  * complete before they are read. Lives under `org.apache.spark` because
  * the bus is `private[spark]`. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
