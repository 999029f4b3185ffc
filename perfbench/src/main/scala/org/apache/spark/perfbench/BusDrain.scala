package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so
 * the counters read at a span boundary include all of the span's
 * work. Lives under `org.apache.spark` because the bus is
 * package-private there. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
