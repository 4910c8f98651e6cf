package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus, which Spark
  * keeps package-private: the traced run waits for every queued event of
  * one operator call before the next call starts, so events are
  * attributed to the call that caused them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
