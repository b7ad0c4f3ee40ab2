package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's `waitUntilEmpty`, which Spark keeps
  * package-private: counters read right after an action must include the
  * events that action posted. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
