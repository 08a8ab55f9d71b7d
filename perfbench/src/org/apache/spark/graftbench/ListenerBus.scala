package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark keeps its listener bus package-private; the traced run needs to
  * wait for it so that counters read after an action include that action. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
