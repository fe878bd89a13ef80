package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark's listener bus is `private[spark]`; the benchmark drains it so
  * every event of an operation has been delivered before the operation's
  * counters are read (deterministic, unlike a quiet-period poll).
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
