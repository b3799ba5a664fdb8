package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's counters are complete when an operation's profile is read.
  * Lives in Spark's package because the bus is `private[spark]`.
  */
object PerfbenchListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
