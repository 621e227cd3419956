package org.apache.spark

/** The listener bus is `private[spark]`; the traced run drains it after each
  * operation so that every task-end event of that operation has reached the
  * benchmark's listener before its counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
