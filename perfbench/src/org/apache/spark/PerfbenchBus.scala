package org.apache.spark

/** The listener bus is `private[spark]`; the traced run must drain it
  * before it reads what its listeners have counted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
