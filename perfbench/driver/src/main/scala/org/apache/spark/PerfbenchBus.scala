package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run needs it to
  * attribute asynchronous listener events to the op that caused them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
