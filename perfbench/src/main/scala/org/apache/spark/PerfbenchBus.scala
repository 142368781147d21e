package org.apache.spark

/** Listener events arrive asynchronously; the traced run must read its
  * totals only after every event of its jobs is delivered. The wait is
  * `private[spark]`, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
