package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * `LiveListenerBus` is `private[spark]`, so the accessor lives in this
  * package. Listener-derived metrics are read only after this returns.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
