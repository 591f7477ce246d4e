package org.apache.spark

/** Blocks until every event posted so far has reached every listener —
  * the listener bus delivers asynchronously, so a spec that counts
  * jobs from a listener drains it before reading the count. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
