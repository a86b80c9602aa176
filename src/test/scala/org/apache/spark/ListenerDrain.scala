package org.apache.spark

/** Test access to the context's listener bus: blocks until every event
  * posted so far has reached every listener, so a count a listener keeps
  * is complete when read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
