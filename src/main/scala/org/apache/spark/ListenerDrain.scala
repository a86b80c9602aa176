package org.apache.spark

/** Access to the context's listener bus for [[graft.Jobs.Log]]: blocks
  * until every event posted so far has reached every listener, so a
  * count a listener keeps is complete when read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
