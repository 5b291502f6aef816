package org.apache.spark

/** Test access to the `private[spark]` listener bus: the listener
  * helpers in `graft.SparkTestBase` drain it before they read what
  * their listeners saw, instead of sleeping and hoping the async bus
  * has delivered. */
object ListenerBusDrain {
  /** Block until every event posted so far has reached every listener
    * (or throw after `timeoutMs`). */
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
