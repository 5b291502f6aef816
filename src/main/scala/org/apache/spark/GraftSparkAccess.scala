package org.apache.spark

/** Access shim for `private[spark]` members graft's diagnostics need.
  * `SparkContext.listenerBus` is spark-private; `tools.ProbeCatalog`
  * and `tools.ProbeStages` (its only users) must drain it
  * deterministically before reading listener-accumulated metrics
  * (a fixed sleep attributes a stage to the wrong run on a
  * loaded host — exactly the variance the tool exists to diagnose).
  * Kept to the one member, diagnostics-only; operator code never
  * touches spark internals. */
object GraftSparkAccess {
  /** Block until every event posted to the listener bus so far has
    * been delivered to all registered listeners (or throw after
    * `timeoutMs`). */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
