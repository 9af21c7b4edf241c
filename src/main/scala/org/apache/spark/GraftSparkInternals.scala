package org.apache.spark

/** Narrow package-private escape for the bench harnesses and
  * `graft.Plans`: listener events are delivered asynchronously, so
  * per-query task-metric deltas read right after an action can miss the
  * final tasks' events (and credit them to the next query), and a plan
  * listener read right after a write can miss that write. `LiveListenerBus.waitUntilEmpty` is the
  * official flush for exactly this, but is `private[spark]` — this shim
  * exposes it without reflection. Best-effort: a timeout just means the
  * snapshot is as racy as it was before the flush existed.
  */
object GraftSparkInternals {
  def flushListeners(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () }
}
