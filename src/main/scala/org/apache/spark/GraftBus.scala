package org.apache.spark

/** Minimal shim into the `private[spark]` listener bus: the per-query
  * ledger ([[graft.QueryLedger]]) records a run's jobs, stages and task
  * metrics right after its timed region, but listener events are
  * delivered asynchronously — without a drain the record races the bus
  * and the last stages of the run are silently missing. Public Spark API
  * offers no drain, hence this one-method package-private accessor.
  * Untimed (called only outside the timed region). */
object GraftBus {
  /** Block until all queued listener events are delivered, or timeout. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
