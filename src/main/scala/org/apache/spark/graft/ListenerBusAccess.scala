package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this one-method shim
  * lives in the `org.apache.spark` package tree to expose the
  * deterministic drain (`waitUntilEmpty`) to graft's listeners — the
  * dev harness's `Dev.Recorder` and the end-to-end benchmark's
  * `Workload.drain`. A fixed `Thread.sleep` in its place undercounted
  * jobs and dropped the slowest tasks on a loaded host. Uses only
  * public-source Spark API knowledge; no behavior beyond the wait. */
object ListenerBusAccess {
  /** Blocks until every queued listener event is dispatched, or the
    * timeout elapses. Returns normally either way — a measurement must
    * never hang on a stuck bus — but a timeout prints one
    * `[graft] WARN listener bus not drained` line to stderr, since the
    * events read afterwards may then miss the last jobs and tasks. */
  def drain(sc: SparkContext, timeoutMillis: Long = 5000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch {
      case e: Exception =>
        System.err.println(
          s"[graft] WARN listener bus not drained after $timeoutMillis ms: $e")
    }
}
