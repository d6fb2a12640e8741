package org.apache.spark

import java.util.Properties

/** Core-side shim (same pattern as sql/graftshim/ColumnShim): the async
  * listener bus and its waitUntilEmpty are `private[spark]`, and a timed
  * harness that reads listener-accumulated task metrics needs a real
  * drain — a fixed sleep lets late task-end events leak into the next
  * measurement window under load.
  */
object GraftSparkShim {
  /** Block until the listener bus has delivered all queued events (or
    * the timeout passes — a best-effort drain is still strictly better
    * than a blind sleep). */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Unset the checkpoint dir (`checkpointDir` is private[spark] with a
    * set-only public API) — lets a test restore the shared session's
    * no-checkpoint-dir state after exercising reliable checkpointing. */
  def clearCheckpointDir(sc: SparkContext): Unit =
    sc.checkpointDir = None

  /** A copy of the calling thread's local properties (job group,
    * description, scheduler pool), defaults included —
    * `getLocalProperties` is `private[spark]`. */
  def localProperties(sc: SparkContext): Properties =
    copy(sc.getLocalProperties)

  /** Gives the calling thread its own copy of `props` as its local
    * properties: Spark writes per-query keys into the thread's object,
    * so two threads must never share one. */
  def setLocalProperties(sc: SparkContext, props: Properties): Unit =
    sc.setLocalProperties(copy(props))

  private def copy(props: Properties): Properties = {
    val c = new Properties
    props.stringPropertyNames.forEach(k => c.setProperty(k, props.getProperty(k)))
    c
  }
}
