package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** `private[spark]` access shim: the SparkListener event bus is async, so
  * a profiler that flips a `capturing` flag around a measured run can
  * miss late-delivered stage-completion events (undercount) or absorb
  * stragglers from the warmup run (contaminate) — ADVICE r13. Draining
  * the bus at the flip points makes the captured window exact. Lives in
  * an `org.apache.spark` subpackage solely to reach the
  * `private[spark]` `listenerBus`; used by the benchmark harness only, never
  * by query paths.
  */
object ListenerBusDrain {
  /** Block until every event posted so far has been delivered to every
    * registered listener (or the timeout passes). */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
