package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; listener-based meters
  * must DRAIN it before sampling, because events are delivered
  * asynchronously and a count read right after an action can miss a job
  * that is still queued (ADVICE r11). Its callers are [[graft.JobMeter]]
  * and the benchmark's `perfbench` Tracer. Same delegation-only technique
  * as [[org.apache.spark.sql.graftbridge.PlanBridge]].
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
