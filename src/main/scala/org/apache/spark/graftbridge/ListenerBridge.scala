package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; job-count
  * instrumentation (Bench's bench_jobs.json, `Dev probe`, the PlanAuditSpec
  * planning-time pins) needs to DRAIN it before sampling a listener's
  * counter — onJobStart events are delivered asynchronously, so a count
  * read immediately after an action can attribute a late-delivered job to
  * the next query (ADVICE r11). Same delegation-only technique as
  * [[org.apache.spark.sql.graftbridge.PlanBridge]].
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
