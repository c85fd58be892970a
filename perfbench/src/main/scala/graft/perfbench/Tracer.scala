package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run, gathered only through Spark's
  * public listener APIs. Installed only when tracing is on: the untraced
  * runs register no listener of their own.
  *
  * Events are charged to `op`, the op the client thread is running. Spark
  * delivers them asynchronously, so the runner drains the listener bus
  * before it reads an op's counters and moves to the next op. On the
  * concurrent Serve workload every event is charged to the run; each
  * request's collect is matched to it afterwards by SQL execution interval.
  */
final class Tracer(spark: SparkSession) {
  /** The op events are charged to: -2 during set-up and warm-up, -1 for
    * the concurrent Serve run, else the id of the running op. */
  @volatile var op: Int = -2

  final class Counters {
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val inputBytes = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val analysisMs = new AtomicLong
    val optimizationMs = new AtomicLong
    val planningMs = new AtomicLong
    val graftRuleNs = new AtomicLong
    val graftRuleCalls = new AtomicLong
    val graftRuleEffective = new AtomicLong
    val batches = new AtomicLong
    val batchMs = new AtomicLong
    /** (job id, start ms, end ms, stage count, SQL execution id or -1); end
      * is -1 until the job ends. */
    val jobSpans = new ConcurrentHashMap[Int, Array[Long]]()
    val stageSpans = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()
  }

  private val counters = new ConcurrentHashMap[Int, Counters]()
  def of(op: Int): Counters = counters.computeIfAbsent(op, _ => new Counters)

  /** Serve: collect executions (execution id, duration ns) and SQL
    * execution intervals (id -> start ms, end ms). */
  val collects = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()
  val sqlSpans = new ConcurrentHashMap[Long, Array[Long]]()

  private val jobOp = new ConcurrentHashMap[Int, Int]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobOp.put(e.jobId, op)
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      val c = of(op)
      c.jobs.incrementAndGet()
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      c.jobSpans.put(e.jobId, Array(e.jobId.toLong, e.time, -1L, e.stageInfos.size.toLong, exec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val o = jobOp.getOrDefault(e.jobId, op)
      Option(of(o).jobSpans.get(e.jobId)).foreach(_(2) = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = of(op)
      c.stages.incrementAndGet()
      val si = e.stageInfo
      c.stageSpans.add(Array(si.stageId.toLong, si.submissionTime.getOrElse(-1L),
        si.completionTime.getOrElse(-1L), si.numTasks.toLong))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = of(op)
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        sqlSpans.put(s.executionId, Array(s.time, -1L))
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        Option(sqlSpans.get(s.executionId)).foreach(_(1) = s.time)
      // StreamingQueryListener events travel on this bus for every session;
      // a listener added through spark.streams would miss the child
      // sessions the engine runs its stream builds in
      case p: StreamingQueryListener.QueryProgressEvent =>
        val c = of(op)
        c.batches.incrementAndGet()
        c.batchMs.addAndGet(p.progress.batchDuration)
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = of(op)
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      c.analysisMs.addAndGet(ms("analysis"))
      c.optimizationMs.addAndGet(ms("optimization"))
      c.planningMs.addAndGet(ms("planning"))
      qe.tracker.rules.foreach { case (rule, s) =>
        if (rule.startsWith("graft.plans.")) {
          c.graftRuleNs.addAndGet(s.totalTimeNs)
          c.graftRuleCalls.addAndGet(s.numInvocations)
          c.graftRuleEffective.addAndGet(s.numEffectiveInvocations)
        }
      }
      if (funcName == "collect") collects.add(Array(qe.id, durationNs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def drain(): Unit = org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)

  /** This op's counters as JSON fields; job and stage intervals go to the
    * trace file as spans. */
  def fields(op: Int): mutable.LinkedHashMap[String, Any] = {
    val c = of(op)
    val jobs = c.jobSpans.values().toArray(Array.empty[Array[Long]]).sortBy(_(1))
    mutable.LinkedHashMap[String, Any](
      "jobs" -> c.jobs.get, "stages" -> c.stages.get, "tasks" -> c.tasks.get,
      "job_intervals_ms" -> jobs.map(j => Seq(j(1), if (j(2) < 0) j(1) else j(2))).toSeq,
      "executor_run_s" -> c.runMs.get / 1e3, "executor_cpu_s" -> c.cpuNs.get / 1e9,
      "input_bytes" -> c.inputBytes.get, "shuffle_write_bytes" -> c.shuffleWriteBytes.get,
      "spill_bytes" -> c.spillBytes.get,
      "analysis_s" -> c.analysisMs.get / 1e3, "optimization_s" -> c.optimizationMs.get / 1e3,
      "planning_s" -> c.planningMs.get / 1e3,
      "graft_rules_s" -> c.graftRuleNs.get / 1e9, "graft_rule_calls" -> c.graftRuleCalls.get,
      "graft_rule_effective" -> c.graftRuleEffective.get,
      "stream_batches" -> c.batches.get, "stream_batch_s" -> c.batchMs.get / 1e3)
  }

  /** Job and stage spans of `op`, in seconds since `t0Ms`; a job's parent
    * span is named by `parent` from its start time, a stage's is its job. */
  def spans(op: Int, t0Ms: Long, parent: Long => String): Seq[mutable.LinkedHashMap[String, Any]] = {
    val c = of(op)
    def rel(ms: Long): Any = if (ms < 0) null else (ms - t0Ms) / 1e3
    val jobs = c.jobSpans.values().toArray(Array.empty[Array[Long]]).toSeq.map { j =>
      mutable.LinkedHashMap[String, Any]("span" -> "job", "op" -> op, "parent" -> parent(j(1)),
        "job_id" -> j(0), "start_s" -> rel(j(1)), "end_s" -> rel(j(2)), "stages" -> j(3),
        "sql_execution_id" -> j(4))
    }
    val stages = c.stageSpans.toArray(Array.empty[Array[Long]]).toSeq.map { s =>
      mutable.LinkedHashMap[String, Any]("span" -> "stage", "op" -> op,
        "parent" -> s"job ${stageJob.getOrDefault(s(0).toInt, -1)}", "stage_id" -> s(0),
        "start_s" -> rel(s(1)), "end_s" -> rel(s(2)), "tasks" -> s(3))
    }
    jobs ++ stages
  }
}
