package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Shared fixed-point driver for the iterative operator family (Closure,
  * TemporalReach, MaximalIndependentSet, ShortestPath, KCore, LabelProp,
  * Components, KTruss, Hits) — ONE implementation of the loop plumbing
  * each operator used to re-state: the per-round [[Lineage.cut]] of the
  * frontier, the convergence barrier, the round counter against
  * `maxRounds`, and per-round wall-time capture.
  *
  * Deliberately NOT on the harness: [[PageRank]] and [[Walks]] build one
  * lazy pipelined plan across iterations (no per-round barrier exists to
  * instrument — adding one would regress their single-job design), and
  * [[StableMatching]] terminates on grouped-count comparisons rather than
  * frontier emptiness (it reuses [[Lineage.cutLazy]] for the same fused
  * single-action round).
  *
  * Contract per round `r` (1-based): `round(r, frontier, state)` returns
  * the next `(frontier, state)`. The harness cuts the returned frontier's
  * lineage and derives the convergence signal; `absorb(cutFrontier,
  * state)` then folds the frontier into the carried state — state updates
  * that reference the frontier must happen there, not in `round`, so the
  * carried plan embeds the flat post-cut scan instead of the round's whole
  * derivation (the plan-growth bug the per-operator loops each dodged by
  * hand). State the round cuts itself can pass through `round`'s return
  * and use `(f, s) => s` as absorb.
  *
  * ONE driver job per round (VERDICT r10 item 1): the frontier is
  * checkpointed LAZILY and the convergence signal is a count or sum over
  * its RDD ([[signal]], one result-stage job) — the single action both
  * materializes the checkpoint blocks and returns the signal, where the
  * old shape paid an eager-cut job AND a separate `isEmpty` job. The
  * signal is picked per operator family:
  *
  *  - [[Iterate.NonEmpty]] — `count(frontier) > 0` (BFS/relaxation
  *    frontiers: Closure, ShortestPath, TemporalReach, Luby MIS).
  *  - [[Iterate.CountStable]] — stop when the count repeats; exact IFF
  *    the caller guarantees each round's frontier is a SUBSET of the
  *    previous one (the peel family: KCore, KTruss — subset + equal
  *    cardinality ⟺ set equality, so no anti-join probe is needed).
  *  - [[Iterate.FlagSum]] — `sum(flagColumn) > 0`: the round embeds a
  *    0/1 changed-indicator column in the frontier itself (Components'
  *    label-improved flag, the star rounds' set-difference flag), so
  *    change detection rides the same materialization scan.
  *  - [[Iterate.FixedRounds]] — NO convergence action at all: loops with
  *    a contract-fixed round count (Hits, LabelProp) never read a signal.
  *    That removes the per-round signal job, not the round's other jobs:
  *    cutting a round's frames ([[Lineage.cutLazy]]/`cutLazyHash`) calls
  *    `toRdd` on an adaptive plan, which runs every shuffle and broadcast
  *    stage of the frame as its own job before it returns. Only each
  *    cut's last stage (the checkpoint write) waits, and it runs inside
  *    the next consumer's first stage or the terminal action. The chain
  *    is not one pipelined job: q173's four Hits rounds run about 26 jobs.
  *
  * Timing: every round's wall ms and Spark jobs ([[graft.JobMeter]]) are
  * recorded under `label` when recording is enabled ([[setRecording]] —
  * Bench turns it on; Verify/Serve/test JVMs leave it off so the log
  * never grows unread, ADVICE r10);
  * [[drainRounds]] hands the log to Bench, which writes it beside
  * bench_passes.json so the barrier floor is measured, not inferred.
  * FixedRounds rounds record the jobs their cuts run (their shuffle and
  * broadcast stages); only the convergence barrier is gone.
  */
object Iterate {
  final case class RoundStat(label: String, round: Int, ms: Double, jobs: Long = -1L)

  /** How the harness decides whether another round is needed. */
  sealed trait Convergence
  /** Live while the cut frontier has rows (count > 0). */
  case object NonEmpty extends Convergence
  /** Live while the cut frontier's count keeps changing. Exact only when
    * the caller guarantees frontier(r) ⊆ frontier(r-1) — monotone peels. */
  case object CountStable extends Convergence
  /** Live while sum(`column`) > 0 over the cut frontier; the round embeds
    * the change indicator as a 0/1 (castable-to-long) column. */
  final case class FlagSum(column: String) extends Convergence
  /** No convergence signal — run exactly `maxRounds` rounds with no
    * per-round signal action; the frontier still gets a LAZY lineage cut
    * so the logical plan stays flat. Under AQE each cut still runs its
    * frame's shuffle and broadcast stages as jobs during the round. */
  case object FixedRounds extends Convergence

  private val roundLog = new java.util.concurrent.ConcurrentLinkedQueue[RoundStat]()
  @volatile private var recording = false

  /** Enable/disable per-round stat capture (Bench enables; everything else
    * leaves it off so long-lived JVMs don't accumulate an undrained log).
    * ASSUMES a single-threaded bench: per-round job deltas are
    * [[graft.JobMeter]] samples of the whole context, so a concurrent query
    * on the same context while recording is on pollutes the deltas (wall
    * ms stays accurate). */
  def setRecording(on: Boolean): Unit = { recording = on; if (!on) roundLog.clear() }

  /** Drain and return all per-round stats recorded since the last drain. */
  def drainRounds(): Seq[RoundStat] = {
    val out = scala.collection.mutable.ArrayBuffer[RoundStat]()
    var r = roundLog.poll()
    while (r != null) { out += r; r = roundLog.poll() }
    out.toSeq
  }

  /** The convergence signal as ONE result-stage job over `frontier`'s RDD:
    * its row count, or the sum of the `flag` column read as long with null
    * as 0. `Dataset.count` and `agg().head()` plan a single-partition
    * exchange, which AQE runs as a job of its own before the result job. */
  private[operators] def signal(frontier: DataFrame, flag: Option[String]): Long = flag match {
    case None => frontier.queryExecution.toRdd.count()
    case Some(c) => frontier.select(col(c).cast("long")).queryExecution.toRdd
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).fold(0L)(_ + _)
  }

  /** Run `round` from (frontier0, state0) until the convergence signal
    * stops it or `maxRounds` rounds elapse; returns the final state.
    *
    * `cutFrontier = false` skips the frontier materialization — for
    * operators whose "frontier" is only a convergence PROBE the next
    * round never reads, where a checkpoint would add a write for a frame
    * used exactly once by the signal job.
    */
  def fixedPoint[S](label: String, frontier0: DataFrame, state0: S, maxRounds: Int,
      cutFrontier: Boolean = true, conv: Convergence = NonEmpty,
      cut: DataFrame => DataFrame = Lineage.cutLazy)(
      round: (Int, DataFrame, S) => (DataFrame, S))(
      absorb: (DataFrame, S) => S): S = {
    // The claimed checkpoints (Lineage.cutLazyHash) are sound only while
    // subset-key aggregates stay exchange-free: with
    // requireAllClusterKeysForAggregation=true, a groupBy(root, name) over
    // a hash(name)-pinned frame re-shuffles to hash(root, name) with the
    // SAME partition count, and the claim would silently mis-join (ADVICE
    // r12). Pin the conf off for the loop's duration; restored in finally.
    val sessionConf = frontier0.sparkSession.conf
    val sc = frontier0.sparkSession.sparkContext
    val aggKeysConf = "spark.sql.requireAllClusterKeysForAggregation"
    val aggKeysPrev = sessionConf.getOption(aggKeysConf)
    sessionConf.set(aggKeysConf, "false")
    try {
    // Note: AQE stays ON inside rounds. It was measured both ways — AQE's
    // per-stage re-planned jobs cost ~45 ms driver latency each (the floor
    // this harness fights), but turning it off is far worse: checkpointed
    // LogicalRDD frames carry no size statistics, so static planning sees
    // defaultSizeInBytes and falls back to 32-partition sort-merge joins
    // everywhere (q164 6.1 s → 18.7 s, q224 1.5 s → 9.8 s). The runtime
    // sizes AQE observes are what turn round joins into broadcasts.
    var frontier = frontier0
    var state = state0
    var r = 0
    var prevCount = -1L
    var live = conv match {
      case FixedRounds => true
      case CountStable =>
        prevCount = signal(frontier0, None); prevCount > 0
      case _ => !frontier0.isEmpty
    }
    while (r < maxRounds && live) {
      r += 1
      val t0 = System.nanoTime()
      val j0 = if (recording) graft.JobMeter.total(sc) else 0L
      val (f, s1) = round(r, frontier, state)
      if (cutFrontier) frontier = cut(f) else frontier = f
      // ONE action: the aggregate scan materializes the lazy checkpoint's
      // blocks AND returns the convergence signal (FixedRounds: no action).
      conv match {
        case NonEmpty =>
          // uncut probe frontiers keep the early-exit isEmpty (nothing to
          // materialize); cut frontiers need the full count scan anyway
          live = if (cutFrontier) signal(frontier, None) > 0L else !frontier.isEmpty
        case CountStable =>
          val n = signal(frontier, None)
          live = n != prevCount && n > 0L
          prevCount = n
        case FlagSum(c) =>
          live = signal(frontier, Some(c)) > 0L
        case FixedRounds => ()
      }
      state = absorb(frontier, s1)
      if (recording) roundLog.add(RoundStat(label, r,
        (System.nanoTime() - t0) / 1e6, graft.JobMeter.total(sc) - j0))
    }
    state
    } finally {
      aggKeysPrev match {
        case Some(v) => sessionConf.set(aggKeysConf, v)
        case None => sessionConf.unset(aggKeysConf)
      }
    }
  }
}
