package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage truncation for the iterative operators (Closure BFS, Components
  * label propagation). Without a per-iteration cut, iteration i's logical
  * plan embeds all i-1 predecessors and analysis time grows quadratically.
  *
  * Cut strategy (ADVICE r2 / VERDICT r3 cluster caveat): `localCheckpoint`
  * stores unreplicated executor-local blocks — fine on local[*], but on a
  * real cluster an executor loss kills the job with lineage already
  * truncated. When the session has a RELIABLE checkpoint dir configured
  * (`sparkContext.setCheckpointDir`, standard practice for iterative jobs
  * on a cluster), use a reliable `checkpoint` instead; otherwise fall back
  * to `localCheckpoint`.
  */
object Lineage {
  /** Truncate `df`'s lineage, eagerly materializing it. */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Truncate `df`'s lineage LAZILY: the logical plan flattens to a
    * LogicalRDD immediately. What runs when, under AQE: the cut calls
    * `toRdd` on the frame's adaptive plan, and that runs every shuffle and
    * broadcast stage of the frame, each as its own job, before the cut
    * returns. Only the frame's last stage, which writes the checkpoint
    * blocks, waits for the FIRST action that computes the frame — which
    * lets [[Iterate]] fold that write and the convergence signal into one
    * job instead of two (VERDICT r10 item 1; an eager localCheckpoint is
    * internally just lazy + count()). On the reliable-checkpoint path the
    * write still happens at first action; callers that need the write
    * itself barriered keep [[cut]]. */
  def cutLazy(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  /** Lazy lineage cut that PRESERVES the frame's hash partitioning across
    * the checkpoint; lazy in the same sense as [[cutLazy]] (the frame's
    * shuffle and broadcast stages run at cut time, the checkpoint write at
    * first action). Plain cuts come back UNKNOWN-partitioned under AQE,
    * so every carried-frame join re-shuffles — one extra exchange job per
    * use per round across the whole iterative family. Callers must
    * guarantee the physical layout: the plan ends in `repartition(n,
    * cols)` followed only by partitioning-preserving operators — see
    * [[org.apache.spark.sql.graftbridge.CheckpointBridge]] for the
    * soundness argument and the misuse caution. */
  def cutLazyHash(df: DataFrame, numPartitions: Int, cols: String*): DataFrame =
    org.apache.spark.sql.graftbridge.CheckpointBridge.cutLazyHash(df, numPartitions, cols)

  /** [[cutLazyHash]] + eager materialization (static relations the loops
    * probe every round: pay the write once, before the first round). */
  def cutHash(df: DataFrame, numPartitions: Int, cols: String*): DataFrame = {
    val out = cutLazyHash(df, numPartitions, cols: _*)
    out.queryExecution.toRdd.count() // one job; Dataset.count adds an exchange job
    out
  }
}
