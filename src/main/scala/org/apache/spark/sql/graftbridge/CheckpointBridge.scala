package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage truncation that PRESERVES a hash-partitioning claim.
  *
  * `Dataset.localCheckpoint(eager = false)` under AQE constructs its
  * LogicalRDD with an unusable output partitioning (the adaptive plan's
  * partitioning is not final at cut time, and the attribute rewrite drops
  * it), so every iterative operator's carried frame re-enters the next
  * round as UNKNOWN-partitioned and EnsureRequirements re-shuffles it at
  * every join — one extra exchange stage-job per use per round, measured
  * throughout the fixed-point family.
  *
  * This bridge rebuilds the cut frame's LogicalRDD with an EXPLICIT
  * HashPartitioning over the named output columns.
  *
  * What runs when: `qe.toRdd` below runs every shuffle and broadcast stage
  * of the frame's adaptive plan, each as its own job, before the cut
  * returns; only the last stage (the checkpoint write) waits for the first
  * action over the cut frame. The claim is sound iff
  * the frame's physical layout really is that partitioning — which the
  * callers guarantee by ending the plan in `repartition(n, cols)` (pinned
  * REPARTITION_BY_NUM: AQE never coalesces user-numbered repartitions)
  * followed only by partitioning-preserving operators (aggregate on a
  * superset of the keys, filter, project keeping the key exprIds, window
  * partitioned by the keys). A checkpoint/`map(_.copy())` never moves rows
  * between partitions, so the claim survives the cut. The partition-count
  * half of the claim is verified at runtime (`require` below); the
  * hash-function half is by construction (both the pinned exchange and any
  * future consumer exchange use Murmur3 `HashPartitioning`).
  *
  * Misuse caution: claiming a partitioning the rows do not have produces
  * WRONG JOIN RESULTS, not an error — this API is for the operator loops,
  * each of which is covered by randomized property specs plus the
  * 280-query DuckDB parity gate.
  *
  * The distribution half of the claim (ADVICE r12): the count check below
  * covers only the partition COUNT; whether rows actually live in
  * `pmod(murmur3(cols), n)` rests on the caller convention — which a conf
  * can silently break (`spark.sql.requireAllClusterKeysForAggregation=true`
  * turns the loops' subset-key aggregates into full-key exchanges with the
  * SAME partition count). Two defenses: [[graft.operators.Iterate]] pins
  * that conf for the loop's duration, and `graft.checkpoint.validateClaim`
  * (session conf, default off — specs and debugging turn it on) wraps the
  * cut RDD so the first [[CLAIM_SAMPLE]] rows of every partition are
  * re-hashed through the claim's own `partitionIdExpression` on every read;
  * a misplace fails the job loudly instead of mis-joining quietly.
  */
object CheckpointBridge {
  /** Rows per partition re-hashed per read under claim validation. */
  private val CLAIM_SAMPLE = 16

  def cutLazyHash(df: DataFrame, numPartitions: Int, cols: Seq[String]): DataFrame = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = classic.sparkSession
    val qe = classic.queryExecution
    val rdd = qe.toRdd.map(_.copy())
    if (spark.sparkContext.getCheckpointDir.isDefined) rdd.checkpoint()
    else rdd.localCheckpoint()
    val output = qe.analyzed.output
    // Optimizer rewrites can collapse the pinned tail — most commonly
    // PropagateEmptyRelation turning an empty frame into a 0-partition
    // LocalRelation. The claim's partition-count half no longer holds, so
    // fall back to an UNCLAIMED cut (correctness over the saved exchange);
    // claims only attach when the physical layout provably matches.
    if (rdd.getNumPartitions == numPartitions) {
      val exprs = cols.map(c => output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"cutLazyHash: no output column '$c'")))
      val part = HashPartitioning(exprs, numPartitions)
      val validate =
        spark.conf.get("graft.checkpoint.validateClaim", "false").toBoolean
      val served =
        if (!validate) rdd
        else {
          val partId = org.apache.spark.sql.catalyst.expressions.BindReferences
            .bindReference(part.partitionIdExpression,
              org.apache.spark.sql.catalyst.expressions.AttributeSeq(output))
          val colNames = cols.mkString(",")
          rdd.mapPartitionsWithIndex { (idx, it) =>
            var sampled = 0
            it.map { row =>
              if (sampled < CLAIM_SAMPLE) {
                sampled += 1
                val pid = partId.eval(row).asInstanceOf[Int]
                if (pid != idx) throw new IllegalStateException(
                  s"cutLazyHash claim VIOLATED: a row hashes to partition $pid " +
                  s"under hash($colNames) % $numPartitions but was found in " +
                  s"partition $idx — the caller's plan tail is not the pinned " +
                  "repartition + partitioning-preserving ops the claim requires")
              }
              row
            }
          }
        }
      org.apache.spark.sql.classic.Dataset.ofRows(spark,
        LogicalRDD(output, served, part, Nil, false)(spark))
    } else {
      val part = org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(
        rdd.getNumPartitions)
      org.apache.spark.sql.classic.Dataset.ofRows(spark,
        LogicalRDD(output, rdd, part, Nil, false)(spark))
    }
  }
}
