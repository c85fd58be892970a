package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg, "Authoritative Sources in a
  * Hyperlinked Environment" — public algorithm): the mutual-reinforcement
  * centrality pair next to [[PageRank]]'s single score. Authorities are
  * nodes many hubs point AT; hubs are nodes whose out-edges point at good
  * authorities.
  *
  * All arithmetic is 64-bit integer fixed point like [[PageRank]]: each
  * half-iteration is one equi-join + one partial-aggregated sum, then an
  * L1 normalization to total mass `scale` via a broadcast one-row total
  * (integer multiply-then-div — bit-exact across engines, so a SQL oracle
  * can unroll identical values). Keep `scale` small enough that
  * value × scale stays far inside int64 (values are ≤ a few × scale).
  *
  * Unlike PageRank's single-use chain, each normalization consumes its
  * raw-sum frame TWICE (values + the total), so the lazy plan would double
  * per half-iteration — every normalized vector is lineage-cut instead
  * (one small materialization per step, constant plan depth; the Closure
  * loop economics).
  */
object Hits {
  /** @param edges directed edges (name, dep): hub mass flows name → dep
    * @param nodes one row per node (name) — the score universe
    * @return (name, auth, hub) after `iters` full iterations
    */
  def run(spark: SparkSession, edgesIn: DataFrame, nodesIn: DataFrame,
      iters: Int, scale: Long): DataFrame = {
    // Static relations materialized ONCE, each pre-partitioned for the
    // join that consumes it (VERDICT r11 item 1's stage-floor discipline):
    // the hub→auth half joins edges by name, the auth→hub half by dep, so
    // two pinned copies kill both per-iteration edge re-shuffles; nodes is
    // pinned by name so the left joins that re-anchor the score universe
    // are co-partitioned with the aggregated sums. The carried vectors
    // come out of hash(name, N)-preserving plans, so each half-iteration
    // pays exactly ONE exchange (regrouping mass by the receiving node)
    // plus the one-row total broadcast.
    val shufN = spark.sessionState.conf.numShufflePartitions
    val edgesByName = Lineage.cutHash(edgesIn.repartition(shufN, col("name")), shufN, "name")
    val edgesByDep = Lineage.cutHash(edgesIn.repartition(shufN, col("dep")), shufN, "dep")
    val nodes = Lineage.cutHash(nodesIn.repartition(shufN, col("name")), shufN, "name")
    require(!nodes.isEmpty, "HITS needs a non-empty node set")
    val consts = broadcast(nodes.agg(expr(s"$scale div count(1)").as("__init")))
    val hub0 = nodes.crossJoin(consts).select(col("name"), col("__init").as("hub"))
    val auth0 = hub0.select(col("name"), col("hub").as("auth"))
    // fixed half-iteration count, NO per-round convergence action (VERDICT
    // r10 item 1): FixedRounds skips the signal job and the per-step cuts
    // are LAZY — each normalized vector still flattens to a LogicalRDD (so
    // the doubled consumption never doubles the plan). Each cut still runs
    // its frame's shuffle and broadcast stages as jobs during the round
    // (`toRdd` of an adaptive plan); only the checkpoint write waits for
    // the next round or the terminal action. The raw-sum frame is ALSO
    // lazily cut: the
    // normalization consumes it twice (values + total), and without the
    // cut the broadcast-total build re-executes the whole join + agg.
    val (auth, hub) = Iterate.fixedPoint("hits", nodes, (auth0, hub0), iters,
        cutFrontier = false, conv = Iterate.FixedRounds) { (_, _, s) =>
      val (_, hubCur) = s
      // build side = the score vector (bounded by |V|), never the edges
      val a0 = Lineage.cutLazyHash(hubCur.hint("shuffle_hash").join(edgesByName, "name")
        .select(col("dep").as("name"), col("hub").as("c"))
        .repartition(shufN, col("name"))
        .groupBy("name").agg(sum("c").as("v")), shufN, "name")
      val at = broadcast(a0.agg(sum("v").as("__t")))
      val authNext = Lineage.cutLazyHash(
        nodes.join(a0.hint("shuffle_hash"), Seq("name"), "left").crossJoin(at)
          .select(col("name"), expr(s"coalesce(v, 0L) * $scale div __t").as("auth")),
        shufN, "name")
      val h0 = Lineage.cutLazyHash(
        edgesByDep.join(authNext.hint("shuffle_hash")
            .select(col("name").as("dep"), col("auth").as("c")), "dep")
          .select(col("name"), col("c"))
          .repartition(shufN, col("name"))
          .groupBy("name").agg(sum("c").as("v")), shufN, "name")
      val ht = broadcast(h0.agg(sum("v").as("__t")))
      val hubNext = Lineage.cutLazyHash(
        nodes.join(h0.hint("shuffle_hash"), Seq("name"), "left").crossJoin(ht)
          .select(col("name"), expr(s"coalesce(v, 0L) * $scale div __t").as("hub")),
        shufN, "name")
      (nodes, (authNext, hubNext))
    } { (_, s) => s }
    auth.join(hub, "name").select(col("name"), col("auth"), col("hub"))
  }
}
