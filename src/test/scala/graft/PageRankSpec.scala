package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PageRank

/** Fixed-point PageRank semantics on known tiny graphs: symmetry,
  * hub dominance, mass bounds, and bit-exact determinism (the property
  * the q86 oracle parity rests on).
  */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private val Scale = 6000000L // divisible by 100 * |nodes| for all cases here

  private def run(nodes: Seq[String], edges: Seq[(String, String)], iters: Int = 8) = {
    import spark.implicits._
    PageRank.run(spark, edges.toDF("name", "dep"), nodes.toDF("name"), iters, Scale)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("symmetric 2-cycle splits mass equally") {
    val pr = run(Seq("a", "b"), Seq("a" -> "b", "b" -> "a"))
    assert(pr("a") === pr("b"))
    assert(pr("a") > Scale / 4) // each holds ~half the mass
  }

  test("star: the hub outranks every spoke, spokes are equal") {
    val pr = run(Seq("hub", "s1", "s2", "s3"),
      Seq("s1" -> "hub", "s2" -> "hub", "s3" -> "hub"))
    assert(pr("hub") > pr("s1"))
    assert(pr("s1") === pr("s2") && pr("s2") === pr("s3"))
  }

  test("mass is bounded: floor * n <= total <= scale") {
    val nodes = Seq("a", "b", "c", "d", "e", "f")
    val pr = run(nodes, Seq("a" -> "b", "b" -> "c", "c" -> "a", "d" -> "a"))
    val total = pr.values.sum
    val floor = Scale / 100 * 15 / nodes.length
    assert(total <= Scale)
    assert(total >= floor * nodes.length)
    // e, f are isolated: exactly the (1-d) floor, never more
    assert(pr("e") === floor && pr("f") === floor)
  }

  test("deterministic: two runs produce identical fixed-point values") {
    val nodes = Seq("a", "b", "c", "d")
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a", "a" -> "c")
    assert(run(nodes, edges) === run(nodes, edges))
  }

  test("one-plan execution: edge subtree is reused, not recomputed or cached") {
    import spark.implicits._
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a").toDF("name", "dep")
    val nodes = Seq("a", "b", "c").toDF("name")
    val pr = graft.operators.PageRank.run(spark, edges, nodes, 8, Scale)
    pr.collect() // AQE finalizes exchange reuse at runtime
    val physical = pr.queryExecution.executedPlan.toString
    assert(physical.contains("ReusedExchange"),
      "8 iterations over the same out-degree-annotated edges must dedup into ReusedExchange")
    // and nothing was pinned in the cache manager by the call
    assert(spark.sharedState.cacheManager.isEmpty ||
      !pr.queryExecution.withCachedData.toString.contains("InMemoryRelation"))
  }

  test("n is in-plan: building the rank frame runs only the limit-1 probe") {
    import spark.implicits._
    val edges = Seq("a" -> "b", "b" -> "a").toDF("name", "dep")
    val nodes = Seq("a", "b").toDF("name")
    // exactly the emptiness probe, never a full nodes.count() (which would
    // be a second job)
    val (pr, jobs) =
      JobMeter.during(spark.sparkContext)(PageRank.run(spark, edges, nodes, 4, Scale))
    assert(jobs <= 1, s"run() must not launch driver-side scans; saw $jobs jobs")
    // and the node count lives in the plan as a broadcast aggregate
    assert(pr.queryExecution.optimizedPlan.toString.contains("__floor"))
  }

  test("rank flows: a node fed by a hub outranks one fed by a leaf") {
    // chain everything into a: a is the hub; b is fed by the hub, c by a leaf
    val pr = run(Seq("a", "b", "c", "l1", "l2"),
      Seq("l1" -> "a", "l2" -> "a", "a" -> "b", "l1" -> "c"))
    assert(pr("b") > pr("c"))
  }
}
