package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MaximalIndependentSet

/** Luby MIS invariants: independence + maximality on adversarial shapes,
  * isolated-node handling, and cross-run determinism (md5 coins).
  */
class MisSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private def graph(ns: Seq[String], es: (String, String)*) = {
    import spark.implicits._
    (ns.toDF("name"), es.toDF("a", "b"))
  }

  private def checkMis(nodes: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame): Set[String] = {
    val mis = MaximalIndependentSet.run(spark, nodes, edges)
    val m = mis.collect().map(_.getString(0)).toSet
    val es = edges.collect().map(r => (r.getString(0), r.getString(1)))
    es.foreach { case (a, b) =>
      assert(!(m(a) && m(b)), s"edge ($a,$b) inside MIS — not independent")
    }
    val all = nodes.collect().map(_.getString(0)).toSet
    (all -- m).foreach { n =>
      val nbs = es.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }
      assert(nbs.exists(m), s"$n outside MIS with no MIS neighbor — not maximal")
    }
    m
  }

  test("path graph: independent and maximal") {
    val (n, e) = graph(Seq("a", "b", "c", "d"), "a" -> "b", "b" -> "c", "c" -> "d")
    checkMis(n, e)
  }

  test("star graph: hub alone or all leaves") {
    val leaves = (1 to 5).map(i => s"l$i")
    val (n, e) = graph("hub" +: leaves, leaves.map("hub" -> _): _*)
    val m = checkMis(n, e)
    assert(m === Set("hub") || m === leaves.toSet)
  }

  test("isolated nodes always join the MIS") {
    val (n, e) = graph(Seq("a", "b", "x", "y"), "a" -> "b")
    val m = checkMis(n, e)
    assert(m("x") && m("y"))
  }

  test("complete graph selects exactly one node; runs are deterministic") {
    val ns = (1 to 5).map(i => s"k$i")
    val es = for (i <- ns.indices; j <- i + 1 until ns.size) yield ns(i) -> ns(j)
    val (n, e) = graph(ns, es: _*)
    val m1 = checkMis(n, e)
    assert(m1.size === 1)
    val m2 = MaximalIndependentSet.run(spark, n, e).collect().map(_.getString(0)).toSet
    assert(m1 === m2, "md5 coins must make runs reproducible")
  }
}
