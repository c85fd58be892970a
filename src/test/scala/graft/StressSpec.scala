package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Closure, Stress}

/** Stress centrality (operators/Stress) against a brute-force model that
  * literally ENUMERATES every shortest path: on the min-depth DAG every
  * path starting at s is a shortest path to its endpoint, so the model
  * DFS-walks all DAG paths and counts interior-node visits (stress),
  * paths per source (γ at the source), and per-(source, node) path
  * arrivals (σ). Randomized digraphs include diamonds (σ > 1), cycles
  * (min-dist layering must cut them), and unreachable nodes.
  */
class StressSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private def brute(nodes: Seq[String], edges: Seq[(String, String)])
      : (Map[String, Long], Map[String, Long], Map[(String, String), Long]) = {
    val adj = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val stress = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val from = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val sigma = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    for (s <- nodes) {
      val dist = scala.collection.mutable.Map(s -> 0)
      var frontier = List(s)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filter(v => !dist.contains(v)).distinct
        next.foreach(v => dist(v) = dist(frontier.head) + 1)
        frontier = next
      }
      def walk(v: String, path: List[String]): Unit = {
        sigma((s, v)) += 1
        if (path.length >= 3) path.tail.init.foreach(i => stress(i) += 1)
        if (path.length >= 2) from(s) += 1
        adj.getOrElse(v, Nil).filter(w => dist.get(w).contains(dist(v) + 1))
          .foreach(w => walk(w, path :+ w))
      }
      walk(s, List(s))
    }
    (stress.toMap, from.toMap, sigma.toMap)
  }

  test("stress/σ/γ equal the brute-force path enumeration on randomized digraphs") {
    import spark.implicits._
    var state = 0x51F3A9C47B2D6E85L
    def next(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (((state >>> 33) % bound) + bound).toInt % bound
    }
    for (g <- 0 until 5) {
      val n = 7 + next(5)
      val nodes = (0 until n).map(i => s"n$i")
      val edges = (for {
        a <- 0 until n; b <- 0 until n
        if a != b && next(100) < 22
      } yield (s"n$a", s"n$b")) ++
        // force a diamond so σ > 1 is exercised every instance
        Seq(("n0", "n1"), ("n0", "n2"), ("n1", "n3"), ("n2", "n3"))
      val (bStress, bFrom, bSigma) = brute(nodes, edges)
      val eDf = edges.toDF("name", "dep")
      val reach = Closure.reachableAll(spark, eDf,
        nodes.toDF("root"))
      val sg = Stress.run(spark, eDf, reach).collect()
      val gotSigma = sg.map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
      assert(gotSigma === bSigma, s"σ diverged on instance $g")
      val gotStress = sg.filter(r => r.getString(0) != r.getString(1))
        .groupBy(_.getString(1)).view
        .mapValues(_.map(r => r.getLong(3) * r.getLong(4)).sum).toMap
        .filter(_._2 > 0)
      assert(gotStress === bStress.filter(_._2 > 0), s"stress diverged on instance $g")
      val gotFrom = sg.filter(r => r.getString(0) == r.getString(1))
        .map(r => r.getString(0) -> r.getLong(4)).toMap.filter(_._2 > 0)
      assert(gotFrom === bFrom.filter(_._2 > 0), s"γ at sources diverged on instance $g")
    }
  }
}
