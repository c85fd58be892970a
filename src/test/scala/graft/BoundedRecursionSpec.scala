package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.UnionLoop
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{BoundedRecursion, RuleDiag}

/** `BoundedRecursion` unrolls a literal-bounded `WITH RECURSIVE` into one
  * `Union` plan. It must return exactly the multiset `UnionLoopExec` does,
  * leave every loop it cannot bound to Spark, record each decision, and
  * cut q180's job count.
  */
class BoundedRecursionSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestHarness.spark; BoundedRecursion.ensure(s); s }
  /** Same context, no graft rules: the `UnionLoopExec` reference. */
  private lazy val native = spark.newSession()

  private def hasLoop(s: SparkSession, sql: String): Boolean =
    s.sql(sql).queryExecution.optimizedPlan.exists(_.isInstanceOf[UnionLoop])

  /** `(node, depth)` walks over edge view `g` from `start`. */
  private def walk(anchor: String, step: String, where: String, tail: String = "") =
    s"""WITH RECURSIVE w AS (
       |  $anchor
       |  UNION ALL
       |  SELECT g.dst AS node, $step AS depth FROM w JOIN g ON g.src = w.node
       |  WHERE $where)
       |SELECT node, depth FROM w $tail""".stripMargin

  private def edges(s: SparkSession, es: Seq[(Int, Int)]): Unit = {
    import s.implicits._
    es.toDF("src", "dst").createOrReplaceTempView("g")
  }

  test("unrolled walks equal UnionLoopExec's multiset on 24 pseudo-random graphs") {
    var lcg = 0x2545F4914F6CDD1DL
    def next(bound: Int): Int = {
      lcg = lcg * 6364136223846793005L + 1442695040888963407L
      (((lcg >>> 33) % bound).toInt + bound) % bound
    }
    for (trial <- 1 to 24) {
      val n = 3 + next(6)
      val es = (1 to n + next(2 * n)).map(_ => (next(n), next(n))) // cycles, self-loops, repeats
      val (k, a0, c) = (next(7), next(5) - 2, 1 + next(2))
      val op = if (next(2) == 0) "<" else "<="
      // alternate a one-row anchor with an anchor read from the edges
      val anchor =
        if (trial % 2 == 0) s"SELECT 0 AS node, $a0 AS depth"
        else s"SELECT DISTINCT src AS node, $a0 AS depth FROM g WHERE src < 2"
      val sql = walk(anchor, s"w.depth + $c", s"w.depth $op $k")
      Seq(spark, native).foreach(edges(_, es))
      assert(!hasLoop(spark, sql), s"trial $trial did not unroll: $sql")
      assert(hasLoop(native, sql))
      def rows(s: SparkSession) =
        s.sql(sql).collect().map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
      assert(rows(spark) == rows(native), s"trial $trial: edges=$es\n$sql")
    }
  }

  private def bailed(sql: String, reason: String): Unit = {
    RuleDiag.clear(spark)
    spark.conf.set(RuleDiag.EnabledKey, "true")
    try {
      assert(hasLoop(spark, sql), s"unrolled, expected a bail ($reason): $sql")
      val recs = RuleDiag.records(spark).filter(_._1 == "bounded-recursion")
      assert(recs.map(r => (r._2, r._3)) == Seq(("bailed", reason)), s"$recs for $sql")
    } finally {
      spark.conf.unset(RuleDiag.EnabledKey)
      RuleDiag.clear(spark)
    }
  }

  private val Root = "SELECT 0 AS node, 0 AS depth"

  test("bails on a non-literal bound") {
    edges(spark, Seq(0 -> 1, 1 -> 2))
    bailed(walk(Root, "w.depth + 1", "w.depth < w.node + 3"), "no-literal-bound")
  }

  test("bails on a decreasing depth") {
    edges(spark, Seq(0 -> 1, 1 -> 2))
    bailed(walk("SELECT 0 AS node, 5 AS depth", "w.depth - 1", "w.depth > 0"),
      "no-increasing-depth")
  }

  test("bails on a bound over a column other than the depth") {
    edges(spark, Seq(0 -> 1, 1 -> 2))
    bailed(walk(Root, "w.depth + 1", "w.node < 3"), "no-literal-bound")
  }

  test("bails on LIMIT") {
    edges(spark, Seq(0 -> 1, 1 -> 2))
    bailed(walk(Root, "w.depth + 1", "w.depth < 4", "LIMIT 3"), "limit")
  }

  test("bails past 16 levels, and past spark.sql.cteRecursionLevelLimit") {
    edges(spark, Seq(0 -> 1, 1 -> 0))
    // depth < 16 holds rows at levels 0..16: 17 levels
    bailed(walk(Root, "w.depth + 1", "w.depth < 16"), "too-deep")
    assert(!hasLoop(spark, walk(Root, "w.depth + 1", "w.depth < 15")))
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "4")
    try bailed(walk(Root, "w.depth + 1", "w.depth < 6"), "too-deep")
    finally spark.conf.unset("spark.sql.cteRecursionLevelLimit")
  }

  test("bails when the last level's depth would wrap round its type") {
    edges(spark, Seq(0 -> 1, 1 -> 2))
    val sql = walk("SELECT 0 AS node, 2147483646 AS depth", "w.depth + 2",
      "w.depth < 2147483647")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      bailed(sql, "depth-overflow")
      // level 1's depth wraps to Int.MinValue, passes the bound and reaches node 2
      assert(spark.sql(sql).collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("RuleDiag records one fired and one bailed decision") {
    edges(spark, Seq(0 -> 1, 1 -> 2))
    RuleDiag.clear(spark)
    spark.conf.set(RuleDiag.EnabledKey, "true")
    try {
      spark.sql(walk(Root, "w.depth + 1", "w.depth < 3")).queryExecution.optimizedPlan
      spark.sql(walk(Root, "w.depth + 1", "w.node < 3")).queryExecution.optimizedPlan
      val recs = RuleDiag.records(spark).filter(_._1 == "bounded-recursion")
      assert(recs == Seq(
        ("bounded-recursion", "bailed", "no-literal-bound", 1L),
        ("bounded-recursion", "fired", "literal-bound", 1L)), recs)
    } finally {
      spark.conf.unset(RuleDiag.EnabledKey)
      RuleDiag.clear(spark)
    }
  }

  test("q180 at sf0.001 runs as one plan in at most 8 Spark jobs") {
    val q = () => SparkEntry.queries("q180_sql_recursive_closure")(spark, SparkTestHarness.Sf0001)
    val want = q().collect() // warms the memoized edge frame
    val (got, jobs) = JobMeter.during(spark.sparkContext)(q().collect())
    assert(got.toSeq == want.toSeq)
    assert(jobs <= 8, s"q180 ran $jobs jobs")
    assert(!q().queryExecution.optimizedPlan.exists(_.isInstanceOf[UnionLoop]))
  }
}
