package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SummaryRouting

/** The materialized-summary optimizer rule: covered aggregates must read
  * the registered rollup (not the base relation), uncovered shapes must
  * NOT be routed, and routed results must equal the direct computation.
  */
class SummaryRoutingSpec extends AnyFunSuite {
  // own session: registrations are keyed by session and the rule rides
  // session-local extraOptimizations, so this spec can never race the
  // shared harness session (q163 runs there during PlanAuditSpec's sweep)
  private lazy val spark = SparkTestHarness.spark.newSession()
  private val dir = SparkTestHarness.Sf0001

  private def withSummary[A](sub: String = "summary")(body: (String, String) => A): A = {
    SummaryRouting.clear(spark)
    val tmp = new java.io.File(queries.StatsStore.scratchDir("graft_mv"))
    val basePath = s"$dir/events.parquet"
    try {
      val sumPath = new java.io.File(tmp, sub).getAbsolutePath
      spark.read.parquet(basePath).groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("user_id").as("sum_uid"))
        .write.mode("overwrite").parquet(sumPath)
      SummaryRouting.register(spark, "events.parquet",
        spark.read.parquet(sumPath), Seq("event_type"),
        Some("cnt"), Map("user_id" -> "sum_uid"))
      body(basePath, sumPath)
    } finally {
      SummaryRouting.clear(spark)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }

  test("covered aggregate routes to the summary scan and matches the direct result") {
    // expected computed with routing cleared (afterwards the same query routes)
    SummaryRouting.clear(spark)
    val expected = spark.read.parquet(s"$dir/events.parquet").groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("user_id").as("su"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    withSummary() { (basePath, sumPath) =>
      val q = spark.read.parquet(basePath).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("user_id").as("su"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("summary"), s"not routed to the summary:\n${p.take(1500)}")
      assert(!p.contains("events.parquet"), "routed plan still scans the base relation")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet === expected)
    }
  }

  test("scansUnder finds a summary whose path is longer than the plan-string limit") {
    // plan strings abbreviate file locations past
    // spark.sql.maxMetadataStringLength (100), so a text search of the
    // plan cannot see a long scratch path; the root-path check can
    withSummary("s" * 120 + "/summary") { (basePath, sumPath) =>
      assert(sumPath.length > 100)
      val routed = spark.read.parquet(basePath).groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      assert(!routed.queryExecution.executedPlan.toString.contains(sumPath),
        "the plan string no longer abbreviates long paths; this case tests nothing")
      assert(SummaryRouting.scansUnder(routed, sumPath))
      assert(!SummaryRouting.scansUnder(routed, basePath))
      val unrouted = spark.read.parquet(basePath).filter(col("user_id") > 5)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      assert(!SummaryRouting.scansUnder(unrouted, sumPath))
    }
  }

  test("a filtered aggregate is NOT routed (a total rollup cannot answer it)") {
    withSummary() { (basePath, _) =>
      val q = spark.read.parquet(basePath)
        .filter(col("user_id") > 5).groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      assert(q.queryExecution.executedPlan.toString.contains("events.parquet"))
    }
  }

  test("a different grouping or an uncovered aggregate is NOT routed") {
    withSummary() { (basePath, _) =>
      val g = spark.read.parquet(basePath).groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"))
      assert(g.queryExecution.executedPlan.toString.contains("events.parquet"))
      val m = spark.read.parquet(basePath).groupBy("event_type")
        .agg(max("user_id").as("mx"))
      assert(m.queryExecution.executedPlan.toString.contains("events.parquet"))
      val d = spark.read.parquet(basePath).groupBy("event_type")
        .agg(countDistinct("user_id").as("nd"))
      assert(d.queryExecution.executedPlan.toString.contains("events.parquet"))
    }
  }

  test("routing decisions land in the diagnostics buffer with reasons") {
    // the MV operator question — "why didn't my query hit the summary" —
    // answered by the same RuleDiag surface as the stats consumers
    withSummary() { (basePath, _) =>
      graft.plans.RuleDiag.clear(spark)
      spark.conf.set(graft.plans.RuleDiag.EnabledKey, "true")
      try {
        spark.read.parquet(basePath).groupBy("event_type")
          .agg(count(lit(1)).as("n")).queryExecution.optimizedPlan
        spark.read.parquet(basePath).filter(col("user_id") > 5)
          .groupBy("event_type").agg(count(lit(1)).as("n"))
          .queryExecution.optimizedPlan
        spark.read.parquet(basePath).groupBy("event_type", "user_id")
          .agg(count(lit(1)).as("n")).queryExecution.optimizedPlan
        spark.read.parquet(basePath).groupBy("event_type")
          .agg(max("user_id").as("mx")).queryExecution.optimizedPlan
        val rows = graft.plans.RuleDiag.records(spark)
          .map { case (r, d, re, _) => (r, d, re) }.toSet
        assert(rows.contains(("summary-routing", "fired", "routed")), rows.toString)
        assert(rows.contains(("summary-routing", "bailed", "non-bare-base")), rows.toString)
        assert(rows.contains(("summary-routing", "bailed", "grouping-mismatch")), rows.toString)
        assert(rows.contains(("summary-routing", "bailed", "uncovered-aggregate")), rows.toString)
      } finally {
        spark.conf.set(graft.plans.RuleDiag.EnabledKey, "false")
        graft.plans.RuleDiag.clear(spark)
      }
    }
  }

  test("join elimination: the right-side-referenced near-miss is recorded; clean shapes are eliminated") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val s = spark.newSession()
    graft.plans.JoinElimination.ensure(s)
    graft.plans.RuleDiag.clear(s)
    s.conf.set(graft.plans.RuleDiag.EnabledKey, "true")
    try {
      val li = Tables.lineitem(s, dir)
      val dim = Tables.orders(s, dir).select(col("o_orderkey")).distinct()
      // the clean q212 shape is ELIMINATED — on Spark 4.1 the native
      // optimizer gets there before the backstop rule (measured: the
      // join is gone with extraOptimizations empty), so no graft record
      // is expected; the invariant that matters is that the join died
      val clean = li.join(dim, li("l_orderkey") === dim("o_orderkey"), "left")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"))
      assert(clean.queryExecution.optimizedPlan
        .collectFirst { case j: LJoin => j }.isEmpty,
        "the distinct-key left join survived")
      // a right column survives → the join must stay, and the NEAR-MISS
      // reason (the operator-facing "why did my just-in-case join stay")
      // lands in the buffer — this shape Spark keeps, so OUR rule sees it
      li.join(dim, li("l_orderkey") === dim("o_orderkey"), "left")
        .select(col("l_returnflag"), col("o_orderkey"))
        .queryExecution.optimizedPlan
      val rows = graft.plans.RuleDiag.records(s)
        .map { case (r, d, re, _) => (r, d, re) }.toSet
      assert(rows.contains(("join-elimination", "bailed", "right-side-referenced")), rows.toString)
    } finally graft.plans.RuleDiag.clear(s)
  }
}
