package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.StatsCatalog

/** The planner catalog: its bound keeps what planning keeps reading (a
  * fixture catalog hit on every planning must survive any number of
  * scratch-store primes — the q274 15-vs-7-jobs effect came from evicting
  * it by its first read stamp, which TTL-valid hits never refresh), and
  * its one reader of the stats-generation format serves what the writers
  * recorded, refuses what a CAS merge cannot extend, and caches absence
  * of an optional kind as an answer. */
class StatsCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private def freshRoot(): String =
    queries.StatsStore.scratchDir("graft_catalog_spec") + "/store"

  /** One regs-less generation: the stored estimate alone, as constructed
    * and legacy stores carry it. */
  private def publishRegsLess(root: String, est: Long): String = {
    import spark.implicits._
    IndexStore.publish(root) { g =>
      Seq(("t", "c", est)).toDF("tbl", "col", "ndv_est").write.parquet(s"$g/column_ndv")
      Seq(("t", 10L)).toDF("tbl", "row_count").write.parquet(s"$g/table_rows")
    }
  }

  test("a catalog entry read between 200 other primes is never evicted") {
    val hot = "spec://stats-catalog-lru/hot"
    val churn = (0 until 200).map(i => s"spec://stats-catalog-lru/churn-$i")
    var reads = 0
    def readHot(): AnyRef =
      StatsCatalog.cachedRead[AnyRef]("spec_kind", hot)("empty") { _ => reads += 1; "reread" }
    try {
      StatsCatalog.prime(hot, hot, Map("spec_kind" -> "primed"))
      churn.foreach { d =>
        StatsCatalog.prime(d, d, Map("spec_kind" -> "x"))
        readHot()
      }
      assert(reads == 0, s"the hot entry was re-read $reads times")
      assert(readHot() == "primed")
    } finally (hot +: churn).foreach(StatsCatalog.invalidate)
  }

  test("a flat regs-less store serves its stored ndv_est verbatim through ndv and ndvUpper") {
    import spark.implicits._
    val dir = freshRoot()
    Seq(("t", "c", 7L)).toDF("tbl", "col", "ndv_est").write.parquet(s"$dir/column_ndv")
    try {
      assert(StatsCatalog.ndv(spark, dir) == Map(("t", "c") -> 7L))
      assert(StatsCatalog.ndvUpper(spark, dir) == Map(("t", "c") -> 7L))
    } finally StatsCatalog.invalidate(dir)
  }

  test("registers under an estimate below 100 refine ndv and leave ndvUpper raw") {
    // 60 of 64 registers empty: the stored integer estimator floors at 46,
    // linear counting gives round(64 * ln(64 / 60)) = 4
    val regs = Seq.fill(60)(0L) ++ Seq.fill(4)(1L)
    val root = freshRoot()
    queries.StatsStore.upsertStats(spark, root, Seq(("t", "c", regs)), Seq("t" -> 10L))
    StatsCatalog.invalidate(root) // read the written generation, not the primed maps
    try {
      assert(StatsCatalog.ndvUpper(spark, root) == Map(("t", "c") -> 46L))
      assert(StatsCatalog.ndv(spark, root) == Map(("t", "c") -> 4L))
    } finally StatsCatalog.invalidate(root)
  }

  test("an optional kind a generation lacks is cached as empty, not read again") {
    import spark.implicits._
    val root = freshRoot()
    val g = publishRegsLess(root, 5L)
    try {
      assert(StatsCatalog.spans(spark, root).isEmpty)
      assert(StatsCatalog.memoSnapshot(root).get("column_span").contains(Map.empty))
      // the kind appears in place under the same generation: the cached
      // absence keeps answering, so no second read happened
      Seq(("t", "lo", "hi", 3L, 9L)).toDF("tbl", "lo_col", "hi_col", "med_span", "max_span")
        .write.parquet(s"$g/column_span")
      assert(StatsCatalog.spans(spark, root).isEmpty)
    } finally StatsCatalog.invalidate(root)
  }

  test("a CAS upsert onto a regs-less column_ndv throws and leaves LATEST unchanged") {
    val root = freshRoot()
    publishRegsLess(root, 5L)
    val before = IndexStore.latestGen(root)
    val e = intercept[IllegalStateException] {
      queries.StatsStore.upsertStats(spark, root,
        Seq(("u", "c", Seq.fill(64)(1L))), Seq("u" -> 1L))
    }
    assert(e.getMessage.contains("no HLL registers"))
    assert(IndexStore.latestGen(root) == before)
  }

  test("an empty streamed count is refused rather than published, dimension entries and all") {
    val root = freshRoot()
    val e = intercept[IllegalStateException] {
      queries.StreamServe.publishStreamedFactStats(spark, root, -1L, Seq.fill(64)(0L),
        Map.empty, dimNdv = Seq(("customer", "c_custkey", Seq.fill(64)(1L))),
        dimRows = Seq("customer" -> 150L))
    }
    assert(e.getMessage.contains("refusing to publish"))
    assert(IndexStore.latestGen(root).isEmpty, "the degenerate publish landed anyway")
  }
}
