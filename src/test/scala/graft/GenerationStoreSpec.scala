package graft

import org.scalatest.funsuite.AnyFunSuite

/** The generation-versioned index store's contract (VERDICT r10 item 5):
  * writes land in fresh generations behind an atomically-swapped
  * manifest, a probe pinned to generation N serves correctly WHILE
  * generation N+1 is half-written, incomplete generations are invisible,
  * and retention deletes only generations older than the keep window.
  */
class GenerationStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private def freshRoot(): String =
    queries.StatsStore.scratchDir("graft_genstore") + "/store"

  test("fixture store roots keep the <tmpdir>/<kind>/<sanitized dir> layout") {
    // stores persist across JVMs and are found again by this path alone
    val tmp = System.getProperty("java.io.tmpdir")
    assert(queries.StatsStore.fixtureRoot("graft_stats", "/data/fixtures/sf0.1") ==
      new java.io.File(tmp, "graft_stats/_data_fixtures_sf0.1").getAbsolutePath)
    assert(queries.Vectors.ivfIndexDir("/a b/c+d") ==
      new java.io.File(tmp, "graft_ivf_index/_a_b_c_d").getAbsolutePath)
  }

  test("publish → latest; incomplete generations are invisible") {
    val root = freshRoot()
    assert(IndexStore.latestGen(root).isEmpty)
    val p1 = IndexStore.publish(root) { g =>
      java.nio.file.Files.write(java.nio.file.Paths.get(g, "data"), "v1".getBytes)
    }
    assert(IndexStore.latestGen(root).contains(1L))
    assert(IndexStore.latestPath(root).contains(p1))
    // a half-written generation (staging dir, no manifest swap) is invisible
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, ".inprogress-xxxx"))
    assert(IndexStore.latestGen(root).contains(1L))
    // a gen dir WITHOUT its completion marker is also invisible even if
    // someone scribbled the manifest first (torn publish)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "gen=9"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "LATEST"), "9".getBytes)
    assert(IndexStore.latestGen(root).isEmpty) // gen=9 incomplete → no complete latest
  }

  test("a dangling resolution memo falls through to a fresh resolve (ADVICE r12)") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot()
    val p1 = IndexStore.publish(root) { g =>
      Files.write(Paths.get(g, "data"), "v1".getBytes)
    }
    assert(IndexStore.latestPathCached(root).contains(p1)) // memoized
    // simulate TWO foreign-JVM publishes + their keep-2 retention: gens 2
    // and 3 appear on disk (written directly, so this JVM's memo never
    // hears about them) and gen 1 — the memoized path — is deleted
    for (id <- 2L to 3L) {
      val g = Paths.get(IndexStore.genPath(root, id))
      Files.createDirectories(g)
      Files.write(g.resolve("data"), s"v$id".getBytes)
      Files.write(g.resolve("_GRAFT_COMPLETE"), Array.emptyByteArray)
    }
    Files.write(Paths.get(root, "LATEST"), "3".getBytes)
    IndexStore.deleteRecursively(new java.io.File(p1))
    // the memoized generation is gone: the cache hit must detect the
    // dangling path (completion-marker stat) and re-resolve, not hard-fail
    assert(IndexStore.latestPathCached(root).contains(IndexStore.genPath(root, 3L)))
  }

  test("a probe pinned to gen N serves correctly while gen N+1 is half-written") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = freshRoot()
    val g1 = IndexStore.publish(root) { g =>
      (1 to 100).map(i => (i.toLong, i * 2L)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$g/t")
    }
    val pinned = IndexStore.latestPath(root).get
    assert(pinned == g1)
    var probedMidWrite = 0L
    var latestMidWrite: Option[Long] = None
    IndexStore.publish(root) { g =>
      // gen 2 is HALF-WRITTEN right now: one table already landed,
      // nothing marked complete, manifest still points at gen 1
      (1 to 50).map(i => (i.toLong, i * 3L)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$g/t")
      latestMidWrite = IndexStore.latestGen(root)
      probedMidWrite = spark.read.parquet(s"$pinned/t")
        .agg(sum("v")).head().getLong(0)
    }
    assert(latestMidWrite.contains(1L), "manifest moved before gen 2 completed")
    assert(probedMidWrite == (1 to 100).map(_ * 2L).sum,
      "pinned-generation probe diverged during the concurrent rebuild")
    // after the publish completes, the manifest points at gen 2
    assert(IndexStore.latestGen(root).contains(2L))
    val newSum = spark.read.parquet(s"${IndexStore.latestPath(root).get}/t")
      .agg(sum("v")).head().getLong(0)
    assert(newSum == (1 to 50).map(_ * 3L).sum)
  }

  test("retention keeps the newest `keep` generations and deletes the rest") {
    val root = freshRoot()
    (1 to 4).foreach { i =>
      IndexStore.publish(root, keep = 2) { g =>
        java.nio.file.Files.write(java.nio.file.Paths.get(g, "data"), s"v$i".getBytes)
      }
    }
    assert(IndexStore.latestGen(root).contains(4L))
    val gens = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("gen=")).sorted.toSeq
    assert(gens == Seq("gen=3", "gen=4"), s"retention left $gens")
  }

  test("concurrent publishes serialize per root and land as distinct generations") {
    val root = freshRoot()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = IndexStore.publish(root, keep = 10) { g =>
            java.nio.file.Files.write(java.nio.file.Paths.get(g, "data"), s"w$i".getBytes)
          }
        })
      }
      val paths = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(paths.distinct.size == 4, "publishes collided on a generation dir")
      assert(IndexStore.latestGen(root).contains(4L))
    } finally pool.shutdown()
  }

  test("cross-JVM publish race: the loser republishes as the next generation") {
    // Two builders that do NOT share the in-JVM lock (a second JVM is
    // simulated by a second spelling of the same root — different lock
    // key, same directory). Builder A computes its slot, then B claims it
    // while A is still writing; A must adopt the next free slot instead
    // of failing (ADVICE r11: the doc promised "loser republishes as
    // n+1").
    val root = freshRoot()
    val rootAlias = root + "/" // same dir, distinct lock key
    var bPath: String = null
    val aPath = IndexStore.publish(root) { g =>
      java.nio.file.Files.write(java.nio.file.Paths.get(g, "data"), "a".getBytes)
      // racer lands gen=1 while A's build is in flight
      bPath = IndexStore.publish(rootAlias) { g2 =>
        java.nio.file.Files.write(java.nio.file.Paths.get(g2, "data"), "b".getBytes)
      }
    }
    assert(bPath.endsWith("gen=1") && aPath.endsWith("gen=2"),
      s"expected the racer to take gen=1 and the loser gen=2, got $bPath / $aPath")
    assert(IndexStore.latestGen(root).contains(2L))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(aPath, "data"))) == "a")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(bPath, "data"))) == "b")
  }

  test("a stats planner racing a rebuild reads only the old complete generation") {
    // VERDICT r11 item 3: the stats store publishes through IndexStore
    // generations; a StatsCatalog read during BOTH mid-publish windows
    // (staging not yet moved; moved but manifest not yet swapped) must
    // serve the old complete generation's values.
    import spark.implicits._
    val root = freshRoot()
    val key = ("orders", "o_orderpriority")
    def writeNdv(g: String, v: Long): Unit =
      Seq((key._1, key._2, v)).toDF("tbl", "col", "ndv_est")
        .coalesce(1).write.parquet(s"$g/column_ndv")
    IndexStore.publish(root)(writeNdv(_, 5L))
    graft.plans.StatsCatalog.invalidate()
    assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 5L))
    IndexStore.publish(root) { g =>
      // window 1: gen 2 is staged, manifest still points at gen 1
      writeNdv(g, 999L)
      graft.plans.StatsCatalog.invalidate()
      assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 5L),
        "reader saw a half-published stats generation")
    }
    graft.plans.StatsCatalog.invalidate()
    assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 999L))
    // window 2: gen 3 fully moved WITH its completion marker, but the
    // manifest has not been swapped — still invisible
    val g3 = java.nio.file.Paths.get(IndexStore.genPath(root, 3L))
    java.nio.file.Files.createDirectories(g3)
    writeNdv(g3.toString, 777L)
    java.nio.file.Files.write(g3.resolve("_GRAFT_COMPLETE"), Array.emptyByteArray)
    graft.plans.StatsCatalog.invalidate()
    assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 999L),
      "reader followed an unswapped generation")
  }

  test("appendEventsStats is O(delta): the base slice's files are GONE when the append runs") {
    import org.apache.spark.sql.functions._
    // the incremental refresh must read only the persisted register row
    // plus the delta — proven the hard way: the base slice is a separate
    // parquet copy that gets DELETED between the base build and the
    // append; if the merge re-scanned the base it would fail on missing
    // files, and the merged numbers still equal a from-scratch build over
    // the full table (register max is a monoid — the merge is exact)
    val ev = Tables.events(spark, SparkTestHarness.Sf0001)
    val scratch = queries.StatsStore.scratchDir("graft_incr")
    ev.filter(expr("event_id % 5 <> 0")).write.parquet(s"$scratch/events_base")
    val baseDf = spark.read.parquet(s"$scratch/events_base")
    val root = freshRoot()
    queries.StatsStore.buildEventsStats(spark, root, baseDf)
    // from-scratch witness over the FULL table, into its own root
    val fullRoot = freshRoot()
    val fullGen = queries.StatsStore.buildEventsStats(spark, fullRoot, ev)
    def readStats(g: String): (Long, Long) = {
      val n = spark.read.parquet(s"$g/column_ndv").select("ndv_est").head().getLong(0)
      val r = spark.read.parquet(s"$g/table_rows").select("row_count").head().getLong(0)
      (n, r)
    }
    val expected = readStats(fullGen)
    IndexStore.deleteRecursively(new java.io.File(s"$scratch/events_base")) // base is gone
    val g2 = queries.StatsStore.appendEventsStats(spark, root,
      ev.filter(expr("event_id % 5 = 0")))
    assert(readStats(g2) === expected,
      "incremental merge diverged from the from-scratch build")
  }

  test("histogram counter append is O(delta): base files GONE, merged boundaries == from-scratch") {
    import org.apache.spark.sql.functions._
    // VERDICT r14 item 3: the counter-maintained histogram must merge
    // counters (addition monoid) + re-derive boundaries, never re-scan
    // the base — proven the hard way: the base slice is a separate
    // parquet copy DELETED between build and append, and the merged
    // histogram still equals a from-scratch build over the full table.
    val ev = Tables.events(spark, SparkTestHarness.Sf0001)
    val scratch = queries.StatsStore.scratchDir("graft_hist_incr")
    ev.filter(expr("event_id % 5 <> 0")).write.parquet(s"$scratch/events_base")
    val baseDf = spark.read.parquet(s"$scratch/events_base")
    val root = freshRoot()
    queries.StatsStore.buildTableStats(spark, root, "events", baseDf,
      Seq("user_id"), Seq("ts"))
    val fullGen = queries.StatsStore.buildTableStats(spark, freshRoot(), "events",
      ev, Seq("user_id"), Seq("ts"))
    def readHist(g: String): Seq[(Int, Long, Long)] =
      spark.read.parquet(s"$g/column_hist")
        .collect().map(r => (r.getInt(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val expected = readHist(fullGen)
    IndexStore.deleteRecursively(new java.io.File(s"$scratch/events_base")) // base is gone
    val g2 = queries.StatsStore.appendTableStats(spark, root, "events",
      ev.filter(expr("event_id % 5 = 0")), Seq("user_id"), Seq("ts"))
    assert(readHist(g2) === expected,
      "counter-merged histogram diverged from the from-scratch build")
    // and a histCols append onto a counter-LESS base refuses loudly
    val root2 = freshRoot()
    queries.StatsStore.buildEventsStats(spark, root2, ev.filter(expr("event_id % 5 <> 0")))
    val e = intercept[IllegalStateException] {
      queries.StatsStore.appendTableStats(spark, root2, "events",
        ev.filter(expr("event_id % 5 = 0")), Seq("user_id"), Seq("ts"))
    }
    assert(e.getMessage.contains("counter-built base"))
  }

  test("analyze survives a raw-micros timestamp column: day-end pre-bucketing bounds the boundary window") {
    import org.apache.spark.sql.functions._
    // VERDICT r14 item 4: events.ts is micros-resolution (its raw domain
    // scales with the row count); the builder must pre-bucket to day-END
    // micros BEFORE the global boundary walk. Behavioral pin: the build
    // completes and every stored boundary IS a day-end value — proof the
    // window ran over the truncated domain, not the raw one.
    val root = queries.StatsStore.scratchDir("graft_hist_micros") + "/store"
    queries.StatsStore.analyze(spark, SparkTestHarness.Sf0001, root,
      Nil, hist = Seq("events" -> Seq("ts")))
    val hist = spark.read.parquet(
      s"${graft.plans.StatsCatalog.resolveBase(root)}/column_hist").collect()
    assert(hist.length == 16, s"expected 16 boundary rows, got ${hist.length}")
    assert(hist.forall(_.getLong(3) % 86400000000L == 86399999999L),
      "a stored boundary is not a day-end value — the raw domain leaked into the walk")
    // exactness: the rows equal the streamed per-day definition (q298's),
    // re-derived here from raw through the shared helper
    val ev = Tables.events(spark, SparkTestHarness.Sf0001)
    val counts = ev.select(expr(
        "unix_micros(date_trunc('DAY', cast(ts as timestamp))) + 86399999999").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = queries.StatsStore.boundariesFromCounts("events", "ts", counts)
      .map(t => (t._3, t._4, t._5))
    assert(hist.map(r => (r.getInt(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
      === expected, "pre-bucketed boundaries diverged from the per-day definition")
  }

  test("a high-cardinality integral histogram domain fails the analyze loudly") {
    // the general surface accepts key columns; past HistMaxDomain distinct
    // values the boundary walk would single-partition a key-sized
    // relation — refuse with the documented bound instead (test seam
    // lowers the bound; fixture domains are all small)
    queries.StatsStore.withCaps(histDomain = 100L) {
      val root = queries.StatsStore.scratchDir("graft_hist_hi") + "/store"
      val e = intercept[IllegalArgumentException] {
        queries.StatsStore.analyze(spark, SparkTestHarness.Sf0001, root,
          Nil, hist = Seq("events" -> Seq("event_id")))
      }
      assert(e.getMessage.contains("single-partition"),
        s"expected the documented bound message, got: ${e.getMessage}")
    }
  }

  test("a histogram domain between the caps stores boundaries from one scan and no counters") {
    import org.apache.spark.sql.functions._
    // a domain past the counter carry cap but inside the boundary cap:
    // the boundaries still come from the exact per-value counts, and the
    // counters (with their source-bytes testimony) are skipped
    val orders = Tables.orders(spark, SparkTestHarness.Sf0001)
    val counts = orders.select(col("o_custkey").cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.size > 2, s"fixture domain too small: ${counts.size}")
    queries.StatsStore.withCaps(carryRows = counts.size - 1, histDomain = counts.size + 1L) {
      val root = queries.StatsStore.scratchDir("graft_hist_mid") + "/store"
      queries.StatsStore.analyze(spark, SparkTestHarness.Sf0001, root,
        Nil, hist = Seq("orders" -> Seq("o_custkey")))
      val g = graft.plans.StatsCatalog.resolveBase(root)
      val hist = graft.plans.StatsCatalog.Hist.read(spark, g)
      assert(hist.sortBy(_._3) ===
        queries.StatsStore.boundariesFromCounts("orders", "o_custkey", counts),
        "boundaries diverged from the exact per-value counts")
      assert(graft.plans.StatsCatalog.HistCounts.read(spark, g).isEmpty,
        "a domain past the carry cap stored counters")
      assert(graft.plans.StatsCatalog.SrcBytes.read(spark, g).isEmpty,
        "source bytes were stored without the counters they testify for")
    }
  }

  test("upsertFanoutStats stores the avg/max element counts of a direct size() aggregate") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, SparkTestHarness.Sf0001)
    val r = emb.agg(sum(size(col("embedding"))), max(size(col("embedding"))),
      count(lit(1))).head()
    val (sl, mx, n) = (r.getLong(0), r.getInt(1).toLong, r.getLong(2))
    assert(n > 0L)
    val g = queries.StatsStore.upsertFanoutStats(spark, freshRoot(), "embeddings",
      emb, Seq("embedding"))
    assert(graft.plans.StatsCatalog.Fanout.read(spark, g) ===
      Seq(("embeddings", "embedding", (sl + n - 1) / n, mx)))
  }

  test("a batch append extends a STREAM-built histogram: merged boundaries == from-scratch") {
    import org.apache.spark.sql.functions._
    // the annex claim verified: publishStreamedFactStats persists its day
    // counters as the managed counter kind, so appendTableStats can merge
    // a batch delta INTO a stream-built histogram — mixed lifecycles, one
    // counter algebra.
    val ev = Tables.events(spark, SparkTestHarness.Sf0001)
    val root = freshRoot()
    val base = ev.filter(expr("event_id % 5 <> 0"))
    // stream half: counters of the BASE slice, via the streamed publish
    val dayCounts = base.select(expr(
        "unix_micros(date_trunc('DAY', cast(ts as timestamp))) + 86399999999").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hll = org.apache.spark.sql.functions.udaf(new graft.functions.HllSketch())
    val regs = base.agg(hll(col("user_id").cast("string"))).head().getSeq[Long](0)
    queries.StreamServe.publishStreamedFactStats(spark, root, base.count(),
      regs.toSeq, dayCounts)
    // batch half: append the delta with histCols — must merge the
    // stream-built counters, not refuse or serve delta-only boundaries
    val g2 = queries.StatsStore.appendTableStats(spark, root, "events",
      ev.filter(expr("event_id % 5 = 0")), Seq("user_id"), Seq("ts"))
    val fullGen = queries.StatsStore.buildTableStats(spark, freshRoot(), "events",
      ev, Seq("user_id"), Seq("ts"))
    def readHist(g: String): Seq[(Int, Long, Long)] =
      spark.read.parquet(s"$g/column_hist")
        .collect().map(r => (r.getInt(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(readHist(g2) === readHist(fullGen),
      "a batch append onto a stream-built histogram diverged from the from-scratch build")
  }

  test("an expired memo over an UNCHANGED generation re-stamps without re-reading") {
    import spark.implicits._
    // VERDICT r13 "what's wrong" 1: expiry must NOT put a read on the
    // planning path when the generation hasn't moved. Proof: after the
    // memo is warm, the generation's parquet CONTENT is replaced in place
    // (same gen path, same completion marker). An expired read must keep
    // serving the ORIGINAL value (re-validation is metadata-only — it
    // never saw the new bytes); only a manifest MOVE pays the re-read.
    val root = freshRoot()
    val key = ("orders", "o_orderkey")
    def writeNdv(g: String, v: Long): Unit =
      Seq((key._1, key._2, v)).toDF("tbl", "col", "ndv_est")
        .coalesce(1).write.parquet(s"$g/column_ndv")
    val prevTtl = graft.plans.StatsCatalog.TtlNanos
    graft.plans.StatsCatalog.invalidate()
    try {
      val g1 = IndexStore.publish(root)(writeNdv(_, 100L))
      graft.plans.StatsCatalog.invalidate()
      assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 100L))
      // replace the generation's table bytes in place (path unchanged)
      IndexStore.deleteRecursively(new java.io.File(s"$g1/column_ndv"))
      writeNdv(g1, 555L)
      graft.plans.StatsCatalog.TtlNanos = 1L
      Thread.sleep(5)
      assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 100L),
        "expired memo re-read an unchanged generation")
      // and the re-stamp is real: the entry serves from cache again
      graft.plans.StatsCatalog.TtlNanos = prevTtl
      assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 100L))
      // a manifest MOVE (foreign republish) is still picked up on expiry
      IndexStore.publish(root + "/")(writeNdv(_, 200L))
      graft.plans.StatsCatalog.TtlNanos = 1L
      Thread.sleep(5)
      assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 200L),
        "expired memo did not re-read a MOVED generation")
    } finally {
      graft.plans.StatsCatalog.TtlNanos = prevTtl
      graft.plans.StatsCatalog.invalidate()
    }
  }

  test("appendTableStats two-appender race: the CAS retry absorbs the foreign delta (both survive)") {
    import org.apache.spark.sql.functions._
    // VERDICT r13 item 3 / what's wrong 2: two JVMs appending concurrently
    // both resolved base = gen N and the second publish silently dropped
    // the first's registers. Foreign JVM simulated by an alias spelling of
    // the root (distinct lock key, distinct CAS identity, same directory);
    // the test seam fires appender B INSIDE appender A's race window —
    // after A has read its base, before A publishes.
    val ev = Tables.events(spark, SparkTestHarness.Sf0001)
    val root = freshRoot()
    val rootAlias = root + "/"
    queries.StatsStore.buildEventsStats(spark, root, ev.filter(expr("event_id % 5 > 1")))
    val fullGen = queries.StatsStore.buildEventsStats(spark, freshRoot(), ev)
    def readStats(g: String): (Long, Long) = {
      val n = spark.read.parquet(s"$g/column_ndv").select("ndv_est").head().getLong(0)
      val r = spark.read.parquet(s"$g/table_rows").select("row_count").head().getLong(0)
      (n, r)
    }
    val expected = readStats(fullGen)
    var fired = false
    queries.StatsStore.casRaceHook = () => {
      if (!fired) {
        fired = true
        queries.StatsStore.appendEventsStats(spark, rootAlias,
          ev.filter(expr("event_id % 5 = 1")))
      }
    }
    try {
      val g = queries.StatsStore.appendEventsStats(spark, root,
        ev.filter(expr("event_id % 5 = 0")))
      // 1 = base, 2 = B's append, 3 = A's aborted attempt (missing B's
      // delta, detected), 4 = A's corrective retry merged onto B's gen
      assert(IndexStore.genIdOf(g) == 4L,
        s"expected the corrective publish at gen 4, got $g")
      assert(IndexStore.latestPath(root).contains(g))
      assert(readStats(g) === expected,
        "the CAS retry lost a concurrent appender's delta")
    } finally queries.StatsStore.casRaceHook = () => ()
  }

  test("mixed-writer root: a batch dim upsert racing the fact append — both writers' tables survive") {
    import org.apache.spark.sql.functions._
    // VERDICT r13 item 5's race coverage: the unified root is maintained
    // by a stream (fact entries, append semantics) AND batch analyze (dim
    // entries, replace semantics); a dim publish landing inside the fact
    // appender's window must not be lost, and vice versa.
    val ev = Tables.events(spark, SparkTestHarness.Sf0001)
    val root = freshRoot()
    val rootAlias = root + "/"
    queries.StatsStore.buildTableStats(spark, root, "events",
      ev.filter(expr("event_id % 5 <> 0")), Seq("user_id"))
    var fired = false
    queries.StatsStore.casRaceHook = () => {
      if (!fired) {
        fired = true
        queries.StatsStore.buildTableStats(spark, rootAlias, "customer",
          Tables.customer(spark, SparkTestHarness.Sf0001), Seq("c_custkey"))
      }
    }
    try {
      val g = queries.StatsStore.appendTableStats(spark, root, "events",
        ev.filter(expr("event_id % 5 = 0")), Seq("user_id"))
      assert(IndexStore.latestPath(root).contains(g))
      val rows = spark.read.parquet(s"$g/table_rows")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.get("events").contains(ev.count()),
        s"fact append lost in the mixed-writer race: $rows")
      assert(rows.get("customer").contains(
        Tables.customer(spark, SparkTestHarness.Sf0001).count()),
        s"dim upsert lost in the mixed-writer race: $rows")
      val ndvTables = spark.read.parquet(s"$g/column_ndv")
        .select("tbl", "col").collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(ndvTables == Set(("events", "user_id"), ("customer", "c_custkey")))
    } finally queries.StatsStore.casRaceHook = () => ()
  }

  test("THREE-writer CAS race: a foreign writer never adopts an aborted attempt as its base (ADVICE r14)") {
    import org.apache.spark.sql.functions._
    // The pre-r15 hole: writer A aborts (gen 3, missing B's interleaved
    // delta); writer C's base walk picked "newest complete non-own" = A's
    // ABORTED gen 3, so C's publish silently dropped B's delta and passed
    // its own success check; A's retry then re-merged its delta onto a
    // base that already carried it, double-counting rows. With the
    // recorded-base chain, C skips gen 3 (base 1 != chain head 2) and
    // every delta survives. Timeline driven through the race seam:
    //   gen1 = base build; A reads base 1 → hook launches B (gen2, clean);
    //   A aborts as gen3; A retries onto gen2 → hook launches C, whose
    //   base walk must give gen2 (NOT aborted gen3) → C lands gen4 clean;
    //   A aborts again as gen5 (C interleaved); A's final retry onto gen4
    //   lands gen6 = base ∪ A ∪ B ∪ C.
    val ev = Tables.events(spark, SparkTestHarness.Sf0001)
    val root = freshRoot()
    val aliasB = root + "/"
    val aliasC = root + "//"
    // distinct-size slices so a dropped or double-merged delta shows in
    // the row count, not just the registers
    val base = ev.filter(expr("event_id % 8 < 2"))
    val dA = ev.filter(expr("event_id % 8 IN (2, 3)"))
    val dB = ev.filter(expr("event_id % 8 = 4"))
    val dC = ev.filter(expr("event_id % 8 > 4"))
    queries.StatsStore.buildEventsStats(spark, root, base)
    def readStats(g: String): (Long, Long) = {
      val n = spark.read.parquet(s"$g/column_ndv").select("ndv_est").head().getLong(0)
      val r = spark.read.parquet(s"$g/table_rows").select("row_count").head().getLong(0)
      (n, r)
    }
    val fullGen = queries.StatsStore.buildEventsStats(spark, freshRoot(), ev)
    val expected = readStats(fullGen)
    // from-scratch witness of what C's clean publish must contain
    val cWitness = readStats(queries.StatsStore.buildEventsStats(spark, freshRoot(),
      ev.filter(expr("event_id % 8 < 2 OR event_id % 8 = 4 OR event_id % 8 > 4"))))
    val hookCount = new java.util.concurrent.atomic.AtomicInteger()
    var cGen: String = null
    queries.StatsStore.casRaceHook = () => {
      hookCount.incrementAndGet() match {
        case 1 => queries.StatsStore.appendEventsStats(spark, aliasB, dB)
        case 3 => cGen = queries.StatsStore.appendEventsStats(spark, aliasC, dC)
        case _ => ()
      }
    }
    try {
      val g = queries.StatsStore.appendEventsStats(spark, root, dA)
      assert(cGen != null && IndexStore.genIdOf(cGen) == 4L,
        s"expected C's clean publish at gen 4, got $cGen")
      assert(readStats(cGen) === cWitness,
        "C adopted an aborted attempt as its base — B's delta was dropped")
      assert(IndexStore.genIdOf(g) == 6L, s"expected A's corrective publish at gen 6, got $g")
      assert(IndexStore.latestPath(root).contains(g))
      assert(readStats(g) === expected,
        "the three-writer race lost or double-counted a delta")
    } finally queries.StatsStore.casRaceHook = () => ()
  }

  test("upsertStats replaces PER KIND: an ndv/rows upsert keeps the table's histogram (ADVICE r14)") {
    val root = freshRoot()
    val hist = (1 to 16).map(i => ("events", "ts", i, i * 100L, i * 10L))
    queries.StatsStore.upsertStats(spark, root,
      Seq(("events", "user_id", Seq.fill(64)(1L))), Seq("events" -> 100L), hist)
    // a batch re-analyze of the same table carrying only ndv+rows must NOT
    // delete the stream-maintained histogram rows
    val g = queries.StatsStore.upsertStats(spark, root,
      Seq(("events", "user_id", Seq.fill(64)(2L))), Seq("events" -> 200L))
    val kept = spark.read.parquet(s"$g/column_hist")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._3)
    assert(kept.toSeq == hist, "an ndv/rows upsert dropped the table's histogram rows")
    val rows = spark.read.parquet(s"$g/table_rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("events" -> 200L))
  }

  test("an empty stream refuses to publish the -1 row-count sentinel (VERDICT r14 what's wrong 2)") {
    val root = freshRoot()
    val e = intercept[IllegalStateException] {
      queries.StreamServe.publishStreamedFactStats(spark, root, -1L,
        Seq.fill(64)(0L), Map.empty)
    }
    assert(e.getMessage.contains("refusing to publish"))
    assert(IndexStore.latestGen(root).isEmpty, "the degenerate publish landed anyway")
  }

  test("an oversized unmanaged table fails the CAS append loudly instead of driver-materializing") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = Tables.events(spark, SparkTestHarness.Sf0001)
    val root = freshRoot()
    queries.StatsStore.buildEventsStats(spark, root, ev.filter(expr("event_id % 5 <> 0")))
    // a user parks a big relation in the current stats generation
    val g1 = IndexStore.latestPath(root).get
    (1 to 20000).map(i => (i.toLong, i * 2L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$g1/big_unmanaged")
    val e = intercept[IllegalStateException] {
      queries.StatsStore.appendEventsStats(spark, root, ev.filter(expr("event_id % 5 = 0")))
    }
    assert(e.getMessage.contains("capped"),
      s"expected the carry cap message, got: ${e.getMessage}")
  }

  test("a span upsert racing the fact append: neither writer's tables are lost (VERDICT r14 item 1)") {
    import org.apache.spark.sql.functions._
    // the unified root's two batch-half writers can race the stream half:
    // a windows/span publish landing inside the fact appender's window
    // must survive the corrective retry, and vice versa.
    val ev = Tables.events(spark, SparkTestHarness.Sf0001)
    val root = freshRoot()
    val rootAlias = root + "/"
    queries.StatsStore.buildEventsStats(spark, root, ev.filter(expr("event_id % 5 <> 0")))
    var fired = false
    queries.StatsStore.casRaceHook = () => {
      if (!fired) {
        fired = true
        queries.StatsStore.upsertWindowSpans(spark, rootAlias, SparkTestHarness.Sf0001)
      }
    }
    try {
      val g = queries.StatsStore.appendEventsStats(spark, root,
        ev.filter(expr("event_id % 5 = 0")))
      assert(IndexStore.latestPath(root).contains(g))
      val rows = spark.read.parquet(s"$g/table_rows")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.get("events").contains(ev.count()),
        s"fact append lost in the span race: $rows")
      val span = spark.read.parquet(s"$g/column_span")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(span.toSeq == Seq(("windows", "ws", "we")),
        s"the span upsert was lost in the race: ${span.toSeq}")
      assert(new java.io.File(s"$g/windows.parquet").exists(),
        "the windows interval table was lost in the race")
      assert(spark.read.parquet(s"$g/windows.parquet").count() == 24L)
    } finally queries.StatsStore.casRaceHook = () => ()
  }

  test("a CAS publish carries table kinds it does not manage (spans/fanout survive an append)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the CAS content model manages ndv/rows/hist; any OTHER stats table
    // in the base generation (span catalog, fan-out, interval tables)
    // must ride through an append verbatim — dropping one would silently
    // deactivate its consumer on the next generation.
    val ev = Tables.events(spark, SparkTestHarness.Sf0001)
    val root = freshRoot()
    queries.StatsStore.buildEventsStats(spark, root, ev.filter(expr("event_id % 5 <> 0")))
    // a foreign-ish writer drops a fan-out table into the CURRENT gen dir
    val g1 = IndexStore.latestPath(root).get
    Seq(("embeddings", "embedding", 64L, 64L)).toDF("tbl", "col", "avg_len", "max_len")
      .coalesce(1).write.parquet(s"$g1/column_fanout")
    val g2 = queries.StatsStore.appendEventsStats(spark, root,
      ev.filter(expr("event_id % 5 = 0")))
    val fan = spark.read.parquet(s"$g2/column_fanout")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(fan.toSeq == Seq(("embeddings", "embedding", 64L, 64L)),
      "an unmanaged stats table was dropped by the CAS append")
  }

  test("the stats memo expires: a foreign republish is seen after the TTL; failed refresh serves stale") {
    import spark.implicits._
    val root = freshRoot()
    val key = ("orders", "o_custkey")
    def writeNdv(g: String, v: Long): Unit =
      Seq((key._1, key._2, v)).toDF("tbl", "col", "ndv_est")
        .coalesce(1).write.parquet(s"$g/column_ndv")
    val prevTtl = graft.plans.StatsCatalog.TtlNanos
    graft.plans.StatsCatalog.invalidate()
    try {
      IndexStore.publish(root)(writeNdv(_, 100L))
      graft.plans.StatsCatalog.invalidate()
      assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 100L))
      // a FOREIGN JVM republishes (simulated via an alias root so this
      // JVM's publish-side invalidate never fires for `root`'s memo key)
      IndexStore.publish(root + "/")(writeNdv(_, 200L))
      // inside the TTL the memo still serves the first generation …
      assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 100L))
      // … and after expiry the next read resolves the new generation
      graft.plans.StatsCatalog.TtlNanos = 1L
      Thread.sleep(5)
      assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 200L),
        "expired memo did not pick up the foreign republish")
      // a refresh that FAILS keeps serving the last good value (stale
      // beats none for plan hints): torch the store, read again
      IndexStore.deleteRecursively(new java.io.File(root))
      Thread.sleep(5)
      assert(graft.plans.StatsCatalog.ndv(spark, root) == Map(key -> 200L),
        "failed refresh should serve the stale value, not empty")
    } finally {
      graft.plans.StatsCatalog.TtlNanos = prevTtl
      graft.plans.StatsCatalog.invalidate()
    }
  }

  test("erasure republish: frozen quantizer carried verbatim, erased codes subtracted, pinned gen untouched") {
    // VERDICT r15 item 6's store lifecycle: an erasure sweep republishes
    // the ANN index as gen 2 = gen 1's centroids VERBATIM + gen 1's codes
    // minus the erased members — never a retrain — while a reader pinned
    // to gen 1 (resolved before the sweep) still serves the pre-erasure
    // set until it re-resolves (generations are immutable; retention
    // keeps two).
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    import s.implicits._
    val root = freshRoot()
    val codes = (0 until 200).map(i => (i.toLong, (i % 8 + 1)))
    val g1 = IndexStore.publish(root) { g =>
      Seq.tabulate(8)(k => (k + 1, Seq.fill(4)(k * 0.5)))
        .toDF("cluster", "cv").coalesce(1).write.parquet(s"$g/centroids")
      codes.toDF("vec_id", "cluster")
        .write.partitionBy("cluster").parquet(s"$g/codes")
    }
    val pinned = IndexStore.latestPath(root).get
    val g2 = IndexStore.publish(root) { g =>
      s.read.parquet(s"$g1/centroids").coalesce(1).write.parquet(s"$g/centroids")
      s.read.parquet(s"$g1/codes").filter(pmod(col("vec_id"), lit(50)) =!= 7)
        .write.partitionBy("cluster").parquet(s"$g/codes")
    }
    // the frozen quantizer: gen 2's centroid ROWS equal gen 1's exactly
    val c1 = s.read.parquet(s"$g1/centroids").collect().map(_.toString).sorted
    val c2 = s.read.parquet(s"$g2/centroids").collect().map(_.toString).sorted
    assert(c1.toSeq == c2.toSeq, "republish retrained or altered the quantizer")
    // gen 2 codes = gen 1 codes minus the erased set, (vec_id, cluster)-exact
    val set1 = s.read.parquet(s"$g1/codes")
      .collect().map(r => (r.getLong(0), r.getAs[Int]("cluster"))).toSet
    val set2 = s.read.parquet(s"$g2/codes")
      .collect().map(r => (r.getLong(0), r.getAs[Int]("cluster"))).toSet
    assert(set2 == set1.filterNot(_._1 % 50 == 7), "erased subtraction wrong")
    assert(set2.forall(_._1 % 50 != 7), "erased member survived in the served gen")
    // the pinned pre-sweep path still serves the erased members (immutable)
    val pinnedResidual = s.read.parquet(s"$pinned/codes")
      .filter(pmod(col("vec_id"), lit(50)) === 7).count()
    assert(pinnedResidual == 4L, s"pinned generation changed under the reader: $pinnedResidual")
    // the latest resolution now serves gen 2
    assert(IndexStore.latestPath(root).contains(g2))
  }
}
