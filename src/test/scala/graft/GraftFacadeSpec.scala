package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The library façade through its public entry points (a pkg2 user's daily
  * operations end-to-end).
  */
class GraftFacadeSpec extends AnyFunSuite {
  private lazy val spark = Graft.init(SparkTestHarness.spark)
  private val dir = SparkTestHarness.Sf0001

  test("search finds packages by substring, newest version first") {
    val r = Graft.search(Tables.packages(spark, dir), "PKG-0", limit = 10).collect()
    assert(r.nonEmpty && r.length <= 10)
    assert(r.forall(_.getAs[String]("name").startsWith("pkg-0")))
  }

  test("latestVersions picks the version the ordering says is max") {
    val latest = Graft.latestVersions(Tables.packages(spark, dir))
    val row = latest.filter(col("name") === "pkg-01").head()
    val all = Tables.packages(spark, dir).filter(col("name") === "pkg-01")
      .select("version").collect().map(_.getString(0))
    val expected = all.maxBy(graft.functions.VersionOrder.sortKey)
    assert(row.getAs[String]("latest_version") === expected)
  }

  test("satisfying applies the version constraint") {
    val n = Graft.satisfying(Tables.packages(spark, dir), "2.0.0-r0").count()
    assert(n > 0 && n < Tables.packages(spark, dir).count())
  }

  test("resolve + reverseDeps + orphans compose over the edge table") {
    val edges = Tables.dependsEdges(spark, dir)
    val plan = Graft.resolve(spark, edges, "pkg-00")
    assert(plan.count() > 1)
    val rd = Graft.reverseDeps(edges)
    assert(rd.filter(col("n_rdeps") > 0).count() === rd.count())
    val orph = Graft.orphans(Tables.packages(spark, dir).select("name").distinct(), edges)
    // orphan set and reverse-dep key set partition the name universe
    assert(orph.count() + rd.count() === 60)
  }

  test("cosine works on computed array columns and is 1.0 on self") {
    val e = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      // computed input: scaled copy — cosine is scale-invariant
      .withColumn("v2", expr("transform(v, x -> x * 2.0D)"))
    val r = e.select(Graft.cosine(col("v"), col("v2")).as("c")).agg(min("c"), max("c")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("installPlan matches the judged q68 result on the fixture relations") {
    val plan = Graft.installPlan(spark,
      Tables.dependsSpecs(spark, dir), Tables.provides(spark, dir),
      Tables.packages(spark, dir).select("name", "version"), "pkg-00")
    val judged = SparkEntry.queries("q68_install_plan")(spark, dir)
    assert(plan.collect().toSeq === judged.collect().toSeq)
  }

  test("blockedBy matches q70's blocked candidates") {
    val nm = Tables.packageNames(spark, dir)
    val installed = nm.filter(expr("i % 3 = 0")).select("name")
    val cand = nm.filter(expr("i % 3 <> 0")).select("name")
    // Compare per-candidate sorted blocker CSVs, not counts (ADVICE r4):
    // a direction swap inside blockedBy would preserve counts but not the
    // blocker names q70 publishes.
    val blocked = Graft.blockedBy(cand, installed,
      Tables.conflicts(spark, dir), Tables.replaces(spark, dir))
      .groupBy("name")
      .agg(array_join(sort_array(collect_list(col("blocker"))), ",").as("blockers"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val judged = SparkEntry.queries("q70_conflict_check")(spark, dir)
      .filter(col("n_blockers") > 0).select("name", "blockers")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(blocked === judged)
  }

  test("planConflicts finds an unsafe plan; replaces makes it safe") {
    import spark.implicits._
    // plan {A, B, C}; B declares a conflict with C (both in set) and with
    // X (outside the set — must not count)
    val plan = Seq("A", "B", "C").toDF("name")
    val conflicts = Seq("B" -> "C", "B" -> "X").toDF("name", "conflicts_with")
    val noRep = Seq.empty[(String, String)].toDF("name", "replaces_name")
    val unsafe = Graft.planConflicts(plan, conflicts, noRep).collect()
    assert(unsafe.map(r => (r.getString(0), r.getString(1))).toSeq === Seq("B" -> "C"))
    // B replaces C → the takeover resolves the conflict, plan is safe
    val rep = Seq("B" -> "C").toDF("name", "replaces_name")
    assert(Graft.planConflicts(plan, conflicts, rep).isEmpty)
  }

  test("dedupClusters flags exactly one canonical per cluster") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val r = Graft.dedupClusters(spark, pairs).collect()
      .map(row => row.getLong(0) -> ((row.getLong(1), row.getInt(2)))).toMap
    assert(r === Map(
      1L -> ((1L, 1)), 2L -> ((1L, 0)), 3L -> ((1L, 0)),
      10L -> ((10L, 1)), 11L -> ((10L, 0))))
  }

  test("autoremove: explicit kept, dep chains kept, leftovers removable, outside-install edges ignored") {
    import spark.implicits._
    // A(explicit) -> B -> C installed; D installed, once needed, now not;
    // B -> E edge leaves the installed set and must not resurrect E or
    // extend the walk through it
    val edges = Seq("A" -> "B", "B" -> "C", "B" -> "E", "E" -> "D").toDF("name", "dep")
    val installed = Seq("A", "B", "C", "D").toDF("name")
    val explicitRoots = Seq("A").toDF("name")
    val r = Graft.autoremove(spark, edges, installed, explicitRoots)
      .collect().map(x => x.getString(0) -> ((x.getString(1), x.getLong(2), x.getInt(3)))).toMap
    assert(r("A") === (("explicit", 1L, 0)))
    assert(r("B") === (("kept", 1L, 1)))
    assert(r("C") === (("kept", 1L, 2)))
    // D is only reachable through E, which is not installed: removable
    assert(r("D") === (("removable", 0L, -1)))
    assert(!r.contains("E"))
  }

  test("stratifiedSample is append-stable: adding docs never flips a decision") {
    val docs = Tables.documents(spark, dir)
    val half = docs.filter(col("doc_id") < 50)
    val rates = Map("en" -> 50, "zh" -> 25)
    val fromHalf = Graft.stratifiedSample(half, rates, 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fromAll = Graft.stratifiedSample(docs, rates, 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fromAll.filter(_ < 50) === fromHalf)
    assert(fromAll.nonEmpty && fromAll.size < docs.count())
  }

  test("chunk reassembles to the original token stream") {
    import spark.implicits._
    val doc = Seq((1L, (1 to 80).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = Graft.chunk(doc, chunkSize = 32, stride = 24)
      .collect().sortBy(_.getInt(1))
    // stride-prefix of each chunk concatenated + the tail of the last one
    val reassembled = chunks.dropRight(1).flatMap(_.getSeq[String](2).take(24)) ++
      chunks.last.getSeq[String](2)
    assert(reassembled.toSeq === (1 to 80).map(i => s"t$i"))
  }

  test("substringSearch returns exactly the naive contains-scan answer") {
    val docs = Tables.documents(spark, dir)
    val needles = Seq("batch merge fast", "scan query", "window data", "zz zz zz")
    val got = Graft.substringSearch(docs, needles)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = needles.flatMap { n =>
      docs.filter(col("text").contains(n)).select("doc_id")
        .collect().map(r => (n, r.getLong(0)))
    }.toSet
    assert(got === want)
    assert(got.nonEmpty, "needle set should match at least one doc")
  }

  test("substringSearch verification kills trigram false positives") {
    import spark.implicits._
    // doc 1 contains every trigram of 'abcdef' (via 'abcd' and 'cdef')
    // but not the substring itself — index candidates alone would be wrong
    val docs = Seq((1L, "xx abcd yy cdef zz"), (2L, "zz abcdef zz"))
      .toDF("doc_id", "text")
    val r = Graft.substringSearch(docs, Seq("abcdef"), probeTrigrams = 10)
      .collect().map(_.getLong(1)).toSet
    assert(r === Set(2L))
  }

  test("substringSearch rejects sub-trigram needles") {
    val docs = Tables.documents(spark, dir)
    intercept[IllegalArgumentException] {
      Graft.substringSearch(docs, Seq("ok", "abc"))
    }
  }

  test("saltedJoin equals the plain join and spreads the key across salts") {
    val docs = Tables.documents(spark, dir)
    val dim = docs.groupBy("lang").agg(avg("n_chars").as("lang_avg"))
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "-1") // the skew scenario: small side unbroadcastable
      val salted = Graft.saltedJoin(docs, dim, "lang", "doc_id", salts = 8)
      val plain = docs.join(dim, "lang")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "lang", "lang_avg")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(rows(salted) === rows(plain))
      // the exchange must carry the salt: 5 hot lang keys spread over 40
      // (key, salt) combinations instead of 5 reducers
      val p = salted.queryExecution.executedPlan.toString
      assert(p.contains("__salt"), s"salt column absent from the plan:\n${p.take(1500)}")
    } finally spark.conf.set(conf, prev)
  }

  test("profile counts nulls, exact distincts, and lexical min/max in one pass") {
    import spark.implicits._
    val df = Seq(
      (Some(3L), Some("b")), (None, Some("a")), (Some(10L), None), (Some(3L), Some("c")))
      .toDF("k", "s")
    val got = Graft.profile(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    // lexical min/max over the STRING form: "10" < "3"
    assert(got("k") === ((4L, 1L, 2L, "10", "3")))
    assert(got("s") === ((4L, 1L, 3L, "a", "c")))
    // single scan: exactly one aggregate source, no join/union fan-out
    val plan = Graft.profile(df, Seq("k", "s")).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Union"),
      s"profile should be one aggregation pass:\n$plan")
  }

  test("mergeAggState over any batch split equals the full recompute") {
    val ev = Tables.events(spark, dir)
    def aggOf(df: org.apache.spark.sql.DataFrame) = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(28,2)")).as("sv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    val full = rows(aggOf(ev))
    // three-way split, merged pairwise — associativity of the merge
    val Seq(b1, b2, b3) = Seq(
      ev.filter(col("user_id") % 3 === 0), ev.filter(col("user_id") % 3 === 1),
      ev.filter(col("user_id") % 3 === 2))
    val merged = Graft.mergeAggState(
      Graft.mergeAggState(aggOf(b1), aggOf(b2), Seq("event_type")),
      aggOf(b3), Seq("event_type"))
    assert(rows(merged) === full)
    intercept[IllegalArgumentException] {
      Graft.mergeAggState(aggOf(ev), aggOf(ev).drop("sv"), Seq("event_type"))
    }
    // a name-matching but type-drifted delta must fail, not coerce
    intercept[IllegalArgumentException] {
      Graft.mergeAggState(aggOf(ev),
        aggOf(ev).withColumn("sv", col("sv").cast("string")), Seq("event_type"))
    }
  }

  test("z-order bins are narrow in BOTH dimensions") {
    val r = SparkEntry.queries("q121_zorder_layout")(spark, dir).collect()
    assert(r.nonEmpty)
    // a 16384-wide z-bin covers 2^14 Morton codes = a 128x128 tile of the
    // 1024x1024 (cust, day) grid — both per-bin spans must stay <= 127
    r.foreach { row =>
      assert(row.getLong(3) - row.getLong(2) <= 127, s"cust span wide in bin ${row.getLong(0)}")
      assert(row.getLong(5) - row.getLong(4) <= 127, s"day span wide in bin ${row.getLong(0)}")
    }
  }

  test("compact rewrites many small files into few, row-identically") {
    val out = queries.StatsStore.scratchDir("graft_compact") + "/t"
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
    docs.repartition(24).write.parquet(out)
    val want = docs.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val (nb, na) = Graft.compact(spark, out, targetFileBytes = 64L << 20)
    assert(nb >= 24 && na < nb && na >= 1, s"before=$nb after=$na")
    val back = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"))).sorted.toSeq
    assert(back === want)
    // no leftover working dirs
    assert(!new java.io.File(out + ".__compact").exists())
    assert(!new java.io.File(out + ".__old").exists())
  }

  test("compact self-heals crash residue and sortBy preserves clustered layout") {
    val base = queries.StatsStore.scratchDir("graft_compact2")
    val out = base + "/t"
    val docs = Tables.documents(spark, dir).select("doc_id", "lang")
    docs.repartition(16).write.parquet(out)
    // stale residue from a "crashed" prior run must not break the next one
    new java.io.File(out + ".__old").mkdirs()
    new java.io.File(out + ".__compact").mkdirs()
    // sortBy: tiny target forces several output files; each must cover a
    // disjoint doc_id range (the min/max pruning property)
    val (_, na) = Graft.compact(spark, out, targetFileBytes = 2048L, sortBy = Seq("doc_id"))
    assert(na > 1, s"expected multiple output files, got $na")
    val files = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getPath).sorted
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("doc_id"), max("doc_id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
    // rows intact
    assert(spark.read.parquet(out).count() === docs.count())
  }

  test("ruleDiagnostics facade: enable → plan → read → clear") {
    val s = spark.newSession()
    Graft.enableRuleDiagnostics(s)
    s.conf.set(graft.plans.SketchStats.DirKey,
      queries.StatsStore.ensureStats(s, dir))
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "8192")
    val dim = Tables.orders(s, dir).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_prio"))
    Tables.orders(s, dir).join(dim, "o_orderpriority")
      .queryExecution.optimizedPlan
    val rows = Graft.ruleDiagnostics(s).collect()
    assert(rows.exists(r => r.getString(0) == "broadcast-flip" && r.getString(1) == "fired"),
      s"facade read missed the flip record: ${rows.mkString(",")}")
    Graft.clearRuleDiagnostics(s)
    assert(Graft.ruleDiagnostics(s).collect().isEmpty, "clear left records behind")
  }

  test("exactDupGroups agrees with the distinct-text count") {
    val docs = Tables.documents(spark, dir)
    val g = Graft.exactDupGroups(docs)
    // rows in dup groups == total docs - distinct texts + number of groups
    val extraCopies = docs.count() - docs.select(lower(trim(col("text")))).distinct().count()
    val fromGroups = g.agg(sum(col("n_docs") - 1)).head()
    val got = if (fromGroups.isNullAt(0)) 0L else fromGroups.getLong(0)
    assert(got === extraCopies)
  }
}
