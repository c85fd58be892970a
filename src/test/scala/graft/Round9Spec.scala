package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-9 operator properties: the sort-based 2-D skyline vs brute-force
  * dominance, personalized PageRank vs the global fixed point in its
  * degenerate case, and the DataFrame-needle substring search vs the
  * literal-needle path.
  */
class Round9Spec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private var state = 0x9E3779B97F4A7C15L
  private def next(bound: Int): Int = {
    state = state * 6364136223846793005L + 1442695040888963407L
    (((state >>> 33) % bound) + bound).toInt % bound
  }

  test("skyline2d == brute-force dominance on 10 deterministic random point sets") {
    import spark.implicits._
    for (_ <- 0 until 10) {
      val n = 20 + next(60)
      // small coordinate range on purpose: forces x ties and exact-duplicate
      // points, the cases where the group-max/running-max logic can slip
      val pts = (0 until n).map(i => (i.toLong, next(12).toLong, next(12).toLong))
      val df = pts.toDF("id", "x", "y")
      val got = Graft.skyline2d(df, "x", "y")
        .select("id").as[Long].collect().toSet
      val want = pts.filter { case (_, x, y) =>
        !pts.exists { case (_, x2, y2) =>
          x2 >= x && y2 >= y && (x2 > x || y2 > y)
        }
      }.map(_._1).toSet
      assert(got == want, s"skyline mismatch on ${pts.take(8)}...")
    }
  }

  test("personalized PageRank with seeds == all nodes reproduces global PageRank") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"))
      .toDF("name", "dep")
    val nodes = Seq("a", "b", "c", "d").toDF("name")
    // scale divisible by 100 * 4 so both variants' init/floor are exact
    val scale = 4000000L
    val global = operators.PageRank.run(spark, edges, nodes, 6, scale)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ppr = operators.PageRank.personalized(spark, edges, nodes, nodes, 6, scale)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ppr == global)
  }

  test("personalized PageRank: unreachable nodes rank 0, seed neighborhood > 0") {
    import spark.implicits._
    val edges = Seq(("s", "x"), ("x", "y"), ("far", "farther")).toDF("name", "dep")
    val nodes = Seq("s", "x", "y", "far", "farther").toDF("name")
    val pr = operators.PageRank.personalized(spark, edges, nodes,
        Seq("s").toDF("name"), 4, 2000000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr("s") > 0 && pr("x") > 0 && pr("y") > 0)
    assert(pr("far") == 0 && pr("farther") == 0)
  }

  test("substringSearchDF == literal-needle substringSearch on the fixture corpus") {
    import spark.implicits._
    val docs = Tables.documents(spark, SparkTestHarness.Sf0001)
    val needles = Seq("batch merge", "value table", "zz-never-present")
    val lit = Graft.substringSearch(docs, needles)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val df = Graft.substringSearchDF(docs, needles.toDF("needle"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(lit == df)
    assert(lit.nonEmpty)
  }

  test("fuzzyJoin == brute-force levenshtein<=1 on random tiny-alphabet strings") {
    import spark.implicits._
    // 3-char alphabet + short strings force every edit class (equal,
    // deletion, insertion, substitution) AND near-misses like transposed
    // pairs ("ab"/"ba", ed=2) that naive variant-intersection overmatches
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (_ <- 0 until 4) {
      val strs = (0 until 30).map { i =>
        (i.toLong, (0 until (2 + next(4))).map(_ => ('a' + next(3)).toChar).mkString)
      }
      val left = strs.toDF("lid", "ls")
      val right = strs.toDF("rid", "rs")
      val got = Graft.fuzzyJoin(left, "ls", right, "rs")
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val want = (for {
        (i, x) <- strs; (j, y) <- strs if lev(x, y) <= 1
      } yield (i, j)).toSet
      assert(got == want, s"fuzzyJoin mismatch on ${strs.take(8)}")
    }
  }

  test("HITS on a two-hub star: the sink takes all authority, sources split hub mass") {
    import spark.implicits._
    val edges = Seq(("a", "c"), ("b", "c")).toDF("name", "dep")
    val nodes = Seq("a", "b", "c").toDF("name")
    val scale = 600000L
    val m = operators.Hits.run(spark, edges, nodes, 3, scale)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m("c") == ((scale, 0L)))
    assert(m("a") == ((0L, scale / 2)) && m("b") == ((0L, scale / 2)))
  }

  test("substringSearchDF drops sub-trigram needles instead of matching everything") {
    import spark.implicits._
    val docs = Seq((1L, "abcdef"), (2L, "xyz")).toDF("doc_id", "text")
    val got = Graft.substringSearchDF(docs, Seq("ab", "bcd").toDF("needle"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("bcd", 1L)))
  }

  test("label propagation resolves a barbell into its two communities") {
    import spark.implicits._
    // two triangles joined by one bridge edge: after enough synchronous
    // rounds every triangle member carries its triangle's min label; the
    // bridge never overwhelms the in-triangle majority
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d")).toDF("src", "dst")
    val nodes = Seq("a", "b", "c", "d", "e", "f", "z").toDF("id")
    val got = operators.LabelProp.run(spark, edges, nodes, 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("a") == "a" && got("b") == "a" && got("c") == "a")
    assert(Set("d", "e", "f").map(got).size == 1, s"right triangle split: $got")
    assert(got("z") == "z", "isolated node must keep its own label")
  }

  test("label propagation with zero rounds is the identity labeling") {
    import spark.implicits._
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val nodes = Seq("a", "b").toDF("id")
    val got = operators.LabelProp.run(spark, edges, nodes, 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "b"))
  }

  test("q180's recursive-CTE min depth agrees with the driver-loop BFS closure") {
    // two independent implementations of the same walk — Spark's native
    // UnionLoopExec recursion (SQL text) vs operators.Closure's driver
    // loop — must report the same (name, min depth) reachability set
    // within the recursion bound
    val dir = SparkTestHarness.Sf0001
    val viaSql = SparkEntry.queries("q180_sql_recursive_closure")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val viaLoop = queries.Resolution.resolvedEdges(spark, dir)
    val bfs = operators.Closure.reachable(spark, viaLoop, "pkg-00")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val bounded = bfs.filter(_._2 <= 6) + ("pkg-00" -> 0)
    assert(viaSql.keySet == bounded.keySet, s"sql=$viaSql bfs=$bounded")
    viaSql.foreach { case (n, d) => assert(bounded(n) == d, s"depth mismatch at $n") }
  }

  test("q184 content-defined chunking beats fixed-width on shift survival") {
    val rows = SparkEntry.queries("q184_content_chunking")(spark, SparkTestHarness.Sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(4), r.getLong(5))).toMap
    val (cdcChunks, cdcSurv, cdcSurvPm) = rows("cdc")
    val (_, fixSurv, fixSurvPm) = rows("fixed")
    assert(cdcChunks > 0)
    assert(cdcSurv > 0 && cdcSurvPm > 500, s"cdc survival too low: $rows")
    assert(fixSurvPm < 100, s"fixed-width should lose nearly all chunks: $rows")
    assert(cdcSurv > fixSurv)
  }

  test("q188 covered snapshot-units reconcile with raw per-name presence counts") {
    import org.apache.spark.sql.functions._
    val dir = SparkTestHarness.Sf0001
    val got = SparkEntry.queries("q188_temporal_weighted")(spark, dir)
      .select("name", "covered_snaps")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent reconciliation: every (pkg_id, snap) presence row is
    // covered by exactly one validity interval, so per-name presence
    // counts must equal per-name covered durations
    val presence = queries.Packages.snapshots(spark, dir, 3)
      .groupBy("name").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == presence)
  }

  test("q201 attribution conserves credit: every model sums to 1000 per conversion") {
    import org.apache.spark.sql.functions._
    val dir = SparkTestHarness.Sf0001
    val out = SparkEntry.queries("q201_attribution")(spark, dir)
      .groupBy("model").agg(sum("credit_x1000").as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nPurchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase").count()
    assert(out.keySet == Set("first", "last", "linear"))
    out.foreach { case (m, total) =>
      assert(total == 1000L * nPurchases, s"model $m leaks credit: $total vs ${1000 * nPurchases}")
    }
  }

  test("q203 fair-share never exceeds the budget and never caps an under-quota source") {
    val rows = SparkEntry.queries("q203_fair_share")(spark, SparkTestHarness.Sf0001).collect()
    val totalTokens = rows.map(_.getLong(1)).sum
    val budget = totalTokens / 5
    val alloc = rows.map(_.getLong(3)).sum
    assert(alloc <= budget, s"allocated $alloc over budget $budget")
    rows.foreach { r =>
      val (n, cap, a, capped) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))
      assert(a == math.min(n, cap))
      if (capped == 0) assert(a == n, s"uncapped source truncated: $r")
    }
  }

  test("q189 pruned exact MIPS equals an in-memory brute force on the derived corpus") {
    import org.apache.spark.sql.functions._
    val dir = SparkTestHarness.Sf0001
    val out = SparkEntry.queries("q189_blockmax_mips")(spark, dir).collect()
    assert(out.forall(_.getLong(5) > 0), "pruning must actually engage")
    // independent in-memory model of the derived clustered corpus
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), expr("transform(embedding, x -> cast(x as double))"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Double](2).toArray))
    val w = emb.map { case (id, lab, v) =>
      (id, v.zipWithIndex.map { case (x, i) => if (i == lab * 6) x + 2.0 else x })
    }
    val wm = w.toMap
    for (qid <- 0L until 5L) {
      val qv = wm(qid)
      val want = w.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cv.zip(qv).map { case (a, b) => a * b }.sum) }
        .sortBy { case (cid, d) => (-d, cid) }.take(3).map(_._1).toSeq
      val got = out.filter(_.getLong(0) == qid).sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      assert(got == want, s"qid=$qid got=$got want=$want")
    }
  }
}
