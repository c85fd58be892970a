package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** One timed invocation: wall seconds, metered store-build seconds
    * inside it, and whether the query body completed (VERDICT r17 item 2:
    * a swallowed throw used to feed its — possibly near-zero — wall time
    * into the per-query minimum, so a failed pass could masquerade as the
    * headline number; failures are now first-class and excluded). */
  private final case class Run(t: Double, build: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // wall budget for the TIMED PASSES (VERDICT r17 item 1: the protocol
    // outgrew the driver's timeout and the artifact died with it — the
    // bench now sheds passes, never the artifact): before starting a
    // pass, if the elapsed pass wall plus a conservative estimate of the
    // next pass would cross the budget, the remaining passes are skipped
    // and the artifact says so. Loaded-box runs complete with fewer
    // samples; idle runs are untouched.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2100").toDouble
    val spark = Sessions.local(Sessions.cores)
    // a PREVIOUS run's artifacts must not masquerade as this one's if
    // this run dies before writing them (review r18: a kill during pass 1
    // would have left the prior round's complete:true line and a
    // different run's job baseline on disk): stub every artifact to an
    // honest empty "in progress" state before any work
    def put(path: String, body: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        body.getBytes("UTF-8"))
      catch { case _: Throwable => () }
    put("BENCH_LINE.json",
      s"""{"metric":"total","value":0.000,"unit":"sec","n_queries":0,"failed_queries":0,"passes_completed":0,"complete":false,"sf":"$sfDir"}\n""")
    put("bench_passes.json",
      s"""{"sf":"$sfDir","passes":{},"failed_passes":{},"store_builds":{}}""")
    put("bench_jobs.json",
      s"""{"sf":"$sfDir","note":"run in progress - no job pass recorded yet","jobs":{}}""")
    put("bench_rounds.json",
      s"""{"sf":"$sfDir","unit":"sec","fields":["label","round","sec","jobs"],"rounds":[]}""")
    // per-round stat capture is opt-in (ADVICE r10: Verify/Serve/test JVMs
    // must not accumulate an undrained log) — Bench is the one drainer
    graft.operators.Iterate.setRecording(true)
    // JIT/codegen warmup on the tiny tier (different dir — no data-cache
    // effect on the measured sf): steady-state numbers, not JVM boot cost.
    val warm = "/root/testdata/sf0.001"
    Seq("q01_pricing_summary", "q22_user_sessions", "q46_token_stats").foreach { n =>
      try SparkEntry.queries(n)(spark, warm).count() catch { case _: Throwable => () }
    }
    // Load canary (round 19, VERDICT r18 item 1b): one pinned cheap probe
    // — the q01 flagship shape, untouched code since r1 — re-run every
    // ~25 queries; its wall-time series is recorded in the JSON line so a
    // SINGLE-pass artifact carries its own load measurement (r17/r18 both
    // produced loaded-box artifacts that could not say so from inside one
    // pass). The warmup above already JIT-warmed the shape, so canary[0]
    // is only data-cold.
    val canaryFn = SparkEntry.queries("q01_pricing_summary")
    val canarySecs = scala.collection.mutable.ArrayBuffer[Double]()
    def runCanary(): Unit = {
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      LifecycleMeter.drainSec() // canary cost must never land in a query's meter
      val t0 = System.nanoTime()
      try { canaryFn(spark, sfDir).count(); () } catch { case _: Throwable => () }
      canarySecs += (System.nanoTime() - t0) / 1e9
      LifecycleMeter.drainSec(); ()
    }
    // One-time store builds OUT of the timed passes (VERDICT r14 item 8).
    // Failures are visible by name and in the JSON line (VERDICT r15
    // item 7: a silent catch meant pass 1 quietly re-paid the lifecycle).
    val b0 = System.nanoTime()
    val prebuilds: Seq[(String, () => Any)] = Seq(
      "stats" -> (() => graft.queries.StatsStore.ensureStats(spark, sfDir)),
      "streamed_hdr" -> (() => graft.queries.StreamServe.ensureStreamedHdr(spark, sfDir)),
      "streamed_hll" -> (() => graft.queries.StreamServe.ensureStreamedHll(spark, sfDir)),
      "streamed_stats" -> (() => graft.queries.StreamServe.ensureStreamedStats(spark, sfDir)),
      "unified_stats" -> (() => graft.queries.StreamServe.ensureUnifiedStats(spark, sfDir)),
      "ivf_index" -> (() => graft.queries.Vectors.ensureIvfIndex(spark, sfDir)),
      "pq_index" -> (() => graft.queries.Vectors.ensurePqIndex(spark, sfDir)),
      "dpp_catalog" -> (() => graft.queries.Advanced.ensureDppCatalog(spark, sfDir)))
    val failedBuilds = prebuilds.flatMap { case (name, build) =>
      try { build(); None }
      catch { case e: Throwable =>
        System.err.println(s"[bench] prebuild '$name' FAILED: ${e.getMessage}")
        Some(name)
      }
    }
    val prebuildFailed = failedBuilds.nonEmpty
    val coldBuildsSec = (System.nanoTime() - b0) / 1e9
    // Spark jobs per (pass, query), from JobMeter: bench WALL times on this
    // box vary up to 3× under load, but the jobs a query schedules are
    // load-INDEPENDENT — bench_jobs.json is the noise-free per-query
    // baseline regressions get diffed against. Pass 2 is the canonical
    // warm count (no first-run side-effect builds inflating it); pass 1's
    // is kept so a budget-shed run still writes A job baseline, flagged
    // as cold
    val jobCounts = Seq(1, 2).map(p =>
      p -> scala.collection.mutable.LinkedHashMap[String, Long]()).toMap
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        name: String, pass: Int): Run = {
      // JobMeter's bus drains sit OUTSIDE the timed span
      val j0 = JobMeter.total(spark.sparkContext)
      LifecycleMeter.drainSec() // discard accrual outside any timed span
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      val t = (System.nanoTime() - t0) / 1e9
      val build = LifecycleMeter.drainSec()
      jobCounts.get(pass).foreach(m => m(name) = JobMeter.total(spark.sparkContext) - j0)
      Run(t, build, ok)
    }
    // Sampling protocol v3 (round 19, VERDICT r18 item 1): sweep 1 runs
    // each query TWICE back-to-back — a cold sample (slot 1) then a warm
    // sample (slot 2) — so EVERY query carries a warm minimum even when
    // the budget sheds everything after the first sweep (the r17/r18
    // failure: a loaded box produced cold-only headline numbers). Sweep 2
    // (slot 3, budget permitting) re-runs the non-LIFECYCLE suite once
    // more; lifecycle-class queries (those that metered store-build
    // seconds warm — they rebuild scratch stores per invocation because
    // the lifecycle IS the judged subject) keep their two sweep-1 samples,
    // the old pass-3 cut. The per-query warm repeat is itself
    // budget-gated at the just-measured cold wall, so a loaded box
    // degrades per query, never per artifact. The headline is unchanged:
    // min wall over successful samples, summed.
    val names = SparkEntry.queries.toSeq
    val passStart = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - passStart) / 1e9
    val f3fmt = (v: Double) =>
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // --- artifact state, maintained DURING the sweeps (every canary
    // point) so a SIGTERM mid-run still leaves a complete, parseable line
    // (VERDICT r17 what's-wrong 1: the line printed only after
    // spark.stop(), so the driver's timeout killed the artifact with the
    // run)
    @volatile var lastLine: Option[String] = None
    @volatile var printedFinal = false
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!printedFinal) lastLine.foreach(println)
    }))
    // slot 1 = sweep-1 cold; slot 2 = sweep-1 back-to-back warm;
    // slot 3 = sweep-2 warm (non-lifecycle only)
    val slots = Seq(
      scala.collection.mutable.LinkedHashMap[String, Run](),
      scala.collection.mutable.LinkedHashMap[String, Run](),
      scala.collection.mutable.LinkedHashMap[String, Run]())
    def passTotal(i: Int): Double =
      if (i < slots.length) slots(i).valuesIterator.map(_.t).sum else 0.0
    def passesCompleted: Int = slots.count(_.nonEmpty)

    def headline(): (Seq[(String, Double)], Map[String, Double], Seq[String]) = {
      // per query: min wall over SUCCESSFUL attempts, the store-build
      // seconds INSIDE the sample the min came from, and the failed list
      val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      val buildsAtMin = scala.collection.mutable.HashMap[String, Double]()
      val failedQueries = scala.collection.mutable.ArrayBuffer[String]()
      names.foreach { case (n, _) =>
        val oks = slots.flatMap(_.get(n)).filter(_.ok)
        if (oks.isEmpty) { if (slots.exists(_.contains(n))) failedQueries += n }
        else {
          val best = oks.minBy(_.t)
          results += (n -> best.t)
          buildsAtMin(n) = best.build
        }
      }
      (results.toSeq, buildsAtMin.toMap, failedQueries.toSeq)
    }

    def emitLine(complete: Boolean): Unit = {
      val f3 = f3fmt
      val (results, buildsAtMin, failedQueries) = headline()
      val total = results.map(_._2).sum
      val lifecycleBuilds = buildsAtMin.values.sum
      // The driver records only the LAST 2000 chars of output and parses
      // the JSON line out of that tail: print the TOP-25 slowest queries
      // inline (the ones a reader acts on) with short qNN keys, and leave
      // the complete per-query map to bench_passes.json. ms precision and
      // Locale.ROOT keep the line short and valid JSON everywhere.
      val qs = results.sortBy(-_._2).take(25)
        .map { case (k, v) => s"\"" + k.takeWhile(_ != '_') + "\":" + f3(v) }
        .mkString("{", ",", "}")
      // Load self-report (VERDICT r11 item 8, rebuilt for round 19 so ONE
      // sweep can testify): (a) the pinned canary's series — a max far
      // above its median means ambient load moved during the run; (b)
      // when both warm slots ran, their totals over the common queries
      // must agree within 50%. Cold-vs-warm divergence is EXPECTED (first-
      // touch builds) and no longer flags.
      val canaryMed =
        if (canarySecs.isEmpty) 0.0
        else canarySecs.sorted.apply(canarySecs.length / 2)
      val canaryMax = if (canarySecs.isEmpty) 0.0 else canarySecs.max
      val canarySuspect = canarySecs.length >= 3 && canaryMax > 3.0 * canaryMed
      val warmCommon = slots(1).keySet.intersect(slots(2).keySet)
      def warmTotal(i: Int): Double =
        warmCommon.toSeq.map(n => slots(i)(n).t).sum
      val warmSuspect = warmCommon.nonEmpty && {
        val (a, b) = (warmTotal(1), warmTotal(2))
        math.max(a, b) > 1.5 * math.min(a, b)
      }
      val loadSuspect = canarySuspect || warmSuspect
      val canarySeries = canarySecs.map(f3).mkString("[", ",", "]")
      val line =
        s"""{"metric":"total","value":${f3(total)},"unit":"sec"""" +
          // protocol version (ADVICE r19): v3 = round 19's cold+back-to-back
          // warm sweep — same headline definition as v2 but a hotter warm
          // slot; cross-round comparisons should prefer same-protocol
          // artifacts (BENCH_r19 onward)
          s""","protocol":3""" +
          s""","n_queries":${results.size},"failed_queries":${failedQueries.size}""" +
          s""","passes_completed":$passesCompleted,"complete":$complete""" +
          s""","budget_sec":${f3(budgetSec)}""" +
          s""","pass1_total":${f3(passTotal(0))},"pass2_total":${f3(passTotal(1))},"pass3_total":${f3(passTotal(2))}""" +
          s""","cold_builds_sec":${f3(coldBuildsSec)},"lifecycle_builds_sec":${f3(lifecycleBuilds)}""" +
          s""","prebuild_failed":$prebuildFailed,"load_suspect":$loadSuspect""" +
          s""","canary_sec":$canarySeries,"canary_median":${f3(canaryMed)},"canary_max":${f3(canaryMax)}""" +
          s""","queries":$qs,"queries_note":"top-25 by time; full map in bench_passes.json","sf":"$sfDir"}"""
      lastLine = Some(line)
      // the line survives a timeout as a FILE beside the other artifacts
      // even if the tail capture loses it
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LINE.json"),
        (line + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    }

    def writePasses(): Unit = {
      val f3 = f3fmt
      // per-query per-slot walls; a slot a query did not run (budget shed,
      // lifecycle class) or FAILED is null — never a bogus near-zero
      // minimum candidate (VERDICT r17 item 2: 35 shutdown-artifact 0.0s
      // entries contaminated the r17 file). Slot 1 = sweep-1 cold, slot 2
      // = sweep-1 back-to-back warm, slot 3 = sweep-2 warm.
      def cell(n: String, i: Int): String =
        slots(i).get(n) match {
          case Some(r) if r.ok => f3(r.t)
          case _ => "null"
        }
      val detail = names.map { case (n, _) =>
        s"\"$n\":[${cell(n, 0)},${cell(n, 1)},${cell(n, 2)}]"
      }.mkString("{", ",", "}")
      val failedDetail = names.flatMap { case (n, _) =>
        val fp = slots.zipWithIndex.collect {
          case (p, i) if p.get(n).exists(!_.ok) => i + 1 }
        if (fp.isEmpty) None else Some(s"\"$n\":[${fp.mkString(",")}]")
      }.mkString("{", ",", "}")
      // store-build seconds per query per slot — only queries that
      // metered any build appear (the lifecycle class)
      def bsum(n: String): Double =
        slots.flatMap(_.get(n)).map(_.build).sum
      val buildDetail = names.collect {
        case (n, _) if bsum(n) > 0.0005 =>
          def bcell(i: Int): String =
            slots(i).get(n).map(r => f3(r.build)).getOrElse("null")
          s"\"$n\":[${bcell(0)},${bcell(1)},${bcell(2)}]"
      }.mkString("{", ",", "}")
      try java.nio.file.Files.write(java.nio.file.Paths.get("bench_passes.json"),
        s"""{"sf":"$sfDir","passes":$detail,"failed_passes":$failedDetail,"store_builds":$buildDetail}""".getBytes("UTF-8"))
      catch { case _: Throwable => () } // diagnostics must never fail the bench
    }

    // SWEEP 1: cold + back-to-back warm per query, canary every 25
    // queries, artifacts refreshed at every canary point so a SIGTERM
    // mid-sweep still leaves parseable, current artifacts.
    names.zipWithIndex.foreach { case ((n, fn), i) =>
      if (i % 25 == 0) {
        runCanary()
        if (i > 0) { writePasses(); emitLine(complete = false) }
      }
      val r1 = once(fn, n, 1)
      slots(0)(n) = r1
      // the warm repeat is gated on the budget the just-measured cold
      // wall predicts for it — a loaded box keeps every cold sample and
      // sheds warm repeats from the tail only
      if (elapsed() + r1.t <= budgetSec * 0.95)
        slots(1)(n) = once(fn, n, 2)
    }
    runCanary()
    writePasses()
    emitLine(complete = false)
    // lifecycle class = metered a store build in the warm sample (review
    // r18: the cold sample alone conflates PER-INVOCATION scratch
    // rebuilds — the class the sweep-2 cut exists to shed — with ONE-TIME
    // first-touch builds like the parquet-backed memos, which are cheap
    // to re-run warm and deserve their third sample); a query whose warm
    // repeat was budget-shed classifies conservatively from its cold
    // sample
    val lifecycle = names.collect {
      case (n, _) if slots(1).get(n).orElse(slots(0).get(n))
        .exists(_.build > 0.0005) => n
    }.toSet
    // SWEEP 2 (non-lifecycle third sample): estimated at the WARM total —
    // the cold wall over-estimates a warm pass ~1.6× and shed both warm
    // passes in r18 (ADVICE r18) — and only attempted when sweep 1's warm
    // half substantially ran
    val sweep2Names = names.filterNot { case (n, _) => lifecycle.contains(n) }
    val sweep2Est = sweep2Names.flatMap { case (n, _) => slots(1).get(n) }
      .map(_.t).sum
    if (slots(1).size >= names.size / 2 && elapsed() + sweep2Est <= budgetSec)
      sweep2Names.zipWithIndex.foreach { case ((n, fn), i) =>
        if (i % 25 == 0) {
          runCanary()
          if (i > 0) { writePasses(); emitLine(complete = false) }
        }
        if (elapsed() <= budgetSec) slots(2)(n) = once(fn, n, 3)
      }

    // Per-round wall ms for every iterative-operator invocation across
    // the passes (VERDICT r9 item 8): the driver-barrier floor of the
    // fixed-point family, measured by the shared Iterate harness.
    val f3 = f3fmt
    val rounds = graft.operators.Iterate.drainRounds()
    val roundsJson = rounds.map(r =>
        s"""["${r.label}",${r.round},${f3(r.ms / 1000.0)},${r.jobs}]""")
      .mkString("[", ",", "]")
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_rounds.json"),
      s"""{"sf":"$sfDir","unit":"sec","fields":["label","round","sec","jobs"],"rounds":$roundsJson}""".getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // job baseline: the back-to-back warm sample when it ran; cold
    // otherwise (a budget-shed run still leaves a diffable baseline,
    // honestly labeled). The warm sample is taken immediately after the
    // cold one (protocol v3), so it exists even on budget-shed runs.
    val (jobsPass, jobsNote) =
      if (jobCounts(2).nonEmpty) (2, "Spark jobs per query, warm pass 2 (load-independent)")
      else (1, "Spark jobs per query, COLD pass 1 (budget shed the warm repeat; first-run builds included)")
    val jobsJson = jobCounts(jobsPass).map { case (n, j) => s"\"$n\":$j" }.mkString("{", ",", "}")
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_jobs.json"),
      s"""{"sf":"$sfDir","note":"$jobsNote","jobs":$jobsJson}""".getBytes("UTF-8"))
    catch { case _: Throwable => () }
    emitLine(complete = true)
    // stop BEFORE the print: the driver parses the tail's final line, and
    // session shutdown must not append anything after it. If stop() never
    // returns (the r17 SIGTERM), the shutdown hook prints the same line.
    spark.stop()
    lastLine.foreach(println)
    printedFinal = true
  }
}
