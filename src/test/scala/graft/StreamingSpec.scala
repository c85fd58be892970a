package graft

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Structured Streaming ↔ batch equivalence (SURVEY.md §2.9): the same
  * transform over readStream(AvailableNow) must produce the batch answer.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private val dir = SparkTestHarness.Sf0001

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String, mode: String): Unit = {
    val q = df.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)
  }

  test("T1/T4: streamed hourly window agg equals batch") {
    val streamed = EventStreams.hourlyTypeCounts(EventStreams.readEventStream(spark, dir))
    runToMemory(streamed, "hourly_stream", "complete")
    val got = spark.sql("SELECT * FROM hourly_stream ORDER BY hour_start, event_type").collect()

    val batch = EventStreams.hourlyTypeCounts(Tables.events(spark, dir))
      .orderBy("hour_start", "event_type").collect()
    assert(got.length === batch.length)
    assert(got.map(_.toString) === batch.map(_.toString))
  }

  test("T3/T4: streamed session_window agg equals batch") {
    val streamed = EventStreams.userSessions(EventStreams.readEventStream(spark, dir))
    runToMemory(streamed, "sessions_stream", "complete")
    val got = spark.sql("SELECT * FROM sessions_stream ORDER BY user_id, sess_start").collect()

    val batch = EventStreams.userSessions(Tables.events(spark, dir))
      .orderBy("user_id", "sess_start").collect()
    assert(got.length === batch.length)
    assert(got.map(_.toString) === batch.map(_.toString))
  }

  test("S2 streaming: parseIndex over readStream.text equals the batch parse") {
    // the ingest contract is source-pluggable: the SAME parse expressions
    // run over a streaming text source (continuous index refresh) and the
    // batch path. Render once to disk, then stream it back through
    // Ingest.parseIndex and compare to the batch parse of the same files.
    val out = queries.StatsStore.scratchDir("graft_stream_ingest")
    Ingest.renderIndex(spark, dir).write.mode("overwrite").text(out)
    val streamed = Ingest.parseIndex(spark.readStream.format("text")
      .schema("value STRING").load(out))
      .groupBy("arch").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    runToMemory(streamed, "ingest_stream", "complete")
    val got = spark.sql("SELECT * FROM ingest_stream ORDER BY arch").collect()
    val batch = Ingest.parseIndex(spark.read.text(out))
      .groupBy("arch").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .orderBy("arch").collect()
    assert(got.length === batch.length && got.map(_.toString) === batch.map(_.toString))
  }

  test("stream-static join: streamed events enriched against a static dim equal batch") {
    import org.apache.spark.sql.functions._
    val dim = Tables.events(spark, dir).select("user_id").distinct()
      .withColumn("tier", pmod(col("user_id"), lit(3)).cast("int"))
    val streamed = EventStreams.userTierCounts(
      EventStreams.readEventStream(spark, dir), dim)
    runToMemory(streamed, "tier_stream", "complete")
    val got = spark.sql("SELECT * FROM tier_stream ORDER BY tier").collect()
    val batch = EventStreams.userTierCounts(Tables.events(spark, dir), dim)
      .orderBy("tier").collect()
    assert(got.length === batch.length && got.map(_.toString) === batch.map(_.toString))
  }

  test("stream-stream interval join: view->purchase attribution equals batch") {
    val sv = EventStreams.readEventStream(spark, dir).filter("event_type = 'view'")
    val sp = EventStreams.readEventStream(spark, dir).filter("event_type = 'purchase'")
    runToMemory(EventStreams.viewToPurchase(sv, sp), "ss_join_stream", "append")
    val got = spark.sql(
      "SELECT * FROM ss_join_stream ORDER BY user_id, view_ts, purchase_ts").collect()

    val bv = Tables.events(spark, dir).filter("event_type = 'view'")
    val bp = Tables.events(spark, dir).filter("event_type = 'purchase'")
    val batch = EventStreams.viewToPurchase(bv, bp)
      .orderBy("user_id", "view_ts", "purchase_ts").collect()
    assert(batch.nonEmpty, "fixture must produce at least one attributed purchase")
    assert(got.length === batch.length)
    assert(got.map(_.toString) === batch.map(_.toString))
  }

  test("stream-stream LEFT OUTER interval join: null emission equals batch after watermark flush") {
    // Outer results flush only when the watermark proves no match can
    // arrive — at end-of-stream the tail would stay buffered. TWO sentinel
    // views (30 and 60 days past the fixture; maxFilesPerTrigger=1 → each
    // its own micro-batch): the first advances the watermark past every
    // real view, and state eviction applies the PREVIOUS batch's watermark,
    // so the second data batch is what actually flushes the tail
    // (AvailableNow terminates without a final no-data micro-batch).
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = queries.StatsStore.scratchDir("graft_outer_ss")
    Files.copy(Paths.get(s"$dir/events.parquet"),
      Paths.get(s"$tmp/a_events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.functions._
    // a sentinel VIEW and a sentinel PURCHASE per file: the query's global
    // watermark is the MIN across both withWatermark nodes, so a
    // view-only sentinel would leave the purchase side's watermark — and
    // therefore the join's eviction clock — frozen at the fixture tail
    def sentinel(days: Int) = {
      val m = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.agg(max("ts").as("m")).select(expr(s"m + ${days}L * 86400000000000").as("ts"))
        case _ =>
          raw.agg(max("ts").as("m")).select(expr(s"m + INTERVAL $days DAYS").as("ts"))
      }
      Seq("view", "purchase").map { et =>
        m.select(lit(-1L).as("event_id"), col("ts"),
          lit(-1L).as("user_id"), lit(et).as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
      }.reduce(_ unionAll _)
    }
    Seq(30, 60).foreach { d =>
      sentinel(d).coalesce(1).write.mode("overwrite").parquet(s"$tmp/z_sentinel$d")
      val part = new java.io.File(s"$tmp/z_sentinel$d").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/z_sentinel$d.parquet"))
    }
    val schema = raw.schema
    val stream = EventStreams.normalize(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp))
    val sv = stream.filter("event_type = 'view'")
    val sp = stream.filter("event_type = 'purchase'")
    runToMemory(EventStreams.viewToPurchaseOuter(sv, sp), "ss_outer_stream", "append")
    val got = spark.sql(
      """SELECT * FROM ss_outer_stream WHERE user_id >= 0
         ORDER BY user_id, view_ts, purchase_ts""").collect()
    val bv = Tables.events(spark, dir).filter("event_type = 'view'")
    val bp = Tables.events(spark, dir).filter("event_type = 'purchase'")
    val batch = EventStreams.viewToPurchaseOuter(bv, bp)
      .orderBy("user_id", "view_ts", "purchase_ts").collect()
    assert(batch.exists(_.isNullAt(2)), "fixture must produce unmatched views")
    assert(got.length === batch.length,
      s"stream emitted ${got.length} rows, batch ${batch.length}")
    assert(got.map(_.toString) === batch.map(_.toString))
  }

  test("T6: mapGroupsWithState running totals equal batch counts") {
    val streamed = EventStreams.statefulUserTotals(EventStreams.readEventStream(spark, dir))
    runToMemory(streamed, "state_stream", "update")
    // update mode emits one row per (key, micro-batch); the final state is
    // the max event count per user
    val got = spark.sql(
      "SELECT user_id, max(n_events) n FROM state_stream GROUP BY user_id ORDER BY user_id").collect()
    val batch = Tables.events(spark, dir).groupBy("user_id").count()
      .orderBy("user_id").collect()
    assert(got.length === batch.length)
    got.zip(batch).foreach { case (g, b) =>
      assert(g.getLong(0) === b.getLong(0) && g.getLong(1) === b.getLong(1))
    }
  }

  test("T6: transformWithState (Spark 4 API) equals mapGroupsWithState and batch") {
    // transformWithState requires the RocksDB state store provider when
    // streaming; scope the conf to this test and restore afterwards
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = EventStreams.statefulUserTotalsTws(EventStreams.readEventStream(spark, dir))
      runToMemory(streamed, "tws_stream", "update")
      val got = spark.sql(
        "SELECT user_id, max(n_events) n FROM tws_stream GROUP BY user_id ORDER BY user_id").collect()
      val batch = Tables.events(spark, dir).groupBy("user_id").count()
        .orderBy("user_id").collect()
      assert(got.length === batch.length)
      got.zip(batch).foreach { case (g, b) =>
        assert(g.getLong(0) === b.getLong(0) && g.getLong(1) === b.getLong(1))
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("foreachBatch sink: streamed micro-batches append to parquet == batch") {
    val out = queries.StatsStore.scratchDir("graft_fb")
    val q = EventStreams.hourlyTypeCounts(EventStreams.readEventStream(spark, dir))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/agg")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$out/agg").count()
    val want = EventStreams.hourlyTypeCounts(Tables.events(spark, dir)).count()
    assert(got === want)
  }

  test("IVM x streaming: foreachBatch merging micro-batches through mergeAggState equals batch") {
    // the streaming form of q122's identity: each micro-batch aggregates
    // alone (delta-sized work), then merges into the standing keyed state
    // with Graft.mergeAggState — the final state must equal the one-shot
    // batch aggregate over the whole stream. This is how the IVM operator
    // deploys continuously: state in a store, merge per micro-batch,
    // never a history rescan.
    import org.apache.spark.sql.functions._
    def aggOf(df: org.apache.spark.sql.DataFrame) = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(28,2)")).as("sv"))
    val state = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame](null)
    val raw = EventStreams.readEventStream(spark, dir)
      .select(col("event_type"), col("value"))
    val q = raw.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = aggOf(batch).localCheckpoint(true)
        state.getAndUpdate(s =>
          if (s == null) delta
          else Graft.mergeAggState(s, delta, Seq("event_type")).localCheckpoint(true))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    // assert completion: a timeout here would otherwise race later tests
    // on the shared session and misreport partial state as a merge bug
    assert(q.awaitTermination(120000), "streaming IVM query timed out")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(state.get() != null, "no micro-batch arrived")
    assert(rows(state.get()) === rows(aggOf(Tables.events(spark, dir))))
  }

  test("streaming CDC: foreachBatch cdcApply per micro-batch equals one-shot batch apply") {
    // the streaming deployment of Graft.cdcApply (q156's operator): each
    // micro-batch's change log merges into the standing table state —
    // exactly how a lakehouse MERGE consumes a CDC stream. Final state
    // must equal applying the whole log at once. (Cross-batch ordering
    // rides on monotone log offsets, as in a real changelog source; the
    // fixture arrives in one AvailableNow pass.)
    import org.apache.spark.sql.functions._
    def changesOf(df: org.apache.spark.sql.DataFrame) = df.select(
      (col("user_id") * 11).as("c_custkey"),
      col("event_id").as("seq"),
      when(col("event_type") === "error", "D")
        .when(col("event_type") === "signup", "I").otherwise("U").as("op"),
      round(col("value"), 2).as("c_acctbal"))
    val base = Tables.customer(spark, dir)
    val state = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame](base)
    val q = EventStreams.readEventStream(spark, dir).writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        state.getAndUpdate(s =>
          Graft.cdcApply(s, changesOf(batch), "c_custkey").localCheckpoint(true))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming CDC query timed out")
    val expected = Graft.cdcApply(base, changesOf(Tables.events(spark, dir)), "c_custkey")
    assert(state.get().collect().toSet === expected.collect().toSet)
    // the merge actually changed something (deletes and/or upserts applied)
    assert(state.get().collect().toSet !== base.collect().toSet)
  }

  test("streaming sketch parity: HLL and HDR registers byte-equal batch across >=3 micro-batches") {
    import org.apache.spark.sql.functions._
    // split the fixture into 3 files; maxFilesPerTrigger=1 => 3 micro-batches
    val tmp = queries.StatsStore.scratchDir("graft_sketch_stream")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.withColumn("part", pmod(col("event_id"), lit(3)).cast("int"))
      .write.partitionBy("part").mode("overwrite").parquet(tmp)
    val schema = raw.schema
    def stream() = EventStreams.normalize(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(tmp))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // HLL: the streamed per-type register vector must equal the batch
      // UDAF's registers element for element
      runToMemory(EventStreams.streamingHllRegisters(stream()), "hll_stream", "update")
      val perKey = spark.sql("SELECT event_type, count(*) c FROM hll_stream GROUP BY 1")
        .collect().map(_.getLong(1))
      assert(perKey.nonEmpty && perKey.forall(_ >= 3),
        s"expected every key updated across >=3 micro-batches, got ${perKey.mkString(",")}")
      // the register state only grows; the per-key final emission is the
      // row from the LAST micro-batch that touched the key — recover it as
      // the element-wise max across emissions (monotone registers)
      val gotHll = spark.sql(
        """SELECT event_type,
             transform(sequence(0, 63), i -> m[i]) regs
           FROM (SELECT event_type,
                   map_from_arrays(sequence(0, 63),
                     aggregate(collect_list(regs), array_repeat(0L, 64),
                       (acc, r) -> zip_with(acc, r, (a, b) -> greatest(a, b)))) m
                 FROM hll_stream GROUP BY event_type)""")
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val hll = org.apache.spark.sql.functions.udaf(new graft.functions.HllSketch())
      val batchHll = Tables.events(spark, dir)
        .groupBy("event_type").agg(hll(col("user_id").cast("string")).as("regs"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(gotHll.keySet === batchHll.keySet)
      batchHll.foreach { case (k, regs) =>
        assert(gotHll(k) === regs, s"HLL registers diverged for $k")
      }

      // HDR: streamed (bucket -> count) registers == batch register build
      runToMemory(EventStreams.streamingHdrRegisters(stream()), "hdr_stream", "update")
      // counts grow monotonically; final register = max emission
      val gotHdr = spark.sql(
        """SELECT event_type, bucket, max(cnt) cnt
           FROM hdr_stream GROUP BY event_type, bucket""")
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      val batchHdr = Tables.events(spark, dir)
        .selectExpr("event_type",
          "cast(floor(value * 100 + cast(0.5 as double)) as bigint) c")
        .filter("c >= 64")
        .selectExpr("event_type", "length(bin(c)) - 1 as e", "c")
        .selectExpr("event_type", "cast(e * 64 + (shiftright(c, cast(e - 6 as int)) & 63) as int) bucket")
        .groupBy("event_type", "bucket").count()
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(gotHdr === batchHdr, "HDR registers diverged from batch")
      assert(batchHdr.nonEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("PERSISTED streamed HDR registers equal the batch register build (StreamServe store)") {
    // VERDICT r11 item 5: the parity contract extended to the SERVED form —
    // the stream→publish path (StreamServe.ensureStreamedHdr: RocksDB
    // transformWithState build, generation-versioned parquet publish) must
    // land registers identical to a from-scratch batch build, so q278's
    // serving layer reads provably-exact state, not merely plausible state.
    val root = graft.queries.StatsStore.fixtureRoot("graft_stream_regs", dir)
    val gen = graft.queries.StreamServe.ensureStreamedHdr(spark, dir)
    // the publish is complete and manifest-pointed (a torn publish would
    // be invisible to latestPath and fail this)
    assert(graft.IndexStore.latestPath(root).contains(gen),
      s"published generation $gen is not the manifest-pointed latest")
    val got = spark.read.parquet(s"$gen/hdr_regs")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Tables.events(spark, dir)
      .selectExpr("event_type",
        "cast(floor(value * 100 + cast(0.5 as double)) as bigint) c")
      .filter("c >= 64")
      .selectExpr("event_type", "length(bin(c)) - 1 as e", "c")
      .selectExpr("event_type",
        "cast(e * 64 + (shiftright(c, cast(e - 6 as int)) & 63) as bigint) bucket")
      .groupBy("event_type", "bucket").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty)
    assert(got === batch, "persisted streamed registers diverged from the batch build")
  }

  test("stream-state erasure: HDR re-ingest of survivors equals a from-scratch batch build (round 17)") {
    // q319's cascade on the SECOND streamed register family: HDR counters
    // are an addition monoid with no inverse, so erasure = re-ingest the
    // surviving stream through a fresh checkpoint and republish; the
    // SERVED generation must equal a from-scratch build over survivors,
    // and the pinned pre-sweep generation stays immutable (the GDPR
    // answer is republish + retention, never in-place mutation)
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = graft.queries.StatsStore.scratchRoot("graft_erase_hdr")
    def ingest(survivorsOnly: Boolean): String = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val src0 = EventStreams.readEventStream(ss, dir)
      val src = if (survivorsOnly) src0.filter(pmod(col("user_id"), lit(50)) =!= 7) else src0
      graft.queries.StreamServe.buildAndPublish(ss,
        EventStreams.streamingHdrRegisters(src), root)
    }
    val g1 = ingest(survivorsOnly = false)
    val g2 = ingest(survivorsOnly = true)
    assert(graft.IndexStore.latestPath(root).contains(g2))
    def regsAt(path: String) =
      spark.read.parquet(s"$path/hdr_regs")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    def batchRegs(survivorsOnly: Boolean) = {
      val base = Tables.events(spark, dir)
      val pop = if (survivorsOnly) base.filter(pmod(col("user_id"), lit(50)) =!= 7) else base
      pop.selectExpr("event_type",
          "cast(floor(value * 100 + cast(0.5 as double)) as bigint) c")
        .filter("c >= 64")
        .selectExpr("event_type", "length(bin(c)) - 1 as e", "c")
        .selectExpr("event_type",
          "cast(e * 64 + (shiftright(c, cast(e - 6 as int)) & 63) as bigint) bucket")
        .groupBy("event_type", "bucket").count()
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val full = batchRegs(survivorsOnly = false)
    val surv = batchRegs(survivorsOnly = true)
    assert(full != surv, "fixture lost its erased-user regime")
    assert(regsAt(g2) === surv,
      "the SERVED post-erasure registers must equal a from-scratch survivor ingest")
    assert(regsAt(g1) === full,
      "the pinned pre-sweep generation must stay immutable")
  }

  test("T5: stateful dedup keeps every distinct event_id") {
    val streamed = EventStreams.dedupedEvents(EventStreams.readEventStream(spark, dir))
      .select("event_id")
    runToMemory(streamed, "dedup_stream", "append")
    val got = spark.sql("SELECT count(DISTINCT event_id) c, count(*) n FROM dedup_stream").head()
    val distinctIds = Tables.events(spark, dir).select("event_id").distinct().count()
    assert(got.getLong(0) === distinctIds)
    assert(got.getLong(1) === distinctIds) // no duplicates emitted
  }
}
