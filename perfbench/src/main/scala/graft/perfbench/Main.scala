package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{LifecycleMeter, Serve, SparkEntry, Tables}

/** JVM half of the benchmark; `perfbench/run.py` is the entry point.
  *
  *   fixture <dir>
  *     generate the input tables (see [[Fixture]])
  *   archive <dir> <query>...
  *     run the queries once; the JVM that dumps the class-data archive
  *   run <workload> <ops.jsonl> <out.jsonl> <trace 0|1> <dir> <cores> <spans.jsonl>
  *     set up one workload, run the generated op list once, write one JSON
  *     record per op plus a setup and an end record
  *
  * The op list (order, parameters, SQL texts) is generated by run.py from
  * the seed; this program only executes it.
  */
object Main {
  def session(cores: Int): SparkSession = {
    // graft.Bench's settings, so timings and plan dumps match the bench's
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // plan strings abbreviate file locations past this length; q163
      // checks its plan string for its scratch path, which sits under this
      // run's own tmpdir and can be longer than the default 100 characters
      .config("spark.sql.maxMetadataStringLength", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "fixture" :: dir :: Nil =>
      val spark = session(Runtime.getRuntime.availableProcessors)
      Fixture.write(Fixture.base(spark), dir)
      spark.stop()
    case "archive" :: dir :: queries =>
      // the JVM the class-data archive is dumped from: load the classes a
      // run loads, by starting a session and running a few queries
      val spark = session(Runtime.getRuntime.availableProcessors)
      queries.foreach(q => fingerprint(SparkEntry.queries(q)(spark, dir)))
      spark.stop()
    case "run" :: workload :: ops :: out :: trace :: dir :: cores :: spans :: Nil =>
      new Runner(workload, readOps(ops), trace == "1", dir, cores.toInt).run(out, spans)
      System.exit(0)
    case _ =>
      System.err.println("usage: fixture <dir> | archive <dir> <query>... | " +
        "run <workload> <ops> <out> <trace> <dir> <cores> <spans>")
      System.exit(2)
  }

  /** One op: a judged query name, or the SQL text of a Serve request. */
  final case class Op(id: Int, cls: String, param: String, body: String, warmup: Boolean)

  def readOps(path: String): IndexedSeq[Op] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      Op(n.get("id").asInt, n.get("cls").asText, n.get("param").asText,
        n.get("body").asText, n.get("warmup").asBoolean)
    }.toIndexedSeq
  }

  /** Minimal JSON writer for the records this program emits. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  /** Order-independent fingerprint of a result: row count and a sum of
    * per-row hashes, computed in one action. Fractional columns are
    * rounded to 6 places first, so a last-bit difference from merge order
    * does not read as a wrong answer. */
  def fingerprint(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6).as(f.name)
        case _ => col(f.name)
      }
    }
    val h = xxhash64(to_json(struct(cols.toIndexedSeq: _*)))
    val r = named.agg(count(lit(1)), sum(pmod(h, lit(2147483647L)))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  def sha16(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** Process-wide bytes read and written (`rchar`, `wchar`). */
  def procIo(): (Long, Long) = {
    val f = new java.io.File("/proc/self/io")
    if (!f.canRead) (0L, 0L)
    else {
      val kv = scala.io.Source.fromFile(f).getLines().map(_.split(":\\s*")).collect {
        case Array(k, v) => k -> v.trim.toLong
      }.toMap
      (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
    }
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
}

final class Runner(workload: String, allOps: IndexedSeq[Main.Op], trace: Boolean,
    base: String, cores: Int) {
  import Main._

  private val (warmups, ops) = allOps.partition(_.warmup)

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
  private val records = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  private val spanRecords = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()

  def run(out: String, spansOut: String): Unit = {
    val spark = session(cores)
    val sessionS = sinceJvmStart()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    if (trace) graft.operators.Iterate.setRecording(true)

    val p0 = System.nanoTime()
    var server: Option[Serve.Running] = None
    workload match {
      case "serve_mixed" =>
        graft.functions.GraftFunctions.ensureRegistered(spark)
        Tables.packages(spark, base).createOrReplaceTempView("v_packages")
        Tables.files(spark, base).createOrReplaceTempView("v_files")
        Tables.lineitem(spark, base).createOrReplaceTempView("v_lineitem")
        // q180 registers v_res_edges and q198 v_pkg_script plus the
        // scripting conf; both views are private to the engine
        Seq("q180_sql_recursive_closure", "q198_sql_scripting").foreach { n =>
          SparkEntry.queries(n)(spark, base).count()
        }
        server = Some(Serve.start(spark, workers = cores))
      case _ =>
    }
    val prebuildS = (System.nanoTime() - p0) / 1e9

    // untimed warm-up ops, so the timed list measures a warm JVM
    val w0 = System.nanoTime()
    warmups.foreach { op =>
      try fingerprint(SparkEntry.queries(op.body)(spark, base)) catch { case _: Throwable => () }
    }
    if (trace) graft.operators.Iterate.drainRounds()
    tracer.foreach(_.drain())
    LifecycleMeter.drainSec()
    settle()
    val warmupS = (System.nanoTime() - w0) / 1e9

    val setupS = sinceJvmStart()
    records += mutable.LinkedHashMap("type" -> "setup", "setup_s" -> setupS,
      "session_s" -> sessionS, "prebuild_s" -> prebuildS, "warmup_s" -> warmupS,
      "spark_conf" -> spark.sparkContext.getConf.getAll.toSeq.sorted
        .filterNot(_._1.startsWith("spark.app.")).filterNot(_._1 == "spark.driver.port")
        .map { case (k, v) => k -> v }.toMap,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)

    tracer.foreach(_.op = -1)
    val io0 = procIo()
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    server match {
      case Some(s) => closedLoop(s.url, t0)
      case None => ops.foreach(op => runOp(spark, op, tracer, t0, t0Ms))
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMs() - gc0) / 1e3
    server.foreach(_.stop())

    // retained heap: what the timed ops left reachable. Spark's context
    // cleaner frees broadcast and shuffle blocks asynchronously once a GC
    // finds them unreachable, so collect, give it time, and collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(400) }
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    val end = mutable.LinkedHashMap[String, Any]("type" -> "end", "wall_s" -> wallS,
      "retained_heap_mb" -> heap, "gc_s" -> gcS)
    tracer.foreach { tr =>
      tr.drain()
      if (server.isDefined) {
        val io1 = procIo()
        val rounds = graft.operators.Iterate.drainRounds()
        end ++= tr.fields(-1)
        end("rounds") = rounds.size
        end("round_s") = rounds.map(_.ms).sum / 1e3
        end("round_jobs") = rounds.map(_.jobs).filter(_ >= 0).sum
        end("metered_build_thread_s") = LifecycleMeter.drainSec()
        end("io_read_bytes") = io1._1 - io0._1
        end("io_write_bytes") = io1._2 - io0._2
        spanRecords ++= records.filter(_.get("type").contains("op")).map { r =>
          mutable.LinkedHashMap[String, Any]("span" -> "request", "op" -> r("id"),
            "cls" -> r("cls"), "param" -> r("param"), "start_s" -> r("start_s"),
            "end_s" -> r("end_s"), "status" -> r("status"))
        }
        end("collects") = tr.collects.asScala.toSeq.map(c => Seq(c(0), c(1)))
        end("sql_spans") = tr.sqlSpans.asScala.toSeq.map { case (id, se) => Seq(id, se(0), se(1)) }
        spanRecords ++= tr.spans(-1, t0Ms, _ => "request")
      }
    }
    records += end
    write(out, records)
    if (trace) write(spansOut, spanRecords)
    spark.stop()
  }

  /** Let set-up garbage and the JIT queue the warm-up filled drain before
    * timing: otherwise the first timed op competes with compiler threads
    * and pays seconds the later ones do not. Waits until compile time
    * stops growing for half a second, at most ten seconds. */
  private def settle(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      stable = if (now == last) stable + 1 else 0
      last = now
    }
  }

  private def write(path: String, rs: Iterable[collection.Map[String, Any]]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      rs.map(json).mkString("", "\n", "\n").getBytes("UTF-8"))

  private def rel(t: Long, t0: Long): Double = (t - t0) / 1e9

  private def runOp(spark: SparkSession, op: Op, tracer: Option[Tracer], t0: Long,
      t0Ms: Long): Unit = {
    tracer.foreach { tr => tr.drain(); tr.op = op.id }
    val io0 = if (trace) procIo() else (0L, 0L)
    val gc0 = if (trace) gcMs() else 0L
    LifecycleMeter.drainSec()
    val a = System.nanoTime()
    var b = a
    val res = try {
      val df = SparkEntry.queries(op.body)(spark, base)
      b = System.nanoTime()
      Right(fingerprint(df))
    } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }
    val c = System.nanoTime()
    if (b == a) b = c
    val r = mutable.LinkedHashMap[String, Any]("type" -> "op", "id" -> op.id, "cls" -> op.cls,
      "param" -> op.param, "start_s" -> rel(a, t0), "end_s" -> rel(c, t0),
      "build_s" -> (b - a) / 1e9, "action_s" -> (c - b) / 1e9,
      "ok" -> res.isRight, "fp" -> res.toOption, "error" -> res.left.toOption)
    tracer.foreach { tr =>
      val metered = LifecycleMeter.drainSec()
      tr.drain()
      val rounds = graft.operators.Iterate.drainRounds()
      val io1 = procIo()
      r ++= tr.fields(op.id)
      r("rounds") = rounds.size
      r("round_s") = rounds.map(_.ms).sum / 1e3
      r("round_jobs") = rounds.map(_.jobs).filter(_ >= 0).sum
      r("metered_build_thread_s") = metered
      r("io_read_bytes") = io1._1 - io0._1
      r("io_write_bytes") = io1._2 - io0._2
      r("gc_s") = (gcMs() - gc0) / 1e3
      spanRecords += mutable.LinkedHashMap("span" -> "op", "op" -> op.id, "cls" -> op.cls,
        "start_s" -> rel(a, t0), "end_s" -> rel(c, t0))
      spanRecords += mutable.LinkedHashMap("span" -> "build", "op" -> op.id, "parent" -> "op",
        "start_s" -> rel(a, t0), "end_s" -> rel(b, t0))
      spanRecords += mutable.LinkedHashMap("span" -> "action", "op" -> op.id, "parent" -> "op",
        "start_s" -> rel(b, t0), "end_s" -> rel(c, t0))
      val buildEndMs = t0Ms + (b - t0) / 1000000L
      spanRecords ++= tr.spans(op.id, t0Ms, ms => if (ms <= buildEndMs) "build" else "action")
    }
    records += r
  }

  /** POST one SQL text; returns (HTTP status, body). */
  private def request(url: String, sql: String): (Int, Array[Byte]) = {
    val conn = new java.net.URL(url).openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(120000)
    val out = conn.getOutputStream
    out.write(sql.getBytes("UTF-8"))
    out.close()
    val status = conn.getResponseCode
    val in = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    (status, body)
  }

  /** `cores` clients, each sending its next request only after the reply
    * to its last one, drain the shared op list in order. */
  private def closedLoop(url: String, t0: Long): Unit = {
    val next = new AtomicInteger(0)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[mutable.LinkedHashMap[String, Any]]()
    val clients = (0 until cores).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < ops.size) {
          val op = ops(i)
          val wallMs = System.currentTimeMillis()
          val a = System.nanoTime()
          val (status, fp, err) =
            try {
              val (st, body) = request(url, op.body)
              (st, Some(s"$st:${sha16(body)}"), if (st == 200) None else Some(new String(body, "UTF-8").take(300)))
            } catch { case e: Throwable => (-1, None, Some(String.valueOf(e.getMessage).take(300))) }
          val b = System.nanoTime()
          done.add(mutable.LinkedHashMap("type" -> "op", "id" -> op.id, "cls" -> op.cls,
            "param" -> op.param, "client" -> c, "start_s" -> rel(a, t0), "end_s" -> rel(b, t0),
            "wall_start_ms" -> wallMs, "wall_end_ms" -> System.currentTimeMillis(),
            "status" -> status, "ok" -> (status == 200), "fp" -> fp, "error" -> err))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    records ++= done.asScala.toSeq.sortBy(_("id").asInstanceOf[Int])
  }
}
