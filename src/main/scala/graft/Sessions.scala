package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. Bench, Verify,
  * ScaleBench, [[Dev]] and the test harness all run under these settings,
  * so correctness dumps, plan dumps and specs see the plans the bench
  * measures.
  */
object Sessions {
  /** Core count for the mains: `SPARK_GRAFT_CPUS`, default 32. */
  lazy val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A `local[cores]` session with the bench settings, plus `overlay`
    * config entries (the test harness adds its claim validation). Set in
    * the BUILDER conf so child sessions (`newSession`) inherit them. */
  def local(cores: Int, overlay: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // AQE partition coalescing sized by DATA, not by the box (round 20,
      // guide §2.2/§9: target advisoryPartitionSizeInBytes instead of
      // maximizing parallelism): with parallelismFirst (the default) every
      // tiny post-shuffle stage still launches ~cores tasks, and at sf0.1
      // the suite's cost is per-task scheduling overhead, not compute. At
      // production scale the SAME setting yields the guide's 64 MB-advisory
      // partition count — this is the scale-honest value, not a local[32]
      // tweak (verified on the 8-core run: same direction, same plans).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      // events.parquet carries TIMESTAMP(NANOS) in some fixture vintages,
      // which Spark's reader rejects; read as raw long ns (Tables.events
      // converts to TIMESTAMP_NTZ micros)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = overlay.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietBoundedWindowWarnings()
    spark
  }
}
