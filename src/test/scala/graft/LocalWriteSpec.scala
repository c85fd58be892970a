package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-held store tables are written by [[IndexStore.writeLocal]]: one
  * parquet file per table, on the calling thread, with no Spark job. These
  * pin the zero-job publish, the refusal of a frame that is not local, and
  * that every table a stats generation carries reads back exactly as the
  * one Spark's own `coalesce(1).write.parquet` leaves.
  */
class LocalWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private def freshRoot(): String =
    queries.StatsStore.scratchDir("graft_localwrite") + "/store"

  private val regs = (0 until 64).map(i => (i % 7).toLong)
  private val hist = (1 to 16).map(i => ("events", "ts", i, i * 100L, i * 10L))
  private val counts = Seq(("events", "ts", 86399999999L, 4L), ("events", "ts", 172799999999L, 6L))

  private def upsertAll(root: String): String =
    queries.StatsStore.upsertStats(spark, root,
      Seq(("events", "user_id", regs), ("events", "event_type", regs.reverse)),
      Seq("events" -> 10L), hist, counts, Seq("events" -> 4096L))

  /** The parquet file schema and Spark's row-schema footer entry. */
  private def footer(dir: String): (String, String) = {
    val f = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val meta = r.getFooter.getFileMetaData
      (meta.getSchema.toString,
        meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }

  test("a stats publish runs no Spark job") {
    val root = freshRoot()
    val (g1, first) = JobMeter.during(spark.sparkContext)(upsertAll(root))
    assert(first == 0L, s"the first publish ran $first job(s)")
    // an append merges onto the base this JVM just wrote (memoized)
    val (g2, second) = JobMeter.during(spark.sparkContext)(
      queries.StatsStore.upsertStats(spark, root, Nil, Seq("orders" -> 5L)))
    assert(second == 0L, s"the append publish ran $second job(s)")
    assert(IndexStore.genIdOf(g2) == IndexStore.genIdOf(g1) + 1)
  }

  test("writeLocal refuses a frame that is not driver-held and leaves the dir absent") {
    val dir = queries.StatsStore.scratchDir("graft_localwrite") + "/t"
    val e = intercept[IllegalArgumentException] {
      IndexStore.writeLocal(spark.range(10).toDF, dir)
    }
    assert(e.getMessage.contains("LocalTableScanExec"))
    assert(!new java.io.File(dir).exists(), "the refused write created its dir")
  }

  test("every stats table kind and an unmanaged carry read back as Spark's own writer leaves them") {
    import spark.implicits._
    val root = freshRoot()
    upsertAll(root)
    queries.StatsStore.upsertFanoutStats(spark, root, "embeddings",
      Seq(Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)).toDF("embedding"), Seq("embedding"))
    val wins = Seq((1, 0L, 10L), (2, 0L, 20L), (3, 5L, 35L)).toDF("win_id", "ws", "we")
    queries.StatsStore.upsertIntervalTable(spark, root, "windows", wins, "ws", "we")
    // one more publish: every table above now rides the CAS carry
    val g = queries.StatsStore.upsertStats(spark, root, Nil, Seq("orders" -> 5L))

    val expected: Seq[(String, DataFrame)] = Seq(
      "column_ndv" -> Seq(("events", "user_id", regs), ("events", "event_type", regs.reverse))
        .toDF("tbl", "col", "regs")
        .select(col("tbl"), col("col"), queries.StatsStore.estExpr("regs").as("ndv_est"),
          col("regs")),
      "table_rows" -> Seq("events" -> 10L, "orders" -> 5L).toDF("tbl", "row_count"),
      "column_hist" -> hist.toDF("tbl", "col", "bucket", "up_to", "cum_cnt"),
      "column_hist_counts" -> counts.toDF("tbl", "col", "v", "cnt"),
      "table_src_bytes" -> Seq("events" -> 4096L).toDF("tbl", "src_bytes"),
      "column_fanout" -> Seq(("embeddings", "embedding", 3L, 3L))
        .toDF("tbl", "col", "avg_len", "max_len"),
      "column_span" -> Seq(("windows", "ws", "we", 20L, 30L))
        .toDF("tbl", "lo_col", "hi_col", "med_span", "max_span"),
      "windows.parquet" -> wins)
    val written = Option(new java.io.File(g).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet
    assert(written == expected.map(_._1).toSet)

    val ref = queries.StatsStore.scratchDir("graft_localwrite_ref")
    expected.foreach { case (name, df) =>
      df.coalesce(1).write.parquet(s"$ref/$name")
      val parts = new java.io.File(s"$g/$name").listFiles().map(_.getName)
        .filter(_.startsWith("part-"))
      assert(parts.length == 1, s"$name: ${parts.toSeq}")
      assert(parts.head.matches("part-00000-[0-9a-f-]{36}-c000\\.snappy\\.parquet"),
        s"$name: ${parts.head}")
      assert(footer(s"$g/$name") == footer(s"$ref/$name"), s"$name parquet footer")
      val got = spark.read.parquet(s"$g/$name")
      val want = spark.read.parquet(s"$ref/$name")
      assert(got.schema == want.schema, s"$name schema")
      val order = got.columns.map(col).toSeq
      assert(got.orderBy(order: _*).collect().toSeq == want.orderBy(order: _*).collect().toSeq,
        s"$name rows")
    }
  }
}
