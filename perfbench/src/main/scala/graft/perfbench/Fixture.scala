package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own input tables, generated rather than read from any
  * fixed location, so a run depends only on the checkout.
  *
  * `base` builds the ten tables of the engine's fixture contract
  * (`graft.Tables.names`) at the sf0.1 row counts, with the same column
  * names, types and value domains. Every value is a pure function of the
  * row id through `xxhash64`, so the bytes do not depend on partitioning,
  * core count or the workload seed, and the expected result fingerprints
  * kept beside the benchmark stay valid.
  */
object Fixture {
  private val Mask = 1L << 40

  /** Uniform [0, 1) from the row id and a per-column salt. */
  private def u(salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(salt)), lit(Mask)).cast("double") / lit(Mask.toDouble)

  private def intIn(salt: Int, lo: Long, hi: Long): Column =
    (lit(lo) + floor(u(salt) * (hi - lo + 1))).cast("long")

  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (floor(u(salt) * xs.size) + 1).cast("int"))

  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt) * (hi - lo), 2)

  private def day(salt: Int, from: String, days: Int): Column =
    (unix_timestamp(lit(from), "yyyy-MM-dd") * 1000000L + intIn(salt, 0, days) * 86400000000L)

  private def ntz(micros: Column): Column = timestamp_micros(micros).cast("timestamp_ntz")

  def base(spark: SparkSession): Map[String, DataFrame] = {
    def rows(n: Long) = spark.range(n)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val region = rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))
    val nation = rows(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))
    val customer = rows(15000).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      intIn(1, 0, 24).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = rows(1000).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      intIn(4, 0, 24).cast("int").as("s_nationkey"),
      money(5, -999.99, 9999.99).as("s_acctbal"))
    val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val part = rows(20000).select(col("id").as("p_partkey"),
      concat(pick(6, adjectives), lit(" "), pick(7, nouns)).as("p_name"),
      concat(lit("Brand#"), intIn(8, 1, 25).cast("string")).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      intIn(10, 1, 50).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)) * 0.1, 1).as("p_retailprice"))
    val orders = rows(150000).select(col("id").as("o_orderkey"),
      intIn(11, 0, 14999).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, 1000.0, 500000.0).as("o_totalprice"),
      ntz(day(14, "1995-01-01", 2404)).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = rows(600000).select(intIn(16, 0, 149999).as("l_orderkey"),
      intIn(17, 0, 19999).as("l_partkey"),
      intIn(18, 0, 999).as("l_suppkey"),
      intIn(19, 1, 7).cast("int").as("l_linenumber"),
      intIn(20, 1, 50).cast("double").as("l_quantity"),
      money(21, 900.0, 105000.0).as("l_extendedprice"),
      (intIn(22, 0, 10).cast("double") / 100).as("l_discount"),
      (intIn(23, 0, 8).cast("double") / 100).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("F", "O")).as("l_linestatus"),
      ntz(day(26, "1995-01-02", 2497)).as("l_shipdate"))
    // ~26 s between events over 30 days, so 30-minute sessionization is
    // meaningful; value is exponential with mean 50
    val events = rows(100000).select(col("id").as("event_id"),
      ntz(unix_timestamp(lit("2024-01-01"), "yyyy-MM-dd") * 1000000L +
        col("id") * 25920000L + intIn(27, 0, 25000000)).as("ts"),
      intIn(28, 0, 1499).as("user_id"),
      pick(29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(lit(1.0) - u(30)) * 50, 2).as("value"),
      concat(lit("{\"k\": "), intIn(31, 0, 99).cast("string"), lit("}")).as("props"))
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
      "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
      "table", "the", "value", "vector", "window")
    val vocabSql = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    // one document in 625 repeats its predecessor's text (exact duplicates)
    val documents = rows(5000)
      .withColumn("src", when(pmod(col("id"), lit(625)) === 624, col("id") - 1).otherwise(col("id")))
      .withColumn("nw", (lit(10) + floor(u(32, col("src")) * 91)).cast("int"))
      .withColumn("text", expr(s"concat_ws(' ', transform(sequence(1, nw), " +
        s"j -> element_at($vocabSql, cast(pmod(xxhash64(src, j, 33), ${vocab.size}) + 1 as int))))"))
      .select(col("id").as("doc_id"), col("text"),
        when(u(34) < 0.41, lit("en")).otherwise(pick(35, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    // unit vectors around ten label centres
    val embeddings = rows(2000)
      .withColumn("label", intIn(36, 0, 9).cast("int"))
      .withColumn("raw", expr(
        "transform(sequence(0, 63), i -> " +
          s"(pmod(xxhash64(label, i, 37), $Mask) / ${Mask.toDouble} - 0.5) * 2 + " +
          s"(pmod(xxhash64(id, i, 38), $Mask) / ${Mask.toDouble} - 0.5) * 1.5)"))
      .select(col("id").as("vec_id"),
        expr("transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) as float))")
          .as("embedding"),
        col("label"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write each table as one `<table>.parquet` file under `dir` (the
    * layout the engine's event stream reader expects: it globs the fixture
    * directory for `events.parquet`), then a completion marker, so an
    * interrupted generation is redone rather than read half-written. */
  def write(tables: Map[String, DataFrame], dir: String): Unit = {
    tables.foreach { case (t, df) =>
      val tmp = new java.io.File(dir, s"_tmp_$t")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete())
      tmp.delete()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_COMPLETE"), Array.emptyByteArray)
  }
}
