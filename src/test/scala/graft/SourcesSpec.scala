package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage (SURVEY.md §2.1 S4–S7): CSV + JSON roundtrips,
  * from_json/schema_of_json, and text-source K:V index parsing — the
  * ingest shapes of the reference's fetch-then-cache layer re-expressed
  * as Spark sources.
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private val dir = SparkTestHarness.Sf0001

  test("S7: CSV sink/source roundtrip preserves rows and schema") {
    val out = queries.StatsStore.scratchDir("graft_csv")
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "source", "n_chars")
    docs.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true")
      .schema(docs.schema).csv(out)
    assert(back.count() === docs.count())
    assert(back.schema === docs.schema)
    assert(back.agg(sum("n_chars")).head().getLong(0) ===
      docs.agg(sum("n_chars")).head().getLong(0))
  }

  test("S1+: parquet schema evolution — mergeSchema unions generations, old rows null-fill") {
    // an incrementally-ingested store accretes columns across snapshot
    // generations; the read path must union the schemas instead of
    // failing or silently dropping the new column
    import spark.implicits._
    val out = queries.StatsStore.scratchDir("graft_evolve")
    Seq((1L, "a1")).toDF("id", "a").write.parquet(s"$out/gen=1")
    Seq((2L, "a2", 20L)).toDF("id", "a", "b").write.parquet(s"$out/gen=2")
    val df = spark.read.option("mergeSchema", "true").parquet(out)
    assert(df.columns.toSet == Set("id", "a", "b", "gen"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getAs[Any]("b") == null, "pre-evolution rows must null-fill")
    assert(rows(1).getAs[Long]("b") == 20L)
  }

  test("S6+: ORC sink/source roundtrip with predicate pushdown") {
    val out = queries.StatsStore.scratchDir("graft_orc")
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
    docs.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema === docs.schema)
    assert(back.count() === docs.count())
    // the columnar second format keeps filter pushdown, like parquet
    val planned = back.filter(col("doc_id") < 10)
      .queryExecution.executedPlan.toString
    assert(planned.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]"),
      s"no pushed filter in ORC scan:\n${planned.take(1200)}")
  }

  test("S5: JSON sink/source roundtrip + from_json extraction") {
    val out = queries.StatsStore.scratchDir("graft_json")
    Tables.events(spark, dir).select("event_id", "event_type", "props")
      .write.mode("overwrite").json(out)
    val back = spark.read.json(out)
    assert(back.count() === 1000)
    // parse the nested JSON string column with an explicit schema
    val parsed = back.withColumn("p",
      from_json(col("props"), StructType(Seq(StructField("k", LongType)))))
    val nonNull = parsed.filter(col("p.k").isNotNull).count()
    assert(nonNull === 1000)
  }

  test("S4: from_xml parses rendered repomd-style XML records") {
    val xml = Tables.packages(spark, dir)
      .select(concat(lit("<pkg><name>"), col("name"), lit("</name><ver>"),
        col("version"), lit("</ver></pkg>")).as("x"))
    val schema = "name STRING, ver STRING"
    val parsed = xml.select(from_xml(col("x"), lit(schema)).as("p"))
      .select(col("p.name").as("name"), col("p.ver").as("ver"))
    assert(parsed.count() === Tables.packages(spark, dir).count())
    assert(parsed.filter(col("name").startsWith("pkg-") && col("ver").rlike("^[0-9]")).count()
      === parsed.count())
  }

  test("S4: blank-line-separated multi-line stanzas via lineSep") {
    val out = queries.StatsStore.scratchDir("graft_apk")
    // faithful APKINDEX shape: multi-line K:V stanza per package,
    // blank-line separated
    Tables.packages(spark, dir)
      .select(concat(lit("P:"), col("name"), lit("\n"),
        lit("V:"), col("version"), lit("\n"),
        lit("A:"), col("arch")).as("value"))
      .write.mode("overwrite").option("lineSep", "\n\n").text(out)
    val stanzas = spark.read.option("lineSep", "\n\n").text(out)
      .filter(length(trim(col("value"))) > 0)
    val parsed = stanzas.select(
      regexp_extract(col("value"), "P:([^\n]+)", 1).as("name"),
      regexp_extract(col("value"), "V:([^\n]+)", 1).as("version"),
      regexp_extract(col("value"), "A:([^\n]+)", 1).as("arch"))
    assert(parsed.count() === Tables.packages(spark, dir).count())
    assert(parsed.filter(col("name").startsWith("pkg-") &&
      col("arch").isin("x86_64", "aarch64")).count() === parsed.count())
  }

  test("S4: text-source APKINDEX-style stanza parsing") {
    val out = queries.StatsStore.scratchDir("graft_idx")
    // render an index file from the packages view, then re-ingest via text
    Tables.packages(spark, dir)
      .select(concat(lit("P:"), col("name"), lit("|V:"), col("version")).as("value"))
      .write.mode("overwrite").text(out)
    val parsed = spark.read.text(out)
      .select(regexp_extract(col("value"), "P:([^|]+)", 1).as("name"),
        regexp_extract(col("value"), "V:([^|]+)", 1).as("version"))
    assert(parsed.count() === Tables.packages(spark, dir).count())
    assert(parsed.filter(col("name").startsWith("pkg-")).count() === parsed.count())
  }
}
