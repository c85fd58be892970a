package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    // optional extra args = query-name filter (dev loop: verify a few
    // queries without dumping all); the driver always passes exactly two.
    // Exact names only — a trailing '*' opts into prefix matching, so
    // 'q10' no longer surprise-selects q100–q104.
    def keep(name: String): Boolean = only.isEmpty || only.exists {
      case p if p.endsWith("*") => name.startsWith(p.dropRight(1))
      case p                    => name == p
    }
    val spark = Sessions.local(Sessions.cores)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Serve.jsonQuote(k)}: ${Serve.jsonQuote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
