package graft

import java.nio.file.{Files, Paths}

/** Dev-loop runner over the judged queries, on the [[Sessions]] settings
  * and the fixture in `SPARK_GRAFT_SF_DIR` (default sf0.1):
  *
  *   probe <q>...               run each query 3×: `rows=`, wall, Spark
  *                              `jobs=`, then its `Iterate` rounds
  *   plans <outdir> <tag> <q>...  write each query's `explain("formatted")`
  *                              to `<outdir>/<q>_<tag>.txt`
  *   show <q>...                print each query's rows
  *   smoke                      count [[SparkEntry.entry]] (sf0.001)
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def query(name: String) = SparkEntry.queries(name)(spark, dir)
    args.toList match {
      case "probe" :: names =>
        graft.operators.Iterate.setRecording(true)
        // Spark-job counter: the load-independent measure of driver barriers
        // (the thing the fused Iterate rounds exist to minimize)
        val jobs = new java.util.concurrent.atomic.AtomicLong()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
        })
        for (name <- names; _ <- 1 to 3) {
          val j0 = jobs.get()
          val t0 = System.nanoTime()
          val n = query(name).count()
          val t = (System.nanoTime() - t0) / 1e9
          // listener events deliver asynchronously — drain before sampling so
          // a late onJobStart never lands in the NEXT run's count (ADVICE r11)
          org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
          println(f"PROBE $name rows=$n t=$t%.3f jobs=${jobs.get() - j0}")
          graft.operators.Iterate.drainRounds().foreach(r =>
            println(f"  ROUND ${r.label}%s ${r.round}%d ${r.ms / 1000.0}%.3f jobs=${r.jobs}%d"))
        }
      case "plans" :: outDir :: tag :: names =>
        Files.createDirectories(Paths.get(outDir))
        for (name <- names) {
          // the string form of explain("formatted"), captured instead of printed
          val bos = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
            query(name).explain("formatted")
          }
          Files.write(Paths.get(outDir, s"${name}_$tag.txt"), bos.toByteArray)
          println(s"wrote $outDir/${name}_$tag.txt")
        }
      case "show" :: names =>
        for (name <- names) {
          println(s"=== $name @ $dir")
          query(name).show(500, truncate = false)
        }
      case "smoke" :: Nil =>
        println(s"SMOKE rows=${SparkEntry.entry(spark).count()}")
      case _ =>
        System.err.println(
          "usage: probe <q>... | plans <outdir> <tag> <q>... | show <q>... | smoke")
        spark.stop()
        sys.exit(2)
    }
    spark.stop()
  }
}
