package graft

import org.scalatest.funsuite.AnyFunSuite

/** The graft-archives DataSource V2 table (sources/ArchiveTable): archives
  * under a directory surface as (file, fmt, member_name, member_size,
  * body) rows, one partition per file; column pruning skips body
  * materialization, filter pushdown evaluates member_name equality inside
  * the member walk.
  */
class ArchiveTableSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestHarness.spark
    functions.GraftFunctions.ensureRegistered(s)
    s
  }

  /** Three archives (tar, tar+gzip, zip) in a fresh temp dir. */
  private def writeFixtures(): String = {
    val dir = queries.StatsStore.scratchDir("graft_dsv2")
    import spark.implicits._
    val rows = Seq(
      ("a.tar", "tar_archive(array('x.txt','y/z.txt'), array(encode('alpha','UTF-8'), encode('beta-beta','UTF-8')), 'none')"),
      ("b.tgz", "tar_archive(array('inner.txt'), array(encode('gamma','UTF-8')), 'gzip')"),
      ("c.zip", "zip_archive(array('x.txt','w.txt'), array(encode('delta','UTF-8'), encode('epsilon!','UTF-8')), 'deflated')"))
    rows.foreach { case (fname, sql) =>
      val bytes = Seq(1).toDF("i").selectExpr(s"$sql AS b").head().getAs[Array[Byte]](0)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$fname"), bytes)
    }
    dir
  }

  test("reads every member of every archive with formats and sizes") {
    val dir = writeFixtures()
    val df = spark.read.format("graft-archives").load(dir)
    val got = df.collect().map(r => (
      new java.io.File(r.getString(0)).getName, r.getString(1),
      r.getString(2), r.getLong(3), new String(r.getAs[Array[Byte]](4), "UTF-8")))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(got === Seq(
      ("a.tar", "tar", "x.txt", 5L, "alpha"),
      ("a.tar", "tar", "y/z.txt", 9L, "beta-beta"),
      ("b.tgz", "tar+gzip", "inner.txt", 5L, "gamma"),
      ("c.zip", "zip", "w.txt", 8L, "epsilon!"),
      ("c.zip", "zip", "x.txt", 5L, "delta")))
  }

  test("one input partition per file") {
    val dir = writeFixtures()
    val df = spark.read.format("graft-archives").load(dir)
    assert(df.rdd.getNumPartitions === 3)
  }

  test("column pruning drops body materialization (visible in scan description)") {
    val dir = writeFixtures()
    val df = spark.read.format("graft-archives").load(dir)
      .select("member_name", "member_size")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("withBody=false"), s"body not pruned:\n$plan")
    assert(df.count() === 5)
  }

  test("member_name equality pushes into the walk") {
    val dir = writeFixtures()
    val df = spark.read.format("graft-archives").load(dir)
      .filter(org.apache.spark.sql.functions.col("member_name") === "x.txt")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushedName=x.txt"), s"filter not pushed:\n$plan")
    val got = df.collect().map(r => new String(r.getAs[Array[Byte]](4), "UTF-8")).sorted
    assert(got === Array("alpha", "delta"))
  }

  test("two conflicting member_name equalities return the correct EMPTY result") {
    // only ONE equality may be absorbed by the walk; the second must stay
    // in the residual so Spark re-evaluates it — Catalyst does not fold
    // name='a' AND name='b' to false, so swallowing both would wrongly
    // return the 'a' rows
    val dir = writeFixtures()
    val df = spark.read.format("graft-archives").load(dir)
      .filter(org.apache.spark.sql.functions.col("member_name") === "x.txt")
      .filter(org.apache.spark.sql.functions.col("member_name") === "y.txt")
    assert(df.count() === 0)
  }

  test("non-archive files yield no rows instead of failing the scan") {
    val dir = writeFixtures()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/junk.bin"),
      "not an archive at all".getBytes("UTF-8"))
    val df = spark.read.format("graft-archives").load(dir)
    assert(df.count() === 5)
  }
}
