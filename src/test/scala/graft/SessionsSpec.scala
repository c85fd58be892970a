package graft

import org.scalatest.funsuite.AnyFunSuite

/** The test harness builds through [[Sessions.local]], so specs run under
  * the settings Bench and Verify run under. */
class SessionsSpec extends AnyFunSuite {
  test("the harness session carries the factory's settings") {
    val conf = SparkTestHarness.spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(conf.get("spark.scheduler.mode") == "FAIR")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    val cores = "local\\[(\\d+)\\]".r
      .findFirstMatchIn(SparkTestHarness.spark.sparkContext.master).get.group(1)
    assert(conf.get("spark.sql.shuffle.partitions") == cores)
    assert(conf.get("graft.checkpoint.validateClaim") == "true")
  }
}
