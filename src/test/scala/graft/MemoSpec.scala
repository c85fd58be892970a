package graft

import java.util.concurrent.CyclicBarrier
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Memo

/** Memo one-materialization cache: concurrent first readers share ONE
  * build, and that frame's persist survives until [[Memo.evict]] (ADVICE
  * r4: Spark's CacheManager uncaches by canonicalized plan, so a second
  * builder unpersisting its plan-identical frame would silently drop the
  * first one's cache too).
  */
class MemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  test("both racers get one frame and the winner's persist survives the race") {
    import spark.implicits._
    val barrier = new CyclicBarrier(2)
    val builds = new AtomicInteger()
    val out = new Array[org.apache.spark.sql.DataFrame](2)
    val ts = (0 until 2).map { i =>
      new Thread(() => {
        // both threads are released together, before either reaches cached
        barrier.await()
        out(i) = Memo.cached("race-test", spark, "memo-spec-shared", local = false) {
          builds.incrementAndGet()
          Seq(1, 2, 3).toDF("v").groupBy().sum("v")
        }
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join(30000))
    assert(out(0) != null && out(1) != null)
    assert(builds.get() == 1, "single-flight: one build for both first readers")
    assert(out(0) eq out(1))
    assert(out(0).storageLevel === StorageLevel.MEMORY_AND_DISK)
    Memo.evict(spark, "memo-spec-shared")
    assert(out(0).storageLevel === StorageLevel.NONE, "evict must release the persist")
  }
}
