package graft

import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite

/** The two meters: `LifecycleMeter` drains the wall-clock union of its
  * spans (overlaps count once, spans in sequence add up), and `JobMeter`
  * counts exactly the Spark jobs an action starts, and none for planning. */
class MetersSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  test("two threads timing 300 ms at the same time drain to about 0.3 s, not 0.6 s") {
    LifecycleMeter.drainSec()
    // both spans are open before either starts its 300 ms, so they overlap
    // by at least 300 ms: the union is 0.3 s plus thread skew, the sum 0.6 s
    val bothOpen = new CountDownLatch(2)
    val threads = (1 to 2).map(_ => new Thread(() =>
      LifecycleMeter.time { bothOpen.countDown(); bothOpen.await(); Thread.sleep(300) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val sec = LifecycleMeter.drainSec()
    assert(sec >= 0.3 && sec < 0.45, s"two overlapping 300 ms spans drained $sec s")
  }

  test("a span nested inside another on one thread is counted once") {
    LifecycleMeter.drainSec()
    // counted once: 0.4 s; the inner span counted again: 0.7 s
    LifecycleMeter.time { Thread.sleep(100); LifecycleMeter.time(Thread.sleep(300)) }
    val sec = LifecycleMeter.drainSec()
    assert(sec >= 0.4 && sec < 0.55, s"nested spans drained $sec s")
  }

  test("two spans one after the other add up") {
    LifecycleMeter.drainSec()
    LifecycleMeter.time(Thread.sleep(100))
    Thread.sleep(300) // idle: not counted
    LifecycleMeter.time(Thread.sleep(100))
    val sec = LifecycleMeter.drainSec()
    assert(sec >= 0.2 && sec < 0.35, s"two 100 ms spans drained $sec s")
  }

  test("a drain inside an open span counts the part so far; the next drain the rest") {
    LifecycleMeter.drainSec()
    var first = 0.0
    LifecycleMeter.time { Thread.sleep(200); first = LifecycleMeter.drainSec(); Thread.sleep(200) }
    val second = LifecycleMeter.drainSec()
    assert(first >= 0.2 && first < 0.35, s"first drain $first s")
    assert(second >= 0.2 && second < 0.35, s"second drain $second s")
    assert(LifecycleMeter.drainSec() == 0.0)
  }

  test("JobMeter.during counts the jobs an action starts and none for planning") {
    val sc = spark.sparkContext
    val (rows, scanJobs) = JobMeter.during(sc)(spark.range(10).collect())
    assert(rows.length == 10)
    assert(scanJobs == 1L, s"range(10).collect() ran $scanJobs job(s)")
    // count() aggregates through a shuffle: AQE runs the map stage as its
    // own job before the result job
    val (n, countJobs) = JobMeter.during(sc)(spark.range(10).count())
    assert(n == 10L)
    assert(countJobs == 2L, s"range(10).count() ran $countJobs job(s)")
    val df = spark.range(10).selectExpr("id * 2 as x").groupBy("x").count()
    val (_, planJobs) = JobMeter.during(sc)(df.queryExecution.executedPlan)
    assert(planJobs == 0L, s"planning ran $planJobs job(s)")
  }

  test("JobMeter.withStages counts completed stages beside jobs") {
    val sc = spark.sparkContext
    val (_, jobs, stages) = JobMeter.withStages(sc)(spark.range(10).collect())
    assert((jobs, stages) == ((1L, 1L)), s"range(10).collect(): $jobs job(s), $stages stage(s)")
    // the map stage runs in its own job; the result job skips it
    val (_, cJobs, cStages) = JobMeter.withStages(sc)(spark.range(10).count())
    assert((cJobs, cStages) == ((2L, 2L)), s"range(10).count(): $cJobs job(s), $cStages stage(s)")
  }
}
