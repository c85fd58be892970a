package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The shared bounded pool: nested fan-outs complete under the fixed cap,
  * failures surface in input order with their own type, and the `withCaps`
  * test seams reach every forked task. */
class ParSpec extends AnyFunSuite {
  import scala.concurrent.ExecutionContext.Implicits.global

  test("Par.all completes when nested two blocking levels deep") {
    val ran = new AtomicInteger()
    // 12 outer tasks (more than the retired fixed pool's 8 threads), each
    // itself fanning out a blocking Par.all — the shape that starved the
    // r19 fixed pool forever. Await with a finite timeout so a regression
    // fails loudly, not hangs.
    val out = Await.result(Future {
      Par.all((1 to 12).map(i => () =>
        Par.all((1 to 4).map(j => () => {
          Thread.sleep(20)
          ran.incrementAndGet()
          i * 100 + j
        })).sum))
    }, 60.seconds)
    assert(ran.get() == 48)
    assert(out == (1 to 12).map(i => (1 to 4).map(j => i * 100 + j).sum))
  }

  test("a 3-level fan-out 64 tasks wide completes on at most Par.Size pool threads") {
    val poolThreads = ConcurrentHashMap.newKeySet[Thread]()
    def seen(): Unit = {
      val t = Thread.currentThread()
      if (t.getName == "graft-par") poolThreads.add(t)
    }
    val leaves = new AtomicInteger()
    // every level blocks on its children: an unbounded pool grows a thread
    // per parked join (64 + 256 + 1024 tasks), a bounded one must help
    val out = Await.result(Future {
      Par.all((1 to 64).map(i => () => {
        seen()
        Par.all((1 to 4).map(j => () => {
          seen()
          Par.all((1 to 4).map(k => () => {
            seen()
            Thread.sleep(2)
            leaves.incrementAndGet()
            i * 100 + j * 10 + k
          })).sum
        })).sum
      }))
    }, 60.seconds)
    assert(leaves.get() == 1024)
    assert(out == (1 to 64).map(i =>
      (for (j <- 1 to 4; k <- 1 to 4) yield i * 100 + j * 10 + k).sum))
    assert(poolThreads.size > 1, "the fan-out never reached the pool")
    assert(poolThreads.size <= Par.Size,
      s"${poolThreads.size} pool threads ran tasks; the cap is ${Par.Size}")
  }

  test("Par.all rethrows the first failure in input order with its original type") {
    val e = intercept[IllegalStateException] {
      Par.all(Seq(
        () => 1,
        () => { Thread.sleep(100); throw new IllegalStateException("first in input order") },
        () => throw new IllegalArgumentException("first in time")))
    }
    assert(e.getMessage == "first in input order")
  }

  test("a cap lowered by StatsStore.withCaps is seen by a task forked two levels deep") {
    // fork, then wait until a pool thread has claimed the task, so the
    // join cannot run it inline on the forking thread
    def onPool[T](body: => T): T = {
      val started = new CountDownLatch(1)
      val join = Par.fork { started.countDown(); body }
      assert(started.await(60, TimeUnit.SECONDS))
      join()
    }
    def caps() = (queries.StatsStore.MaxCarryRows, queries.StatsStore.HistMaxDomain,
      Thread.currentThread().getName)
    val (carry, domain, _) = caps()
    // start every pool thread before the scope opens: a thread created
    // inside it would inherit the lowered caps at creation instead
    Par.all(Seq.fill(Par.Size)(() => ()))
    val lowered = queries.StatsStore.withCaps(carryRows = 7, histDomain = 11L) {
      onPool(onPool(caps()))
    }
    assert(lowered == ((7, 11L, "graft-par")))
    // the scope ends with withCaps: later tasks see the production caps
    assert(onPool(onPool(caps())) == ((carry, domain, "graft-par")))
  }
}
