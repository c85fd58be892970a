package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The shared bounded memo: LRU bound, single-flight builds, nested
  * builds, failed builds, and the stale-key sweep. */
class CacheSpec extends AnyFunSuite {
  import scala.concurrent.ExecutionContext.Implicits.global

  test("max + 1 inserts evict the least recently used key, not the one read in between") {
    val evicted = Seq.newBuilder[Int]
    val c = new Cache[Int, Int](3, onEvict = v => evicted += v)
    (1 to 3).foreach(k => c.put(k, k * 10))
    assert(c.get(1).contains(10)) // 1 is now the most recently used
    c.put(4, 40)
    assert(c.get(1).contains(10))
    assert(c.get(2).isEmpty)
    assert(c.entries.map(_._1).toSet == Set(1, 3, 4))
    assert(evicted.result() == Seq(20))
  }

  test("two concurrent first readers share one build") {
    val c = new Cache[String, AnyRef](4)
    val builds = new AtomicInteger()
    val barrier = new CyclicBarrier(2)
    def reader() = Future {
      barrier.await(30, TimeUnit.SECONDS)
      c.getOrBuild("k") {
        builds.incrementAndGet()
        Thread.sleep(200) // keep the build in flight while the other reader arrives
        new Object
      }
    }
    val (a, b) = (reader(), reader())
    val (va, vb) = (Await.result(a, 30.seconds), Await.result(b, 30.seconds))
    assert(builds.get() == 1)
    assert(va eq vb)
  }

  test("a build may call getOrBuild on another key of the same cache") {
    val c = new Cache[String, Int](4)
    val outer = Future(c.getOrBuild("outer")(c.getOrBuild("inner")(1) + 1))
    assert(Await.result(outer, 30.seconds) == 2)
    assert(c.get("inner").contains(1))
  }

  test("a failed build caches nothing and the next call rebuilds") {
    val c = new Cache[String, Int](4)
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      c.getOrBuild("k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(c.get("k").isEmpty)
    assert(c.getOrBuild("k") { builds.incrementAndGet(); 7 } == 7)
    assert(builds.get() == 2)
  }

  test("stale keys are dropped on the next insert") {
    val dead = scala.collection.mutable.Set[String]()
    val c = new Cache[String, Int](8, stale = k => dead.contains(k))
    c.put("a", 1)
    c.put("b", 2)
    dead += "a"
    assert(c.get("a").contains(1)) // nothing inserted yet: still there
    c.put("c", 3)
    assert(c.get("a").isEmpty)
    assert(c.entries.map(_._1).toSet == Set("b", "c"))
  }
}
