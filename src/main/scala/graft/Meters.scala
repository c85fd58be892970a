package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerJobStart}

/** Wall-clock meter for the STORE-BUILD phase inside lifecycle-class
  * judged queries (VERDICT r16 item 6): queries like q287/q313/q315 build
  * a scratch store per invocation because the lifecycle IS the judged
  * subject, so their bench cost mixes "build the store" with "run the
  * consumer". Each such query wraps its build phase in [[time]]; Bench
  * drains the meter around every timed run and reports the split — per
  * query per pass in bench_passes.json, and one `lifecycle_builds_sec`
  * total in the JSON line.
  *
  * Counts the wall-clock UNION of the spans: the seconds during which at
  * least one [[time]] span was open, on any thread. Overlapping spans —
  * concurrent builds on `Par` threads, or a span nested inside another on
  * one thread — count once; spans one after another add up. One monitor
  * guards the open-span count and the start of the current busy interval;
  * nothing on the query path.
  */
object LifecycleMeter {
  private var open = 0        // spans open now, on any thread
  private var busySince = 0L  // nanoTime the current busy interval began
  private var closed = 0L     // busy nanos since the last drain, open interval excluded

  /** Meter `f` as store-build time. */
  def time[T](f: => T): T = {
    synchronized { if (open == 0) busySince = System.nanoTime(); open += 1 }
    try f
    finally synchronized {
      open -= 1
      if (open == 0) closed += System.nanoTime() - busySince
    }
  }

  /** Busy seconds since the last drain; resets the meter. An interval
    * still open is cut at this moment: its part so far is counted here,
    * the rest by the next drain. */
  def drainSec(): Double = synchronized {
    val now = System.nanoTime()
    val busy = if (open > 0) closed + (now - busySince) else closed
    busySince = now
    closed = 0L
    busy / 1e9
  }
}

/** The Spark jobs started on a context: the load-independent cost measure
  * (wall clock on a shared box swings 3×). Read by Bench's
  * bench_jobs.json, `Dev probe`, `Iterate`'s per-round counts and the
  * zero-job planning pins in the tests.
  *
  * One started-job counter per `SparkContext`, registered on first use and
  * dropped on `onApplicationEnd`, so a stopped context is not retained.
  * `onJobStart` events arrive asynchronously, so every read drains the
  * listener bus first; otherwise a job delivered late would land in the
  * next sample (ADVICE r11). A delta covers every job on the context
  * between its two samples, including other threads' jobs.
  */
object JobMeter {
  private val counters = new ConcurrentHashMap[SparkContext, AtomicLong]()

  /** Jobs started on `sc` since its counter was registered. */
  def total(sc: SparkContext): Long = {
    val c = counters.computeIfAbsent(sc, { sc0 =>
      val n = new AtomicLong()
      sc0.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          { counters.remove(sc0); () }
      })
      n
    })
    ListenerBridge.drain(sc)
    c.get()
  }

  /** Run `body`; returns its value and the jobs started on `sc` meanwhile. */
  def during[T](sc: SparkContext)(body: => T): (T, Long) = {
    val j0 = total(sc)
    val out = body
    (out, total(sc) - j0)
  }
}
