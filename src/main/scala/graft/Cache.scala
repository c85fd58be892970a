package graft

import org.apache.spark.sql.SparkSession

/** The engine's one in-JVM memo: an access-ordered map with a hard size
  * bound, behind one monitor.
  *
  *  - `getOrBuild` is single-flight: `build` runs OUTSIDE the monitor, at
  *    most once per key at a time. Concurrent first readers of that key
  *    wait for its build; readers of other keys never do, and a build may
  *    itself call `getOrBuild` on another key of the same cache (derived
  *    frames nest). A build that throws caches nothing — its waiters and
  *    the next caller build again.
  *  - Past `max` entries the least-recently-used one is removed and handed
  *    to `onEvict` (outside the monitor).
  *  - Every insert first drops the keys `stale` marks dead (entries of a
  *    stopped session), silently: what they held died with the session.
  *
  * Values must be non-null.
  */
final class Cache[K, V](max: Int, stale: K => Boolean = (_: K) => false,
    onEvict: V => Unit = (_: V) => ()) {
  require(max > 0, s"cache bound must be positive, got $max")

  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  /** Keys whose build is in flight → the building thread. */
  private val building = new java.util.HashMap[K, Thread]()

  def get(key: K): Option[V] = synchronized(Option(map.get(key)))

  def put(key: K, value: V): Unit = synchronized(insert(key, value)).foreach(onEvict)

  def getOrBuild(key: K)(build: => V): V = {
    val me = Thread.currentThread()
    val hit = synchronized {
      var found = Option(map.get(key))
      while (found.isEmpty && building.get(key) != null) {
        if (building.get(key) eq me)
          throw new IllegalStateException(s"recursive build of cache key $key")
        wait()
        found = Option(map.get(key))
      }
      if (found.isEmpty) building.put(key, me)
      found
    }
    hit.getOrElse {
      var published = false
      try {
        val v = build
        val evicted = synchronized {
          building.remove(key); notifyAll(); published = true
          insert(key, v)
        }
        evicted.foreach(onEvict)
        v
      } finally if (!published) synchronized { building.remove(key); notifyAll() }
    }
  }

  /** Remove every entry whose key matches; returns the removed values. */
  def removeWhere(pred: K => Boolean): Seq[V] = synchronized {
    val out = Seq.newBuilder[V]
    val it = map.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if (pred(e.getKey)) { out += e.getValue; it.remove() }
    }
    out.result()
  }

  /** Snapshot of the entries, least recently used first; reading it does
    * not change the order. */
  def entries: Seq[(K, V)] = synchronized {
    val out = Seq.newBuilder[(K, V)]
    map.forEach((k, v) => out += (k -> v))
    out.result()
  }

  /** Insert under the monitor; returns the evicted values. */
  private def insert(key: K, value: V): Seq[V] = {
    map.keySet.removeIf(k => stale(k))
    map.put(key, value)
    val out = Seq.newBuilder[V]
    val it = map.values.iterator
    while (map.size > max) { out += it.next(); it.remove() }
    out.result()
  }
}

object Cache {
  /** Bound of the memos keyed per session, fixture or store root. A
    * fixture holds 16 derived-frame kinds and a bench or Verify run
    * touches two fixtures and a few dozen scratch store roots, so no such
    * run evicts; a long-lived `Serve` JVM stops growing here. */
  val DefaultMax = 256

  /** The stale-key predicate of session-keyed memos. */
  def stopped(s: SparkSession): Boolean = s.sparkContext.isStopped
}
