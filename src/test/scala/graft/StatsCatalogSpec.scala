package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.StatsCatalog

/** The planner catalog's bound keeps what planning keeps reading: a
  * fixture catalog hit on every planning must survive any number of
  * scratch-store primes (the q274 15-vs-7-jobs effect came from evicting
  * it by its first read stamp, which TTL-valid hits never refresh). */
class StatsCatalogSpec extends AnyFunSuite {
  test("a catalog entry read between 200 other primes is never evicted") {
    val hot = "spec://stats-catalog-lru/hot"
    val churn = (0 until 200).map(i => s"spec://stats-catalog-lru/churn-$i")
    var reads = 0
    def readHot(): AnyRef =
      StatsCatalog.cachedRead[AnyRef]("spec_kind", hot)("empty") { _ => reads += 1; "reread" }
    try {
      StatsCatalog.prime(hot, hot, Map("spec_kind" -> "primed"))
      churn.foreach { d =>
        StatsCatalog.prime(d, d, Map("spec_kind" -> "x"))
        readHot()
      }
      assert(reads == 0, s"the hot entry was re-read $reads times")
      assert(readHot() == "primed")
    } finally (hot +: churn).foreach(StatsCatalog.invalidate)
  }
}
