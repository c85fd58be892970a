package graft

import org.scalatest.funsuite.AnyFunSuite

/** Graft.cdcApply — latest-wins CDC merge semantics (delete / update /
  * insert, per-key latest change only, non-payload columns preserved).
  */
class CdcApplySpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  import spark.implicits._

  private def base = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    .toDF("id", "name", "bal")

  test("latest change wins per key; updates keep non-payload columns") {
    val ch = Seq(
      (1L, 1L, "U", 11.0), (1L, 5L, "U", 15.0), (1L, 3L, "U", 13.0))
      .toDF("id", "seq", "op", "bal")
    val r = Graft.cdcApply(base, ch, "id").orderBy("id").collect()
    assert(r.map(x => (x.getLong(0), x.getString(1), x.getDouble(2))).toSeq ===
      Seq((1L, "a", 15.0), (2L, "b", 20.0), (3L, "c", 30.0)))
  }

  test("delete drops the key; a later upsert after a delete resurrects it") {
    val ch = Seq(
      (2L, 1L, "D", 0.0),          // delete key 2
      (3L, 1L, "D", 0.0), (3L, 2L, "U", 33.0)) // delete then re-upsert key 3
      .toDF("id", "seq", "op", "bal")
    val r = Graft.cdcApply(base, ch, "id").orderBy("id").collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(r.find(_.getLong(0) == 3L).get.getDouble(2) === 33.0)
    // non-payload column survives the delete+upsert round trip
    assert(r.find(_.getLong(0) == 3L).get.getString(1) === "c")
  }

  test("insert on a key absent from base fills non-payload columns with null") {
    val ch = Seq((9L, 1L, "I", 99.0)).toDF("id", "seq", "op", "bal")
    val r = Graft.cdcApply(base, ch, "id").orderBy("id").collect()
    assert(r.length === 4)
    val ins = r.find(_.getLong(0) == 9L).get
    assert(ins.isNullAt(1) && ins.getDouble(2) === 99.0)
    // output column order is the base's
    assert(Graft.cdcApply(base, ch, "id").columns.toSeq === base.columns.toSeq)
  }

  test("a delete for a key absent from base is a no-op") {
    val ch = Seq((9L, 1L, "D", 0.0)).toDF("id", "seq", "op", "bal")
    assert(Graft.cdcApply(base, ch, "id").count() === 3)
  }

  test("matches the in-memory model on random change logs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val chGen = Gen.listOf(Gen.zip(Gen.choose(0L, 14L), Gen.oneOf("D", "U", "I"),
      Gen.choose(0, 999).map(_.toDouble)))
    (0 until 15).foreach { seed =>
      val baseRows = (0L to 9L).map(i => (i, s"n$i", i * 10.0))
      val log = chGen(Gen.Parameters.default, Seed(seed.toLong)).getOrElse(Nil)
        .zipWithIndex.map { case ((k, op, b), i) => (k, i.toLong, op, b) }
      // in-memory model: per key the max-seq change; D drops, else upsert
      val latest = log.groupBy(_._1).map { case (k, cs) => k -> cs.maxBy(_._2) }
      val baseMap = baseRows.map(r => r._1 -> r).toMap
      val expected = (baseMap.keySet ++ latest.keySet).flatMap { k =>
        latest.get(k) match {
          case Some((_, _, "D", _)) => None
          case Some((_, _, _, b))   =>
            Some((k, baseMap.get(k).map(_._2).orNull, b))
          case None                 => baseMap.get(k).map(r => (k, r._2, r._3))
        }
      }
      val got = Graft.cdcApply(
          baseRows.toDF("id", "name", "bal"),
          log.toDF("id", "seq", "op", "bal"), "id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got === expected, s"seed $seed log=$log")
    }
  }

  test("payload columns must exist in base; reserved columns must exist in changes") {
    val bad = Seq((1L, 1L, "U", 1.0)).toDF("id", "seq", "op", "nope")
    intercept[IllegalArgumentException](Graft.cdcApply(base, bad, "id"))
    val noOp = Seq((1L, 1L, 1.0)).toDF("id", "seq", "bal")
    intercept[IllegalArgumentException](Graft.cdcApply(base, noOp, "id"))
  }
}
