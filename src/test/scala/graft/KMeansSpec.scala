package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KMeans

/** operators.KMeans against an in-memory brute-force Lloyd model with the
  * same exactness rules (sequential-fold scores, fixed-point updates), plus
  * the documented edge cases: empty clusters keep their centroid, ties
  * assign to the lowest cluster id, output ids stay in [1, k].
  */
class KMeansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private def model(vs: Seq[Seq[Double]], init: Seq[Seq[Double]], iters: Int)
      : (IndexedSeq[IndexedSeq[Double]], Seq[Int]) = {
    def assign(cent: Seq[Seq[Double]]): Seq[Int] = vs.map { v =>
      val scores = cent.map { c =>
        var dot = 0.0; var nsq = 0.0; var i = 0
        while (i < c.length) { dot += v(i) * c(i); nsq += c(i) * c(i); i += 1 }
        dot - 0.5 * nsq
      }
      scores.indexOf(scores.max) + 1
    }
    var cent = init.map(_.toIndexedSeq).toIndexedSeq
    (0 until iters).foreach { _ =>
      val a = assign(cent)
      cent = cent.indices.map { ci =>
        val mine = vs.zip(a).filter(_._2 == ci + 1).map(_._1)
        if (mine.isEmpty) cent(ci)
        else cent(ci).indices.map { d =>
          val sxn = mine.map(v => math.floor(v(d) * KMeans.Scale).toLong).sum
          sxn.toDouble / (mine.size * KMeans.Scale).toDouble
        }
      }
    }
    (cent, assign(cent))
  }

  test("fitAssign matches the brute-force model on generated data") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vs = Seq.fill(80)(Seq.fill(4)(rng.nextInt(2000) / 1000.0 - 1.0))
    val init = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
    val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val (wantCent, wantAssign) = model(vs, init, 3)
    val gotCent = KMeans.fit(df, init.map(_.toIndexedSeq).toIndexedSeq, 3)
    assert(gotCent === wantCent) // bit-exact, by construction
    val got = KMeans.fitAssign(df, init.map(_.toIndexedSeq).toIndexedSeq, 3)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    vs.indices.foreach(i => assert(got(i.toLong) === wantAssign(i), s"vec $i"))
  }

  test("a cluster that captures nothing keeps its centroid") {
    import spark.implicits._
    val df = Seq((0L, Seq(1.0, 1.0)), (1L, Seq(1.5, 1.0))).toDF("id", "v")
    val far = IndexedSeq(1e9, 1e9)
    val cent = KMeans.fit(df, IndexedSeq(IndexedSeq(1.0, 1.0), far), 2)
    assert(cent(1) === far)
  }

  test("score ties assign to the lowest cluster id") {
    import spark.implicits._
    val df = Seq((0L, Seq(0.0, 0.0))).toDF("id", "v")
    // identical centroids → identical scores → array_position picks 1
    val init = IndexedSeq(IndexedSeq(2.0, 2.0), IndexedSeq(2.0, 2.0))
    val a = KMeans.fitAssign(df, init, 0).select("cluster").head().getInt(0)
    assert(a === 1)
  }

  test("fixture run yields clusters in [1, 8] and a deterministic rerun") {
    val q = SparkEntry.queries("q116_kmeans_train")
    val r1 = q(spark, SparkTestHarness.Sf0001).collect().map(r => (r.getLong(0), r.getInt(2)))
    val r2 = q(spark, SparkTestHarness.Sf0001).collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(r1.nonEmpty && r1.forall { case (_, c) => c >= 1 && c <= 8 })
    assert(r1 === r2)
  }

  test("trained components are not degenerate: clusters, PQ codes, PQ recall") {
    // Regression pin for the round-8 init-scale bug: the md5 init at +-500
    // scale vs unit-norm embeddings collapsed Lloyd to ONE cluster — and
    // the oracle collapsed identically, so hash parity stayed green for two
    // rounds. Health is a property of the OUTPUT DISTRIBUTION, so pin it
    // here where the hash gate cannot see it.
    val km = SparkEntry.queries("q116_kmeans_train")(spark, SparkTestHarness.Sf0001)
      .collect().map(_.getInt(2))
    assert(km.distinct.length >= 2, "k-means collapsed to one cluster")
    val enc = SparkEntry.queries("q136_pq_encode")(spark, SparkTestHarness.Sf0001).collect()
    (0 until 4).foreach { m =>
      val codes = enc.map(_.getInt(2 + m)).distinct
      assert(codes.length >= 2, s"PQ subspace $m collapsed to one codeword")
    }
    val rec = SparkEntry.queries("q138_pq_recall")(spark, SparkTestHarness.Sf0001)
      .collect().map(r => r.getDouble(3))
    assert(rec.sum / rec.length > 0.2,
      s"PQ retrieve-rerank recall@3 degenerated: ${rec.toSeq}")
    // residual IVFPQ: recall must not collapse, and must hold up against
    // the raw-vector composition (the whole point of residual codes)
    val rrec = SparkEntry.queries("q145_ivfpq_residual_recall")(spark, SparkTestHarness.Sf0001)
      .collect().map(r => r.getDouble(3))
    assert(rrec.sum / rrec.length > 0.2,
      s"residual-IVFPQ recall@3 degenerated: ${rrec.toSeq}")
  }
}
