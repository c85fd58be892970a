package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Par, Tables}

/** Similarity search over the 64-d `embeddings` fixture (driver north star;
  * SURVEY.md §2.8 "Vector", §7 M4).
  *
  * Cosine is composed from Catalyst higher-order functions
  * (`zip_with` product + sequential `aggregate` fold) — codegen'd, no UDF.
  * The oracle reproduces the SAME fold order (list_reduce over prepended
  * zero), so doubles are bit-identical across engines and no rounding or
  * tolerance is needed — even the top-k ORDER over cosines matches exactly.
  *
  * Scale notes (100 TB): q44 blocks all-pairs comparison by `label` — the
  * fixture stand-in for an LSH/IVF bucket id; the plan is a per-bucket
  * shuffled self-join, never a global cross join. q45 broadcasts the fixed
  * query set (queries × corpus is a broadcast nested loop over a TINY build
  * side + a single window top-k — the brute-force exact baseline; the scale
  * path swaps the corpus scan for an IVF/LSH-bucketed semi-join with the
  * same downstream ranking).
  */
object Vectors {
  type QFn = (SparkSession, String) => DataFrame

  /** embeddings with double-cast vector and its squared norm. Dot products
    * run through the custom codegen'd `array_dot` Expression (a tight
    * multiply-add loop inside whole-stage codegen; measured: beats the
    * interpreted aggregate/zip_with fold ~4x on the pair joins, and a
    * fully-unrolled 64-term sum is 3x WORSE than the fold — too large for
    * JIT). Summation order is sequential, matching the oracle's
    * list_reduce, so doubles stay bit-identical.
    */
  private def vecs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    Tables.embeddings(s, dir).select(
      col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nsq", expr("array_dot(v, v)"))
  }

  private val dotExpr = "array_dot(va, vb)"

  /** ONE md5 constant-derivation for every deterministic matrix family
    * (hyperplanes "rp:", IVF codebook "ivf:", k-means init "km:"):
    * int32(md5(s"$prefix:$a:$b")[0:4]) % 1000 - 500. Shared so a change
    * here cannot desynchronize one family's Spark side from the SQL
    * re-derivation the oracles all use.
    */
  private def mdConst(prefix: String, a: Int, b: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$prefix:$a:$b".getBytes("UTF-8"))
      .take(4).map(x => f"${x & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) % 1000 - 500
  }

  /** Deterministic random-hyperplane matrix for LSH bucketing: 8 planes x
    * 64 dims, r(p,d) = int32(md5("rp:p:d")[0:4]) % 1000 - 500. md5-derived
    * so the oracle re-derives the SAME matrix in SQL — no shipped state.
    */
  private val Planes = 8
  private def planeConst(p: Int, d: Int): Long = mdConst("rp", p, d)
  /** SQL expr: LSH bucket id (sign bits of the 8 projections) over col v. */
  private def bucketExpr: String = {
    val bits = (0 until Planes).map { pl =>
      val arr = (0 until 64).map(d => s"${planeConst(pl, d)}D").mkString(",")
      s"if(array_dot(v, array($arr)) > 0, ${1L << pl}L, 0L)"
    }
    bits.mkString(" + ")
  }

  /** Deterministic IVF coarse quantizer: 8 centroids x 64 dims from the
    * same md5 derivation family as the hyperplanes (seed prefix "ivf:"),
    * so the oracle re-derives the identical codebook in SQL. A real
    * deployment would train centroids with k-means; the PLAN is identical
    * — only the literal codebook changes.
    */
  private val Cells = 8
  private def ivfConst(k: Int, d: Int): Long = mdConst("ivf", k, d)
  /** SQL expr: array of the 8 centroid dot products for col v. */
  private def ivfDotsExpr: String = {
    val per = (0 until Cells).map { k =>
      val arr = (0 until 64).map(d => s"${ivfConst(k, d)}D").mkString(",")
      s"array_dot(v, array($arr))"
    }
    s"array(${per.mkString(",")})"
  }

  /** Deterministic k-means init: 8 seeds x 64 dims from the same md5
    * derivation family as the hyperplanes / IVF codebook (prefix "km:"),
    * scaled /1000 onto the DATA's unit-norm range — an init 500x the data
    * scale collapses Lloyd to one cluster (every vector nearest the same
    * smallest-norm seed; measured before the fix: 500/500 in cluster 8).
    * One exact IEEE divide, so the oracle re-derives the identical
    * starting point in SQL.
    */
  private val KmK = 8
  private val KmIters = 3
  private def kmInit: IndexedSeq[IndexedSeq[Double]] =
    (0 until KmK).map(k => (0 until 64).map(d => mdConst("km", k, d).toDouble / 1000.0))

  /** Trained-and-assigned embedding frame (vec_id, label, v, nsq, cluster)
    * — KMeans.fit runs one Spark job per iteration (driver-held centroids,
    * like MLlib), so the trained assignment is memoized per (session, dir)
    * and both q116 and q117 read the same materialization.
    */
  private def kmFrame(s: SparkSession, dir: String): DataFrame =
    Memo.memoized("kmeans", s, dir) {
      graft.operators.KMeans.fitAssign(vecs(s, dir), kmInit, KmIters)
    }

  /** Trained centroids (k x 64 doubles, driver-side) — cached per
    * (session, dir) like the assignment frame; the fit is 3 tiny jobs but
    * two judged queries and the probe path all need the same codebook.
    */
  private val kmCentCache = codebookCache[IndexedSeq[IndexedSeq[Double]]]
  private def kmCentroids(s: SparkSession, dir: String): IndexedSeq[IndexedSeq[Double]] =
    kmCentCache.getOrBuild((s, dir))(graft.operators.KMeans.fit(vecs(s, dir), kmInit, KmIters))

  /** Per-(session, dir) memo of driver-side codebooks (plain arrays —
    * nothing to release on eviction). */
  private def codebookCache[V] = new graft.Cache[(SparkSession, String), V](
    graft.Cache.DefaultMax, stale = k => graft.Cache.stopped(k._1))

  /** Filesystem home of the persisted IVF index for a fixture dir
    * (train-once → serve-many; q262/q263). Deterministic per fixture, so
    * the build and probe queries meet at the same location without
    * shipping state through the session; lives under the JVM temp dir —
    * the fixture directories themselves are read-only.
    */
  def ivfIndexDir(dir: String): String = StatsStore.fixtureRoot("graft_ivf_index", dir)

  /** Materialize the trained IVF index AS TABLES: `centroids` (cluster,
    * cv — k×64 doubles, one small file) and `codes` (vec_id, label, v,
    * nsq, PARTITIONED BY cluster — a 2-of-8-cell probe reads 2/8 of the
    * corpus FILES; partition layout is what makes IVF an index instead of
    * a full-scan rerank at 100 TB). Training is the same md5-seeded Lloyd
    * fixed point as q116/q130, so the written content is deterministic
    * and the oracle re-derives it from the raw fixture alone.
    */
  def writeIvfIndex(s: SparkSession, dir: String, idxDir: String): Unit = {
    import s.implicits._
    // independent tables into the same staging dir — overlap (round 19);
    // kmCentroids is resolved BEFORE the parallel block so the (cached)
    // k-means training never races itself from two pool threads
    val cent = kmCentroids(s, dir)
    val codes = kmFrame(s, dir)
    Par.all(Seq(
      () => cent.zipWithIndex
        .map { case (c, i) => (i + 1, c.toSeq) }.toDF("cluster", "cv")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$idxDir/centroids"),
      () => codes
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$idxDir/codes")))
    ()
  }

  /** Resolve the latest COMPLETE generation of the persisted index, or
    * publish one (r11: the store is generation-versioned — writes land in
    * a fresh gen dir behind an atomically-swapped manifest, probes pin
    * the path they resolved, retention keeps the last two generations;
    * [[graft.IndexStore]]). Probe queries are self-contained (dev loops
    * run them alone) but never retrain when a complete generation exists.
    */
  private[graft] def ensureIvfIndex(s: SparkSession, dir: String): String = {
    val root = ivfIndexDir(dir)
    // cached resolution (VERDICT r11 item 7): probes run per query; the
    // memoized (root → gen path) skips the per-call manifest walk and is
    // refreshed by every in-JVM publish
    graft.IndexStore.latestPathCached(root)
      .getOrElse(graft.IndexStore.publish(root)(g => writeIvfIndex(s, dir, g)))
  }

  /** The residual-PQ layer of the index store, beside [[writeIvfIndex]]'s
    * tables: `rpq_codebooks` (m, k, cv — 4 subspaces × 32 codewords × 16
    * doubles, one small file) and `rpq_codes` (vec_id, label, v, nsq,
    * rcode0..3, PARTITIONED BY the coarse cluster — the probe reads only
    * probed cells' files AND scores them from 4 small ints per vector).
    */
  def writePqIndex(s: SparkSession, dir: String, idxDir: String): Unit = {
    import s.implicits._
    // independent tables into the same staging dir — overlap (round 19);
    // codebooks and the encoded frame resolve BEFORE the parallel block
    // so their cached builds never race from two pool threads
    val cb = rpqCodebooks(s, dir)
    val enc = rpqEncFrame(s, dir)
    Par.all(Seq(
      () => (for (m <- 0 until PqM; k <- cb(m).indices)
          yield (m, k + 1, cb(m)(k).toSeq))
        .toDF("m", "k", "cv").coalesce(1)
        .write.mode("overwrite").parquet(s"$idxDir/rpq_codebooks"),
      () => enc
        .select(col("vec_id") +: col("label") +: col("v") +: col("nsq") +:
          col("cluster") +: (0 until PqM).map(m => col(s"rcode$m")): _*)
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$idxDir/rpq_codes")))
    ()
  }

  /** Like [[ensureIvfIndex]] but the generation must also carry the PQ
    * layer; a coarse-only latest generation triggers a NEW full publish
    * (generations are immutable once complete — the PQ layer is never
    * written into a published store). */
  private[graft] def ensurePqIndex(s: SparkSession, dir: String): String = {
    val root = ivfIndexDir(dir)
    graft.IndexStore.latestPathCached(root)
      .filter(p => new java.io.File(s"$p/rpq_codes").exists())
      .getOrElse(graft.IndexStore.publish(root)(writeIvfPqGen(s, dir)))
  }

  /** One full (coarse + PQ) generation: the four tables are independent
    * writes into the same staging dir, so the two layer writers overlap
    * (round 20, VERDICT r19 item 3 — they ran back to back). The cached
    * trainings and memoized frames are resolved BEFORE the parallel block
    * so neither layer races a duplicate materialization (Memo's lost-race
    * cost) from two pool threads. */
  private def writeIvfPqGen(s: SparkSession, dir: String)(g: String): Unit = {
    kmCentroids(s, dir); kmFrame(s, dir); rpqCodebooks(s, dir); rpqEncFrame(s, dir)
    Par.all(Seq(
      () => writeIvfIndex(s, dir, g),
      () => writePqIndex(s, dir, g)))
    ()
  }

  /** Product-quantization parameters (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI'11 — public): 64 dims split into
    * M=4 subspaces of 16; each subspace gets its own K=32-codeword k-means
    * codebook (2 Lloyd iterations from the md5 "pqM:" init, data-scaled
    * like [[kmInit]]). A vector's
    * code is 4 small ints — at 100 TB that is the difference between
    * scanning 64 doubles per candidate and 4 table lookups: the memory-
    * bound regime where brute-force cosine dies and PQ-ADC survives.
    */
  private val PqM = 4
  private val PqDims = 16
  private val PqK = 32
  private val PqIters = 2
  private def pqInit(m: Int): IndexedSeq[IndexedSeq[Double]] =
    (0 until PqK).map(k => (0 until PqDims).map(d => mdConst(s"pq$m", k, d).toDouble / 1000.0))

  /** Trained PQ codebooks (m -> k -> 16 doubles), cached per (session,
    * dir) like [[kmCentroids]]: each subspace's fit is PqIters tiny jobs
    * over the 16-dim slices.
    */
  private val pqCbCache = codebookCache[IndexedSeq[IndexedSeq[IndexedSeq[Double]]]]
  private def pqCodebooks(s: SparkSession, dir: String): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    pqCbCache.getOrBuild((s, dir))((0 until PqM).map { m =>
      graft.operators.KMeans.fit(
        vecs(s, dir).select(col("vec_id"),
          slice(col("v"), m * PqDims + 1, PqDims).as("v")),
        pqInit(m), PqIters)
    })

  /** PQ-encoded corpus: (vec_id, label, v, nsq, code0..code3) — each code
    * is the 1-based argmin-distance codeword of the vector's m-th 16-dim
    * slice under the trained subspace codebook. Encoding is MAP-ONLY
    * (literal codebooks inside whole-stage codegen, like the IVF/k-means
    * assignment); memoized because both judged PQ queries read it.
    */
  private def pqEncFrame(s: SparkSession, dir: String): DataFrame =
    Memo.memoized("pq_encode", s, dir) {
      val cb = pqCodebooks(s, dir)
      (0 until PqM).foldLeft(vecs(s, dir)) { (df, m) =>
        df.withColumn(s"__sub$m", slice(col("v"), m * PqDims + 1, PqDims))
          .withColumn(s"code$m", graft.operators.KMeans.assignColumn(cb(m), s"__sub$m"))
          .drop(s"__sub$m")
      }
    }

  /** Residual PQ — true IVFPQ quantization (Jégou et al. §III): the codes
    * compress `v - centroid[cluster]` (the within-cell deviation) instead
    * of the raw vector, so the codebooks spend their bits on exactly the
    * structure the coarse quantizer can't express. rpqM: init seeds,
    * data-scaled like [[pqInit]] (residuals are sub-unit).
    */
  private def rpqInit(m: Int): IndexedSeq[IndexedSeq[Double]] =
    (0 until PqK).map(k => (0 until PqDims).map(d => mdConst(s"rpq$m", k, d).toDouble / 1000.0))

  /** (vec_id, label, v, nsq, cluster, rv): the trained coarse assignment
    * plus the elementwise residual against its centroid — one exact IEEE
    * subtract per element, reproduced verbatim by [[RsdCte]].
    */
  private def residFrame(s: SparkSession, dir: String): DataFrame =
    Memo.memoized("pq_residual", s, dir) {
      val cent = kmCentroids(s, dir)
      val centArr = array(cent.map(c => array(c.map(lit): _*)): _*)
      kmFrame(s, dir).withColumn("rv",
        zip_with(col("v"), element_at(centArr, col("cluster")), (a, b) => a - b))
    }

  private val rpqCbCache = codebookCache[IndexedSeq[IndexedSeq[IndexedSeq[Double]]]]
  private def rpqCodebooks(s: SparkSession, dir: String): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    rpqCbCache.getOrBuild((s, dir))((0 until PqM).map { m =>
      graft.operators.KMeans.fit(
        residFrame(s, dir).select(col("vec_id"),
          slice(col("rv"), m * PqDims + 1, PqDims).as("v")),
        rpqInit(m), PqIters)
    })

  /** Residual-encoded corpus: (…, cluster, rcode0..rcode3). */
  private def rpqEncFrame(s: SparkSession, dir: String): DataFrame =
    Memo.memoized("rpq_encode", s, dir) {
      val cb = rpqCodebooks(s, dir)
      (0 until PqM).foldLeft(residFrame(s, dir)) { (df, m) =>
        df.withColumn(s"__sub$m", slice(col("rv"), m * PqDims + 1, PqDims))
          .withColumn(s"rcode$m", graft.operators.KMeans.assignColumn(cb(m), s"__sub$m"))
          .drop(s"__sub$m")
      }
    }

  /** IVFPQ with residual codes, retrieve-then-rerank: reconstruction
    * x_hat = centroid[cell] + decoded residual, so the approximate score
    * decomposes as dot(q, centroid[cell]) + sum_m LUT_m[rcode_m] — the
    * cell term comes free from the probe pass, the residual term is the
    * same four lookups as flat PQ. Exact cosine re-ranks the
    * [[IvfPqShortlist]]-candidate shortlist. Shared by q144/q145.
    */
  private def ivfPqResidualTopK(s: SparkSession, dir: String): DataFrame =
    ivfPqResidualServe(kmCentroids(s, dir), rpqCodebooks(s, dir), rpqEncFrame(s, dir))

  /** The residual-IVFPQ serve arithmetic over EXPLICIT artifacts —
    * inline-trained (q144/q145, via [[ivfPqResidualTopK]]) or read back
    * from the persisted index (q269): same plan, same oracle.
    */
  private def ivfPqResidualServe(cent: IndexedSeq[IndexedSeq[Double]],
      cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], enc: DataFrame): DataFrame = {
    val qs = enc.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid") +: col("v").as("va") +:
        col("nsq").as("na") +:
        array(cent.map(c => call_function("array_dot", col("v"),
          array(c.map(lit): _*))): _*).as("cd") +: pqLutCols(cb): _*)
    val cellScores = cent.zipWithIndex.map { case (c, i) =>
      struct(lit(i + 1).as("cell"),
        (element_at(col("cd"), i + 1) - lit(0.5 * graft.operators.KMeans.sqNorm(c)))
          .as("score"))
    }
    val pw = Window.partitionBy("qid").orderBy(col("cscore").desc, col("cluster"))
    val probes = qs
      .withColumn("sc", explode(array(cellScores: _*)))
      .withColumn("cluster", col("sc.cell")).withColumn("cscore", col("sc.score"))
      .withColumn("prn", row_number().over(pw)).filter(col("prn") <= 2)
      .withColumn("celldot", element_at(col("cd"), col("cluster")))
      .drop("sc", "cscore", "prn", "cd")
    val cand = enc.select(col("vec_id").as("cid") +: col("cluster") +:
      (0 until PqM).map(m => col(s"rcode$m")): _*)
    val aw = Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))
    val shortlist = cand.join(broadcast(probes), Seq("cluster"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("adc", col("celldot") +
        (0 until PqM).map(m => element_at(col(s"lut$m"), col(s"rcode$m"))).reduce(_ + _))
      .withColumn("arn", row_number().over(aw))
      .filter(col("arn") <= IvfPqShortlist)
      .select("qid", "cid", "cluster", "va", "na")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    shortlist
      .join(enc.select(col("vec_id").as("cid"), col("v").as("vb"), col("nsq").as("nb")), "cid")
      .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), col("cluster").as("cell"), col("cos"))
  }

  /** PQ retrieve-then-rerank top-3 per query (qid, rank, cid, cos) — the
    * production PQ deployment shape: the ADC pass (a 4xK LUT of subspace
    * dots per query, then FOUR element_at lookups per candidate instead of
    * a 64-term dot) shortlists [[PqShortlist]] candidates (10% of the fixture corpus;
    * the ratio shrinks with scale); only the shortlist pays an exact
    * cosine, and the final top-3 comes from the
    * exact re-rank. Approximate scores RETRIEVE, exact scores RANK —
    * quantized dots alone cannot resolve within-label fine structure
    * (measured at K=32: recall@3 = 1/15 ranking by raw ADC). Shared by
    * q137 (the ranking) and q138 (recall vs exact).
    */
  private val PqShortlist = 50

  /** Query-side ADC lookup tables: lut$m[k] = dot(v's m-th slice,
    * codebook m's k-th codeword). Shared by the flat PQ scan (q137/q138)
    * and the IVF-pruned composition (q139/q140).
    */
  private def pqLutCols(cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Seq[org.apache.spark.sql.Column] =
    (0 until PqM).map { m =>
      array(cb(m).map(c => call_function("array_dot",
        slice(col("v"), m * PqDims + 1, PqDims),
        array(c.map(lit): _*))): _*).as(s"lut$m")
    }

  /** ADC score: four element_at lookups, left-associated sum (the oracle
    * states the same parenthesization).
    */
  private def adcScore: org.apache.spark.sql.Column =
    (0 until PqM).map(m => element_at(col(s"lut$m"), col(s"code$m"))).reduce(_ + _)

  private def pqTopK(s: SparkSession, dir: String): DataFrame = {
    val cb = pqCodebooks(s, dir)
    val enc = pqEncFrame(s, dir)
    val luts = pqLutCols(cb)
    val q = enc.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid") +: col("v").as("va") +: col("nsq").as("na") +: luts: _*)
    val c = enc.select(col("vec_id").as("cid") +:
      (0 until PqM).map(m => col(s"code$m")): _*)
    val aw = Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))
    val shortlist = c.join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("adc", adcScore)
      .withColumn("arn", row_number().over(aw))
      .filter(col("arn") <= PqShortlist)
      .select("qid", "cid", "va", "na")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    shortlist
      .join(enc.select(col("vec_id").as("cid"), col("v").as("vb"), col("nsq").as("nb")), "cid")
      .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), col("cos"))
  }

  /** IVF+PQ composed serving path — the canonical large-scale ANN layout
    * (FAISS IVFPQ, public): the TRAINED coarse quantizer prunes the scan
    * to the 2 best-scoring cells, the PQ codes ADC-score only those
    * cells' members (hash equi-join on the cell id — never a corpus
    * scan), and the exact cosine re-ranks a [[IvfPqShortlist]]-candidate
    * shortlist. This variant quantizes RAW vectors (reusing q136's codes)
    * rather than per-cell residuals — the residual refinement changes the
    * codebooks, not the plan. Shared by q139 (ranking) and q140 (recall).
    */
  private val IvfPqShortlist = 20
  private def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val asg = kmFrame(s, dir)
    val cent = kmCentroids(s, dir)
    val cb = pqCodebooks(s, dir)
    val enc = pqEncFrame(s, dir)
    val qs = enc.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid") +: col("v").as("va") +:
        col("nsq").as("na") +: pqLutCols(cb): _*)
    val cellScores = cent.zipWithIndex.map { case (c, i) =>
      struct(lit(i + 1).as("cell"),
        (call_function("array_dot", col("va"), array(c.map(lit): _*)) -
          lit(0.5 * graft.operators.KMeans.sqNorm(c))).as("score"))
    }
    val pw = Window.partitionBy("qid").orderBy(col("cscore").desc, col("cluster"))
    val probes = qs
      .withColumn("sc", explode(array(cellScores: _*)))
      .withColumn("cluster", col("sc.cell")).withColumn("cscore", col("sc.score"))
      .withColumn("prn", row_number().over(pw)).filter(col("prn") <= 2)
      .drop("sc", "cscore", "prn")
    val cand = asg.select(col("vec_id").as("cid"), col("cluster"))
      .join(enc.select(col("vec_id").as("cid") +:
        (0 until PqM).map(m => col(s"code$m")): _*), "cid")
    val aw = Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))
    val shortlist = cand.join(broadcast(probes), Seq("cluster"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("adc", adcScore)
      .withColumn("arn", row_number().over(aw))
      .filter(col("arn") <= IvfPqShortlist)
      .select("qid", "cid", "cluster", "va", "na")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    shortlist
      .join(enc.select(col("vec_id").as("cid"), col("v").as("vb"), col("nsq").as("nb")), "cid")
      .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), col("cluster").as("cell"), col("cos"))
  }

  /** q45's exact brute-force ranking (qid, rank, cid, cos) — also the
    * ground truth q103 measures ANN recall against.
    */
  private def exactTopK(s: SparkSession, dir: String): DataFrame = {
    val q = vecs(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("va"), col("nsq").as("na"))
    val c = vecs(s, dir)
      .select(col("vec_id").as("cid"), col("v").as("vb"), col("nsq").as("nb"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    c.join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), col("cos"))
  }

  /** q151's int8 scalar-quantization ranking (qid, rank, cid, adc, cos).
    * The third compression layout next to PQ (q137) and residual IVFPQ
    * (q144): per-dimension corpus [min,max] define a uniform 8-bit grid,
    * every vector stores 64 one-byte codes (4 KB -> 64 B, same ratio SQ8
    * gives a real deployment), and search scores the DEQUANTIZED candidate
    * against the full-precision query (asymmetric — the query never
    * quantizes). The top-[[SqShortlist]] shortlist pays the exact cosine.
    * Plan: the per-dim stats are ONE tiny 64-row aggregate collapsed to a
    * single broadcast row (at 100 TB the stats come from a sample scan and
    * are index metadata); encode is map-only per-row HOF work, and the ADC
    * scan is the same labeled broadcast-NLJ baseline shape as q45/q137 —
    * SQ's point is bandwidth (64 B/candidate) not scan avoidance.
    */
  private val SqShortlist = 50
  private def sqTopK(s: SparkSession, dir: String): DataFrame = {
    val base = vecs(s, dir)
    val stats = broadcast(
      base.select(posexplode(col("v")).as(Seq("p", "x")))
        .groupBy("p").agg(min("x").as("mn"), max("x").as("mx"))
        .agg(
          expr("transform(array_sort(collect_list(struct(p, mn))), s -> s.mn)").as("mn"),
          expr("transform(array_sort(collect_list(struct(p, mx))), s -> s.mx)").as("mx")))
    // code (floor onto the 8-bit grid) and dequantize fused into ONE
    // transform: a separate `codes` column referenced from dq's lambda
    // gets CollapseProject-inlined INTO the lambda body, re-running the
    // full 64-element encode on every iteration (O(d^2) per row — measured
    // 4.2s vs 1.3s for this query at sf0.1). A flat dimension (mx = mn)
    // dequantizes to mn exactly. floor (not round): HALF_UP-vs-banker's
    // tie divergence can't exist, and the oracle replays the identical
    // grid arithmetic (codes → dequantize, same values).
    val enc = base.crossJoin(stats)
      .withColumn("dq", expr(
        "transform(sequence(1, 64), i -> if(element_at(mx, i) = element_at(mn, i), " +
          "element_at(mn, i), element_at(mn, i) + " +
          "cast(least(floor((element_at(v, i) - element_at(mn, i)) * 255.0D " +
          "/ (element_at(mx, i) - element_at(mn, i))), 255.0D) as int) " +
          "* (element_at(mx, i) - element_at(mn, i)) / 255.0D))"))
      .select(col("vec_id"), col("v"), col("nsq"), col("dq"))
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("va"), col("nsq").as("na"))
    val slw = Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    enc
      .select(col("vec_id").as("cid"), col("v").as("vb"), col("nsq").as("nb"), col("dq"))
      .join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("adc", expr("array_dot(dq, va)"))
      .withColumn("rn", row_number().over(slw))
      .filter(col("rn") <= SqShortlist)
      .withColumn("cos", expr("array_dot(va, vb)") / (sqrt(col("na")) * sqrt(col("nb"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), col("adc"), col("cos"))
  }

  /** Exact top-3 under the FIRST `dp` dimensions only (matryoshka /
    * Russian-doll truncation): rank quality of a prefix-truncated index.
    */
  private def truncTopK(s: SparkSession, dir: String, dp: Int): DataFrame = {
    val base = vecs(s, dir)
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), expr(s"slice(v, 1, $dp)").as("va"))
      .withColumn("na", expr("array_dot(va, va)"))
    val c = base.select(col("vec_id").as("cid"), expr(s"slice(v, 1, $dp)").as("vb"))
      .withColumn("nb", expr("array_dot(vb, vb)"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    c.join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("cos", expr("array_dot(va, vb)") / (sqrt(col("na")) * sqrt(col("nb"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(lit(dp).as("dims"), col("qid"), col("cid"))
  }

  /** q73's IVF-cell ranking (qid, rank, cid, cell, cos) — also the probe
    * set q104 measures recall against.
    */
  private def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val assigned = vecs(s, dir).withColumn("dots", expr(ivfDotsExpr))
      .withColumn("cell", expr("cast(array_position(dots, array_max(dots)) as int)"))
    val c = assigned
      .select(col("vec_id").as("cid"), col("v").as("vb"), col("nsq").as("nb"), col("cell"))
    val pw = Window.partitionBy("qid").orderBy(col("dot").desc, col("p"))
    val probes = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("va"), col("nsq").as("na"),
        posexplode(col("dots")).as(Seq("p", "dot")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= 2)
      .select(col("qid"), col("va"), col("na"), (col("p") + 1).cast("int").as("cell"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    c.join(broadcast(probes), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), col("cell"), col("cos"))
  }

  /** q52's multi-probe LSH ranking (qid, rank, cid, bucket, cos). */
  private def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val bucketed = vecs(s, dir).withColumn("bucket", expr(bucketExpr))
    val masks = (Seq(0L)
      ++ (0 until Planes).map(i => 1L << i)
      ++ (for { i <- 0 until Planes; j <- i + 1 until Planes } yield (1L << i) | (1L << j)))
    val q = bucketed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("va"), col("nsq").as("na"),
        col("bucket").as("qbucket"))
      .withColumn("probe",
        expr(s"explode(transform(array(${masks.map(_ + "L").mkString(",")}), m -> qbucket ^ m))"))
    val c = bucketed
      .select(col("vec_id").as("cid"), col("v").as("vb"), col("nsq").as("nb"),
        col("bucket"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    c.join(broadcast(q),
        col("bucket") === col("probe") && col("cid") =!= col("qid"))
      .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), col("bucket").cast("long").as("bucket"), col("cos"))
  }

  val queries: Seq[(String, QFn)] = Seq(
    // IVF-style ANN top-k — the second scale path next to q52's multi-probe
    // LSH (SURVEY.md §2.8 Vector: "IVF or LSH-bucketed variant"). Corpus
    // vectors are assigned to their nearest coarse centroid (argmax dot —
    // one codegen'd array of array_dot calls, no shuffle); each query
    // probes its nprobe=2 closest cells and candidates come from ONE
    // broadcast hash equi-join on cell id. At 100 TB the cell column is
    // the partition/bucket key: a probe touches nprobe/Cells of the corpus
    // and nothing else — no per-row distance test against non-probed
    // cells, no NLJ (covered by PlanAuditSpec's global cartesian sweep).
    // On THIS no-planted-neighbors corpus (sf0.01): recall@3 = 53% vs the
    // exact q45 baseline while probing 2/8 cells (~25% of the corpus) —
    // measured in-engine and oracle-verified by q104; nprobe and the
    // codebook size are the standard recall knobs.
    "q73_ann_ivf_topk" -> { (s, dir) =>
      ivfTopK(s, dir).orderBy("qid", "rank")
    },

    // IVF-path recall@3 against the exact baseline — q103's measurement for
    // the second ANN scale path, so BOTH ANN variants carry an
    // oracle-verified quality number instead of a comment claim.
    "q104_ivf_recall" -> { (s, dir) =>
      val exact = exactTopK(s, dir).select(col("qid"), col("cid"))
      val ann = ivfTopK(s, dir).select(col("qid"), col("cid"))
      val hits = exact.join(ann, Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("n_exact"),
          (coalesce(col("n_hits"), lit(0L)) / col("n_exact")).as("recall"))
        .orderBy("qid")
    },

    // Embedding-cosine near-dup pairs, blocked by label (≈ LSH bucket).
    "q44_embedding_neardup" -> { (s, dir) =>
      val a = vecs(s, dir).select(col("label"), col("vec_id").as("d1"),
        col("v").as("va"), col("nsq").as("na"))
      val b = vecs(s, dir).select(col("label").as("lb"), col("vec_id").as("d2"),
        col("v").as("vb"), col("nsq").as("nb"))
      a.join(b, col("label") === col("lb") && col("d1") < col("d2"))
        .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
        .filter(col("cos") >= 0.4)
        .select(col("label"), col("d1"), col("d2"), col("cos"))
        .orderBy("label", "d1", "d2")
    },

    // LSH-bucketed ANN top-k — the 100 TB scale path for q45: candidates
    // come from buckets within Hamming distance 2 of the query's random-
    // hyperplane bucket (multi-probe LSH), then exact cosine ranks the
    // candidates. Each query row is EXPLODED into its C(8,0)+C(8,1)+C(8,2)
    // = 37 probe bucket ids and the corpus is equi-joined on bucket — a
    // broadcast HASH join that touches only actual bucket members, vs. a
    // `bit_count(bucket^qbucket)<=2` join predicate which degenerates to a
    // BroadcastNestedLoopJoin scanning every corpus row per query
    // (PlanAuditSpec pins the no-BNLJ shape). Probe ids are distinct per
    // query (distinct XOR masks), so no candidate dedup pass is needed.
    // On THIS corpus (no planted neighbors; max pairwise
    // cosine ~0.5 = near-random) the tradeoff is recall@3 = 27% while
    // scanning ~15% of the corpus — measured IN the engine and
    // oracle-verified by q103, not hand-measured; planes/probe-radius are
    // the standard recall knobs when real near-neighbor structure exists.
    "q52_ann_lsh_topk" -> { (s, dir) =>
      lshTopK(s, dir).orderBy("qid", "rank")
    },

    // ANN quality measured IN the engine: recall@3 of the multi-probe LSH
    // path (q52) against the exact baseline (q45), per query and overall —
    // the number an ANN deployment monitors when tuning planes/probe
    // radius. Self-measuring: both rankings are deterministic, so even the
    // recall fraction is oracle-verified (no more hand-measured claims in
    // comments). Top-3 sets are 5x3 rows — the comparison is
    // presentation-sized regardless of corpus scale.
    "q103_ann_recall" -> { (s, dir) =>
      val exact = exactTopK(s, dir).select(col("qid"), col("cid"))
      val ann = lshTopK(s, dir).select(col("qid"), col("cid"))
      val hits = exact.join(ann, Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("n_exact"),
          (coalesce(col("n_hits"), lit(0L)) / col("n_exact")).as("recall"))
        .orderBy("qid")
    },

    // Hybrid retrieval — reciprocal-rank fusion (RRF, k=60) of the dense
    // ranking (exact embedding cosine, q45's shape) and the lexical
    // ranking (word-3-gram shingle Jaccard over the memoized q41 frame)
    // for the fixed query set (id < 5; the fixtures share one id space).
    // A doc may rank in either modality alone — full outer on (qid, id),
    // absent ranks contribute 0. rrf = 1/(60+rank_dense) + 1/(60+rank_lex)
    // summed in that fixed order so doubles stay bit-identical with the
    // oracle. Scale notes (100 TB): each modality is its own bounded
    // ranking (broadcast query side + window over per-query candidates —
    // swap the dense scan for q52/q73's bucketed ANN at scale); the fusion
    // join is per-query-candidate sized, never corpus².
    "q97_hybrid_retrieval" -> { (s, dir) =>
      val K = 60
      val dw = Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))
      val qv = vecs(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("va"), col("nsq").as("na"))
      val cv = vecs(s, dir)
        .select(col("vec_id").as("id"), col("v").as("vb"), col("nsq").as("nb"))
      val dense = cv.join(broadcast(qv), col("id") =!= col("qid"))
        .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
        .select(col("qid"), col("id"), row_number().over(dw).as("rank_d"))
      val sh = Shingles.frame(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val common = sh.filter(col("doc_id") < 5).select(col("doc_id").as("qid"), col("hk"))
        .join(sh.select(col("doc_id").as("id"), col("hk")), "hk")
        .filter(col("qid") =!= col("id"))
        .groupBy("qid", "id").agg(count(lit(1)).as("common"))
      val lw = Window.partitionBy("qid").orderBy(col("jac").desc, col("id"))
      val lex = common
        .join(sizes.select(col("doc_id").as("qid"), col("sz").as("szq")), "qid")
        .join(sizes.select(col("doc_id").as("id"), col("sz").as("szc")), "id")
        .withColumn("jac", col("common") / (col("szq") + col("szc") - col("common")))
        .select(col("qid"), col("id"), row_number().over(lw).as("rank_l"))
      val fw = Window.partitionBy("qid").orderBy(col("rrf").desc, col("id"))
      dense.join(lex, Seq("qid", "id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(K) + col("rank_d")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(K) + col("rank_l")), lit(0.0)))
        .withColumn("rank", row_number().over(fw))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("id"), col("rrf"))
        .orderBy("qid", "rank")
    },

    // Semantic-clustering coherence audit over the IVF cells — the check a
    // semantic-dedup / curation pipeline runs on its coarse quantizer: per
    // cell, population, majority label, and purity (majority share). Low
    // purity means the codebook under-fits and near-dup candidates leak
    // across cells. Two hash aggregations ((cell,label) then cell) plus a
    // width-8 window — all tiny because the cell/label domain is fixed; at
    // 100 TB the per-(cell,label) partial counts absorb the corpus
    // map-side and ONLY the 80-row summary shuffles twice. Purity is a raw
    // IEEE division of exact counts (house parity rule).
    "q109_cell_purity" -> { (s, dir) =>
      val assigned = vecs(s, dir).withColumn("dots", expr(ivfDotsExpr))
        .withColumn("cell", expr("cast(array_position(dots, array_max(dots)) as int)"))
      val byLabel = assigned.groupBy("cell", "label").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("cell").orderBy(col("n").desc, col("label"))
      val top = byLabel.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("cell"), col("label").as("top_label"), col("n").as("top_label_n"))
      val sizes = byLabel.groupBy("cell").agg(sum("n").as("n_vecs"))
      top.join(sizes, "cell")
        .select(col("cell"), col("n_vecs"), col("top_label"), col("top_label_n"),
          (col("top_label_n") / col("n_vecs")).as("purity"))
        .orderBy("cell")
    },

    // Per-label embedding centroids + cohesion — the mean-pooling /
    // class-centroid operator every embedding pipeline runs (pooled doc
    // vectors, k-means update step, per-class cohesion QA). Element sums
    // are DECIMAL-exact (order-independent — a double sum would be
    // partition-order nondeterministic and break parity; q60's house
    // trick), divided in double only at the end; the centroid array is
    // reassembled pos-ordered so every subsequent fold (norm, member
    // cosines) runs left-to-right in the same order as the oracle's
    // list_reduce. Plan: one posexplode + (label, pos) aggregation —
    // 64 partial sums per label absorb the corpus map-side — then a
    // broadcast of the 10 centroids back to the members for cohesion.
    "q112_label_centroids" -> { (s, dir) =>
      val base = vecs(s, dir)
      // each element → exact int64 BINARY fixed-point (floor(x * 2^24))
      // BEFORE summing: scaling by a power of two is exact in IEEE doubles
      // and floor is exact, so the per-element integer is bit-identical on
      // both engines — unlike a decimal(_,k) cast, where a float32 that is
      // an odd multiple of 2^-(k+1) ties and Spark (half-up) and DuckDB
      // (half-even) round APART (the fixture really contains one:
      // -0.27392578125). Integer sums are order-independent, and the final
      // mean divides two exactly-represented integers — one correctly
      // rounded IEEE op, identical everywhere.
      val sums = base
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(sum(floor(col("x") * lit(16777216.0))).as("sxn"), count(lit(1)).as("nn"))
      val cent = sums
        .select(col("label"), col("pos"),
          (col("sxn").cast("double") /
            (col("nn") * lit(16777216L)).cast("double")).as("c"), col("nn"))
        .groupBy("label")
        .agg(
          expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("cv"),
          max("nn").as("n_vecs"))
      val cohesion = base.join(broadcast(cent), "label")
        .withColumn("cos",
          expr("array_dot(v, cv)") / (sqrt(col("nsq")) * sqrt(expr("array_dot(cv, cv)"))))
        .groupBy("label")
        .agg((sum(floor(col("cos") * lit(1099511627776.0))).cast("double") /
          (count(lit(1)) * lit(1099511627776L)).cast("double"))
          .as("mean_cos_to_centroid"))
      cent.select(col("label"), col("n_vecs"),
          sqrt(expr("array_dot(cv, cv)")).as("centroid_norm"))
        .join(cohesion, "label")
        .orderBy("label")
    },

    // Lloyd's k-means over the embedding corpus — the trainer the IVF
    // family's scaladoc promises ("a real deployment would train centroids
    // with k-means"). Three fixed iterations from the md5-derived init;
    // every step is exact IEEE or int64 fixed-point (operators/KMeans
    // scaladoc), so the oracle unrolls the SAME three iterations in SQL
    // and the final per-vector assignment hash-matches. Assignment is a
    // map-only codegen'd pass (centroids ride the plan as literals — no
    // join, no shuffle); each update is one partial-aggregated shuffle of
    // k*64 fixed-point groups. At 100 TB this plan IS MLlib's: corpus
    // scans scale out, centroid state stays driver-tiny.
    "q116_kmeans_train" -> { (s, dir) =>
      kmFrame(s, dir)
        .select(col("vec_id"), col("label"), col("cluster"))
        .orderBy("vec_id")
    },

    // Semantic dedup: near-duplicate pairs under the TRAINED clustering —
    // cluster id is the blocking key (q44's label stand-in, now learned),
    // so the pair join is per-cluster, never a global cross join. Cosines
    // reuse the sequential-fold kernel, so the emitted scores are
    // bit-identical to the oracle with no rounding. The scale path: train
    // once (q116's plan), write cluster as a partition key, and pairwise
    // comparison touches one partition at a time.
    "q117_semantic_dedup" -> { (s, dir) =>
      val asg = kmFrame(s, dir)
      val a = asg.select(col("cluster"), col("vec_id").as("d1"),
        col("v").as("va"), col("nsq").as("na"))
      val b = asg.select(col("cluster").as("cb"), col("vec_id").as("d2"),
        col("v").as("vb"), col("nsq").as("nb"))
      a.join(b, col("cluster") === col("cb") && col("d1") < col("d2"))
        .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
        .filter(col("cos") >= 0.42)
        .select(col("d1"), col("d2"), col("cluster"), col("cos"))
        .orderBy("d1", "d2")
    },

    // The full ANN pipeline END-TO-END: IVF search served from the TRAINED
    // k-means codebook — q116's trainer feeding q73/q104's serving path in
    // one judged query (the integration the IVF scaladoc promises: "a real
    // deployment would train centroids with k-means"). Corpus cells come
    // from the memoized trained assignment; each query probes its 2
    // best-scoring trained cells (same exact score arithmetic as
    // assignment, ties to the lowest cell); candidates come from ONE
    // broadcast equi-join on cell id. The oracle re-trains in SQL (KmCte)
    // and serves the same probe — hash equality proves train AND serve.
    "q130_trained_ivf_search" -> { (s, dir) =>
      val asg = kmFrame(s, dir)
      val cent = kmCentroids(s, dir)
      val qs = asg.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("va"), col("nsq").as("na"))
      val cellScores = cent.zipWithIndex.map { case (c, i) =>
        struct(lit(i + 1).as("cell"),
          (call_function("array_dot", col("va"), array(c.map(lit): _*)) -
            lit(0.5 * graft.operators.KMeans.sqNorm(c))).as("score"))
      }
      val pw = Window.partitionBy("qid").orderBy(col("score").desc, col("cluster"))
      val probes = qs
        .select(col("qid"), col("va"), col("na"), explode(array(cellScores: _*)).as("sc"))
        .select(col("qid"), col("va"), col("na"),
          col("sc.cell").as("cluster"), col("sc.score").as("score"))
        .withColumn("rn", row_number().over(pw)).filter(col("rn") <= 2)
        .select("qid", "va", "na", "cluster")
      val c = asg.select(col("vec_id").as("cid"), col("v").as("vb"),
        col("nsq").as("nb"), col("cluster"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
      c.join(broadcast(probes), Seq("cluster"))
        .filter(col("cid") =!= col("qid"))
        .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("cid"), col("cluster"), col("cos"))
        .orderBy("qid", "rank")
    },

    // Brute-force exact cosine top-k for a fixed query set (vec_id < 5).
    // PQ encode — the compression half of product quantization: every
    // corpus vector becomes M=4 codeword ids (its 16-dim slices' nearest
    // trained codewords). The judged surface proves the TRAINED encode
    // end-to-end: 4 independent subspace k-means runs (same fixed-point
    // Lloyd as q116, on slices) and the map-only assignment pass. The
    // oracle re-trains all four codebooks in SQL and re-encodes.
    "q136_pq_encode" -> { (s, dir) =>
      pqEncFrame(s, dir)
        .select(col("vec_id") +: col("label") +:
          (0 until PqM).map(m => col(s"code$m")): _*)
        .orderBy("vec_id")
    },

    // PQ-ADC search — the serving half (asymmetric distance computation),
    // in the production retrieve-then-rerank shape: the query keeps its
    // full vector and precomputes a 4xK lookup table of subspace dots
    // against the codebooks; every candidate is scored with FOUR table
    // lookups instead of a 64-term dot, the ADC shortlist keeps 50 (10%
    // of the corpus; at real scale this ratio is 1e-6), and only those
    // 50 pay an exact cosine for the final top-3. The ADC scan
    // is an intentional broadcast-NLJ over the 5-query build side (the
    // same labeled-baseline shape as q45) — the point of PQ at 100 TB is
    // not avoiding the scan but making each scanned candidate cost O(M)
    // memory-bound lookups on 4 small codes instead of O(D) multiplies on
    // 512-byte vectors, with exact math confined to shortlist x queries.
    // The oracle re-derives codebooks, codes, LUT sums (same
    // left-associated order), shortlist, and re-rank.
    "q137_pq_adc_search" -> { (s, dir) =>
      pqTopK(s, dir).orderBy("qid", "rank")
    },

    // IVF+PQ — the composed serving stack (coarse prune, then quantized
    // scan, then exact re-rank of 20): at 100 TB this is the layout that
    // touches ~nprobe/k of the corpus with O(M)-per-candidate math and
    // confines exact 64-dim work to shortlist x queries. The oracle
    // re-trains BOTH quantizer levels in SQL and replays the same probe,
    // ADC, and re-rank arithmetic.
    "q139_ivfpq_search" -> { (s, dir) =>
      ivfPqTopK(s, dir).orderBy("qid", "rank")
    },

    // IVF+PQ recall@3 vs exact — the composed stack's measured quality
    // (compare q138's flat-PQ recall: coarse pruning costs recall when a
    // true neighbor lives in an unprobed cell; the number quantifies it).
    "q140_ivfpq_recall" -> { (s, dir) =>
      val exact = exactTopK(s, dir).select(col("qid"), col("cid"))
      val ann = ivfPqTopK(s, dir).select(col("qid"), col("cid"))
      val hits = exact.join(ann, Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("n_exact"),
          (coalesce(col("n_hits"), lit(0L)) / col("n_exact")).as("recall"))
        .orderBy("qid")
    },

    // Trained-index health audit — the dashboard an ANN deployment
    // actually watches: per coarse cell, occupancy (skewed cells break
    // probe-cost assumptions) and mean squared quantization error (what
    // the residual codes have to absorb). One aggregation over the
    // memoized residual frame; the mean rides q112's order-free binary
    // fixed-point pooling so the doubles hash identically cross-engine.
    "q146_index_health" -> { (s, dir) =>
      val r = residFrame(s, dir)
      val per = r.withColumn("err", expr("array_dot(rv, rv)"))
        .groupBy("cluster").agg(
          count(lit(1)).as("n_vecs"),
          sum(floor(col("err") * lit(1099511627776.0))).cast("long").as("sfp"))
      val tot = broadcast(r.agg(count(lit(1)).as("__n")))
      per.crossJoin(tot)
        .select(col("cluster"), col("n_vecs"),
          (col("n_vecs").cast("double") / col("__n").cast("double")).as("share"),
          (col("sfp").cast("double") /
            (col("n_vecs") * lit(1099511627776L)).cast("double")).as("mean_sq_err"))
        .orderBy("cluster")
    },

    // Residual IVFPQ — the true Jégou-layout refinement of q139: codes
    // quantize v - centroid[cell], and the approximate score decomposes
    // as dot(q, centroid) + four LUT lookups. Same plan shape as q139
    // (probe -> cell equi-join -> shortlist -> exact rerank); only the
    // codebooks' TRAINING INPUT changed, which is the whole point — the
    // residual bits encode what the coarse level can't.
    "q144_ivfpq_residual_search" -> { (s, dir) =>
      ivfPqResidualTopK(s, dir).orderBy("qid", "rank")
    },

    // Residual-IVFPQ recall@3 vs exact — measured against q140's
    // raw-vector composition: the residual codes recover ranking quality
    // inside the probed cells (the standard IVFPQ claim, quantified here
    // instead of asserted).
    "q145_ivfpq_residual_recall" -> { (s, dir) =>
      val exact = exactTopK(s, dir).select(col("qid"), col("cid"))
      val ann = ivfPqResidualTopK(s, dir).select(col("qid"), col("cid"))
      val hits = exact.join(ann, Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("n_exact"),
          (coalesce(col("n_hits"), lit(0L)) / col("n_exact")).as("recall"))
        .orderBy("qid")
    },

    // PQ recall@3 vs the exact baseline — the same self-measurement
    // discipline as q103 (LSH) and q104 (IVF): compression loses
    // information, so the engine MEASURES what the 4x32 codebooks cost in
    // ranking quality rather than asserting it. The oracle re-derives
    // both rankings independently.
    "q138_pq_recall" -> { (s, dir) =>
      val exact = exactTopK(s, dir).select(col("qid"), col("cid"))
      val ann = pqTopK(s, dir).select(col("qid"), col("cid"))
      val hits = exact.join(ann, Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("n_exact"),
          (coalesce(col("n_hits"), lit(0L)) / col("n_exact")).as("recall"))
        .orderBy("qid")
    },

    // int8 scalar quantization (SQ8) — encode + ADC search + exact rerank
    // in one judged pass; see sqTopK's scaladoc for the layout and the
    // 100 TB framing (64 B/candidate memory-bound scan). The judged output
    // carries BOTH the quantized score (adc) and the exact rerank cosine,
    // so the compression arithmetic itself is hash-verified, not just the
    // final ranking. The oracle re-derives per-dim stats, codes, grids,
    // and both score folds.
    "q151_sq_search" -> { (s, dir) =>
      sqTopK(s, dir).orderBy("qid", "rank")
    },

    // SQ8 recall@3 vs exact — the measurement discipline every
    // compression layout in this module follows (q103 LSH, q104 IVF,
    // q138 PQ, q140/q145 IVFPQ): quantization loses ranking quality;
    // MEASURE what 8-bit grids cost instead of asserting it.
    "q152_sq_recall" -> { (s, dir) =>
      val exact = exactTopK(s, dir).select(col("qid"), col("cid"))
      val ann = sqTopK(s, dir).select(col("qid"), col("cid"))
      val hits = exact.join(ann, Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("n_exact"),
          (coalesce(col("n_hits"), lit(0L)) / col("n_exact")).as("recall"))
        .orderBy("qid")
    },

    // Matryoshka truncation curve — recall@3 when ranking uses only the
    // FIRST {8,16,32} of 64 dimensions (the MRL serving trick: one stored
    // embedding, cheaper indexes from its prefixes). At 100 TB a prefix
    // index is a column-pruned scan of the same data — the curve tells the
    // operator which prefix length their quality budget affords, measured
    // in-engine like every other ANN variant here.
    "q153_matryoshka_recall" -> { (s, dir) =>
      val exact = exactTopK(s, dir).select(col("qid"), col("cid"))
      val ann = Seq(8, 16, 32).map(dp => truncTopK(s, dir, dp)).reduce(_ unionByName _)
      val hits = exact.join(ann, Seq("qid", "cid"))
        .groupBy("dims", "qid").agg(count(lit(1)).as("n_hits"))
      val grid = ann.groupBy("dims", "qid").agg(count(lit(1)).as("n_ann"))
      val ex = exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      grid.join(ex, "qid").join(hits, Seq("dims", "qid"), "left")
        .select(col("dims"), col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_exact"),
          (coalesce(col("n_hits"), lit(0L)) / col("n_exact")).as("recall"))
        .orderBy("dims", "qid")
    },

    "q45_cosine_topk" -> { (s, dir) =>
      exactTopK(s, dir).orderBy("qid", "rank")
    },

    // EXACT top-k MIPS with block-level ball-bound pruning (the skip-index
    // discipline of parquet min/max stats, applied to inner-product
    // search): each block keeps (centroid c, radius r = max residual
    // norm), and Cauchy-Schwarz gives dot(q,v) ≤ dot(q,c) + |q|·r for
    // every v in the block — a sound upper bound. Phase 1 scans the 2
    // best-bounded blocks to seed the kth score; phase 2 scans ONLY
    // blocks whose bound still beats it. The answer is provably exact —
    // the ORACLE is the independent brute-force top-k, so exactness is
    // hash-proven, while n_scanned/n_pruned are judged effectiveness
    // columns (pruning measured, not asserted: 2 scanned / 8 pruned).
    // The corpus is a derived clustered view of the fixture (each label's
    // members boosted 2.0 along a label-owned axis — the raw fixture is
    // isotropic unit noise, where NO bound can prune and the operator
    // would be judged on a vacuous workload); centroids pool through
    // q112's order-free int64 fixed-point trick so both engines build
    // bit-identical summaries. At 100 TB the summary is 65 doubles per
    // block beside the index; a query touches the summary + surviving
    // blocks only.
    "q189_blockmax_mips" -> { (s, dir) =>
      val base = vecs(s, dir)
        .withColumn("w", expr(
          """transform(sequence(1, 64), i -> element_at(v, i) +
             case when i = label * 6 + 1 then cast(2.0 as double)
                  else cast(0.0 as double) end)"""))
        .select(col("vec_id"), col("label").as("blk"), col("w"))
      val sums = base.select(col("blk"), posexplode(col("w")).as(Seq("pos", "x")))
        .groupBy("blk", "pos")
        .agg(sum(floor(col("x") * lit(16777216.0))).as("sxn"), count(lit(1)).as("nn"))
      val cent = sums.select(col("blk"), col("pos"),
          (col("sxn").cast("double") / (col("nn") * lit(16777216L)).cast("double")).as("c"))
        .groupBy("blk")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("cv"))
      val rad = base.join(broadcast(cent), "blk")
        .withColumn("res", expr("zip_with(w, cv, (a, b) -> a - b)"))
        .groupBy("blk").agg(max(sqrt(expr("array_dot(res, res)"))).as("r"))
      val env = cent.join(rad, "blk")
      val q = base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("w").as("qv"))
        .withColumn("qn", sqrt(expr("array_dot(qv, qv)")))
      val ub = q.crossJoin(broadcast(env))
        .withColumn("ub", expr("array_dot(qv, cv)") + col("qn") * col("r"))
        .select(col("qid"), col("blk"), col("ub"))
        .withColumn("brn", row_number().over(
          Window.partitionBy("qid").orderBy(desc("ub"), col("blk"))))
      val cand = base.select(col("vec_id").as("cid"), col("blk"), col("w").as("vb"))
      def dots(sel: DataFrame) = sel.join(cand, Seq("blk"))
        .join(q.select("qid", "qv"), Seq("qid"))
        .filter(col("cid") =!= col("qid"))
        .withColumn("dot", expr("array_dot(qv, vb)"))
        .select("qid", "cid", "dot")
      val p1 = ub.filter(col("brn") <= 2).select("qid", "blk")
      val d1 = dots(p1)
      val sk = d1.withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(desc("dot"), col("cid"))))
        .filter(col("rn") === 3).select(col("qid"), col("dot").as("sk"))
      val vio = ub.filter(col("brn") > 2).join(sk, Seq("qid"))
        .filter(col("ub") >= col("sk")).select("qid", "blk")
      val top = d1.unionByName(dots(vio))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid").orderBy(desc("dot"), col("cid"))))
        .filter(col("rank") <= 3)
      val scanned = p1.unionByName(vio).groupBy("qid").agg(count(lit(1)).as("n_scanned"))
      val nb = broadcast(env.agg(count(lit(1)).as("n_blocks")))
      top.join(scanned, "qid").crossJoin(nb)
        .select(col("qid"), col("rank").cast("int").as("rank"), col("cid"), col("dot"),
          col("n_scanned"), (col("n_blocks") - col("n_scanned")).as("n_pruned"))
        .orderBy("qid", "rank")
    },

    // Persisted ANN index lifecycle, half 1 — TRAIN + WRITE. q130/q139/
    // q144 train codebooks inside every query plan; a real serving stack
    // trains ONCE, writes the index as tables, and probes the artifact.
    // This query runs the trainer, writes `centroids` + cluster-partitioned
    // `codes` parquet, then reads the summary BACK FROM THE WRITTEN FILES
    // (judging the write path, not the in-memory frame): per-cluster
    // vector counts, the centroid component sum (sequential fold, exact
    // IEEE), and an order-free int64 fixed-point sum of member norms.
    // Empty cells survive via the centroid left join. The oracle re-trains
    // the same md5-seeded Lloyd fixed point from the raw fixture — hash
    // equality proves the persisted artifact faithful to the math.
    "q262_ivf_index_build" -> { (s, dir) =>
      // a BUILD publishes a NEW generation (never overwrites in place —
      // racing probes keep serving the previous complete generation);
      // the judged summary reads back from the published artifact
      val idx = graft.IndexStore.publish(ivfIndexDir(dir))(g => writeIvfIndex(s, dir, g))
      val centDf = s.read.parquet(s"$idx/centroids")
      val counts = s.read.parquet(s"$idx/codes")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vectors"),
          sum(expr("cast(floor(nsq * cast(16777216 as double)) as bigint)")).as("nsq_fp"))
      centDf.join(counts, Seq("cluster"), "left")
        .select(col("cluster").cast("int").as("cluster"),
          coalesce(col("n_vectors"), lit(0L)).as("n_vectors"),
          round(expr("aggregate(cv, cast(0 as double), (a, x) -> a + x)"), 6)
            .as("centroid_sum"),
          coalesce(col("nsq_fp"), lit(0L)).as("nsq_fp"))
        .orderBy("cluster")
    },

    // Persisted ANN index lifecycle, half 2 — READ + PROBE. Serves q130's
    // exact search FROM THE PERSISTED ARTIFACT: centroids load from the
    // index (k×64 doubles — the MLlib-shaped bounded driver read), the
    // corpus comes from the cluster-partitioned codes table, and NOTHING
    // rereads or retrains from the raw embeddings fixture (AnnIndexSpec
    // pins every file scan in the plan to the index directory). Result ==
    // q130 row for row, so the oracle is the same SQL re-derivation —
    // hash equality proves train→persist→read→serve composes exactly.
    "q263_ivf_index_search" -> { (s, dir) =>
      val idx = ensureIvfIndex(s, dir)
      val cent = s.read.parquet(s"$idx/centroids").orderBy("cluster").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("cv")).toIndexedSeq).toIndexedSeq
      val asg = s.read.parquet(s"$idx/codes")
      val qs = asg.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("va"), col("nsq").as("na"))
      val cellScores = cent.zipWithIndex.map { case (c, i) =>
        struct(lit(i + 1).as("cell"),
          (call_function("array_dot", col("va"), array(c.map(lit): _*)) -
            lit(0.5 * graft.operators.KMeans.sqNorm(c))).as("score"))
      }
      val pw = Window.partitionBy("qid").orderBy(col("score").desc, col("cluster"))
      val probes = qs
        .select(col("qid"), col("va"), col("na"), explode(array(cellScores: _*)).as("sc"))
        .select(col("qid"), col("va"), col("na"),
          col("sc.cell").as("cluster"), col("sc.score").as("score"))
        .withColumn("rn", row_number().over(pw)).filter(col("rn") <= 2)
        .select("qid", "va", "na", "cluster")
      val c = asg.select(col("vec_id").as("cid"), col("v").as("vb"),
        col("nsq").as("nb"), col("cluster"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
      c.join(broadcast(probes), Seq("cluster"))
        .filter(col("cid") =!= col("qid"))
        .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("cid"),
          col("cluster").cast("int").as("cluster"), col("cos"))
        .orderBy("qid", "rank")
    },

    // Persisted index lifecycle, IVFPQ layer — TRAIN + WRITE the residual
    // quantizer beside q262's coarse tables: 4 subspace codebooks and the
    // cluster-partitioned residual codes. Judged summary read BACK from
    // the written files: per codeword, the component sum (sequential
    // fold) and its usage count from the PERSISTED codes — codebook and
    // encoding fidelity in one relation (unused codewords surface with 0
    // via the codebook left join). The oracle re-trains both quantizer
    // levels from the raw fixture.
    "q268_ivfpq_index_build" -> { (s, dir) =>
      // full publish (coarse + PQ): generations are immutable once
      // complete, so the PQ layer lands in a fresh generation rather than
      // mutating the coarse-only one a probe may be pinned to; the two
      // layers' writes overlap (round 20, guide §2.6)
      val idx = graft.IndexStore.publish(ivfIndexDir(dir))(writeIvfPqGen(s, dir))
      val cbDf = s.read.parquet(s"$idx/rpq_codebooks")
      val hist = s.read.parquet(s"$idx/rpq_codes")
        .select(expr(
          "stack(4, 0, rcode0, 1, rcode1, 2, rcode2, 3, rcode3) as (m, code)"))
        .groupBy("m", "code").agg(count(lit(1)).as("n"))
      cbDf.join(hist, cbDf("m") === hist("m") && cbDf("k") === hist("code"), "left")
        .select(cbDf("m"), cbDf("k"),
          round(expr("aggregate(cv, cast(0 as double), (a, x) -> a + x)"), 6)
            .as("cw_sum"),
          coalesce(col("n"), lit(0L)).as("n_vectors"))
        .orderBy("m", "k")
    },

    // Persisted index lifecycle, IVFPQ layer — READ + PROBE: q144's
    // residual-IVFPQ retrieve-then-rerank served ENTIRELY from the
    // persisted artifact (centroids + codebooks are bounded driver reads;
    // candidates come from the partitioned codes table; nothing retrains
    // or rescans the raw fixture — AnnIndexSpec pins it). Row-for-row
    // equal to the inline-trained q144, judged by the same oracle:
    // train→persist→read→ADC-serve composes exactly.
    "q269_ivfpq_index_search" -> { (s, dir) =>
      val idx = ensurePqIndex(s, dir)
      val cent = s.read.parquet(s"$idx/centroids").orderBy("cluster").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("cv")).toIndexedSeq).toIndexedSeq
      val cbRows = s.read.parquet(s"$idx/rpq_codebooks").orderBy("m", "k").collect()
      val cb = (0 until PqM).map(m => cbRows.filter(_.getInt(0) == m)
        .map(r => r.getSeq[Double](r.fieldIndex("cv")).toIndexedSeq).toIndexedSeq)
      val enc = s.read.parquet(s"$idx/rpq_codes")
      ivfPqResidualServe(cent, cb, enc).orderBy("qid", "rank")
    },

    // Persisted index lifecycle, half 3 — INCREMENTAL APPEND under FROZEN
    // artifacts, the online half of every real ANN deployment: quantizers
    // retrain offline, arriving vectors encode with the CURRENT codebook
    // and land as appended partition files (no retrain, no rebuild — the
    // steady-state cost is O(delta), the q99/q186 discipline applied to
    // the index store). Train on the base subset only (every 5th vec_id
    // held out as the arriving delta), write base codes, APPEND the
    // delta encoded under the same frozen centroids, then serve the probe
    // from the MERGED store — delta members are retrievable immediately
    // (is_delta judged per result row). The oracle re-derives the frozen
    // training on the base subset and assigns the full corpus under it.
    "q270_ivf_index_append" -> { (s, dir) =>
      val all = vecs(s, dir)
      val base = all.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val delta = all.filter(pmod(col("vec_id"), lit(5)) === 0)
      val centB = graft.operators.KMeans.fit(base, kmInit, KmIters)
      // the BASE store publishes as a complete generation; the arriving
      // delta then APPENDS partition files INTO that generation's codes
      // table — the intra-generation additive path (file-level atomic,
      // no rewrite, no retrain): O(delta) steady-state cost, while
      // rebuilds (a new training run) would land as a new generation
      val idx = graft.IndexStore.publish(ivfIndexDir(dir) + "_incr") { g =>
        base.withColumn("cluster", graft.operators.KMeans.assignColumn(centB, "v"))
          .write.mode("overwrite").partitionBy("cluster").parquet(s"$g/codes")
      }
      delta.withColumn("cluster", graft.operators.KMeans.assignColumn(centB, "v"))
        .write.mode("append").partitionBy("cluster").parquet(s"$idx/codes")
      val enc = s.read.parquet(s"$idx/codes")
      val qs = enc.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("va"), col("nsq").as("na"))
      val cellScores = centB.zipWithIndex.map { case (c, i) =>
        struct(lit(i + 1).as("cell"),
          (call_function("array_dot", col("va"), array(c.map(lit): _*)) -
            lit(0.5 * graft.operators.KMeans.sqNorm(c))).as("score"))
      }
      val pw = Window.partitionBy("qid").orderBy(col("score").desc, col("cluster"))
      val probes = qs
        .select(col("qid"), col("va"), col("na"), explode(array(cellScores: _*)).as("sc"))
        .select(col("qid"), col("va"), col("na"),
          col("sc.cell").as("cluster"), col("sc.score").as("score"))
        .withColumn("rn", row_number().over(pw)).filter(col("rn") <= 2)
        .select("qid", "va", "na", "cluster")
      val c = enc.select(col("vec_id").as("cid"), col("v").as("vb"),
        col("nsq").as("nb"), col("cluster"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
      c.join(broadcast(probes), Seq("cluster"))
        .filter(col("cid") =!= col("qid"))
        .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("cid"),
          col("cluster").cast("int").as("cluster"), col("cos"),
          (pmod(col("cid"), lit(5)) === 0).as("is_delta"))
        .orderBy("qid", "rank")
    },

    // GENERATION-AWARE serving (r11, VERDICT r10 item 5): two index
    // generations published back to back — gen A covers the base subset,
    // gen B the full corpus under the SAME frozen quantizer — and the
    // probe serves from BOTH: the path PINNED before B was published and
    // the manifest's latest. Generations are immutable and retention
    // keeps two, so the pinned probe is untouched by the newer publish
    // (GenerationStoreSpec drives the probe WHILE gen B is half-written);
    // per (query, rank) the judged row shows what the pinned snapshot
    // answers vs what the refreshed store answers, with delta membership
    // flagged. Everything (centroids included) reads back from the
    // generation directories — nothing rescans the raw fixture.
    "q275_index_generations" -> { (s, dir) =>
      import s.implicits._
      val root = ivfIndexDir(dir) + "_gens"
      val all = vecs(s, dir)
      val base = all.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val centB = graft.operators.KMeans.fit(base, kmInit, KmIters)
      def writeGen(members: org.apache.spark.sql.DataFrame)(g: String): Unit = {
        // centroid and code tables are independent writes into the same
        // staging generation — overlap them (round 19, guide §2.6)
        Par.all(Seq(
          () => centB.zipWithIndex.map { case (c, i) => (i + 1, c.toSeq) }
            .toDF("cluster", "cv").coalesce(1)
            .write.mode("overwrite").parquet(s"$g/centroids"),
          () => members
            .withColumn("cluster", graft.operators.KMeans.assignColumn(centB, "v"))
            .write.mode("overwrite").partitionBy("cluster").parquet(s"$g/codes")))
        ()
      }
      val pinned = graft.IndexStore.publish(root)(writeGen(base))
      val latest = graft.IndexStore.publish(root)(writeGen(all))
      def probe(genPath: String) = {
        val cent = s.read.parquet(s"$genPath/centroids").orderBy("cluster").collect()
          .map(r => r.getSeq[Double](r.fieldIndex("cv")).toIndexedSeq).toIndexedSeq
        val enc = s.read.parquet(s"$genPath/codes")
        val qs = enc.filter(col("vec_id") < 5 && pmod(col("vec_id"), lit(5)) =!= 0)
          .select(col("vec_id").as("qid"), col("v").as("va"), col("nsq").as("na"))
        val cellScores = cent.zipWithIndex.map { case (c, i) =>
          struct(lit(i + 1).as("cell"),
            (call_function("array_dot", col("va"), array(c.map(lit): _*)) -
              lit(0.5 * graft.operators.KMeans.sqNorm(c))).as("score"))
        }
        val pw = Window.partitionBy("qid").orderBy(col("score").desc, col("cluster"))
        val probes = qs
          .select(col("qid"), col("va"), col("na"), explode(array(cellScores: _*)).as("sc"))
          .select(col("qid"), col("va"), col("na"),
            col("sc.cell").as("cluster"), col("sc.score").as("score"))
          .withColumn("rn", row_number().over(pw)).filter(col("rn") <= 2)
          .select("qid", "va", "na", "cluster")
        val c = enc.select(col("vec_id").as("cid"), col("v").as("vb"),
          col("nsq").as("nb"), col("cluster"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
        c.join(broadcast(probes), Seq("cluster"))
          .filter(col("cid") =!= col("qid"))
          .withColumn("cos", expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb"))))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank").cast("int").as("rank"), col("cid"), col("cos"))
      }
      val rp = probe(pinned)
        .withColumnRenamed("cid", "cid_pinned").withColumnRenamed("cos", "cos_pinned")
      val rl = probe(latest)
        .withColumnRenamed("cid", "cid_latest").withColumnRenamed("cos", "cos_latest")
      rp.join(rl, Seq("qid", "rank"))
        .select(col("qid"), col("rank"), col("cid_pinned"), col("cos_pinned"),
          col("cid_latest"), col("cos_latest"),
          (pmod(col("cid_latest"), lit(5)) === 0).as("is_delta_latest"))
        .orderBy("qid", "rank")
    },

    // Erasure CASCADING into derived generation stores (VERDICT r15 item
    // 6 — q226 swept the raw tables; a real GDPR sweep reaches the stores
    // DERIVED from them). One deterministic request set (ids % 50 = 7)
    // cascades into BOTH store families:
    //  - the ANN index: a republished generation carries the codes MINUS
    //    the erased vec_ids under the FROZEN quantizer (gen 2's centroids
    //    are gen 1's own table verbatim — the q270 append machinery in
    //    reverse: subtract partition rows, never retrain);
    //  - the stats root: registers/counters are monoids under max/addition
    //    with NO inverse, so register erasure is a RE-ANALYZE over the
    //    surviving rows, published as gen 2 through the same CAS upsert.
    // verified_clean comes from RE-SCANNING the SERVED store (residual
    // members in the latest ANN generation; served row_count re-counted
    // against surviving raw rows), and content_witness hashes the served
    // CONTENT (sum of surviving vec_ids; the served post-erasure NDV
    // register estimate), which the oracle re-derives from raw survivors
    // alone — never reading either store.
    "q315_erasure_cascade_stores" -> { (s, dir) =>
      import s.implicits._
      // The ANN leg, the stats leg and the raw-events witness aggregate
      // are INDEPENDENT (different roots, different tables) — run all
      // three concurrently (round 20, guide §2.6; VERDICT r19 item 8:
      // q315's remaining 39 warm jobs were two full publishes plus the
      // stats lifecycle, back to back). Ordering constraints live INSIDE
      // each leg (gen 1 before the count before gen 2; build 1 before
      // build 2). Values computed are identical to the sequential form.
      val ann = Par.fork {
        // ANN leg (build phases metered — VERDICT r16 item 6: the k-means
        // training is the dominant per-invocation build cost here, beyond
        // what the publish-layer meter sees)
        val aroot = StatsStore.scratchRoot("graft_erase_ann")
        val all = vecs(s, dir)
        val g1 = graft.LifecycleMeter.time {
          val cent = graft.operators.KMeans.fit(all, kmInit, KmIters)
          val p1 = graft.IndexStore.publish(aroot) { g =>
            // independent tables — overlap (round 19, guide §2.6)
            Par.all(Seq(
              () => cent.zipWithIndex.map { case (c, i) => (i + 1, c.toSeq) }
                .toDF("cluster", "cv").coalesce(1).write.parquet(s"$g/centroids"),
              () => all
                .withColumn("cluster", graft.operators.KMeans.assignColumn(cent, "v"))
                .write.partitionBy("cluster").parquet(s"$g/codes")))
            ()
          }
          p1
        }
        val g1codes = s.read.parquet(s"$g1/codes")
        val annBefore = g1codes.count()
        graft.IndexStore.publish(aroot) { g =>
          // frozen quantizer: gen 1's centroid table carried VERBATIM;
          // the carry and the filtered republish are independent — overlap
          Par.all(Seq(
            () => s.read.parquet(s"$g1/centroids").coalesce(1)
              .write.parquet(s"$g/centroids"),
            () => g1codes.filter(pmod(col("vec_id"), lit(50)) =!= 7)
              .write.partitionBy("cluster").parquet(s"$g/codes")))
          ()
        }
        val servedAnn = s.read.parquet(
          s"${graft.IndexStore.latestPath(aroot).get}/codes")
        // ONE pass over the served codes for all three scalars (round 19,
        // guide §1.2: count + residual count + witness sum were three jobs
        // over the same frame; conditional sums return identical values)
        val annRow = servedAnn.agg(count(lit(1)).as("n"),
          coalesce(sum(when(pmod(col("vec_id"), lit(50)) === 7, 1L).otherwise(0L)),
            lit(0L)).as("resid"),
          coalesce(sum("vec_id"), lit(0L)).as("w")).head()
        (annBefore, annRow.getLong(0), annRow.getLong(1), annRow.getLong(2))
      }
      // erased + surviving counts in ONE pass over events: the pmod
      // filters partition the non-null user_id rows exactly like the two
      // retired filter().count() jobs (pmod(NULL) is NULL → neither side)
      val ev = Tables.events(s, dir)
      val evCounts = Par.fork {
        ev.agg(
          coalesce(sum(when(pmod(col("user_id"), lit(50)) === 7, 1L).otherwise(0L)),
            lit(0L)).as("erased"),
          coalesce(sum(when(pmod(col("user_id"), lit(50)) =!= 7, 1L).otherwise(0L)),
            lit(0L)).as("surv")).head()
      }
      // stats leg (calling thread)
      val sroot = StatsStore.scratchRoot("graft_erase_stats")
      StatsStore.buildTableStats(s, sroot, "events", ev, Seq("user_id"))
      val surviving = ev.filter(pmod(col("user_id"), lit(50)) =!= 7)
      StatsStore.buildTableStats(s, sroot, "events", surviving, Seq("user_id"))
      val servedGen = graft.plans.StatsCatalog.resolveBase(sroot)
      // three independent single-row store reads — overlap them
      val statsReads = Par.all(Seq(
        () => s.read.parquet(s"${graft.IndexStore.genPath(sroot, 1L)}/table_rows")
          .head().getAs[Long]("row_count"),
        () => s.read.parquet(s"$servedGen/table_rows")
          .head().getAs[Long]("row_count"),
        () => s.read.parquet(s"$servedGen/column_ndv")
          .head().getAs[Long]("ndv_est")))
      val (statsBefore, statsAfter, statsWitness) =
        (statsReads(0), statsReads(1), statsReads(2))
      val (annBefore, annAfter, annResidual, annWitness) = ann()
      val evRow = evCounts()
      val statsErased = evRow.getLong(0)
      val statsResidual = statsAfter - evRow.getLong(1)
      Seq(
        ("ann_codes", annBefore, annBefore - annAfter, annAfter,
          annResidual, annResidual == 0L, annWitness),
        ("stats_events", statsBefore, statsErased, statsAfter,
          statsResidual, statsResidual == 0L, statsWitness))
        .toDF("store", "n_before", "n_erased", "n_after", "n_residual",
          "verified_clean", "content_witness")
        .orderBy("store")
    })

  /** DuckDB vector CTE with the same fold order as the Spark aggregates. */
  private val VecCte =
    """e AS (
      | SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings),
      |n AS (
      | SELECT vec_id, label, v,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> x * x)), (s, x) -> s + x) AS nsq
      | FROM e)""".stripMargin

  private val DotSql =
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> a.v[i] * b.v[i])), (s, x) -> s + x)"

  /** DuckDB re-derivation of the SQ8 chain (q151/q152): per-dim stats →
    * list-form grids → codes → dequantized vectors → ADC scores vs the
    * <5 query set → shortlist → exact rerank. Same folds and order as
    * sqTopK; ends at CTE `sqan` (qid, rank, cid, adc, cos).
    */
  private val SqCte =
    """sqd AS (SELECT vec_id, CAST(j AS INTEGER) AS p, v[j] AS x FROM n, range(1, 65) t(j)),
      |sqst AS (SELECT p, min(x) AS mn, max(x) AS mx FROM sqd GROUP BY p),
      |sqa AS (SELECT list(mn ORDER BY p) AS mn, list(mx ORDER BY p) AS mx FROM sqst),
      |sqec AS (
      | SELECT n.vec_id, n.v, n.nsq,
      |  list_transform(range(1, 65), i -> CASE WHEN sqa.mx[i] = sqa.mn[i] THEN 0
      |   ELSE CAST(least(floor((n.v[i] - sqa.mn[i]) * 255.0 / (sqa.mx[i] - sqa.mn[i])), 255.0) AS INTEGER) END) AS codes
      | FROM n CROSS JOIN sqa),
      |sqdq AS (
      | SELECT c.vec_id, c.v, c.nsq,
      |  list_transform(range(1, 65), i -> sqa.mn[i] + c.codes[i] * (sqa.mx[i] - sqa.mn[i]) / 255.0) AS dq
      | FROM sqec c CROSS JOIN sqa),
      |sqsc AS (
      | SELECT q.vec_id AS qid, c.vec_id AS cid, q.v AS qv, q.nsq AS na, c.v AS cv, c.nsq AS nb,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> c.dq[i] * q.v[i])), (s, x) -> s + x) AS adc
      | FROM sqdq c JOIN n q ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
      |sqsl AS (SELECT * FROM (SELECT qid, cid, adc, qv, na, cv, nb,
      |   row_number() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM sqsc) WHERE rn <= 50),
      |sqrr AS (SELECT qid, cid, adc,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> qv[i] * cv[i])), (s, x) -> s + x) / (sqrt(na) * sqrt(nb)) AS cos
      | FROM sqsl),
      |sqan AS (SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank, cid, adc, cos
      | FROM sqrr QUALIFY rank <= 3)""".stripMargin

  /** DuckDB prefix-truncation chain for q153: tn$dp (sliced vector + its
    * norm, same fold order as array_dot(va, va)) and tk$dp (top-3 under
    * the truncated cosine).
    */
  private def truncCte(dp: Int): String =
    s"""tn$dp AS (
       | SELECT vec_id, v[1:$dp] AS w,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v[1:$dp], x -> x * x)), (s, x) -> s + x) AS nsq
       | FROM n),
       |tk$dp AS (
       | SELECT qid, cid FROM (
       |  SELECT a.vec_id AS qid, b.vec_id AS cid,
       |   row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${dp + 1}), i -> a.w[i] * b.w[i])), (s, x) -> s + x)
       |     / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rn
       |  FROM tn$dp a JOIN tn$dp b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) WHERE rn <= 3)""".stripMargin

  private def sub(sql: String): String =
    sql.replace("--VEC--", VecCte).replace("--DOT--", DotSql).replace("--BKT--", BucketCte)
      .replace("--KM--", KmCte).replace("--SQ--", SqCte)

  /** The doubled-embedding base view + --VEC-- substitution, exposed for
    * sibling modules (Advanced's binary-quantization search reads the same
    * corpus) — ONE copy of the cast/norm discipline, so a change here
    * cannot desynchronize a sibling's oracle from the vector family.
    */
  private[queries] def vecsFor(s: SparkSession, dir: String): DataFrame = vecs(s, dir)
  private[queries] def subFor(sql: String): String = sub(sql)

  /** Same sequential fold as the codegen'd array_dot, over two named list
    * columns.
    */
  private def kmDotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), j -> $a[j] * $b[j])), (s, x) -> s + x)"

  /** Same sequential fold over PqDims-length subvector lists. */
  private def pqDotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${PqDims + 1}), j -> $a[j] * $b[j])), (s, x) -> s + x)"

  /** DuckDB re-derivation of subspace m's PQ k-means: {p}vm$m = the
    * 16-dim slices of `srcCol` from `srcTable`, {p}cpq{m}_0 from the md5
    * "{seed}M:" init, PqIters assign+update rounds (same fixed-point
    * arithmetic as --KM--), {p}afpq$m = the final code per vector.
    * Mirrors [[KmCte]] with sliced vectors; the `p` prefix keeps the raw
    * ("" / source n.v / seed pq) and residual ("r" / source rsd.rv /
    * seed rpq) chains coexisting in one statement.
    */
  private def pqCteGen(m: Int, p: String, srcTable: String, srcCol: String,
      seed: String): String = {
    val off = m * PqDims
    def assign(name: String, prev: String) =
      s"""s_$name AS (
         | SELECT v.vec_id, v.vm, c.cluster,
         |  ${pqDotSql("v.vm", "c.cv")} - 0.5 * ${pqDotSql("c.cv", "c.cv")} AS score
         | FROM ${p}vm$m v CROSS JOIN $prev c),
         |$name AS (
         | SELECT vec_id, vm, cluster FROM (
         |  SELECT vec_id, vm, cluster,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cluster) AS rn
         |  FROM s_$name) WHERE rn = 1)""".stripMargin
    def update(i: Int) =
      s"""${p}upq${m}_$i AS (
         | SELECT a.cluster, CAST(j AS INTEGER) AS pos,
         |  CAST(sum(CAST(floor(a.vm[j] * 16777216) AS BIGINT)) AS BIGINT) AS sxn, count(*) AS nn
         | FROM ${p}apq${m}_$i a, range(1, ${PqDims + 1}) t(j) GROUP BY a.cluster, pos),
         |${p}ucpq${m}_$i AS (
         | SELECT cluster, list(CAST(sxn AS DOUBLE) / CAST(nn * 16777216 AS DOUBLE) ORDER BY pos) AS cv
         | FROM ${p}upq${m}_$i GROUP BY cluster),
         |${p}cpq${m}_$i AS (
         | SELECT p.cluster, coalesce(u.cv, p.cv) AS cv
         | FROM ${p}cpq${m}_${i - 1} p LEFT JOIN ${p}ucpq${m}_$i u USING (cluster))""".stripMargin
    val slices =
      s"""${p}vm$m AS (
         | SELECT vec_id, list_transform(range(1, ${PqDims + 1}), j -> $srcCol[$off + j]) AS vm
         | FROM $srcTable)""".stripMargin
    val init =
      s"""${p}cpq${m}_0 AS (
         | SELECT CAST(k + 1 AS INTEGER) AS cluster,
         |  list_transform(range(0, $PqDims), d -> CAST(CAST(('0x' || substr(md5('$seed$m:' || CAST(k AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 - 500 AS DOUBLE) / 1000) AS cv
         | FROM range(0, $PqK) t(k))""".stripMargin
    (Seq(slices, init)
      ++ (1 to PqIters).flatMap(i => Seq(assign(s"${p}apq${m}_$i", s"${p}cpq${m}_${i - 1}"), update(i)))
      ++ Seq(assign(s"${p}afpq$m", s"${p}cpq${m}_$PqIters"))).mkString(",\n")
  }
  private def PqCte(m: Int): String = pqCteGen(m, "", "n", "v", "pq")
  private def RPqCte(m: Int): String = pqCteGen(m, "r", "rsd", "rv", "rpq")

  /** Residual frame CTE: rv = v - the vector's trained coarse centroid
    * (elementwise IEEE subtract — exact on both engines). Requires --KM--
    * in scope for af/c$KmIters.
    */
  private def RsdCte: String =
    s"""rsd AS (
       | SELECT a.vec_id, a.cluster,
       |  list_transform(range(1, 65), j -> a.v[j] - c.cv[j]) AS rv
       | FROM af a JOIN c$KmIters c USING (cluster))""".stripMargin

  /** DuckDB re-derivation of the k-means run: c0 from the md5 "km:" init,
    * then per iteration an assignment under the previous centroids and the
    * fixed-point centroid update (empty clusters keep their centroid via
    * the LEFT JOIN coalesce); `af` is the final assignment under the
    * trained centroids — exactly operators.KMeans.fitAssign's output.
    * row_number ORDER BY score DESC, cluster == array_position's
    * first-maximal index (ties to the lowest cluster id).
    */
  private def KmCte: String = kmCteGen("n", "n")

  /** Generalized [[KmCte]]: the Lloyd training chain runs over
    * `trainSrc`, the final `af` assignment over `serveSrc` — equal for
    * the inline-trained family; the incremental-append oracle (q270)
    * trains on the base subset and assigns the FULL corpus under the
    * frozen result.
    */
  private def kmCteGen(trainSrc: String, serveSrc: String): String = {
    def assign(name: String, prev: String, src: String) =
      s"""s_$name AS (
         | SELECT m.vec_id, m.v, m.nsq, c.cluster,
         |  ${kmDotSql("m.v", "c.cv")} - 0.5 * ${kmDotSql("c.cv", "c.cv")} AS score
         | FROM $src m CROSS JOIN $prev c),
         |$name AS (
         | SELECT vec_id, v, nsq, cluster FROM (
         |  SELECT vec_id, v, nsq, cluster,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cluster) AS rn
         |  FROM s_$name) WHERE rn = 1)""".stripMargin
    def update(i: Int) =
      s"""u$i AS (
         | SELECT a.cluster, CAST(j AS INTEGER) AS pos,
         |  CAST(sum(CAST(floor(a.v[j] * 16777216) AS BIGINT)) AS BIGINT) AS sxn, count(*) AS nn
         | FROM a$i a, range(1, 65) t(j) GROUP BY a.cluster, pos),
         |uc$i AS (
         | SELECT cluster, list(CAST(sxn AS DOUBLE) / CAST(nn * 16777216 AS DOUBLE) ORDER BY pos) AS cv
         | FROM u$i GROUP BY cluster),
         |c$i AS (
         | SELECT p.cluster, coalesce(u.cv, p.cv) AS cv
         | FROM c${i - 1} p LEFT JOIN uc$i u USING (cluster))""".stripMargin
    val init =
      s"""c0 AS (
         | SELECT CAST(k + 1 AS INTEGER) AS cluster,
         |  list_transform(range(0, 64), d -> CAST(CAST(('0x' || substr(md5('km:' || CAST(k AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 - 500 AS DOUBLE) / 1000) AS cv
         | FROM range(0, $KmK) t(k))""".stripMargin
    (Seq(init)
      ++ (1 to KmIters).flatMap(i =>
        Seq(assign(s"a$i", s"c${i - 1}", trainSrc), update(i)))
      ++ Seq(assign("af", s"c$KmIters", serveSrc))).mkString(",\n")
  }

  /** DuckDB re-derivation of the hyperplane matrix + bucket id. */
  private val BucketCte =
    """b AS (
      | SELECT vec_id, label, v, nsq,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), p ->
      |    CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i ->
      |           v[i] * CAST(CAST(('0x' || substr(md5('rp:' || CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 - 500 AS DOUBLE))),
      |          (s, x) -> s + x) > 0
      |    THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END)),
      |   (a, x) -> a + x) AS bucket
      | FROM n)""".stripMargin

  /** Shared by q130 (inline-trained serve) and q263 (persisted-index
    * serve): both must produce THIS re-derivation's rows — the persisted
    * artifact adds no new math, only a parquet roundtrip.
    */
  private def ivfServeOracleSql: String = sub(s"""WITH --VEC--,
        |--KM--,
        |ps AS (
        | SELECT m.vec_id AS qid, m.v, m.nsq, c.cluster,
        |  ${kmDotSql("m.v", "c.cv")} - 0.5 * ${kmDotSql("c.cv", "c.cv")} AS score
        | FROM n m CROSS JOIN c$KmIters c WHERE m.vec_id < 5),
        |pr AS (
        | SELECT qid, v, nsq, cluster FROM (
        |  SELECT qid, v, nsq, cluster,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cluster) AS rn
        |  FROM ps) WHERE rn <= 2),
        |scored AS (
        | SELECT p.qid, a.vec_id AS cid, a.cluster,
        |  ${kmDotSql("p.v", "a.v")} / (sqrt(p.nsq) * sqrt(a.nsq)) AS cos
        | FROM af a JOIN pr p ON a.cluster = p.cluster AND a.vec_id <> p.qid)
        |SELECT qid,
        | CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank,
        | cid, CAST(cluster AS INTEGER) AS cluster, cos
        |FROM scored
        |QUALIFY rank <= 3
        |ORDER BY qid, rank""".stripMargin)

  /** Shared by q144 (inline-trained) and q269 (persisted-index) residual
    * IVFPQ serves — both must produce THIS re-derivation's rows.
    */
  private def ivfPqResidualOracleSql: String = sub(s"""WITH --VEC--,
        |--KM--,
        |$RsdCte,
        |${RPqCte(0)},
        |${RPqCte(1)},
        |${RPqCte(2)},
        |${RPqCte(3)},
        |${(0 until PqM).map(m =>
            s"""qvm$m AS (
               | SELECT vec_id, list_transform(range(1, ${PqDims + 1}), j -> v[${m * PqDims} + j]) AS vm
               | FROM n WHERE vec_id < 5)""".stripMargin).mkString(",\n")},
        |cdq AS (
        | SELECT m.vec_id AS qid, c.cluster,
        |  ${kmDotSql("m.v", "c.cv")} AS celldot,
        |  ${kmDotSql("m.v", "c.cv")} - 0.5 * ${kmDotSql("c.cv", "c.cv")} AS score
        | FROM n m CROSS JOIN c$KmIters c WHERE m.vec_id < 5),
        |pr AS (
        | SELECT qid, cluster, celldot FROM (
        |  SELECT qid, cluster, celldot,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cluster) AS rn
        |  FROM cdq) WHERE rn <= 2),
        |cand AS (
        | SELECT p.qid, p.celldot, a.vec_id AS cid, a.cluster
        | FROM af a JOIN pr p ON a.cluster = p.cluster AND a.vec_id <> p.qid),
        |sc AS (
        | SELECT c.qid, c.cid, c.cluster,
        |  c.celldot + (((${pqDotSql("q0.vm", "k0.cv")} +
        |    ${pqDotSql("q1.vm", "k1.cv")}) +
        |    ${pqDotSql("q2.vm", "k2.cv")}) +
        |    ${pqDotSql("q3.vm", "k3.cv")}) AS score
        | FROM cand c
        | JOIN rafpq0 a0 ON a0.vec_id = c.cid JOIN rafpq1 a1 ON a1.vec_id = c.cid
        | JOIN rafpq2 a2 ON a2.vec_id = c.cid JOIN rafpq3 a3 ON a3.vec_id = c.cid
        | JOIN rcpq0_$PqIters k0 ON k0.cluster = a0.cluster
        | JOIN rcpq1_$PqIters k1 ON k1.cluster = a1.cluster
        | JOIN rcpq2_$PqIters k2 ON k2.cluster = a2.cluster
        | JOIN rcpq3_$PqIters k3 ON k3.cluster = a3.cluster
        | JOIN qvm0 q0 ON q0.vec_id = c.qid JOIN qvm1 q1 ON q1.vec_id = c.qid
        | JOIN qvm2 q2 ON q2.vec_id = c.qid JOIN qvm3 q3 ON q3.vec_id = c.qid),
        |sl AS (
        | SELECT qid, cid, cluster FROM (SELECT qid, cid, cluster,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn FROM sc)
        | WHERE rn <= $IvfPqShortlist),
        |rr AS (
        | SELECT s.qid, s.cid, s.cluster,
        |  ${kmDotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
        | FROM sl s JOIN n a ON a.vec_id = s.qid JOIN n b ON b.vec_id = s.cid)
        |SELECT qid,
        | CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank,
        | cid, CAST(cluster AS INTEGER) AS cell, cos
        |FROM rr
        |QUALIFY rank <= 3
        |ORDER BY qid, rank""".stripMargin)

  val oracles: Seq[(String, String)] = Seq(
    "q130_trained_ivf_search" -> ivfServeOracleSql,

    // re-derives every judged number from the RAW survivors alone (the
    // counts, the surviving-id sum, and the post-erasure register
    // estimate through the shared q273 CTE) — the stores are never read
    "q315_erasure_cascade_stores" ->
      s"""WITH ${StatsStore.ndvCte("sv", "(SELECT * FROM events WHERE user_id % 50 <> 7)", "user_id")}
         |SELECT store, n_before, n_erased, n_after, n_residual, verified_clean, content_witness
         |FROM (
         | SELECT 'ann_codes' AS store,
         |  (SELECT count(*) FROM embeddings) AS n_before,
         |  (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 7) AS n_erased,
         |  (SELECT count(*) FROM embeddings WHERE vec_id % 50 <> 7) AS n_after,
         |  CAST(0 AS BIGINT) AS n_residual, TRUE AS verified_clean,
         |  (SELECT CAST(sum(vec_id) AS BIGINT) FROM embeddings WHERE vec_id % 50 <> 7) AS content_witness
         | UNION ALL
         | SELECT 'stats_events',
         |  (SELECT count(*) FROM events),
         |  (SELECT count(*) FROM events WHERE user_id % 50 = 7),
         |  (SELECT count(*) FROM events WHERE user_id % 50 <> 7),
         |  CAST(0 AS BIGINT), TRUE,
         |  (SELECT ndv_est FROM e_sv))
         |ORDER BY store""".stripMargin,

    "q136_pq_encode" -> sub(s"""WITH --VEC--,
        |${PqCte(0)},
        |${PqCte(1)},
        |${PqCte(2)},
        |${PqCte(3)}
        |SELECT b.vec_id, b.label,
        | CAST(a0.cluster AS INTEGER) AS code0, CAST(a1.cluster AS INTEGER) AS code1,
        | CAST(a2.cluster AS INTEGER) AS code2, CAST(a3.cluster AS INTEGER) AS code3
        |FROM n b
        |JOIN afpq0 a0 USING (vec_id) JOIN afpq1 a1 USING (vec_id)
        |JOIN afpq2 a2 USING (vec_id) JOIN afpq3 a3 USING (vec_id)
        |ORDER BY b.vec_id""".stripMargin),

    "q137_pq_adc_search" -> sub(s"""WITH --VEC--,
        |${PqCte(0)},
        |${PqCte(1)},
        |${PqCte(2)},
        |${PqCte(3)},
        |sc AS (
        | SELECT q0.vec_id AS qid, a0.vec_id AS cid,
        |  ((${pqDotSql("q0.vm", "c0.cv")} +
        |    ${pqDotSql("q1.vm", "c1.cv")}) +
        |    ${pqDotSql("q2.vm", "c2.cv")}) +
        |    ${pqDotSql("q3.vm", "c3.cv")} AS score
        | FROM afpq0 a0
        | JOIN afpq1 a1 USING (vec_id) JOIN afpq2 a2 USING (vec_id)
        | JOIN afpq3 a3 USING (vec_id)
        | JOIN cpq0_$PqIters c0 ON c0.cluster = a0.cluster
        | JOIN cpq1_$PqIters c1 ON c1.cluster = a1.cluster
        | JOIN cpq2_$PqIters c2 ON c2.cluster = a2.cluster
        | JOIN cpq3_$PqIters c3 ON c3.cluster = a3.cluster
        | JOIN vm0 q0 ON q0.vec_id < 5 AND q0.vec_id <> a0.vec_id
        | JOIN vm1 q1 ON q1.vec_id = q0.vec_id
        | JOIN vm2 q2 ON q2.vec_id = q0.vec_id
        | JOIN vm3 q3 ON q3.vec_id = q0.vec_id),
        |sl AS (
        | SELECT qid, cid FROM (SELECT qid, cid,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn FROM sc)
        | WHERE rn <= $PqShortlist),
        |rr AS (
        | SELECT s.qid, s.cid,
        |  ${kmDotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
        | FROM sl s JOIN n a ON a.vec_id = s.qid JOIN n b ON b.vec_id = s.cid)
        |SELECT qid,
        | CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank,
        | cid, cos
        |FROM rr
        |QUALIFY rank <= 3
        |ORDER BY qid, rank""".stripMargin),

    "q139_ivfpq_search" -> sub(s"""WITH --VEC--,
        |--KM--,
        |${PqCte(0)},
        |${PqCte(1)},
        |${PqCte(2)},
        |${PqCte(3)},
        |ps AS (
        | SELECT m.vec_id AS qid, c.cluster,
        |  ${kmDotSql("m.v", "c.cv")} - 0.5 * ${kmDotSql("c.cv", "c.cv")} AS score
        | FROM n m CROSS JOIN c$KmIters c WHERE m.vec_id < 5),
        |pr AS (
        | SELECT qid, cluster FROM (
        |  SELECT qid, cluster,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cluster) AS rn
        |  FROM ps) WHERE rn <= 2),
        |cand AS (
        | SELECT p.qid, a.vec_id AS cid, a.cluster
        | FROM af a JOIN pr p ON a.cluster = p.cluster AND a.vec_id <> p.qid),
        |sc AS (
        | SELECT c.qid, c.cid, c.cluster,
        |  ((${pqDotSql("q0.vm", "k0.cv")} +
        |    ${pqDotSql("q1.vm", "k1.cv")}) +
        |    ${pqDotSql("q2.vm", "k2.cv")}) +
        |    ${pqDotSql("q3.vm", "k3.cv")} AS score
        | FROM cand c
        | JOIN afpq0 a0 ON a0.vec_id = c.cid JOIN afpq1 a1 ON a1.vec_id = c.cid
        | JOIN afpq2 a2 ON a2.vec_id = c.cid JOIN afpq3 a3 ON a3.vec_id = c.cid
        | JOIN cpq0_$PqIters k0 ON k0.cluster = a0.cluster
        | JOIN cpq1_$PqIters k1 ON k1.cluster = a1.cluster
        | JOIN cpq2_$PqIters k2 ON k2.cluster = a2.cluster
        | JOIN cpq3_$PqIters k3 ON k3.cluster = a3.cluster
        | JOIN vm0 q0 ON q0.vec_id = c.qid JOIN vm1 q1 ON q1.vec_id = c.qid
        | JOIN vm2 q2 ON q2.vec_id = c.qid JOIN vm3 q3 ON q3.vec_id = c.qid),
        |sl AS (
        | SELECT qid, cid, cluster FROM (SELECT qid, cid, cluster,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn FROM sc)
        | WHERE rn <= $IvfPqShortlist),
        |rr AS (
        | SELECT s.qid, s.cid, s.cluster,
        |  ${kmDotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
        | FROM sl s JOIN n a ON a.vec_id = s.qid JOIN n b ON b.vec_id = s.cid)
        |SELECT qid,
        | CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank,
        | cid, CAST(cluster AS INTEGER) AS cell, cos
        |FROM rr
        |QUALIFY rank <= 3
        |ORDER BY qid, rank""".stripMargin),

    "q140_ivfpq_recall" -> sub(s"""WITH --VEC--,
        |--KM--,
        |${PqCte(0)},
        |${PqCte(1)},
        |${PqCte(2)},
        |${PqCte(3)},
        |ps AS (
        | SELECT m.vec_id AS qid, c.cluster,
        |  ${kmDotSql("m.v", "c.cv")} - 0.5 * ${kmDotSql("c.cv", "c.cv")} AS score
        | FROM n m CROSS JOIN c$KmIters c WHERE m.vec_id < 5),
        |pr AS (
        | SELECT qid, cluster FROM (
        |  SELECT qid, cluster,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cluster) AS rn
        |  FROM ps) WHERE rn <= 2),
        |cand AS (
        | SELECT p.qid, a.vec_id AS cid, a.cluster
        | FROM af a JOIN pr p ON a.cluster = p.cluster AND a.vec_id <> p.qid),
        |sc AS (
        | SELECT c.qid, c.cid,
        |  ((${pqDotSql("q0.vm", "k0.cv")} +
        |    ${pqDotSql("q1.vm", "k1.cv")}) +
        |    ${pqDotSql("q2.vm", "k2.cv")}) +
        |    ${pqDotSql("q3.vm", "k3.cv")} AS score
        | FROM cand c
        | JOIN afpq0 a0 ON a0.vec_id = c.cid JOIN afpq1 a1 ON a1.vec_id = c.cid
        | JOIN afpq2 a2 ON a2.vec_id = c.cid JOIN afpq3 a3 ON a3.vec_id = c.cid
        | JOIN cpq0_$PqIters k0 ON k0.cluster = a0.cluster
        | JOIN cpq1_$PqIters k1 ON k1.cluster = a1.cluster
        | JOIN cpq2_$PqIters k2 ON k2.cluster = a2.cluster
        | JOIN cpq3_$PqIters k3 ON k3.cluster = a3.cluster
        | JOIN vm0 q0 ON q0.vec_id = c.qid JOIN vm1 q1 ON q1.vec_id = c.qid
        | JOIN vm2 q2 ON q2.vec_id = c.qid JOIN vm3 q3 ON q3.vec_id = c.qid),
        |sl AS (
        | SELECT qid, cid FROM (SELECT qid, cid,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn FROM sc)
        | WHERE rn <= $IvfPqShortlist),
        |rr AS (
        | SELECT s.qid, s.cid,
        |  ${kmDotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
        | FROM sl s JOIN n a ON a.vec_id = s.qid JOIN n b ON b.vec_id = s.cid),
        |an AS (
        | SELECT qid, cid FROM (SELECT qid, cid,
        |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM rr)
        | WHERE rn <= 3),
        |ex AS (
        | SELECT qid, cid FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rank
        |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) WHERE rank <= 3),
        |h AS (SELECT e.qid, count(*) AS n_hits FROM ex e JOIN an USING (qid, cid) GROUP BY e.qid),
        |t AS (SELECT qid, count(*) AS n_exact FROM ex GROUP BY qid)
        |SELECT t.qid, coalesce(h.n_hits, 0) AS n_hits, t.n_exact,
        | coalesce(h.n_hits, 0) / t.n_exact AS recall
        |FROM t LEFT JOIN h USING (qid)
        |ORDER BY t.qid""".stripMargin),

    "q146_index_health" -> sub(s"""WITH --VEC--,
        |--KM--,
        |$RsdCte,
        |qerr AS (SELECT r.cluster, ${kmDotSql("r.rv", "r.rv")} AS err FROM rsd r),
        |per AS (
        | SELECT cluster, count(*) AS n_vecs,
        |  CAST(sum(CAST(floor(err * 1099511627776) AS BIGINT)) AS BIGINT) AS sfp
        | FROM qerr GROUP BY cluster),
        |tot AS (SELECT count(*) AS n FROM af)
        |SELECT CAST(p.cluster AS INTEGER) AS cluster, p.n_vecs,
        | CAST(p.n_vecs AS DOUBLE) / CAST(t.n AS DOUBLE) AS share,
        | CAST(p.sfp AS DOUBLE) / CAST(p.n_vecs * 1099511627776 AS DOUBLE) AS mean_sq_err
        |FROM per p CROSS JOIN tot t
        |ORDER BY p.cluster""".stripMargin),

    "q144_ivfpq_residual_search" -> ivfPqResidualOracleSql,

    // persisted-artifact serve == inline-trained serve, same re-derivation
    "q269_ivfpq_index_search" -> ivfPqResidualOracleSql,

    "q268_ivfpq_index_build" -> sub(s"""WITH --VEC--,
        |--KM--,
        |$RsdCte,
        |${RPqCte(0)},
        |${RPqCte(1)},
        |${RPqCte(2)},
        |${RPqCte(3)},
        |enc AS (
        | SELECT 0 AS m, cluster AS code FROM rafpq0
        | UNION ALL SELECT 1, cluster FROM rafpq1
        | UNION ALL SELECT 2, cluster FROM rafpq2
        | UNION ALL SELECT 3, cluster FROM rafpq3),
        |hist AS (SELECT m, code, count(*) AS n FROM enc GROUP BY 1, 2),
        |cbs AS (
        | SELECT 0 AS m, cluster AS k, cv FROM rcpq0_$PqIters
        | UNION ALL SELECT 1, cluster, cv FROM rcpq1_$PqIters
        | UNION ALL SELECT 2, cluster, cv FROM rcpq2_$PqIters
        | UNION ALL SELECT 3, cluster, cv FROM rcpq3_$PqIters)
        |SELECT CAST(c.m AS INTEGER) AS m, CAST(c.k AS INTEGER) AS k,
        | round(list_reduce(list_prepend(CAST(0 AS DOUBLE), c.cv), (a, x) -> a + x), 6) AS cw_sum,
        | CAST(coalesce(h.n, 0) AS BIGINT) AS n_vectors
        |FROM cbs c LEFT JOIN hist h ON h.m = c.m AND h.code = c.k
        |ORDER BY m, k""".stripMargin),

    "q145_ivfpq_residual_recall" -> sub(s"""WITH --VEC--,
        |--KM--,
        |$RsdCte,
        |${RPqCte(0)},
        |${RPqCte(1)},
        |${RPqCte(2)},
        |${RPqCte(3)},
        |${(0 until PqM).map(m =>
            s"""qvm$m AS (
               | SELECT vec_id, list_transform(range(1, ${PqDims + 1}), j -> v[${m * PqDims} + j]) AS vm
               | FROM n WHERE vec_id < 5)""".stripMargin).mkString(",\n")},
        |cdq AS (
        | SELECT m.vec_id AS qid, c.cluster,
        |  ${kmDotSql("m.v", "c.cv")} AS celldot,
        |  ${kmDotSql("m.v", "c.cv")} - 0.5 * ${kmDotSql("c.cv", "c.cv")} AS score
        | FROM n m CROSS JOIN c$KmIters c WHERE m.vec_id < 5),
        |pr AS (
        | SELECT qid, cluster, celldot FROM (
        |  SELECT qid, cluster, celldot,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cluster) AS rn
        |  FROM cdq) WHERE rn <= 2),
        |cand AS (
        | SELECT p.qid, p.celldot, a.vec_id AS cid, a.cluster
        | FROM af a JOIN pr p ON a.cluster = p.cluster AND a.vec_id <> p.qid),
        |sc AS (
        | SELECT c.qid, c.cid,
        |  c.celldot + (((${pqDotSql("q0.vm", "k0.cv")} +
        |    ${pqDotSql("q1.vm", "k1.cv")}) +
        |    ${pqDotSql("q2.vm", "k2.cv")}) +
        |    ${pqDotSql("q3.vm", "k3.cv")}) AS score
        | FROM cand c
        | JOIN rafpq0 a0 ON a0.vec_id = c.cid JOIN rafpq1 a1 ON a1.vec_id = c.cid
        | JOIN rafpq2 a2 ON a2.vec_id = c.cid JOIN rafpq3 a3 ON a3.vec_id = c.cid
        | JOIN rcpq0_$PqIters k0 ON k0.cluster = a0.cluster
        | JOIN rcpq1_$PqIters k1 ON k1.cluster = a1.cluster
        | JOIN rcpq2_$PqIters k2 ON k2.cluster = a2.cluster
        | JOIN rcpq3_$PqIters k3 ON k3.cluster = a3.cluster
        | JOIN qvm0 q0 ON q0.vec_id = c.qid JOIN qvm1 q1 ON q1.vec_id = c.qid
        | JOIN qvm2 q2 ON q2.vec_id = c.qid JOIN qvm3 q3 ON q3.vec_id = c.qid),
        |sl AS (
        | SELECT qid, cid FROM (SELECT qid, cid,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn FROM sc)
        | WHERE rn <= $IvfPqShortlist),
        |rr AS (
        | SELECT s.qid, s.cid,
        |  ${kmDotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
        | FROM sl s JOIN n a ON a.vec_id = s.qid JOIN n b ON b.vec_id = s.cid),
        |an AS (
        | SELECT qid, cid FROM (SELECT qid, cid,
        |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM rr)
        | WHERE rn <= 3),
        |ex AS (
        | SELECT qid, cid FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rank
        |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) WHERE rank <= 3),
        |h AS (SELECT e.qid, count(*) AS n_hits FROM ex e JOIN an USING (qid, cid) GROUP BY e.qid),
        |t AS (SELECT qid, count(*) AS n_exact FROM ex GROUP BY qid)
        |SELECT t.qid, coalesce(h.n_hits, 0) AS n_hits, t.n_exact,
        | coalesce(h.n_hits, 0) / t.n_exact AS recall
        |FROM t LEFT JOIN h USING (qid)
        |ORDER BY t.qid""".stripMargin),

    "q138_pq_recall" -> sub(s"""WITH --VEC--,
        |${PqCte(0)},
        |${PqCte(1)},
        |${PqCte(2)},
        |${PqCte(3)},
        |sc AS (
        | SELECT q0.vec_id AS qid, a0.vec_id AS cid,
        |  ((${pqDotSql("q0.vm", "c0.cv")} +
        |    ${pqDotSql("q1.vm", "c1.cv")}) +
        |    ${pqDotSql("q2.vm", "c2.cv")}) +
        |    ${pqDotSql("q3.vm", "c3.cv")} AS score
        | FROM afpq0 a0
        | JOIN afpq1 a1 USING (vec_id) JOIN afpq2 a2 USING (vec_id)
        | JOIN afpq3 a3 USING (vec_id)
        | JOIN cpq0_$PqIters c0 ON c0.cluster = a0.cluster
        | JOIN cpq1_$PqIters c1 ON c1.cluster = a1.cluster
        | JOIN cpq2_$PqIters c2 ON c2.cluster = a2.cluster
        | JOIN cpq3_$PqIters c3 ON c3.cluster = a3.cluster
        | JOIN vm0 q0 ON q0.vec_id < 5 AND q0.vec_id <> a0.vec_id
        | JOIN vm1 q1 ON q1.vec_id = q0.vec_id
        | JOIN vm2 q2 ON q2.vec_id = q0.vec_id
        | JOIN vm3 q3 ON q3.vec_id = q0.vec_id),
        |sl AS (
        | SELECT qid, cid FROM (SELECT qid, cid,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn FROM sc)
        | WHERE rn <= $PqShortlist),
        |rr AS (
        | SELECT s.qid, s.cid,
        |  ${kmDotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
        | FROM sl s JOIN n a ON a.vec_id = s.qid JOIN n b ON b.vec_id = s.cid),
        |an AS (
        | SELECT qid, cid FROM (SELECT qid, cid,
        |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM rr)
        | WHERE rn <= 3),
        |ex AS (
        | SELECT qid, cid FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rank
        |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) WHERE rank <= 3),
        |h AS (SELECT e.qid, count(*) AS n_hits FROM ex e JOIN an USING (qid, cid) GROUP BY e.qid),
        |t AS (SELECT qid, count(*) AS n_exact FROM ex GROUP BY qid)
        |SELECT t.qid, coalesce(h.n_hits, 0) AS n_hits, t.n_exact,
        | coalesce(h.n_hits, 0) / t.n_exact AS recall
        |FROM t LEFT JOIN h USING (qid)
        |ORDER BY t.qid""".stripMargin),

    "q116_kmeans_train" -> sub("""WITH --VEC--,
        |--KM--
        |SELECT a.vec_id, m.label, CAST(a.cluster AS INTEGER) AS cluster
        |FROM af a JOIN n m USING (vec_id)
        |ORDER BY a.vec_id""".stripMargin),

    "q117_semantic_dedup" -> sub(s"""WITH --VEC--,
        |--KM--,
        |pr AS (
        | SELECT a.vec_id AS d1, b.vec_id AS d2, a.cluster,
        |  ${kmDotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
        | FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
        |SELECT d1, d2, CAST(cluster AS INTEGER) AS cluster, cos
        |FROM pr WHERE cos >= 0.42
        |ORDER BY d1, d2""".stripMargin),

    "q112_label_centroids" -> sub("""WITH --VEC--,
        |pe AS (
        | SELECT label, CAST(i - 1 AS INTEGER) AS pos, v[CAST(i AS INTEGER)] AS x
        | FROM n, range(1, 65) t(i)),
        |sums AS (
        | SELECT label, pos,
        |  CAST(sum(CAST(floor(x * 16777216) AS BIGINT)) AS BIGINT) AS sxn,
        |  count(*) AS nn
        | FROM pe GROUP BY label, pos),
        |cent AS (
        | SELECT label,
        |  list(CAST(sxn AS DOUBLE) / CAST(nn * 16777216 AS DOUBLE) ORDER BY pos) AS cv,
        |  max(nn) AS n_vecs
        | FROM sums GROUP BY label),
        |cn AS (
        | SELECT label, cv, n_vecs,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> cv[i] * cv[i])), (s, x) -> s + x) AS cnsq
        | FROM cent),
        |coh AS (
        | SELECT m.label,
        |  CAST(CAST(sum(CAST(floor(
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> m.v[i] * c.cv[i])), (s, x) -> s + x)
        |     / (sqrt(m.nsq) * sqrt(c.cnsq)) * 1099511627776) AS BIGINT)) AS BIGINT) AS DOUBLE)
        |   / CAST(count(*) * 1099511627776 AS DOUBLE) AS mean_cos_to_centroid
        | FROM n m JOIN cn c USING (label)
        | GROUP BY m.label)
        |SELECT c.label, CAST(c.n_vecs AS BIGINT) AS n_vecs, sqrt(c.cnsq) AS centroid_norm,
        | coh.mean_cos_to_centroid
        |FROM cn c JOIN coh USING (label)
        |ORDER BY c.label""".stripMargin),

    "q109_cell_purity" -> sub("""WITH --VEC--,
        |dts AS (
        | SELECT vec_id, label,
        |  list_transform(range(0, 8), k ->
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i ->
        |    v[i] * CAST(CAST(('0x' || substr(md5('ivf:' || CAST(k AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 - 500 AS DOUBLE))),
        |   (s, x) -> s + x)) AS dots
        | FROM n),
        |cells AS (
        | SELECT vec_id, label, CAST(list_position(dots, list_max(dots)) AS INTEGER) AS cell
        | FROM dts),
        |bl AS (SELECT cell, label, count(*) AS n FROM cells GROUP BY cell, label),
        |top AS (
        | SELECT cell, label AS top_label, n AS top_label_n
        | FROM bl QUALIFY row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) = 1),
        |sz AS (SELECT cell, CAST(sum(n) AS BIGINT) AS n_vecs FROM bl GROUP BY cell)
        |SELECT t.cell, s.n_vecs, t.top_label, t.top_label_n,
        | t.top_label_n / s.n_vecs AS purity
        |FROM top t JOIN sz s USING (cell)
        |ORDER BY t.cell""".stripMargin),

    "q73_ann_ivf_topk" -> sub("""WITH --VEC--,
        |dts AS (
        | SELECT vec_id, v, nsq,
        |  list_transform(range(0, 8), k ->
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i ->
        |    v[i] * CAST(CAST(('0x' || substr(md5('ivf:' || CAST(k AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 - 500 AS DOUBLE))),
        |   (s, x) -> s + x)) AS dots
        | FROM n),
        |cells AS (
        | SELECT vec_id, v, nsq, CAST(list_position(dots, list_max(dots)) AS INTEGER) AS cell
        | FROM dts),
        |probes AS (
        | SELECT qid, v, nsq, cell FROM (
        |  SELECT d.vec_id AS qid, d.v, d.nsq, CAST(t.p + 1 AS INTEGER) AS cell,
        |   row_number() OVER (PARTITION BY d.vec_id ORDER BY d.dots[t.p + 1] DESC, t.p) AS pr
        |  FROM dts d CROSS JOIN range(0, 8) t(p)
        |  WHERE d.vec_id < 5) WHERE pr <= 2),
        |scored AS (
        | SELECT q.qid, c.vec_id AS cid, c.cell,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> q.v[i] * c.v[i])), (s, x) -> s + x)
        |    / (sqrt(q.nsq) * sqrt(c.nsq)) AS cos
        | FROM cells c JOIN probes q ON c.cell = q.cell AND c.vec_id <> q.qid)
        |SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank,
        | cid, cell, cos
        |FROM scored
        |QUALIFY rank <= 3
        |ORDER BY qid, rank""".stripMargin),

    "q52_ann_lsh_topk" -> sub("""WITH --VEC--,
        |--BKT--,
        |scored AS (
        | SELECT a.vec_id AS qid, b.vec_id AS cid, b.bucket,
        |  --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
        | FROM b a JOIN b b ON a.vec_id < 5 AND bit_count(xor(b.bucket, a.bucket)) <= 2 AND b.vec_id <> a.vec_id)
        |SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank,
        | cid, bucket, cos
        |FROM scored
        |QUALIFY rank <= 3
        |ORDER BY qid, rank""".stripMargin),
    "q44_embedding_neardup" -> sub("""WITH --VEC--
        |SELECT a.label, a.vec_id AS d1, b.vec_id AS d2,
        | --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) >= 0.4
        |ORDER BY a.label, d1, d2""".stripMargin),

    "q104_ivf_recall" -> sub("""WITH --VEC--,
        |dts AS (
        | SELECT vec_id, v, nsq,
        |  list_transform(range(0, 8), k ->
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i ->
        |    v[i] * CAST(CAST(('0x' || substr(md5('ivf:' || CAST(k AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 - 500 AS DOUBLE))),
        |   (s, x) -> s + x)) AS dots
        | FROM n),
        |cells AS (
        | SELECT vec_id, v, nsq, CAST(list_position(dots, list_max(dots)) AS INTEGER) AS cell
        | FROM dts),
        |probes AS (
        | SELECT qid, v, nsq, cell FROM (
        |  SELECT d.vec_id AS qid, d.v, d.nsq, CAST(t.p + 1 AS INTEGER) AS cell,
        |   row_number() OVER (PARTITION BY d.vec_id ORDER BY d.dots[t.p + 1] DESC, t.p) AS pr
        |  FROM dts d CROSS JOIN range(0, 8) t(p)
        |  WHERE d.vec_id < 5) WHERE pr <= 2),
        |an AS (
        | SELECT qid, cid FROM (
        |  SELECT q.qid, c.vec_id AS cid,
        |   row_number() OVER (PARTITION BY q.qid ORDER BY
        |     list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> q.v[i] * c.v[i])), (s, x) -> s + x)
        |       / (sqrt(q.nsq) * sqrt(c.nsq)) DESC, c.vec_id) AS rank
        |  FROM cells c JOIN probes q ON c.cell = q.cell AND c.vec_id <> q.qid)
        | WHERE rank <= 3),
        |ex AS (
        | SELECT qid, cid FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rank
        |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) WHERE rank <= 3),
        |h AS (SELECT e.qid, count(*) AS n_hits FROM ex e JOIN an USING (qid, cid) GROUP BY e.qid),
        |t AS (SELECT qid, count(*) AS n_exact FROM ex GROUP BY qid)
        |SELECT t.qid, coalesce(h.n_hits, 0) AS n_hits, t.n_exact,
        | coalesce(h.n_hits, 0) / t.n_exact AS recall
        |FROM t LEFT JOIN h USING (qid)
        |ORDER BY t.qid""".stripMargin),

    "q103_ann_recall" -> sub("""WITH --VEC--,
        |--BKT--,
        |ex AS (
        | SELECT qid, cid FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rank
        |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) WHERE rank <= 3),
        |an AS (
        | SELECT qid, cid FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rank
        |  FROM b a JOIN b b ON a.vec_id < 5 AND bit_count(xor(b.bucket, a.bucket)) <= 2 AND b.vec_id <> a.vec_id)
        | WHERE rank <= 3),
        |h AS (SELECT e.qid, count(*) AS n_hits FROM ex e JOIN an USING (qid, cid) GROUP BY e.qid),
        |t AS (SELECT qid, count(*) AS n_exact FROM ex GROUP BY qid)
        |SELECT t.qid, coalesce(h.n_hits, 0) AS n_hits, t.n_exact,
        | coalesce(h.n_hits, 0) / t.n_exact AS recall
        |FROM t LEFT JOIN h USING (qid)
        |ORDER BY t.qid""".stripMargin),

    "q97_hybrid_retrieval" -> sub("""WITH --VEC--,
        |dense AS (
        | SELECT a.vec_id AS qid, b.vec_id AS id,
        |  row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rank_d
        | FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
        |sh AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))) AS sh
        | FROM documents),
        |hk AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS hk FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM hk GROUP BY doc_id),
        |cm AS (
        | SELECT a.doc_id AS qid, b.doc_id AS id, count(*) AS common
        | FROM hk a JOIN hk b ON a.hk = b.hk AND a.doc_id < 5 AND b.doc_id <> a.doc_id
        | GROUP BY 1, 2),
        |lex AS (
        | SELECT qid, id,
        |  row_number() OVER (PARTITION BY qid
        |    ORDER BY common / (sq.sz + sc.sz - common) DESC, id) AS rank_l
        | FROM cm JOIN sizes sq ON sq.doc_id = qid JOIN sizes sc ON sc.doc_id = id),
        |f AS (
        | SELECT coalesce(d.qid, l.qid) AS qid, coalesce(d.id, l.id) AS id,
        |  coalesce(CAST(1 AS DOUBLE) / (60 + d.rank_d), 0)
        |   + coalesce(CAST(1 AS DOUBLE) / (60 + l.rank_l), 0) AS rrf
        | FROM dense d FULL OUTER JOIN lex l ON d.qid = l.qid AND d.id = l.id)
        |SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id) AS INTEGER) AS rank,
        | id, rrf
        |FROM f
        |QUALIFY rank <= 3
        |ORDER BY qid, rank""".stripMargin),

    "q151_sq_search" -> sub("""WITH --VEC--,
        |--SQ--
        |SELECT qid, rank, cid, adc, cos FROM sqan ORDER BY qid, rank""".stripMargin),

    "q152_sq_recall" -> sub("""WITH --VEC--,
        |--SQ--,
        |ex AS (
        | SELECT qid, cid FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rank
        |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) WHERE rank <= 3),
        |h AS (SELECT e.qid, count(*) AS n_hits FROM ex e JOIN sqan a ON a.qid = e.qid AND a.cid = e.cid GROUP BY e.qid),
        |t AS (SELECT qid, count(*) AS n_exact FROM ex GROUP BY qid)
        |SELECT t.qid, coalesce(h.n_hits, 0) AS n_hits, t.n_exact,
        | coalesce(h.n_hits, 0) / t.n_exact AS recall
        |FROM t LEFT JOIN h USING (qid)
        |ORDER BY t.qid""".stripMargin),

    "q153_matryoshka_recall" -> sub(s"""WITH --VEC--,
        |${Seq(8, 16, 32).map(truncCte).mkString(",\n")},
        |ann AS (${Seq(8, 16, 32).map(dp => s"SELECT CAST($dp AS INTEGER) AS dims, qid, cid FROM tk$dp").mkString(" UNION ALL ")}),
        |ex AS (
        | SELECT qid, cid FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rank
        |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) WHERE rank <= 3),
        |h AS (SELECT ann.dims, ann.qid, count(*) AS n_hits FROM ann JOIN ex ON ann.qid = ex.qid AND ann.cid = ex.cid GROUP BY 1, 2),
        |g AS (SELECT dims, qid FROM ann GROUP BY 1, 2),
        |t AS (SELECT qid, count(*) AS n_exact FROM ex GROUP BY qid)
        |SELECT g.dims, g.qid, coalesce(h.n_hits, 0) AS n_hits, t.n_exact,
        | coalesce(h.n_hits, 0) / t.n_exact AS recall
        |FROM g JOIN t USING (qid) LEFT JOIN h ON h.dims = g.dims AND h.qid = g.qid
        |ORDER BY g.dims, g.qid""".stripMargin),

    "q189_blockmax_mips" -> sub("""WITH --VEC--,
        |wv AS (SELECT vec_id, label AS blk,
        |  list_transform(range(1, 65), i -> v[i] +
        |   CASE WHEN i = label * 6 + 1 THEN CAST(2.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS w
        | FROM e),
        |pe AS (SELECT blk, CAST(i - 1 AS INTEGER) AS pos, w[CAST(i AS INTEGER)] AS x
        |       FROM wv, range(1, 65) t(i)),
        |sums AS (SELECT blk, pos,
        |  CAST(sum(CAST(floor(x * 16777216) AS BIGINT)) AS BIGINT) AS sxn, count(*) AS nn
        | FROM pe GROUP BY blk, pos),
        |cent AS (SELECT blk,
        |  list(CAST(sxn AS DOUBLE) / CAST(nn * 16777216 AS DOUBLE) ORDER BY pos) AS cv
        | FROM sums GROUP BY blk),
        |rad AS (SELECT v.blk,
        |  max(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),
        |    i -> (v.w[i] - c.cv[i]) * (v.w[i] - c.cv[i]))), (s, x) -> s + x))) AS r
        | FROM wv v JOIN cent c ON c.blk = v.blk GROUP BY v.blk),
        |q AS (SELECT vec_id AS qid, w AS qv,
        |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),
        |    i -> w[i] * w[i])), (s, x) -> s + x)) AS qn
        | FROM wv WHERE vec_id < 5),
        |ub AS (SELECT q.qid, c.blk,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),
        |    i -> q.qv[i] * c.cv[i])), (s, x) -> s + x) + q.qn * r.r AS ub
        | FROM q CROSS JOIN cent c JOIN rad r ON r.blk = c.blk),
        |fr AS (SELECT qid, blk, ub,
        |  row_number() OVER (PARTITION BY qid ORDER BY ub DESC, blk) AS brn FROM ub),
        |d1 AS (SELECT f.qid, b.vec_id AS cid,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),
        |    i -> q.qv[i] * b.w[i])), (s, x) -> s + x) AS dot
        | FROM fr f JOIN wv b ON b.blk = f.blk JOIN q ON q.qid = f.qid
        | WHERE f.brn <= 2 AND b.vec_id <> f.qid),
        |sk AS (SELECT qid, dot AS sk FROM (
        |  SELECT qid, cid, dot, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rn
        |  FROM d1) WHERE rn = 3),
        |vio AS (SELECT f.qid, f.blk FROM fr f JOIN sk s ON s.qid = f.qid
        |        WHERE f.brn > 2 AND f.ub >= s.sk),
        |sc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_scanned FROM (
        |  SELECT qid, blk FROM fr WHERE brn <= 2 UNION ALL SELECT qid, blk FROM vio)
        | GROUP BY qid),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks FROM cent),
        |ex AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),
        |    i -> a.w[i] * b.w[i])), (s, x) -> s + x) AS dot
        | FROM wv a JOIN wv b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
        |top AS (SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS INTEGER) AS rank,
        |  cid, dot FROM ex QUALIFY rank <= 3)
        |SELECT t.qid, t.rank, t.cid, t.dot, s.n_scanned, nb.n_blocks - s.n_scanned AS n_pruned
        |FROM top t JOIN sc s USING (qid) CROSS JOIN nb
        |ORDER BY t.qid, t.rank""".stripMargin),

    "q45_cosine_topk" -> sub("""WITH --VEC--,
        |scored AS (
        | SELECT a.vec_id AS qid, b.vec_id AS cid,
        |  --DOT-- / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
        | FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id)
        |SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank,
        | cid, cos
        |FROM scored
        |QUALIFY rank <= 3
        |ORDER BY qid, rank""".stripMargin),

    "q262_ivf_index_build" -> sub(s"""WITH --VEC--,
        |--KM--,
        |cnt AS (
        | SELECT cluster, count(*) AS n_vectors,
        |  sum(CAST(floor(nsq * 16777216) AS BIGINT)) AS nsq_fp
        | FROM af GROUP BY cluster)
        |SELECT CAST(c.cluster AS INTEGER) AS cluster,
        | CAST(coalesce(t.n_vectors, 0) AS BIGINT) AS n_vectors,
        | round(list_reduce(list_prepend(CAST(0 AS DOUBLE), c.cv), (a, x) -> a + x), 6) AS centroid_sum,
        | CAST(coalesce(t.nsq_fp, 0) AS BIGINT) AS nsq_fp
        |FROM c$KmIters c LEFT JOIN cnt t USING (cluster)
        |ORDER BY cluster""".stripMargin),

    "q263_ivf_index_search" -> ivfServeOracleSql,

    "q270_ivf_index_append" -> sub(s"""WITH --VEC--,
        |nb AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
        |${kmCteGen("nb", "n")},
        |ps AS (
        | SELECT m.vec_id AS qid, m.v, m.nsq, c.cluster,
        |  ${kmDotSql("m.v", "c.cv")} - 0.5 * ${kmDotSql("c.cv", "c.cv")} AS score
        | FROM n m CROSS JOIN c$KmIters c WHERE m.vec_id < 5),
        |pr AS (
        | SELECT qid, v, nsq, cluster FROM (
        |  SELECT qid, v, nsq, cluster,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cluster) AS rn
        |  FROM ps) WHERE rn <= 2),
        |scored AS (
        | SELECT p.qid, a.vec_id AS cid, a.cluster,
        |  ${kmDotSql("p.v", "a.v")} / (sqrt(p.nsq) * sqrt(a.nsq)) AS cos
        | FROM af a JOIN pr p ON a.cluster = p.cluster AND a.vec_id <> p.qid)
        |SELECT qid,
        | CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank,
        | cid, CAST(cluster AS INTEGER) AS cluster, cos,
        | (cid % 5 = 0) AS is_delta
        |FROM scored
        |QUALIFY rank <= 3
        |ORDER BY qid, rank""".stripMargin),

    // Two serves under ONE frozen training (base-trained centroids): the
    // pinned generation assigns only the base subset, the latest assigns
    // the full corpus; probes share queries and probed cells (same
    // centroids), candidates differ by store snapshot.
    "q275_index_generations" -> sub(s"""WITH --VEC--,
        |nb AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
        |${kmCteGen("nb", "nb")},
        |s_af2 AS (
        | SELECT m.vec_id, m.v, m.nsq, c.cluster,
        |  ${kmDotSql("m.v", "c.cv")} - 0.5 * ${kmDotSql("c.cv", "c.cv")} AS score
        | FROM n m CROSS JOIN c$KmIters c),
        |af2 AS (
        | SELECT vec_id, v, nsq, cluster FROM (
        |  SELECT vec_id, v, nsq, cluster,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cluster) AS rn
        |  FROM s_af2) WHERE rn = 1),
        |ps AS (
        | SELECT m.vec_id AS qid, m.v, m.nsq, c.cluster,
        |  ${kmDotSql("m.v", "c.cv")} - 0.5 * ${kmDotSql("c.cv", "c.cv")} AS score
        | FROM nb m CROSS JOIN c$KmIters c WHERE m.vec_id < 5),
        |pr AS (
        | SELECT qid, v, nsq, cluster FROM (
        |  SELECT qid, v, nsq, cluster,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cluster) AS rn
        |  FROM ps) WHERE rn <= 2),
        |sp AS (
        | SELECT p.qid, a.vec_id AS cid,
        |  ${kmDotSql("p.v", "a.v")} / (sqrt(p.nsq) * sqrt(a.nsq)) AS cos
        | FROM af a JOIN pr p ON a.cluster = p.cluster AND a.vec_id <> p.qid),
        |rp AS (
        | SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank,
        |  cid, cos FROM sp QUALIFY rank <= 3),
        |sl AS (
        | SELECT p.qid, a.vec_id AS cid,
        |  ${kmDotSql("p.v", "a.v")} / (sqrt(p.nsq) * sqrt(a.nsq)) AS cos
        | FROM af2 a JOIN pr p ON a.cluster = p.cluster AND a.vec_id <> p.qid),
        |rl AS (
        | SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank,
        |  cid, cos FROM sl QUALIFY rank <= 3)
        |SELECT rp.qid, rp.rank, rp.cid AS cid_pinned, rp.cos AS cos_pinned,
        | rl.cid AS cid_latest, rl.cos AS cos_latest,
        | (rl.cid % 5 = 0) AS is_delta_latest
        |FROM rp JOIN rl USING (qid, rank)
        |ORDER BY qid, rank""".stripMargin))
}
