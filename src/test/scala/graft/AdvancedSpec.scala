package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-9 Advanced-module invariants: the IVM delta-join identity, the
  * schema-evolution union == physical mergeSchema read, and Shapley
  * efficiency/symmetry on a hand-computable game.
  */
class AdvancedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  test("deltaJoin equals full join minus old join (insert-only IVM identity)") {
    import spark.implicits._
    val a0 = Seq((1, "a1"), (2, "a2")).toDF("k", "av")
    val da = Seq((2, "a2b"), (3, "a3")).toDF("k", "av")
    val b0 = Seq((1, "b1"), (3, "b3")).toDF("k", "bv")
    val db = Seq((2, "b2"), (3, "b3b")).toDF("k", "bv")
    val delta = Graft.deltaJoin(a0, da, b0, db, Seq("k")).drop("ivm_term")
    val full = a0.unionByName(da).join(b0.unionByName(db), Seq("k"))
    val old = a0.join(b0, Seq("k"))
    // multiset equality: delta == full \ old and old ∪ delta == full
    assert(delta.exceptAll(full.exceptAll(old)).isEmpty)
    assert(full.exceptAll(old).exceptAll(delta).isEmpty)
    assert(old.unionByName(delta).exceptAll(full).isEmpty)
  }

  test("deltaJoin terms partition the delta (each row tagged by its provenance)") {
    import spark.implicits._
    val a0 = Seq((1, "x")).toDF("k", "av")
    val da = Seq((2, "y")).toDF("k", "av")
    val b0 = Seq((2, "p")).toDF("k", "bv")
    val db = Seq((1, "q"), (2, "r")).toDF("k", "bv")
    val byTerm = Graft.deltaJoin(a0, da, b0, db, Seq("k"))
      .groupBy("ivm_term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // dA⋈B0 = (2,y,p); A0⋈dB = (1,x,q); dA⋈dB = (2,y,r)
    assert(byTerm === Map("dA_B" -> 1L, "A_dB" -> 1L, "dA_dB" -> 1L))
  }

  test("q240's union form equals a physical parquet mergeSchema read over evolving snapshots") {
    import spark.implicits._
    val base = queries.StatsStore.scratchDir("graft_evo")
    Seq((1L, "a", "1.0")).toDF("pkg_id", "name", "version")
      .write.parquet(s"$base/gen=0")
    Seq((2L, "b", "2.0", "x86_64")).toDF("pkg_id", "name", "version", "arch")
      .write.parquet(s"$base/gen=1")
    Seq((3L, "c", 7L)).toDF("pkg_id", "name", "size_mb")
      .write.parquet(s"$base/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(base)
      .select("pkg_id", "name", "version", "arch", "size_mb")
    val union = Seq((1L, "a", "1.0")).toDF("pkg_id", "name", "version")
      .unionByName(Seq((2L, "b", "2.0", "x86_64")).toDF("pkg_id", "name", "version", "arch"),
        allowMissingColumns = true)
      .unionByName(Seq((3L, "c", 7L)).toDF("pkg_id", "name", "size_mb"),
        allowMissingColumns = true)
      .select("pkg_id", "name", "version", "arch", "size_mb")
    assert(merged.exceptAll(union).isEmpty && union.exceptAll(merged).isEmpty)
  }

  test("deltaJoin maintains a join view across a sequence of micro-batches") {
    import spark.implicits._
    // both sides arrive in 3 batches; after each, view = view ∪ deltaJoin
    val aB = Seq(Seq((1, "a1"), (2, "a2")), Seq((3, "a3")), Seq((4, "a4"), (1, "a1x")))
    val bB = Seq(Seq((2, "b2")), Seq((1, "b1"), (4, "b4")), Seq((3, "b3")))
    var aOld = Seq.empty[(Int, String)].toDF("k", "av")
    var bOld = Seq.empty[(Int, String)].toDF("k", "bv")
    var view = aOld.join(bOld, Seq("k"))
    for ((da, db) <- aB.zip(bB)) {
      val (daDF, dbDF) = (da.toDF("k", "av"), db.toDF("k", "bv"))
      view = view.unionByName(Graft.deltaJoin(aOld, daDF, bOld, dbDF, Seq("k")).drop("ivm_term"))
      aOld = aOld.unionByName(daDF)
      bOld = bOld.unionByName(dbDF)
      val full = aOld.join(bOld, Seq("k"))
      assert(view.exceptAll(full).isEmpty && full.exceptAll(view).isEmpty,
        "maintained view must equal the full join after every batch")
    }
    assert(view.count() === 5) // (1,a1,b1),(1,a1x,b1),(2,..),(3,..),(4,..)
  }

  test("IVM x streaming: foreachBatch deltaJoin maintains a two-sided join view == batch") {
    // a multiplexed CDC feed: ONE stream carries both dim inserts (signup
    // events) and facts (everything else), three micro-batches
    // (maxFilesPerTrigger=1 over a 3-file split); each batch advances the
    // maintained join view by deltaJoin ONLY — ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB —
    // and the final view must equal the one-shot batch join. This is the
    // q239 identity deployed continuously: join state in a store, churn
    // joined per micro-batch, never a history rescan.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val spark0 = spark
    val base = queries.StatsStore.scratchDir("graft_ivm_stream")
    val ev = Tables.events(spark0, SparkTestHarness.Sf0001)
      .select(col("user_id"), col("event_type"), col("event_id"))
    (0 until 3).foreach { i =>
      ev.filter(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.parquet(s"$base/part$i")
    }
    val schema = ev.schema
    type DF = org.apache.spark.sql.DataFrame
    val aState = new java.util.concurrent.atomic.AtomicReference[DF](null)
    val bState = new java.util.concurrent.atomic.AtomicReference[DF](null)
    val view = new java.util.concurrent.atomic.AtomicReference[DF](null)
    val q = spark0.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(base)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DF, _: Long) =>
        val da = batch.filter(col("event_type") =!= "signup")
          .select(col("user_id"), col("event_id").as("fact_id")).localCheckpoint(true)
        val db = batch.filter(col("event_type") === "signup")
          .select(col("user_id"), col("event_id").as("dim_id")).localCheckpoint(true)
        val a0 = Option(aState.get).getOrElse(da.filter(lit(false)))
        val b0 = Option(bState.get).getOrElse(db.filter(lit(false)))
        val dj = Graft.deltaJoin(a0, da, b0, db, Seq("user_id"))
          .drop("ivm_term").localCheckpoint(true)
        view.getAndUpdate(v => if (v == null) dj else v.unionByName(dj).localCheckpoint(true))
        aState.set(a0.unionByName(da).localCheckpoint(true))
        bState.set(b0.unionByName(db).localCheckpoint(true))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "streaming deltaJoin query timed out")
    val facts = ev.filter(col("event_type") =!= "signup")
      .select(col("user_id"), col("event_id").as("fact_id"))
    val dims = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("dim_id"))
    val full = facts.join(dims, Seq("user_id"))
    assert(view.get() != null, "no micro-batch arrived")
    assert(view.get().exceptAll(full).isEmpty && full.exceptAll(view.get()).isEmpty,
      "incrementally maintained join view must equal the batch join")
  }

  test("Shapley weights are efficient and symmetric on a hand-computed 2-channel game") {
    // two users: u1 touched {view}, u2 touched {view, click}; both convert.
    // v(∅)=0, v({v})=1, v({c})=0, v({v,c})=2.
    // Shapley(view) = 1.5, Shapley(click) = 0.5 → scaled by 2! = 2: 3 and 1.
    def v(s: Set[String]): Long = Seq(Set("view"), Set("view", "click"))
      .count(m => m.subsetOf(s)).toLong
    def shap2(i: String, other: String): Long =
      (v(Set(i)) - v(Set.empty)) + (v(Set(i, other)) - v(Set(other)))
    assert(shap2("view", "click") === 3L)
    assert(shap2("click", "view") === 1L)
    assert(shap2("view", "click") + shap2("click", "view") === 2L * v(Set("view", "click")))
  }
}
