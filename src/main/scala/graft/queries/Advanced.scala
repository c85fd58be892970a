package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.GraftFunctions

/** Round-9 additions (SURVEY.md §2 annex): a deterministic mergeable HLL
  * sketch judged register-for-register, row-pattern recognition over event
  * sequences (the MATCH_RECOGNIZE shape), binary-quantized Hamming ANN
  * with exact rerank, time-respecting temporal reachability, and CUSUM
  * changepoint detection. Every judged number is integer fixed-point or
  * IEEE-identical double work, same oracle-parity discipline as the rest
  * of the suite.
  */
object Advanced {
  type QFn = (SparkSession, String) => DataFrame

  /** 2^54 — splits the 60-bit md5-derived hash into (6-bit bucket, 54-bit
    * remainder) on both engines with pure integer div/mod.
    */
  private[queries] val HllSplit = "18014398509481984"

  /** alpha_64 · m² · 2^55 as an exact integer: 461632·4096·2^55 with
    * alpha_64 = 0.7213/(1 + 1.079/64) = 461632/650790 exactly.
    */
  private[queries] val HllEstNum = "cast(1890844672 as decimal(38,0)) * cast(36028797018963968 as decimal(38,0))"

  val queries: Seq[(String, QFn)] = Seq(

    // Deterministic mergeable HyperLogLog (m = 64) — the sketch q19's
    // builtin approx_count_distinct cannot expose: functions/HllSketch is
    // a custom Aggregator whose registers and integer estimate the DuckDB
    // oracle rebuilds EXACTLY, so the approximation itself is
    // hash-verified, not rows-only. ROLLUP exercises mergeability at two
    // granularities (the 'ALL' sketch is the element-wise max of the
    // per-status sketches — the property that makes HLL state reusable
    // across partitions, days, and rollup levels); err_ppm judges the
    // estimator against the exact distinct through the C-offset floor
    // trick (numerator kept positive so Spark div == DuckDB //).
    // Scale notes (100 TB): 64 bytes of state per group with map-side
    // partial aggregation — distinct counting without a distinct shuffle.
    "q230_hll_sketch" -> { (s, dir) =>
      val hll = udaf(new graft.functions.HllSketch())
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"))
        .agg(hll(col("o_custkey").cast("string")).as("regs"),
          countDistinct(col("o_custkey")).as("exact_distinct"))
        .withColumn("status", coalesce(col("o_orderstatus"), lit("ALL")))
        .withColumn("n_zero", expr(
          "aggregate(regs, cast(0 as bigint), (a, r) -> a + if(r = 0, cast(1 as bigint), cast(0 as bigint)))"))
        .withColumn("max_reg", expr("array_max(regs)"))
        .withColumn("sum_scaled", expr(
          "aggregate(regs, cast(0 as bigint), (a, r) -> a + shiftleft(cast(1 as bigint), cast(55 - r as int)))"))
        .withColumn("raw_est", expr(
          s"cast(($HllEstNum) div (650790 * cast(sum_scaled as decimal(38,0))) as bigint)"))
        .withColumn("err_ppm", expr(
          "((raw_est - exact_distinct) * 1000000 + 1000000000 * exact_distinct) div exact_distinct - 1000000000"))
        .select("status", "n_zero", "max_reg", "sum_scaled", "raw_est",
          "exact_distinct", "err_ppm")
        .orderBy("status")
    },

    // Row-pattern recognition over per-user event sequences — the
    // MATCH_RECOGNIZE capability re-expressed relationally: each user's
    // events collapse (ordered by ts, event_id — a deterministic total
    // order) into a code string, and regexes state the patterns: `vc*p`
    // (view, any clicks, then purchase — the browse-to-buy path) counted
    // NON-OVERLAPPING, and `e[^p]*p` (an error eventually recovered by a
    // purchase). First-match position/length come from a lazy prefix
    // group, so the engine also answers WHERE the pattern fired.
    // Scale notes (100 TB): state per user is its event-code string
    // (sessions in practice — q22's session keys bound it); the regex runs
    // data-parallel per row, no cross-row shuffle after the ONE groupBy.
    "q231_pattern_funnel" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("code", expr("substring(event_type, 1, 1)"))
        .groupBy("user_id")
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(ts, event_id, code))), x -> x.code), '')")
          .as("seq"))
        .withColumn("n_buy", expr("size(regexp_extract_all(seq, 'vc*p', 0))"))
        .withColumn("first_buy_pos", expr(
          "case when n_buy > 0 then length(regexp_extract(seq, '^(.*?)(vc*p)', 1)) + 1 else 0 end"))
        .withColumn("first_buy_len", expr(
          "case when n_buy > 0 then length(regexp_extract(seq, '(vc*p)', 1)) else 0 end"))
        .withColumn("n_error_to_buy", expr("size(regexp_extract_all(seq, 'e[^p]*p', 0))"))
        .filter(col("n_buy") > 0 || col("n_error_to_buy") > 0)
        .select("user_id", "n_buy", "first_buy_pos", "first_buy_len", "n_error_to_buy")
        .orderBy("user_id")
    },

    // Binary-quantized ANN — the fourth compression layout beside PQ
    // (q137), SQ8 (q151), and Matryoshka (q153): every 64-dim vector
    // collapses to its sign bits packed into ONE 64-bit word, candidate
    // scoring is a single xor + popcount (bit_count) per pair — 8 bytes
    // and ~2 instructions against 512 bytes and 64 FMAs for the exact
    // scan — and the top-50 Hamming shortlist pays the exact cosine
    // rerank. Judged: the reranked top-3 with both the Hamming signal and
    // the exact score (the oracle derives Hamming semantically, as the
    // count of sign-disagreeing dimensions — packing is proven faithful).
    // Scale notes (100 TB): sign-bit codes are THE bandwidth floor of
    // quantized search (64x smaller than float32); the scan stays
    // broadcast-NLJ shaped like q45/q137 with the query side tiny.
    "q232_bq_hamming" -> { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      val packed = Vectors.vecsFor(s, dir).withColumn("word", expr(
        """aggregate(sequence(1, 64), cast(0 as bigint),
           (a, i) -> a + if(element_at(v, i) >= cast(0.0 as double),
                            shiftleft(cast(1 as bigint), i - 1), cast(0 as bigint)))"""))
      val q = packed.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nsq").as("qn"), col("word").as("qw"))
      val cand = packed.select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nsq").as("cn"), col("word").as("cw"))
      val wh = Window.partitionBy("qid").orderBy(col("hamming"), col("cid"))
      val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
      cand.join(broadcast(q), col("cid") =!= col("qid"))
        .withColumn("hamming", expr("bit_count(qw ^ cw)"))
        .withColumn("hr", row_number().over(wh)).filter(col("hr") <= 50)
        .withColumn("cos", expr("array_dot(qv, cv)") / (sqrt(col("qn")) * sqrt(col("cn"))))
        .withColumn("rank", row_number().over(wr)).filter(col("rank") <= 3)
        .select("qid", "rank", "cid", "hamming", "cos")
        .orderBy("qid", "rank")
    },

    // Time-respecting reachability (operators/TemporalReach) — static
    // closure says WHETHER a dependency flows from the root, temporal
    // closure says WHEN: each resolution edge carries a deterministic
    // md5-derived epoch (1..8, "became resolvable in snapshot t"), and a
    // chain is valid only if epochs never decrease along it. Judged per
    // statically-reachable node: BFS depth beside earliest feasible epoch,
    // with earliest = -1 marking the genuinely temporal phenomenon — a
    // node every chain to which goes late-edge-then-early-edge is
    // statically reachable but temporally unreachable.
    "q233_temporal_reach" -> { (s, dir) =>
      val edges = Resolution.resolvedEdges(s, dir)
        .withColumn("t", expr(
          "1 + cast(conv(substring(md5(concat(name, '>', dep)), 1, 2), 16, 10) as int) % 8"))
      val static = graft.operators.Closure.reachable(s, edges.select("name", "dep"), "pkg-00")
      val temporal = graft.operators.TemporalReach.run(s, edges, "pkg-00")
      static.join(temporal.select(col("name"), col("earliest")), Seq("name"), "left")
        .select(col("name"), col("depth"),
          coalesce(col("earliest"), lit(-1L)).as("earliest"))
        .orderBy("name")
    },

    // CUSUM changepoint detection over the daily order-revenue series per
    // priority class — the classic "did the level shift, and when" monitor
    // beside q169's rolling z-score (which flags points, not segments).
    // All in exact integers: daily revenue in floor-derived cents, and the
    // CUSUM statistic S_t = Σ(x_i - mean) carried as n·cum_t - t·total
    // (the n-scaled form that never divides), so argmax|S| and the
    // before/after mean levels are bit-stable. The changepoint is the
    // day maximizing |S|, earliest day on ties.
    // Scale notes (100 TB): one narrow aggregation to days, then windows
    // over the tiny per-group day series — the heavy table is touched once.
    "q234_cusum_changepoint" -> { (s, dir) =>
      val daily = Tables.orders(s, dir)
        .withColumn("d", expr("date_format(o_orderdate, 'yyyy-MM-dd')"))
        .withColumn("cents", expr(
          "cast(floor(o_totalprice * cast(100 as double) + cast(0.5 as double)) as bigint)"))
        .groupBy(col("o_orderpriority").as("prio"), col("d"))
        .agg(sum("cents").as("x"))
      val w = Window.partitionBy("prio").orderBy("d")
      val tot = daily.groupBy("prio").agg(sum("x").as("tot"), count(lit(1)).as("n"))
      val wpick = Window.partitionBy("prio").orderBy(abs(col("s")).desc, col("d"))
      daily
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("cum", sum("x").over(w))
        .join(tot, "prio")
        .withColumn("s", col("n") * col("cum") - col("t") * col("tot"))
        .withColumn("rn", row_number().over(wpick)).filter(col("rn") === 1)
        .select(col("prio"), col("d").as("cp_date"), abs(col("s")).as("s_max_abs"),
          col("n").as("n_days"),
          expr("cum div t").as("mean_before_c"),
          // the argmax can land on the LAST day (single-day groups, or a
          // constant series where every S=0) — guard the n=t division:
          // Spark div would yield NULL but DuckDB // raises, so the CASE
          // must live on BOTH sides
          expr("CASE WHEN n > t THEN (tot - cum) div (n - t) END").as("mean_after_c"))
        .orderBy("prio")
    },

    // Two-sample Kolmogorov-Smirnov test — "did these two segments draw
    // from the same price distribution", answered EXACTLY: the KS
    // statistic sup|F1−F2| is carried as the integer cross-multiplication
    // |cum1·n2 − cum2·n1| (never a float ECDF), the argmax price is
    // deterministic (earliest on ties), and d_ppm floors through positive
    // integer division. Judged: both sample sizes, the supremum point,
    // the scaled statistic, and d_ppm.
    // Scale notes (100 TB): one aggregation to distinct values, then a
    // prefix-sum window; at corpus scale the window runs over a BINNED
    // value domain (equi-depth bins from q124's machinery) — the exact
    // form here is the fixture-sized instantiation.
    "q235_ks_test" -> { (s, dir) =>
      val seg = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      val per = seg.groupBy(col("o_totalprice").as("x"))
        .agg(sum(when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)).as("ca"),
          sum(when(col("c_mktsegment") === "MACHINERY", 1L).otherwise(0L)).as("cb"))
      val w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = per.agg(sum("ca").as("na"), sum("cb").as("nb"))
      val wpick = Window.orderBy(col("d_scaled").desc, col("x"))
      per
        .withColumn("cuma", sum("ca").over(w))
        .withColumn("cumb", sum("cb").over(w))
        .crossJoin(broadcast(tot))
        .withColumn("d_scaled", abs(col("cuma") * col("nb") - col("cumb") * col("na")))
        .withColumn("rn", row_number().over(wpick)).filter(col("rn") === 1)
        .select(col("na"), col("nb"), col("x").as("sup_at"), col("d_scaled"),
          expr("(1000000 * d_scaled) div (na * nb)").as("d_ppm"))
    },

    // Gap-constrained sequential patterns — the PrefixSpan-style "a THEN b
    // within k events" mining q149's contiguous 3-grams cannot express:
    // per-user event streams in a deterministic total order, successor
    // pairs at gaps 1..3 materialized through lead() (NO self-join — the
    // pair relation is three window columns unioned), support and
    // distinct-user reach per ordered pair, top-15.
    // Scale notes (100 TB): lead() needs only the per-user sort the
    // sessionization family already pays — contrast a positional
    // self-join, which shuffles the stream twice and explodes on hot
    // users; k is a constant, so state is k values per row.
    "q236_gap_sequences" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val base = Tables.events(s, dir).select(col("user_id"), col("ts"),
        col("event_id"), col("event_type").as("a"))
      val pairs = (1 to 3).map(k =>
          base.withColumn("b", lead(col("a"), k).over(w))
            .withColumn("gap", lit(k))
            .filter(col("b").isNotNull)
            .select(col("user_id"), col("a"), col("b"), col("gap")))
        .reduce(_ unionAll _)
      val wtop = Window.orderBy(col("support").desc, col("a"), col("b"))
      pairs.groupBy("a", "b")
        .agg(count(lit(1)).as("support"),
          countDistinct(col("user_id")).as("n_users"),
          sum(when(col("gap") === 1, 1L).otherwise(0L)).as("adjacent"))
        .withColumn("rank", row_number().over(wtop)).filter(col("rank") <= 15)
        .select("rank", "a", "b", "support", "n_users", "adjacent")
        .orderBy("rank")
    },

    // Two-factor OLS (price ~ quantity + discount per returnflag) solved
    // in CLOSED FORM from exact integer moments: every sum (Σx1, Σx1x2,
    // Σx1y, ...) is an int64/decimal(38,0) over cents and basis points —
    // no float accumulates — and the normal-equation solve (Cramer's
    // rule on the centered scatter matrix) goes through exact decimal
    // products; only the FINAL coefficients divide, as correctly-rounded
    // double ops in an identical expression tree on both engines. The
    // multi-regressor companion to q196's single-factor exact-moment OLS.
    // Scale notes (100 TB): the whole regression is ONE map-side-partial
    // aggregation per group (9 sums) — moments stream, the 3x3 solve is
    // per-group constant work.
    "q237_ols_two_factor" -> { (s, dir) =>
      val m = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          expr("cast(l_quantity as bigint)").as("x1"),
          expr("cast(floor(l_discount * cast(100 as double) + cast(0.5 as double)) as bigint)").as("x2"),
          expr("cast(floor(l_extendedprice * cast(100 as double) + cast(0.5 as double)) as bigint)").as("y"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"), sum("x1").as("sx1"), sum("x2").as("sx2"),
          sum("y").as("sy"),
          sum(col("x1") * col("x1")).as("sx1x1"),
          sum(col("x2") * col("x2")).as("sx2x2"),
          sum(col("x1") * col("x2")).as("sx1x2"),
          sum(col("x1") * col("y")).as("sx1y"),
          sum(col("x2") * col("y")).as("sx2y"))
      val dec = (c: String) => s"cast($c as decimal(38,0))"
      m
        .withColumn("s11", expr(s"${dec("n")} * sx1x1 - ${dec("sx1")} * sx1"))
        .withColumn("s22", expr(s"${dec("n")} * sx2x2 - ${dec("sx2")} * sx2"))
        .withColumn("s12", expr(s"${dec("n")} * sx1x2 - ${dec("sx1")} * sx2"))
        .withColumn("s1y", expr(s"${dec("n")} * sx1y - ${dec("sx1")} * sy"))
        .withColumn("s2y", expr(s"${dec("n")} * sx2y - ${dec("sx2")} * sy"))
        .withColumn("det", expr("s11 * s22 - s12 * s12"))
        .withColumn("b1", expr(
          "cast(s22 * s1y - s12 * s2y as double) / cast(det as double)"))
        .withColumn("b2", expr(
          "cast(s11 * s2y - s12 * s1y as double) / cast(det as double)"))
        .withColumn("intercept", expr(
          "(cast(sy as double) - b1 * cast(sx1 as double) - b2 * cast(sx2 as double)) / cast(n as double)"))
        .select("flag", "n", "b1", "b2", "intercept")
        .orderBy("flag")
    },

    // Graph eccentricity profile — per-root BFS height over the resolution
    // graph (reusing the memoized multi-source closure every plan-size
    // query shares): ecc = max depth reached, n_reach = closure size, and
    // the diameter endpoints flagged via one window max. The distance
    // family's third member beside q158 closeness and q147 cheapest-chain.
    // Scale notes (100 TB): all roots advance in ONE multi-source BFS
    // (iterations = max depth, not Σ per-root), and this query adds only
    // a per-root aggregation over its (root, name, depth) output.
    "q238_eccentricity" -> { (s, dir) =>
      val ecc = Resolution.reachAllFrame(s, dir)
        .groupBy("root")
        .agg(max("depth").as("ecc"), count(lit(1)).as("n_reach"))
      ecc
        .crossJoin(broadcast(ecc.agg(max("ecc").as("diameter"))))
        .withColumn("is_diameter_endpoint", col("ecc") === col("diameter"))
        .select("root", "ecc", "n_reach", "diameter", "is_diameter_endpoint")
        .orderBy("root")
    },

    // Incremental JOIN maintenance (Graft.deltaJoin) — the IVM identity
    // ΔJ = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB judged END-TO-END: orders/lineitem
    // split at a date cut into state + insert-delta, the maintained view
    // = old join ∪ deltaJoin, and the judged aggregate carries BOTH the
    // business rollup (rows, revenue cents per status) and the per-term
    // row counts (the churn-proportionality evidence: the oracle derives
    // the same terms by classifying the FULL join — incremental
    // composition == full recompute, hash-proven).
    // Scale notes (100 TB): the view advances by joining only the churn —
    // both delta sides broadcastable; never a full-side rescan.
    "q239_incremental_join" -> { (s, dir) =>
      val cut = lit("2000-01-01").cast("timestamp_ntz")
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"),
          expr("cast(floor(l_extendedprice * (cast(1 as double) - l_discount) * cast(100 as double) + cast(0.5 as double)) as bigint)")
            .as("rev_c"))
      val (o0, od) = (o.filter(col("o_orderdate") < cut), o.filter(col("o_orderdate") >= cut))
      val (l0, ld) = (l.filter(col("l_shipdate") < cut), l.filter(col("l_shipdate") >= cut))
      val view = o0.join(l0, "o_orderkey").withColumn("ivm_term", lit("old"))
        .unionByName(graft.Graft.deltaJoin(o0, od, l0, ld, Seq("o_orderkey")))
      view.groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_rows"), sum("rev_c").as("revenue_c"),
          sum(when(col("ivm_term") === "old", 1L).otherwise(0L)).as("n_old"),
          sum(when(col("ivm_term") === "dA_B", 1L).otherwise(0L)).as("n_da_b"),
          sum(when(col("ivm_term") === "A_dB", 1L).otherwise(0L)).as("n_a_db"),
          sum(when(col("ivm_term") === "dA_dB", 1L).otherwise(0L)).as("n_da_db"))
        .orderBy("status")
    },

    // Schema-evolution read — three catalog generations with DIFFERENT
    // schemas (gen 0 ships (pkg_id, name, version); gen 1 adds arch;
    // gen 2 adds size_mb and DROPS version) unioned through
    // unionByName(allowMissingColumns) — the in-plan form of a parquet
    // mergeSchema read over snapshot directories (the physical write +
    // mergeSchema read-back equivalence is spec-pinned). Judged: the
    // per-generation presence audit a lakehouse runs before querying
    // across old snapshots — row counts and null-coverage per evolved
    // column, plus an aggregate over the coalesced view.
    "q240_schema_evolution" -> { (s, dir) =>
      val p = Tables.packages(s, dir).withColumn("gen", expr("cast(pkg_id % 3 as int)"))
      val g0 = p.filter(col("gen") === 0).select(col("gen"), col("pkg_id"), col("name"), col("version"))
      val g1 = p.filter(col("gen") === 1).select(col("gen"), col("pkg_id"), col("name"), col("version"), col("arch"))
      val g2 = p.filter(col("gen") === 2).select(col("gen"), col("pkg_id"), col("name"), col("size_mb"))
      val all = g0.unionByName(g1, allowMissingColumns = true)
        .unionByName(g2, allowMissingColumns = true)
      all.groupBy("gen")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("version").isNull.cast("long")).as("null_version"),
          sum(col("arch").isNull.cast("long")).as("null_arch"),
          sum(col("size_mb").isNull.cast("long")).as("null_size"),
          sum(coalesce(col("size_mb").cast("long"), lit(0L))).as("size_sum"))
        .orderBy("gen")
    },

    // Exact Shapley-value attribution — the game-theoretic upgrade of
    // q201's first/last/linear heuristics: channels are the event types a
    // user touches before their first purchase, the coalition value
    // v(S) = converters whose touched-channel set ⊆ S, and each channel's
    // Shapley share is computed EXACTLY over all 2^4 coalitions with the
    // factorial weights carried as integers scaled by 4! = 24 — no float,
    // no sampling. Efficiency (Σ shares = 24·(v(full)−v(∅))) is judged
    // arithmetic, not an assertion.
    // Scale notes (100 TB): the heavy table reduces to ≤16 mask counts in
    // ONE aggregation; the coalition lattice is a 16x16 broadcast
    // cross-walk — constant work after the scan, exact at any scale.
    "q241_shapley_attribution" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val firstBuy = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("ts").as("buy_ts"))
      val masks = ev.join(firstBuy, "user_id")
        .filter(col("ts") < col("buy_ts"))
        .withColumn("bit", expr(
          "case event_type when 'view' then 1 when 'click' then 2 when 'signup' then 4 when 'error' then 8 else 0 end"))
        .groupBy("user_id").agg(expr("bit_or(bit)").as("mask"))
      // converters with NO prior channel event carry mask 0 via the left join
      val conv = firstBuy.join(masks, Seq("user_id"), "left")
        .select(coalesce(col("mask"), lit(0)).as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("cnt"))
      val coalitions = s.range(16).select(col("id").cast("int").as("coal"))
      // v(S) = Σ counts over masks ⊆ S (bitwise containment cross-walk)
      val v = broadcast(coalitions).join(conv,
          expr("(mask & coal) = mask"), "left")
        .groupBy("coal").agg(sum(coalesce(col("cnt"), lit(0L))).as("v"))
      val channels = s.range(4).select(col("id").cast("int").as("ch"),
        expr("shiftleft(1, cast(id as int))").as("chbit"),
        element_at(array(lit("view"), lit("click"), lit("signup"), lit("error")),
          col("id").cast("int") + 1).as("channel"))
      // Σ over S ∌ ch of |S|!(3-|S|)!·(v(S∪ch) − v(S)), scaled by 4! = 24
      val terms = broadcast(channels)
        .join(v.select(col("coal").as("s0"), col("v").as("v0")), expr("(s0 & chbit) = 0"))
        .join(v.select(col("coal").as("s1"), col("v").as("v1")), expr("s1 = (s0 | chbit)"))
        .withColumn("w", expr(
          "case bit_count(s0) when 0 then 6 when 1 then 2 when 2 then 2 else 6 end"))
      terms.groupBy("ch", "channel")
        .agg(sum(col("w") * (col("v1") - col("v0"))).as("shap24"))
        .crossJoin(broadcast(v.filter(col("coal") === 15).select(col("v").as("v_full"))))
        .crossJoin(broadcast(v.filter(col("coal") === 0).select(col("v").as("v_empty"))))
        .select(col("channel"), col("shap24"), col("v_full"), col("v_empty"))
        .orderBy("ch")
    },

    // Distributed stable matching (operators/StableMatching) — parallel
    // Gale-Shapley deferred acceptance assigning supplier classes to part
    // classes over md5-derived mutual preferences: all free proposers
    // propose each round, acceptors keep the best suitor seen, rejections
    // accumulate relationally. The judged output carries the matching,
    // both sides' scores, AND the STABILITY CERTIFICATE: n_blocking
    // recomputed by re-scanning all n² pairs for a pair preferring each
    // other over their assignments (q226's discipline — verification is a
    // different computation than the construction; the oracle replays the
    // rounds and the same certificate, so 0 is hash-proven, not asserted).
    "q242_stable_matching" -> { (s, dir) =>
      val pr = Tables.supplier(s, dir)
        .select(expr("'sup-' || cast(s_suppkey % 10 as string)").as("proposer")).distinct()
      val ac = Tables.part(s, dir)
        .select(expr("'prt-' || cast(p_partkey % 10 as string)").as("acceptor")).distinct()
      val prefs = pr.crossJoin(ac)
        .withColumn("p_score", expr(
          "cast(conv(substring(md5('p:' || proposer || ':' || acceptor), 1, 7), 16, 10) as bigint)"))
        .withColumn("a_score", expr(
          "cast(conv(substring(md5('a:' || acceptor || ':' || proposer), 1, 7), 16, 10) as bigint)"))
      val m = graft.operators.StableMatching.run(s, prefs)
        .join(prefs, Seq("proposer", "acceptor"))
      val blocking = prefs.as("x")
        .join(m.select(col("proposer"), col("p_score").as("mp")), "proposer")
        .join(m.select(col("acceptor"), col("a_score").as("ma")), "acceptor")
        .filter(col("x.p_score") < col("mp") && col("x.a_score") < col("ma"))
        .agg(count(lit(1)).as("n_blocking"))
      m.crossJoin(broadcast(blocking))
        .select("proposer", "acceptor", "p_score", "a_score", "n_blocking")
        .orderBy("proposer")
    },

    // Snapshot retention / GC planning — the VACUUM-planning pass a
    // lakehouse runs before deleting history: under retention floor k=2,
    // an SCD2 interval is reclaimable iff valid_to < 2 (it can serve no
    // as-of read at or after the floor). Judged per name: history size,
    // reclaimable count, and the SAFETY PROOF as data — as-of(floor) row
    // counts over the full and the pruned history side by side (equal by
    // interval algebra; the judged equality documents the invariant GC
    // relies on).
    // Scale notes (100 TB): the plan is one filter + aggregation over
    // interval metadata — never touches record payloads; the deletes it
    // drives are partition drops when history is partitioned by valid_to.
    "q243_retention_gc" -> { (s, dir) =>
      val h = Packages.historyFrame(s, dir)
      val counts = h.groupBy("name")
        .agg(count(lit(1)).as("n_rows"),
          sum((col("valid_to") < 2).cast("long")).as("n_reclaimable"))
      val f = graft.Graft.asOf(h, 2).groupBy("name").agg(count(lit(1)).as("n_asof_full"))
      val p = graft.Graft.asOf(h.filter(col("valid_to") >= 2), 2)
        .groupBy("name").agg(count(lit(1)).as("n_asof_pruned"))
      counts.join(f, Seq("name"), "left").join(p, Seq("name"), "left")
        .select(col("name"), col("n_rows"), col("n_reclaimable"),
          coalesce(col("n_asof_full"), lit(0L)).as("n_asof_full"),
          coalesce(col("n_asof_pruned"), lit(0L)).as("n_asof_pruned"))
        .orderBy("name")
    },

    // Session calendarization — splitting sessions across the hour
    // boundaries they straddle and apportioning duration to each hour
    // touched (the billing/utilization transform behind every "active
    // sessions per hour" chart that can't just bucket start times). All
    // in integer microseconds: sessions are q22's 30-minute-gap islands,
    // hours a sequence() generator explode, in-hour overlap =
    // min(end, hour_end) − max(start, hour_start). n_entered counts
    // sessions that crossed INTO the hour — the boundary evidence.
    // Scale notes (100 TB): fan-out is bounded by session duration (a
    // session touches duration/3600s + 1 hours), the generator runs
    // map-side, and the final shuffle keys on the hour — time-partitioned
    // output for free.
    "q244_session_calendarize" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev_us", lag("us", 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
        .withColumn("sess_id", sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(min("us").as("s_us"), max("us").as("e_us"))
      val perHour = sess
        .withColumn("h", explode(expr("sequence(s_us div 3600000000, e_us div 3600000000)")))
        .withColumn("in_us",
          least(col("e_us"), (col("h") + 1) * 3600000000L) -
            greatest(col("s_us"), col("h") * 3600000000L))
      perHour.groupBy("h")
        .agg(count(lit(1)).as("n_active"),
          sum("in_us").as("total_in_us"),
          sum((col("h") * 3600000000L > col("s_us")).cast("long")).as("n_entered"))
        .withColumn("hour", expr("date_format(timestamp_micros(h * 3600000000), 'yyyy-MM-dd HH')"))
        .select("hour", "n_active", "total_in_us", "n_entered")
        .orderBy("hour")
    },

    // Bitemporal read — TRANSACTION time (when the catalog learned it:
    // the SCD2 history's snapshot intervals) crossed with BUSINESS
    // validity (when the record applies: a support window derived per
    // record): "as known at tx 2, which versions were valid at business
    // time 5". The q106/q227 as-of family covers the tx axis alone; this
    // adds the second axis the temporal-database literature insists on —
    // one read, two interval predicates, both pushable.
    "q245_bitemporal_read" -> { (s, dir) =>
      Packages.historyFrame(s, dir)
        .withColumn("biz_from", pmod(col("pkg_id"), lit(7)).cast("int"))
        .withColumn("biz_to", (col("biz_from") + 2 + pmod(col("pkg_id"), lit(3))).cast("int"))
        .filter(col("valid_from") <= 2 && col("valid_to") >= 2 &&
          col("biz_from") <= 5 && col("biz_to") >= 5)
        .select("pkg_id", "name", "version", "biz_from", "biz_to")
        .orderBy("pkg_id")
    },

    // Sketch bake-off — the engine's four distinct-counting layouts over
    // the SAME keys in one judged table: exact (countDistinct), the
    // 63-bit-word relational bitmap (exact AND mergeable, q225's layout),
    // the k=64 KMV order sketch (bounded state, estimate = (k−1)·2^60 div
    // kth — integer floor), and the m=64 deterministic HLL (q230's
    // registers). Every estimate and err_ppm is integer-exact, so the
    // accuracy TABLE itself is hash-verified — the judge reads the actual
    // error each sketch pays at this cardinality next to its state size.
    // Scale notes (100 TB): the four share one scan shape; state per
    // group is |distinct|/8 bits (bitmap), 512 B (KMV), 64 B (HLL) — the
    // table IS the engineering trade-off.
    "q246_sketch_bakeoff" -> { (s, dir) =>
      val keys = Tables.orders(s, dir).select(col("o_custkey").as("k"))
      val exact = keys.agg(countDistinct("k").as("exact_distinct"))
      val bitmap = keys.groupBy(expr("k div 63").as("w"))
        .agg(expr("bit_or(shiftleft(cast(1 as bigint), cast(k % 63 as int)))").as("bits"))
        .agg(sum(expr("bit_count(bits)")).as("est"))
        .withColumn("method", lit("bitmap"))
      val kth64 = udaf(new graft.functions.KthSmallestDistinct(64))
      val kmv = keys
        .select(expr("cast(conv(substring(md5(cast(k as string)), 1, 15), 16, 10) as bigint)").as("h"))
        .agg(kth64(col("h")).as("kth"))
        .select(expr(
          "cast((cast(63 as decimal(38,0)) * cast(1152921504606846976 as decimal(38,0))) div kth as bigint)")
          .as("est"))
        .withColumn("method", lit("kmv"))
      val hll = udaf(new graft.functions.HllSketch())
      val hllEst = keys.agg(hll(col("k").cast("string")).as("regs"))
        .withColumn("sum_scaled", expr(
          "aggregate(regs, cast(0 as bigint), (a, r) -> a + shiftleft(cast(1 as bigint), cast(55 - r as int)))"))
        .select(expr(
          s"cast(($HllEstNum) div (650790 * cast(sum_scaled as decimal(38,0))) as bigint)").as("est"))
        .withColumn("method", lit("hll"))
      val exactRow = exact.select(col("exact_distinct").as("est")).withColumn("method", lit("exact"))
      exactRow.unionByName(bitmap).unionByName(kmv).unionByName(hllEst)
        .crossJoin(broadcast(exact))
        .withColumn("err_ppm", expr(
          "cast((cast(est as decimal(38,0)) * 1000000 + cast(exact_distinct as decimal(38,0)) * 999000000) div exact_distinct - 1000000000 as bigint)"))
        .select(col("method"), col("est").as("estimate"), col("exact_distinct"), col("err_ppm"))
        .orderBy("method")
    },

    // Luby's maximal independent set (operators/MaximalIndependentSet) —
    // deterministic-coin symmetry breaking on the co-dependency
    // projection: per round a node enters the MIS iff its md5 priority
    // precedes every remaining neighbor's, winners' neighborhoods leave.
    // Judged per node (membership + selection round) WITH both
    // certificates recomputed by re-scan: n_violations (edges inside the
    // MIS — independence) and n_uncovered (non-members with no MIS
    // neighbor — maximality), both hash-proven 0. Rounds are O(log n)
    // expected — the property that makes this the 1000-executor
    // scheduling primitive, vs the diameter-bound closure loops.
    "q247_luby_mis" -> { (s, dir) =>
      val nodes = Tables.packageNames(s, dir).select("name")
      // ONE materialization of the co-dependency derivation (itself a
      // self-join): the operator's pinned adjacency copies AND the body's
      // verification passes (viol/covered) all read the cached frame
      val edges = graft.operators.Lineage.cut(Mining.coDepFor(s, dir))
      val mis = graft.operators.MaximalIndependentSet.run(s, nodes, edges)
      val sym = edges.select(col("a").as("name"), col("b").as("nb"))
        .unionByName(edges.select(col("b").as("name"), col("a").as("nb")))
      val viol = edges
        .join(mis.select(col("name").as("a")), "a")
        .join(mis.select(col("name").as("b")), "b")
        .agg(count(lit(1)).as("n_violations"))
      val covered = sym.join(mis.select(col("name").as("nb")), "nb")
        .select("name").distinct()
      val uncovered = nodes
        .join(mis.select("name"), Seq("name"), "left_anti")
        .join(covered, Seq("name"), "left_anti")
        .agg(count(lit(1)).as("n_uncovered"))
      nodes.join(mis, Seq("name"), "left")
        .select(col("name"), col("round").isNotNull.as("in_mis"),
          coalesce(col("round"), lit(-1)).as("round"))
        .crossJoin(broadcast(viol))
        .crossJoin(broadcast(uncovered))
        .orderBy("name")
    },

    // Exact weighted quantiles (p10/p50/p90) — q223's weighted median
    // generalized to arbitrary quantiles in the SAME single pass: one
    // cumulative-weight window per group, each quantile a conditional min
    // over integer threshold comparisons (10·cumw ≥ totw etc. — the
    // fraction never materializes), picks exact and deterministic, never
    // interpolated.
    // Scale notes (100 TB): adding quantiles costs zero extra passes —
    // the window runs once, thresholds are per-row predicates.
    "q248_weighted_quantiles" -> { (s, dir) =>
      val per = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"), col("l_extendedprice").as("price"))
        .agg(sum(expr("cast(l_quantity as bigint)")).as("w"))
      val wc = Window.partitionBy("flag").orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per
        .withColumn("cumw", sum("w").over(wc))
        .withColumn("totw", sum("w").over(Window.partitionBy("flag")))
        .groupBy("flag")
        .agg(
          min(when(col("cumw") * 10 >= col("totw"), col("price"))).as("p10"),
          min(when(col("cumw") * 2 >= col("totw"), col("price"))).as("p50"),
          min(when(col("cumw") * 10 >= col("totw") * 9, col("price"))).as("p90"),
          max("totw").as("total_weight"))
        .orderBy("flag")
    },

    // Functional-dependency mining — the profiling pass that finds which
    // column determines which (schema-normalization evidence): candidate
    // det→dep pairs over the package catalog, each scored by its
    // violating-group count and the g3 repair cost (rows to delete so the
    // FD holds = Σ group_size − largest-dep-class). The fixture makes the
    // verdicts REAL: name determines license/arch (their moduli divide
    // 60) but not version (mod-13 escapes), so both holding and violated
    // FDs appear with exact integer evidence.
    // Scale notes (100 TB): all pairs share one long-form relation
    // (pair, det, dep) — one scan, two aggregations, no per-pair jobs.
    "q249_fd_mining" -> { (s, dir) =>
      val p = Tables.packages(s, dir)
        .select(col("name"), col("version"), col("arch"),
          expr("extras['license']").as("license"))
      val long = Seq(
          ("name->license", col("name"), col("license")),
          ("name->arch", col("name"), col("arch")),
          ("name->version", col("name"), col("version")),
          ("arch->license", col("arch"), col("license")))
        .map { case (tag, det, dep) =>
          p.select(lit(tag).as("fd"), det.as("det"), dep.as("dep")) }
        .reduce(_ unionAll _)
      val cls = long.groupBy("fd", "det", "dep").agg(count(lit(1)).as("n"))
      val grp = cls.groupBy("fd", "det")
        .agg(sum("n").as("rows"), count(lit(1)).as("n_classes"), max("n").as("biggest"))
      grp.groupBy("fd")
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n_classes") > 1, 1L).otherwise(0L)).as("n_violating_groups"),
          sum(col("rows") - col("biggest")).as("g3_repair_rows"))
        .withColumn("holds", col("n_violating_groups") === 0)
        .orderBy("fd")
    },

    // Contrastive-training triplet mining — the (anchor, positive,
    // negatives) table a contrastive/embedding trainer consumes: positive
    // = the nearest same-label neighbor by exact cosine, negatives = 3
    // deterministic md5-ranked picks from OTHER labels (hash sampling in
    // place of RNG — reproducible, retry-idempotent, oracle-replayable,
    // the q217 discipline applied to data generation). The anchors side
    // is tiny and broadcast; the scan is the q45 labeled-NLJ shape.
    "q251_contrastive_triplets" -> { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      val base = Vectors.vecsFor(s, dir)
      val anchors = broadcast(base.filter(col("vec_id") < 20)
        .select(col("vec_id").as("aid"), col("label").as("albl"),
          col("v").as("av"), col("nsq").as("an")))
      val cands = base.select(col("vec_id").as("cid"), col("label").as("clbl"),
        col("v").as("cv"), col("nsq").as("cn"))
      val wp = Window.partitionBy("aid").orderBy(col("cos").desc, col("cid"))
      val pos = cands.join(anchors, col("cid") =!= col("aid") && col("clbl") === col("albl"))
        .withColumn("cos", expr("array_dot(av, cv)") / (sqrt(col("an")) * sqrt(col("cn"))))
        .withColumn("rn", row_number().over(wp)).filter(col("rn") === 1)
        .select(col("aid"), col("cid").as("pos_id"), col("cos").as("pos_cos"))
      val wn = Window.partitionBy("aid").orderBy(col("h"), col("cid"))
      val negs = cands.join(anchors, col("clbl") =!= col("albl"))
        .withColumn("h", expr(
          "cast(conv(substring(md5(cast(aid as string) || ':' || cast(cid as string)), 1, 15), 16, 10) as bigint)"))
        .withColumn("rn", row_number().over(wn)).filter(col("rn") <= 3)
        .groupBy("aid")
        .agg(max(when(col("rn") === 1, col("cid"))).as("neg1"),
          max(when(col("rn") === 2, col("cid"))).as("neg2"),
          max(when(col("rn") === 3, col("cid"))).as("neg3"))
      pos.join(negs, "aid")
        .select(col("aid").as("anchor"), col("pos_id"), col("pos_cos"),
          col("neg1"), col("neg2"), col("neg3"))
        .orderBy("anchor")
    },

    // Leave-one-out target encoding — the leakage-safe categorical
    // encoder a feature pipeline ships: each row's category mean EXCLUDES
    // its own target ((S − y)·10^6 div (n−1), exact integer fixed point —
    // a row never sees itself, the property naive mean-encoding violates
    // and decontamination audits exist to catch). Judged per category:
    // the naive mean and the LOO spread (sum/min/max) — all exact.
    // Scale notes (100 TB): one aggregation for the per-category totals
    // (broadcast back — tiny), one map-side pass for LOO, one final
    // aggregation; no shuffle keyed on rows.
    "q252_target_encoding" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("flag"), col("l_linestatus").as("status"),
        expr("cast(floor(l_extendedprice * cast(100 as double) + cast(0.5 as double)) as bigint)").as("y"))
      val tot = li.groupBy("flag", "status").agg(sum("y").as("s"), count(lit(1)).as("n"))
      li.join(broadcast(tot), Seq("flag", "status"))
        .filter(col("n") > 1)
        .withColumn("loo", expr("((s - y) * 1000000) div (n - 1)"))
        .groupBy("flag", "status")
        .agg(max("n").as("n"),
          expr("max(s * 1000000 div n)").as("naive_mean_sc"),
          sum("loo").as("loo_sum"), min("loo").as("loo_min"), max("loo").as("loo_max"))
        .orderBy("flag", "status")
    },

    // SQL pipe syntax (Spark 4 `|>`) — the query-flow surface the SQL
    // endpoint exposes beside scripting (q198) and SQL UDFs (q250): the
    // same relational pipeline stated as FROM |> WHERE |> AGGREGATE |>
    // ORDER BY, parsed by Spark's pipe-operator grammar into the
    // identical Catalyst plan a SELECT would produce.
    "q253_sql_pipe" -> { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders_pipe_v")
      s.sql(
        """FROM orders_pipe_v
          ||> WHERE o_totalprice > 1000
          ||> AGGREGATE count(*) AS n,
          |     sum(cast(floor(o_totalprice * 100 + cast(0.5 as double)) as bigint)) AS total_c
          |   GROUP BY o_orderstatus
          ||> ORDER BY o_orderstatus""".stripMargin)
    },

    // Correlated LATERAL subquery with ORDER BY + LIMIT — per-region
    // top-2 customers by balance stated as the SQL standard's lateral
    // join (the "top-N per group without a window over everything" form);
    // Spark decorrelates it into the same aggregated shape, and DuckDB
    // runs the standard syntax directly — both engines, one semantics.
    "q254_lateral_topk" -> { (s, dir) =>
      Tables.region(s, dir).createOrReplaceTempView("region_lat_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_lat_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_lat_v")
      s.sql(
        """SELECT r.r_name, t.c_name, t.c_acctbal
          |FROM region_lat_v r JOIN LATERAL (
          |  SELECT c_name, c_acctbal
          |  FROM customer_lat_v c JOIN nation_lat_v n ON c.c_nationkey = n.n_nationkey
          |  WHERE n.n_regionkey = r.r_regionkey
          |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
          |ORDER BY r.r_name, t.c_acctbal DESC, t.c_name""".stripMargin)
    },

    // Supervised lag-feature matrix — the feature-engineering transform a
    // forecasting pipeline runs before training: per priority's daily
    // revenue series (exact cents), row-lag features y_lag1/y_lag7, an
    // exact 7-row trailing mean (sum div count — never a float), a
    // calendar day-of-week from epoch-day arithmetic (engine-neutral: no
    // locale-dependent dayofweek), and the training target y_next.
    // Complete rows only — the matrix a trainer consumes directly.
    "q255_lag_features" -> { (s, dir) =>
      val daily = Tables.orders(s, dir)
        .withColumn("d", expr("date_format(o_orderdate, 'yyyy-MM-dd')"))
        .withColumn("cents", expr(
          "cast(floor(o_totalprice * cast(100 as double) + cast(0.5 as double)) as bigint)"))
        .groupBy(col("o_orderpriority").as("prio"), col("d"))
        .agg(sum("cents").as("y"))
      val w = Window.partitionBy("prio").orderBy("d")
      daily
        .withColumn("y_lag1", lag("y", 1).over(w))
        .withColumn("y_lag7", lag("y", 7).over(w))
        .withColumn("ma7", expr(
          "sum(y) over (partition by prio order by d rows between 6 preceding and current row)" +
            " div count(1) over (partition by prio order by d rows between 6 preceding and current row)"))
        .withColumn("dow", expr("cast(datediff(to_date(d), date'1970-01-01') % 7 as int)"))
        .withColumn("y_next", lead("y", 1).over(w))
        .filter(col("y_lag7").isNotNull && col("y_next").isNotNull)
        .select("prio", "d", "y", "y_lag1", "y_lag7", "ma7", "dow", "y_next")
        .orderBy("prio", "d")
    },

    // Feature-hashing (hashing-trick) audit — tokens hashed into 1024
    // buckets with md5, and the judged output is the COLLISION PROFILE
    // (how many buckets hold k distinct tokens): the measurement that
    // sizes a hashed feature space before training. One explode + two
    // aggregations; the bucket dimension is fixed, so state is bounded
    // regardless of corpus size.
    "q256_feature_hashing" -> { (s, dir) =>
      // word BIGRAMS (the fixture's unigram vocab is 31 — no collisions
      // at any sane table size); 256 buckets puts ~900 bigram features
      // into birthday territory, so the profile shows real collisions
      val toks = Tables.documents(s, dir)
        .select(split(col("text"), " ").as("ts"))
        .select(explode(expr(
          """filter(transform(ts, (t, i) ->
               if(i + 2 <= size(ts) and t != '' and element_at(ts, i + 2) != '',
                  t || ' ' || element_at(ts, i + 2), null)),
             x -> x is not null)""")).as("tok"))
      val buckets = toks
        .withColumn("bucket", expr(
          "cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint) % 256"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_tok"), countDistinct("tok").as("k"))
      buckets.groupBy("k")
        .agg(count(lit(1)).as("n_buckets"), sum("n_tok").as("n_tokens"))
        .orderBy("k")
    },

    // Kaplan-Meier time-to-convert — survival analysis done EXACTLY: the
    // "event" is a user's FIRST PURCHASE, duration runs from their first
    // event, and users who never purchase are right-censored at their
    // last observed day (the censoring that makes KM the right tool where
    // a naive time-to-convert histogram silently drops non-converters).
    // The product-limit curve S(t) = Π (1 − d/n) is carried in fixed
    // point by an ORDERED LIST FOLD — aggregate() over the sorted
    // (t, n, d) steps with a floor at each factor — so both engines fold
    // the identical sequence and the curve hash-matches at every step
    // (the oracle replays the same recurrence as a recursive CTE).
    // Judged per conversion day: risk set, deaths, censored, survival_ppm.
    // Scale notes (100 TB): the heavy table reduces to one row per user,
    // then one row per distinct duration — the fold runs over that tiny
    // step list; per-cohort curves shard by the groupBy key.
    "q257_kaplan_meier" -> { (s, dir) =>
      val per = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          expr("min(unix_micros(cast(ts as timestamp))) div 86400000000").as("d0"),
          expr("max(unix_micros(cast(ts as timestamp))) div 86400000000").as("d1"),
          expr("min(case when event_type = 'purchase' then unix_micros(cast(ts as timestamp)) div 86400000000 end)")
            .as("buy_d"))
      val users = per
        .withColumn("death", col("buy_d").isNotNull.cast("int"))
        .withColumn("dur", when(col("death") === 1, col("buy_d") - col("d0"))
          .otherwise(col("d1") - col("d0")))
      val steps = users.groupBy(col("dur").as("t"))
        .agg(count(lit(1)).as("ends"), sum("death").as("d"))
        .withColumn("cens", col("ends") - col("d"))
      val wRisk = Window.orderBy(col("t").desc).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val km = steps.withColumn("n", sum("ends").over(wRisk))
      // survival at each step = fold of the step-list prefix (k² folds
      // over a tiny list — never touches the raw table again)
      val arr = km.agg(expr("array_sort(collect_list(struct(t, n, d, cens)))").as("a"))
      arr.select(posexplode(expr("sequence(1, size(a))")).as(Seq("i0", "j")), col("a"))
        .select(expr("element_at(a, j).t").as("t"),
          expr("element_at(a, j).n").as("n_risk"),
          expr("element_at(a, j).d").as("deaths"),
          expr("element_at(a, j).cens").as("censored"),
          expr("""aggregate(slice(a, 1, j), cast(1000000 as bigint),
                  (acc, x) -> (acc * (x.n - x.d)) div x.n)""").as("survival_ppm"))
        .filter(col("deaths") > 0)
        .orderBy("t")
    },

    // Gini / Lorenz concentration — "how concentrated is revenue across
    // customers", exact: per-customer spend in cents, ranked ascending,
    // Gini = (2Σ i·x − (n+1)·T) / (n·T) carried as integers to one final
    // fixed-point division (the single 10^6-scale product routed through
    // decimal so nothing overflows), Lorenz curve read at p25/p50/p75/p90
    // as conditional mins over the rank crossing. The inequality audit a
    // fair-share scheduler (q203) or mixture design (q101) starts from.
    "q258_gini_concentration" -> { (s, dir) =>
      val spend = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(sum(expr(
          "cast(floor(o_totalprice * cast(100 as double) + cast(0.5 as double)) as bigint)")).as("x"))
      val w = Window.orderBy(col("x"), col("o_custkey"))
      val ranked = spend.withColumn("i", row_number().over(w).cast("long"))
        .withColumn("cumx", sum("x").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val totals = broadcast(spend.agg(count(lit(1)).as("n"), sum("x").as("total_c")))
      ranked.crossJoin(totals)
        .agg(max("n").as("n"), max("total_c").as("total_c"),
          sum(col("i") * col("x")).as("six"),
          min(when(col("i") * 4 >= col("n"), col("cumx"))).as("c25"),
          min(when(col("i") * 2 >= col("n"), col("cumx"))).as("c50"),
          min(when(col("i") * 4 >= col("n") * 3, col("cumx"))).as("c75"),
          min(when(col("i") * 10 >= col("n") * 9, col("cumx"))).as("c90"))
        .select(col("n"), col("total_c"),
          expr("cast((cast(2 as decimal(38,0)) * six - (n + 1) * cast(total_c as decimal(38,0))) * 1000000 div (n * cast(total_c as decimal(38,0))) as bigint)").as("gini_ppm"),
          expr("(1000000 * c25) div total_c").as("lorenz_p25_ppm"),
          expr("(1000000 * c50) div total_c").as("lorenz_p50_ppm"),
          expr("(1000000 * c75) div total_c").as("lorenz_p75_ppm"),
          expr("(1000000 * c90) div total_c").as("lorenz_p90_ppm"))
    },

    // LSH dedup recall audit — the dedup family's counterpart of the ANN
    // recall ladder (q103/q104/q140...): ground truth = the UNCAPPED exact
    // >= 0.6 Jaccard pair set from the shingle index, candidates = q42's
    // banded-MinHash buckets, and the judged row measures what banding
    // actually catches (recall_ppm) and how selective the candidate set
    // is (efficiency_ppm). Sketch parameters stop being folklore — the
    // b=4/r=3 S-curve is measured against truth, hash-verified.
    // Scale notes (100 TB): uncapped exact truth is computed on a sample
    // at corpus scale (the df-cap exists precisely because the full
    // self-join explodes); the audit shape is unchanged.
    "q259_lsh_recall" -> { (s, dir) =>
      val sh = Shingles.frame(s, dir)
      val common = sh.select(col("doc_id").as("d1"), col("sh"))
        .join(sh.select(col("doc_id").as("d2"), col("sh")), Seq("sh"))
        .filter(col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val exact = common
        .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
        .filter(col("common") / (col("sz1") + col("sz2") - col("common")) >= 0.6)
        .select("d1", "d2")
      val ok = Dedup.lshBucketsFor(s, dir)
      val cands = ok.as("x").join(ok.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct()
      val found = exact.join(cands, Seq("d1", "d2"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cands.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select(col("n_exact"), col("n_candidates"), col("n_found"),
          (col("n_exact") - col("n_found")).as("n_missed"),
          expr("(1000000 * n_found) div n_exact").as("recall_ppm"),
          expr("(1000000 * n_found) div n_candidates").as("efficiency_ppm"))
    },

    // Mixture reweighting — given the corpus's CURRENT per-source token
    // shares and a uniform token target, the per-source sampling/epoch
    // multiplier a mixture-rebalancing pipeline feeds its sampler
    // (q101 measures the mixture, q203 fair-shares a budget; this emits
    // the WEIGHTS that move the corpus to the target). All integer:
    // weight_ppm = 10^6·target div current, with the post-reweight token
    // expectation and residual deficit judged beside it.
    "q260_mixture_reweight" -> { (s, dir) =>
      val cur = Tables.documents(s, dir)
        .select(col("source"), expr("size(split(text, ' '))").cast("long").as("tok"))
        .groupBy("source").agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
      val tot = cur.agg(sum("tokens").as("total"), count(lit(1)).as("n_sources"))
      cur.crossJoin(broadcast(tot))
        .withColumn("target_tokens", expr("total div n_sources"))
        .withColumn("weight_ppm", expr("(1000000 * target_tokens) div tokens"))
        .withColumn("expected_tokens", expr("(tokens * weight_ppm) div 1000000"))
        .withColumn("deficit", col("target_tokens") - col("expected_tokens"))
        .select("source", "n_docs", "tokens", "target_tokens", "weight_ppm",
          "expected_tokens", "deficit")
        .orderBy("source")
    },

    // Winsorized + trimmed means — the robust-location pair beside q197's
    // MAD gate: per status the p01/p99 cut points are EXACT rank picks
    // (first rank crossing the percentile — integer threshold predicates,
    // no interpolation), winsorizing clamps into [p01, p99], trimming
    // drops outside it, and both means floor through positive integer
    // division. One window pass + a broadcast threshold join; at 100 TB
    // the cut points come from q124's equi-depth machinery and the clamp
    // stays map-side.
    "q261_winsorized_stats" -> { (s, dir) =>
      val x = Tables.orders(s, dir).select(col("o_orderstatus").as("status"),
        col("o_orderkey"),
        expr("cast(floor(o_totalprice * cast(100 as double) + cast(0.5 as double)) as bigint)").as("x"))
      val w = Window.partitionBy("status").orderBy("x", "o_orderkey")
      val ranked = x
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("status")))
      val th = ranked.groupBy("status").agg(
        min(when(col("rn") * 100 >= col("n"), col("x"))).as("p01"),
        min(when(col("rn") * 100 >= col("n") * 99, col("x"))).as("p99"))
      x.join(broadcast(th), "status")
        .withColumn("cl", least(greatest(col("x"), col("p01")), col("p99")))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          expr("sum(x) div count(1)").as("raw_mean_c"),
          max("p01").as("p01_c"), max("p99").as("p99_c"),
          expr("sum(cl) div count(1)").as("winsorized_mean_c"),
          expr("sum(case when x between p01 and p99 then x end) div count(case when x between p01 and p99 then 1 end)")
            .as("trimmed_mean_c"),
          sum(expr("cast(x < p01 or x > p99 as long)")).as("n_clamped"))
        .orderBy("status")
    },

    // SQL UDF surface (Spark 4 `CREATE FUNCTION ... RETURNS ... RETURN`) —
    // the declarative extension point beside the Catalyst Expressions and
    // Aggregators already judged (§2.10): the banding rule is registered
    // as a SQL-language function and used from a SQL query; Catalyst
    // INLINES the body (no black-box UDF call in the plan), so the
    // optimizer constant-folds and pushes through it like any expression.
    "q250_sql_udf" -> { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
          |RETURNS STRING
          |RETURN CASE WHEN p < 1000 THEN 'low'
          |            WHEN p < 10000 THEN 'mid' ELSE 'high' END""".stripMargin)
      s.sql(
        """SELECT price_band(o_totalprice) AS band, count(*) AS n,
          |  sum(cast(floor(o_totalprice * 100 + cast(0.5 as double)) as bigint)) AS total_c
          |FROM orders_v GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    // Deterministic mergeable QUANTILE sketch, half 1 — the registers.
    // HDR-histogram bucketing (base-2 exponent + 6 mantissa bits; public:
    // Tene's HdrHistogram / the log-bucket family of DDSketch, VLDB'19)
    // over l_extendedprice in cents: bucket id = (bitlength-1)*64 +
    // next-6-mantissa-bits — ALL integer shifts, no transcendental ever
    // enters, so both engines bucket bit-identically. The sketch is a
    // RELATION of (group, bucket, count) registers (q225's bitmap
    // discipline): partial aggregation gives map-side combine, and the
    // 'ALL' level is bucket-wise SUMS OF THE PER-FLAG REGISTERS — judged
    // mergeability, computed from the sketch, not from raw.
    // Guarantee: bucket width / lower bound <= 2^-6, so any rank estimate
    // is within 1.6% relative VALUE error — certified per-row in q265.
    // Scale notes (100 TB): state is <= a few hundred 16-byte registers
    // per group regardless of row count; rollups/merges never rescan raw.
    "q264_hdr_histogram" -> { (s, dir) =>
      val regs = hdrRegs(s, dir)
      regs
        .withColumn("e", expr("id div 64"))
        .withColumn("sub", expr("id % 64"))
        .withColumn("lb_cents", expr("shiftleft(cast(64 + sub as bigint), cast(e - 6 as int))"))
        .withColumn("ub_cents", expr(
          "lb_cents + shiftleft(cast(1 as bigint), cast(e - 6 as int)) - 1"))
        .select("flag", "id", "lb_cents", "ub_cents", "cnt")
        .orderBy("flag", "id")
    },

    // Deterministic mergeable quantile sketch, half 2 — SERVING with
    // integer rank bounds. For each group (per-flag + the merged ALL) and
    // each target percentile: target rank r = ceil(n*q/100) in pure
    // integer arithmetic, the estimate is the lower bound of the first
    // bucket whose cumulative count reaches r, and the bucket's exact
    // integer rank span [rank_lo, rank_hi] is emitted AS THE BOUND — the
    // GK/KLL contract (rank_lo <= r <= rank_hi) made hash-verifiable.
    // The true rank-r value (exact witness, recomputed from raw) is
    // judged to land inside the estimate bucket [est, ub] — the <= 2^-6
    // relative-error guarantee certified per row, q230's err_ppm
    // discipline applied to quantiles. Retires the q19 family's last
    // engine-private sketch: q19 itself now serves from this machinery.
    "q265_hdr_quantile_serve" -> { (s, dir) =>
      import s.implicits._
      val regs = hdrRegs(s, dir)
      val w = Window.partitionBy("flag").orderBy("id")
      val cum = regs.withColumn("cum", sum("cnt").over(w))
        .withColumn("prev", col("cum") - col("cnt"))
      val tot = regs.groupBy("flag").agg(sum("cnt").as("n"))
      val tgt = tot.crossJoin(broadcast(Seq(50, 90, 99).toDF("pct")))
        .withColumn("r", expr("(n * pct + 99) div 100"))
      val wPick = Window.partitionBy("flag", "pct").orderBy("id")
      val est = cum.join(tgt, "flag").filter(col("cum") >= col("r"))
        .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
        .select(col("flag"), col("pct"), col("n"), col("r"), col("id"),
          (col("prev") + 1L).as("rank_lo"), col("cum").as("rank_hi"))
        .withColumn("e", expr("id div 64")).withColumn("sub", expr("id % 64"))
        .withColumn("est_cents", expr("shiftleft(cast(64 + sub as bigint), cast(e - 6 as int))"))
        .withColumn("ub_cents", expr(
          "est_cents + shiftleft(cast(1 as bigint), cast(e - 6 as int)) - 1"))
      val vals = hdrExactCum(s, dir)
      val exact = vals.join(tgt.select("flag", "pct", "r"), Seq("flag"))
        .filter(col("vcum") >= col("r"))
        .groupBy("flag", "pct").agg(min("c").as("exact_cents"))
      est.join(exact, Seq("flag", "pct"))
        .withColumn("in_bucket",
          col("exact_cents") >= col("est_cents") && col("exact_cents") <= col("ub_cents"))
        .select("flag", "pct", "n", "r", "est_cents", "ub_cents",
          "rank_lo", "rank_hi", "exact_cents", "in_bucket")
        .orderBy("flag", "pct")
    },

    // Sketch-driven JOIN-SIZE ESTIMATION — the optimizer-statistics use
    // of mergeable sketches (what a CBO keeps per column instead of
    // scanning): per-side deterministic HLLs over the join key, the UNION
    // sketch formed by ELEMENT-WISE MAX of the two register arrays (the
    // merge happening in-plan, never a rescan), and the intersection via
    // inclusion–exclusion |A∩B| = |A|+|B|−|A∪B| — all in q230's pure
    // integer estimator, so every estimate is hash-verified beside its
    // exact witness and err_ppm. The sides are orders' customers vs the
    // positive-balance customer list: a proper-subset overlap, so the
    // estimate has something real to estimate.
    // Scale notes (100 TB): per-column sketch state is 64 bytes; the
    // estimate needs NO scan of either table once sketches exist — the
    // point of keeping them as catalog statistics.
    "q271_sketch_join_stats" -> { (s, dir) =>
      val hll = udaf(new graft.functions.HllSketch())
      val a = Tables.orders(s, dir)
        .agg(hll(col("o_custkey").cast("string")).as("ra"),
          countDistinct("o_custkey").as("exact_a"))
      val b = Tables.customer(s, dir).filter(col("c_acctbal") > 0)
        .agg(hll(col("c_custkey").cast("string")).as("rb"),
          countDistinct("c_custkey").as("exact_b"))
      val exactI = Tables.orders(s, dir).select(col("o_custkey").as("k")).distinct()
        .join(Tables.customer(s, dir).filter(col("c_acctbal") > 0)
          .select(col("c_custkey").as("k")), "k")
        .agg(count(lit(1)).as("exact_intersect"))
      def est(regs: String) = expr(
        s"cast(($HllEstNum) div (650790 * cast(aggregate($regs, cast(0 as bigint), " +
          s"(a, r) -> a + shiftleft(cast(1 as bigint), cast(55 - r as int))) as decimal(38,0))) as bigint)")
      a.crossJoin(broadcast(b)).crossJoin(broadcast(exactI))
        .withColumn("ru", expr("zip_with(ra, rb, (x, y) -> greatest(x, y))"))
        .select(est("ra").as("est_a"), col("exact_a"),
          est("rb").as("est_b"), col("exact_b"),
          est("ru").as("est_union"),
          (est("ra") + est("rb") - est("ru")).as("est_intersect"),
          col("exact_intersect"))
        .withColumn("err_ppm", expr(
          "((est_intersect - exact_intersect) * 1000000 + 1000000000 * exact_intersect) div exact_intersect - 1000000000"))
    },

    // Dynamic partition pruning JUDGED — at 100 TB partition pruning is
    // the first lever, before any join optimization, and until now it was
    // only spec-pinned (PartitionPruningSpec). The query writes the event
    // fact PARTITIONED BY day plus a scan-backed day dimension with a
    // precomputed busy flag (DPP plans only against a FILTERED file scan),
    // then joins fact to the filtered dim — the day constraint reaches the
    // fact scan ONLY through the join, so Spark inserts a dynamic pruning
    // subquery and reads 3 of ~31 day partitions (PlanAuditSpec pins the
    // dynamicpruning expression). n_events == n_day is judged per row: the
    // pruned read provably lost nothing vs the dimension's own count.
    "q266_partitioned_dpp_join" -> { (s, dir) =>
      val p = ensureDppCatalog(s, dir)
      val fact = s.read.parquet(s"$p/events_by_day")
      val dim = s.read.parquet(s"$p/days").filter(col("busy") === 1)
      fact.join(broadcast(dim.select("d", "n_day")), "d")
        .groupBy("d", "n_day")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"),
          round(sum("value"), 2).as("sum_value"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("n_day"),
          col("n_events"), col("n_users"), col("sum_value"))
        .orderBy("d")
    })

  /** Built q266 catalogs, keyed by path like StatsStore's fixture
    * stores: one single-flight build per JVM, so concurrent Serve requests
    * (any session) never overwrite the catalog under another's scan
    * (ADVICE r10). */
  private val dppBuilt = new graft.Cache[String, String](graft.Cache.DefaultMax)
  /** Deterministic per-fixture home of the q266 partitioned catalog:
    * `events_by_day` (fact, PARTITIONED BY the DATE column d) and `days`
    * (scan-backed day dimension with a precomputed top-3-busiest flag —
    * DPP requires the selective predicate to sit on a file scan, not a
    * LocalRelation or an in-plan aggregate).
    */
  private[graft] def ensureDppCatalog(s: SparkSession, dir: String): String = {
    val p = StatsStore.fixtureRoot("graft_dpp", dir)
    dppBuilt.getOrBuild(p) {
      val ev = Tables.events(s, dir).withColumn("d", to_date(col("ts")))
      ev.write.mode("overwrite").partitionBy("d").parquet(s"$p/events_by_day")
      val daily = ev.groupBy("d").agg(count(lit(1)).as("n_day"))
      // the day domain is tiny (one row per day) — the unpartitioned
      // global window is bounded by design, like the q19 register walk
      val w = Window.orderBy(desc("n_day"), col("d"))
      daily.withColumn("busy", (row_number().over(w) <= 3).cast("int"))
        .coalesce(1).write.mode("overwrite").parquet(s"$p/days")
      p
    }
  }

  /** l_extendedprice in integer cents per returnflag — the HDR sketch's
    * input domain (prices are >= 2^6 cents, so the bucket math never
    * left-shifts).
    */
  private def hdrCents(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(col("l_returnflag").as("flag"),
      expr("cast(floor(l_extendedprice * cast(100 as double) + cast(0.5 as double)) as bigint)")
        .as("c"))

  /** q265's exact-witness side: cumulative counts over the DISTINCT price
    * domain per flag (+ merged ALL) — the certificate recomputation, not
    * the sketch; PARQUET-backed (VERDICT r17 what's-wrong 3: under the
    * loaded r17 run the block-store memo's re-read degraded to ~50× its
    * own cost — with the frame persisted as files, the per-query cost
    * after the first build is a bounded parquet scan under ANY storage
    * pressure), because it is the serve query's dominant cost and is
    * stable per (session, fixture).
    */
  private def hdrExactCum(s: SparkSession, dir: String): DataFrame =
    Memo.parquetBacked("hdr_exact_cum", s, dir) {
      val vc0 = hdrCents(s, dir).groupBy("flag", "c").agg(count(lit(1)).as("vn"))
      vc0.unionByName(
          vc0.groupBy("c").agg(sum("vn").as("vn")).withColumn("flag", lit("ALL"))
            .select("flag", "c", "vn"))
        .withColumn("vcum", sum("vn").over(Window.partitionBy("flag").orderBy("c")))
    }

  /** HDR registers per flag PLUS the 'ALL' level merged FROM the per-flag
    * registers (bucket-wise sum — mergeability in-plan, never a rescan).
    * id = (bitlength(c)-1)*64 + ((c >> (bitlength(c)-7)) & 63).
    * Memoized: q264 (register dump) and q265 (serve + exact witness) both
    * read it, and the sketch is a few hundred rows — the raw scan pays
    * once per (session, fixture).
    */
  private def hdrRegs(s: SparkSession, dir: String): DataFrame =
    Memo.parquetBacked("hdr_regs", s, dir) {
      val b = hdrCents(s, dir)
        .withColumn("e", expr("length(bin(c)) - 1"))
        .withColumn("id", expr("e * 64 + (shiftright(c, cast(e - 6 as int)) & 63)"))
      val perFlag = b.groupBy("flag", "id").agg(count(lit(1)).as("cnt"))
      perFlag.unionByName(
        perFlag.groupBy("id").agg(sum("cnt").as("cnt")).withColumn("flag", lit("ALL"))
          .select("flag", "id", "cnt"))
    }

  /** Unrolled temporal-relaxation rounds for the q233 oracle (requires
    * `et` (name, dep, t) and `a0` in scope) — same min-fold shape as the
    * shortest-path unroll; an edge participates only when its epoch is >=
    * the tail's current arrival.
    */
  private def trUnrolled(rounds: Int): String =
    (1 to rounds).map { k =>
      s"""a$k AS MATERIALIZED (
         | SELECT name, min(arr) AS arr FROM (
         |  SELECT name, arr FROM a${k - 1}
         |  UNION ALL
         |  SELECT e.dep AS name, e.t AS arr
         |  FROM a${k - 1} a JOIN et e ON e.name = a.name AND e.t >= a.arr)
         | GROUP BY name)""".stripMargin
    }.mkString(",\n")

  /** Unrolled deferred-acceptance rounds for the q242 oracle (requires pp
    * and e0/j0 in scope) — each round: free proposers, best non-rejected
    * proposal per proposer, contenders = proposals ∪ holders, best suitor
    * per acceptor, rejections grow by the losers. Over-unrolling is safe:
    * once no proposer is free the round is a fixpoint no-op.
    */
  private def gsUnrolled(rounds: Int): String =
    (1 to rounds).map { k =>
      s"""fr$k AS MATERIALIZED (
         | SELECT DISTINCT proposer FROM pp
         | WHERE proposer NOT IN (SELECT proposer FROM e${k - 1})),
         |pr$k AS MATERIALIZED (
         | SELECT proposer, acceptor FROM (
         |  SELECT c.proposer, c.acceptor,
         |   row_number() OVER (PARTITION BY c.proposer ORDER BY c.p_score, c.acceptor) AS rn
         |  FROM pp c JOIN fr$k f ON f.proposer = c.proposer
         |  LEFT JOIN j${k - 1} r ON r.proposer = c.proposer AND r.acceptor = c.acceptor
         |  WHERE r.proposer IS NULL) WHERE rn = 1),
         |ct$k AS MATERIALIZED (
         | SELECT t.proposer, t.acceptor, p.a_score FROM (
         |  SELECT proposer, acceptor FROM pr$k
         |  UNION ALL SELECT proposer, acceptor FROM e${k - 1}) t
         | JOIN pp p ON p.proposer = t.proposer AND p.acceptor = t.acceptor),
         |e$k AS MATERIALIZED (
         | SELECT proposer, acceptor FROM (
         |  SELECT proposer, acceptor,
         |   row_number() OVER (PARTITION BY acceptor ORDER BY a_score, proposer) AS rn
         |  FROM ct$k) WHERE rn = 1),
         |j$k AS MATERIALIZED (
         | SELECT proposer, acceptor FROM j${k - 1}
         | UNION
         | SELECT c.proposer, c.acceptor FROM ct$k c
         | LEFT JOIN e$k e ON e.proposer = c.proposer AND e.acceptor = c.acceptor
         | WHERE e.proposer IS NULL)""".stripMargin
    }.mkString(",\n")

  /** Unrolled Luby rounds for the q247 oracle (requires nm, sym, rem0=nm,
    * m0 empty in scope) — per round: md5 priorities over the remaining
    * set, neighborhood minima, winners, neighborhood removal.
    */
  private def misUnrolled(rounds: Int): String =
    (1 to rounds).map { k =>
      s"""p$k AS MATERIALIZED (
         | SELECT name, substr(md5('$k:' || name), 1, 15) || ':' || name AS pri
         | FROM rem${k - 1}),
         |nb$k AS MATERIALIZED (
         | SELECT s.name, min(p.pri) AS nb_min
         | FROM sym s JOIN p$k p ON p.name = s.nb
         | JOIN rem${k - 1} r ON r.name = s.name
         | GROUP BY s.name),
         |c$k AS MATERIALIZED (
         | SELECT p.name FROM p$k p LEFT JOIN nb$k n ON n.name = p.name
         | WHERE n.name IS NULL OR p.pri < n.nb_min),
         |m$k AS MATERIALIZED (
         | SELECT name, round FROM m${k - 1}
         | UNION ALL SELECT name, $k AS round FROM c$k),
         |rm$k AS MATERIALIZED (
         | SELECT name FROM c$k
         | UNION SELECT s.nb FROM sym s JOIN c$k c ON c.name = s.name),
         |rem$k AS MATERIALIZED (
         | SELECT name FROM rem${k - 1}
         | WHERE name NOT IN (SELECT name FROM rm$k))""".stripMargin
    }.mkString(",\n")

  val oracles: Seq[(String, String)] = Seq(

    "q251_contrastive_triplets" -> Vectors.subFor(
      """WITH --VEC--,
        |a AS (SELECT vec_id AS aid, label AS albl, v AS av, nsq AS an FROM n WHERE vec_id < 20),
        |psc AS (
        | SELECT a.aid, b.vec_id AS cid,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(range(1, 65), i -> a.av[i] * b.v[i])), (s, x) -> s + x)
        |   / (sqrt(a.an) * sqrt(b.nsq)) AS cos
        | FROM a JOIN n b ON b.vec_id <> a.aid AND b.label = a.albl),
        |pos AS (
        | SELECT aid, cid AS pos_id, cos AS pos_cos
        | FROM psc QUALIFY row_number() OVER (PARTITION BY aid ORDER BY cos DESC, cid) = 1),
        |nsc AS (
        | SELECT a.aid, b.vec_id AS cid,
        |  CAST(('0x' || substr(md5(CAST(a.aid AS VARCHAR) || ':' || CAST(b.vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        | FROM a JOIN n b ON b.label <> a.albl),
        |nr AS (
        | SELECT aid, cid, row_number() OVER (PARTITION BY aid ORDER BY h, cid) AS rn
        | FROM nsc QUALIFY rn <= 3),
        |ng AS (
        | SELECT aid, max(CASE WHEN rn = 1 THEN cid END) AS neg1,
        |  max(CASE WHEN rn = 2 THEN cid END) AS neg2,
        |  max(CASE WHEN rn = 3 THEN cid END) AS neg3
        | FROM nr GROUP BY aid)
        |SELECT p.aid AS anchor, p.pos_id, p.pos_cos, ng.neg1, ng.neg2, ng.neg3
        |FROM pos p JOIN ng ON ng.aid = p.aid
        |ORDER BY anchor""".stripMargin),

    "q252_target_encoding" ->
      """WITH li AS (
        | SELECT l_returnflag AS flag, l_linestatus AS status,
        |  CAST(floor(l_extendedprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS y
        | FROM lineitem),
        |tot AS (
        | SELECT flag, status, CAST(sum(y) AS BIGINT) AS s, count(*) AS n
        | FROM li GROUP BY 1, 2),
        |loo AS (
        | SELECT li.flag, li.status, t.s, t.n,
        |  ((t.s - li.y) * 1000000) // (t.n - 1) AS loo
        | FROM li JOIN tot t ON t.flag = li.flag AND t.status = li.status
        | WHERE t.n > 1)
        |SELECT flag, status, max(n) AS n,
        | max(s * 1000000 // n) AS naive_mean_sc,
        | CAST(sum(loo) AS BIGINT) AS loo_sum, min(loo) AS loo_min, max(loo) AS loo_max
        |FROM loo GROUP BY 1, 2
        |ORDER BY flag, status""".stripMargin,

    "q253_sql_pipe" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS total_c
        |FROM orders WHERE o_totalprice > 1000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q254_lateral_topk" ->
      """SELECT r.r_name, t.c_name, t.c_acctbal
        |FROM region r JOIN LATERAL (
        |  SELECT c_name, c_acctbal
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t ON TRUE
        |ORDER BY r.r_name, t.c_acctbal DESC, t.c_name""".stripMargin,

    "q255_lag_features" ->
      """WITH daily AS (
        | SELECT o_orderpriority AS prio,
        |  strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS d,
        |  CAST(sum(CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS y
        | FROM orders GROUP BY 1, 2),
        |f AS (
        | SELECT prio, d, y,
        |  lag(y, 1) OVER w AS y_lag1,
        |  lag(y, 7) OVER w AS y_lag7,
        |  CAST(sum(y) OVER (PARTITION BY prio ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    // count(*) OVER (PARTITION BY prio ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7,
        |  CAST(date_diff('day', DATE '1970-01-01', CAST(d AS DATE)) % 7 AS INTEGER) AS dow,
        |  lead(y, 1) OVER w AS y_next
        | FROM daily WINDOW w AS (PARTITION BY prio ORDER BY d))
        |SELECT prio, d, y, y_lag1, y_lag7, ma7, dow, y_next
        |FROM f WHERE y_lag7 IS NOT NULL AND y_next IS NOT NULL
        |ORDER BY prio, d""".stripMargin,

    "q256_feature_hashing" ->
      """WITH dl AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |mx AS (SELECT max(len(ts)) AS m FROM dl),
        |g AS (SELECT unnest(range(1, m)) AS j FROM mx),
        |tk AS (
        | SELECT ts[g.j] || ' ' || ts[g.j + 1] AS tok
        | FROM dl, g
        | WHERE g.j + 1 <= len(ts) AND ts[g.j] <> '' AND ts[g.j + 1] <> ''),
        |b AS (
        | SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 256 AS bucket,
        |  count(*) AS n_tok, count(DISTINCT tok) AS k
        | FROM tk GROUP BY 1)
        |SELECT k, count(*) AS n_buckets, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM b GROUP BY 1 ORDER BY k""".stripMargin,

    "q248_weighted_quantiles" ->
      """WITH per AS (
        | SELECT l_returnflag AS flag, l_extendedprice AS price,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        | FROM lineitem GROUP BY 1, 2),
        |c AS (
        | SELECT flag, price, w,
        |  CAST(sum(w) OVER (PARTITION BY flag ORDER BY price ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
        |  CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS totw
        | FROM per)
        |SELECT flag,
        | min(CASE WHEN cumw * 10 >= totw THEN price END) AS p10,
        | min(CASE WHEN cumw * 2 >= totw THEN price END) AS p50,
        | min(CASE WHEN cumw * 10 >= totw * 9 THEN price END) AS p90,
        | max(totw) AS total_weight
        |FROM c GROUP BY flag ORDER BY flag""".stripMargin,

    "q249_fd_mining" -> Packages.subFor(
      """WITH --PKG--,
        |p AS (
        | SELECT name, version,
        |  CASE WHEN pkg_id % 2 = 0 THEN 'x86_64' ELSE 'aarch64' END AS arch,
        |  CASE (pkg_id % 3) WHEN 0 THEN 'mit' WHEN 1 THEN 'gpl' ELSE 'apache' END AS license
        | FROM pkg),
        |lf AS (
        | SELECT 'name->license' AS fd, name AS det, license AS dep FROM p
        | UNION ALL SELECT 'name->arch', name, arch FROM p
        | UNION ALL SELECT 'name->version', name, version FROM p
        | UNION ALL SELECT 'arch->license', arch, license FROM p),
        |cls AS (SELECT fd, det, dep, count(*) AS n FROM lf GROUP BY 1, 2, 3),
        |grp AS (
        | SELECT fd, det, CAST(sum(n) AS BIGINT) AS rows, count(*) AS n_classes,
        |  CAST(max(n) AS BIGINT) AS biggest
        | FROM cls GROUP BY 1, 2)
        |SELECT fd, count(*) AS n_groups,
        | CAST(sum(CASE WHEN n_classes > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
        | CAST(sum(rows - biggest) AS BIGINT) AS g3_repair_rows,
        | (sum(CASE WHEN n_classes > 1 THEN 1 ELSE 0 END) = 0) AS holds
        |FROM grp GROUP BY fd ORDER BY fd""".stripMargin),

    "q261_winsorized_stats" ->
      """WITH x AS (
        | SELECT o_orderstatus AS status, o_orderkey,
        |  CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS x
        | FROM orders),
        |rk AS (
        | SELECT status, x,
        |  CAST(row_number() OVER (PARTITION BY status ORDER BY x, o_orderkey) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY status) AS n
        | FROM x),
        |th AS (
        | SELECT status,
        |  min(CASE WHEN rn * 100 >= n THEN x END) AS p01,
        |  min(CASE WHEN rn * 100 >= n * 99 THEN x END) AS p99
        | FROM rk GROUP BY 1)
        |SELECT x.status, count(*) AS n,
        | CAST(sum(x.x) AS BIGINT) // count(*) AS raw_mean_c,
        | max(th.p01) AS p01_c, max(th.p99) AS p99_c,
        | CAST(sum(least(greatest(x.x, th.p01), th.p99)) AS BIGINT) // count(*) AS winsorized_mean_c,
        | CAST(sum(CASE WHEN x.x BETWEEN th.p01 AND th.p99 THEN x.x END) AS BIGINT)
        |   // count(CASE WHEN x.x BETWEEN th.p01 AND th.p99 THEN 1 END) AS trimmed_mean_c,
        | CAST(sum(CASE WHEN x.x < th.p01 OR x.x > th.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
        |FROM x JOIN th ON th.status = x.status
        |GROUP BY x.status
        |ORDER BY x.status""".stripMargin,

    "q259_lsh_recall" -> Dedup.subFor(
      """WITH --SH--,
        |--BKT--,
        |common AS (
        | SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        | FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |exact AS (
        | SELECT d1, d2 FROM common
        | JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        | WHERE common / (s1.sz + s2.sz - common) >= 0.6),
        |cands AS (
        | SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        | FROM okb x JOIN okb y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |f AS (SELECT count(*) AS n_found FROM exact e JOIN cands c ON c.d1 = e.d1 AND c.d2 = e.d2),
        |ne AS (SELECT count(*) AS n_exact FROM exact),
        |nc AS (SELECT count(*) AS n_candidates FROM cands)
        |SELECT ne.n_exact, nc.n_candidates, f.n_found,
        | ne.n_exact - f.n_found AS n_missed,
        | (1000000 * f.n_found) // ne.n_exact AS recall_ppm,
        | (1000000 * f.n_found) // nc.n_candidates AS efficiency_ppm
        |FROM ne CROSS JOIN nc CROSS JOIN f""".stripMargin),

    "q260_mixture_reweight" ->
      """WITH cur AS (
        | SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        | FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total, count(*) AS n_sources FROM cur)
        |SELECT c.source, c.n_docs, c.tokens,
        | t.total // t.n_sources AS target_tokens,
        | (1000000 * (t.total // t.n_sources)) // c.tokens AS weight_ppm,
        | (c.tokens * ((1000000 * (t.total // t.n_sources)) // c.tokens)) // 1000000 AS expected_tokens,
        | t.total // t.n_sources
        |   - (c.tokens * ((1000000 * (t.total // t.n_sources)) // c.tokens)) // 1000000 AS deficit
        |FROM cur c CROSS JOIN tot t
        |ORDER BY c.source""".stripMargin,

    "q257_kaplan_meier" ->
      """WITH RECURSIVE per AS (
        | SELECT user_id,
        |  min(epoch_us(CAST(ts AS TIMESTAMP))) // 86400000000 AS d0,
        |  max(epoch_us(CAST(ts AS TIMESTAMP))) // 86400000000 AS d1,
        |  min(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 END) AS buy_d
        | FROM events GROUP BY 1),
        |us AS (
        | SELECT CASE WHEN buy_d IS NOT NULL THEN buy_d - d0 ELSE d1 - d0 END AS dur,
        |  CASE WHEN buy_d IS NOT NULL THEN 1 ELSE 0 END AS death
        | FROM per),
        |steps AS (
        | SELECT dur AS t, count(*) AS ends, CAST(sum(death) AS BIGINT) AS d
        | FROM us GROUP BY 1),
        |km AS (
        | SELECT t, ends, d, CAST(ends - d AS BIGINT) AS cens,
        |  CAST(sum(ends) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
        | FROM steps),
        |kmi AS (
        | SELECT t, n, d, cens,
        |  CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS j
        | FROM km),
        |sv AS (
        | SELECT CAST(0 AS BIGINT) AS j, 1000000::BIGINT AS s
        | UNION ALL
        | SELECT sv.j + 1, (sv.s * (k.n - k.d)) // k.n
        | FROM sv JOIN kmi k ON k.j = sv.j + 1
        | WHERE sv.j < 500)
        |SELECT k.t, k.n AS n_risk, k.d AS deaths, k.cens AS censored,
        | CAST(sv.s AS BIGINT) AS survival_ppm
        |FROM kmi k JOIN sv ON sv.j = k.j
        |WHERE k.d > 0
        |ORDER BY k.t""".stripMargin,

    "q258_gini_concentration" ->
      """WITH spend AS (
        | SELECT o_custkey,
        |  CAST(sum(CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS x
        | FROM orders GROUP BY 1),
        |rk AS (
        | SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i,
        |  CAST(sum(x) OVER (ORDER BY x, o_custkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumx
        | FROM spend),
        |tt AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS total_c FROM spend),
        |ag AS (
        | SELECT max(t.n) AS n, max(t.total_c) AS total_c,
        |  CAST(sum(i * x) AS BIGINT) AS six,
        |  min(CASE WHEN i * 4 >= t.n THEN cumx END) AS c25,
        |  min(CASE WHEN i * 2 >= t.n THEN cumx END) AS c50,
        |  min(CASE WHEN i * 4 >= t.n * 3 THEN cumx END) AS c75,
        |  min(CASE WHEN i * 10 >= t.n * 9 THEN cumx END) AS c90
        | FROM rk CROSS JOIN tt t)
        |SELECT n, total_c,
        | CAST((2::HUGEINT * six - (n + 1)::HUGEINT * total_c) * 1000000
        |      // (n::HUGEINT * total_c) AS BIGINT) AS gini_ppm,
        | (1000000 * c25) // total_c AS lorenz_p25_ppm,
        | (1000000 * c50) // total_c AS lorenz_p50_ppm,
        | (1000000 * c75) // total_c AS lorenz_p75_ppm,
        | (1000000 * c90) // total_c AS lorenz_p90_ppm
        |FROM ag""".stripMargin,

    "q250_sql_udf" ->
      """SELECT CASE WHEN o_totalprice < 1000 THEN 'low'
        |            WHEN o_totalprice < 10000 THEN 'mid' ELSE 'high' END AS band,
        | count(*) AS n,
        | CAST(sum(CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS total_c
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q245_bitemporal_read" -> Packages.subFor(
      """WITH --PKG--
        |SELECT pkg_id, name,
        | CAST(vmaj AS VARCHAR) || '.' || CAST(vmin AS VARCHAR) || '.' || CAST(vpat AS VARCHAR)
        |   || '-r' || CAST(1 + (pkg_id + 2 * (pkg_id % 3)) % 5 AS VARCHAR) AS version,
        | CAST(pkg_id % 7 AS INTEGER) AS biz_from,
        | CAST(pkg_id % 7 + 2 + pkg_id % 3 AS INTEGER) AS biz_to
        |FROM pkg
        |WHERE (pkg_id + 2) % 23 <> 0
        | AND pkg_id % 7 <= 5 AND pkg_id % 7 + 2 + pkg_id % 3 >= 5
        |ORDER BY pkg_id""".stripMargin),

    "q246_sketch_bakeoff" ->
      s"""WITH k AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |ex AS (SELECT count(*) AS exact_distinct FROM k),
        |bm AS (
        | SELECT CAST(sum(bit_count(w)) AS BIGINT) AS est FROM (
        |  SELECT bit_or(1::BIGINT << CAST(k % 63 AS INTEGER)) AS w
        |  FROM k GROUP BY k // 63)),
        |kh AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM k),
        |kth AS (SELECT h FROM kh ORDER BY h LIMIT 1 OFFSET 63),
        |kmv AS (SELECT CAST((63::HUGEINT * 1152921504606846976::HUGEINT) // h AS BIGINT) AS est FROM kth),
        |hr AS (SELECT h // $HllSplit AS bucket, h % $HllSplit AS rem FROM kh),
        |hreg AS (
        | SELECT bucket, max(CASE WHEN rem = 0 THEN 55
        |   ELSE 55 - length(ltrim(bin(rem), '0')) END) AS reg
        | FROM hr GROUP BY 1),
        |hfull AS (
        | SELECT g.b, coalesce(hreg.reg, 0) AS reg
        | FROM range(0, 64) g(b) LEFT JOIN hreg ON hreg.bucket = g.b),
        |hsum AS (SELECT CAST(sum(1::BIGINT << CAST(55 - reg AS INTEGER)) AS BIGINT) AS s FROM hfull),
        |hll AS (
        | SELECT CAST((1890844672::HUGEINT * 36028797018963968::HUGEINT)
        |   // (650790::HUGEINT * s) AS BIGINT) AS est FROM hsum),
        |u AS (
        | SELECT 'exact' AS method, CAST(exact_distinct AS BIGINT) AS est FROM ex
        | UNION ALL SELECT 'bitmap', est FROM bm
        | UNION ALL SELECT 'kmv', est FROM kmv
        | UNION ALL SELECT 'hll', est FROM hll)
        |SELECT method, est AS estimate, ex.exact_distinct,
        | CAST((est::HUGEINT * 1000000 + ex.exact_distinct::HUGEINT * 999000000)
        |   // ex.exact_distinct - 1000000000 AS BIGINT) AS err_ppm
        |FROM u CROSS JOIN ex
        |ORDER BY method""".stripMargin,

    "q247_luby_mis" -> ("""WITH --EP--,
        |u AS (
        | SELECT DISTINCT least(e1.name, e2.name) AS a, greatest(e1.name, e2.name) AS b
        | FROM edges e1 JOIN edges e2 ON e2.dep = e1.dep AND e1.name <> e2.name),
        |nm AS (SELECT DISTINCT 'pkg-' || lpad(CAST(i AS VARCHAR), 2, '0') AS name FROM idx),
        |sym AS (SELECT a AS name, b AS nb FROM u UNION ALL SELECT b, a FROM u),
        |rem0 AS (SELECT name FROM nm),
        |m0 AS (SELECT name, 0 AS round FROM nm WHERE FALSE),
        |--MIS--,
        |viol AS (
        | SELECT count(*) AS n_violations FROM u
        | JOIN m8 x ON x.name = u.a JOIN m8 y ON y.name = u.b),
        |cov AS (SELECT DISTINCT s.name FROM sym s JOIN m8 m ON m.name = s.nb),
        |unc AS (
        | SELECT count(*) AS n_uncovered FROM nm n
        | WHERE n.name NOT IN (SELECT name FROM m8)
        |   AND n.name NOT IN (SELECT name FROM cov)),
        |cvg AS (SELECT count(*) AS nd FROM rem8)
        |SELECT n.name, m.name IS NOT NULL AS in_mis,
        | CAST(coalesce(m.round, -1) AS INTEGER) AS round,
        | CAST(v.n_violations AS BIGINT) AS n_violations,
        | CAST(uc.n_uncovered AS BIGINT) AS n_uncovered
        |FROM nm n LEFT JOIN m8 m ON m.name = n.name
        |CROSS JOIN viol v CROSS JOIN unc uc
        |CROSS JOIN cvg WHERE cvg.nd = 0
        |ORDER BY n.name""".stripMargin
      .replace("--EP--", Resolution.edgesCtePrelude)
      .replace("--MIS--", misUnrolled(8))),

    "q242_stable_matching" -> ("""WITH pp AS MATERIALIZED (
        | SELECT pr.proposer, ac.acceptor,
        |  CAST(('0x' || substr(md5('p:' || pr.proposer || ':' || ac.acceptor), 1, 7)) AS BIGINT) AS p_score,
        |  CAST(('0x' || substr(md5('a:' || ac.acceptor || ':' || pr.proposer), 1, 7)) AS BIGINT) AS a_score
        | FROM (SELECT DISTINCT 'sup-' || CAST(s_suppkey % 10 AS VARCHAR) AS proposer FROM supplier) pr
        | CROSS JOIN (SELECT DISTINCT 'prt-' || CAST(p_partkey % 10 AS VARCHAR) AS acceptor FROM part) ac),
        |e0 AS (SELECT proposer, acceptor FROM pp WHERE FALSE),
        |j0 AS (SELECT proposer, acceptor FROM pp WHERE FALSE),
        |--GS--,
        |mm AS (
        | SELECT e.proposer, e.acceptor, p.p_score, p.a_score
        | FROM e15 e JOIN pp p ON p.proposer = e.proposer AND p.acceptor = e.acceptor),
        |blk AS (
        | SELECT count(*) AS n_blocking FROM pp x
        | JOIN mm mp ON mp.proposer = x.proposer
        | JOIN mm ma ON ma.acceptor = x.acceptor
        | WHERE x.p_score < mp.p_score AND x.a_score < ma.a_score),
        |cvg AS (
        | SELECT count(*) AS nd FROM (SELECT DISTINCT proposer FROM pp) p
        | WHERE p.proposer NOT IN (SELECT proposer FROM e15))
        |SELECT mm.proposer, mm.acceptor, mm.p_score, mm.a_score,
        | CAST(blk.n_blocking AS BIGINT) AS n_blocking
        |FROM mm CROSS JOIN blk
        |CROSS JOIN cvg WHERE cvg.nd = 0
        |ORDER BY mm.proposer""".stripMargin
      .replace("--GS--", gsUnrolled(15))),

    "q230_hll_sketch" ->
      s"""WITH h AS (
        | SELECT o_orderstatus AS st,
        |  CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        | FROM orders),
        |r AS (SELECT st, h // $HllSplit AS bucket, h % $HllSplit AS rem FROM h),
        |r2 AS (SELECT st, bucket,
        |  CASE WHEN rem = 0 THEN 55 ELSE 55 - length(ltrim(bin(rem), '0')) END AS rho
        | FROM r),
        |rr AS (
        | SELECT CASE WHEN GROUPING(st) = 1 THEN 'ALL' ELSE st END AS status,
        |  bucket, max(rho) AS reg
        | FROM r2 GROUP BY GROUPING SETS ((st, bucket), (bucket))),
        |spine AS (SELECT DISTINCT rr.status, g.b FROM rr, range(0, 64) g(b)),
        |fr AS (
        | SELECT s.status, coalesce(rr.reg, 0) AS reg
        | FROM spine s LEFT JOIN rr ON rr.status = s.status AND rr.bucket = s.b),
        |ag AS (
        | SELECT status,
        |  CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(max(reg) AS BIGINT) AS max_reg,
        |  CAST(sum(1::BIGINT << CAST(55 - reg AS INTEGER)) AS BIGINT) AS sum_scaled
        | FROM fr GROUP BY 1),
        |ex AS (
        | SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
        |  count(DISTINCT o_custkey) AS exact_distinct
        | FROM orders GROUP BY ROLLUP (o_orderstatus)),
        |est AS (
        | SELECT a.status, a.n_zero, a.max_reg, a.sum_scaled,
        |  CAST((1890844672::HUGEINT * 36028797018963968::HUGEINT)
        |       // (650790::HUGEINT * a.sum_scaled) AS BIGINT) AS raw_est,
        |  e.exact_distinct
        | FROM ag a JOIN ex e USING (status))
        |SELECT status, n_zero, max_reg, sum_scaled, raw_est, exact_distinct,
        | CAST(((raw_est - exact_distinct) * 1000000 + 1000000000 * exact_distinct)
        |      // exact_distinct - 1000000000 AS BIGINT) AS err_ppm
        |FROM est
        |ORDER BY status""".stripMargin,

    "q231_pattern_funnel" ->
      """WITH s AS (
        | SELECT user_id,
        |  string_agg(substr(event_type, 1, 1), '' ORDER BY CAST(ts AS TIMESTAMP), event_id) AS seq
        | FROM events GROUP BY user_id),
        |m AS (
        | SELECT user_id, seq,
        |  CAST(len(regexp_extract_all(seq, 'vc*p')) AS INTEGER) AS n_buy,
        |  CAST(len(regexp_extract_all(seq, 'e[^p]*p')) AS INTEGER) AS n_error_to_buy
        | FROM s)
        |SELECT user_id, n_buy,
        | CAST(CASE WHEN n_buy > 0
        |  THEN length(regexp_extract(seq, '^(.*?)(vc*p)', 1)) + 1 ELSE 0 END AS INTEGER) AS first_buy_pos,
        | CAST(CASE WHEN n_buy > 0
        |  THEN length(regexp_extract(seq, '(vc*p)', 1)) ELSE 0 END AS INTEGER) AS first_buy_len,
        | n_error_to_buy
        |FROM m
        |WHERE n_buy > 0 OR n_error_to_buy > 0
        |ORDER BY user_id""".stripMargin,

    "q232_bq_hamming" -> Vectors.subFor(
      """WITH --VEC--,
        |q AS (SELECT vec_id AS qid, v AS qv, nsq AS qn FROM n WHERE vec_id < 5),
        |ham AS (
        | SELECT q.qid, b.vec_id AS cid, b.v AS cv, b.nsq AS cn, q.qv, q.qn,
        |  CAST(list_reduce(list_prepend(0, list_transform(range(1, 65),
        |    i -> CASE WHEN (q.qv[i] >= 0) <> (b.v[i] >= 0) THEN 1 ELSE 0 END)),
        |    (s, x) -> s + x) AS INTEGER) AS hamming
        | FROM q JOIN n b ON b.vec_id <> q.qid),
        |short AS (
        | SELECT qid, cid, hamming,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(range(1, 65), i -> qv[i] * cv[i])), (s, x) -> s + x)
        |   / (sqrt(qn) * sqrt(cn)) AS cos
        | FROM ham
        | QUALIFY row_number() OVER (PARTITION BY qid ORDER BY hamming, cid) <= 50)
        |SELECT qid,
        | CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank,
        | cid, hamming, cos
        |FROM short
        |QUALIFY rank <= 3
        |ORDER BY qid, rank""".stripMargin),

    "q233_temporal_reach" -> ("""WITH RECURSIVE --EP--,
        |et AS MATERIALIZED (
        | SELECT name, dep,
        |  1 + CAST(('0x' || substr(md5(name |CONCAT| '>' |CONCAT| dep), 1, 2)) AS BIGINT) % 8 AS t
        | FROM edges),
        |bfs(name, depth) AS (
        | SELECT 'pkg-00', 0
        | UNION
        | SELECT e.dep, b.depth + 1 FROM bfs b JOIN et e ON e.name = b.name
        | WHERE b.depth < 30),
        |sd AS (SELECT name, CAST(min(depth) AS INTEGER) AS depth FROM bfs GROUP BY name),
        |a0 AS (SELECT 'pkg-00' AS name, CAST(0 AS BIGINT) AS arr),
        |--TR--,
        |cvg AS (SELECT (SELECT count(*) FROM (
        |  (SELECT * FROM a19 EXCEPT SELECT * FROM a20)
        |  UNION ALL (SELECT * FROM a20 EXCEPT SELECT * FROM a19)))
        | + (SELECT count(*) FROM sd WHERE depth >= 30) AS nd)
        |SELECT sd.name, sd.depth,
        | CAST(coalesce(a.arr, -1) AS BIGINT) AS earliest
        |FROM sd LEFT JOIN a20 a USING (name)
        |CROSS JOIN cvg WHERE cvg.nd = 0
        |ORDER BY sd.name""".stripMargin
      .replace("--EP--", Resolution.edgesCtePrelude)
      .replace("--TR--", trUnrolled(20))
      .replace("|CONCAT|", "||")),

    "q235_ks_test" ->
      """WITH seg AS (
        | SELECT o.o_totalprice AS x, c.c_mktsegment AS sg
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        | WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |per AS (
        | SELECT x,
        |  CAST(sum(CASE WHEN sg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN sg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        | FROM seg GROUP BY x),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM per),
        |cum AS (
        | SELECT x,
        |  CAST(sum(ca) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
        |  CAST(sum(cb) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
        | FROM per),
        |sc AS (
        | SELECT c.x, t.na, t.nb, abs(c.cuma * t.nb - c.cumb * t.na) AS d_scaled
        | FROM cum c CROSS JOIN tot t)
        |SELECT na, nb, x AS sup_at, d_scaled,
        | (1000000 * d_scaled) // (na * nb) AS d_ppm
        |FROM sc
        |QUALIFY row_number() OVER (ORDER BY d_scaled DESC, x) = 1""".stripMargin,

    "q236_gap_sequences" ->
      """WITH b AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type AS a
        | FROM events),
        |p AS (
        | SELECT user_id, a,
        |  lead(a, 1) OVER w AS g1, lead(a, 2) OVER w AS g2, lead(a, 3) OVER w AS g3
        | FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |pairs AS (
        | SELECT user_id, a, g1 AS b, 1 AS gap FROM p WHERE g1 IS NOT NULL
        | UNION ALL SELECT user_id, a, g2, 2 FROM p WHERE g2 IS NOT NULL
        | UNION ALL SELECT user_id, a, g3, 3 FROM p WHERE g3 IS NOT NULL),
        |ag AS (
        | SELECT a, b, count(*) AS support, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CASE WHEN gap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS adjacent
        | FROM pairs GROUP BY 1, 2)
        |SELECT CAST(row_number() OVER (ORDER BY support DESC, a, b) AS INTEGER) AS rank,
        | a, b, support, n_users, adjacent
        |FROM ag
        |QUALIFY rank <= 15
        |ORDER BY rank""".stripMargin,

    "q237_ols_two_factor" ->
      """WITH r AS (
        | SELECT l_returnflag AS flag,
        |  CAST(l_quantity AS BIGINT) AS x1,
        |  CAST(floor(l_discount * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS x2,
        |  CAST(floor(l_extendedprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS y
        | FROM lineitem),
        |m AS (
        | SELECT flag, count(*) AS n,
        |  CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
        |  CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x1 * x1) AS BIGINT) AS sx1x1, CAST(sum(x2 * x2) AS BIGINT) AS sx2x2,
        |  CAST(sum(x1 * x2) AS BIGINT) AS sx1x2,
        |  CAST(sum(x1 * y) AS BIGINT) AS sx1y, CAST(sum(x2 * y) AS BIGINT) AS sx2y
        | FROM r GROUP BY 1),
        |sca AS (
        | SELECT flag, n, sx1, sx2, sy,
        |  n::HUGEINT * sx1x1 - sx1::HUGEINT * sx1 AS s11,
        |  n::HUGEINT * sx2x2 - sx2::HUGEINT * sx2 AS s22,
        |  n::HUGEINT * sx1x2 - sx1::HUGEINT * sx2 AS s12,
        |  n::HUGEINT * sx1y - sx1::HUGEINT * sy AS s1y,
        |  n::HUGEINT * sx2y - sx2::HUGEINT * sy AS s2y
        | FROM m),
        |fin AS (
        | SELECT flag, n, sx1, sx2, sy, s11, s22, s12, s1y, s2y,
        |  s11 * s22 - s12 * s12 AS det
        | FROM sca),
        |co AS (
        | SELECT flag, n, sx1, sx2, sy,
        |  CAST(CAST(s22 * s1y - s12 * s2y AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(det AS VARCHAR) AS DOUBLE) AS b1,
        |  CAST(CAST(s11 * s2y - s12 * s1y AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(det AS VARCHAR) AS DOUBLE) AS b2
        | FROM fin)
        |SELECT flag, n, b1, b2,
        | (CAST(sy AS DOUBLE) - b1 * CAST(sx1 AS DOUBLE) - b2 * CAST(sx2 AS DOUBLE))
        |   / CAST(n AS DOUBLE) AS intercept
        |FROM co
        |ORDER BY flag""".stripMargin,

    "q238_eccentricity" -> ("""WITH RECURSIVE --EP--,
        |roots AS (SELECT DISTINCT 'pkg-' |CONCAT| lpad(CAST(i AS VARCHAR), 2, '0') AS root FROM idx),
        |bfs(root, name, depth) AS (
        | SELECT root, root, 0 FROM roots
        | UNION
        | SELECT b.root, e.dep, b.depth + 1 FROM bfs b JOIN edges e ON e.name = b.name
        | WHERE b.depth < 30),
        |rmin AS (SELECT root, name, min(depth) AS depth FROM bfs GROUP BY 1, 2),
        |e2 AS (
        | SELECT root, CAST(max(depth) AS INTEGER) AS ecc, count(*) AS n_reach
        | FROM rmin GROUP BY 1),
        |d AS (SELECT CAST(max(ecc) AS INTEGER) AS diameter FROM e2)
        |SELECT e2.root, e2.ecc, e2.n_reach, d.diameter,
        | e2.ecc = d.diameter AS is_diameter_endpoint
        |FROM e2 CROSS JOIN d
        |ORDER BY e2.root""".stripMargin
      .replace("--EP--", Resolution.edgesCtePrelude)
      .replace("|CONCAT|", "||")),

    "q243_retention_gc" -> Packages.subFor(
      """WITH --PKG--,
        |snaps AS (
        | SELECT pkg_id, name,
        |  CAST(vmaj AS VARCHAR) || '.' || CAST(vmin AS VARCHAR) || '.' || CAST(vpat AS VARCHAR)
        |    || '-r' || CAST(1 + (pkg_id + g.k * (pkg_id % 3)) % 5 AS VARCHAR) AS version,
        |  CAST(g.k AS INTEGER) AS snap
        | FROM pkg, range(4) g(k)
        | WHERE (pkg_id + g.k) % 23 <> 0),
        |w AS (
        | SELECT *, CASE WHEN lag(version) OVER pw IS NULL
        |   OR lag(version) OVER pw <> version
        |   OR lag(snap) OVER pw + 1 <> snap THEN 1 ELSE 0 END AS brk
        | FROM snaps WINDOW pw AS (PARTITION BY pkg_id ORDER BY snap)),
        |i AS (
        | SELECT *, sum(brk) OVER (PARTITION BY pkg_id ORDER BY snap
        |   ROWS UNBOUNDED PRECEDING) AS island
        | FROM w),
        |hh AS (
        | SELECT pkg_id, max(name) AS name,
        |  min(snap) AS valid_from, max(snap) AS valid_to
        | FROM i GROUP BY pkg_id, island),
        |counts AS (
        | SELECT name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN valid_to < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_reclaimable
        | FROM hh GROUP BY 1),
        |f AS (
        | SELECT name, count(*) AS n_asof_full
        | FROM hh WHERE valid_from <= 2 AND valid_to >= 2 GROUP BY 1)
        |SELECT c.name, c.n_rows, c.n_reclaimable,
        | CAST(coalesce(f.n_asof_full, 0) AS BIGINT) AS n_asof_full,
        | CAST(coalesce(f.n_asof_full, 0) AS BIGINT) AS n_asof_pruned
        |FROM counts c LEFT JOIN f USING (name)
        |ORDER BY c.name""".stripMargin),

    "q244_session_calendarize" ->
      """WITH e AS (
        | SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        | FROM events),
        |w AS (
        | SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER pw IS NULL OR us - lag(us) OVER pw > 1800000000
        |   THEN 1 ELSE 0 END AS new_sess
        | FROM e WINDOW pw AS (PARTITION BY user_id ORDER BY us, event_id)),
        |si AS (
        | SELECT user_id, us,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sess_id
        | FROM w),
        |sess AS (
        | SELECT user_id, sess_id, min(us) AS s_us, max(us) AS e_us
        | FROM si GROUP BY 1, 2),
        |bounds AS (
        | SELECT min(s_us) // 3600000000 AS mn, max(e_us) // 3600000000 AS mx FROM sess),
        |hours AS (SELECT unnest(range(mn, mx + 1)) AS h FROM bounds),
        |ph AS (
        | SELECT s.s_us, s.e_us, ho.h
        | FROM sess s JOIN hours ho
        |   ON ho.h BETWEEN s.s_us // 3600000000 AND s.e_us // 3600000000),
        |sc AS (
        | SELECT h, count(*) AS n_active,
        |  CAST(sum(least(e_us, (h + 1) * 3600000000) - greatest(s_us, h * 3600000000)) AS BIGINT) AS total_in_us,
        |  CAST(sum(CASE WHEN h * 3600000000 > s_us THEN 1 ELSE 0 END) AS BIGINT) AS n_entered
        | FROM ph GROUP BY 1)
        |SELECT strftime(make_timestamp(h * 3600000000), '%Y-%m-%d %H') AS hour,
        | n_active, total_in_us, n_entered
        |FROM sc ORDER BY hour""".stripMargin,

    "q239_incremental_join" ->
      """WITH o AS (
        | SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS TIMESTAMP) AS od
        | FROM orders),
        |l AS (
        | SELECT l_orderkey AS o_orderkey, CAST(l_shipdate AS TIMESTAMP) AS sd,
        |  CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * CAST(100 AS DOUBLE)
        |       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS rev_c
        | FROM lineitem),
        |j AS (
        | SELECT o.o_orderstatus AS status, l.rev_c,
        |  CASE WHEN o.od < TIMESTAMP '2000-01-01' AND l.sd < TIMESTAMP '2000-01-01' THEN 'old'
        |       WHEN o.od >= TIMESTAMP '2000-01-01' AND l.sd < TIMESTAMP '2000-01-01' THEN 'dA_B'
        |       WHEN o.od < TIMESTAMP '2000-01-01' THEN 'A_dB'
        |       ELSE 'dA_dB' END AS term
        | FROM o JOIN l USING (o_orderkey))
        |SELECT status, count(*) AS n_rows, CAST(sum(rev_c) AS BIGINT) AS revenue_c,
        | CAST(sum(CASE WHEN term = 'old' THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        | CAST(sum(CASE WHEN term = 'dA_B' THEN 1 ELSE 0 END) AS BIGINT) AS n_da_b,
        | CAST(sum(CASE WHEN term = 'A_dB' THEN 1 ELSE 0 END) AS BIGINT) AS n_a_db,
        | CAST(sum(CASE WHEN term = 'dA_dB' THEN 1 ELSE 0 END) AS BIGINT) AS n_da_db
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q240_schema_evolution" ->
      """WITH p AS (
        | SELECT p_partkey AS pkg_id, CAST(p_partkey % 3 AS INTEGER) AS gen, p_size
        | FROM part)
        |SELECT gen, count(*) AS n_rows,
        | CAST(CASE WHEN gen = 2 THEN count(*) ELSE 0 END AS BIGINT) AS null_version,
        | CAST(CASE WHEN gen = 1 THEN 0 ELSE count(*) END AS BIGINT) AS null_arch,
        | CAST(CASE WHEN gen = 2 THEN 0 ELSE count(*) END AS BIGINT) AS null_size,
        | CAST(CASE WHEN gen = 2 THEN sum(p_size) ELSE 0 END AS BIGINT) AS size_sum
        |FROM p GROUP BY gen ORDER BY gen""".stripMargin,

    "q241_shapley_attribution" ->
      """WITH fb AS (
        | SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS buy_ts
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |mk AS (
        | SELECT e.user_id,
        |  bit_or(CASE e.event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |         WHEN 'signup' THEN 4 WHEN 'error' THEN 8 ELSE 0 END) AS mask
        | FROM events e JOIN fb ON fb.user_id = e.user_id
        | WHERE CAST(e.ts AS TIMESTAMP) < fb.buy_ts GROUP BY 1),
        |cv AS (
        | SELECT coalesce(mk.mask, 0) AS mask, count(*) AS cnt
        | FROM fb LEFT JOIN mk ON mk.user_id = fb.user_id GROUP BY 1),
        |co AS (SELECT CAST(g.c AS INTEGER) AS coal FROM range(0, 16) g(c)),
        |v AS (
        | SELECT co.coal, CAST(coalesce(sum(cv.cnt), 0) AS BIGINT) AS v
        | FROM co LEFT JOIN cv ON (cv.mask & co.coal) = cv.mask GROUP BY 1),
        |ch AS (
        | SELECT CAST(g.c AS INTEGER) AS ch, (1 << CAST(g.c AS INTEGER)) AS chbit,
        |  CASE g.c WHEN 0 THEN 'view' WHEN 1 THEN 'click' WHEN 2 THEN 'signup'
        |   ELSE 'error' END AS channel
        | FROM range(0, 4) g(c)),
        |terms AS (
        | SELECT ch.ch, ch.channel, v0.coal AS s0, v0.v AS v0, v1.v AS v1
        | FROM ch JOIN v v0 ON (v0.coal & ch.chbit) = 0
        |         JOIN v v1 ON v1.coal = (v0.coal | ch.chbit)),
        |sh AS (
        | SELECT ch, channel,
        |  CAST(sum((CASE bit_count(s0) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
        |            ELSE 6 END) * (v1 - v0)) AS BIGINT) AS shap24
        | FROM terms GROUP BY 1, 2)
        |SELECT sh.channel, sh.shap24, vf.v AS v_full, ve.v AS v_empty
        |FROM sh
        |CROSS JOIN (SELECT v FROM v WHERE coal = 15) vf
        |CROSS JOIN (SELECT v FROM v WHERE coal = 0) ve
        |ORDER BY sh.ch""".stripMargin,

    "q234_cusum_changepoint" ->
      """WITH daily AS (
        | SELECT o_orderpriority AS prio,
        |  strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS d,
        |  CAST(sum(CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS x
        | FROM orders GROUP BY 1, 2),
        |cum AS (
        | SELECT prio, d, x,
        |  CAST(row_number() OVER (PARTITION BY prio ORDER BY d) AS BIGINT) AS t,
        |  CAST(sum(x) OVER (PARTITION BY prio ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        | FROM daily),
        |tot AS (SELECT prio, CAST(sum(x) AS BIGINT) AS tot, count(*) AS n FROM daily GROUP BY 1),
        |st AS (
        | SELECT c.prio, c.d, c.t, c.cum, o.tot, o.n, o.n * c.cum - c.t * o.tot AS s
        | FROM cum c JOIN tot o USING (prio))
        |SELECT prio, d AS cp_date, abs(s) AS s_max_abs, n AS n_days,
        | cum // t AS mean_before_c,
        | CASE WHEN n > t THEN (tot - cum) // (n - t) END AS mean_after_c
        |FROM st
        |QUALIFY row_number() OVER (PARTITION BY prio ORDER BY abs(s) DESC, d) = 1
        |ORDER BY prio""".stripMargin,

    "q264_hdr_histogram" ->
      s"""WITH $HdrRegsCte
        |SELECT flag, CAST(id AS BIGINT) AS id,
        | CAST(64 + id % 64 AS BIGINT) << CAST(id // 64 - 6 AS INTEGER) AS lb_cents,
        | (CAST(64 + id % 64 AS BIGINT) << CAST(id // 64 - 6 AS INTEGER))
        |   + (CAST(1 AS BIGINT) << CAST(id // 64 - 6 AS INTEGER)) - 1 AS ub_cents,
        | CAST(cnt AS BIGINT) AS cnt
        |FROM regs
        |ORDER BY flag, id""".stripMargin,

    "q271_sketch_join_stats" ->
      s"""WITH ha AS (
        | SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        | FROM orders),
        |hb AS (
        | SELECT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        | FROM customer WHERE c_acctbal > 0),
        |ra0 AS (SELECT h // $HllSplit AS bucket,
        |  CASE WHEN h % $HllSplit = 0 THEN 55
        |       ELSE 55 - length(ltrim(bin(h % $HllSplit), '0')) END AS rho FROM ha),
        |ra AS (SELECT bucket, max(rho) AS reg FROM ra0 GROUP BY 1),
        |rb0 AS (SELECT h // $HllSplit AS bucket,
        |  CASE WHEN h % $HllSplit = 0 THEN 55
        |       ELSE 55 - length(ltrim(bin(h % $HllSplit), '0')) END AS rho FROM hb),
        |rb AS (SELECT bucket, max(rho) AS reg FROM rb0 GROUP BY 1),
        |fa AS (
        | SELECT g.b, coalesce(ra.reg, 0) AS rega, coalesce(rb.reg, 0) AS regb
        | FROM range(0, 64) g(b)
        | LEFT JOIN ra ON ra.bucket = g.b LEFT JOIN rb ON rb.bucket = g.b),
        |ag AS (SELECT
        |  CAST(sum(1::BIGINT << CAST(55 - rega AS INTEGER)) AS BIGINT) AS sa,
        |  CAST(sum(1::BIGINT << CAST(55 - regb AS INTEGER)) AS BIGINT) AS sb,
        |  CAST(sum(1::BIGINT << CAST(55 - greatest(rega, regb) AS INTEGER)) AS BIGINT) AS su
        | FROM fa),
        |est AS (SELECT
        |  CAST((1890844672::HUGEINT * 36028797018963968::HUGEINT) // (650790::HUGEINT * sa) AS BIGINT) AS est_a,
        |  CAST((1890844672::HUGEINT * 36028797018963968::HUGEINT) // (650790::HUGEINT * sb) AS BIGINT) AS est_b,
        |  CAST((1890844672::HUGEINT * 36028797018963968::HUGEINT) // (650790::HUGEINT * su) AS BIGINT) AS est_union
        | FROM ag),
        |exa AS (SELECT count(DISTINCT o_custkey) AS exact_a FROM orders),
        |exb AS (SELECT count(DISTINCT c_custkey) AS exact_b FROM customer WHERE c_acctbal > 0),
        |exi AS (
        | SELECT count(*) AS exact_intersect
        | FROM (SELECT DISTINCT o_custkey FROM orders) o
        | JOIN (SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 0) c
        |   ON c.c_custkey = o.o_custkey)
        |SELECT e.est_a, CAST(exa.exact_a AS BIGINT) AS exact_a,
        | e.est_b, CAST(exb.exact_b AS BIGINT) AS exact_b,
        | e.est_union, e.est_a + e.est_b - e.est_union AS est_intersect,
        | CAST(exi.exact_intersect AS BIGINT) AS exact_intersect,
        | CAST(((e.est_a + e.est_b - e.est_union - exi.exact_intersect) * 1000000
        |   + 1000000000 * exi.exact_intersect) // exi.exact_intersect - 1000000000 AS BIGINT) AS err_ppm
        |FROM est e, exa, exb, exi""".stripMargin,

    "q266_partitioned_dpp_join" ->
      """WITH ev AS (
        | SELECT user_id, value, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        | FROM events),
        |daily AS (SELECT d, count(*) AS n_day FROM ev GROUP BY d),
        |busy AS (
        | SELECT d, n_day FROM daily
        | QUALIFY row_number() OVER (ORDER BY n_day DESC, d) <= 3)
        |SELECT strftime(CAST(b.d AS TIMESTAMP), '%Y-%m-%d') AS d,
        | CAST(b.n_day AS BIGINT) AS n_day,
        | count(*) AS n_events,
        | count(DISTINCT e.user_id) AS n_users,
        | round(sum(e.value), 2) AS sum_value
        |FROM ev e JOIN busy b USING (d)
        |GROUP BY 1, 2
        |ORDER BY 1""".stripMargin,

    "q265_hdr_quantile_serve" ->
      s"""WITH $HdrRegsCte,
        |cum AS (
        | SELECT flag, id, cnt,
        |  CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        | FROM regs),
        |tot AS (SELECT flag, CAST(sum(cnt) AS BIGINT) AS n FROM regs GROUP BY 1),
        |tgt AS (
        | SELECT flag, n, p.pct, (n * p.pct + 99) // 100 AS r
        | FROM tot, (VALUES (50), (90), (99)) p(pct)),
        |est AS (
        | SELECT t.flag, t.pct, t.n, t.r, c.id,
        |  c.cum - c.cnt + 1 AS rank_lo, c.cum AS rank_hi
        | FROM cum c JOIN tgt t USING (flag) WHERE c.cum >= t.r
        | QUALIFY row_number() OVER (PARTITION BY t.flag, t.pct ORDER BY c.id) = 1),
        |est2 AS (
        | SELECT flag, pct, n, r,
        |  CAST(64 + id % 64 AS BIGINT) << CAST(id // 64 - 6 AS INTEGER) AS est_cents,
        |  (CAST(64 + id % 64 AS BIGINT) << CAST(id // 64 - 6 AS INTEGER))
        |    + (CAST(1 AS BIGINT) << CAST(id // 64 - 6 AS INTEGER)) - 1 AS ub_cents,
        |  CAST(rank_lo AS BIGINT) AS rank_lo, rank_hi
        | FROM est),
        |vc0 AS (SELECT flag, c, count(*) AS vn FROM cents GROUP BY 1, 2),
        |vc AS (
        | SELECT flag, c, vn FROM vc0
        | UNION ALL SELECT 'ALL', c, sum(vn) FROM vc0 GROUP BY 2),
        |vcum AS (
        | SELECT flag, c,
        |  sum(vn) OVER (PARTITION BY flag ORDER BY c ROWS UNBOUNDED PRECEDING) AS vcum
        | FROM vc),
        |ex AS (
        | SELECT v.flag, t.pct, min(v.c) AS exact_cents
        | FROM vcum v JOIN tgt t USING (flag) WHERE v.vcum >= t.r GROUP BY 1, 2)
        |SELECT e.flag, e.pct, e.n, e.r, e.est_cents, e.ub_cents,
        | e.rank_lo, e.rank_hi, x.exact_cents,
        | (x.exact_cents BETWEEN e.est_cents AND e.ub_cents) AS in_bucket
        |FROM est2 e JOIN ex x USING (flag, pct)
        |ORDER BY e.flag, e.pct""".stripMargin)

  /** DuckDB re-derivation of [[hdrRegs]]: `cents` (flag, c) and `regs`
    * (flag incl. merged 'ALL', id, cnt) — the ALL level sums the
    * PER-FLAG registers, mirroring the Spark side's in-plan merge.
    */
  private def HdrRegsCte =
    """cents AS (
      | SELECT l_returnflag AS flag,
      |  CAST(floor(l_extendedprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
      | FROM lineitem),
      |bk AS (
      | SELECT flag, c, length(bin(c)) - 1 AS e FROM cents),
      |bk2 AS (
      | SELECT flag, CAST(e * 64 + ((c >> CAST(e - 6 AS INTEGER)) & 63) AS BIGINT) AS id
      | FROM bk),
      |regs0 AS (SELECT flag, id, count(*) AS cnt FROM bk2 GROUP BY 1, 2),
      |regs AS (
      | SELECT flag, id, cnt FROM regs0
      | UNION ALL SELECT 'ALL', id, sum(cnt) FROM regs0 GROUP BY 2)""".stripMargin
}
