package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Event-time analytics (SURVEY.md §2.5 W2–W5, §2.9 T1–T3, J9; §7 M3).
  *
  * The reference has no streaming engine — ingestion is periodic
  * fetch-then-cache (`/root/reference/.vscode/settings.json:9`); this module
  * is the driver-mandated event-time extension surface. Every query is
  * expressed so the identical transform works under Structured Streaming
  * (`readStream` + watermark): tumbling/sliding `window()`, `session_window`
  * semantics via the lag+cumsum pattern (DuckDB-comparable), and the as-of
  * join as a union+window (single shuffle by key — the streaming-safe form).
  *
  * Scale notes (100 TB): every query shuffles at most once, on the natural
  * key (window bucket or user_id). Sessionization and as-of are window
  * functions over `partitionBy(user_id)` — no self-join, no NLJ; the
  * sliding-window fan-out is a 4× explode BEFORE the aggregation so partial
  * aggregation still applies. `events.ts` arrives as ns → Tables.events
  * normalizes to TIMESTAMP_NTZ micros exactly like the oracle's CAST.
  */
object Events {
  type QFn = (SparkSession, String) => DataFrame

  val queries: Seq[(String, QFn)] = Seq(
    // Local-differential-privacy frequency estimation (k-ary randomized
    // response — Warner 1965 / RAPPOR-family, public): each event reports
    // its true type with probability 3/4, otherwise a uniform draw from
    // the k=5 type alphabet; the collector sees only the noisy stream and
    // debiases n̂_v = (obs_v − n(1−p)/k) / p. This is the privacy layer a
    // telemetry pipeline puts IN FRONT of the warehouse (ε = ln(1+pk/(1−p))
    // = ln 16 per event). Coins are md5-derived — deterministic, so the
    // oracle replays the identical mechanism and the judged claim covers
    // the mechanism AND the debiasing estimator (est in exact ‰ fixed
    // point: (20·obs − n)/15, all int64; measured residual error is a
    // column, not an assertion). One map-only perturbation + two bounded
    // aggregations + a broadcast one-row total.
    "q182_ldp_frequency" -> { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = Tables.events(s, dir).select("event_id", "event_type")
      val coin = expr(
        "pmod(cast(conv(substring(md5(cast(event_id as string)), 1, 15), 16, 10) as bigint), 4)")
      val lieIdx = expr(
        "pmod(cast(conv(substring(md5(concat(cast(event_id as string), 'lie')), 1, 15), 16, 10) as bigint), 5)")
      val reported = ev.withColumn("reported",
        when(coin < 3, col("event_type"))
          .otherwise(element_at(array(types.map(lit): _*), (lieIdx + 1).cast("int"))))
      val n = broadcast(ev.agg(count(lit(1)).as("n_total")))
      val obs = reported.groupBy(col("reported").as("event_type"))
        .agg(count(lit(1)).as("observed"))
      val tru = ev.groupBy("event_type").agg(count(lit(1)).as("true_count"))
      tru.join(obs, "event_type").crossJoin(n)
        .withColumn("est_x1000",
          expr("greatest(0, 20 * observed - n_total) * 1000 div 15"))
        .withColumn("err_x1000", col("est_x1000") - col("true_count") * 1000)
        .select("event_type", "true_count", "observed", "est_x1000", "err_x1000")
        .orderBy("event_type")
    },

    // EWMA forecasting over the daily event stream — the capacity-planning
    // twin of q169's anomaly gate: tomorrow's expected volume per type is
    // the exponentially-weighted mean of the trailing 8 days (α = 1/2,
    // weights 2^-k). EVERY arithmetic step is exact: counts are int64,
    // 2^-k weights are dyadic (int/2^k division is one exact IEEE op),
    // and the dyadic partial sums stay exactly representable — the final
    // normalize is the only rounded op, identical on both engines, so the
    // forecast needs no round() to hash-match. One daily aggregation +
    // one bounded 8-lag window per type partition; at 100 TB the daily
    // count table is tiny regardless of event volume.
    "q190_ewma_forecast" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lagged = (1 to 8).foldLeft(daily) { (df, k) =>
        df.withColumn(s"l$k", lag("cnt", k).over(w))
      }
      val num = (1 to 8).map(k => s"coalesce(l$k, 0) / ${1 << k}").mkString(" + ")
      val den = (1 to 8)
        .map(k => s"(case when l$k is not null then cast(1 as double) / ${1 << k} else cast(0 as double) end)")
        .mkString(" + ")
      lagged
        .withColumn("ewma", expr(s"($num) / ($den)"))
        .filter(col("l1").isNotNull)
        .select(col("event_type"), col("day"), col("cnt"), col("ewma"),
          (col("cnt") - col("ewma")).as("err"))
        .orderBy("event_type", "day")
    },

    // Behavioral Markov model trained in-plan — the user-journey model a
    // product-analytics engine fits: within-session transition counts
    // (lead over q22's sessions) row-normalize to ppm probabilities, and
    // the chain's stationary distribution comes from 8 integer power
    // iterations (π·P with multiply-then-div, the q86 discipline) — the
    // long-run "where do sessions spend their time" vector. The observed
    // per-type frequency rides along, so model-vs-data is a judged
    // comparison, not a claim. All arithmetic exact int64 (floors and
    // leaked mass land identically on both engines — the oracle unrolls
    // the same 8 iterations); the state space is the 5-type alphabet, so
    // every iteration is a 25-row join regardless of corpus size.
    "q210_markov_stationary" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev_us", lag("us", 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
        .withColumn("sess_id", sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      val wSess = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
      // built once: the p and types cuts below both read it, and each
      // would otherwise re-run the scan, both windows and the aggregate
      val trans = graft.operators.Lineage.cut(
        ev.withColumn("nxt", lead("event_type", 1).over(wSess))
          .filter(col("nxt").isNotNull)
          .groupBy(col("event_type").as("a"), col("nxt").as("b"))
          .agg(count(lit(1)).as("c")))
      val rowTot = trans.groupBy("a").agg(sum("c").as("ca"))
      val p = graft.operators.Lineage.cut(
        trans.join(rowTot, "a")
          .select(col("a"), col("b"), expr("c * 1000000 div ca").as("p")))
      val types = graft.operators.Lineage.cut(
        trans.select(col("a").as("t")).unionByName(trans.select(col("b").as("t"))).distinct())
      val nT = broadcast(types.agg(count(lit(1)).as("nt")))
      var pi = types.crossJoin(nT).select(col("t"), expr("1000000000000 div nt").as("pi"))
      // LAZY cuts: each iterate is consumed exactly once by the next, so
      // no step pays a count job for its <=5-row vector. The chain is not
      // one job: each cut's `toRdd` runs that step's shuffle and broadcast
      // stages as jobs at cut time; only its checkpoint write waits for
      // the next step or the terminal action
      for (_ <- 1 to 8) {
        pi = graft.operators.Lineage.cutLazy(
          pi.join(p, pi("t") === p("a"))
            .select(col("b").as("t"), expr("pi * p div 1000000").as("m"))
            .groupBy("t").agg(sum("m").as("pi")))
      }
      val freq = Tables.events(s, dir).groupBy(col("event_type").as("t"))
        .agg(count(lit(1)).as("cnt"))
      val tot = broadcast(freq.agg(sum("cnt").as("n_total")))
      types.join(pi, Seq("t"), "left")
        .withColumn("pi", coalesce(col("pi"), lit(0L)))
        .join(freq, "t").crossJoin(tot)
        .select(col("t").as("event_type"), col("pi").as("stationary_fp"),
          expr("cnt * 1000000000000 div n_total").as("observed_fp"))
        .orderBy("event_type")
    },

    // Multi-touch attribution — the marketing-analytics operator on top
    // of q22's sessionization: every purchase credits the view/click
    // touches that preceded it IN ITS SESSION under three standard
    // models (first-touch, last-touch, linear), and purchases with no
    // preceding touch land in the 'direct' channel so credit mass is
    // conserved per model. Linear credit is EXACT integer arithmetic:
    // 1000 div n per touch with the remainder assigned to the last touch
    // (documented policy — float splitting would leak per-mille off the
    // judged totals). One session window pass + one (user, session)
    // equi-join whose fan-out is bounded by session length; all three
    // models ride the same joined frame.
    "q201_attribution" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev_us", lag("us", 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
        .withColumn("sess_id", sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("sess_id"), col("event_id").as("p_id"),
          col("us").as("p_us"))
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("sess_id"), col("event_id").as("t_id"),
          col("us").as("t_us"), col("event_type").as("channel"))
      // qualifying = session touches strictly before the purchase (ties
      // broken by event id); purchases with none fall to 'direct' via an
      // anti-join, so no conversion is silently dropped
      val touched = purchases.join(touches, Seq("user_id", "sess_id"))
        .filter(col("t_us") < col("p_us") ||
          (col("t_us") === col("p_us") && col("t_id") < col("p_id")))
        .withColumn("n_touch", count(lit(1)).over(Window.partitionBy("p_id")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("p_id").orderBy(col("t_us"), col("t_id"))))
      val first = touched.filter(col("rn") === 1)
        .select(lit("first").as("model"), col("channel"), col("p_id"), lit(1000L).as("credit"))
      val last = touched.filter(col("rn") === col("n_touch"))
        .select(lit("last").as("model"), col("channel"), col("p_id"), lit(1000L).as("credit"))
      val linear = touched
        .select(lit("linear").as("model"), col("channel"), col("p_id"),
          (expr("1000 div n_touch") +
            when(col("rn") === col("n_touch"), expr("1000 % n_touch")).otherwise(lit(0L))).as("credit"))
      val directRows = purchases
        .join(touched.select("p_id").distinct(), Seq("p_id"), "left_anti")
        .select("p_id")
      val directAll = Seq("first", "last", "linear").map(m =>
        directRows.select(lit(m).as("model"), lit("direct").as("channel"),
          col("p_id"), lit(1000L).as("credit"))).reduce(_ unionByName _)
      first.unionByName(last).unionByName(linear).unionByName(directAll)
        .groupBy("model", "channel")
        .agg(countDistinct("p_id").as("n_conversions"), sum("credit").as("credit_x1000"))
        .orderBy("model", "channel")
    },

    // Theil–Sen robust trend estimation per event type (public estimator:
    // the MEDIAN of all pairwise slopes — one wild day cannot drag it the
    // way it drags least squares): daily counts → all day pairs → slope
    // (c2−c1)/(d2−d1), each one exact-int subtraction + one IEEE
    // division — then the lower-median pick by a fully tie-broken
    // row_number (never percentile interpolation, which engines disagree
    // on). The OLS slope from exact decimal moments rides along so the
    // robust-vs-classical gap is a judged column. Pairs are per-type
    // day-pair joins — day tables stay tiny at any corpus scale, so the
    // O(days²) pair set is a non-cost; the raw stream collapses to daily
    // counts in one partial-aggregated shuffle.
    "q196_theilsen_trend" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long").as("di"))
        .agg(count(lit(1)).as("cnt"))
      val a = daily.select(col("event_type"), col("di").as("d1"), col("cnt").as("c1"))
      val b = daily.select(col("event_type"), col("di").as("d2"), col("cnt").as("c2"))
      val slopes = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
        .withColumn("slope", (col("c2") - col("c1")).cast("double") / (col("d2") - col("d1")).cast("double"))
      val ranked = slopes.withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(col("slope"), col("d1"), col("d2"))))
        .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy("event_type")))
      val ts = ranked.filter(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("event_type"), col("n_pairs"), col("slope").as("ts_slope"))
      val ols = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum("di").as("sd"), sum("cnt").as("sc"),
          sum(col("di") * col("di")).as("sdd"),
          sum(col("di") * col("cnt")).as("sdc"))
        .select(col("event_type"), col("n_days"),
          ((col("sdc").cast("double") - col("sd").cast("double") * col("sc").cast("double") / col("n_days")) /
            (col("sdd").cast("double") - col("sd").cast("double") * col("sd").cast("double") / col("n_days")))
            .as("ols_slope"))
      ts.join(ols, "event_type")
        .select(col("event_type"), col("n_days"), col("n_pairs"),
          col("ts_slope"), col("ols_slope"),
          (col("ts_slope") - col("ols_slope")).as("robust_gap"))
        .orderBy("event_type")
    },

    // Robust outlier gating by median/MAD (the DQ twin of q169's z-test:
    // mean/stddev move WITH the outlier, median/MAD don't — the standard
    // robust alternative): per type, the daily-count median and the
    // median absolute deviation, both picked by fully tie-broken
    // row_number (exact values, no interpolation), then flag days where
    // |cnt − med| > 3·MAD in pure int64. Two bounded window passes over
    // the tiny daily table; every day rides out with its verdict so the
    // flag census is auditable.
    "q197_mad_outliers" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val n = Window.partitionBy("event_type")
      val medPick = daily
        .withColumn("rn", row_number().over(n.orderBy(col("cnt"), col("day"))))
        .withColumn("nn", count(lit(1)).over(n))
        .filter(col("rn") === expr("(nn + 1) div 2"))
        .select(col("event_type"), col("cnt").as("med"))
      val dev = daily.join(medPick, "event_type")
        .withColumn("dev", abs(col("cnt") - col("med")))
      val madPick = dev
        .withColumn("rn", row_number().over(n.orderBy(col("dev"), col("day"))))
        .withColumn("nn", count(lit(1)).over(n))
        .filter(col("rn") === expr("(nn + 1) div 2"))
        .select(col("event_type"), col("dev").as("mad"))
      dev.join(madPick, "event_type")
        .select(col("event_type"), col("day"), col("cnt"), col("med"), col("mad"),
          when(col("dev") > lit(3) * col("mad"), 1).otherwise(0).cast("int").as("is_outlier"))
        .orderBy("event_type", "day")
    },

    // Two-proportion significance test for the A/B readout (the pooled
    // z-test, judged in EXACT arithmetic like q169's z-gate): users
    // hash-split into q192's arms, "converted" = the user has any
    // purchase event; with d = c₁n₂−c₂n₁ and N = n₁+n₂ the identity
    // z² = d²·N / (n₁·n₂·c·(N−c)) clears |z| > 1.96 to the exact
    // cross-multiplication 2500·d²·N > 9604·c·(N−c)·n₁·n₂ — no float
    // anywhere near the verdict. The magnitudes exceed int64, so both
    // engines compare in exact wide integers (Spark DECIMAL(38,0),
    // DuckDB HUGEINT). One user-level aggregate + one 2-row rollup.
    "q204_ab_significance" -> { (s, dir) =>
      val perUser = Tables.events(s, dir)
        .withColumn("arm",
          expr("pmod(cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint), 2)").cast("int"))
        .groupBy("user_id", "arm")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      val arms = perUser.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum("conv").as("c"))
      val a0 = arms.filter(col("arm") === 0)
        .select(col("n").as("n1"), col("c").as("c1"))
      val a1 = arms.filter(col("arm") === 1)
        .select(col("n").as("n2"), col("c").as("c2"))
      a0.crossJoin(broadcast(a1))
        .withColumn("nn", col("n1") + col("n2"))
        .withColumn("cc", col("c1") + col("c2"))
        .withColumn("d", col("c1") * col("n2") - col("c2") * col("n1"))
        .withColumn("lhs", (col("d").cast("decimal(38,0)") * col("d").cast("decimal(38,0)"))
          * lit(2500).cast("decimal(38,0)") * col("nn").cast("decimal(38,0)"))
        .withColumn("rhs", lit(9604).cast("decimal(38,0)")
          * col("cc").cast("decimal(38,0)") * (col("nn") - col("cc")).cast("decimal(38,0)")
          * col("n1").cast("decimal(38,0)") * col("n2").cast("decimal(38,0)"))
        .select(col("n1"), col("c1"), col("n2"), col("c2"),
          (col("c1").cast("double") / col("n1")).as("p1"),
          (col("c2").cast("double") / col("n2")).as("p2"),
          when(col("lhs") > col("rhs"), 1).otherwise(0).cast("int").as("significant"))
    },

    // CUPED variance reduction for A/B readouts (Deng et al. 2013,
    // public — the standard experimentation trick): users hash-split into
    // two arms, the outcome is each user's POST-period value mass, and
    // the PRE-period mass is the covariate — adjusted outcome
    // y − θ(x − x̄) with θ = cov(x,y)/var(x) pooled across arms removes
    // the between-user variance the pre-period already explains. All
    // moments are exact decimal sums (q60's discipline) finished with
    // identical double algebra, so means, θ, and the per-arm variance
    // reduction are bit-identical across engines — the judged claim
    // covers the whole estimator, not just the sums. One user-keyed
    // aggregation + two tiny moment rollups; nothing widens at scale.
    "q192_cuped_abtest" -> { (s, dir) =>
      val perUser = Tables.events(s, dir)
        .withColumn("arm",
          expr("pmod(cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint), 2)").cast("int"))
        .withColumn("pre", date_format(col("ts"), "yyyy-MM-dd") <= "2024-01-15")
        .groupBy("user_id", "arm")
        .agg(
          sum(when(col("pre"), col("value").cast("decimal(28,2)"))
            .otherwise(lit(0).cast("decimal(28,2)"))).cast("double").as("x"),
          sum(when(!col("pre"), col("value").cast("decimal(28,2)"))
            .otherwise(lit(0).cast("decimal(28,2)"))).cast("double").as("y"))
      def moments(df: DataFrame) = df.agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(28,2)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(28,2)")).cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(30,4)")).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast("decimal(30,4)")).cast("double").as("syy"),
        sum((col("x") * col("y")).cast("decimal(30,4)")).cast("double").as("sxy"))
      val pooled = broadcast(moments(perUser)
        .select(((col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("sxx") - col("sx") * col("sx") / col("n"))).as("theta"),
          (col("sx") / col("n")).as("xbar")))
      perUser.groupBy("arm")
        .agg(
          count(lit(1)).as("n_users"),
          sum(col("x").cast("decimal(28,2)")).cast("double").as("sx"),
          sum(col("y").cast("decimal(28,2)")).cast("double").as("sy"),
          sum((col("x") * col("x")).cast("decimal(30,4)")).cast("double").as("sxx"),
          sum((col("y") * col("y")).cast("decimal(30,4)")).cast("double").as("syy"),
          sum((col("x") * col("y")).cast("decimal(30,4)")).cast("double").as("sxy"))
        .crossJoin(pooled)
        .select(col("arm"), col("n_users"),
          (col("sy") / col("n_users")).as("mean_y"),
          (col("sy") / col("n_users") -
            col("theta") * (col("sx") / col("n_users") - col("xbar"))).as("mean_y_adj"),
          ((col("syy") - col("sy") * col("sy") / col("n_users")) / (col("n_users") - 1)).as("var_y"),
          (((col("syy") - col("sy") * col("sy") / col("n_users")) / (col("n_users") - 1)) -
            lit(2) * col("theta") *
              ((col("sxy") - col("sx") * col("sy") / col("n_users")) / (col("n_users") - 1)) +
            col("theta") * col("theta") *
              ((col("sxx") - col("sx") * col("sx") / col("n_users")) / (col("n_users") - 1))).as("var_y_adj"))
        .orderBy("arm")
    },

    // Rolling-window anomaly detection over the daily event stream — the
    // data-quality monitor a 100 TB ingest runs nightly ("did yesterday's
    // volume jump?"). Per (event_type, day): trailing-7-day baseline
    // (EXCLUDING the current day), flag |z| > 2. The z-test is INTEGER
    // arithmetic throughout — (n·x − s)² > 4·(n·ss − s²) is z² > 4 with
    // both sides exact int64 — so the oracle re-derives identical flags
    // with no float variance/sqrt drift. One shuffle to daily counts
    // (partial-aggregated), one bounded 7-row window per type partition.
    "q169_rolling_anomaly" -> { (s, dir) =>
      // day as yyyy-MM-dd TEXT: parquet date32 and DuckDB DATE land as
      // different pandas dtypes in the hash compare
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-7, -1)
      daily
        .withColumn("n_win", count("cnt").over(w))
        .withColumn("s", coalesce(sum("cnt").over(w), lit(0L)))
        .withColumn("ss", coalesce(sum(col("cnt") * col("cnt")).over(w), lit(0L)))
        .withColumn("is_anomaly",
          (col("n_win") >= 4 &&
            (col("n_win") * col("cnt") - col("s")) * (col("n_win") * col("cnt") - col("s")) >
              lit(4L) * (col("n_win") * col("ss") - col("s") * col("s"))).cast("int"))
        .select(col("event_type"), col("day"), col("cnt"),
          col("n_win"), col("is_anomaly"))
        .orderBy("event_type", "day")
    },

    // Corrupt-record audit — the PERMISSIVE-parse DQ gate every untrusted
    // ingest needs: a derived feed truncates every 7th record's props
    // mid-JSON (arithmetic corruption, so the oracle knows ground truth
    // independently), from_json turns malformed rows into null structs,
    // and the audit counts corrupt/valid/salvaged-sum per type. The judged
    // claim is that Spark's parser verdict matches the arithmetic ground
    // truth on every row — parse behavior itself is under test, not
    // assumed. Pure per-row codegen work + one aggregation.
    "q175_corrupt_record_audit" -> { (s, dir) =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      // PERMISSIVE from_json never nulls the whole struct — the malformed
      // input lands VERBATIM in the declared corrupt-record column (the
      // standard quarantine pattern); that column being set IS the
      // parser's corrupt verdict
      val feed = Tables.events(s, dir)
        .withColumn("raw", when(pmod(col("event_id"), lit(7)) === 0,
          expr("substring(props, 1, 5)")).otherwise(col("props")))
        .withColumn("j", from_json(col("raw"),
          StructType(Seq(StructField("k", LongType), StructField("_bad", StringType))),
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad")))
      feed.groupBy("event_type")
        .agg(count(lit(1)).as("n_records"),
          sum(col("j._bad").isNotNull.cast("long")).as("n_corrupt"),
          sum(col("j._bad").isNull.cast("long")).as("n_valid"),
          sum(col("j.k")).as("sum_k"))
        .orderBy("event_type")
    },

    // Late-arrival audit — the BATCH measurement that justifies T4's
    // watermark choice: replay the log in commit order (event_id) and
    // track each type's event-time high-watermark; an event is out of
    // order iff it arrives below the running max, and would be DROPPED
    // by the streaming pipeline iff it trails by more than the 2-hour
    // watermark. Per-type census of both + worst lateness — exactly the
    // evidence that sizes withWatermark() in EventStreams. One bounded
    // running-max window per type partition, integer microseconds.
    "q174_late_event_audit" -> { (s, dir) =>
      val w = Window.partitionBy("event_type").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("hwm", max("us").over(w))
        .withColumn("late_us",
          when(col("hwm").isNull || col("hwm") <= col("us"), 0L)
            .otherwise(col("hwm") - col("us")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum((col("late_us") > 0).cast("long")).as("n_out_of_order"),
          sum((col("late_us") > 7200000000L).cast("long")).as("n_beyond_watermark"),
          max("late_us").as("max_late_us"))
        .orderBy("event_type")
    },

    // Path mining (W5 annex): the most common 3-step event-type sequences
    // WITHIN a session — the "what do users do next" funnel-discovery
    // query product analytics runs daily. Same 30-min-gap sessionization
    // as q22, then two leads over the session-ordered stream; both
    // windows share the user_id shuffle (one exchange), the trigram
    // count is one more, and the top-20 is TakeOrderedAndProject (no
    // global sort materialization at 100 TB).
    "q149_session_paths" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sessions = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev_us", lag("us", 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
        .withColumn("sess_id",
          sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      val bySess = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
      sessions
        .withColumn("e2", lead("event_type", 1).over(bySess))
        .withColumn("e3", lead("event_type", 2).over(bySess))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("path")).limit(20)
    },

    // Incremental aggregate maintenance (Graft.mergeAggState): the standing
    // per-type aggregate over events before the cut absorbs the post-cut
    // delta batch by union + re-sum — judged against the oracle's FULL
    // recompute over the whole stream, proving merge(agg(old), agg(new)) ==
    // agg(old ∪ new). Counts merge as summable longs; value mass stays
    // decimal through the merge (exact, order-free) and finishes to double
    // at read time. The 100 TB steady state: the stored state frame is
    // key-partitioned, each arrival costs one delta-sized aggregation plus
    // a state-sized merge — never a history rescan.
    "q122_incremental_agg" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val cut = lit("2024-01-20").cast("timestamp_ntz")
      def aggOf(df: org.apache.spark.sql.DataFrame) = df.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(28,2)")).as("sum_value"))
      graft.Graft.mergeAggState(
          aggOf(ev.filter(col("ts") < cut)),
          aggOf(ev.filter(col("ts") >= cut)), Seq("event_type"))
        .select(col("event_type"), col("n_events"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("event_type")
    },

    // Funnel analysis — ordered-event conversion without a self-join: one
    // conditional-min/max aggregation per user (did a purchase happen
    // AFTER the first view), then one summary row. The standard two-stage
    // event-sequence shape: per-entity reduce, then global reduce — two
    // shuffles total, no window over the raw event stream, no
    // event×event join. Conversion is a raw IEEE division of exact longs.
    "q80_view_purchase_funnel" -> { (s, dir) =>
      val per = Tables.events(s, dir).groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("first_view"),
          max(when(col("event_type") === "purchase", col("ts"))).as("last_purchase"))
      per.agg(
        count(lit(1)).as("n_users"),
        count(col("first_view")).as("n_viewers"),
        sum(when(col("last_purchase") > col("first_view"), 1L).otherwise(0L)).as("n_converted"))
        .withColumn("conversion", col("n_converted") / col("n_viewers"))
    },

    // T1 tumbling window aggregate (streaming-ready shape).
    "q20_hourly_event_stats" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"),
          countDistinct("user_id").as("n_users"))
        .select(col("w.start").as("hour_start"), col("event_type"),
          col("n_events"), col("total_value"), col("n_users"))
        .orderBy("hour_start", "event_type")
    },

    // T2 sliding window (1h window, 15m slide → each event in 4 windows).
    "q21_sliding_window_load" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        // fixture values are exact 2-decimal doubles, so averages often sit
        // exactly on round() half-boundaries where Spark (BigDecimal HALF_UP)
        // and DuckDB (binary) disagree. Exact decimal sum → one IEEE double
        // division, NO rounding: bit-identical on both engines.
        .agg(count(lit(1)).as("n_events"),
          (sum(col("value").cast("decimal(28,2)")).cast("double") / count(lit(1))).as("avg_value"))
        .select(col("w.start").as("win_start"), col("n_events"), col("avg_value"))
        .orderBy("win_start")
    },

    // W5/T3 sessionization: 30-min-gap sessions via lag + cumulative flag —
    // the batch-equivalent of session_window (kept in the W5 form so the
    // DuckDB oracle can reproduce it with standard window functions).
    "q22_user_sessions" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sessions = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev_us", lag("us", 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
        .withColumn("sess_id", sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      sessions
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("sess_start"),
          max("ts").as("sess_end"),
          (max(col("us")) - min(col("us"))).as("duration_us"),
          round(sum("value"), 2).as("total_value"))
        .withColumn("sess_id", col("sess_id").cast("int"))
        .orderBy("user_id", "sess_id")
    },

    // J9 as-of join, streaming-safe union+window form: for each purchase,
    // the most recent view (ts <= purchase ts) by the same user. One
    // shuffle on user_id — no range self-join, no NLJ (scales to 100 TB;
    // DuckDB mirrors with native ASOF JOIN).
    "q23_purchase_asof_view" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val tagged = ev.filter(col("event_type").isin("view", "purchase"))
        .withColumn("is_purchase", when(col("event_type") === "purchase", 1).otherwise(0))
      // views sort before purchases at equal ts → ASOF's v.ts <= p.ts tie rule.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("is_purchase"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      tagged
        .withColumn("last_view_ts",
          last(when(col("is_purchase") === 0, col("ts")), ignoreNulls = true).over(w))
        .filter(col("is_purchase") === 1 && col("last_view_ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
          col("last_view_ts"),
          (unix_micros(col("ts").cast("timestamp")) - unix_micros(col("last_view_ts").cast("timestamp"))).as("view_to_buy_us"))
        .orderBy("event_id")
    },

    // The SAME as-of semantics as q23, but through the engine's own
    // Catalyst operator (graft.plans.AsOfJoin: custom LogicalPlan +
    // Strategy + SparkPlan — SURVEY.md §2 extension path (c)) instead of
    // the window workaround: co-partition both event streams on user_id,
    // one forward merge per partition, O(1) state. Judged against DuckDB's
    // NATIVE ASOF JOIN — the custom operator is verified by an engine that
    // implements the semantics independently.
    "q111_asof_custom" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("view_ts")).distinct()
      _root_.graft.Graft.asofJoin(purchases, views, "user_id", "v_user", "ts", "view_ts")
        .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
          col("view_ts").as("last_view_ts"),
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("view_ts").cast("timestamp"))).as("view_to_buy_us"))
        .orderBy("event_id")
    },

    // Retention cohorts — the classic event-analytics matrix: users
    // grouped by first-seen week, activity counted per week offset,
    // retention = active/cohort-size. One distinct (user, week) shuffle,
    // one first-seen aggregation, one cohort aggregation; the ratio is a
    // raw IEEE division of exact counts (house parity rule). At 100 TB
    // the (user, week) distinct is the only corpus-sized exchange and
    // partial aggregation absorbs within-partition repeats.
    "q115_retention_cohorts" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      val first = e.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val act = e.join(first, "user_id")
        .withColumn("week_offset",
          (datediff(col("wk").cast("date"), col("cohort_wk").cast("date")) / 7).cast("int"))
        .groupBy("cohort_wk", "week_offset")
        .agg(count(lit(1)).as("n_users"))
      val sizes = act.filter(col("week_offset") === 0)
        .select(col("cohort_wk"), col("n_users").as("cohort_size"))
      act.join(sizes, "cohort_wk")
        .withColumn("retention", col("n_users") / col("cohort_size"))
        .select("cohort_wk", "week_offset", "n_users", "cohort_size", "retention")
        .orderBy("cohort_wk", "week_offset")
    },

    // W2 lag/lead — inter-event gap stats per event type.
    "q24_inter_event_gaps" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(byUser))
        .filter(col("gap_us").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(avg("gap_us"), 2).as("avg_gap_us"),
          max("gap_us").as("max_gap_us"))
        .orderBy("event_type")
    },

    // W3 frame spec — running total of purchase value per user over time.
    "q25_running_user_spend" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          round(sum("value").over(byUser), 2).as("cum_spend"),
          count(lit(1)).over(byUser).cast("int").as("purchase_seq"))
        .orderBy("user_id", "ts", "event_id")
    },

    // §2.8 JSON — extract props.k, bucket stats (get_json_object path).
    "q26_props_json_stats" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .filter(col("k").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min("k").as("min_k"), max("k").as("max_k"),
          round(avg("k"), 3).as("avg_k"))
        .orderBy("event_type")
    },

    // Pivot — daily event counts, one column per event type.
    "q27_daily_type_pivot" -> { (s, dir) =>
      Tables.events(s, dir)
        // date_trunc (timestamp), not to_date: parquet DATE arrives as a
        // python object in the compare while DuckDB DATEs arrive datetime64.
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("day")
    },

    // §2.8 date family — day-of-week × hour activity heatmap.
    "q28_dow_hour_heatmap" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
        .orderBy("dow", "hr")
    },

    // Time-series gap-fill + linear interpolation — the resample operator:
    // per event type, a complete hourly spine from first to last observed
    // hour (sequence + explode — generated distributed, never collected),
    // observed hours carry the hour's mean value, missing hours
    // interpolate linearly between the nearest observed neighbors. The
    // hourly mean rides the DECIMAL(28,6) exact-sum idiom (q21) so both
    // engines agree bit-for-bit before any rounding. Neighbor lookup is
    // last/first(..., ignoreNulls) over the spine — two frame-bounded
    // passes of ONE type-keyed window shuffle, O(1) state per row, no
    // self-join. Spine bounds are observed hours, so every gap has both
    // neighbors (no extrapolation branch). At 100 TB the spine is tiny
    // relative to events (hours × types), and the window partitions by
    // type — skew-free as long as type cardinality scales with the data.
    "q155_gapfill_interpolate" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"), col("value"))
      val obs = ev.groupBy("event_type", "h")
        .agg(round(sum(col("value").cast("decimal(28,6)")).cast("double") / count(lit(1)), 6).as("v"),
          count(lit(1)).as("n_events"))
      val spine = ev.groupBy("event_type").agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val wAll = Window.partitionBy("event_type").orderBy("h")
      val wPrec = wAll.rowsBetween(Window.unboundedPreceding, -1)
      val wFoll = wAll.rowsBetween(1, Window.unboundedFollowing)
      spine.join(obs, Seq("event_type", "h"), "left")
        .withColumn("p", row_number().over(wAll))
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrec))
        .withColumn("pp", last(when(col("v").isNotNull, col("p")), ignoreNulls = true).over(wPrec))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wFoll))
        .withColumn("np", first(when(col("v").isNotNull, col("p")), ignoreNulls = true).over(wFoll))
        // NO final rounding: both engines replay the identical double
        // expression tree over deterministic inputs (v exact via the
        // decimal idiom, positions integral), so the interpolated doubles
        // are bit-equal — a round(_, 4) here actually BROKE parity once on
        // a half-way-boundary double the two engines' round() treat
        // differently.
        .select(col("event_type"), col("h"),
          when(col("v").isNotNull, col("v"))
            .otherwise(col("pv") + (col("nv") - col("pv"))
              * (col("p") - col("pp")).cast("double") / (col("np") - col("pp")))
            .as("v_filled"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          when(col("v").isNotNull, lit("obs")).otherwise(lit("interp")).as("src"))
        .orderBy("event_type", "h")
    },

    // CDC apply (lakehouse MERGE semantics as a pure transform —
    // Graft.cdcApply): the event stream replayed as a change log over the
    // customer table. Fixture mapping: key = user_id * 11 (spreads the 150
    // users across the 0..1639 key space so all three paths run on
    // fixtures — updates against existing customers, INSERTS for keys past
    // 1499, deletes), seq = event_id (unique, so latest-wins is total),
    // op: error→D, signup→I, else U, payload = the new account balance.
    // The judged output is the ENTIRE post-merge table state, so the
    // delete/upsert/insert arithmetic is hash-verified row by row.
    "q156_cdc_apply" -> { (s, dir) =>
      val base = Tables.customer(s, dir)
      val changes = Tables.events(s, dir).select(
        (col("user_id") * 11).as("c_custkey"),
        col("event_id").as("seq"),
        when(col("event_type") === "error", "D")
          .when(col("event_type") === "signup", "I").otherwise("U").as("op"),
        round(col("value"), 2).as("c_acctbal"))
      graft.Graft.cdcApply(base, changes, "c_custkey")
        .orderBy("c_custkey")
    },

    // Daily growth curve — active vs NEW users per day and the cumulative
    // acquisition count (the first-seen trick: a user's min(day) marks
    // them new exactly once, so the running sum of news IS the distinct
    // cumulative user count without any running-distinct state). Two
    // small aggregates + one 30-row global window; at 100 TB the
    // first-seen aggregate is the only user-keyed shuffle and the global
    // cumulative window runs over days, not events.
    "q161_daily_growth" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        // date_trunc (timestamp), not to_date — q27's dtype note applies
        .select(date_trunc("day", col("ts")).as("d"), col("user_id"))
      val daily = ev.groupBy("d")
        .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_active"))
      val firstSeen = ev.groupBy("user_id").agg(min("d").as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_new"))
      val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(firstSeen, Seq("d"), "left")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("cum_users", sum("n_new").over(w))
        .select("d", "n_events", "n_active", "n_new", "cum_users")
        .orderBy("d")
    })

  /** DuckDB reads events.ts as TIMESTAMP_NS; CAST to TIMESTAMP matches
    * Tables.events' micros truncation. epoch() on the cast value = Spark's
    * `cast(ts as long)` under the UTC session.
    */
  val oracles: Seq[(String, String)] = Seq(
    "q210_markov_stationary" -> {
      val steps = (1 to 8).map { k =>
        s"""p$k AS MATERIALIZED (
           | SELECT pp.b AS t, CAST(sum(x.pi * pp.p // 1000000) AS BIGINT) AS pi
           | FROM p${k - 1} x JOIN pp ON pp.a = x.t GROUP BY pp.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH flagged AS (
         | SELECT user_id, event_id, event_type, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
         |       THEN 1 ELSE 0 END AS new_sess
         | FROM events
         | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sess AS (
         | SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
         | FROM flagged),
         |tr AS (
         | SELECT event_type AS a, lead(event_type) OVER sw AS b
         | FROM sess
         | WINDOW sw AS (PARTITION BY user_id, sess_id ORDER BY ts, event_id)),
         |cn AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM tr WHERE b IS NOT NULL GROUP BY a, b),
         |rt AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cn GROUP BY a),
         |pp AS (SELECT cn.a, cn.b, cn.c * 1000000 // rt.ca AS p FROM cn JOIN rt ON rt.a = cn.a),
         |ty AS (SELECT DISTINCT t FROM (SELECT a AS t FROM cn UNION ALL SELECT b FROM cn)),
         |p0 AS (SELECT t, 1000000000000 // (SELECT count(*) FROM ty) AS pi FROM ty),
         |$steps,
         |fq AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
         |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM fq)
         |SELECT ty.t AS event_type,
         | CAST(coalesce(p8.pi, 0) AS BIGINT) AS stationary_fp,
         | fq.cnt * 1000000000000 // tt.n_total AS observed_fp
         |FROM ty LEFT JOIN p8 ON p8.t = ty.t
         |JOIN fq ON fq.t = ty.t CROSS JOIN tt
         |ORDER BY ty.t""".stripMargin
    },

    "q204_ab_significance" ->
      """WITH pu AS (
        | SELECT user_id,
        |  CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS INTEGER) AS arm,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        | FROM events GROUP BY 1, 2),
        |ar AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c FROM pu GROUP BY arm),
        |j AS (
        | SELECT a.n AS n1, a.c AS c1, b.n AS n2, b.c AS c2
        | FROM (SELECT n, c FROM ar WHERE arm = 0) a
        | CROSS JOIN (SELECT n, c FROM ar WHERE arm = 1) b),
        |f AS (
        | SELECT n1, c1, n2, c2, n1 + n2 AS nn, c1 + c2 AS cc,
        |  c1 * n2 - c2 * n1 AS d
        | FROM j)
        |SELECT n1, c1, n2, c2,
        | CAST(c1 AS DOUBLE) / n1 AS p1, CAST(c2 AS DOUBLE) / n2 AS p2,
        | CAST(CASE WHEN CAST(d AS HUGEINT) * CAST(d AS HUGEINT) * 2500 * CAST(nn AS HUGEINT)
        |   > 9604 * CAST(cc AS HUGEINT) * CAST(nn - cc AS HUGEINT) * CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT)
        |  THEN 1 ELSE 0 END AS INTEGER) AS significant
        |FROM f""".stripMargin,

    "q201_attribution" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |       THEN 1 ELSE 0 END AS new_sess
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        | FROM flagged),
        |pur AS (SELECT user_id, sess_id, event_id AS p_id, us AS p_us FROM sess WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, sess_id, event_id AS t_id, us AS t_us, event_type AS channel
        |        FROM sess WHERE event_type IN ('view', 'click')),
        |q AS (
        | SELECT p.p_id, t.t_id, t.t_us, t.channel,
        |  count(*) OVER (PARTITION BY p.p_id) AS n_touch,
        |  row_number() OVER (PARTITION BY p.p_id ORDER BY t.t_us, t.t_id) AS rn
        | FROM pur p JOIN tch t ON t.user_id = p.user_id AND t.sess_id = p.sess_id
        | WHERE t.t_us < p.p_us OR (t.t_us = p.p_us AND t.t_id < p.p_id)),
        |dr AS (SELECT p_id FROM pur WHERE p_id NOT IN (SELECT DISTINCT p_id FROM q)),
        |cr AS (
        | SELECT 'first' AS model, channel, p_id, CAST(1000 AS BIGINT) AS credit FROM q WHERE rn = 1
        | UNION ALL
        | SELECT 'last', channel, p_id, 1000 FROM q WHERE rn = n_touch
        | UNION ALL
        | SELECT 'linear', channel, p_id,
        |  1000 // n_touch + CASE WHEN rn = n_touch THEN 1000 % n_touch ELSE 0 END
        | FROM q
        | UNION ALL
        | SELECT m.model, 'direct', d.p_id, 1000
        | FROM dr d CROSS JOIN (SELECT unnest(['first', 'last', 'linear']) AS model) m)
        |SELECT model, channel, CAST(count(DISTINCT p_id) AS BIGINT) AS n_conversions,
        | CAST(sum(credit) AS BIGINT) AS credit_x1000
        |FROM cr GROUP BY model, channel
        |ORDER BY model, channel""".stripMargin,

    "q196_theilsen_trend" ->
      """WITH d AS (
        | SELECT event_type, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di, count(*) AS cnt
        | FROM events GROUP BY 1, 2),
        |sl AS (
        | SELECT a.event_type,
        |  CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.di - a.di AS DOUBLE) AS slope, a.di AS d1, b.di AS d2
        | FROM d a JOIN d b ON a.event_type = b.event_type AND a.di < b.di),
        |rk AS (
        | SELECT event_type, slope,
        |  row_number() OVER (PARTITION BY event_type ORDER BY slope, d1, d2) AS rn,
        |  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
        | FROM sl),
        |ts AS (SELECT event_type, n_pairs, slope AS ts_slope FROM rk WHERE rn = (n_pairs + 1) // 2),
        |ol AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  (CAST(sum(di * cnt) AS DOUBLE) - CAST(sum(di) AS DOUBLE) * CAST(sum(cnt) AS DOUBLE) / count(*)) /
        |  (CAST(sum(di * di) AS DOUBLE) - CAST(sum(di) AS DOUBLE) * CAST(sum(di) AS DOUBLE) / count(*)) AS ols_slope
        | FROM d GROUP BY event_type)
        |SELECT t.event_type, o.n_days, t.n_pairs, t.ts_slope, o.ols_slope,
        | t.ts_slope - o.ols_slope AS robust_gap
        |FROM ts t JOIN ol o USING (event_type)
        |ORDER BY t.event_type""".stripMargin,

    "q197_mad_outliers" ->
      """WITH d AS (
        | SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, count(*) AS cnt
        | FROM events GROUP BY 1, 2),
        |mp AS (
        | SELECT event_type, cnt AS med FROM (
        |  SELECT event_type, day, cnt,
        |   row_number() OVER (PARTITION BY event_type ORDER BY cnt, day) AS rn,
        |   count(*) OVER (PARTITION BY event_type) AS nn
        |  FROM d) WHERE rn = (nn + 1) // 2),
        |dv AS (
        | SELECT d.event_type, d.day, d.cnt, m.med, abs(d.cnt - m.med) AS dev
        | FROM d JOIN mp m USING (event_type)),
        |md AS (
        | SELECT event_type, dev AS mad FROM (
        |  SELECT event_type, day, dev,
        |   row_number() OVER (PARTITION BY event_type ORDER BY dev, day) AS rn,
        |   count(*) OVER (PARTITION BY event_type) AS nn
        |  FROM dv) WHERE rn = (nn + 1) // 2)
        |SELECT v.event_type, v.day, v.cnt, v.med, a.mad,
        | CAST(CASE WHEN v.dev > 3 * a.mad THEN 1 ELSE 0 END AS INTEGER) AS is_outlier
        |FROM dv v JOIN md a USING (event_type)
        |ORDER BY v.event_type, v.day""".stripMargin,

    "q190_ewma_forecast" -> {
      val lags = (1 to 8).map(k => s"lag(cnt, $k) OVER w AS l$k").mkString(", ")
      val num = (1 to 8).map(k => s"coalesce(l$k, 0) / ${1 << k}").mkString(" + ")
      val den = (1 to 8)
        .map(k => s"(CASE WHEN l$k IS NOT NULL THEN CAST(1 AS DOUBLE) / ${1 << k} ELSE CAST(0 AS DOUBLE) END)")
        .mkString(" + ")
      s"""WITH d AS (
         | SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, count(*) AS cnt
         | FROM events GROUP BY 1, 2),
         |lg AS (
         | SELECT event_type, day, cnt, $lags
         | FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |se AS (
         | SELECT event_type, day, cnt, ($num) / ($den) AS ewma
         | FROM lg WHERE l1 IS NOT NULL)
         |SELECT event_type, day, cnt, ewma, cnt - ewma AS err
         |FROM se ORDER BY event_type, day""".stripMargin
    },

    "q192_cuped_abtest" ->
      """WITH pu AS (
        | SELECT user_id,
        |  CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS INTEGER) AS arm,
        |  CAST(sum(CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') <= '2024-01-15'
        |    THEN CAST(value AS DECIMAL(28,2)) ELSE CAST(0 AS DECIMAL(28,2)) END) AS DOUBLE) AS x,
        |  CAST(sum(CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') <= '2024-01-15'
        |    THEN CAST(0 AS DECIMAL(28,2)) ELSE CAST(value AS DECIMAL(28,2)) END) AS DOUBLE) AS y
        | FROM events GROUP BY 1, 2),
        |pl AS (
        | SELECT count(*) AS n,
        |  CAST(sum(CAST(x AS DECIMAL(28,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(y AS DECIMAL(28,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(x * x AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(y * y AS DECIMAL(30,4))) AS DOUBLE) AS syy,
        |  CAST(sum(CAST(x * y AS DECIMAL(30,4))) AS DOUBLE) AS sxy
        | FROM pu),
        |th AS (SELECT (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta, sx / n AS xbar FROM pl),
        |ar AS (
        | SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(x AS DECIMAL(28,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(y AS DECIMAL(28,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(x * x AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(y * y AS DECIMAL(30,4))) AS DOUBLE) AS syy,
        |  CAST(sum(CAST(x * y AS DECIMAL(30,4))) AS DOUBLE) AS sxy
        | FROM pu GROUP BY arm)
        |SELECT a.arm, a.n_users,
        | a.sy / a.n_users AS mean_y,
        | a.sy / a.n_users - t.theta * (a.sx / a.n_users - t.xbar) AS mean_y_adj,
        | (a.syy - a.sy * a.sy / a.n_users) / (a.n_users - 1) AS var_y,
        | ((a.syy - a.sy * a.sy / a.n_users) / (a.n_users - 1))
        |  - 2 * t.theta * ((a.sxy - a.sx * a.sy / a.n_users) / (a.n_users - 1))
        |  + t.theta * t.theta * ((a.sxx - a.sx * a.sx / a.n_users) / (a.n_users - 1)) AS var_y_adj
        |FROM ar a CROSS JOIN th t
        |ORDER BY a.arm""".stripMargin,

    "q182_ldp_frequency" ->
      """WITH al AS (SELECT ['click','error','purchase','signup','view'] AS ts),
        |rep AS (
        | SELECT e.event_type,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 < 3
        |   THEN e.event_type
        |   ELSE al.ts[CAST(CAST(('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || 'lie'), 1, 15)) AS BIGINT) % 5 AS INTEGER) + 1]
        |  END AS reported
        | FROM events e CROSS JOIN al),
        |n AS (SELECT count(*) AS n_total FROM events),
        |obs AS (SELECT reported AS event_type, CAST(count(*) AS BIGINT) AS observed FROM rep GROUP BY 1),
        |tru AS (SELECT event_type, CAST(count(*) AS BIGINT) AS true_count FROM events GROUP BY 1)
        |SELECT t.event_type, t.true_count, o.observed,
        | greatest(0, 20 * o.observed - n.n_total) * 1000 // 15 AS est_x1000,
        | greatest(0, 20 * o.observed - n.n_total) * 1000 // 15 - t.true_count * 1000 AS err_x1000
        |FROM tru t JOIN obs o USING (event_type) CROSS JOIN n
        |ORDER BY t.event_type""".stripMargin,

    "q149_session_paths" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, ts, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |       THEN 1 ELSE 0 END AS new_sess
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        | FROM flagged),
        |steps AS (
        | SELECT event_type,
        |  lead(event_type, 1) OVER s AS e2,
        |  lead(event_type, 2) OVER s AS e3
        | FROM sess
        | WINDOW s AS (PARTITION BY user_id, sess_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
        |FROM steps WHERE e3 IS NOT NULL
        |GROUP BY 1
        |ORDER BY n DESC, path
        |LIMIT 20""".stripMargin,

    "q122_incremental_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q80_view_purchase_funnel" ->
      """WITH per AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS first_view,
        |  max(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS last_purchase
        | FROM events GROUP BY 1)
        |SELECT count(*) AS n_users, count(first_view) AS n_viewers,
        | CAST(sum(CASE WHEN last_purchase > first_view THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        | CAST(sum(CASE WHEN last_purchase > first_view THEN 1 ELSE 0 END) AS BIGINT) / count(first_view) AS conversion
        |FROM per""".stripMargin,

    "q175_corrupt_record_audit" ->
      """WITH f AS (
        | SELECT event_type,
        |  CASE WHEN event_id % 7 = 0 THEN substr(props, 1, 5) ELSE props END AS raw
        | FROM events),
        |p AS (
        | SELECT event_type, json_valid(raw) AS ok,
        |  CASE WHEN json_valid(raw) THEN CAST(json_extract_string(raw, '$.k') AS BIGINT) END AS k
        | FROM f)
        |SELECT event_type, count(*) AS n_records,
        | CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt,
        | CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        | CAST(sum(k) AS BIGINT) AS sum_k
        |FROM p
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q174_late_event_audit" ->
      """WITH e AS (
        | SELECT event_type, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        | FROM events),
        |h AS (
        | SELECT event_type, us,
        |  max(us) OVER (PARTITION BY event_type ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        | FROM e),
        |l AS (
        | SELECT event_type,
        |  CASE WHEN hwm IS NULL OR hwm <= us THEN 0 ELSE hwm - us END AS late_us
        | FROM h)
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
        | CAST(sum(CASE WHEN late_us > 7200000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond_watermark,
        | CAST(max(late_us) AS BIGINT) AS max_late_us
        |FROM l
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q169_rolling_anomaly" ->
      """WITH d AS (
        | SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, count(*) AS cnt
        | FROM events GROUP BY 1, 2),
        |w AS (
        | SELECT event_type, day, cnt,
        |  count(cnt) OVER tw AS n_win,
        |  coalesce(sum(cnt) OVER tw, 0) AS s,
        |  coalesce(sum(cnt * cnt) OVER tw, 0) AS ss
        | FROM d
        | WINDOW tw AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, cnt, n_win,
        | CAST(CASE WHEN n_win >= 4
        |  AND (n_win * cnt - s) * (n_win * cnt - s) > 4 * (n_win * ss - s * s)
        |  THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
        |FROM w
        |ORDER BY event_type, day""".stripMargin,

    "q20_hourly_event_stats" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
        | count(*) AS n_events, round(sum(value),2) AS total_value,
        | count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q21_sliding_window_load" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events)
        |SELECT make_timestamp((us // 900000000) * 900000000 - k * 900000000) AS win_start,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS avg_value
        |FROM e CROSS JOIN range(4) r(k)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q22_user_sessions" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |       THEN 1 ELSE 0 END AS new_sess
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        | FROM flagged)
        |SELECT user_id, CAST(sess_id AS INTEGER) AS sess_id, count(*) AS n_events,
        | min(CAST(ts AS TIMESTAMP)) AS sess_start, max(CAST(ts AS TIMESTAMP)) AS sess_end,
        | epoch_us(max(CAST(ts AS TIMESTAMP))) - epoch_us(min(CAST(ts AS TIMESTAMP))) AS duration_us,
        | round(sum(value),2) AS total_value
        |FROM sess
        |GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin,

    "q23_purchase_asof_view" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
        | CAST(v.ts AS TIMESTAMP) AS last_view_ts,
        | epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) AS view_to_buy_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'view') v
        | ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin,

    "q111_asof_custom" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
        | CAST(v.ts AS TIMESTAMP) AS last_view_ts,
        | epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) AS view_to_buy_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'view') v
        | ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin,

    "q115_retention_cohorts" ->
      """WITH e AS (
        | SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
        | FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
        |a AS (
        | SELECT f.cohort_wk,
        |  CAST(date_diff('day', CAST(f.cohort_wk AS DATE), CAST(e.wk AS DATE)) / 7 AS INTEGER) AS week_offset,
        |  count(*) AS n_users
        | FROM e JOIN f USING (user_id)
        | GROUP BY 1, 2),
        |c AS (SELECT cohort_wk, n_users AS cohort_size FROM a WHERE week_offset = 0)
        |SELECT a.cohort_wk, a.week_offset, a.n_users, c.cohort_size,
        | a.n_users / c.cohort_size AS retention
        |FROM a JOIN c USING (cohort_wk)
        |ORDER BY a.cohort_wk, a.week_offset""".stripMargin,

    "q24_inter_event_gaps" ->
      """WITH g AS (
        | SELECT event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP)) AS gap_us
        | FROM events)
        |SELECT event_type, count(*) AS n, round(avg(gap_us),2) AS avg_gap_us,
        | max(gap_us) AS max_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q25_running_user_spend" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        | round(sum(value) OVER w, 2) AS cum_spend,
        | CAST(count(*) OVER w AS INTEGER) AS purchase_seq
        |FROM events
        |WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q26_props_json_stats" ->
      """WITH e AS (SELECT event_type,
        |  CAST(regexp_extract(props, '"k": *(-?\d+)', 1) AS INTEGER) AS k FROM events)
        |SELECT event_type, count(*) AS n, min(k) AS min_k, max(k) AS max_k,
        | round(avg(k),3) AS avg_k
        |FROM e WHERE k IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q27_daily_type_pivot" ->
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        | count(*) FILTER (event_type = 'click') AS click,
        | count(*) FILTER (event_type = 'error') AS error,
        | count(*) FILTER (event_type = 'purchase') AS purchase,
        | count(*) FILTER (event_type = 'signup') AS signup,
        | count(*) FILTER (event_type = 'view') AS view
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q28_dow_hour_heatmap" ->
      """SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INTEGER) AS dow,
        | CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hr,
        | count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q155_gapfill_interpolate" ->
      """WITH e AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, value FROM events),
        |o AS (SELECT event_type, h,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS v,
        |  count(*) AS n_events FROM e GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM e GROUP BY 1),
        |sp AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b),
        |j AS (SELECT sp.event_type, sp.h, o.v, o.n_events
        | FROM sp LEFT JOIN o ON o.event_type = sp.event_type AND o.h = sp.h),
        |w AS (SELECT event_type, h, v, n_events,
        |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS INTEGER) AS p FROM j),
        |f AS (SELECT event_type, h, v, n_events, p,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
        | FROM w)
        |SELECT event_type, h,
        | CASE WHEN v IS NOT NULL THEN v
        |   ELSE pv + (nv - pv) * CAST(p - pp AS DOUBLE) / (np - pp) END AS v_filled,
        | CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
        | CASE WHEN v IS NOT NULL THEN 'obs' ELSE 'interp' END AS src
        |FROM f ORDER BY event_type, h""".stripMargin,

    "q156_cdc_apply" ->
      """WITH ch AS (
        | SELECT user_id * 11 AS c_custkey, event_id AS seq,
        |  CASE event_type WHEN 'error' THEN 'D' WHEN 'signup' THEN 'I' ELSE 'U' END AS op,
        |  round(value, 2) AS acct
        | FROM events),
        |l AS (
        | SELECT c_custkey, op, acct FROM (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM ch)
        | WHERE rn = 1)
        |SELECT COALESCE(b.c_custkey, l.c_custkey) AS c_custkey, b.c_name, b.c_nationkey,
        | CASE WHEN l.c_custkey IS NOT NULL THEN l.acct ELSE b.c_acctbal END AS c_acctbal,
        | b.c_mktsegment
        |FROM customer b FULL JOIN l ON b.c_custkey = l.c_custkey
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY 1""".stripMargin,

    "q161_daily_growth" ->
      """WITH e AS (
        | SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, user_id
        | FROM events),
        |daily AS (SELECT d, count(*) AS n_events, count(DISTINCT user_id) AS n_active
        | FROM e GROUP BY d),
        |f AS (SELECT user_id, min(d) AS d FROM e GROUP BY user_id),
        |nw AS (SELECT d, count(*) AS n_new FROM f GROUP BY d)
        |SELECT daily.d, daily.n_events, daily.n_active,
        | CAST(COALESCE(nw.n_new, 0) AS BIGINT) AS n_new,
        | CAST(sum(COALESCE(nw.n_new, 0)) OVER (ORDER BY daily.d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM daily LEFT JOIN nw USING (d)
        |ORDER BY d""".stripMargin)
}
