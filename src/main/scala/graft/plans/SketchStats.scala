package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** The statistics→plan loop (VERDICT r10 item 3): q271 proved the engine
  * can SERVE CBO-grade NDV estimates from persisted HLL registers; this
  * rule is the missing consumer — it reads the persisted per-column NDV
  * stats table and flips a join to broadcast when the sketch bounds one
  * side small but Spark's own size estimation cannot see it.
  *
  * The blind spot it covers: a grouped dimension derived from a big table
  * (`fact ⋈ big.groupBy(k).agg(...)`). Without ANALYZE-style column stats,
  * Spark estimates the Aggregate's size as its CHILD's size — the whole
  * big table — so planning picks a sort-merge join and shuffles the fact.
  * AQE does fix this at runtime, but only AFTER the fact side's shuffle
  * map stage has already run; a planning-time broadcast never shuffles the
  * fact at all, which at 100 TB is the difference that matters. The
  * grouped-side row bound is sound, not heuristic: #groups ≤ ∏ NDV(k) —
  * an UPPER bound justifying broadcast can only over-estimate, never
  * under-estimate, the broadcast size. (The q202 fan-out lesson is the
  * same blindness in the other direction.)
  *
  * Stats resolve by (table, column): the grouping attribute is traced by
  * exprId to the file scan that produced it (aliases/renames bail —
  * conservative), the table name comes from the scan path, and the NDV
  * comes from the stats table q273 builds with the q230/q271 deterministic
  * HLL machinery. Estimated broadcast bytes = ∏NDV × the aggregate
  * output's schema default widths, compared against the session's own
  * autoBroadcastJoinThreshold. Stats location comes from
  * `spark.graft.stats.dir`; unset = rule inactive (the PlanAuditSpec
  * negative control).
  */
object SketchStats {
  val DirKey: String = StatsCatalog.DirKey

  def ensure(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[BroadcastFromSketchStats]))
      spark.experimental.extraOptimizations =
        cur :+ ReorderJoinsFromNdv() :+ BroadcastFromSketchStats() :+
          VetoBroadcastOnFanout() :+ PushPartialAggThroughJoin()
  }

  /** Generation-pinned, failure-transparent, re-entrancy-guarded read of
    * the persisted NDV table — all three disciplines live in
    * [[StatsCatalog]] now (VERDICT r11 items 3/4); the stats table itself
    * is a few rows of 64-byte register state per column, a bounded driver
    * read the same shape as a catalog statistics lookup. */
  private[plans] def lookup(spark: SparkSession, dir: String): Map[(String, String), Long] =
    StatsCatalog.ndv(spark, dir)

  /** Sound row upper bound for a grouped side: ∏ NDV(grouping cols),
    * every grouping expr a stats-covered scan column. Filters/projects
    * between the agg and the scan only shrink rows, so the bound holds
    * through them. Shared by the broadcast flip (rows × width vs the
    * threshold) and the join reorder (rows as the dim cardinality). */
  private[plans] def groupedRowBound(p: LogicalPlan,
      stats: Map[(String, String), Long]): Option[(Long, Int)] = p match {
    case Aggregate(groupingExprs, aggExprs, child, _) if groupingExprs.nonEmpty =>
      val leaves = child.collect { case lr: LogicalRelation => lr }
      val ndvs = groupingExprs.map {
        case a: AttributeReference =>
          leaves.collectFirst {
            case lr if lr.output.exists(_.exprId == a.exprId) =>
              StatsCatalog.tableOf(lr).flatMap(t => stats.get((t, a.name)))
          }.flatten
        case _ => None
      }
      if (ndvs.exists(_.isEmpty)) None
      else {
        val rows = ndvs.flatten.foldLeft(1L)((acc, n) =>
          if (acc > Long.MaxValue / math.max(1L, n)) Long.MaxValue else acc * n)
        val width = aggExprs.map(_.dataType.defaultSize).sum + 16
        Some((rows, width))
      }
    case Project(_, inner) => groupedRowBound(inner, stats)
    case Filter(_, inner) => groupedRowBound(inner, stats)
    case SubqueryAlias(_, inner) => groupedRowBound(inner, stats)
    case _ => None
  }

  /** Join types the flip prices, and which sides may BUILD (be broadcast)
    * under each (VERDICT r16 item 1 — `fact LEFT JOIN dim` is the most
    * common warehouse shape and was invisible to every consumer): the
    * build side must be the NON-PRESERVED one — only the stream side
    * preserves rows, so broadcasting the other side is exactly as sound as
    * the inner flip. Broadcasting a PRESERVED side is not a hash-join
    * shape at all (Spark would have to fall back to a nested loop to honor
    * the hint), so those sides are never candidates — and when the priced
    * side turns out to be the preserved one, the diagnostics say so. */
  private[plans] def buildableSides(jt: JoinType): (Boolean, Boolean) = jt match {
    case Inner => (true, true)
    case LeftOuter => (false, true) // left rows preserved: build right only
    case RightOuter => (true, false)
    // EXISTS / NOT IN shapes (VERDICT r17 item 3): the right side of a
    // semi/anti join is a pure filter relation — broadcasting it is a
    // supported hash-join build in Spark, and the same `fits` bound
    // applies unchanged. The LEFT side is the output side (semi output
    // has no right columns at all), so it is never a hash-join build —
    // hinting it would force a nested loop, the same unsound direction
    // as a preserved outer side.
    case LeftSemi | LeftAnti => (false, true)
    case _ => (false, false) // FullOuter: not a hash-join shape on either side
  }

  final case class BroadcastFromSketchStats() extends Rule[LogicalPlan] {
    private val RuleTag = "broadcast-flip"

    override def apply(plan: LogicalPlan): LogicalPlan = {
      val dir = conf.getConfString(DirKey, "")
      val diag = conf.getConfString(RuleDiag.EnabledKey, "false").toBoolean
      def bailAll(reason: String): Unit = if (diag) plan.foreach {
        // FullOuter included (VERDICT r17 item 6): never a candidate, but
        // the q311 discipline says it must SAY so, not stay invisible
        case j @ Join(_, _, Inner | LeftOuter | RightOuter | LeftSemi | LeftAnti | FullOuter,
            _, JoinHint.NONE) =>
          RuleDiag.record(RuleTag, "bailed", reason, j)
        case _ => ()
      }
      if (dir.isEmpty) { bailAll("no-stats-dir"); plan }
      else {
        val spark = SparkSession.active
        // broadcast decisions need UPPER bounds, so the grouped row bound
        // reads the UNCORRECTED estimates (ADVICE r15: the linear-counting
        // correction can under-state a sub-100 NDV; the raw floor only
        // ever over-states — the safe direction for a forced broadcast)
        val stats = StatsCatalog.ndvUpper(spark, dir)
        val rows = StatsCatalog.rows(spark, dir)
        val hist = StatsCatalog.hist(spark, dir)
        val cnts = StatsCatalog.histCounts(spark, dir)
        val bytes = StatsCatalog.srcBytes(spark, dir)
        if (stats.isEmpty) { bailAll("empty-catalog"); plan }
        else plan.transformUp {
          // FullOuter is structurally never a hash-join build on either
          // side — priced or not, the only honest answer is the reason
          // (VERDICT r17 item 6: the shape was correctly excluded but
          // invisibly so)
          case j @ Join(_, _, FullOuter, _, JoinHint.NONE) =>
            if (diag) RuleDiag.record(RuleTag, "bailed", "full-outer", j)
            j
          case j @ Join(l, r, jt @ (Inner | LeftOuter | RightOuter | LeftSemi | LeftAnti),
              _, JoinHint.NONE) =>
            val threshold = conf.autoBroadcastJoinThreshold
            // Safety margin (ADVICE r11): the "sound" ∏NDV row bound rides
            // on two estimates that can individually under-shoot — HLL NDV
            // carries ~±2% error in its accurate regime, and defaultSize
            // (20 B for strings) under-counts long variable-length keys.
            // Requiring rows*width ≤ threshold/2 keeps a 2× cushion so a
            // forced broadcast never materially exceeds the session's own
            // autoBroadcastJoinThreshold. Two blind spots covered, both
            // with UPPER row bounds: a GROUPED dim (Spark statically sizes
            // the Aggregate as its child — misses the broadcast) and a
            // RANGE-FILTERED scan (Spark's file-size estimate ignores
            // filters entirely — the histogram's bucket mass prices it).
            def fits(n: Long, width: Int): Boolean =
              threshold > 0 && n < Long.MaxValue / width &&
                n * width <= threshold / 2
            // tagged bounds so the diagnostics name WHICH pricer fired.
            // Freshness gates BOTH pricers (round 18 closed the ∏NDV
            // path too): HLL registers only ever GROW, so after
            // out-of-band growth the recorded NDV UNDER-states the
            // current one and the grouped bound under-prices the
            // broadcast — the sharp failure class, same direction as
            // absent-key-zero. Testimony-when-present, as everywhere.
            def bounds(p: LogicalPlan): Seq[(String, Long, Int)] =
              if (grownPastSlack(p, bytes)) Nil
              else groupedRowBound(p, stats).map { case (n, w) => ("grouped-dim", n, w) }.toSeq ++
                histFilteredScanBound(p, rows, hist, cnts, bytes).map(n =>
                  ("hist-scan", n, p.output.map(_.dataType.defaultSize).sum + 16)).toSeq
            // bound ONCE per side (review r18: the reason path used to
            // re-price each side up to three more times under diag)
            val bl = bounds(l)
            val br = bounds(r)
            def small(bs: Seq[(String, Long, Int)]): Option[String] =
              bs.collectFirst { case (tag, n, w) if fits(n, w) => tag }
            val smallL = small(bl)
            val smallR = small(br)
            val (canLeft, canRight) = buildableSides(jt)
            val bc = Some(HintInfo(strategy = Some(BROADCAST)))
            (if (canRight) smallR else None,
              if (canLeft) smallL else None) match {
              case (Some(tag), _) =>
                if (diag) RuleDiag.record(RuleTag, "fired", tag, j)
                j.copy(hint = JoinHint(None, bc))
              case (None, Some(tag)) =>
                if (diag) RuleDiag.record(RuleTag, "fired", tag, j)
                j.copy(hint = JoinHint(bc, None))
              case _ =>
                if (diag)
                  RuleDiag.record(RuleTag, "bailed",
                    // an outer join whose only SMALL side is the preserved
                    // one: sound to price, unsound to build — the reason an
                    // operator needs to hear is "restate the join, not the
                    // stats" (VERDICT r16 item 1). A side refused for
                    // STALENESS names that instead ("refresh the stats").
                    if ((!canRight && smallR.nonEmpty) ||
                        (!canLeft && smallL.nonEmpty)) "preserved-side"
                    else if (bl.nonEmpty || br.nonEmpty) "over-threshold"
                    else if (grownPastSlack(l, bytes) || grownPastSlack(r, bytes))
                      "stale-stats"
                    else "unpriced", j)
                j
            }
        }
      }
    }
  }

  /** The THIRD stats consumer — catalog-driven JOIN REORDERING (VERDICT
    * r11 "missing" 4's tail: "neither does join reordering"). Spark's own
    * CostBasedJoinReorder needs ANALYZE-style catalog statistics and is
    * off by default; without them a left-deep chain executes in WRITTEN
    * order, so `fact ⋈ expanding ⋈ reducing` carries the expanded
    * intermediate through every later join. With the persisted exact row
    * counts (`table_rows`) and HLL NDVs, the textbook System-R estimate
    *
    *   |A ⋈k B|  ≈  |A|·|B| / max(ndv(A.k), ndv(B.k))
    *
    * (Selinger et al., SIGMOD'79) is computable entirely from the catalog
    * at planning time. The rule rewrites `(fact ⋈c1 d1) ⋈c2 d2` to
    * `(fact ⋈c2 d2) ⋈c1 d1` when c2 touches no d1 attribute (so the swap
    * is the plain inner-join commute, result-identical) and the estimated
    * fact⋈d2 intermediate is ≤ HALF the fact⋈d1 one (the 2× margin makes
    * the rule a no-op on its own output, so the fixed-point batch
    * terminates, and keeps near-ties in written order). A Project restores
    * the original output order. A mis-estimate costs only performance —
    * never rows: the rewrite is an equivalence.
    *
    * At 100 TB this is the shuffle-volume decision: the intermediate of
    * join 1 is the SHUFFLE INPUT of join 2, so putting the multiplying
    * join (events-per-user, lines-per-order) last shrinks every
    * intermediate exchange to the reduced side's size. Same activation
    * and catalog discipline as the other consumers ([[StatsCatalog]]).
    */
  private[plans] def scanOf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation => Some(lr)
    case Project(_, c) => scanOf(c)
    case Filter(_, c) => scanOf(c)
    case SubqueryAlias(_, c) => scanOf(c)
    case _ => None
  }

  /** Column pruning interposes attribute-only Projects between the
    * operators of a chain; they carry no computation, so rule matches
    * look through them. */
  private[plans] def stripAttrProject(p: LogicalPlan): LogicalPlan = p match {
    case Project(exprs, c)
        if exprs.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]) =>
      stripAttrProject(c)
    case other => other
  }

  /** NDV of `a`, resolved by exprId into any covered scan under `p`. */
  private[plans] def ndvOf(p: LogicalPlan,
      a: org.apache.spark.sql.catalyst.expressions.Attribute,
      ndv: Map[(String, String), Long]): Option[Long] =
    p.collect { case lr: LogicalRelation => lr }.iterator.flatMap { lr =>
      lr.output.find(_.exprId == a.exprId).flatMap(sa =>
        StatsCatalog.tableOf(lr).flatMap(t => ndv.get((t, sa.name))))
    }.nextOption()

  /** Equi-depth histogram of `a` (resolved by exprId into any covered
    * scan under `p`), as ascending (boundary, cumulative count) pairs. */
  private[plans] def histOf(p: LogicalPlan,
      a: org.apache.spark.sql.catalyst.expressions.Attribute,
      hist: Map[(String, String), IndexedSeq[(Long, Long)]]): Option[IndexedSeq[(Long, Long)]] =
    p.collect { case lr: LogicalRelation => lr }.iterator.flatMap { lr =>
      lr.output.find(_.exprId == a.exprId).flatMap(sa =>
        StatsCatalog.tableOf(lr).flatMap(t => hist.get((t, sa.name))))
    }.nextOption()

  /** A foldable comparison literal in the histogram's Long domain:
    * Catalyst stores timestamps as Long micros and dates as Int days —
    * exactly the units the builder persists — so integral, date and
    * timestamp literals all compare directly against the boundaries. */
  private[plans] def litLong(
      l: org.apache.spark.sql.catalyst.expressions.Expression): Option[Long] =
    l.eval(null) match {
      case i: java.lang.Integer => Some(i.longValue)
      case lo: java.lang.Long => Some(lo.longValue)
      case s: java.lang.Short => Some(s.longValue)
      case b: java.lang.Byte => Some(b.longValue)
      case _ => None
    }

  /** UPPER bound on rows selected by a one-sided range cut at `x`:
    * counted from the nearest STORED boundary on the unselected side, so
    * a mid-bucket cut charges the whole bucket (sound by construction;
    * `lower = true` means `col >= x`-shaped — x bounds selected values
    * from below). Boundary-equal values are charged to the selected side
    * either way, so `>`/`<` price like `>=`/`<=` — also conservative. */
  private[plans] def rangeSelUB(hs: IndexedSeq[(Long, Long)], x: Long,
      lower: Boolean): Long = {
    val n = hs.last._2
    if (lower) n - hs.filter(_._1 < x).lastOption.map(_._2).getOrElse(0L)
    else hs.find(_._1 >= x).map(_._2).getOrElse(n)
  }

  /** An InSet's member set as Longs — None when any member is outside the
    * counter's integral domain. */
  private[plans] def litSetLongs(hset: Set[Any]): Option[Seq[Long]] = {
    val xs = hset.toSeq.map {
      case i: java.lang.Integer => Some(i.longValue)
      case lo: java.lang.Long => Some(lo.longValue)
      case s: java.lang.Short => Some(s.longValue)
      case b: java.lang.Byte => Some(b.longValue)
      case _ => None
    }
    if (xs.exists(_.isEmpty)) None else Some(xs.flatten)
  }

  /** Counter-domain key of a literal compared against column `a`:
    * timestamp columns lower to day-END epoch micros — the domain the
    * counter builder persists (StatsStore.counterDomain's mirror) —
    * and every other Long domain stays raw. */
  private[plans] def counterKey(
      a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
      x: Long): Long = a.dataType match {
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType =>
      Math.floorDiv(x, 86400000000L) * 86400000000L + 86399999999L
    case _ => x
  }

  /** The cents lowering for DOUBLE/FLOAT/DECIMAL columns — byte-identical
    * to the builder's `cast(floor(cast(c as double) * 100 + 0.5) as
    * bigint)` (Spark's floor(double) is java.lang.Math.floor with a Long
    * result). Monotone non-decreasing, so lowering BOTH the column (at
    * build) and the comparison literal (here) preserves every range
    * containment the bounds need: v ≥ x ⟹ cents(v) ≥ cents(x) and
    * v ≤ x ⟹ cents(v) ≤ cents(x) — the lowered selected set is a subset
    * of what the lowered cut counts, so every histogram bound stays an
    * upper bound; equality keys can only MERGE masses (two raw values on
    * one cent), the same direction as the md5 and day lowerings. */
  private[plans] def centsOf(d: Double): Long = math.floor(d * 100 + 0.5).toLong

  /** A foldable literal as a Double — the cents lowering's input. */
  private[plans] def litDouble(
      l: org.apache.spark.sql.catalyst.expressions.Expression): Option[Double] =
    l.eval(null) match {
      case d: java.lang.Double => Some(d.doubleValue)
      case f: java.lang.Float => Some(f.doubleValue)
      case dec: org.apache.spark.sql.types.Decimal => Some(dec.toDouble)
      case i: java.lang.Integer => Some(i.doubleValue)
      case lo: java.lang.Long => Some(lo.doubleValue)
      case s: java.lang.Short => Some(s.doubleValue)
      case b: java.lang.Byte => Some(b.doubleValue)
      case _ => None
    }

  /** Range-cut literal in column `a`'s HISTOGRAM domain: cents for
    * double/float/decimal columns, the raw Long domain otherwise
    * (timestamp literals are already Catalyst micros, compared directly
    * against the day-END boundaries — the q298 argument needs no literal
    * lowering there). */
  private[plans] def litRangeKey(
      a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
      l: org.apache.spark.sql.catalyst.expressions.Expression): Option[Long] =
    a.dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType |
           _: org.apache.spark.sql.types.DecimalType =>
        litDouble(l).map(centsOf)
      case _ => litLong(l)
    }

  /** The md5 60-bit string key — byte-identical to the builder's
    * `conv(substr(md5(col), 1, 15), 16, 10)` lowering (and to the q230
    * HLL bucketing arithmetic), computed driver-side for a literal. */
  private[graft] def md5Key(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Counter-domain key of an arbitrary evaluated literal vs column `a`:
    * strings hash through [[md5Key]] (equality-only counters), Long
    * domains go through [[counterKey]]. None = outside every counter
    * domain (the conjunct stays unpriced). */
  private[plans] def litKey(
      a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
      l: org.apache.spark.sql.catalyst.expressions.Expression): Option[Long] =
    a.dataType match {
      case org.apache.spark.sql.types.StringType => l.eval(null) match {
        case u: org.apache.spark.unsafe.types.UTF8String => Some(md5Key(u.toString))
        case s: String => Some(md5Key(s))
        case _ => None
      }
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType |
           _: org.apache.spark.sql.types.DecimalType =>
        litDouble(l).map(centsOf)
      case _ => litLong(l).map(counterKey(a, _))
    }

  /** An InSet's member set as counter keys for column `a`. */
  private[plans] def inSetKeys(
      a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
      hset: Set[Any]): Option[Seq[Long]] =
    a.dataType match {
      case org.apache.spark.sql.types.StringType =>
        val xs = hset.toSeq.map {
          case u: org.apache.spark.unsafe.types.UTF8String => Some(md5Key(u.toString))
          case s: String => Some(md5Key(s))
          case _ => None
        }
        if (xs.exists(_.isEmpty)) None else Some(xs.flatten)
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType |
           _: org.apache.spark.sql.types.DecimalType =>
        val xs = hset.toSeq.map {
          case d: java.lang.Double => Some(centsOf(d.doubleValue))
          case f: java.lang.Float => Some(centsOf(f.doubleValue))
          case dec: org.apache.spark.sql.types.Decimal => Some(centsOf(dec.toDouble))
          case i: java.lang.Integer => Some(centsOf(i.doubleValue))
          case lo: java.lang.Long => Some(centsOf(lo.doubleValue))
          case _ => None
        }
        if (xs.exists(_.isEmpty)) None else Some(xs.flatten)
      case _ => litSetLongs(hset).map(_.map(counterKey(a, _)))
    }

  /** Staleness slack on the QUALITY-class freshness guards (histogram
    * range cuts, the reorder's row estimates): the scan's current file
    * bytes may exceed the bytes the stats writer observed by up to 25%
    * (rewrite/compaction jitter, footer-size drift) before pricing
    * refuses. A stale estimate in this class scales with the stale base
    * row count — it degrades toward the whole-file posture, so the slack
    * can afford to be generous. */
  private[plans] val SrcBytesSlackNum = 5L
  private[plans] val SrcBytesSlackDen = 4L

  /** Staleness slack on the COUNTER equality path, deliberately tighter
    * (ADVICE r17): absent-key-is-zero is the one estimate in the
    * subsystem that falls BELOW truth under staleness, and within the
    * generous quality-class slack a hot new value would still price at
    * ~0 rows — the exact mis-flip hazard the guard exists to kill.
    * Compaction rarely GROWS bytes (footer drift is well under a
    * percent), so the sharp path tolerates only ~1.6% before refusing;
    * legitimate appends go through appendTableStats, which adds the
    * delta's bytes to the testimony and keeps pricing on. */
  private[plans] val CounterSlackNum = 65L
  private[plans] val CounterSlackDen = 64L

  /** Testimony-when-present staleness check over EVERY covered scan under
    * `p` (VERDICT r17 item 5 factored the guard into one place): true when
    * any scan's current file bytes exceed its recorded `table_src_bytes`
    * by more than the quality-class slack — the store's estimates for
    * that scan describe a table that has since grown out-of-band. Scans
    * without recorded testimony (constructed fixtures, pre-r17 layouts)
    * keep the documented snapshot-upper-bound posture and are NOT stale. */
  private[plans] def grownPastSlack(p: LogicalPlan,
      bytes: Map[String, Long]): Boolean =
    p.exists {
      case lr: LogicalRelation =>
        StatsCatalog.tableOf(lr).exists(t =>
          bytes.get(t).exists(b =>
            BigInt(lr.relation.sizeInBytes) * SrcBytesSlackDen >
              BigInt(b) * SrcBytesSlackNum))
      case _ => false
    }

  /** Exact-mass UPPER bound on `a = x` / `a IN (xs)` from the persisted
    * per-value counters (VERDICT r15 item 3): counter[key] counts every
    * row whose LOWERED value equals key over the cataloged snapshot — for
    * raw integral domains that IS the equality mass; for day-lowered
    * timestamps it is the whole day's mass, still an upper bound on any
    * single micros value. An absent key is zero rows (the counter build
    * covers every non-null value, and equality never matches null) —
    * which is exactly why the pricing carries a FRESHNESS GUARD (VERDICT
    * r16 item 2): absent-key-is-zero is the one estimate in the subsystem
    * that falls BELOW truth when the raw table gained rows the counters
    * never saw, so the guard compares the scan's CURRENT file bytes
    * against the bytes the stats writer recorded (`table_src_bytes`) and
    * refuses — falling back to NDV/unpriced — past the documented slack.
    * A counter table with NO recorded bytes also refuses: a snapshot
    * whose freshness cannot be checked must not serve the subsystem's
    * sharpest claim. Returns (selected mass, counted total) when the
    * column has fresh counters. */
  private[plans] def counterMass(p: LogicalPlan,
      a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
      keys: Seq[Long],
      cnts: Map[(String, String), Map[Long, Long]],
      bytes: Map[String, Long]): Option[(Long, Long)] =
    p.collect { case lr: LogicalRelation => lr }.iterator.flatMap { lr =>
      lr.output.find(_.exprId == a.exprId).flatMap { sa =>
        StatsCatalog.tableOf(lr).flatMap { t =>
          cnts.get((t, sa.name)).filter { _ =>
            bytes.get(t).exists(b =>
              BigInt(lr.relation.sizeInBytes) * CounterSlackDen <=
                BigInt(b) * CounterSlackNum)
          }
        }
      }
    }.nextOption().map { m =>
      val total = m.values.sum
      val sel = keys.distinct.map(k => m.getOrElse(k, 0L)).sum
      (sel.min(total), total)
    }

  /** Sound row UPPER bound for a RANGE-FILTERED covered scan: the exact
    * catalog count cut by equi-depth bucket mass. Some only when at least
    * one histogram conjunct actually applied — this prices exactly the
    * case Spark is blind to (its file-size estimate ignores filters
    * entirely), and deliberately leaves unfiltered scans to Spark's own
    * estimate. Because a broadcast decision needs an UPPER bound, two
    * approximations are deliberately rejected here: the 1/NDV equality
    * refinement (an estimate, not a bound), and MULTIPLYING independent
    * cuts — under correlated columns a product under-shoots (two 10%
    * cuts on perfectly correlated dates select 10%, not 1%), so only the
    * single most selective cut applies: true rows ≤ every individual
    * cut's bound ⇒ the minimum is still a bound. (Same-column two-sided
    * cuts WOULD multiply soundly — (n−a)(n−b) ≥ 0 — but the minimum is
    * within one bucket of it and needs no column bookkeeping.) */
  private[graft] def histFilteredScanBound(p: LogicalPlan,
      rows: Map[String, Long],
      hist: Map[(String, String), IndexedSeq[(Long, Long)]],
      cnts: Map[(String, String), Map[Long, Long]] = Map.empty,
      bytes: Map[String, Long] = Map.empty): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual}
    def conj(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conj(a) ++ conj(b)
      case o => Seq(o)
    }
    def conjuncts(pl: LogicalPlan): Seq[Expression] = pl match {
      case Filter(c, ch) => conj(c) ++ conjuncts(ch)
      case Project(_, ch) => conjuncts(ch)
      case SubqueryAlias(_, ch) => conjuncts(ch)
      case _ => Nil
    }
    def cut(a: AttributeReference, l: Expression, lower: Boolean): Option[(Long, Long)] =
      (histOf(p, a, hist), litRangeKey(a, l)) match {
        case (Some(hs), Some(x)) if hs.nonEmpty => Some((rangeSelUB(hs, x, lower), hs.last._2))
        case _ => None
      }
    // equality / IN-list priced from the persisted per-value counters
    // (VERDICT r15 item 3; strings through the md5 counter domain in
    // r16): exact masses, so the cut needs no safety margin beyond the
    // shared threshold/2 cushion. All members must lower to the
    // counter's domain, else the conjunct is unpriced.
    def eqCut(a: AttributeReference, ls: Seq[Expression]): Option[(Long, Long)] = {
      val xs = ls.map(l => litKey(a, l))
      if (xs.exists(_.isEmpty)) None
      else counterMass(p, a, xs.flatten, cnts, bytes)
    }
    // histogram range cuts share the staleness class more softly than
    // counters (a stale bound scales with the stale base row count — it
    // can under-state truth after out-of-band growth, but degrades toward
    // the whole-file posture rather than absent-key-zero), so the guard
    // here is testimony-WHEN-PRESENT ([[grownPastSlack]]): a store whose
    // recorded source bytes show the scan grew past the slack drops every
    // cut for that scan; stores without the bytes kind (constructed
    // fixtures, pre-r17 layouts) keep the snapshot-upper-bound posture
    val cuts = if (grownPastSlack(p, bytes)) Nil
    else conjuncts(p).flatMap {
      case GreaterThanOrEqual(a: AttributeReference, l) if l.foldable => cut(a, l, lower = true)
      case GreaterThan(a: AttributeReference, l) if l.foldable => cut(a, l, lower = true)
      case LessThanOrEqual(a: AttributeReference, l) if l.foldable => cut(a, l, lower = false)
      case LessThan(a: AttributeReference, l) if l.foldable => cut(a, l, lower = false)
      case GreaterThanOrEqual(l, a: AttributeReference) if l.foldable => cut(a, l, lower = false)
      case GreaterThan(l, a: AttributeReference) if l.foldable => cut(a, l, lower = false)
      case LessThanOrEqual(l, a: AttributeReference) if l.foldable => cut(a, l, lower = true)
      case LessThan(l, a: AttributeReference) if l.foldable => cut(a, l, lower = true)
      case EqualTo(a: AttributeReference, l) if l.foldable => eqCut(a, Seq(l))
      case EqualTo(l, a: AttributeReference) if l.foldable => eqCut(a, Seq(l))
      case In(a: AttributeReference, list) if list.forall(_.foldable) => eqCut(a, list)
      case InSet(a: AttributeReference, hset) =>
        inSetKeys(a, hset).flatMap(keys => counterMass(p, a, keys, cnts, bytes))
      case _ => None
    }.filter { case (sel, n) => sel < n }
    if (cuts.isEmpty) None
    else scanOf(p).flatMap(sc => StatsCatalog.tableOf(sc).flatMap(rows.get)).map { base =>
      val (sel, n) = cuts.minBy { case (s, nn) => BigDecimal(s) / BigDecimal(nn) }
      ((BigInt(base) * sel + n - 1) / n).max(1).toLong
    }
  }

  final case class ReorderJoinsFromNdv() extends Rule[LogicalPlan]
      with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression}

    /** Row estimate for a single-scan dim: the catalog count, refined per
      * filter conjunct on a covered column —
      *
      *  - `col = literal`: the classic 1/NDV selectivity, ONLY where the
      *    estimator is in its accurate regime (NDV ≥ 100): the raw integer
      *    HLL floors tiny cardinalities at ~45, and dividing by a floored
      *    NDV would overstate a small-domain filter's selectivity ~9× (a
      *    5-value column priced as 45), flipping the estimate's bias from
      *    conservative to eager;
      *  - `col >=/>/<=/< literal` (either operand order): the equi-depth
      *    histogram's bucket mass (VERDICT r13 item 2 — range-filtered
      *    dims are the common real shape equality pricing misses). The
      *    bound is an UPPER bound by construction: the selected mass is
      *    counted from the nearest STORED boundary on the unselected
      *    side, so a cut mid-bucket charges the whole bucket — a
      *    mis-binned estimate can only keep the written order, never
      *    force a swap the true counts wouldn't justify.
      *
      * Unrefinable filters contribute nothing — they only shrink the true
      * rows, the conservative direction. */
    private def scanRows(dim: LogicalPlan, rows: Map[String, Long],
        ndv: Map[(String, String), Long],
        hist: Map[(String, String), IndexedSeq[(Long, Long)]],
        cnts: Map[(String, String), Map[Long, Long]],
        bytes: Map[String, Long]): Option[Long] = {
      import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual}
      def conjuncts(p: LogicalPlan): Seq[Expression] = p match {
        case Filter(cond, c) => splitConjunctivePredicates(cond) ++ conjuncts(c)
        case Project(_, c) => conjuncts(c)
        case SubqueryAlias(_, c) => conjuncts(c)
        case _ => Nil
      }
      // equality/IN (VERDICT r15 item 3): the persisted per-value counter
      // mass is an EXACT count over the cataloged snapshot — preferred
      // over the 1/NDV estimate wherever the column carries counters;
      // the NDV refinement stays the fallback, still gated to its
      // accurate regime (the small-set floor would overstate selectivity)
      def eqm(r: Long, a: AttributeReference, keys: Seq[Long]): Option[Long] =
        counterMass(dim, a, keys, cnts, bytes).collect {
          case (sel, n) if n > 0 && sel < n =>
            ((BigInt(r) * sel + n - 1) / n).max(1).toLong
          case (sel, n) if n > 0 => r
        }
      def eq(r: Long, a: AttributeReference, l: Expression): Long =
        litKey(a, l).flatMap(k => eqm(r, a, Seq(k))).getOrElse(
          ndvOf(dim, a, ndv).filter(_ >= 100L)
            .map(n => math.max(1L, r / math.max(1L, n))).getOrElse(r))
      def inList(r: Long, a: AttributeReference, ls: Seq[Expression]): Long = {
        val xs = ls.map(l => litKey(a, l))
        if (xs.exists(_.isEmpty)) r
        else eqm(r, a, xs.flatten).getOrElse(r)
      }
      // selected-mass upper bound from the shared boundary arithmetic
      // (`>` priced like `>=` — boundary-equal values charge selected)
      def range(r: Long, a: AttributeReference, l: Expression, lower: Boolean): Long =
        (histOf(dim, a, hist), litRangeKey(a, l)) match {
          case (Some(hs), Some(x)) if hs.nonEmpty =>
            val n = hs.last._2
            val sel = rangeSelUB(hs, x, lower)
            if (sel >= n || n <= 0L) r
            else ((BigInt(r) * sel + n - 1) / n).max(1).toLong
          case _ => r
        }
      // freshness testimony for the ROW estimate itself (VERDICT r17
      // item 5): the catalog's base count — and every refinement hanging
      // off it — describes the snapshot the stats writer saw; the
      // testimony-when-present gate lives at [[estRows]] (this method's
      // only caller), so a scan grown past the slack never reaches this
      // read and the consumer degrades to written order with the
      // stale-stats reason. The failure class is quality-only (a stale
      // count can mis-rotate a chain, never change rows).
      scanOf(dim).flatMap(sc => StatsCatalog.tableOf(sc).flatMap(rows.get)).map { base =>
        conjuncts(dim).foldLeft(base) { (r, cj) => cj match {
          case EqualTo(a: AttributeReference, l) if l.foldable => eq(r, a, l)
          case EqualTo(l, a: AttributeReference) if l.foldable => eq(r, a, l)
          case In(a: AttributeReference, list) if list.forall(_.foldable) => inList(r, a, list)
          case InSet(a: AttributeReference, hset) =>
            inSetKeys(a, hset).flatMap(keys => eqm(r, a, keys)).getOrElse(r)
          case GreaterThanOrEqual(a: AttributeReference, l) if l.foldable => range(r, a, l, lower = true)
          case GreaterThan(a: AttributeReference, l) if l.foldable => range(r, a, l, lower = true)
          case LessThanOrEqual(a: AttributeReference, l) if l.foldable => range(r, a, l, lower = false)
          case LessThan(a: AttributeReference, l) if l.foldable => range(r, a, l, lower = false)
          // literal-first spellings flip the direction
          case GreaterThanOrEqual(l, a: AttributeReference) if l.foldable => range(r, a, l, lower = false)
          case GreaterThan(l, a: AttributeReference) if l.foldable => range(r, a, l, lower = false)
          case LessThanOrEqual(l, a: AttributeReference) if l.foldable => range(r, a, l, lower = true)
          case LessThan(l, a: AttributeReference) if l.foldable => range(r, a, l, lower = true)
          case _ => r
        }}
      }
    }

    /** The dim's REDUCTION FACTOR against the chain: System-R gives
      * |L ⋈k d| = |L|·|d| / max(ndv(L.k), ndv(d.k)), so with |L| common
      * to both swap candidates the comparison only needs each dim's
      * (rows(d), key NDV) pair — position-independent numbers (the key
      * NDVs resolve by exprId into the scans wherever the chain puts
      * them), which is what makes the pairwise bubble terminate. rows(d)
      * comes from the catalog when the dim traces to a single covered
      * scan, or from the ∏NDV grouped bound when it is an aggregate over
      * one (the broadcast flip's own dim shape — grouping attrs keep
      * their scan exprIds, so the key NDV resolves through the Aggregate
      * unchanged); both are upper-ish, the same discipline as the other
      * consumers. Any untraceable piece yields None, join stays put. */
    // composite keys: per-pair selectivities multiply under the standard
    // independence assumption; the product is capped at
    // max(largest single-pair NDV, rows(d)) — the dim side's composite
    // NDV can never exceed its row count, so the cap reins in
    // correlation-blind inflation while never cutting BELOW what a
    // single pair already justifies. Unresolvable extra pairs and
    // non-equi conjuncts are ignored — they only shrink the true
    // result, so dropping them errs toward over-estimating the
    // candidate's join size, i.e. toward keeping the written order.
    private def keyNdvs(left: LogicalPlan, d: LogicalPlan, c: Expression,
        ndv: Map[(String, String), Long]): Seq[Long] =
      splitConjunctivePredicates(c).flatMap {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          val (la, da) =
            if (left.outputSet.contains(a) && d.outputSet.contains(b)) (Some(a), Some(b))
            else if (left.outputSet.contains(b) && d.outputSet.contains(a)) (Some(b), Some(a))
            else (None, None)
          for {
            ln <- la.flatMap(ndvOf(left, _, ndv))
            dn <- da.flatMap(ndvOf(d, _, ndv))
          } yield math.max(1L, math.max(ln, dn))
        case _ => None
      }

    /** Catalog row estimate of an arbitrary priced subtree: a covered
      * scan (filter-refined), a grouped side (∏NDV bound), or — VERDICT
      * r15 item 5 — an inner equi-join of priceable children at the
      * System-R size |L|·|R| / ∏ max-NDV. The recursion is what lets a
      * tower DEEPER than one rotation price its composite left side: the
      * first rotation produces `f ⋈ (d1 ⋈ d2)` shapes whose f is itself
      * a join, and without a join estimate every deeper rotation bailed
      * unpriced. Depth is bounded by the plan's own join depth; any
      * unpriceable leaf yields None and the candidate stays put. */
    private def estRows(p: LogicalPlan, rows: Map[String, Long],
        ndv: Map[(String, String), Long],
        hist: Map[(String, String), IndexedSeq[(Long, Long)]],
        cnts: Map[(String, String), Map[Long, Long]],
        bytes: Map[String, Long]): Option[BigInt] =
      // one freshness gate for every pricer under this consumer (round
      // 18): a covered scan grown past its recorded testimony refuses
      // the scan estimate, the ∏NDV grouped bound (registers only GROW,
      // so a stale NDV UNDER-states and under-prices), and the join
      // recursion over either — the chain degrades to written order
      // with the stale-stats reason at the bail site
      if (SketchStats.grownPastSlack(p, bytes)) None
      else scanRows(p, rows, ndv, hist, cnts, bytes).map(BigInt(_))
        .orElse(groupedRowBound(p, ndv).map(t => BigInt(t._1)))
        .orElse(stripAttrProject(p) match {
          case Join(l, r, Inner, Some(c), _) if c.deterministic =>
            val ks = keyNdvs(l, r, c, ndv)
            if (ks.isEmpty) None
            else for {
              rl <- estRows(l, rows, ndv, hist, cnts, bytes)
              rr <- estRows(r, rows, ndv, hist, cnts, bytes)
            } yield (rl * rr / ks.map(BigInt(_)).product.max(BigInt(1))).max(BigInt(1))
          case _ => None
        })

    /** The honest reason for an unpriced candidate (review r18): name
      * stale-stats ONLY when a scan inside a component that FAILED to
      * price has grown past its testimony — a chain blocked by an
      * uncovered side must keep saying unpriced-side even when some
      * other covered scan under the join happens to be stale
      * ("refresh the stats" could not make that chain priceable). */
    private def unpricedReason(blamed: Seq[LogicalPlan],
        bytes: Map[String, Long]): String =
      if (blamed.exists(SketchStats.grownPastSlack(_, bytes))) "stale-stats"
      else "unpriced-side"

    private def factor(left: LogicalPlan, dim: LogicalPlan, cond: Expression,
        rows: Map[String, Long], ndv: Map[(String, String), Long],
        hist: Map[(String, String), IndexedSeq[(Long, Long)]],
        cnts: Map[(String, String), Map[Long, Long]],
        bytes: Map[String, Long]): Option[(BigInt, BigInt)] = {
      for {
        dRows <- estRows(dim, rows, ndv, hist, cnts, bytes)
        ks = keyNdvs(left, dim, cond, ndv)
        if ks.nonEmpty
      } yield (dRows,
        ks.map(BigInt(_)).product.min(BigInt(ks.max).max(dRows.max(BigInt(1)))))
    }

    /** Right-deep rotation (VERDICT r14 "missing" 6: DataFrame chains are
      * left-deep, but SQL-text consumers produce `f ⋈ (d1 ⋈ d2)` shapes
      * the adjacent-pair bubble never matches): the inner-join
      * associativity `f ⋈c1 (d1 ⋈c2 d2) ≡ (f ⋈c1 d1) ⋈c2 d2`, valid when
      * c1 touches no d2 attribute — applied only when the catalog prices
      * the rotated intermediate at most HALF the original one:
      *
      *   |f ⋈ d1| = rf·r1/k1  vs  |d1 ⋈ d2| = r1·r2/k2
      *   rotate iff 2·rf·k2 ≤ r2·k1   (r1 cancels)
      *
      * i.e. the outer side's per-key fanout is under half the inner
      * join's expansion — the shape where executing the expanding join
      * first materializes the expansion only to carry it through the next
      * join. The rotation is an equivalence (a mis-estimate costs only
      * the shape); it strictly reduces right-depth so the fixed point
      * terminates, and the left-deep result feeds the ordinary bubble.
      * d1/d2's hints travel positionally; a hint on the COMPOSITE right
      * side has no position after rotation, so such trees stay put. */
    private def rotateRightDeep(j: Join, rows: Map[String, Long],
        stats: Map[(String, String), Long],
        hist: Map[(String, String), IndexedSeq[(Long, Long)]],
        cnts: Map[(String, String), Map[Long, Long]],
        bytes: Map[String, Long],
        diag: Boolean): LogicalPlan =
      j match {
        case Join(f, r0, Inner, Some(c1), h) if c1.deterministic =>
          stripAttrProject(r0) match {
            case Join(d1, d2, Inner, Some(c2), hi)
                if c2.deterministic &&
                  c1.references.subsetOf(f.outputSet ++ d1.outputSet) =>
              // a hint on the COMPOSITE right side has no position after
              // rotation — such towers stay put (and say why)
              if (h.rightHint.nonEmpty) {
                if (diag) RuleDiag.record("reorder", "bailed", "hinted-composite", j)
                j
              } else {
                val rfE = estRows(f, rows, stats, hist, cnts, bytes)
                val p1E = factor(f, d1, c1, rows, stats, hist, cnts, bytes)
                val p2E = factor(d1, d2, c2, rows, stats, hist, cnts, bytes)
                (rfE, p1E, p2E) match {
                  case (Some(rf), Some((_, k1)), Some((r2, k2)))
                      if rf * k2 * 2 <= r2 * k1 =>
                    if (diag) RuleDiag.record("reorder", "fired", "rotation", j)
                    Project(j.output,
                      Join(Join(f, d1, Inner, Some(c1),
                          JoinHint(h.leftHint, hi.leftHint)),
                        d2, Inner, Some(c2), JoinHint(None, hi.rightHint)))
                  case (Some(_), Some(_), Some(_)) =>
                    if (diag) RuleDiag.record("reorder", "bailed", "below-margin", j)
                    j
                  case _ =>
                    // stale testimony refuses the estimate (VERDICT r17
                    // item 5) — the operator hears "refresh the stats",
                    // not "the key is uncovered"; blame only the
                    // components that failed to price (review r18)
                    if (diag) RuleDiag.record("reorder", "bailed",
                      unpricedReason(
                        (if (rfE.isEmpty) Seq(f) else Nil) ++
                          (if (p1E.isEmpty) Seq(f, d1) else Nil) ++
                          (if (p2E.isEmpty) Seq(d1, d2) else Nil), bytes), j)
                    j
                }
              }
            case _ => j
          }
        case _ => j
      }

    override def apply(plan: LogicalPlan): LogicalPlan = {
      val dir = conf.getConfString(DirKey, "")
      val diag = conf.getConfString(RuleDiag.EnabledKey, "false").toBoolean
      // structural candidate check for the inactive-store diagnostics: a
      // chain (left side a join) or a tower (right side a join) is a shape
      // this rule WOULD price — the shapes an operator asks about
      def candidate(j: Join): Boolean =
        stripAttrProject(j.left).isInstanceOf[Join] ||
          stripAttrProject(j.right).isInstanceOf[Join]
      def bailAll(reason: String): Unit = if (diag) plan.foreach {
        case j @ Join(_, _, Inner, Some(c), _) if c.deterministic && candidate(j) =>
          RuleDiag.record("reorder", "bailed", reason, j)
        // an outer join heading a chain/tower is a shape an operator WILL
        // ask about (VERDICT r16 item 1): the commute's validity needs the
        // null-rejecting argument this rule does not implement, so the
        // shape stays put — with a reason, not invisibly
        case j @ Join(_, _, LeftOuter | RightOuter | FullOuter, _, _) if candidate(j) =>
          RuleDiag.record("reorder", "bailed", "outer-join", j)
        // a semi/anti join heading a chain is likewise a shape an operator
        // asks about — and the answer is structural, not statistical: the
        // commute cannot apply because semi output carries NO right-side
        // columns (there is nothing to re-order the right side against)
        case j @ Join(_, _, LeftSemi | LeftAnti, _, _) if candidate(j) =>
          RuleDiag.record("reorder", "bailed", "semi-join", j)
        case _ => ()
      }
      if (dir.isEmpty) { bailAll("no-stats-dir"); plan }
      else {
        val spark = SparkSession.active
        val rows = StatsCatalog.rows(spark, dir)
        val stats = lookup(spark, dir)
        val hist = StatsCatalog.hist(spark, dir)
        val cnts = StatsCatalog.histCounts(spark, dir)
        val bytes = StatsCatalog.srcBytes(spark, dir)
        if (rows.isEmpty || stats.isEmpty) { bailAll("empty-catalog"); plan }
        else plan.transformUp {
          // outer-HEADED shapes stay in written order (rotating THROUGH an
          // outer join needs null-rejection analysis this rule does not
          // carry) — but a chain/tower headed by one is no longer
          // invisible to the diagnostics (VERDICT r16 item 1). The
          // handled outer shape is the one BELOW an inner join, matched in
          // the main case.
          case j @ Join(_, _, LeftOuter | RightOuter | FullOuter, _, _)
              if diag && candidate(j) =>
            RuleDiag.record("reorder", "bailed", "outer-join", j)
            j
          // semi/anti-HEADED shapes stay put STRUCTURALLY (VERDICT r17
          // item 3): the inner bubble's commute rewrites `(f ⋈c1 d1) ⋈c2
          // d2` by re-parenting d2 below — but a semi join's output has no
          // right-side columns, so no later condition can reference its
          // right side and no swap candidate exists. The honest diag
          // answer is the structural reason, not "unpriced".
          case j @ Join(_, _, LeftSemi | LeftAnti, _, _)
              if diag && candidate(j) =>
            RuleDiag.record("reorder", "bailed", "semi-join", j)
            j
          // determinism guard (ADVICE r13): a non-deterministic conjunct
          // (e.g. a rand()-based sampling predicate riding beside the equi
          // pair) would be evaluated against DIFFERENT intermediate rows
          // after the swap — the one way the "mis-estimates cost only
          // performance, never rows" claim could break. Spark's own
          // ReorderJoin carries the same guard.
          case j2 @ Join(l0, d2, Inner, Some(c2), h2) if c2.deterministic =>
            val bubbled = stripAttrProject(l0) match {
              // INNER-below-LEFT-OUTER commute (VERDICT r16 item 1's full
              // form): `(f LEFT JOIN d1 ON c1) INNER JOIN d2 ON c2` with
              // c2 touching only f ∪ d2 equals `(f INNER JOIN d2) LEFT
              // JOIN d1` as a MULTISET, unconditionally: d1-matching
              // depends only on f attributes, so every f-row's d1
              // extension (matches or one null-extension) is the same
              // before or after the d2 filter — and an f-row d2 drops is
              // dropped with ALL its d1 extensions either way. (The
              // RightOuter mirror is NOT valid: d1's null-extended rows
              // carry null f attributes, which the inner condition drops
              // in written order but would SURVIVE below the swap —
              // that direction belongs to null-rejecting outer
              // elimination, which Spark's own optimizer performs.)
              // Priced like the rotation: swap iff the inner join is
              // genuinely REDUCING — |f ⋈ d2| ≈ |f|·r2/k2 ≤ |f|/2, i.e.
              // 2·r2 ≤ k2 — so the expanding left join runs over the
              // reduced stream; the margin keeps the rule a no-op on
              // near-ties and the output shape (outer on top) cannot
              // re-match, so the fixed point terminates. Hints travel
              // positionally exactly as in the inner bubble.
              case Join(f, d1, LeftOuter, Some(c1), h1)
                  if c1.deterministic &&
                    c2.references.subsetOf(f.outputSet ++ d2.outputSet) =>
                factor(f, d2, c2, rows, stats, hist, cnts, bytes) match {
                  case Some((r2, k2)) if r2 * 2 <= k2 =>
                    if (diag) RuleDiag.record("reorder", "fired", "outer-commute", j2)
                    Some(Project(j2.output,
                      Join(Join(f, d2, Inner, Some(c2),
                          JoinHint(h1.leftHint, h2.rightHint)),
                        d1, LeftOuter, Some(c1),
                        JoinHint(h2.leftHint, h1.rightHint))))
                  case Some(_) =>
                    if (diag) RuleDiag.record("reorder", "bailed", "below-margin", j2)
                    None
                  case None =>
                    if (diag) RuleDiag.record("reorder", "bailed",
                      unpricedReason(Seq(f, d2), bytes), j2)
                    None
                }
              case Join(f, d1, Inner, Some(c1), h1)
                  if c1.deterministic &&
                    c2.references.subsetOf(f.outputSet ++ d2.outputSet) =>
                val p1E = factor(f, d1, c1, rows, stats, hist, cnts, bytes)
                val p2E = factor(f, d2, c2, rows, stats, hist, cnts, bytes)
                (p1E, p2E) match {
                  // swap iff rows(d2)/k2 ≤ (rows(d1)/k1) / 2 — exact
                  // cross-multiplied; the 2x margin makes the comparator a
                  // strict partial order, so the adjacent-swap bubble
                  // strictly reduces inversions and the batch terminates
                  // (hints cannot re-enable a swap the margin rejected).
                  // Hints are PRESERVED through the commute (VERDICT r13
                  // item 6: matching JoinHint.NONE froze any chain whose
                  // inner join the broadcast flip — or the user — had
                  // already hinted): each dim's hint travels with its dim,
                  // the fact-side and composite-side hints stay in
                  // position, so a BROADCAST placed on d2 still forces the
                  // build side after d2 moves into the bottom join.
                  case (Some((r1, k1)), Some((r2, k2))) if r2 * k1 * 2 <= r1 * k2 =>
                    if (diag) RuleDiag.record("reorder", "fired", "bubble-swap", j2)
                    Some(Project(j2.output,
                      Join(Join(f, d2, Inner, Some(c2),
                          JoinHint(h1.leftHint, h2.rightHint)),
                        d1, Inner, Some(c1),
                        JoinHint(h2.leftHint, h1.rightHint))))
                  case (Some(_), Some(_)) =>
                    if (diag) RuleDiag.record("reorder", "bailed", "below-margin", j2)
                    None
                  case _ =>
                    if (diag) RuleDiag.record("reorder", "bailed",
                      unpricedReason(
                        (if (p1E.isEmpty) Seq(f, d1) else Nil) ++
                          (if (p2E.isEmpty) Seq(f, d2) else Nil), bytes), j2)
                    None
                }
              case _ => None
            }
            bubbled.getOrElse(rotateRightDeep(j2, rows, stats, hist, cnts, bytes, diag))
        }
      }
    }
  }

  /** The FOURTH stats consumer — EAGER AGGREGATION (Yan & Larson,
    * VLDB'95 "Eager aggregation and lazy aggregation"): for
    *
    *   `(fact ⋈K dims…).groupBy(dim cols ∪ fact keys)
    *      .agg(sum/count/min/max/avg(fact cols))`
    *
    * push a PARTIAL aggregate (grouped by the fact's join/grouping keys)
    * below the join when the catalog prices the keys' fanout high — the
    * classic rewrite Spark does not do (its partial aggregation only
    * combines map-side of the FINAL agg's shuffle; the join's shuffle
    * still moves every fact row). With rows(fact)/ndv(k) ≈ 67 on the
    * events fixture, the join's shuffle input shrinks 67× BEFORE any
    * exchange runs — at 100 TB that factor applies to the dominant data
    * movement of the whole query.
    *
    * Generalized in r15 (VERDICT r14 item 2) beyond the single-conjunct
    * direct-child instance: the join condition may be a COMPOSITE key
    * (any conjunction of attribute equalities — the partial then groups
    * by every fact-side condition attribute, priced at the capped ∏NDV),
    * and the fact may sit arbitrarily deep in a chain of conforming inner
    * equi-joins — `(fact ⋈ d1) ⋈ d2` pushes the partial below the BOTTOM
    * join, grouped by the union of fact keys every condition on the path
    * references.
    *
    * Soundness (the Yan–Larson duplication argument): collapsing the fact
    * side to one row per key-tuple is exact for sum/count/min/max because
    * every predicate evaluated above the partial touches the fact only
    * through the grouping keys — all rows of a key group join the SAME
    * set of dim rows at every level, so a match receiving the group's
    * pre-aggregate receives exactly the group's contribution; count(*)
    * becomes sum of per-key counts. The rewrite therefore bails on
    * anything outside that argument: non-inner joins anywhere on the
    * path, non-attribute-equality or non-deterministic conjuncts,
    * DISTINCT or FILTERed aggregates, decimal sums (re-aggregation widens
    * the result type), fact grouping attributes the catalog cannot price,
    * and aggregate inputs spanning multiple sides. A mis-estimated fanout
    * costs only the partial pass — the rewrite is an equivalence.
    * Activation and catalog discipline as the other consumers; the
    * rewritten tree cannot re-fire (the fact side is no longer a scan).
    */
  final case class PushPartialAggThroughJoin() extends Rule[LogicalPlan]
      with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Coalesce, Divide, EqualTo, Expression, Literal, NamedExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, Max, MaxBy, Min, MinBy, Sum}
    import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType}

    /** Minimum catalog-priced rows-per-key fanout for the extra pass to
      * pay for itself (conservative: below this the partial agg mostly
      * re-shuffles the same volume). */
    private val MinFanout = 8L

    private def supported(fn: AggregateFunction): Boolean = fn match {
      // decimal sums stay un-pushed DELIBERATELY: re-aggregation could
      // cast the widened final back to Sum's own result type exactly, but
      // a PER-KEY partial that overflows its (p+10, s) accumulator nulls
      // out under non-ANSI semantics and the re-aggregating Sum would
      // SKIP it — silently dropping that key's contribution where the
      // plain plan nulls the whole sum. The divergence is CONSTRUCTED,
      // not argued: EagerAggSpec's "decimal Sum: the per-key overflow
      // divergence is REAL" builds the two-9e37-rows-per-key frame and
      // shows plain = NULL while the would-be rewrite returns a finite
      // wrong value (VERDICT r15 item 4). Matching plain needs Sum's
      // internal overflow-flag machinery, not a wrapper; until then the
      // bail keeps the rewrite an equivalence.
      case f: Sum => !f.child.dataType.isInstanceOf[DecimalType]
      case _: Min | _: Max => true
      // first/last OVER A DETERMINISTIC ORDERING (VERDICT r14 item 7) —
      // the max_by/min_by form: per-key partials carry (value at extreme
      // ordering, extreme ordering), and re-aggregating max_by(value,
      // ordering) over the partials picks the globally-extreme group's
      // value. Ties in the ordering resolve arbitrarily on EITHER plan —
      // exactly Spark's own max_by semantics, so the rewrite adds no new
      // nondeterminism (a unique ordering column makes both exact). The
      // plain First/Last (no ordering at all) stay un-pushed below.
      case _: MaxBy | _: MinBy => true
      case c: Count => c.children.forall(ch => ch.foldable || ch.isInstanceOf[Attribute])
      // avg decomposes to sum+count partials whose sum accumulates in
      // DOUBLE — the same accumulator type Average itself uses — so the
      // pushed-down accumulation matches Average's own at EVERY scale
      // (VERDICT r14 what's wrong 1: a LongType partial sum was exact
      // 64-bit where Average rounds per-addition, so past 2^53 the
      // rewritten plan was *more* accurate than the plain one — a
      // plan-dependent answer — and past 2^63 the long partial wrapped).
      // With the double partial the only remaining divergence class is
      // addition-order rounding, which Spark's own map-side partials
      // already exhibit on any plan. Decimal averages bail with decimal
      // sums.
      case a: Average => a.child.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             DoubleType | FloatType => true
        case _ => false
      }
      case _ => false
    }

    /** Conjuncts of a deterministic attribute-equality-only condition. */
    private def attrEqConjuncts(
        cond: Expression): Option[Seq[(Attribute, Attribute)]] = {
      val pairs = splitConjunctivePredicates(cond).map {
        case EqualTo(a: Attribute, b: Attribute) => Some((a, b))
        case _ => None
      }
      if (pairs.forall(_.isDefined)) Some(pairs.flatten) else None
    }

    /** Descend the join tree to the unique side holding ALL aggregate
      * inputs, through conforming joins only (deterministic,
      * all-attribute-equality condition — anything else would evaluate a
      * predicate the duplication argument cannot cover). Inner joins admit
      * the fact on EITHER side; OUTER joins only on their PRESERVED side
      * (round 17, the item-1 follow-through for this rule): collapsing a
      * preserved fact to one row per key tuple is still exact — every row
      * of a key group matches the same dim rows or the whole group
      * null-extends exactly once, carrying the group's partial (NULL fact
      * keys included: null never equals, so the null-key group
      * null-extends uniformly and lands in the same final group). A fact
      * on the NULL-SUPPLYING side has no such argument (its rows can be
      * null-extended per unmatched preserved row) and bails. Returns the
      * fact subtree (a covered scan candidate), a function rebuilding the
      * tree with the fact replaced, and every condition attribute on the
      * path (the fact-side ones become the partial's grouping keys; an
      * attribute-only Project between chain joins carries no computation
      * and is dropped by the rebuild — the final aggregate re-selects). */
    private def descend(p: LogicalPlan, aggRefs: org.apache.spark.sql.catalyst.expressions.AttributeSet):
        Option[(LogicalPlan, LogicalPlan => LogicalPlan, Seq[Attribute])] =
      stripAttrProject(p) match {
        // SEMI/ANTI joins admit the fact on their LEFT — the output —
        // side (round 18, the item-3 follow-through for this rule): the
        // join is a pure FILTER over the fact, its condition touches the
        // fact only through the key attributes the partial groups by, so
        // every key group passes or is dropped ATOMICALLY, carrying (or
        // not) its whole pre-aggregate — the duplication argument
        // degenerates to a cleaner filter argument. The right side never
        // hosts the fact (its rows don't reach the aggregate at all).
        case j @ Join(l, r, Inner | LeftOuter | RightOuter | LeftSemi | LeftAnti,
            Some(cond), _)
            if cond.deterministic =>
          attrEqConjuncts(cond).flatMap { pairs =>
            val cAttrs = pairs.flatMap { case (a, b) => Seq(a, b) }
            def side(mine: LogicalPlan, wrap: LogicalPlan => LogicalPlan,
                preserved: Boolean):
                Option[(LogicalPlan, LogicalPlan => LogicalPlan, Seq[Attribute])] =
              if (!preserved || !aggRefs.subsetOf(mine.outputSet)) None
              else if (scanOf(mine).isDefined) Some((mine, wrap, cAttrs))
              else descend(mine, aggRefs).map { case (f, rb, cs) =>
                (f, (into: LogicalPlan) => wrap(rb(into)), cAttrs ++ cs)
              }
            side(l, into => j.copy(left = into), j.joinType != RightOuter)
              .orElse(side(r, into => j.copy(right = into),
                j.joinType != LeftOuter &&
                  j.joinType != LeftSemi && j.joinType != LeftAnti))
          }
        case _ => None
      }

    override def apply(plan: LogicalPlan): LogicalPlan = {
      val dir = conf.getConfString(DirKey, "")
      val diag = conf.getConfString(RuleDiag.EnabledKey, "false").toBoolean
      // an Aggregate directly over a join tree is the shape this rule
      // prices — only those record, so the diagnostics never flood with
      // every scan-level groupBy in a plan
      def candidate(p: LogicalPlan): Boolean = p match {
        case Aggregate(_, _, c, _) => stripAttrProject(c).isInstanceOf[Join]
        case _ => false
      }
      def bailAll(reason: String): Unit = if (diag) plan.foreach {
        case a: Aggregate if candidate(a) =>
          RuleDiag.record("eager-agg", "bailed", reason, a)
        case _ => ()
      }
      if (dir.isEmpty) { bailAll("no-stats-dir"); plan }
      else {
        val spark = SparkSession.active
        val rows = StatsCatalog.rows(spark, dir)
        val ndv = lookup(spark, dir)
        val bytes = StatsCatalog.srcBytes(spark, dir)
        if (rows.isEmpty || ndv.isEmpty) { bailAll("empty-catalog"); plan }
        else plan.transformUp {
          // streaming guard: on a streaming plan the inserted per-key
          // aggregate would be a SECOND stateful operator whose update-mode
          // emissions are per-micro-batch partials, not the global per-key
          // totals the duplication argument needs — batch plans only
          case agg @ Aggregate(groupExprs, resultExprs, child, _) if !agg.isStreaming =>
            val recorder: (String, String) => Unit =
              if (diag && candidate(agg))
                (decision, reason) => RuleDiag.record("eager-agg", decision, reason, agg)
              else (_, _) => ()
            rewrite(agg, groupExprs, resultExprs,
              stripAttrProject(child), rows, ndv, bytes, recorder).getOrElse(agg)
        }
      }
    }

    private def rewrite(agg: Aggregate, groupExprs: Seq[Expression],
        resultExprs: Seq[NamedExpression], child: LogicalPlan,
        rows: Map[String, Long],
        ndv: Map[(String, String), Long],
        bytes: Map[String, Long],
        recorder: (String, String) => Unit): Option[LogicalPlan] = {
      val aggPairs = resultExprs.collect {
        case al @ Alias(ae: AggregateExpression, _) => (al, ae)
      }
      val passthrough = resultExprs.forall {
        case _: Attribute => true
        case Alias(_: AggregateExpression, _) => true
        case Alias(_: Attribute, _) => true
        case _ => false
      }
      val aggRefs = org.apache.spark.sql.catalyst.expressions.AttributeSet(
        aggPairs.flatMap(_._2.references))
      val shapeOk = passthrough && aggPairs.nonEmpty && aggRefs.nonEmpty &&
        groupExprs.forall(_.isInstanceOf[Attribute]) &&
        aggPairs.forall { case (_, ae) =>
          !ae.isDistinct && ae.filter.isEmpty &&
            ae.aggregateFunction.deterministic &&
            supported(ae.aggregateFunction)
        }
      if (!shapeOk) {
        // name the unsupported aggregate when that is what blocked the
        // push — the operator-facing distinction between "rewrite can
        // never apply here" and "restate the aggregate and it will"
        recorder("bailed",
          if (aggPairs.nonEmpty && !aggPairs.forall { case (_, ae) =>
              !ae.isDistinct && ae.filter.isEmpty &&
                ae.aggregateFunction.deterministic &&
                supported(ae.aggregateFunction) }) "unsupported-agg"
          else "shape")
        None
      }
      else descend(child, aggRefs).orElse {
        recorder("bailed", "non-conforming-join"); None
      }.flatMap { case (fact, rebuild, condAttrs) =>
        val factOut = fact.outputSet
        // the partial's grouping keys: every fact-side condition attribute
        // on the path, plus any fact attribute the FINAL group-by uses
        // (sound — rows agreeing on a key superset still join identically
        // and land in the same final group)
        val keyAttrs = scala.collection.mutable.LinkedHashMap[Long, Attribute]()
        (condAttrs.filter(factOut.contains) ++
          groupExprs.collect { case a: Attribute if factOut.contains(a) => a })
          .foreach(a => keyAttrs.getOrElseUpdate(a.exprId.id, a))
        val fks = keyAttrs.values.toSeq
        // price the fanout: rows(fact) over the capped ∏NDV of the key
        // tuple (a composite NDV can never exceed the row count; per-key
        // independence can only OVER-state it, i.e. under-state the
        // fanout — the conservative direction: a missed rewrite costs
        // the factor, never rows)
        val priced: Option[Seq[Attribute]] =
          scanOf(fact).flatMap(StatsCatalog.tableOf).flatMap(rows.get) match {
            case _ if fks.isEmpty => recorder("bailed", "shape"); None
            // the shared freshness posture (round 18): a fact scan grown
            // past its recorded testimony refuses the fanout pricing —
            // stale NDVs UNDER-state (registers only grow), which would
            // OVER-state the fanout and fire the partial where the true
            // fanout no longer pays; quality-only either way (the rewrite
            // is an equivalence), but the one discipline holds everywhere
            case _ if SketchStats.grownPastSlack(fact, bytes) =>
              recorder("bailed", "stale-stats"); None
            case None => recorder("bailed", "missing-rows"); None
            case Some(n) =>
              val ks = fks.map(a => a -> ndvOf(fact, a, ndv))
              val missing = ks.collect { case (a, None) => a.name }
              if (missing.nonEmpty) {
                recorder("bailed", s"missing-ndv:${missing.mkString(",")}"); None
              } else {
                val prod = ks.flatMap(_._2).map(BigInt(_)).product
                  .min(BigInt(math.max(1L, n)))
                if (BigInt(n) / prod.max(BigInt(1)) < MinFanout) {
                  recorder("bailed", "below-fanout"); None
                } else { recorder("fired", "partial-pushdown"); Some(fks) }
              }
          }
        priced.map { fks2 =>
          // per original aggregate: its partial functions (one for
          // sum/count/min/max, sum+count for avg) and the final
          // expression over the partial attrs
          def sumOf(p: Attribute): Expression =
            AggregateExpression(Sum(p), Complete, isDistinct = false)
          val decomposed = aggPairs.map { case (al, ae) =>
            ae.aggregateFunction match {
              case a: Average =>
                // partial sum in DOUBLE — Average's own accumulator
                // type — so the decomposition matches its semantics at
                // every magnitude (VERDICT r14 what's wrong 1)
                val parts = Seq[AggregateFunction](
                  Sum(Cast(a.child, DoubleType)), Count(Seq(a.child)))
                (al, parts, (ps: Seq[Attribute]) =>
                  Divide(sumOf(ps(0)), Cast(sumOf(ps(1)), DoubleType)))
              case _: Count =>
                (al, Seq(ae.aggregateFunction), (ps: Seq[Attribute]) =>
                  Coalesce(Seq(sumOf(ps(0)), Literal(0L))))
              case mb: MaxBy =>
                // partials: (value at the key's max ordering, max ordering);
                // the final max_by over partial pairs picks the value of
                // the group holding the global maximum ordering
                (al, Seq[AggregateFunction](
                  MaxBy(mb.valueExpr, mb.orderingExpr), Max(mb.orderingExpr)),
                  (ps: Seq[Attribute]) =>
                    AggregateExpression(MaxBy(ps(0), ps(1)), Complete, isDistinct = false))
              case mb: MinBy =>
                (al, Seq[AggregateFunction](
                  MinBy(mb.valueExpr, mb.orderingExpr), Min(mb.orderingExpr)),
                  (ps: Seq[Attribute]) =>
                    AggregateExpression(MinBy(ps(0), ps(1)), Complete, isDistinct = false))
              case f2 =>
                (al, Seq(ae.aggregateFunction), (ps: Seq[Attribute]) =>
                  AggregateExpression(
                    f2.withNewChildren(Seq(ps(0))).asInstanceOf[AggregateFunction],
                    Complete, isDistinct = false))
            }
          }
          val partialAliases = decomposed.flatMap { case (al, parts, _) =>
            parts.zipWithIndex.map { case (pf, i) =>
              Alias(AggregateExpression(pf, Complete, isDistinct = false),
                s"__ea_${al.name}_$i")()
            }
          }
          val partial = Aggregate(fks2.map(a => a: NamedExpression),
            fks2.map(a => a: NamedExpression) ++ partialAliases, fact)
          val pAttrs = partialAliases.map(_.toAttribute).iterator
          val finalByOrig = decomposed.map { case (al, parts, mk) =>
            al.exprId -> mk(Seq.fill(parts.length)(pAttrs.next()))
          }.toMap
          val finalExprs = resultExprs.map {
            case al @ Alias(_: AggregateExpression, name) =>
              Alias(finalByOrig(al.exprId), name)(
                exprId = al.exprId, qualifier = al.qualifier)
            case other => other
          }
          Aggregate(groupExprs, finalExprs, rebuild(partial))
        }
      }
    }
  }

  /** The SECOND stats consumer (VERDICT r11 item 6) — the q202 lesson:
    * generator fan-out is invisible to Spark's size-only estimation.
    * `Generate(explode(col))` forwards roughly its child's sizeInBytes,
    * so a small scan that explodes a k-element array column looks k×
    * smaller than it is and the planner happily BROADCASTS the exploded
    * side — an under-estimation that ships k× the expected bytes to every
    * executor (the inverse blindness of [[BroadcastFromSketchStats]]:
    * there Spark over-estimates and misses a broadcast; here it
    * under-estimates and picks a bad one).
    *
    * The rule corrects with the persisted per-(table, array column) avg
    * element count: when a join side contains an explode of a
    * stats-covered scan column, its naive estimate is ≤ the broadcast
    * threshold (so the planner WOULD build on it), but naive × avg_len
    * exceeds the threshold, the side gets a NO_BROADCAST_HASH hint. The
    * veto direction is safe by construction: a wrongly-vetoed broadcast
    * degrades to a shuffled join; a wrongly-granted one degrades to an
    * OOM-shaped driver/executor spike at 100 TB. Same activation and
    * catalog discipline as the NDV consumer ([[StatsCatalog]]).
    */
  final case class VetoBroadcastOnFanout() extends Rule[LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.ExplodeBase

    /** Covered-explode fan-out factors under `p`: the avg element count of
      * every exploded, stats-covered array column (empty = this side has
      * no generator the catalog can correct). */
    private def coveredFactors(p: LogicalPlan,
        fan: Map[(String, String), (Long, Long)]): Seq[Long] =
      p.collect { case g: Generate => g }.flatMap { g =>
        g.generator match {
          case e: ExplodeBase => e.child match {
            case a: AttributeReference =>
              g.child.collect {
                case lr: LogicalRelation if lr.output.exists(_.exprId == a.exprId) => lr
              }.headOption.flatMap(tableOf)
                .flatMap(t => fan.get((t, a.name)))
                .map { case (avgLen, _) => math.max(1L, avgLen) }
            case _ => None
          }
          case _ => None
        }
      }

    /** Corrected-size veto check: true when `p` would be size-eligible
      * for broadcast but an explode of a covered array column makes the
      * corrected estimate exceed the threshold. */
    private def fanoutBlows(p: LogicalPlan,
        fan: Map[(String, String), (Long, Long)], threshold: Long): Boolean = {
      val naive = p.stats.sizeInBytes
      naive <= threshold &&
        coveredFactors(p, fan).exists(avgLen => naive * BigInt(avgLen) > threshold)
    }

    private def tableOf(lr: LogicalRelation): Option[String] = StatsCatalog.tableOf(lr)

    override def apply(plan: LogicalPlan): LogicalPlan = {
      val dir = conf.getConfString(DirKey, "")
      val threshold = conf.autoBroadcastJoinThreshold
      val diag = conf.getConfString(RuleDiag.EnabledKey, "false").toBoolean
      // the diagnostics trigger: a join side that EXPLODES something — the
      // one shape whose size estimate this rule exists to correct
      def hasExplode(p: LogicalPlan): Boolean = p.exists {
        case g: Generate => g.generator.isInstanceOf[ExplodeBase]
        case _ => false
      }
      def bailAll(reason: String): Unit = if (diag) plan.foreach {
        case j @ Join(l, r, Inner | LeftOuter | RightOuter | LeftSemi | LeftAnti | FullOuter,
            _, JoinHint.NONE)
            if hasExplode(l) || hasExplode(r) =>
          RuleDiag.record("fanout-veto", "bailed", reason, j)
        case _ => ()
      }
      if (dir.isEmpty || threshold <= 0) { bailAll("no-stats-dir"); plan }
      else {
        val fan = StatsCatalog.fanout(SparkSession.active, dir)
        if (fan.isEmpty) { bailAll("empty-catalog"); plan }
        else plan.transformUp {
          // a FullOuter join has no hash-join build side to veto — the
          // size estimate this rule corrects cannot pick a broadcast there
          // anyway; an exploding side still gets the reason (VERDICT r17
          // item 6: excluded shapes must say so)
          case j @ Join(l, r, FullOuter, _, JoinHint.NONE)
              if diag && (hasExplode(l) || hasExplode(r)) =>
            RuleDiag.record("fanout-veto", "bailed", "full-outer", j)
            j
          // outer joins too (round 17 symmetry with the flip), and
          // semi/anti joins in round 18 (their right side is a buildable
          // hash-join side exactly like the flip's): Spark's size-only
          // estimation happily broadcasts the NON-preserved side of a
          // LEFT/RIGHT join — or the filter side of an EXISTS — so an
          // exploding side there needs the same corrected-size veto; only
          // BUILDABLE sides are vetoed — a preserved side is never a
          // hash-join build, so a hint there would be noise
          case j @ Join(l, r, jt @ (Inner | LeftOuter | RightOuter | LeftSemi | LeftAnti),
              _, JoinHint.NONE) =>
            val veto = Some(HintInfo(strategy = Some(NO_BROADCAST_HASH)))
            val (canL, canR) = buildableSides(jt)
            val (vl, vr) =
              (canL && fanoutBlows(l, fan, threshold),
                canR && fanoutBlows(r, fan, threshold))
            if (vl || vr) {
              if (diag) RuleDiag.record("fanout-veto", "fired", "corrected-over-threshold", j)
              j.copy(hint = JoinHint(if (vl) veto else None, if (vr) veto else None))
            } else {
              if (diag && (hasExplode(l) || hasExplode(r))) {
                // the covered exploding side, if any: over-threshold sides
                // need no veto (not broadcast-eligible anyway); an
                // under-threshold side whose corrected estimate still fits
                // is genuinely fine to broadcast
                val side = Seq(l, r).find(p => coveredFactors(p, fan).nonEmpty)
                RuleDiag.record("fanout-veto", "bailed",
                  side match {
                    case None => "uncovered-column"
                    case Some(p) if p.stats.sizeInBytes > threshold => "already-over-threshold"
                    case _ => "within-threshold"
                  }, j)
              }
              j
            }
        }
      }
    }
  }
}
