package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Attribute, ExprId,
  Expression, GreaterThan, NamedExpression, GreaterThanOrEqual, LessThan, LessThanOrEqual, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Depth-bounded `WITH RECURSIVE` as one plan. Spark 4.1 runs a recursive
  * CTE through `UnionLoopExec`, a driver loop: every level is its own
  * `repartition().toRdd.count()` query and the anchor runs a second time,
  * so the q180 closure (`WHERE r.depth < 6`) costs about 32 Spark jobs.
  * When the recursion is provably bounded by literals, this optimizer rule
  * rewrites the `UnionLoop` into `Union(level_0 … level_n)`, where level 0
  * is the anchor and `level_{i+1}` is the recursion term with its
  * `UnionLoopRef` replaced by `level_i` — one plan, whose levels share
  * their exchanges through stage reuse (about 6 jobs for q180).
  *
  * Fires only when ALL of these hold; otherwise `UnionLoop` stays with
  * Spark, and the decision goes to [[RuleDiag]] (rule
  * `bounded-recursion`) with its reason:
  *  - exactly one `UnionLoopRef` to the loop, not accumulated, and no
  *    subquery in either term (`ref-count`, `accumulated-ref`,
  *    `subquery`);
  *  - deterministic anchor and recursion terms, with no limit, offset or
  *    sample inside them: every level is recomputed once per later level,
  *    and each copy must pick the same rows (`nondeterministic`);
  *  - the ref's columns carry the types of both terms' outputs, and no
  *    less nullability (`type-mismatch`);
  *  - no `limit` and no `maxDepth` on the loop (`limit`, `max-depth`);
  *  - every operator of both terms can be copied with fresh exprIds
  *    (`unsupported-operator:<node>`), and every operator between the
  *    recursion root and the ref yields no row from an empty ref
  *    (`ref-path:<node>`) — so an empty level makes every later level
  *    empty;
  *  - some column `d` (the depth) is a foldable integral literal `a0` in
  *    the anchor (`anchor-depth-not-literal`), is `ref.d + c` in the step
  *    with `c` a literal ≥ 1 (`no-increasing-depth`), and the ref's rows
  *    pass a conjunct `ref.d < K` or `ref.d <= K` with `K` a literal
  *    (`no-literal-bound`) — so level i holds depth `a0 + i·c` and level
  *    `n+1` is provably empty, and `a0 + n·c` fits the column's type
  *    (`depth-overflow`);
  *  - `n+1 ≤ min(spark.sql.cteRecursionLevelLimit, 16)` (`too-deep`).
  *
  * Each level copy gets fresh exprIds (the `MultiInstanceRelation` leaves
  * are re-instanced and every alias renewed), so the self-joins of the
  * nested levels stay unambiguous. The unrolled plan is NOT subject to
  * `spark.sql.cteRecursionRowLimit`, which only `UnionLoopExec` enforces:
  * the literal bound is its termination guarantee. It still evaluates
  * exactly the rows `UnionLoopExec` would.
  */
object BoundedRecursion {
  /** Most levels (anchor included) the rule unrolls — each level repeats
    * every level below it in the plan, so the plan grows quadratically. */
  val MaxLevels = 16

  private val Name = "bounded-recursion"

  def ensure(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[UnrollBoundedLoop]))
      spark.experimental.extraOptimizations = cur :+ UnrollBoundedLoop()
  }

  /** The last level index `n` (levels 0..n can hold rows), or the reason
    * the loop is left to Spark. */
  private def levels(u: UnionLoop, conf: SQLConf): Either[String, Int] = {
    val refs = u.recursion.collectWithSubqueries {
      case r: UnionLoopRef if r.loopId == u.id => r
    }
    val terms = Seq(u.anchor, u.recursion)
    def anyExpr(p: Expression => Boolean) =
      terms.exists(_.exists(_.expressions.exists(p)))
    if (u.limit.nonEmpty) Left("limit")
    else if (u.maxDepth.nonEmpty) Left("max-depth")
    else if (anyExpr(SubqueryExpression.hasSubquery)) Left("subquery")
    else if (refs.exists(_.accumulated)) Left("accumulated-ref")
    else if (refs.size != 1) Left("ref-count")
    else if (anyExpr(!_.deterministic) || terms.exists(_.exists {
        case _: LocalLimit | _: GlobalLimit | _: Offset | _: Tail | _: Sample => true
        case _ => false
      })) Left("nondeterministic")
    else if (!Seq(u.anchor.output, u.recursion.output).forall(_.zip(refs.head.output).forall {
        case (o, r) => o.dataType == r.dataType && (r.nullable || !o.nullable) }))
      Left("type-mismatch")
    else terms.flatMap(uncopyable).headOption.map(n => Left(s"unsupported-operator:$n"))
      .getOrElse {
        val ref = refs.head
        refPath(u.recursion, ref) match {
          case Left(node) => Left(s"ref-path:$node")
          case Right(path) => depthBound(u, ref, path).flatMap { n =>
            val limit = conf.getConf(SQLConf.CTE_RECURSION_LEVEL_LIMIT)
            val cap = if (limit < 0) MaxLevels else math.min(limit, MaxLevels)
            if (n + 1 > cap) Left("too-deep") else Right(n.toInt)
          }
        }
      }
  }

  /** The name of a node that cannot be copied with fresh exprIds: a leaf
    * with output that is not a `MultiInstanceRelation`, or an operator that
    * produces attributes other than through its aliases. */
  private def uncopyable(p: LogicalPlan): Option[String] = p.collectFirst {
    case l: LeafNode if l.output.nonEmpty && !l.isInstanceOf[MultiInstanceRelation] => l.nodeName
    case n if !n.isInstanceOf[LeafNode] && {
        val aliased = n.expressions.flatMap(_.collect { case a: Alias => a.exprId }).toSet
        !n.producedAttributes.forall(a => aliased(a.exprId))
      } => n.nodeName
  }

  /** The operators from `root` down to `ref` (root first), when each one
    * yields no row once its child on the path is empty; else the name of
    * the first one that may. */
  private def refPath(root: LogicalPlan, ref: UnionLoopRef): Either[String, List[LogicalPlan]] = {
    def holds(p: LogicalPlan) = p.exists(_ eq ref)
    def go(p: LogicalPlan): Either[String, List[LogicalPlan]] =
      if (p eq ref) Right(Nil)
      else {
        val strict = p match {
          case _: Project | _: Filter => true
          case j: Join => j.joinType match {
            case Inner | Cross => true
            case LeftOuter | LeftSemi | LeftAnti => holds(j.left)
            case RightOuter => holds(j.right)
            case _ => false
          }
          case _ => false
        }
        if (!strict) Left(p.nodeName)
        else go(p.children.find(holds).get).map(p :: _)
      }
    go(root)
  }

  private def maxValue(t: DataType): BigInt = t match {
    case ByteType => Byte.MaxValue
    case ShortType => Short.MaxValue
    case IntegerType => Int.MaxValue
    case _ => Long.MaxValue
  }

  private def integral(t: DataType) = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def intLiteral(e: Expression): Option[BigInt] =
    if (e.foldable && integral(e.dataType))
      Option(e.eval()).map(v => BigInt(v.asInstanceOf[java.lang.Number].longValue))
    else None

  /** The anchor's value for column `a` when it is one integral literal
    * on every anchor row. */
  private def anchorLiteral(p: LogicalPlan, a: Attribute): Option[BigInt] = {
    def among(list: Seq[NamedExpression], child: LogicalPlan) =
      list.find(_.exprId == a.exprId).flatMap {
        case Alias(e, _) => intLiteral(e)
        case b: Attribute => anchorLiteral(child, b)
        case _ => None
      }
    p match {
      case Project(list, child) => among(list, child)
      // a grouping column passes its child's values through
      case g: Aggregate => among(g.aggregateExpressions, g.child)
      case Filter(_, child) => anchorLiteral(child, a)
      case l: LocalRelation if l.data.nonEmpty && integral(a.dataType) =>
        val i = l.output.indexWhere(_.exprId == a.exprId)
        val vs = l.data.map(r => if (i < 0 || r.isNullAt(i)) None
          else Some(BigInt(r.get(i, a.dataType).asInstanceOf[java.lang.Number].longValue))).distinct
        if (vs.size == 1) vs.head else None
      case _ => None
    }
  }

  /** n for the first column that the anchor starts at a literal, the step
    * raises by a literal and a filter on the ref path bounds by a literal. */
  private def depthBound(u: UnionLoop, ref: UnionLoopRef,
      path: List[LogicalPlan]): Either[String, BigInt] = {
    // alias definitions on the path, to read an expression in ref columns
    val defs: Map[ExprId, Expression] = path.collect { case Project(list, _) => list }.flatten
      .collect { case al: Alias => al.exprId -> al.child }.toMap
    def inRef(e: Expression): Expression = e.transformUp {
      case a: Attribute if defs.contains(a.exprId) => inRef(defs(a.exprId))
    }
    def isCol(e: Expression, d: Int) = e match {
      case a: Attribute => a.exprId == ref.output(d).exprId
      case _ => false
    }
    val conjuncts = path.collect { case Filter(c, _) => c }
      .flatMap(splitConjuncts).map(inRef)
    val byColumn = ref.output.indices.map { d =>
      val a0 = anchorLiteral(u.anchor, u.anchor.output(d))
      val step = inRef(u.recursion.output(d)) match {
        case add: Add if isCol(add.left, d) => intLiteral(add.right)
        case add: Add if isCol(add.right, d) => intLiteral(add.left)
        case _ => None
      }
      // (K, strict): level i+1 is empty once every level-i depth fails it
      val bounds = conjuncts.flatMap {
        case LessThan(x, k) if isCol(x, d) => intLiteral(k).map(_ -> true)
        case LessThanOrEqual(x, k) if isCol(x, d) => intLiteral(k).map(_ -> false)
        case GreaterThan(k, x) if isCol(x, d) => intLiteral(k).map(_ -> true)
        case GreaterThanOrEqual(k, x) if isCol(x, d) => intLiteral(k).map(_ -> false)
        case _ => None
      }
      (a0, step.filter(_ >= 1), bounds, maxValue(ref.output(d).dataType))
    }
    val found = byColumn.collect {
      case (Some(a0), Some(c), bounds, max) if bounds.nonEmpty =>
        val n = bounds.map {
          // last level i with a0 + (i-1)·c < K (strict) or <= K
          case (k, true) => if (k <= a0) BigInt(0) else (k - a0 + c - 1) / c
          case (k, false) => if (k < a0) BigInt(0) else (k - a0) / c + 1
        }.min
        // level n's depth must fail the bound, not wrap round past it
        // (non-ANSI arithmetic) and feed a level n+1
        if (a0 + n * c > max) Left("depth-overflow") else Right(n)
    }
    val ns = found.collect { case Right(n) => n }
    if (ns.nonEmpty) Right(ns.min)
    else if (found.nonEmpty) found.head
    else if (!byColumn.exists(_._1.nonEmpty)) Left("anchor-depth-not-literal")
    else if (!byColumn.exists(c => c._1.nonEmpty && c._2.nonEmpty)) Left("no-increasing-depth")
    else Left("no-literal-bound")
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** `p` with fresh exprIds: re-instanced leaves and renewed aliases, every
    * reference rewritten to match. */
  private def fresh(p: LogicalPlan): LogicalPlan = p.transformUpWithNewOutput {
    case leaf: LeafNode with MultiInstanceRelation =>
      val n = leaf.newInstance()
      (n, leaf.output.zip(n.output))
    case node if node.expressions.exists(_.exists(_.isInstanceOf[Alias])) =>
      val renamed = ArrayBuffer[(Attribute, Attribute)]()
      val n = node.transformExpressions { case a: Alias =>
        val b = a.newInstance()
        renamed += a.toAttribute -> b.toAttribute
        b
      }
      (n, renamed.toSeq)
  }

  /** `Union(level_0 … level_n)` under `u`'s own output attributes. */
  private def unroll(u: UnionLoop, n: Int): LogicalPlan = {
    def level(i: Int): LogicalPlan =
      if (i == 0) fresh(u.anchor)
      else {
        val prev = level(i - 1)
        fresh(u.recursion).transformUp {
          case r: UnionLoopRef if r.loopId == u.id =>
            Project(r.output.zip(prev.output).map { case (a, b) =>
              Alias(b, a.name)(exprId = a.exprId) }, prev)
        }
      }
    val levels = (0 to n).map(level)
    val body = if (levels.size == 1) levels.head else Union(levels)
    Project(u.output.zip(body.output).map { case (o, b) =>
      Alias(b, o.name)(exprId = o.exprId, qualifier = o.qualifier) }, body)
  }

  final case class UnrollBoundedLoop() extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      val diag = conf.getConfString(RuleDiag.EnabledKey, "false").toBoolean
      plan.transformUpWithSubqueries {
        case u: UnionLoop if u.resolved =>
          levels(u, conf) match {
            case Left(reason) =>
              if (diag) RuleDiag.record(Name, "bailed", reason, u)
              u
            case Right(n) =>
              if (diag) RuleDiag.record(Name, "fired", "literal-bound", u)
              unroll(u, n)
          }
      }
    }
  }
}
