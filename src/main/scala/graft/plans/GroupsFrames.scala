package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.WINDOW
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** SQL:2011 GROUPS window frames as one Catalyst rule.
  *
  * Spark 4.1.2's parser has no GROUPS frame mode (the reference carries
  * the enum — datafusion.proto:651-676), but GROUPS semantics compose
  * exactly: `dense_rank()` over the same (partition, order) gives each
  * peer group one integer, and a RANGE frame over that integer counts
  * groups. q_window_groups_emul proves the composition against the
  * DuckDB oracle.
  *
  * Two steps get there. [[GroupsFrameParser]] edits the text of each
  * `GROUPS <frame>` clause (outside quotes and comments) into
  * `, __graft_groups() ROWS <frame>`: the frame's ORDER BY gains a
  * trailing marker. Frame bounds must be literals at parse time, so the
  * marker rides in ORDER BY; it is foldable, so ExtractWindowExpressions
  * keeps it inline, and every GROUPS frame over one (partition, order)
  * lands in one `Window` node whose `orderSpec` ends in the marker. This
  * post-hoc resolution rule then rewrites each such node:
  *
  *  - general case: a lower `Window` computes `dense_rank()` over the
  *    real keys, and the node's frames become RANGE frames over it;
  *  - collapse case: when every expression is a plain SUM/COUNT/MIN/MAX
  *    (no DISTINCT, no FILTER) over a deterministic child, the value
  *    depends only on the peer-group key, so the node becomes the
  *    peer-group cells form q_window_groups_emul hand-builds — a partial
  *    `Aggregate` per (partition, order) cell, dense_rank and the RANGE
  *    windows over those cells, and a null-safe join back to the rows.
  *    No window sorts the corpus (36.1 s → 5.5 s at sf10). An adjacent
  *    bare DENSE_RANK() over the same keys reads the cells' rank.
  *
  * The analyzer owns every statement shape (subqueries, CTEs, named
  * WINDOW clauses, GROUP BY, DISTINCT, `*`, set operations). A marker
  * the rule cannot place (a GROUPS frame without ORDER BY, a hand-typed
  * `__graft_groups()` elsewhere) fails [[checkNoMarker]]. Wired by
  * [[graft.GraftExtensions]].
  */
object GroupsFrames extends Rule[LogicalPlan] {

  val MarkerName = "__graft_groups"

  private val Probe = Pattern.compile("(?i)\\bGROUPS\\s+(?:BETWEEN|UNBOUNDED|CURRENT|\\d)")
  private val Bound =
    "(?:UNBOUNDED\\s+(?:PRECEDING|FOLLOWING)|CURRENT\\s+ROW|\\d+\\s+(?:PRECEDING|FOLLOWING))"
  /** A quoted span or a comment (skipped whole), or — group 1 — a GROUPS
    * keyword opening a full frame clause. */
  private val Scan = Pattern.compile(
    "(?is)'(?:\\\\.|[^'\\\\])*'|\"(?:\\\\.|[^\"\\\\])*\"|`[^`]*`|--[^\\n]*|/\\*.*?\\*/" +
      s"|\\b(GROUPS)(?=\\s+(?:BETWEEN\\s+$Bound\\s+AND\\s+$Bound|$Bound)\\b)")

  /** `sql` with each GROUPS frame keyword replaced by the marker and
    * ROWS; the same instance when it has none. */
  def markFrames(sql: String): String = {
    if (!Probe.matcher(sql).find()) return sql
    val m = Scan.matcher(sql)
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) if (m.start(1) >= 0) {
      sb.append(sql, last, m.start(1)).append(s", $MarkerName() ROWS")
      last = m.end(1)
    }
    if (last == 0) sql else sb.append(sql, last, sql.length).toString
  }

  private[plans] def stray = new IllegalArgumentException(
    s"$MarkerName() survived analysis: a GROUPS frame needs an ORDER BY, and " +
      s"$MarkerName() belongs only at the end of a window ORDER BY")

  /** Fails on a marker anywhere in `plan` or its subqueries. */
  def checkNoMarker(plan: LogicalPlan): Unit = plan.foreach(_.expressions.foreach(_.foreach {
    case _: GroupsMarker       => throw stray
    case s: SubqueryExpression => checkNoMarker(s.plan)
    case _                     => ()
  }))

  private def marked(w: Window): Boolean =
    w.orderSpec.size > 1 && w.orderSpec.last.child.isInstanceOf[GroupsMarker]

  private val RowsToCurrent = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)

  private def ranged(frame: WindowFrame): WindowFrame = frame match {
    case SpecifiedWindowFrame(RowFrame, lo, hi) => SpecifiedWindowFrame(RangeFrame, lo, hi)
    case other                                  => other
  }

  private def denseRank(part: Seq[Expression], order: Seq[SortOrder]): Alias =
    Alias(WindowExpression(DenseRank(order.map(_.child)),
      WindowSpecDefinition(part, order, RowsToCurrent)), "__gdr")()

  private def cast(e: Expression, to: DataType): Expression =
    if (e.dataType == to) e else Cast(e, to, Option(conf.sessionLocalTimeZone))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDownWithPruning(_.containsPattern(WINDOW)) {
      case dr @ Window(_, _, _, m: Window, _) if marked(m) && collapsible(m) && routable(dr, m) =>
        collapse(m, Some(dr), m.child, dr.output)
      case m: Window if marked(m) && collapsible(m) => m.child match {
        case dr: Window if routable(dr, m) => collapse(m, Some(dr), dr.child, m.output)
        case _                             => collapse(m, None, m.child, m.output)
      }
      case m: Window if marked(m) => general(m)
    }

  /** dense_rank over the real keys below, RANGE frames over it above. */
  private def general(m: Window): LogicalPlan = {
    val keys = m.orderSpec.init
    val rank = denseRank(m.partitionSpec, keys)
    val byRank = Seq(SortOrder(rank.toAttribute, Ascending))
    val exprs = m.windowExpressions.map(_.transform {
      case WindowExpression(f, WindowSpecDefinition(p, _, frame)) =>
        val fn = f match {
          case r: RankLike => r.withOrder(Seq(rank.toAttribute))
          case other       => other
        }
        // functions with a fixed frame of their own keep it
        val honors = f match {
          case w: WindowFunction => w.frame == UnspecifiedFrame
          case _                 => true
        }
        WindowExpression(fn, WindowSpecDefinition(p, byRank, if (honors) ranged(frame) else frame))
    }.asInstanceOf[NamedExpression])
    Project(m.output,
      Window(exprs, m.partitionSpec, byRank, Window(Seq(rank), m.partitionSpec, keys, m.child)))
  }

  /** The plain SUM/COUNT/MIN/MAX and its ROWS frame, if `e` is one. */
  private def aggregate(e: NamedExpression): Option[(AggregateFunction, WindowFrame)] = e match {
    case Alias(WindowExpression(ae: AggregateExpression,
        WindowSpecDefinition(_, _, frame @ SpecifiedWindowFrame(RowFrame, _, _))), _)
        if !ae.isDistinct && ae.filter.isEmpty => ae.aggregateFunction match {
      case f @ (_: Sum | _: Count | _: Min | _: Max) => Some((f, frame))
      case _                                         => None
    }
    case _ => None
  }

  private def collapsible(m: Window): Boolean =
    m.windowExpressions.forall(aggregate(_).isDefined) && m.child.deterministic

  /** True when every expression of `dr` is a bare DENSE_RANK() over the
    * marked node's keys. ExtractWindowExpressions aliases each call's
    * non-attribute keys separately (`_w0`, `_w2`, ...) in the Project
    * below both windows, so keys compare through those aliases. */
  private def routable(dr: Window, m: Window): Boolean = {
    def below(p: LogicalPlan): LogicalPlan = p match {
      case w: Window => below(w.child)
      case other     => other
    }
    val defs = below(dr) match {
      case Project(list, _) => list.collect { case a: Alias => a.exprId -> a.child }.toMap
      case _                => Map.empty[ExprId, Expression]
    }
    def norm(e: Expression) = e.transform {
      case a: Attribute if defs.contains(a.exprId) => defs(a.exprId)
    }.canonicalized
    def keys(w: Window, order: Seq[SortOrder]) =
      (w.partitionSpec.map(norm), order.map(o => (norm(o.child), o.direction, o.nullOrdering)))
    dr.windowExpressions.forall {
      case Alias(WindowExpression(_: DenseRank, _), _) => true
      case _                                           => false
    } && keys(dr, dr.orderSpec) == keys(m, m.orderSpec.init)
  }

  /** The peer-group cells form of the marked node `m` (plus the routed
    * dense-rank node `dr`) over `base`, projected to `out`. */
  private def collapse(
      m: Window, dr: Option[Window], base: LogicalPlan, out: Seq[Attribute]): LogicalPlan = {
    val keys = m.partitionSpec ++ m.orderSpec.init.map(_.child)
    val keyAs = keys.zipWithIndex.map { case (k, i) => Alias(k, s"__gk$i")() }
    val aggs = m.windowExpressions.flatMap(aggregate)
    val cellAs = aggs.zipWithIndex.map { case ((f, _), i) => Alias(f.toAggregateExpression(), s"__gc$i")() }
    val (part, ord) = keyAs.map(_.toAttribute).splitAt(m.partitionSpec.size)
    val ordSpec = m.orderSpec.init.zip(ord).map { case (o, a) =>
      SortOrder(a, o.direction, o.nullOrdering, Seq.empty)
    }
    val rank = denseRank(part, ordSpec)
    val byRank = Seq(SortOrder(rank.toAttribute, Ascending))
    // SUM/MIN/MAX re-aggregate their cells; COUNT sums its cell counts
    val windows = aggs.zip(cellAs).zipWithIndex.map { case (((f, frame), cell), i) =>
      val fn = f match {
        case _: Count => Sum(cell.toAttribute)
        case _        => f.withNewChildren(Seq(cell.toAttribute)).asInstanceOf[AggregateFunction]
      }
      Alias(WindowExpression(fn.toAggregateExpression(),
        WindowSpecDefinition(part, byRank, ranged(frame))), s"__gw$i")()
    }
    val cells = Window(windows, part, byRank,
      Window(Seq(rank), part, ordSpec, Aggregate(keys, keyAs ++ cellAs, base)))
    val on = keys.zip(keyAs).map { case (k, a) => EqualNullSafe(k, a.toAttribute): Expression }
    val defs = m.windowExpressions.zip(aggs).zip(windows).map { case ((e, (f, _)), w) =>
      val v = f match {
        case _: Count => Coalesce(Seq(w.toAttribute, Literal(0L)))
        case _        => w.toAttribute
      }
      e.exprId -> cast(v, e.dataType)
    }.toMap ++ dr.toSeq.flatMap(_.windowExpressions.map(_.exprId -> rank.toAttribute))
    Project(out.map(a => defs.get(a.exprId).map(Alias(_, a.name)(a.exprId, a.qualifier)).getOrElse(a)),
      Join(base, cells, Inner, Some(on.reduce(And)), JoinHint.NONE))
  }
}

/** The `__graft_groups()` ORDER BY marker [[GroupsFrameParser]] writes.
  * Foldable, so window extraction keeps it inline; never evaluated —
  * [[GroupsFrames]] removes it and [[GroupsFrames.checkNoMarker]]
  * rejects one it could not place. */
case class GroupsMarker() extends LeafExpression {
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def prettyName: String = GroupsFrames.MarkerName
  override def eval(input: InternalRow): Any = throw GroupsFrames.stray
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    throw GroupsFrames.stray
}

/** Delegating [[ParserInterface]] that applies [[GroupsFrames.markFrames]]
  * to statement text before the real parser sees it. Injected by
  * [[graft.GraftExtensions]]; a statement without a GROUPS frame costs
  * one precompiled regex probe and reaches the delegate unchanged. */
class GroupsFrameParser(delegate: ParserInterface) extends ParserInterface {
  private def rw(sqlText: String): String = GroupsFrames.markFrames(sqlText)

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(rw(sqlText))
  override def parsePlanWithParameters(
      sqlText: String, ctx: ParameterContext): LogicalPlan =
    delegate.parsePlanWithParameters(rw(sqlText), ctx)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(rw(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
