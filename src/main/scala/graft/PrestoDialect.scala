package graft

import java.util.Locale

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{ResolveInlineTables, UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving, UnresolvedInlineTable, UnresolvedOrdinal, UnresolvedStar, UnresolvedStarExceptOrReplace}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern._
import org.apache.spark.sql.types._

import graft.functions.{IpAddr, TimeToTtz, Tstz, Ttz, TtzSubtract, TtzToTime, TtzToTimestamp}

/** The Presto dialect rules, run INSIDE Spark's analyzer — the work
  * Presto's StatementAnalyzer + ExpressionAnalyzer do in their one analysis
  * pass (SURVEY §3 step 4). Each rule matches only a shape Spark's analyzer
  * rejects and rewrites it to the Presto semantics; since every rule sees
  * the same plan in the same analysis, fixes compose (an unordered
  * `row_number()` and a `WHERE NULL` in one query both get fixed).
  *
  * Two injection points:
  *  - parse-level rules run in the analyzer's "Hints" batch, on the
  *    unresolved plan before the Resolution batch: Spark rejects these
  *    shapes INSIDE Resolution (ResolveWindowOrder, ResolveReferences'
  *    star/ordinal check, ResolveFunctions binding a compat aggregate),
  *    before any rule appended to that batch gets to run;
  *  - type-dependent rules are appended to the Resolution fixed point. They
  *    fire once the offending node's children are resolved and its own
  *    input types fail the check CheckAnalysis would report, and the
  *    operators above the repaired node resolve in the next iterations.
  *    (The post-hoc batch runs once after the fixed point, so operators
  *    above a node repaired there would stay unresolved.)
  *
  * Installed by `Engine` on its isolated session and by `GraftExtensions`
  * on every session of a Presto-dialect cluster — never by
  * `GraftPlannerExtensions`, whose sessions keep Spark's dialect. */
object PrestoDialect {

  private val parseLevelRules: Seq[Rule[LogicalPlan]] = Seq(
    DecorrelateSubqueries, ArbitraryWindowOrder, WindowAggregateHoist,
    StarBeforeOrdinals, SortSourceToAlias, SortGroupingHoist, HoldInlineTables)

  private val resolutionRules: Seq[Rule[LogicalPlan]] = Seq(
    NullFilterAsBoolean, InlineTableAsUnion, StarOrdinalsRestore,
    WindowInOrderBy, GroupingAsZero, TypeMismatchFixes)

  def install(ext: SparkSessionExtensions): Unit = {
    parseLevelRules.foreach(r => ext.injectHintResolutionRule(_ => r))
    resolutionRules.foreach(r => ext.injectResolutionRule(_ => r))
  }

  private def fnName(f: UnresolvedFunction): String =
    f.nameParts.last.toLowerCase(Locale.ROOT)

  /** The lower-cased names a parsed select list outputs. */
  private def outputNames(list: Seq[Expression]): Set[String] = list.collect {
    case a: Alias => a.name.toLowerCase(Locale.ROOT)
    case u: UnresolvedAttribute => u.nameParts.last.toLowerCase(Locale.ROOT)
  }.toSet

  private def isGroupingCall(e: Expression): Boolean = e match {
    case f: UnresolvedFunction => Set("grouping", "grouping_id")(fnName(f))
    case _ => false
  }

  /** A parsed GROUP BY GROUPING SETS / CUBE / ROLLUP aggregate, under an
    * optional HAVING. Spark resolves a sort key against such an aggregate's
    * INPUT through its Expand, where every grouping column appears twice
    * (the source column and its nulled copy) — so a source name the select
    * list does not output is ambiguous to Spark, where Presto resolves it
    * against the source scope. */
  private object GroupingSetsAggregate {
    def unapply(p: LogicalPlan): Option[Aggregate] = p match {
      case UnresolvedHaving(_, a: Aggregate) => unapply(a)
      case a: Aggregate if a.groupingExpressions.exists(_.isInstanceOf[BaseGroupingSets]) =>
        Some(a)
      case _ => None
    }
  }

  // ---------------------------------------------------------------------
  // Parse-level rules (the analyzer's Hints batch)
  // ---------------------------------------------------------------------

  /** Subquery shapes Presto plans from any expression context but Spark's
    * analyzer refuses, plus Presto's star expansion over USING joins — see
    * graft.Decorrelate. Both rewrite the PARSED plan (the join-condition
    * case would otherwise surface from the optimizer, after analysis). */
  object DecorrelateSubqueries extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = {
      val p =
        if (!plan.containsPattern(NATURAL_LIKE_JOIN)) plan
        else Decorrelate.usingStarExcept(plan).getOrElse(plan)
      if (p.containsPattern(PLAN_EXPRESSION)) Decorrelate(p) else p
    }
  }

  /** Presto's WindowOperator/RowNumberOperator run ranking functions over
    * UNORDERED windows (`row_number() OVER (PARTITION BY a)` — arbitrary
    * order, MAIN/operator/RowNumberOperator.java); Spark's
    * ResolveWindowOrder insists on an ORDER BY. Those windows get a
    * constant sort (SortOrder(1) — every row equal, i.e. arbitrary order,
    * no extra exchange). Aggregate windows are left alone — adding an order
    * would silently shrink their default frame to RANGE ... CURRENT ROW. */
  object ArbitraryWindowOrder extends Rule[LogicalPlan] {
    private val needsOrder = Set("row_number", "rank", "dense_rank",
      "percent_rank", "cume_dist", "ntile", "lag", "lead")
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveExpressionsWithPruning(_.containsPattern(WINDOW_EXPRESSION)) {
        case WindowExpression(f: UnresolvedFunction, spec: WindowSpecDefinition)
            if spec.orderSpec.isEmpty && needsOrder(fnName(f)) =>
          WindowExpression(f,
            spec.copy(orderSpec = Seq(SortOrder(Literal(1), Ascending))))
      }
  }

  /** Presto runs map_agg / multimap_agg / geometric_mean as window
    * functions (MAIN/operator/WindowOperator + the aggregate-function
    * window adapters); the compat builders wrap a Spark aggregate in a
    * scalar expression (MapFromEntries / Exp), which cannot sit inside a
    * WindowExpression — Spark reads the inner aggregate as a grouping
    * aggregate. The scalar wrapper moves ABOVE the window, leaving a plain
    * collect_list / avg window aggregate inside. */
  object WindowAggregateHoist extends Rule[LogicalPlan] {
    private def fn(name: String, args: Seq[Expression]) =
      UnresolvedFunction(Seq(name), args, isDistinct = false)
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveExpressionsWithPruning(_.containsPattern(WINDOW_EXPRESSION)) {
        case we @ WindowExpression(f: UnresolvedFunction, spec) =>
          fnName(f) match {
            case "map_agg" =>
              fn("map_from_entries", Seq(WindowExpression(
                fn("collect_list", Seq(CreateStruct(f.arguments))), spec)))
            case "multimap_agg" =>
              fn("multimap_from_entries", Seq(WindowExpression(
                fn("collect_list", Seq(CreateStruct(f.arguments))), spec)))
            case "geometric_mean" =>
              fn("exp", Seq(WindowExpression(
                fn("avg", Seq(fn("ln", f.arguments))), spec)))
            case _ => we
          }
      }
  }

  /** A GROUP BY ordinal parked until the select list's star has expanded. */
  private case class StarGroupOrdinal(ordinal: Int)
      extends LeafExpression with Unevaluable {
    override lazy val resolved: Boolean = false
    override def dataType: DataType = NullType
    override def nullable: Boolean = true
  }

  /** Presto expands `SELECT *, rank() OVER (...) ... GROUP BY 1` by
    * resolving the star BEFORE the ordinals
    * (AbstractTestQueries.java:3813 testWindowFunctionWithGroupBy); Spark
    * rejects the pair outright (STAR_GROUP_BY_POS). The ordinals are parked
    * until ResolveReferences has expanded the star, then restored
    * ([[StarOrdinalsRestore]]) and resolved against the expanded list —
    * so Spark's own aggregate check applies: every star column the ordinals
    * leave ungrouped fails analysis, as Presto's
    * MUST_BE_AGGREGATE_OR_GROUP_BY does. */
  object StarBeforeOrdinals extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsWithPruning(_.containsPattern(UNRESOLVED_ORDINAL)) {
        case a: Aggregate
            if a.aggregateExpressions.exists(_.isInstanceOf[UnresolvedStar]) &&
              a.groupingExpressions.nonEmpty &&
              a.groupingExpressions.forall(_.isInstanceOf[UnresolvedOrdinal]) =>
          a.copy(groupingExpressions = a.groupingExpressions.map {
            case o: UnresolvedOrdinal => StarGroupOrdinal(o.ordinal)
          })
      }
  }

  /** Presto resolves ORDER BY expressions against the output scope first,
    * then the SOURCE scope (AbstractTestQueries
    * testOrderByWithOutputColumnReference: `SELECT a AS foo ... GROUP BY
    * GROUPING SETS ((a), (a, b)) ORDER BY -a`). Over a grouping-sets
    * aggregate Spark finds the source name ambiguous
    * ([[GroupingSetsAggregate]]); when the select list renames that source
    * column (`a AS foo`), the alias denotes exactly the column, so the sort
    * key takes the alias. grouping()/grouping_id() arguments stay source
    * columns ([[SortGroupingHoist]] handles those). */
  object SortSourceToAlias extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsWithPruning(_.containsPattern(SORT)) {
        case s @ Sort(order, _, child @ GroupingSetsAggregate(agg), _) =>
          val outNames = outputNames(agg.aggregateExpressions)
          val aliasOf = agg.aggregateExpressions.collect {
            case a @ Alias(u: UnresolvedAttribute, _)
                if u.nameParts.length == 1 &&
                  !outNames(u.nameParts.head.toLowerCase(Locale.ROOT)) =>
              u.nameParts.head.toLowerCase(Locale.ROOT) -> a.name
          }.toMap
          def rename(e: Expression): Expression = e match {
            case f: UnresolvedFunction if isGroupingCall(f) => f
            case u: UnresolvedAttribute if u.nameParts.length == 1 =>
              aliasOf.get(u.nameParts.head.toLowerCase(Locale.ROOT))
                .map(n => UnresolvedAttribute(Seq(n))).getOrElse(u)
            case other => other.mapChildren(rename)
          }
          if (aliasOf.isEmpty) s
          else s.copy(order = order.map(o => rename(o).asInstanceOf[SortOrder]))
      }
  }

  /** `ORDER BY grouping(b)` where the select list renames the grouping
    * column away (AbstractTestQueries :1213 — `SELECT a, b AS t, ... GROUP
    * BY GROUPING SETS ((a),(b)) ORDER BY grouping(b)`): Presto resolves
    * grouping() in ORDER BY against the source scope
    * (GroupingOperationRewriter), where Spark finds `b` ambiguous
    * ([[GroupingSetsAggregate]]). Each grouping-bearing sort expression
    * moves INTO the aggregate's select list under a hidden alias (that
    * scope sees the source columns), the sort uses the alias, and a
    * projection drops the helpers. */
  object SortGroupingHoist extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsUpWithPruning(_.containsPattern(SORT)) {
        case s @ Sort(order, global, child @ GroupingSetsAggregate(agg), _)
            if order.exists(o => needsSourceScope(o.child, agg)) =>
          val helpers = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
          val newOrder = order.map { o =>
            if (o.child.exists(isGroupingCall)) {
              val nm = s"__graft_gord_${helpers.size}"
              helpers += Alias(o.child, nm)()
              o.copy(child = UnresolvedAttribute(Seq(nm)))
            } else o
          }
          val widened = agg.copy(
            aggregateExpressions = agg.aggregateExpressions ++ helpers)
          Project(
            Seq(UnresolvedStarExceptOrReplace(None,
              helpers.map(h => Seq(h.name)).toSeq, None)),
            Sort(newOrder, global, child match {
              case h: UnresolvedHaving => h.copy(child = widened)
              case _ => widened
            }))
      }

    /** A grouping() argument names a column the select list does not
      * output. */
    private def needsSourceScope(e: Expression, agg: Aggregate): Boolean = {
      val outNames = outputNames(agg.aggregateExpressions)
      e.exists {
        case f: UnresolvedFunction if isGroupingCall(f) =>
          f.arguments.exists {
            case u: UnresolvedAttribute =>
              !outNames(u.nameParts.last.toLowerCase(Locale.ROOT))
            case _ => false
          }
        case _ => false
      }
    }
  }

  /** A parsed inline table held back from ResolveInlineTables until
    * [[InlineTableAsUnion]] has seen its resolved rows. */
  private case class PendingInlineTable(names: Seq[String], rows: Seq[Seq[Expression]])
      extends LeafNode {
    override lazy val resolved: Boolean = false
    override def output: Seq[Attribute] = Nil
  }

  /** The first half of [[InlineTableAsUnion]]: VALUES tables whose rows
    * call functions wait for their rows to resolve. */
  object HoldInlineTables extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsWithPruning(_.containsPattern(UNRESOLVED_FUNCTION)) {
        case UnresolvedInlineTable(names, rows)
            if rows.exists(_.exists(_.containsPattern(UNRESOLVED_FUNCTION))) =>
          PendingInlineTable(names, rows)
      }
  }

  // ---------------------------------------------------------------------
  // Resolution rules (appended to the analyzer's Resolution fixed point)
  // ---------------------------------------------------------------------

  /** Presto evaluates an untyped NULL predicate as UNKNOWN (no rows) —
    * `WHERE NULL` is legal (AbstractTestAggregations testCountWithNull
    * Predicate); Spark rejects the VOID filter (FILTER_NOT_BOOLEAN). The
    * null predicate is cast to BOOLEAN. */
  object NullFilterAsBoolean extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsWithPruning(_.containsAllPatterns(FILTER, NULL_LITERAL)) {
        case Filter(l @ Literal(null, NullType), child) =>
          Filter(Cast(l, BooleanType), child)
      }
  }

  /** Presto VALUES rows may hold any expression; Spark's inline tables
    * accept only rows it can evaluate at analysis time (ResolveInlineTables:
    * every expression foldable, current_date()-like ones excepted), so a
    * lambda, rand() or a UDF in a row fails INVALID_INLINE_TABLE. Spark
    * judges a table as soon as its rows resolve — before any rule appended
    * to the Resolution batch runs — so a table whose rows call functions is
    * held back as a [[PendingInlineTable]]. Once its rows are resolved,
    * Spark's ResolveInlineTables evaluates it when every row passes Spark's
    * check, and it is lowered to a UNION ALL of one-row projections
    * otherwise — same rows, same cross-branch type coercion. */
  object InlineTableAsUnion extends Rule[LogicalPlan] {
    private def evaluable(e: Expression): Boolean =
      e.containsPattern(CURRENT_LIKE) ||
        (ResolveInlineTables.prepareForEval(e) match {
          case a: Alias => a.child.foldable
          case other => other.foldable
        })
    def apply(plan: LogicalPlan): LogicalPlan =
      if (plan.resolved) plan
      else plan.resolveOperatorsUp {
        case t @ PendingInlineTable(names, rows) if t.expressions.forall(_.resolved) =>
          if (rows.forall(_.forall(evaluable)))
            ResolveInlineTables(UnresolvedInlineTable(names, rows))
          else rows.map { r =>
            Project(r.zip(names).map { case (e, nm) => Alias(e, nm)() },
              OneRowRelation()): LogicalPlan
          }.reduce(Union(_, _))
      }
  }

  /** The second half of [[StarBeforeOrdinals]]: once the star has
    * expanded, the parked ordinals become ordinary GROUP BY ordinals. */
  object StarOrdinalsRestore extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsWithPruning(_.containsPattern(AGGREGATE)) {
        case a: Aggregate
            if a.groupingExpressions.exists(_.isInstanceOf[StarGroupOrdinal]) &&
              !a.aggregateExpressions.exists(_.isInstanceOf[UnresolvedStar]) =>
          a.copy(groupingExpressions = a.groupingExpressions.map {
            case StarGroupOrdinal(i) => UnresolvedOrdinal(i)
            case other => other
          })
      }
  }

  /** Presto permits window functions in ORDER BY
    * (AbstractTestQueries testOrderByWithOutputColumnReference —
    * `ORDER BY -row_number() OVER ()`); Spark's CheckAnalysis rejects
    * window expressions outside Project/Aggregate
    * (UNSUPPORTED_EXPR_FOR_OPERATOR on the Sort). Each Sort-embedded window
    * expression moves into a Window node below the sort (one node per
    * distinct window spec — the grouping ExtractWindowExpressions does for
    * SELECT-level windows), the sort uses the hoisted attribute, and a
    * projection restores the original output. */
  object WindowInOrderBy extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsWithPruning(_.containsAllPatterns(SORT, WINDOW_EXPRESSION)) {
        case Sort(order, global, child, hint)
            if child.resolved && order.forall(_.resolved) &&
              order.exists(_.containsPattern(WINDOW_EXPRESSION)) =>
          val winExprs = order.flatMap(_.collect { case w: WindowExpression => w })
            .foldLeft(Seq.empty[WindowExpression])((acc, w) =>
              if (acc.exists(_.semanticEquals(w))) acc else acc :+ w)
          val aliases = winExprs.zipWithIndex.map { case (w, i) =>
            w -> Alias(w, s"__graft_ord_$i")()
          }
          val bySpec = aliases.groupBy { case (w, _) =>
            (w.windowSpec.partitionSpec, w.windowSpec.orderSpec)
          }
          val withWindows = bySpec.foldLeft(child) {
            case (p, ((part, ord), as)) => Window(as.map(_._2), part, ord, p)
          }
          val newOrder = order.map(_.transform {
            case w: WindowExpression =>
              aliases.find(_._1.semanticEquals(w)).get._2.toAttribute
          }.asInstanceOf[SortOrder])
          Project(child.output, Sort(newOrder, global, withWindows, hint))
      }
  }

  /** Presto allows grouping(...) over a PLAIN GROUP BY — every flag is 0
    * (GroupingOperationRewriter: without grouping sets the arguments are
    * always grouped); Spark rejects grouping()/grouping_id() outside
    * grouping sets (UNSUPPORTED_GROUPING_EXPRESSION). Grouping-set
    * aggregates have their grouping() calls rewritten to gid bits by
    * ResolveGroupingAnalytics, so the ones left in an aggregate with
    * resolved grouping keys are exactly the plain-GROUP-BY ones. Presto's
    * precondition stays: an argument that is not a grouping key is left in
    * place, and Spark's error reports it. */
  object GroupingAsZero extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsWithPruning(_.containsPattern(AGGREGATE)) {
        case a: Aggregate if a.groupingExpressions.forall(_.resolved) =>
          def isKey(e: Expression): Boolean =
            e.resolved && a.groupingExpressions.exists(_.semanticEquals(e))
          a.transformExpressions {
            case g: Grouping if isKey(g.child) => Cast(Literal(0), g.dataType)
            case g: GroupingID if g.groupByExprs.forall(isKey) =>
              Cast(Literal(0), g.dataType)
          }
      }
  }

  /** Presto compares MAPs with `=`/`!=`/IN (MapOperators.java equals — key
    * multisets match and every key's values are equal); Spark rejects maps
    * as unorderable (INVALID_ORDERING_TYPE). Map equalities become
    * size + sorted-keys + per-key-value comparisons. 3VL: a NULL value
    * comparison propagates through AND like the reference's indeterminate
    * entries. `m IN (VALUES ...)` (PrestoSql.inValues' spelling) is an
    * IN-subquery over a one-column inline table: it expands to the
    * OR-chain of equalities, 3VL-identical to IN. */
  private object MapEquality {
    private def isMap(e: Expression): Boolean =
      e.resolved && e.dataType.isInstanceOf[MapType]

    private def mapEq(l: Expression, r: Expression): Expression = {
      val k = UnresolvedNamedLambdaVariable(Seq("meq_k"))
      And(And(
        EqualTo(Size(l), Size(r)),
        EqualTo(SortArray(MapKeys(l), Literal(true)),
          SortArray(MapKeys(r), Literal(true)))),
        ArrayForAll(MapKeys(l),
          LambdaFunction(EqualTo(GetMapValue(l, k), GetMapValue(r, k)), Seq(k))))
    }

    private def anyOf(l: Expression, values: Seq[Expression]): Expression =
      values.map(v => mapEq(l, v)).reduceLeft[Expression](Or(_, _))

    /** The rows of a one-column VALUES list, through the star projection
      * and alias PrestoSql.inValues wraps it in. */
    private def valuesRows(p: LogicalPlan): Option[Seq[Expression]] = p match {
      case Project(list, child) if list == child.output => valuesRows(child)
      case s: SubqueryAlias => valuesRows(s.child)
      case LocalRelation(Seq(a), data, _, _) =>
        Some(data.map(r => Literal(r.get(0, a.dataType), a.dataType)))
      case _ => None
    }

    val fix: PartialFunction[Expression, Expression] = {
      case EqualTo(l, r) if isMap(l) && isMap(r) => mapEq(l, r)
      case In(v, list) if isMap(v) && list.forall(_.resolved) => anyOf(v, list)
      case InSubquery(Seq(v), q: ListQuery)
          if isMap(v) && q.plan.resolved && valuesRows(q.plan).isDefined =>
        anyOf(v, valuesRows(q.plan).get)
    }
  }

  /** Presto CAST(timestamp AS TIME) keeps the wall-clock time of day
    * (DateTimeOperators.castToTime); Spark 4.1's TIME type has no cast
    * from either timestamp type. The cast goes through the formatted time
    * of day. A TIMESTAMP_NTZ (the fixture timestamp columns) is already a
    * wall clock: it formats through UTC on both legs, so no zone can
    * shift it. */
  private object CastTimestampToTime {
    private val fmt = Literal("HH:mm:ss.SSSSSS")
    private val utc = Some("UTC")
    val fix: PartialFunction[Expression, Expression] = {
      case Cast(ch, t: TimeType, tz, ev) if ch.dataType == TimestampType =>
        Cast(DateFormatClass(ch, fmt), t, tz, ev)
      case Cast(ch, t: TimeType, tz, ev) if ch.dataType == TimestampNTZType =>
        Cast(DateFormatClass(Cast(ch, TimestampType, utc), fmt, utc), t, tz, ev)
    }
  }

  /** Presto ROW values compare POSITIONALLY (RowType equality ignores
    * field names); Spark's array_contains demands identical struct types,
    * so `contains(array_agg(ROW(a, b)), ROW(1, 2))` fails on the field
    * names alone (ARRAY_FUNCTION_DIFF_TYPES). The needle is cast to the
    * array's element type when the shapes are positionally compatible. */
  private object StructPositionalContains {
    val fix: PartialFunction[Expression, Expression] = {
      case ArrayContains(arr, elem) if ((arr.dataType, elem.dataType) match {
            case (ArrayType(et: StructType, _), nt: StructType) => et.length == nt.length
            case _ => false
          }) =>
        ArrayContains(arr, Cast(elem, arr.dataType.asInstanceOf[ArrayType].elementType))
    }
  }

  /** Zone-carrying values (functions/Tstz.scala struct representation of
    * TIMESTAMP WITH TIME ZONE, functions/Ttz.scala for TIME WITH TIME ZONE,
    * functions/IpAddress.scala) flowing into expressions that only accept
    * the plain types: the reference dispatches *FromTimestampWithTimeZone
    * overloads (DateTimeFunctions.java) — field extractors read the WALL
    * time in the value's zone; casts to timestamp/date take the
    * instant/wall view. */
  private object TstzMismatch {
    private def isT(e: Expression): Boolean = e.resolved && Tstz.isTstz(e.dataType)
    private def isTt(e: Expression): Boolean = e.resolved && Ttz.isTtz(e.dataType)

    /** date_add/date_diff units that shift the INSTANT of a tstz; calendar
      * units (day and up) operate on the wall time in the value's zone. */
    private val instantShiftUnits =
      Set("MICROSECOND", "MILLISECOND", "SECOND", "MINUTE", "HOUR")

    private def wallWrap(e: Expression): Expression =
      e.withNewChildren(e.children.map(c =>
        if (isT(c)) Tstz.wall(c) else if (isTt(c)) TtzToTimestamp(c) else c))

    val fix: PartialFunction[Expression, Expression] = {
      // ── IPADDRESS (functions/IpAddress.scala) ── struct-tagged ip →
      // varbinary is the raw 16 bytes
      case Cast(child, BinaryType, _, _) if IpAddr.isIp(child.dataType) =>
        IpAddr.bytes(child)
      // ── TIME WITH TIME ZONE (functions/Ttz.scala) ──
      // ttz − ttz → interval day-time on millisUtc
      case Subtract(l, r, _) if isTt(l) && isTt(r) => TtzSubtract(l, r)
      // casts to time / timestamp take the WALL clock in the value's zone
      case Cast(child, _: TimeType, _, _) if isTt(child) => TtzToTime(child)
      case Cast(child, TimestampType, _, _) if isTt(child) => TtzToTimestamp(child)
      // ttz vs plain TIME comparison: the zone-less side coerces at the
      // session zone, both compare on millisUtc (TimeWithTimeZoneOperators)
      case cmp: BinaryComparison if isTt(cmp.left) || isTt(cmp.right) =>
        def side(e: Expression): Expression =
          if (isTt(e)) Ttz.millis(e)
          else e.dataType match {
            case _: TimeType => Ttz.millis(TimeToTtz(e))
            case _ => e
          }
        cmp.withNewChildren(Seq(side(cmp.left), side(cmp.right)))
      // ── TIMESTAMP WITH TIME ZONE (functions/Tstz.scala) ──
      case Cast(child, TimestampType, _, _) if isT(child) => Tstz.instant(child)
      case Cast(child, DateType, tz, ev) if isT(child) =>
        Cast(Tstz.wall(child), DateType, tz, ev)
      // tstz vs zone-less timestamp comparison: instants
      case cmp: BinaryComparison if isT(cmp.left) || isT(cmp.right) =>
        cmp.withNewChildren(Seq(
          if (isT(cmp.left)) Tstz.instant(cmp.left) else cmp.left,
          if (isT(cmp.right)) Tstz.instant(cmp.right) else cmp.right))
      // date_trunc keeps the TYPE: truncate the wall time in the value's
      // zone, reinterpret there, keep the zone (the reference's
      // truncateTimestampWithTimeZone returns timestamp with time zone).
      // UTC-pinned round trip (TruncTimestamp is not NTZ-native — an NTZ
      // input would coerce back through the session zone's wall clock,
      // the DST-gap bug this avoids)
      case TruncTimestamp(fmt, ts, _) if isT(ts) =>
        val z = Tstz.zone(ts)
        Tstz.make(
          ToUTCTimestamp(
            TruncTimestamp(fmt, Tstz.utcWall(Tstz.instant(ts), z), Some("UTC")),
            z),
          z)
      // date_add keeps the TYPE and the zone (the reference's
      // addFieldValueTimestampWithTimeZone — MAIN/scalar/
      // DateTimeFunctions.java): time units shift the INSTANT; calendar
      // units (day and up) add on the WALL time in the value's zone
      // (DST-aware), then reinterpret there
      case ta: TimestampAdd if isT(ta.timestamp) =>
        val z = Tstz.zone(ta.timestamp)
        if (instantShiftUnits(ta.unit.toUpperCase(Locale.ROOT)))
          Tstz.make(ta.copy(timestamp = Tstz.instant(ta.timestamp)), z)
        else
          Tstz.make(
            Tstz.unwall(ta.copy(timestamp = Tstz.wall(ta.timestamp)), z), z)
      // date_diff over tstz: time units diff instants; calendar units
      // count in the first tstz operand's zone calendar (the reference
      // diffs through getChronology(leftZoneKey))
      case td: TimestampDiff
          if isT(td.startTimestamp) || isT(td.endTimestamp) =>
        if (instantShiftUnits(td.unit.toUpperCase(Locale.ROOT)))
          td.copy(
            startTimestamp =
              if (isT(td.startTimestamp)) Tstz.instant(td.startTimestamp)
              else td.startTimestamp,
            endTimestamp =
              if (isT(td.endTimestamp)) Tstz.instant(td.endTimestamp)
              else td.endTimestamp)
        else {
          val z =
            if (isT(td.startTimestamp)) Tstz.zone(td.startTimestamp)
            else Tstz.zone(td.endTimestamp)
          def wallIn(e: Expression): Expression =
            if (isT(e)) Tstz.wall(e) else Tstz.wallAt(e, z)
          td.copy(startTimestamp = wallIn(td.startTimestamp),
            endTimestamp = wallIn(td.endTimestamp))
        }
      // date_format over tstz: format the UTC-rendered value-zone wall with
      // the formatter PINNED to UTC (DateFormatClass is not NTZ-native)
      case DateFormatClass(ts, fmt, _) if isT(ts) =>
        DateFormatClass(
          Tstz.utcWall(Tstz.instant(ts), Tstz.zone(ts)), fmt, Some("UTC"))
      // field extractors / formatters: the wall-time view in the value's
      // zone (whitelist — conditional/struct expressions must NOT unwrap).
      // The tstz wall view is a TIMESTAMP_NTZ: hour/minute/second are
      // NTZ-native, the date-field family casts NTZ→DATE zone-free.
      case e @ (_: Hour | _: Minute | _: Second | _: DayOfMonth |
                _: DayOfWeek | _: WeekDay | _: DayOfYear | _: Month |
                _: Year | _: Quarter | _: WeekOfYear |
                _: DateFormatClass | _: MonthName | _: DayName)
          if e.children.exists(c => isT(c) || isTt(c)) =>
        wallWrap(e)
      // epoch is zone-independent: the instant view
      case e: UnixTimestamp if e.children.exists(isT) =>
        e.withNewChildren(e.children.map(c => if (isT(c)) Tstz.instant(c) else c))
    }
  }

  /** The type-dependent fixes, in one pass: each fires on a node whose
    * children are resolved but whose input types Spark rejects
    * (DATATYPE_MISMATCH). Such a node leaves its operator unresolved, so
    * only unresolved operators are visited and a resolved plan costs one
    * flag check. */
  object TypeMismatchFixes extends Rule[LogicalPlan] {
    private val fix = MapEquality.fix orElse CastTimestampToTime.fix orElse
      StructPositionalContains.fix orElse TstzMismatch.fix
    def apply(plan: LogicalPlan): LogicalPlan =
      if (plan.resolved) plan
      else plan.resolveOperatorsUp {
        case p if !p.expressions.forall(_.resolved) => p.transformExpressionsUp {
          case e if e.childrenResolved && fix.isDefinedAt(e) && !e.resolved &&
              e.checkInputDataTypes().isFailure => fix(e)
        }
      }
  }
}
