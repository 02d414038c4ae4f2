package graft

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar, UnresolvedStarExceptOrReplace}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import scala.util.control.NonFatal

/** Front-end decorrelation for the subquery shapes Presto's planner accepts
  * but Spark's analyzer refuses (reference: presto-main
  * sql/planner/SubqueryPlanner.java:69 — subqueries are planned from ANY
  * expression context via ApplyNode, then
  * optimizations/PlanNodeDecorrelator.java strips the correlation; Spark
  * instead allow-lists the contexts). All rewrites operate on the PARSED
  * (unresolved) plan and preserve semantics exactly, so the analyzer and
  * Catalyst run unchanged afterwards:
  *
  *  - inlineTrivialSubqueries: a subquery with no FROM clause evaluates its
  *    select list over one row, so `EXISTS(SELECT ... WHERE p)` is `p IS
  *    TRUE`, `EXISTS(SELECT ...)` is TRUE, and a no-FROM no-WHERE scalar
  *    `(SELECT e)` is `e` (AbstractTestQueries
  *    testCorrelatedExistsSubqueriesWithPrunedCorrelationSymbols /
  *    ...WithEqualityPredicatesInWhere). This both closes the
  *    Spark-refused contexts and replaces a join against a one-row
  *    relation with a scalar expression.
  *  - collapseStarSubrelation: `(SELECT * FROM (SELECT e...))` →
  *    `(SELECT e...)` inside subquery expressions, so correlation that
  *    crosses a trivial derived table ("subrelation" in the reference
  *    tests) lands in a context Spark decorrelates.
  *  - hoistSortSubqueries: subquery expressions in ORDER BY move into a
  *    hidden projection below the sort (Presto plans ORDER BY from the
  *    projected scope, so this is its own lowering).
  *  - joinCondSubqueryToFilter: an INNER join whose ON predicate holds a
  *    subquery referencing both sides becomes a filter above the join —
  *    identical semantics for inner joins; Spark then plans the EXISTS as
  *    a semi/anti join the same way Presto's ApplyNode does. (LEFT JOIN
  *    stays refused — the reference rejects it too:
  *    "Correlated subquery in given context is not supported".)
  */
object Decorrelate {

  /** Aggregate names whose presence in a no-FROM select list changes row
    * multiplicity (a global aggregate always yields ONE row even when the
    * WHERE clause keeps none) — inlining would be wrong there. */
  private val aggNames = Set(
    "count", "sum", "avg", "min", "max", "arbitrary", "any_value",
    "stddev", "stddev_pop", "stddev_samp", "variance", "var_pop",
    "var_samp", "skewness", "kurtosis", "array_agg", "collect_list",
    "collect_set", "bool_and", "bool_or", "every", "any", "some",
    "approx_distinct", "approx_percentile", "geometric_mean", "checksum",
    "min_by", "max_by", "map_agg", "multimap_agg", "histogram")

  private def hasAgg(e: Expression): Boolean = e.exists {
    case f: UnresolvedFunction =>
      aggNames.contains(f.nameParts.last.toLowerCase) || f.isDistinct
    case _ => false
  }

  private def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[SubqueryExpression])

  /** `p IS TRUE` at the unresolved level (EXISTS over a filtered one-row
    * relation is true iff the predicate evaluates to TRUE, not NULL). */
  private def isTrue(p: Expression): Expression =
    EqualNullSafe(p, Literal(true))

  /** Strip a single-item select list down to its expression. */
  private def itemExpr(ne: Expression): Expression = ne match {
    case Alias(c, _) => c
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAlias => u.child
    case other => other
  }

  /** Inline no-FROM subqueries (select list over OneRowRelation, optional
    * WHERE) wherever they appear as expressions. Applied recursively so a
    * no-FROM subquery inside another subquery's plan inlines too. */
  def inlineTrivialSubqueries(plan: LogicalPlan): LogicalPlan = {
    def tx(p: LogicalPlan): LogicalPlan = p.transformAllExpressions {
      case Exists(Project(_, OneRowRelation()), _, _, _, _) =>
        Literal(true) // one row, filtered by nothing — with or without
        // aggregates in the list (a global aggregate also yields one row)
      case e @ Exists(Project(list, Filter(cond, OneRowRelation())), _, _, _, _) =>
        if (list.exists(hasAgg)) Literal(true) // one row survives any WHERE
        else if (hasSubquery(cond)) e // nested subquery in the predicate:
        // leave for Spark (it may be supported) rather than inline a
        // half-rewritten form
        else isTrue(cond)
      // no-FROM scalar AGGREGATE over an optionally-filtered one-row
      // relation: count(*) counts whether the predicate held; count(x)
      // additionally requires x non-null; min/max of one row is the value
      // (type-preserving — sum/avg retype in Presto, so they stay on the
      // un-inlined path). AbstractTestQueries
      // testCorrelatedScalarSubqueriesWithScalarAggregationAndEquality...
      case ScalarSubquery(p @ Project(list, child), _, _, _, _, _, _)
          if list.size == 1 && {
            val (cond, isOneRow) = child match {
              case OneRowRelation() => (None, true)
              case Filter(c, OneRowRelation()) => (Some(c), true)
              case _ => (None, false)
            }
            isOneRow && !cond.exists(hasSubquery) && !cond.exists(hasAgg) && {
              itemExpr(list.head) match {
                case f: UnresolvedFunction
                    if Set("count", "min", "max")
                      .contains(f.nameParts.last.toLowerCase) &&
                      !f.isDistinct && f.arguments.size == 1 &&
                      !f.arguments.head.exists(_.isInstanceOf[SubqueryExpression]) =>
                  true
                case _ => false
              }
            }
          } =>
        val cond = child match {
          case Filter(c, _) => Some(c)
          case _ => None
        }
        val f = itemExpr(list.head).asInstanceOf[UnresolvedFunction]
        val arg = f.arguments.head
        val held = cond.map(isTrue).getOrElse(Literal(true))
        f.nameParts.last.toLowerCase match {
          case "count" =>
            val counted = arg match {
              case _: UnresolvedStar => held
              case _: Literal => held
              case e => And(held, IsNotNull(e))
            }
            If(counted, Literal(1L), Literal(0L))
          case _ => // min/max of the single row
            If(held, arg, Literal(null))
        }
      case s @ ScalarSubquery(Project(list, OneRowRelation()), _, _, _, _, _, _)
          if list.size == 1 && !hasAgg(list.head) &&
            // nested subqueries inline fine (they just move one scope up —
            // exactly how the doubly-nested "subrelation" tests read);
            // window functions must NOT (one row inside vs per-outer-row)
            !list.head.exists(e => e.isInstanceOf[WindowExpression] ||
              e.isInstanceOf[UnresolvedWindowExpression]) =>
        itemExpr(list.head) // transformDown continues into the replacement,
        // so subqueries nested in it still get their own rewrite pass
      case other: SubqueryExpression =>
        val np = tx(other.plan)
        if (np eq other.plan) other else other.withNewPlan(np)
    }
    tx(plan)
  }

  /** Inside subquery expressions, collapse `SELECT * FROM (SELECT e...)`
    * (a trivial aliased subrelation over a one-row select) to the inner
    * select, so correlation stops crossing the derived-table boundary. */
  def collapseStarSubrelation(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case se: SubqueryExpression =>
        val collapsed = se.plan.transformUp {
          case Project(Seq(st: UnresolvedStar), SubqueryAlias(_,
                inner @ Project(list, OneRowRelation())))
              if st.target.isEmpty && !list.exists(_.isInstanceOf[UnresolvedStar]) =>
            inner
          case Project(Seq(st: UnresolvedStar), SubqueryAlias(_,
                inner @ Project(list, Filter(_, OneRowRelation()))))
              if st.target.isEmpty && !list.exists(_.isInstanceOf[UnresolvedStar]) =>
            inner
        }
        val recursed = collapseStarSubrelation(collapsed)
        if (recursed eq se.plan) se else se.withNewPlan(recursed)
    }

  /** Move subquery expressions out of ORDER BY into a hidden projection:
    * `SELECT <list> FROM R ORDER BY f(subq)` →
    * `SELECT <list> FROM (SELECT <list>, subq AS h FROM R ORDER BY f(h))`.
    * Returns the plan unchanged when no sort carries a subquery or the
    * select list shape is one we cannot re-project by name. */
  def hoistSortSubqueries(plan: LogicalPlan): LogicalPlan = {
    var counter = 0
    plan.transformUp {
      case Sort(order, global, Project(list, child), hint)
          if order.exists(o => hasSubquery(o.child)) =>
        val helpers = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
        val newOrder = order.map { o =>
          if (hasSubquery(o.child)) {
            val nm = s"__graft_ord_$counter"; counter += 1
            helpers += Alias(o.child, nm)()
            o.copy(child = UnresolvedAttribute(Seq(nm)))
          } else o
        }
        // inner select items need NAMES the outer projection can restate;
        // unnamed computed items get Spark's pretty-SQL auto-name where it
        // renders, else a positional fallback (values are what the corpus
        // protocol compares — Presto itself emits _col<i> there)
        val inner: Seq[NamedExpression] = list.zipWithIndex.map {
          case (st: UnresolvedStar, _) => st
          case (a: UnresolvedAttribute, _) => a
          case (al: Alias, _) => al
          case (e, i) =>
            val raw = e match {
              case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAlias => u.child
              case other => other
            }
            val nm =
              try org.apache.spark.sql.catalyst.util.toPrettySQL(raw)
              catch { case NonFatal(_) => s"__graft_prj_$i" }
            Alias(raw, nm)()
        }
        // the outer star ranges over the WIDENED inner projection, so it
        // must except the helpers AND every aliased item (the alias is
        // restated explicitly right after, preserving the original
        // column order); plain attributes stay visible through the star
        // exactly as the original star showed their source columns
        val aliasNames = inner.collect { case al: Alias => Seq(al.name) }
        val outer: Seq[NamedExpression] = inner.map {
          case st: UnresolvedStar if st.target.isEmpty =>
            UnresolvedStarExceptOrReplace(None,
              (helpers.map(h => Seq(h.name)) ++ aliasNames).toSeq, None)
          case st: UnresolvedStar => st // qualified star never matches helpers
          case a: UnresolvedAttribute => a
          case al: Alias => UnresolvedAttribute(Seq(al.name))
        }
        Project(outer,
          Sort(newOrder, global, Project(inner ++ helpers, child), hint))
    }
  }

  /** INNER join with a subquery expression in the ON clause → cross-scope
    * filter above the join (identical result set for inner joins). */
  def joinCondSubqueryToFilter(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case Join(l, r, Inner, Some(cond), hint) if hasSubquery(cond) =>
        Filter(cond, Join(l, r, Inner, None, hint))
    }

  /** Subquery expressions as NON-lambda arguments of a higher-order
    * function: Presto plans them like any other subquery (ApplyNode from
    * any expression context — the ExpressionAnalyzer.java:1044 ban covers
    * only subqueries INSIDE the lambda body), but Spark's
    * ResolveLambdaVariables.checkForSubqueryExpressions rejects subqueries
    * anywhere under a HOF. Hoist each such subquery into a hidden
    * projection below, and reference it by name:
    * `SELECT filter((SELECT array_agg(k) FROM t), x -> p) FROM R` →
    * `SELECT filter(__graft_hof_0, x -> p)
    *    FROM (SELECT *, (SELECT array_agg(k) FROM t) AS __graft_hof_0 FROM R)`.
    * Subqueries inside the lambda body stay put — both engines refuse
    * those, and the untouched form preserves the error. */
  def hoistHofSubqueries(plan: LogicalPlan): LogicalPlan = {
    var counter = 0

    def lambdaOf(f: UnresolvedFunction): Option[Expression] =
      f.arguments.find(_.isInstanceOf[LambdaFunction])

    def hasHofSubquery(e: Expression): Boolean = e.exists {
      case f: UnresolvedFunction =>
        lambdaOf(f).isDefined &&
          f.arguments.exists(a => !a.isInstanceOf[LambdaFunction] &&
            a.exists(_.isInstanceOf[SubqueryExpression]))
      case _ => false
    }

    // replace hoistable subqueries in e; append helper aliases to `helpers`
    def extract(e: Expression,
        helpers: scala.collection.mutable.ArrayBuffer[NamedExpression]): Expression =
      e.transformDown {
        case f: UnresolvedFunction if lambdaOf(f).isDefined =>
          val newArgs = f.arguments.map {
            case l: LambdaFunction => l
            case a if a.exists(_.isInstanceOf[SubqueryExpression]) =>
              a.transformDown {
                case sq: ScalarSubquery =>
                  val nm = s"__graft_hof_$counter"; counter += 1
                  helpers += Alias(sq, nm)()
                  UnresolvedAttribute(Seq(nm))
              }
            case a => a
          }
          f.copy(arguments = newArgs)
      }

    // a bare star does not resolve over a no-FROM (one-row) child; the
    // helper projection needs it only to pass real columns through
    def withHelpers(child: LogicalPlan,
        helpers: Seq[NamedExpression]): LogicalPlan = child match {
      case _: OneRowRelation => Project(helpers, child)
      case _ => Project(Seq(UnresolvedStar(None)) ++ helpers, child)
    }

    plan.transformUp {
      case proj @ Project(list, child) if list.exists(hasHofSubquery) =>
        val helpers = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
        val newList = list.map {
          case e if hasHofSubquery(e) => extract(e, helpers) match {
            case ne: NamedExpression => ne
            case other => Alias(other, s"__graft_hof_prj_${counter}")()
          }
          case e => e
        }
        if (helpers.isEmpty) proj
        else Project(newList.asInstanceOf[Seq[NamedExpression]],
          withHelpers(child, helpers.toSeq))
      case fl @ Filter(cond, child) if hasHofSubquery(cond) =>
        val helpers = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
        val newCond = extract(cond, helpers)
        if (helpers.isEmpty) fl
        else Project(
          Seq(UnresolvedStarExceptOrReplace(None,
            helpers.map(h => Seq(h.name)).toSeq, None)),
          Filter(newCond, withHelpers(child, helpers.toSeq)))
    }
  }

  /** All plan-shape rewrites in dependency order. */
  def apply(plan: LogicalPlan): LogicalPlan = {
    val p1 = inlineTrivialSubqueries(plan)
    val p2 = collapseStarSubrelation(p1)
    val p3 = inlineTrivialSubqueries(p2) // collapse may expose no-FROM forms
    val p4 = hoistSortSubqueries(p3)
    val p5 = hoistHofSubqueries(p4)
    joinCondSubqueryToFilter(p5)
  }

  // ---------------------------------------------------------------------
  // Qualified star over a USING join (StatementAnalyzer.java star
  // expansion: the using columns belong to the JOIN's unqualified scope,
  // so `a.*` excludes them — Spark's expansion includes them).
  // ---------------------------------------------------------------------

  /** Rewrite `q.*` to `q.* EXCEPT (using columns)` for every qualifier
    * that is a DIRECT side of a USING join in the same FROM scope.
    * Returns None when nothing matched. */
  def usingStarExcept(plan: LogicalPlan): Option[LogicalPlan] = {
    var changed = false
    def sideAlias(p: LogicalPlan): Option[String] = p match {
      case SubqueryAlias(id, _) => Some(id.name.toLowerCase)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        Some(u.multipartIdentifier.last.toLowerCase)
      case _ => None
    }
    // alias → using columns, for direct sides of using joins in this FROM
    // scope (SubqueryAlias interiors are separate scopes handled by their
    // own Project when the transform visits them)
    def collect(p: LogicalPlan,
        acc: scala.collection.mutable.Map[String, Seq[String]]): Unit = p match {
      case Join(l, r, ut, _, _) =>
        ut match {
          case org.apache.spark.sql.catalyst.plans.UsingJoin(_, cols) =>
            sideAlias(l).foreach(a => acc(a) = acc.getOrElse(a, Nil) ++ cols)
            sideAlias(r).foreach(a => acc(a) = acc.getOrElse(a, Nil) ++ cols)
          case _ =>
        }
        collect(l, acc); collect(r, acc)
      case Filter(_, c) => collect(c, acc)
      case _ => ()
    }
    val out = plan.transformUp {
      case proj @ Project(list, child)
          if list.exists { case s: UnresolvedStar => s.target.exists(_.size == 1); case _ => false } =>
        val acc = scala.collection.mutable.Map.empty[String, Seq[String]]
        collect(child, acc)
        if (acc.isEmpty) proj
        else Project(list.map {
          case st: UnresolvedStar
              if st.target.exists(t => t.size == 1 && acc.contains(t.head.toLowerCase)) =>
            changed = true
            UnresolvedStarExceptOrReplace(st.target,
              acc(st.target.get.head.toLowerCase).distinct.map(c => Seq(c)), None)
          case other => other
        }, child)
    }
    if (changed) Some(out) else None
  }
}
