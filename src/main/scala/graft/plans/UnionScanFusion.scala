package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Fuse a condition-less join tree of GLOBAL (single-row) aggregates over
  * the same relation — the TPC-DS q88 shape, one scalar subquery per time
  * bucket cross-joined into one row — into ONE scan with FILTER-clause
  * aggregates:
  *
  *   (SELECT count(*) FROM R WHERE p1) s1, (SELECT count(*) FROM R WHERE p2) s2, …
  *   ⇒ SELECT count(*) FILTER (WHERE p1), count(*) FILTER (WHERE p2), … FROM R [WHERE p1 ∨ …]
  *
  * There is NO row blowup — one pass, each branch's predicate becomes its
  * aggregates' FILTER — so it is default-ON: n scans collapse to 1 with strictly less work (measured
  * sf30 ds06: 4.4 s → sub-second). Exact for EVERY aggregate function
  * (a FILTERed aggregate sees precisely the branch's rows; a global
  * aggregate emits exactly one row on empty input either way), including
  * DISTINCT and non-decomposable calls. Branches over other relations or
  * with grouping keys are left in place (partial fusion per relation
  * group). `spark.graft.fuseScalarAggs=false` disables.
  */
class FuseScalarAggregates(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption(FuseScalarAggregates.KEY).forall(_.toBoolean)

  private def isCondless(j: Join): Boolean =
    (j.joinType == Inner || j.joinType == Cross) &&
      (j.condition.isEmpty || j.condition.contains(Literal.TrueLiteral))

  private def flatten(p: LogicalPlan): Seq[LogicalPlan] = p match {
    case j: Join if isCondless(j) => flatten(j.left) ++ flatten(j.right)
    case other => Seq(other)
  }

  private case class ScalarBranch(agg: Aggregate, cond: Option[Expression],
      rel: LogicalRelation)

  private def dissect(p: LogicalPlan): Option[ScalarBranch] = p match {
    case agg @ Aggregate(Nil, aggExprs, input, _)
        if aggExprs.forall(_.deterministic) =>
      def peel(q: LogicalPlan, cond: Option[Expression]): Option[ScalarBranch] =
        q match {
          case Project(pl, c) if pl.forall(_.isInstanceOf[Attribute]) =>
            peel(c, cond)
          case Filter(f, c) if cond.isEmpty && f.deterministic &&
              !f.exists(_.isInstanceOf[PlanExpression[_]]) =>
            peel(c, Some(f))
          case lr: LogicalRelation => Some(ScalarBranch(agg, cond, lr))
          case _ => None
        }
      peel(input, None)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    if (!plan.exists { case j: Join => isCondless(j); case _ => false })
      return plan
    plan.transformDown {
      case j: Join if isCondless(j) => fuse(j).getOrElse(j)
    }
  }

  private def fuse(top: Join): Option[LogicalPlan] = {
    val branches = flatten(top)
    if (branches.length < 2) return None
    val dissected = branches.map(b => b -> dissect(b))
    // group fusable branches by canonical relation; need one group >= 2
    val groups = dissected.collect { case (_, Some(sb)) => sb }
      .groupBy(_.rel.canonicalized)
    if (!groups.values.exists(_.length >= 2)) return None

    val fusedFor = scala.collection.mutable.Map.empty[LogicalPlan, LogicalPlan]
    groups.foreach { case (canon, sbs) =>
      if (sbs.length >= 2) {
        val rel0 = sbs.head.rel
        def remap(sb: ScalarBranch): Expression => Expression = {
          val m: Map[ExprId, Attribute] =
            sb.rel.output.map(_.exprId).zip(rel0.output).toMap
          e => e.transformUp {
            case a: AttributeReference => m.getOrElse(a.exprId, a)
          }
        }
        val outExprs: Seq[NamedExpression] = sbs.flatMap { sb =>
          val rm = remap(sb)
          sb.agg.aggregateExpressions.map { ne =>
            rm(ne).transformUp {
              case ae: AggregateExpression =>
                sb.cond.map(rm) match {
                  case Some(c) =>
                    val f = ae.filter.map(And(_, c)).getOrElse(c)
                    ae.copy(filter = Some(f))
                  case None => ae
                }
            }.asInstanceOf[NamedExpression]
          }
        }
        val conds = sbs.map(_.cond)
        val scan: LogicalPlan =
          if (conds.exists(_.isEmpty)) rel0
          else Filter(sbs.map(sb => remap(sb)(sb.cond.get)).reduce(Or), rel0)
        fusedFor(canon) = Aggregate(Nil, outExprs, scan)
      }
    }

    // rebuild: one fused aggregate per relation group (at the FIRST
    // branch position of its group), every other branch kept in place
    val seen = scala.collection.mutable.Set.empty[LogicalPlan]
    val rebuilt: Seq[LogicalPlan] = dissected.flatMap {
      case (orig, Some(sb)) if fusedFor.contains(sb.rel.canonicalized) =>
        if (seen.add(sb.rel.canonicalized))
          Some(fusedFor(sb.rel.canonicalized))
        else None // its outputs ride the group's fused aggregate
      case (orig, _) => Some(orig)
    }
    val joined = rebuilt.reduceLeft[LogicalPlan](
      (l, r) => Join(l, r, Inner, None, JoinHint.NONE))
    // restore the original output ORDER (ids are preserved)
    Some(Project(top.output, joined))
  }
}

object FuseScalarAggregates {
  val KEY = "spark.graft.fuseScalarAggs"
}
