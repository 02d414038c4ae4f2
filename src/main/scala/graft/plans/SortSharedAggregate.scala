package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Expression, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, Partial}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Share ONE sort between a high-cardinality aggregate and the window
  * above it (the reference's streaming-aggregation placement:
  * MAIN/operator/StreamingAggregationOperator.java:1 — aggregate over
  * pre-sorted input — planned by
  * MAIN/sql/planner/LocalExecutionPlanner.java:1063 whenever the input's
  * ordering covers the group keys).
  *
  * Target shape (TPC-H Q21 / h21): a `GROUP BY (k1, k2)` whose group
  * count ≈ input count (near-zero reduction) feeding a window
  * `PARTITION BY k1`. Spark plans a hash aggregate (a 59.4 M-entry hash
  * table at the sf30 soak — the query's single largest CPU sink) and
  * then sorts ITS OUTPUT again for the window. Since the window's
  * partition keys are a PREFIX of the group keys, one sort on
  * (partition keys ++ remaining group keys) below the aggregate serves
  * both operators: the aggregate becomes a streaming sort-aggregate (no
  * hash table) and the window's sort disappears (prefix-satisfied).
  *
  * Matched physical shape (post-EnsureRequirements, AQE stage-prep):
  *
  *    `Window(P, ∅) ← Sort(P) ← Exchange(hash P) ← [Project*] ←
  *    HashAgg(Final, G⊇P) ← Exchange(hash G) ← HashAgg(Partial)`
  *    (the broadcast-join shape — two exchanges):
  *    → `Window ← [Project*] ← SortAgg(Complete) ← Sort(P ++ rest) ←
  *    Exchange(hash P) ← <partial's child>`. ONE exchange: hash(P)
  *    co-locates every (P, rest) group (P ⊆ G), so the aggregate's
  *    clustering requirement still holds, and the near-zero-reduction
  *    partial pass (its map-side combine bought ~0.2% here) is dropped
  *    with its exchange.
  *
  * Fire conditions (all required): the window has NO order spec (its
  * required ordering is exactly `P asc`), P are bare attributes, every
  * P attribute is a grouping key, modes are uniform Final+Partial,
  * non-streaming, no distinct path. The rewrite never changes what any
  * exchange partitions on except the provably-compatible
  * hash(G)→hash(P) narrowing.
  *
  * MEASURED OUTCOME (round 11, sf30 soak, interleaved A/Bs committed in
  * SCALE.md): eliminating an exchange AND the near-useless partial pass
  * WINS — h21 sf0.1 on-median 0.649 s vs off 0.758 s — and ships
  * default-ON via `spark.graft.sortSharedAgg`. The in-place hash→sort
  * swap of an already co-partitioned Complete aggregate (no exchange
  * change) measured a single-box wash-to-loss on per-node CPU and was
  * removed (SCALE.md round 11).
  */
class SortSharedAggregate(spark: SparkSession) extends Rule[SparkPlan] {

  private def enabled: Boolean =
    spark.conf.getOption(SortSharedAggregate.KEY).forall(_.toBoolean)

  /** Strip a chain of ProjectExec, returning (projects outer→inner, core). */
  private def stripProjects(p: SparkPlan): (List[ProjectExec], SparkPlan) =
    p match {
      case pr: ProjectExec =>
        val (ps, core) = stripProjects(pr.child)
        (pr :: ps, core)
      case other => (Nil, other)
    }

  private def rebuildProjects(ps: List[ProjectExec], core: SparkPlan): SparkPlan =
    ps.foldRight(core)((pr, child) => pr.copy(child = child))

  private def unalias(e: NamedExpression): Expression = e match {
    case a: Alias => a.child
    case x => x
  }

  /** Order the grouping expressions so the window partition keys come
    * first; None when some partition attr is not a grouping key. */
  private def partitionFirst(partition: Seq[Expression],
      grouping: Seq[NamedExpression]): Option[Seq[NamedExpression]] = {
    val pIds = partition.collect { case a: Attribute => a.exprId }.toSet
    if (pIds.size != partition.length) return None
    val (p, rest) = grouping.partition(g => pIds.contains(g.toAttribute.exprId))
    if (p.length != pIds.size) None else Some(p ++ rest)
  }

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case w @ WindowExec(_, partition, Seq(), sort: SortExec)
          if partition.nonEmpty && partition.forall(_.isInstanceOf[Attribute]) =>
        val (projs, core) = stripProjects(sort.child)
        core match {
          // the window's own exchange above a partial+final pair
          case ex @ ShuffleExchangeExec(hp: HashPartitioning, exChild, _, _) =>
            val (projs2, core2) = stripProjects(exChild)
            core2 match {
              case fin: HashAggregateExec if !fin.isStreaming &&
                  fin.aggregateExpressions.nonEmpty &&
                  fin.aggregateExpressions.forall(_.mode == Final) =>
                fin.child match {
                  case ShuffleExchangeExec(_: HashPartitioning,
                      part: HashAggregateExec, _, _)
                      if !part.isStreaming &&
                        part.aggregateExpressions.forall(_.mode == Partial) &&
                        fin.aggregateExpressions.map(_.resultAttribute) ==
                          part.aggregateExpressions.map(_.resultAttribute) &&
                        fin.groupingExpressions ==
                          part.groupingExpressions.map(_.toAttribute) =>
                    partitionFirst(partition, part.groupingExpressions) match {
                      case Some(ordered)
                          // the upper exchange's keys must be (a subset of)
                          // the grouping keys at the partial's child level
                          if hp.expressions.forall {
                            case a: Attribute =>
                              part.groupingExpressions
                                .exists(_.toAttribute.exprId == a.exprId)
                            case _ => false
                          } =>
                        val pKeys = hp.expressions.map { case a: Attribute =>
                          unalias(part.groupingExpressions
                            .find(_.toAttribute.exprId == a.exprId).get)
                        }
                        val newEx = ShuffleExchangeExec(
                          HashPartitioning(pKeys, hp.numPartitions),
                          part.child, ENSURE_REQUIREMENTS, None)
                        val sortKeys = ordered.map(g =>
                          SortOrder(unalias(g), Ascending))
                        val sorted = SortExec(sortKeys, global = false, newEx)
                        val sortAgg = SortAggregateExec(
                          None, fin.isStreaming, fin.numShufflePartitions,
                          part.groupingExpressions,
                          part.aggregateExpressions.map(_.copy(mode = Complete)),
                          fin.aggregateAttributes, 0,
                          fin.resultExpressions, sorted)
                        w.copy(child =
                          rebuildProjects(projs ++ projs2, sortAgg))
                      case _ => w
                    }
                  case _ => w
                }
              case _ => w
            }
          case _ => w
        }
    }
  }
}

object SortSharedAggregate {
  val KEY = "spark.graft.sortSharedAgg"
}
