package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, CoalesceShufflePartitions, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** A full ORDER BY whose input AQE already reads as one partition sorts in
  * that one task — the reference's single-node final sort
  * (MAIN/operator/OrderByOperator.java:1 behind a gathering exchange)
  * instead of Spark's range-partitioned sample sort, which costs a
  * sampling job that evaluates the sort's whole input once more, a range
  * shuffle map stage and a third job to read it back.
  *
  * Matched physical shape (AQE stage-prep, after the stages below the sort
  * have materialized):
  *
  *    `Sort(global) ← Exchange(range, ENSURE_REQUIREMENTS) ← c`
  *    → `Sort(global) ← Coalesce(1) ← c`
  *
  * `Coalesce(1)` reports `SinglePartition`, which satisfies the sort's
  * ordered distribution. Fires only when
  *  1. every leaf of `c` is a materialized shuffle stage (optionally under
  *     its AQE read) — coalescing needs the stages' map statistics;
  *  2. `c` holds only operators that never add rows (Project, Filter,
  *     aggregates, Window, Sort, Union), so the input size the statistics
  *     report bounds the rows the one task sorts;
  *  3. Spark's own `CoalesceShufflePartitions`, applied to `c` with the
  *     session's settings, reduces every shuffle read in `c` to one
  *     partition — so no operator loses parallelism AQE would have given
  *     it, and there is no size knob of graft's own. Where Spark would
  *     keep more than one partition (or does not coalesce at all), the
  *     rule does not fire and the stock range sort runs. */
class SingleTaskSort(spark: SparkSession) extends Rule[SparkPlan] {

  /** Conditions 1 and 2: operators that never add rows, down to
    * materialized shuffle stages. */
  private def neverAddsRows(p: SparkPlan): Boolean = p match {
    case s: ShuffleQueryStageExec => s.isMaterialized
    case AQEShuffleReadExec(s: ShuffleQueryStageExec, _) => s.isMaterialized
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec |
         _: StreamingSortedAggregateExec | _: WindowExec |
         _: WindowGroupLimitExec | _: SortExec | _: UnionExec =>
      p.children.forall(neverAddsRows)
    case _ => false
  }

  /** Partition count of every shuffle read in `p`. */
  private def readPartitions(p: SparkPlan): Seq[Int] = p match {
    case r: AQEShuffleReadExec => Seq(r.partitionSpecs.length)
    case s: ShuffleQueryStageExec => Seq(s.outputPartitioning.numPartitions)
    case other => other.children.flatMap(readPartitions)
  }

  private def fitsOneTask(c: SparkPlan): Boolean =
    neverAddsRows(c) &&
      readPartitions(CoalesceShufflePartitions(spark)(c)).forall(_ <= 1)

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s @ SortExec(_, true,
        ShuffleExchangeExec(_: RangePartitioning, c, ENSURE_REQUIREMENTS, _), _)
        if fitsOneTask(c) =>
      s.copy(child = CoalesceExec(1, c))
  }
}
