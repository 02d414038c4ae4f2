package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** plans.SingleTaskSort: a global sort whose input AQE coalesces to one
  * partition sorts in that task behind `Coalesce(1)` — no range exchange,
  * no sampling job — and keeps Spark's range sort everywhere else. */
class SingleTaskSortSpec extends AnyFunSuite {
  import TestSession.spark

  // the sf0.01 fixture, next to TestSession's sf0.001
  private val sf01 = java.nio.file.Paths.get(TestSession.sf).resolveSibling("sf0.01").toString
  // the range-sort baseline: with AQE's coalescing off the rule never fires
  private val NO_COALESCE = "spark.sql.adaptive.coalescePartitions.enabled" -> "false"

  private def withConfs[T](kvs: (String, String)*)(f: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Every node of the executed (post-AQE) plan, through stages. */
  private def finalNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** (top global sort reads a Coalesce(1), a range exchange is planned) */
  private def shape(df: DataFrame): (Boolean, Boolean) = {
    df.collect() // AQE finalizes the plan on execution
    val nodes = finalNodes(df)
    val coalesced = nodes.collectFirst { case s: SortExec if s.global => s.child }
      .exists {
        case InputAdapter(CoalesceExec(1, _)) | CoalesceExec(1, _) => true
        case _ => false
      }
    val range = nodes.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    (coalesced, range)
  }

  private def entry(name: String): DataFrame = SparkEntry.all(name).fn(spark, sf01)

  for (name <- Seq("q01_tpch_q1", "q30_win_rank", "q46_rollup", "h05_local_supplier"))
    test(s"$name: the ORDER BY sorts behind Coalesce(1) with no range exchange, same rows as the range sort") {
      assert(shape(entry(name)) == (true, false))
      val single = entry(name).collect().toSeq
      val range = withConfs(NO_COALESCE) {
        assert(shape(entry(name)) == (false, true))
        entry(name).collect().toSeq
      }
      assert(single.nonEmpty && single == range)
    }

  test("no fire when AQE keeps more than one partition: the range exchange stays") {
    withConfs(NO_COALESCE)(assert(shape(entry("q30_win_rank")) == (false, true)))
    withConfs(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
      assert(shape(entry("q30_win_rank")) == (false, true))
    }
  }

  test("no fire for a sort directly over a scan, or over a join") {
    val orders = Tables.t(spark, sf01, "orders")
    assert(shape(orders.orderBy(col("o_totalprice"), col("o_orderkey")))._1 == false)
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = orders
        .join(Tables.t(spark, sf01, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"))
        .orderBy(col("o_orderkey"))
      assert(shape(joined) == (false, true))
    }
  }

  test("empty input: a grouped aggregate under a false filter, then ORDER BY, returns 0 rows") {
    val df = Tables.t(spark, sf01, "orders")
      .filter(col("o_totalprice") < 0)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_custkey"))
    assert(df.collect().isEmpty)
    withConfs(NO_COALESCE)(assert(df.collect().isEmpty))
  }
}
