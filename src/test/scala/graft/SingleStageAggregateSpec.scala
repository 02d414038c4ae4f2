package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, Partial}

/** plans.CollapseSingleStageAggregate: an adjacent partial+final pair
  * (child already partitioned on the group keys — here a shuffled join on
  * a prefix of them) must run as ONE complete-mode aggregate, with results
  * identical to the two-pass plan. */
class SingleStageAggregateSpec extends AnyFunSuite {
  import TestSession._

  Tables.registerAll(spark, sf)

  // group keys (l_orderkey, l_suppkey) over a join shuffled on l_orderkey:
  // partitioning satisfies the grouping, so vanilla Spark runs the pair
  // back-to-back in one stage — the h21/h18/q22 soak shape
  private val SQL =
    """SELECT l_orderkey, l_suppkey, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qty
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY l_orderkey, l_suppkey""".stripMargin

  private def executedAggModes(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    df.collect() // force execution so AQE finalizes the plan
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(s.plan)
      case h: HashAggregateExec =>
        out += h.aggregateExpressions.map(_.mode).distinct.mkString(",")
        h.children.foreach(walk)
      case s: plans.StreamingSortedAggregateExec =>
        out += s.aggregateExpressions.map(_.mode).distinct.mkString(",")
        s.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    out.toSeq.filter(_.nonEmpty)
  }

  test("adjacent partial+final collapses to one Complete aggregate, same rows") {
    // force the shuffled join the soak scale produces (fixtures broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val modes = executedAggModes(spark.sql(SQL))
      assert(modes.contains("Complete"),
        s"expected a Complete-mode aggregate, saw modes: $modes")
      assert(!modes.exists(_.contains(Partial.toString)),
        s"partial pass survived the collapse: $modes")

      val collapsed = spark.sql(SQL).collect().map(_.toString).sorted.toSeq
      spark.conf.set(plans.CollapseSingleStageAggregate.KEY, "false")
      val twoPass =
        try spark.sql(SQL).collect().map(_.toString).sorted.toSeq
        finally spark.conf.unset(plans.CollapseSingleStageAggregate.KEY)
      assert(collapsed == twoPass)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a pair split by an exchange is left alone") {
    // plain group-by over a scan: the exchange sits between partial and
    // final, so the rule must not touch it
    val modes = executedAggModes(spark.sql(
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"))
    assert(modes.exists(_.contains(Partial.toString)) &&
      modes.exists(_.contains(Final.toString)),
      s"partial/final pair should survive across the exchange: $modes")
  }
}
