package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** SortSharedAggregate (plans/SortSharedAggregate.scala): a window whose
  * partition keys prefix the grouping keys of the aggregate below it
  * shares ONE sort with that aggregate — streaming sort-aggregate, no
  * hash table, no window sort (the reference's
  * StreamingAggregationOperator placement,
  * MAIN/operator/StreamingAggregationOperator.java:1). */
class SortSharedAggregateSpec extends AnyFunSuite {
  import TestSession._

  private val KEY = plans.SortSharedAggregate.KEY

  private def withConf[T](on: Boolean)(f: => T): T = {
    spark.conf.set(KEY, on.toString)
    try f finally spark.conf.set(KEY, "true")
  }

  test("h21 shape: rewrite produces Window over SortAggregate, one sort") {
    val plan = withConf(on = true) {
      SparkEntry.all("h21_waiting_supplier").fn(spark, sf)
        .queryExecution.executedPlan.toString
    }
    // round 13: StreamingSortedAggregate upgrades the shared-sort
    // SortAggregate IN PLACE to the codegen'd streaming form — either
    // spelling proves the rewrite fired
    assert(plan.contains("SortAggregate") ||
      plan.contains("StreamingSortedAggregate"), plan)
    // the window-side sort is gone: the only Sort in the window region
    // sits UNDER the SortAggregate (plan prints top-down, so Window
    // appears before SortAggregate, and no Sort between them)
    val winAt = plan.indexOf("Window")
    val aggAt = plan.indexOf("SortAggregate").max(
      plan.indexOf("StreamingSortedAggregate"))
    assert(winAt >= 0 && aggAt > winAt)
    assert(!plan.substring(winAt, aggAt).contains("Sort("),
      plan.substring(winAt, aggAt))
  }

  test("rewrite is result-identical on h21 (on/off hash match)") {
    val on = withConf(on = true) {
      SparkEntry.all("h21_waiting_supplier").fn(spark, sf).collect().toSeq
    }
    val off = withConf(on = false) {
      SparkEntry.all("h21_waiting_supplier").fn(spark, sf).collect().toSeq
    }
    assert(on == off)
  }

  test("does not fire when window partitions on a non-grouping column") {
    // rank over the AGGREGATE RESULT column — sort keys unavailable
    // pre-aggregation, the rule must leave the hash aggregate alone
    val df = Tables.t(spark, sf, "lineitem")
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("q"))
      .withColumn("r", rank().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("q")).orderBy(col("l_orderkey"))))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("does not fire when the window has an order spec") {
    val df = Tables.t(spark, sf, "lineitem")
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("q"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_orderkey")).orderBy(col("q"))))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("does not fire on a co-partitioned Complete aggregate (no exchange to drop)") {
    // pre-partitioning by the window key makes the aggregate single-stage
    // Complete (CollapseSingleStageAggregate): nothing to eliminate, so the
    // hash aggregate stays
    val plan = Tables.t(spark, sf, "lineitem")
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_quantity")).as("mx"))
      .withColumn("n_supp", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("fires on the bare groupBy+window prefix shape and matches hash plan") {
    val base = Tables.t(spark, sf, "lineitem")
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        max(col("l_quantity")).as("max_qty"))
      .withColumn("n_supp", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))))
    val on = withConf(on = true) {
      val df = base
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortAggregate") ||
        plan.contains("StreamingSortedAggregate"), plan)
      df.collect().map(_.toSeq).toSet
    }
    val off = withConf(on = false) {
      val df = Tables.t(spark, sf, "lineitem")
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"),
          max(col("l_quantity")).as("max_qty"))
        .withColumn("n_supp", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SortAggregate"), plan)
      df.collect().map(_.toSeq).toSet
    }
    assert(on == off)
  }
}
