package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** StreamingSortedAggregate (plans/StreamingSortedAggregate.scala): a hash
  * aggregate whose child already delivers the grouping keys as a sorted
  * prefix becomes a whole-stage-codegen STREAMING aggregate — no hash
  * table, no sort (the reference's StreamingAggregationOperator,
  * MAIN/operator/StreamingAggregationOperator.java:1, compiled the way
  * AccumulatorCompiler does). */
class StreamingSortedAggregateSpec extends AnyFunSuite {
  import TestSession._

  private val KEY = plans.StreamingSortedAggregate.KEY

  private def withRule[T](on: Boolean)(f: => T): T = {
    // keep explicit sortWithinPartitions below aggregates: the optimizer's
    // EliminateSorts would drop them (in production the ordering comes
    // from the bucketed sorted SCAN, which nothing eliminates)
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.EliminateSorts")
    spark.conf.set(KEY, on.toString)
    try f finally {
      spark.conf.set(KEY, "true")
      spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** On/off result identity + the ON plan actually contains the node. */
  private def checkIdentical(build: => DataFrame): Unit = {
    val (onPlan, onRows) = withRule(on = true) {
      val df = build
      val rows = sortedRows(df)
      (df.queryExecution.executedPlan.toString, rows)
    }
    val offRows = withRule(on = false)(sortedRows(build))
    assert(onPlan.contains("StreamingSortedAggregate"), onPlan)
    assert(onRows == offRows,
      s"on=${onRows.take(5)}... off=${offRows.take(5)}...")
  }

  test("complete-mode fire over a co-partitioned sorted child, " +
      "inside whole-stage codegen, result-identical") {
    def q = Tables.t(spark, sf, "lineitem")
      .repartition(col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .groupBy("l_orderkey")
      .agg(
        sum(col("l_quantity")).as("sq"),
        count(lit(1)).as("cnt"),
        avg(col("l_extendedprice")).as("ap"),
        min(col("l_shipdate")).as("mn"),
        max(col("l_returnflag")).as("mx"))
    checkIdentical(q)
    // and the node runs INSIDE WholeStageCodegen (the whole point: the
    // non-codegen SortAggregate swap measured a wash)
    val plan = withRule(on = true) {
      val df = q
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(plan.linesIterator.exists(l =>
      l.contains("StreamingSortedAggregate") && l.contains("*(")), plan)
  }

  /** Round-15: AQE can re-plan an SMJ over a sorted layout scan into a
    * ShuffledHashJoin (maxShuffledHashJoinLocalMapThreshold) — the SHJ
    * streams its probe side row by row, so the streamed side's sorted
    * order survives and the streaming aggregate must keep firing. */
  test("effective ordering looks through a shuffled hash join's " +
      "streamed side") {
    def q = Tables.t(spark, sf, "lineitem")
      .repartition(col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .join(Tables.t(spark, sf, "orders").hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cnt"))
    val (plan, onRows) = withRule(on = true) {
      val df = q
      (df.queryExecution.executedPlan.toString, sortedRows(df))
    }
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("StreamingSortedAggregate"), plan)
    val offRows = withRule(on = false)(sortedRows(q))
    assert(onRows == offRows)
  }

  test("multi-key grouping with the keys as the sort prefix") {
    checkIdentical {
      Tables.t(spark, sf, "lineitem")
        .repartition(col("l_orderkey"))
        .sortWithinPartitions("l_orderkey", "l_suppkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cnt"))
    }
  }

  test("partial-mode fire: sorted child below the exchange still streams") {
    val (plan, onRows) = withRule(on = true) {
      val df = Tables.t(spark, sf, "lineitem")
        .sortWithinPartitions("l_orderkey")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("sq"))
      (df.queryExecution.executedPlan.toString, sortedRows(df))
    }
    val offRows = withRule(on = false) {
      sortedRows(Tables.t(spark, sf, "lineitem")
        .sortWithinPartitions("l_orderkey")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("sq")))
    }
    // partial leg streams, final leg (above the exchange, unsorted input)
    // stays a hash aggregate
    assert(plan.contains("StreamingSortedAggregate"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(onRows == offRows)
  }

  test("null keys and NaN keys group exactly like the hash aggregate") {
    import spark.implicits._
    checkIdentical {
      Seq[(java.lang.Double, Int)](
        (1.0, 1), (1.0, 2), (Double.NaN, 3), (Double.NaN, 4),
        (null, 5), (null, 6), (2.0, 7))
        .toDF("k", "v")
        .repartition(col("k"))
        .sortWithinPartitions("k")
        .groupBy("k")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("c"))
    }
  }

  test("string keys across batches are copied, not aliased") {
    import spark.implicits._
    checkIdentical {
      (1 to 5000).map(i => (s"key_${i % 7}", i)).toDF("k", "v")
        .repartition(col("k"))
        .sortWithinPartitions("k")
        .groupBy("k")
        .agg(sum(col("v")).as("sv"), max(col("k")).as("mk"))
    }
  }

  test("decimal sums (the ScaledLongSum h18 shape) stay exact") {
    checkIdentical {
      Tables.t(spark, sf, "lineitem")
        .repartition(col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
    }
  }

  test("empty input emits nothing") {
    val rows = withRule(on = true) {
      Tables.t(spark, sf, "lineitem")
        .where(col("l_quantity") < -1)
        .repartition(col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("sq"))
        .collect()
    }
    assert(rows.isEmpty)
  }

  test("does not fire without a covering sorted prefix") {
    val plan = withRule(on = true) {
      Tables.t(spark, sf, "lineitem")
        .repartition(col("l_orderkey"))
        .sortWithinPartitions("l_suppkey") // sorted, but not on the keys
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("sq"))
        .queryExecution.executedPlan.toString
    }
    assert(!plan.contains("StreamingSortedAggregate"), plan)
    // grouping keys that only EXTEND the sort prefix: Spark's own hash
    // aggregate runs, with the rows it gives with the rule off
    def extended = Tables.t(spark, sf, "lineitem")
      .sortWithinPartitions("l_orderkey")
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cnt"))
    val (extPlan, extRows) = withRule(on = true) {
      val df = extended
      val rows = sortedRows(df)
      (df.queryExecution.executedPlan.toString, rows)
    }
    assert(extPlan.contains("HashAggregate"), extPlan)
    assert(!extPlan.contains("StreamingSortedAggregate"), extPlan)
    assert(extRows.nonEmpty)
    assert(extRows == withRule(on = false)(sortedRows(extended)))
  }

  test("does not fire on distinct, filtered, or imperative aggregates") {
    def base = Tables.t(spark, sf, "lineitem")
      .repartition(col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .groupBy("l_orderkey")
    val plans = withRule(on = true) {
      Seq(
        base.agg(countDistinct(col("l_suppkey")).as("d")),
        base.agg(sum(col("l_quantity")).as("s"),
          expr("count(*) FILTER (WHERE l_quantity > 25) AS cf")),
        base.agg(collect_list(col("l_suppkey")).as("l"))
      ).map(_.queryExecution.executedPlan.toString)
    }
    plans.foreach(p => assert(!p.contains("StreamingSortedAggregate"), p))
  }

  test("interpreted fallback path (codegen off) is result-identical") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      checkIdentical {
        Tables.t(spark, sf, "lineitem")
          .repartition(col("l_orderkey"))
          .sortWithinPartitions("l_orderkey")
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).as("sq"), avg(col("l_tax")).as("at"),
            min(col("l_returnflag")).as("mc"))
      }
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }
}
