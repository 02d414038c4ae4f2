package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RunHashAggregate (plans/RunHashAggregate.scala): grouping keys that
  * EXTEND the child's sort prefix aggregate through a per-run hash flushed
  * at prefix-run boundaries — the strict-prefix hybrid the round-13
  * verdict asked for (serves plain single-key-sorted layouts without the
  * extended-sort rewrite; the reference's segmented aggregation path).
  * The operator runs the PARTIAL aggregate below the exchange, so every
  * input here is sorted within partitions without a repartition. */
class RunHashAggregateSpec extends AnyFunSuite {
  import TestSession._

  private val HYBRID = plans.StreamingSortedAggregate.HYBRID_KEY

  private def withRule[T](on: Boolean)(f: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.EliminateSorts")
    spark.conf.set(HYBRID, on.toString)
    // test fixtures are far below the production size floor
    spark.conf.set(plans.StreamingSortedAggregate.HYBRID_MIN_KEY, "0")
    try f finally {
      spark.conf.set(HYBRID, "true")
      spark.conf.unset(plans.StreamingSortedAggregate.HYBRID_MIN_KEY)
      spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def checkIdentical(build: => DataFrame): Unit = {
    val (onPlan, onRows) = withRule(on = true) {
      val df = build
      val rows = sortedRows(df)
      (df.queryExecution.executedPlan.toString, rows)
    }
    val offRows = withRule(on = false)(sortedRows(build))
    assert(onPlan.contains("RunHashAggregate"), onPlan)
    assert(onRows == offRows,
      s"on=${onRows.take(5)}... off=${offRows.take(5)}...")
  }

  /** The h21 shape over a PLAIN orderkey-sorted layout: grouping
    * (l_orderkey, l_suppkey), input sorted by l_orderkey only. */
  private def h21Shape: DataFrame =
    Tables.t(spark, sf, "lineitem")
      .sortWithinPartitions("l_orderkey")
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cnt"),
        avg(col("l_extendedprice")).as("ap"))

  test("fires on grouping keys extending the sort prefix, " +
      "inside whole-stage codegen, result-identical") {
    checkIdentical(h21Shape)
    val plan = withRule(on = true) {
      val df = h21Shape
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(plan.linesIterator.exists(l =>
      l.contains("RunHashAggregate") && l.contains("*(")), plan)
  }

  test("partial-mode fire below the exchange") {
    val (plan, onRows) = withRule(on = true) {
      val df = Tables.t(spark, sf, "lineitem")
        .sortWithinPartitions("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(sum(col("l_quantity")).as("sq"))
      (df.queryExecution.executedPlan.toString, sortedRows(df))
    }
    val offRows = withRule(on = false) {
      sortedRows(Tables.t(spark, sf, "lineitem")
        .sortWithinPartitions("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(sum(col("l_quantity")).as("sq")))
    }
    assert(plan.contains("RunHashAggregate"), plan)
    assert(onRows == offRows)
  }

  test("string EXTRA key (run-map key, never updated in place) and " +
      "decimal sums stay exact") {
    checkIdentical {
      Tables.t(spark, sf, "lineitem")
        .sortWithinPartitions("l_orderkey")
        .groupBy("l_orderkey", "l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"),
          count(lit(1)).as("cnt"))
    }
  }

  test("null and NaN PREFIX values group exactly like the hash aggregate") {
    import spark.implicits._
    checkIdentical {
      Seq[(java.lang.Double, Int, Int)](
        (1.0, 1, 10), (1.0, 2, 20), (1.0, 1, 30),
        (Double.NaN, 1, 40), (Double.NaN, 1, 50),
        (null, 2, 60), (null, 2, 70), (2.0, 3, 80))
        .toDF("k", "e", "v")
        .sortWithinPartitions("k")
        .groupBy("k", "e")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("c"))
    }
  }

  test("does NOT fire when the full grouping set is covered (the pure " +
      "streaming aggregate takes it) or when no prefix is sorted") {
    val plans = withRule(on = true) {
      Seq(
        // full cover → StreamingSortedAggregate, not the hybrid
        Tables.t(spark, sf, "lineitem")
          .sortWithinPartitions("l_orderkey")
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).as("sq")),
        // sorted on a non-grouping column → neither fires
        Tables.t(spark, sf, "lineitem")
          .sortWithinPartitions("l_shipdate")
          .groupBy("l_orderkey", "l_suppkey")
          .agg(sum(col("l_quantity")).as("sq"))
      ).map(_.queryExecution.executedPlan.toString)
    }
    assert(!plans.head.contains("RunHashAggregate"), plans.head)
    assert(plans.head.contains("StreamingSortedAggregate"), plans.head)
    assert(!plans(1).contains("RunHashAggregate"), plans(1))
    assert(!plans(1).contains("StreamingSortedAggregate"), plans(1))
  }

  test("does NOT fire on var-width aggregation buffers (max over string)") {
    val plan = withRule(on = true) {
      Tables.t(spark, sf, "lineitem")
        .sortWithinPartitions("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("l_returnflag")).as("mc"))
        .queryExecution.executedPlan.toString
    }
    assert(!plan.contains("RunHashAggregate"), plan)
  }

  test("hybrid conf off keeps the hash aggregate; results identical") {
    val off = withRule(on = false) {
      val df = h21Shape
      assert(!df.queryExecution.executedPlan.toString
        .contains("RunHashAggregate"))
      sortedRows(df)
    }
    val on = withRule(on = true)(sortedRows(h21Shape))
    assert(on == off)
    assert(on.nonEmpty)
  }

  test("empty input emits nothing; single giant run (constant prefix) " +
      "degrades to a plain in-map aggregate, still exact") {
    import spark.implicits._
    val empty = withRule(on = true) {
      Tables.t(spark, sf, "lineitem")
        .where(col("l_quantity") < -1)
        .sortWithinPartitions("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(sum(col("l_quantity")).as("sq"))
        .collect()
    }
    assert(empty.isEmpty)
    checkIdentical {
      (1 to 4000).map(i => (1L, i % 97, i)).toDF("k", "e", "v")
        .sortWithinPartitions("k")
        .groupBy("k", "e")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("c"))
    }
  }

  test("interpreted fallback path (codegen off) is result-identical") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try checkIdentical(h21Shape)
    finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  /** Partial-mode memory cap (round-14 ADVICE): the per-run map flushes
    * mid-run at maxRunRows — results identical because the downstream
    * merge recombines the partial rows. Cap 2 forces a flush every other
    * group on real data, in both codegen and interpreted paths. */
  test("partial-mode maxRunRows cap flushes mid-run, results identical") {
    def partialShape = Tables.t(spark, sf, "lineitem")
      .sortWithinPartitions("l_orderkey")
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cnt"))
    val off = withRule(on = false)(sortedRows(partialShape))
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      spark.conf.set(plans.StreamingSortedAggregate.HYBRID_MAX_RUN_KEY, "2")
      try {
        val (plan, rows) = withRule(on = true) {
          val df = partialShape
          (df.queryExecution.executedPlan.toString, sortedRows(df))
        }
        assert(plan.contains("RunHashAggregate"), plan)
        assert(rows == off, s"codegen=$codegen")
      } finally {
        spark.conf.unset(plans.StreamingSortedAggregate.HYBRID_MAX_RUN_KEY)
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }
}
