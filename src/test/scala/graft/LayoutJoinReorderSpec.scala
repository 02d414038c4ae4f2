package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** Layout-aware join reordering (plans/LayoutJoinReorder): the ORIGINAL
  * customer-first TPC-H Q10 spelling must plan the layout-served
  * orders⋈lineitem join first — the planner capability the round-13 verdict
  * asked for instead of the hand-edited query text. */
class LayoutJoinReorderSpec extends AnyFunSuite {
  import TestSession._
  import operators.Bucketing

  /** Left-deep join order as the sequence of leaf table names. */
  private def leafOrder(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val p = fs.location.rootPaths.head.toString
          Seq("lineitem", "orders", "customer", "nation")
            .find(p.contains).getOrElse(p)
        case other => other.toString
      }
    }

  private val customerFirstQ10 = """
    SELECT c_custkey, c_name,
      sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20"""

  private val ordersFirstQ10 = """
    SELECT c_custkey, c_name,
      sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue, n_name
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20"""

  private def withLayout[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-reorder").toString
    Bucketing.persistBucketed(spark,
      Tables.t(spark, sf, "orders"), dir, "orders", "o_orderkey", 4)
    Bucketing.persistBucketed(spark,
      Tables.t(spark, sf, "lineitem"), dir, "lineitem", "l_orderkey", 4)
    try {
      spark.conf.set("spark.graft.bucketedDir", dir)
      Tables.registerAll(spark, sf)
      f(dir)
    } finally {
      spark.conf.unset("spark.graft.bucketedDir")
      Tables.registerAll(spark, sf)
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_lineitem")
    }
  }

  test("customer-first Q10 over the layout plans the layout edge first — " +
      "identical join order to the hand-ordered text") {
    withLayout { _ =>
      val reordered = leafOrder(spark.sql(customerFirstQ10))
      val hand = leafOrder(spark.sql(ordersFirstQ10))
      assert(reordered == Seq("orders", "lineitem", "customer", "nation"),
        s"got $reordered")
      assert(reordered == hand, s"reordered=$reordered hand=$hand")
    }
  }

  test("rule-off keeps the textual order; results identical on vs off") {
    withLayout { _ =>
      spark.conf.set("spark.graft.joinReorder", "false")
      val off =
        try {
          val textual = leafOrder(spark.sql(customerFirstQ10))
          assert(textual == Seq("customer", "orders", "lineitem", "nation"),
            s"got $textual")
          spark.sql(customerFirstQ10).collect().map(_.toString).toSeq
        } finally spark.conf.unset("spark.graft.joinReorder")
      val on = spark.sql(customerFirstQ10).collect().map(_.toString).toSeq
      assert(on == off)
      assert(on.nonEmpty)
    }
  }

  test("does NOT fire when a demoted relation carries a selective filter " +
      "(Q3 shape: the customer mktsegment prune must stay first)") {
    withLayout { _ =>
      val q3 = """
        SELECT l_orderkey, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-03-15'
          AND l_shipdate > TIMESTAMP '1997-03-15'
        GROUP BY l_orderkey"""
      val order = leafOrder(spark.sql(q3))
      assert(order == Seq("customer", "orders", "lineitem"), s"got $order")
    }
  }

  /** A filtered dim anywhere in the chain bails the reorder, even one
    * two join hops from the layout pair (the Q5 region shape). */
  test("region-filtered Q5 chain keeps its textual order") {
    withLayout { _ =>
      Tables.t(spark, sf, "supplier").createOrReplaceTempView("supplier")
      Tables.t(spark, sf, "region").createOrReplaceTempView("region")
      val q5 = """
        SELECT n_name, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name"""
      val order = leafOrder(spark.sql(q5)).take(2)
      assert(order == Seq("customer", "orders"), s"got $order")
    }
  }

  test("does NOT fire without a registered layout (flat posture keeps " +
      "the textual order)") {
    Tables.registerAll(spark, sf)
    val order = leafOrder(spark.sql(customerFirstQ10))
    assert(order == Seq("customer", "orders", "lineitem", "nation"),
      s"got $order")
  }
}
