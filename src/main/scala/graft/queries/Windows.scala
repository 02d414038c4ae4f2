package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Engine, Q, Tables}

/** Window-function surface.
  *
  * Reference: presto-main WindowOperator.java:1 (sort + per-partition frame
  * evaluation), window function library under operator/window/ (ranking:
  * RowNumberFunction.java:23 …, value: LagFunction.java:29 …), frames
  * FrameInfo.java:28-43 (ROWS/RANGE), TopNRowNumberOperator.java:1 (top-k per
  * partition, matched by Spark ≥3.5 WindowGroupLimit).
  *
  * Every ORDER BY inside a window carries a unique tie-breaker so results are
  * deterministic under any partitioning.
  */
object Windows {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val queries: Map[String, Q] = Map(

    // Ranking family over one sorted partition pass.
    // Aggregate-typed window functions whose compat builders wrap a Spark
    // aggregate in a scalar (map_agg → MapFromEntries(collect_list),
    // geometric_mean → Exp(Avg(Ln))): Presto's WindowOperator runs any
    // aggregate over a window, so PrestoDialect.WindowAggregateHoist lifts the
    // scalar wrapper above the WindowExpression at parse level. Keys are
    // o_orderkey within a custkey partition — globally unique, so the map
    // build is deterministic (the synthetic lineitem fixture repeats
    // (orderkey, linenumber) pairs). Oracle: own-key lookup is the row's
    // own total price, cardinality is the partition count, geometric mean
    // is exp∘avg∘ln.
    "q36_win_map_agg" -> Q(
      (s, d) => Engine.cached(s, d).sql("""
        WITH w AS (SELECT o_orderkey, o_custkey, o_totalprice
                   FROM orders WHERE o_orderkey < 500)
        SELECT o_orderkey, o_custkey,
          element_at(map_agg(o_orderkey, o_totalprice)
            OVER (PARTITION BY o_custkey), o_orderkey) AS own_tp,
          cardinality(map_agg(o_orderkey, o_totalprice)
            OVER (PARTITION BY o_custkey)) AS nkeys,
          round(geometric_mean(o_totalprice)
            OVER (PARTITION BY o_custkey), 4) AS gm
        FROM w ORDER BY o_custkey, o_orderkey"""),
      Some("""
        SELECT o_orderkey, o_custkey,
          o_totalprice AS own_tp,
          CAST(count(*) OVER (PARTITION BY o_custkey) AS INT) AS nkeys,
          round(exp(avg(ln(o_totalprice)) OVER (PARTITION BY o_custkey)), 4) AS gm
        FROM orders WHERE o_orderkey < 500
        ORDER BY o_custkey, o_orderkey""")),

    "q30_win_rank" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val wd = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
        t(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          rank().over(wd).as("rk"),
          dense_rank().over(wd).as("drk"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(wd), 6).as("cd"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""
        SELECT o_custkey, o_orderkey,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
          rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS rk,
          dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS drk,
          ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS quartile,
          round(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey), 6) AS pr,
          round(cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderdate), 6) AS cd
        FROM orders ORDER BY o_custkey, o_orderkey""")),

    // Aggregates over ROWS frames: running and sliding sums.
    "q31_win_running" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        t(s, d, "lineitem").filter(col("l_suppkey") <= 20).select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("decimal(38,2)").as("run_qty"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .over(w.rowsBetween(-2, Window.currentRow))
            .cast("decimal(38,2)").as("win3_qty"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("run_n"))
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      },
      Some("""
        SELECT l_suppkey, l_orderkey, l_linenumber,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER w_run AS DECIMAL(38,2)) AS run_qty,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER w_3 AS DECIMAL(38,2)) AS win3_qty,
          count(*) OVER w_run AS run_n
        FROM lineitem WHERE l_suppkey <= 20
        WINDOW
          w_run AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_3 AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // Value functions: lag/lead/first/last (LagFunction.java:29 …).
    "q32_win_lag" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, d, "events").select(
          col("user_id"), col("event_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          lead(col("event_type"), 1, "none").over(w).as("next_type"),
          round(lag(col("value"), 2, 0.0).over(w), 4).as("lag2_value"),
          first(col("event_id")).over(w).as("first_id"),
          last(col("event_id")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("last_id"))
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""
        SELECT user_id, event_id, event_type,
          lag(event_type, 1) OVER w AS prev_type,
          lead(event_type, 1, 'none') OVER w AS next_type,
          round(lag(value, 2, 0.0) OVER w, 4) AS lag2_value,
          first_value(event_id) OVER w AS first_id,
          last_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_id
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, ts, event_id""")),

    // RANGE frame over a numeric ordering (FrameInfo.java RANGE mode):
    // 30-day trailing sum per order status, keyed on epoch days.
    "q33_win_range" -> Q(
      (s, d) => {
        val days = (unix_timestamp(col("o_orderdate")) / 86400L).cast("long")
        val w = Window.partitionBy(col("o_orderstatus")).orderBy(days)
          .rangeBetween(-30, 0)
        t(s, d, "orders").select(
          col("o_orderstatus"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("decimal(38,2)").as("sum_30d"))
          .orderBy("o_orderstatus", "o_orderkey")
      },
      Some("""
        SELECT o_orderstatus, o_orderkey,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_orderstatus
            ORDER BY CAST(epoch(o_orderdate) // 86400 AS BIGINT)
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS sum_30d
        FROM orders ORDER BY o_orderstatus, o_orderkey""")),

    // Top-k per partition (TopNRowNumberOperator.java:1) — filter on
    // row_number; Spark plans a WindowGroupLimit (rank pushdown) so each
    // partition keeps only k rows before the full window sort.
    "q34_win_topk" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"),
            round(col("o_totalprice"), 4).as("price"), col("rn"))
          .orderBy("o_custkey", "rn")
      },
      Some("""
        SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS price, rn
        FROM (SELECT *, row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
        WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // Time-interval RANGE frame (FrameInfo.java RANGE + temporal bound):
    // trailing 1-hour event count per type. Interval range bounds need the
    // SQL form — the DataFrame rangeBetween API takes numeric offsets only.
    "q35_win_timerange" -> Q(
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""
          SELECT event_type, event_id,
            CAST(count(*) OVER (PARTITION BY event_type ORDER BY ts
              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_1h
          FROM events WHERE user_id < 50
          ORDER BY event_type, event_id""")
      },
      Some("""
        SELECT event_type, event_id,
          CAST(count(*) OVER (PARTITION BY event_type ORDER BY ts
            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_1h
        FROM events WHERE user_id < 50
        ORDER BY event_type, event_id"""))
  )
}
