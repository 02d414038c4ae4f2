package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** TPC-H macro suite — all 22 query shapes — adapted to the fixture's
  * column subset (FIXTURES.md: no partsupp, no commitdate/receiptdate/
  * shipmode/phone). Q1/Q3/Q6 live in Aggregates/Joins; the partsupp-
  * dependent shapes (Q2/Q9/Q11/Q16/Q20) run over a lineitem-derived supply
  * relation, and date/mode predicates substitute ship-delay and derived
  * columns — every join/subquery/aggregation shape of the original is
  * preserved. Mirrors the reference's benchmark workload
  * (presto-benchto-benchmarks tpch.yaml).
  *
  * All revenue sums go through decimal (order-independent, oracle-exact);
  * join shapes: dims broadcast, fact⋈fact shuffled on the join key.
  */
object TpchMacro {

  private def sql(text: String): (SparkSession, String) => DataFrame =
    (s, d) => { Tables.registerAll(s, d); s.sql(text) }

  /** Derived supply relation: the fixture ships no partsupp table, so the
    * (part, supplier) pairs + cost/availability proxies come from lineitem.
    * Spliced as a CTE into the partsupp-dependent TPC-H shapes (Q2/Q9/Q11/
    * Q16/Q20); min/sum over decimal casts keep it engine-exact. */
  private val PSUPP =
    """partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS ps_supplycost,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS ps_availqty
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)""".stripMargin

  private val REV =
    """CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)))
      |  AS DECIMAL(38,4))""".stripMargin

  val queries: Map[String, Q] = {
    def both(name: String, text: String): (String, Q) =
      name -> Q(sql(text), Some(text))

    Map(
      // Q5: local supplier volume (customer and supplier in same nation).
      // The transitive region restriction (the reference's equivalence-class
      // predicate inference, MAIN/sql/planner/EqualityInference.java) now
      // materializes at RUNTIME from the engine's own optimizer rule
      // (plans/GraftOptimizations.DynamicSemiJoinPrune): region's filter
      // prunes nation's scan, the pruned nation prunes supplier, and the
      // pruned supplier's 60 k ASIA suppkeys (sf30) prune lineitem BEFORE
      // its shuffle — each hop one fixed-point iteration, no hand-wiring.
      // Round 7 built this chain imperatively; round 8 deleted that.
      both("h05_local_supplier", s"""
        SELECT n_name, $REV AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name ORDER BY revenue DESC, n_name"""),

      // Q7: volume shipping between two nations (supplier vs customer side).
      both("h07_volume_shipping", s"""
        SELECT supp_nation, cust_nation, l_year, CAST(sum(volume) AS DECIMAL(38,4)) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
            CAST(year(l_shipdate) AS INT) AS l_year,
            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS volume
          FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
              OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
            AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31')
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year"""),

      // Q8: national market share (two-level agg over a 7-table join).
      both("h08_market_share", """
        SELECT o_year,
          round(CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
                CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
        FROM (
          SELECT CAST(year(o_orderdate) AS INT) AS o_year,
            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS volume,
            n2.n_name AS nation
          FROM part
          JOIN lineitem ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
            AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1997-12-31')
        GROUP BY o_year ORDER BY o_year"""),

      // Q17: small-quantity-order revenue (correlated avg subquery on the
      // same fact table — decorrelates to a join on partkey).
      both("h17_small_quantity", """
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#11'
          AND l_quantity < (
            SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = lineitem.l_partkey)"""),

      // Q10: returned item reporting (top customers by lost revenue).
      // Join order is the declaration's one scale lever without CBO stats
      // (Catalyst keeps the textual order; the reference reorders via its
      // cost model): orders⋈lineitem FIRST rides the orderkey layout
      // exchange-free and the quarter-filtered result (~1% of lineitem)
      // is what shuffles onto custkey — the customer-first spelling
      // shuffled orders twice (custkey, then back onto orderkey).
      // Measured sf30 interleaved, both postures: full 2.5→1.6 s,
      // flat 2.9→2.4 s.
      both("h10_returned_items", s"""
        SELECT c_custkey, c_name, $REV AS revenue, n_name,
          round(c_acctbal, 4) AS acctbal
        FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, n_name, round(c_acctbal, 4)
        ORDER BY revenue DESC, c_custkey LIMIT 20"""),

      // Q10 in its ORIGINAL customer-first spelling (the TPC-H standard
      // text order). Round 14: plans/LayoutJoinReorder rebuilds this chain
      // layout-edge-first, so over the bucketed layouts it plans
      // IDENTICALLY to the hand-ordered text above (plan-asserted in
      // LayoutJoinReorderSpec); kept as its own gate entry so the oracle
      // pins both spellings.
      both("h10_returned_items_orig", s"""
        SELECT c_custkey, c_name, $REV AS revenue, n_name,
          round(c_acctbal, 4) AS acctbal
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, n_name, round(c_acctbal, 4)
        ORDER BY revenue DESC, c_custkey LIMIT 20"""),

      // Q14: promotion effect (lineitem ⋈ part, conditional revenue share).
      both("h14_promo_effect", """
        SELECT round(100.00 *
            CAST(sum(CASE WHEN p_type = 'PROMO'
              THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
            CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE),
          6) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate < TIMESTAMP '1996-10-01'"""),

      // Q15: top supplier by revenue (view + max scalar subquery).
      both("h15_top_supplier", s"""
        WITH revenue0 AS (
          SELECT l_suppkey AS supplier_no, $REV AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
        ORDER BY s_suppkey"""),

      // Q18: large-volume customers (HAVING over join + semi join back).
      // Both lineitem aggregates are decimal sums over 2-decimal money —
      // the engine's ScaledLongSum rule accumulates them on scaled longs
      // (the round-7 q22 lesson, now an optimizer rewrite instead of
      // hand-written long arithmetic: a 43 M-group decimal(28,2) sum walks
      // per-row BigDecimal past the compact-long representation).
      both("h18_large_volume", """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
          round(o_totalprice, 4) AS totalprice,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, round(o_totalprice, 4)
        ORDER BY totalprice DESC, o_orderkey LIMIT 100"""),

      // Q19: discounted revenue (disjunctive multi-range part⋈lineitem).
      both("h19_discounted_revenue", s"""
        SELECT $REV AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE
          (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
            AND l_quantity >= 1 AND l_quantity <= 21)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
            AND l_quantity >= 10 AND l_quantity <= 30)
          OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
            AND l_quantity >= 20 AND l_quantity <= 40)"""),

      // Q13-ish: customer order-count distribution (left join + double agg).
      both("h13_order_distribution", """
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC"""),

      // Q2: minimum-cost supplier. The fixture has no partsupp table, so the
      // supply relation derives from lineitem. Two scale choices in the
      // declarative form itself: the part predicate is an IN-subquery
      // pruning lineitem BEFORE the heavy (partkey, suppkey) aggregation,
      // and the correlated per-part min over EUROPE suppliers is a window
      // min over the same join — computed once, no decorrelated second
      // aggregate + self-join. The IN-subquery's selectivity is statically
      // invisible (without runtime narrowing the full fact table shuffles
      // first — measured at sf30: 180 M rows / 6.2 GB shuffled to keep
      // 0.4%); the engine's DynamicSemiJoinPrune rule inlines the probed
      // part keys as an InSet scan filter at plan time.
      both("h02_min_cost_supplier", """
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
        FROM (
          SELECT ps_partkey, s_acctbal, s_name, n_name, ps_supplycost,
            min(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
          FROM (
            SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
              CAST(min(CAST(l_extendedprice AS DECIMAL(18,2)))
                   AS DECIMAL(18,2)) AS ps_supplycost
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_size = 15 AND p_type = 'ECONOMY')
            GROUP BY l_partkey, l_suppkey) ps,
            supplier, nation, region
          WHERE s_suppkey = ps_suppkey AND s_nationkey = n_nationkey
            AND n_regionkey = r_regionkey AND r_name = 'EUROPE') eu,
          part
        WHERE p_partkey = ps_partkey AND p_size = 15 AND p_type = 'ECONOMY'
          AND ps_supplycost = min_cost
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""),

      // Q4: order-priority checking (correlated EXISTS). Lateness predicate
      // adapted: shipped >60 days after order date (no commit/receipt dates
      // in the fixture).
      both("h04_order_priority", """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

      // Q9: product-type profit (6-way join, profit = revenue − supply
      // cost), supply costs from the derived partsupp. All decimal products
      // stay at exactly-representable scales (cost ×  integral quantity).
      // The derived partsupp is grouped by the SAME keys it joins back on
      // (l_partkey, l_suppkey), so the aggregate-join-back collapses to a
      // window min — one (partkey, suppkey) shuffle instead of a groupBy
      // plus a shuffled self-join, and the '%red%' part filter prunes
      // lineitem BEFORE the window: group membership is decided per
      // partkey, so the per-group min is unchanged. The prune runs as a
      // DYNAMIC FILTER: at the soak scales '%red%' keeps ~13% of part
      // (771 k keys at sf30) — over the IN-list tier, so
      // DynamicSemiJoinPrune picks the broadcast-semi tier and the 180 M-row fact never
      // shuffles for the semi join (only the 23 M surviving rows shuffle,
      // for the window). Oracle keeps the IN-subquery form.
      both("h09_product_profit", """
        SELECT nation, o_year, CAST(sum(amount) AS DECIMAL(38,4)) AS sum_profit
        FROM (
          SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                 AS DECIMAL(18,4)) -
            CAST(ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))
                 AS DECIMAL(18,4)) AS amount
          FROM (
            SELECT l_orderkey, l_suppkey, l_extendedprice, l_discount,
              l_quantity,
              CAST(min(CAST(l_extendedprice AS DECIMAL(18,2)))
                   OVER (PARTITION BY l_partkey, l_suppkey)
                   AS DECIMAL(18,2)) AS ps_supplycost
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE '%red%')) l,
            supplier, orders, nation
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND s_nationkey = n_nationkey) profit
        GROUP BY nation, o_year ORDER BY nation, o_year DESC"""),

      // Q11: important stock identification (grouped value vs global-share
      // scalar subquery) over the derived partsupp.
      both("h11_important_stock", s"""
        WITH $PSUPP
        SELECT ps_partkey, CAST(sum(ps_supplycost * ps_availqty) AS DECIMAL(38,6)) AS val
        FROM partsupp, supplier, nation
        WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_3'
        GROUP BY ps_partkey
        HAVING sum(ps_supplycost * ps_availqty) > (
          SELECT sum(ps_supplycost * ps_availqty) * 0.001
          FROM partsupp, supplier, nation
          WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
            AND n_name = 'NATION_3')
        ORDER BY val DESC, ps_partkey"""),

      // Q12: shipping modes vs order priority (join + conditional agg).
      // l_shipmode doesn't exist in the fixture; mode derives from
      // l_linenumber parity, lateness from the 30-day ship delay.
      both("h12_shipmode", """
        SELECT ship_mode,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM (
          SELECT o_orderpriority,
            CASE WHEN l_linenumber % 2 = 0 THEN 'MAIL' ELSE 'SHIP' END AS ship_mode
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01')
        GROUP BY ship_mode ORDER BY ship_mode"""),

      // Q16: supplier-part relationship counting (NOT IN + count distinct);
      // the comment-based supplier exclusion becomes a balance predicate.
      both("h16_supplier_cnt", s"""
        WITH $PSUPP
        SELECT p_brand, p_type, p_size,
          CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        FROM partsupp, part
        WHERE p_partkey = ps_partkey
          AND p_brand <> 'Brand#5' AND p_type NOT LIKE 'SMALL%'
          AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36)
          AND ps_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),

      // Q20: potential excess inventory (nested IN + correlated scalar
      // subquery) over the derived partsupp.
      both("h20_excess_stock", s"""
        WITH $PSUPP
        SELECT s_name, s_suppkey
        FROM supplier, nation
        WHERE s_suppkey IN (
            SELECT ps_suppkey FROM partsupp
            WHERE ps_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
              AND ps_availqty > (
                SELECT 0.5 * sum(CAST(l_quantity AS DECIMAL(18,2)))
                FROM lineitem
                WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                  AND l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'))
          AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
        ORDER BY s_name"""),

      // Q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS against
      // the same fact table); lateness adapted to the 60-day ship delay.
      // The two correlated quantifiers (EXISTS: another supplier in the
      // order; NOT EXISTS: no OTHER supplier late) fold into per-order
      // distinct-supplier counts: l1 is itself late, so "no other late
      // supplier" ⇔ the order has exactly one distinct late supplier. One
      // orderkey-partitioned aggregate replaces two shuffled semi/anti
      // joins of lineitem against itself (the correlated-quantifier PLAN
      // shape stays exercised by h04/q56-q59/q62).
      // The Spark side carries the per-order checks as WINDOWS over the
      // (order, supp) aggregate — the h02/h09 aggregate-join-back lesson
      // one level up: the naive CTE form evaluates lineitem⋈orders TWICE
      // (Spark does not materialize CTEs) and shuffles the line-level
      // relation a third time to join it back to the per-order aggregate;
      // here lineitem⋈orders runs once, the (orderkey, suppkey) rollup
      // carries n_late_lines (count(*) ≡ sum of late lines for the sole
      // late supplier), and both quantifiers read from one orderkey
      // window. The oracle keeps the aggregate-join-back formulation as
      // an independent recompute.
      "h21_waiting_supplier" -> Q(sql("""
        WITH lo AS (
          SELECT l_orderkey, l_suppkey,
            l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
          FROM lineitem, orders
          WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F'),
        ps AS (
          SELECT l_orderkey, l_suppkey, bool_or(late) AS any_late,
            sum(CASE WHEN late THEN 1 ELSE 0 END) AS n_late_lines
          FROM lo GROUP BY l_orderkey, l_suppkey),
        w AS (
          SELECT l_suppkey, n_late_lines, any_late,
            count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
            sum(CASE WHEN any_late THEN 1 ELSE 0 END)
              OVER (PARTITION BY l_orderkey) AS n_late_supp
          FROM ps)
        SELECT s_name, CAST(sum(n_late_lines) AS BIGINT) AS numwait
        FROM w, supplier, nation
        WHERE any_late AND n_supp > 1 AND n_late_supp = 1
          AND s_suppkey = l_suppkey
          AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"""),
        Some("""
        WITH lo AS (
          SELECT l_orderkey, l_suppkey,
            l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
          FROM lineitem, orders
          WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F'),
        ag AS (
          SELECT l_orderkey, count(*) AS n_supp,
            sum(CASE WHEN any_late THEN 1 ELSE 0 END) AS n_late_supp
          FROM (SELECT l_orderkey, l_suppkey, bool_or(late) AS any_late
                FROM lo GROUP BY l_orderkey, l_suppkey)
          GROUP BY l_orderkey)
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM lo l1, ag, supplier, nation
        WHERE ag.l_orderkey = l1.l_orderkey AND l1.late
          AND ag.n_supp > 1 AND ag.n_late_supp = 1
          AND s_suppkey = l1.l_suppkey
          AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""")),

      // Q22: global sales opportunity (anti join + above-average filter);
      // country code derives from c_nationkey (no phone column), and the
      // anti join is date-restricted (every fixture customer has orders).
      both("h22_global_sales", """
        SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
          CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS totacctbal
        FROM (
          SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal
          FROM customer
          WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
            AND c_acctbal > (
              SELECT CAST(avg(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,6))
              FROM customer
              WHERE c_acctbal > 0 AND c_nationkey % 10 IN (1, 3, 5, 7, 9))
            AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '2000-01-01')) custsale
        GROUP BY cntrycode ORDER BY cntrycode"""))
  }
}
