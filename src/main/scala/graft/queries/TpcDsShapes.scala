package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Q, Tables}

/** TPC-DS-shape suite — the reference's second benchmark surface
  * (presto-benchto-benchmarks/src/main/resources/sql/presto/tpcds/
  * …: q27/q47/q33/q11/q36 shapes), adapted to the fixture's star schema.
  * These exercise plan shapes the TPC-H headliners don't: ROLLUP above a
  * multi-dim star join, moving-window aggregates over a pre-aggregate,
  * multi-channel self-unions re-aggregated, year-over-year self-joins of
  * one aggregate, and ranks partitioned by grouping level.
  *
  * Every query is ONE SQL text run verbatim on both engines (Spark via
  * registerAll views, DuckDB as the oracle): money math through exact
  * DECIMAL casts, float averages rounded, rank orders fully tie-broken —
  * the determinism rules the rest of the corpus follows.
  *
  * Scale posture: ds01/ds05 are one fact scan + Expand (×3 grouping sets);
  * ds02/ds04 aggregate the fact once and window/self-join the SMALL
  * pre-aggregate (months / customer-years — never the fact); ds03's three
  * channel branches each scan-prune on the month predicate and union
  * BEFORE the dim join, so part is joined once. All dims broadcast.
  */
object TpcDsShapes {

  private def sql(text: String): (SparkSession, String) => DataFrame =
    (s, d) => { Tables.registerAll(s, d); s.sql(text) }

  private def entry(text: String): Q = Q(sql(text), Some(text))

  // DS q27 shape: star join (fact + 3 dims) under ROLLUP with grouping flags.
  private val DS01 = """
    SELECT n_name, p_brand,
      CAST(grouping(n_name) AS INT) AS g_n,
      CAST(grouping(p_brand) AS INT) AS g_b,
      count(*) AS n,
      round(avg(l_quantity), 4) AS avg_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_price
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 10
    GROUP BY ROLLUP(n_name, p_brand)"""

  // DS q47 shape: monthly revenue pre-aggregate, then a 3-month moving sum
  // and a rank per flag — window over the SMALL aggregate, never the fact.
  private val DS02 = """
    WITH monthly AS (
      SELECT l_returnflag AS flag,
        CAST(year(l_shipdate) AS INT) AS yr,
        CAST(month(l_shipdate) AS INT) AS mon,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM lineitem GROUP BY 1, 2, 3)
    SELECT flag, yr, mon, rev,
      CAST(sum(rev) OVER (PARTITION BY flag ORDER BY yr, mon
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS mov3,
      CAST(rank() OVER (PARTITION BY flag ORDER BY rev DESC, yr, mon) AS INT) AS rnk
    FROM monthly"""

  // DS q33/q71 shape: three "channel" aggregates of the fact unioned, then
  // re-aggregated per brand — the union happens on the pre-aggregates.
  private val DS03 = """
    WITH c1 AS (
      SELECT l_partkey AS pk,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev,
        'q1' AS channel
      FROM lineitem WHERE month(l_shipdate) <= 4 GROUP BY 1),
    c2 AS (
      SELECT l_partkey AS pk,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev,
        'q2' AS channel
      FROM lineitem WHERE month(l_shipdate) BETWEEN 5 AND 8 GROUP BY 1),
    c3 AS (
      SELECT l_partkey AS pk,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev,
        'q3' AS channel
      FROM lineitem WHERE month(l_shipdate) >= 9 GROUP BY 1)
    SELECT p_brand, channel,
      CAST(sum(rev) AS DECIMAL(38,2)) AS rev, count(*) AS parts
    FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3) u
    JOIN part ON pk = p_partkey
    GROUP BY 1, 2"""

  // DS q11/q4 shape: per-customer yearly totals, consecutive years
  // self-joined, growth ratio filtered — the self-join is on the
  // pre-aggregate (customer×year), not the fact.
  private val DS04 = """
    WITH yearly AS (
      SELECT o_custkey AS ck, CAST(year(o_orderdate) AS INT) AS yr,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
      FROM orders GROUP BY 1, 2)
    SELECT y1.ck AS custkey, y1.yr AS yr1, y1.total AS t1, y2.total AS t2,
      round(CAST(y2.total AS DOUBLE) / CAST(y1.total AS DOUBLE), 6) AS growth
    FROM yearly y1 JOIN yearly y2 ON y1.ck = y2.ck AND y2.yr = y1.yr + 1
    WHERE y2.total > y1.total"""

  // DS q36 shape: GROUPING SETS with count(DISTINCT), then rank
  // partitioned by grouping level over the aggregate.
  private val DS05 = """
    WITH g AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
        CAST(grouping(l_returnflag) AS INT) AS g_rf,
        CAST(grouping(l_linestatus) AS INT) AS g_ls,
        count(DISTINCT l_partkey) AS parts,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()))
    SELECT rf, ls, g_rf, g_ls, parts, qty,
      CAST(rank() OVER (PARTITION BY g_rf, g_ls
        ORDER BY qty DESC, rf NULLS LAST, ls NULLS LAST) AS INT) AS rnk
    FROM g"""

  // DS q88 shape: independent time-bucket counts, each its own scalar
  // subquery, cross-joined into one row (eight fact scans by
  // construction — the reference's benchto runs it exactly so).
  private val DS06 = """
    SELECT s1.c AS h1, s2.c AS h2, s3.c AS h3, s4.c AS h4,
           s5.c AS h5, s6.c AS h6, s7.c AS h7, s8.c AS h8
    FROM
      (SELECT count(*) AS c FROM lineitem WHERE month(l_shipdate) = 1 AND l_quantity < 30) s1,
      (SELECT count(*) AS c FROM lineitem WHERE month(l_shipdate) = 2 AND l_quantity < 30) s2,
      (SELECT count(*) AS c FROM lineitem WHERE month(l_shipdate) = 3 AND l_quantity < 30) s3,
      (SELECT count(*) AS c FROM lineitem WHERE month(l_shipdate) = 4 AND l_quantity < 30) s4,
      (SELECT count(*) AS c FROM lineitem WHERE month(l_shipdate) = 5 AND l_quantity < 30) s5,
      (SELECT count(*) AS c FROM lineitem WHERE month(l_shipdate) = 6 AND l_quantity < 30) s6,
      (SELECT count(*) AS c FROM lineitem WHERE month(l_shipdate) = 7 AND l_quantity < 30) s7,
      (SELECT count(*) AS c FROM lineitem WHERE month(l_shipdate) = 8 AND l_quantity < 30) s8"""

  // DS q67 shape: three-level ROLLUP then top-3 per returnflag by rank
  // over the aggregate (window above grouping sets, filtered).
  private val DS07 = """
    WITH agg AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
        CAST(year(l_shipdate) AS INT) AS yr,
        CAST(grouping(l_returnflag) AS INT) AS g_rf,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qty
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus, CAST(year(l_shipdate) AS INT))
    )
    SELECT rf, ls, yr, g_rf, qty, rnk FROM (
      SELECT rf, ls, yr, g_rf, qty,
        CAST(rank() OVER (PARTITION BY rf, g_rf
          ORDER BY qty DESC, ls NULLS LAST, yr NULLS LAST) AS INT) AS rnk
      FROM agg) t
    WHERE rnk <= 3"""

  // ---- round-13 breadth: one entry per remaining distinct DS shape ----
  // (reference inventory: presto-tpcds/.../TpcdsMetadata.java, benchmark
  // protocol presto-benchto-benchmarks/.../tpcds.yaml:17-44). Channels are
  // simulated with l_returnflag / priority classes on the fixture's star.

  // DS q4/q11 shape: one multi-channel per-customer-year CTE referenced
  // FOUR times — growth in one channel must beat growth in the other.
  private val DS08 = """
    WITH yt AS (
      SELECT o_custkey AS ck, CAST(year(o_orderdate) AS INT) AS yr,
        l_returnflag AS channel,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag IN ('R', 'A')
      GROUP BY 1, 2, 3)
    SELECT r1.ck AS custkey, r1.yr AS yr1,
      round(CAST(r2.total AS DOUBLE) / CAST(r1.total AS DOUBLE), 6) AS r_growth,
      round(CAST(a2.total AS DOUBLE) / CAST(a1.total AS DOUBLE), 6) AS a_growth
    FROM yt r1
    JOIN yt r2 ON r1.ck = r2.ck AND r2.yr = r1.yr + 1
      AND r1.channel = 'R' AND r2.channel = 'R'
    JOIN yt a1 ON a1.ck = r1.ck AND a1.yr = r1.yr AND a1.channel = 'A'
    JOIN yt a2 ON a2.ck = r1.ck AND a2.yr = r2.yr AND a2.channel = 'A'
    WHERE CAST(a2.total AS DOUBLE) / CAST(a1.total AS DOUBLE)
        > CAST(r2.total AS DOUBLE) / CAST(r1.total AS DOUBLE)"""

  // DS q10/q35 shape: EXISTS chain (two positive, one negative) over the
  // "date-dim filtered" activity tables, then demographic group counts.
  private val DS09 = """
    SELECT c_mktsegment, count(*) AS cnt, round(avg(c_acctbal), 4) AS avg_bal
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND year(o_orderdate) <= 1997)
      AND EXISTS (
        SELECT 1 FROM orders o JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o.o_custkey = c_custkey AND l_returnflag = 'R')
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment"""

  // DS q51 shape: two channels' monthly revenue FULL OUTER JOINed, running
  // cumulative sums compared — window over the union of the channels.
  private val DS10 = """
    WITH s AS (
      SELECT CAST(year(l_shipdate) AS INT) AS yr,
        CAST(month(l_shipdate) AS INT) AS mon,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2),
    w AS (
      SELECT CAST(year(l_shipdate) AS INT) AS yr,
        CAST(month(l_shipdate) AS INT) AS mon,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1, 2)
    SELECT yr, mon, s_cum, w_cum FROM (
      SELECT COALESCE(s.yr, w.yr) AS yr, COALESCE(s.mon, w.mon) AS mon,
        CAST(sum(COALESCE(s.rev, 0)) OVER (
          ORDER BY COALESCE(s.yr, w.yr), COALESCE(s.mon, w.mon)
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS s_cum,
        CAST(sum(COALESCE(w.rev, 0)) OVER (
          ORDER BY COALESCE(s.yr, w.yr), COALESCE(s.mon, w.mon)
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS w_cum
      FROM s FULL OUTER JOIN w ON s.yr = w.yr AND s.mon = w.mon) t
    WHERE w_cum > s_cum"""

  // DS q38/q14 shape: INTERSECT of three channels' distinct customer sets.
  private val DS11 = """
    SELECT count(*) AS common_customers FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
      INTERSECT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '3-MEDIUM') t"""

  // DS q6 shape: correlated average subquery (items priced 5% above
  // their brand's average).
  private val DS12 = """
    SELECT p_brand, count(*) AS pricey_parts
    FROM part p1
    WHERE p_retailprice > 1.05 * (
      SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p1.p_brand)
    GROUP BY p_brand"""

  // DS q2 shape: per-year revenue pivoted into quarter columns (FILTER
  // clause), self-joined year against year+1 for per-quarter ratios.
  private val DS13 = """
    WITH q AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE quarter(o_orderdate) = 1) AS DECIMAL(38,2)) AS q1,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE quarter(o_orderdate) = 2) AS DECIMAL(38,2)) AS q2,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE quarter(o_orderdate) = 3) AS DECIMAL(38,2)) AS q3,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE quarter(o_orderdate) = 4) AS DECIMAL(38,2)) AS q4
      FROM orders GROUP BY 1)
    SELECT a.yr AS yr,
      round(CAST(b.q1 AS DOUBLE) / CAST(a.q1 AS DOUBLE), 6) AS r1,
      round(CAST(b.q2 AS DOUBLE) / CAST(a.q2 AS DOUBLE), 6) AS r2,
      round(CAST(b.q3 AS DOUBLE) / CAST(a.q3 AS DOUBLE), 6) AS r3,
      round(CAST(b.q4 AS DOUBLE) / CAST(a.q4 AS DOUBLE), 6) AS r4
    FROM q a JOIN q b ON b.yr = a.yr + 1"""

  // DS q97 shape: FULL OUTER JOIN of two halves' distinct (customer, part)
  // baskets — exclusive/overlap counts.
  private val DS14 = """
    WITH h1 AS (
      SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE month(o_orderdate) <= 6),
    h2 AS (
      SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE month(o_orderdate) > 6)
    SELECT
      CAST(sum(CASE WHEN h1.ck IS NOT NULL AND h2.ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS first_only,
      CAST(sum(CASE WHEN h1.ck IS NULL AND h2.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS second_only,
      CAST(sum(CASE WHEN h1.ck IS NOT NULL AND h2.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both_halves
    FROM h1 FULL OUTER JOIN h2 ON h1.ck = h2.ck AND h1.pk = h2.pk"""

  // DS q49 shape: per-part return ratio ranked, worst offenders kept.
  private val DS15 = """
    SELECT pk, ratio, rnk FROM (
      SELECT pk, round(ret_qty / qty, 6) AS ratio,
        CAST(rank() OVER (ORDER BY ret_qty / qty DESC, pk) AS INT) AS rnk
      FROM (
        SELECT l_partkey AS pk,
          CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS DOUBLE) AS ret_qty,
          CAST(sum(l_quantity) AS DOUBLE) AS qty
        FROM lineitem GROUP BY 1) r
      WHERE qty > 0) t
    WHERE rnk <= 20"""

  // DS q90 shape: the ratio of two scalar-subquery counts (one row out).
  private val DS16 = """
    SELECT round(CAST(am.c AS DOUBLE) / CAST(pm.c AS DOUBLE), 6) AS am_pm_ratio
    FROM (SELECT count(*) AS c FROM lineitem WHERE month(l_shipdate) <= 6) am,
         (SELECT count(*) AS c FROM lineitem WHERE month(l_shipdate) > 6) pm"""

  // DS q47/q57 shape: monthly aggregate vs its year average, lag/lead
  // months attached, deviant months kept.
  private val DS17 = """
    SELECT rf, yr, mon, qty, yr_avg, prev_qty, next_qty FROM (
      SELECT rf, yr, mon, qty,
        round(avg(CAST(qty AS DOUBLE)) OVER (PARTITION BY rf, yr), 6) AS yr_avg,
        CAST(lag(qty) OVER (PARTITION BY rf ORDER BY yr, mon) AS DECIMAL(38,2)) AS prev_qty,
        CAST(lead(qty) OVER (PARTITION BY rf ORDER BY yr, mon) AS DECIMAL(38,2)) AS next_qty
      FROM (
        SELECT l_returnflag AS rf, CAST(year(l_shipdate) AS INT) AS yr,
          CAST(month(l_shipdate) AS INT) AS mon,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qty
        FROM lineitem GROUP BY 1, 2, 3) m) d
    WHERE yr_avg > 0 AND abs(CAST(qty AS DOUBLE) - yr_avg) / yr_avg > 0.1"""

  // DS q16/q95 shape: orders served by MORE THAN ONE supplier (EXISTS over
  // a self-join) with no returned line (NOT EXISTS).
  private val DS18 = """
    SELECT count(DISTINCT o_orderkey) AS order_count,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND EXISTS (
        SELECT 1 FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey
        WHERE l1.l_orderkey = o_orderkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = o_orderkey AND l3.l_returnflag = 'R')"""

  // DS q9 shape: CASE WHEN over scalar-subquery counts picking between
  // scalar-subquery averages, five quantity buckets, one row out.
  private val DS19 = """
    SELECT
      CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) > 1000
           THEN (SELECT round(avg(l_quantity), 6) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10)
           ELSE (SELECT round(avg(CAST(l_linenumber AS DOUBLE)), 6) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) END AS b1,
      CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) > 1000
           THEN (SELECT round(avg(l_quantity), 6) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20)
           ELSE (SELECT round(avg(CAST(l_linenumber AS DOUBLE)), 6) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) END AS b2,
      CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 21 AND 30) > 1000
           THEN (SELECT round(avg(l_quantity), 6) FROM lineitem WHERE l_quantity BETWEEN 21 AND 30)
           ELSE (SELECT round(avg(CAST(l_linenumber AS DOUBLE)), 6) FROM lineitem WHERE l_quantity BETWEEN 21 AND 30) END AS b3,
      CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 31 AND 40) > 1000
           THEN (SELECT round(avg(l_quantity), 6) FROM lineitem WHERE l_quantity BETWEEN 31 AND 40)
           ELSE (SELECT round(avg(CAST(l_linenumber AS DOUBLE)), 6) FROM lineitem WHERE l_quantity BETWEEN 31 AND 40) END AS b4,
      CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 41 AND 50) > 1000
           THEN (SELECT round(avg(l_quantity), 6) FROM lineitem WHERE l_quantity BETWEEN 41 AND 50)
           ELSE (SELECT round(avg(CAST(l_linenumber AS DOUBLE)), 6) FROM lineitem WHERE l_quantity BETWEEN 41 AND 50) END AS b5"""

  // DS q83 shape: a part's returned quantity in three date ranges joined,
  // each range's share of the combined total.
  private val DS20 = """
    WITH r1 AS (
      SELECT l_partkey AS pk,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS q
      FROM lineitem WHERE l_returnflag = 'R' AND month(l_shipdate) IN (1, 2, 3)
      GROUP BY 1),
    r2 AS (
      SELECT l_partkey AS pk,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS q
      FROM lineitem WHERE l_returnflag = 'R' AND month(l_shipdate) IN (4, 5, 6)
      GROUP BY 1),
    r3 AS (
      SELECT l_partkey AS pk,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS q
      FROM lineitem WHERE l_returnflag = 'R' AND month(l_shipdate) IN (7, 8, 9)
      GROUP BY 1)
    SELECT r1.pk AS pk, r1.q AS q1, r2.q AS q2, r3.q AS q3,
      round(CAST(r1.q AS DOUBLE) / CAST(r1.q + r2.q + r3.q AS DOUBLE) * 3, 6) AS share1,
      round(CAST(r2.q AS DOUBLE) / CAST(r1.q + r2.q + r3.q AS DOUBLE) * 3, 6) AS share2,
      round(CAST(r3.q AS DOUBLE) / CAST(r1.q + r2.q + r3.q AS DOUBLE) * 3, 6) AS share3
    FROM r1 JOIN r2 ON r1.pk = r2.pk JOIN r3 ON r1.pk = r3.pk"""

  // DS q75 shape: per-(year, brand) volume vs prior year, decreases kept.
  private val DS21 = """
    WITH s AS (
      SELECT CAST(year(l_shipdate) AS INT) AS yr, p_brand AS brand,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_returnflag IN ('A', 'N')
      GROUP BY 1, 2)
    SELECT cur.brand AS brand, prev.yr AS prev_yr, cur.yr AS cur_yr,
      prev.qty AS prev_qty, cur.qty AS cur_qty
    FROM s cur JOIN s prev ON cur.brand = prev.brand AND cur.yr = prev.yr + 1
    WHERE cur.qty < prev.qty"""

  // DS q54 shape: per-customer lifetime spend bucketed into revenue bands.
  private val DS22 = """
    WITH spend AS (
      SELECT o_custkey AS ck,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
      FROM orders GROUP BY 1)
    SELECT CAST(floor(CAST(total AS DOUBLE) / 50000) AS INT) AS bucket,
      count(*) AS customers
    FROM spend GROUP BY 1"""

  // DS q44 shape: best and worst performers by two opposite-direction
  // ranks over one aggregate, joined on rank position.
  private val DS23 = """
    WITH perf AS (
      SELECT l_partkey AS pk, round(avg(l_quantity), 6) AS aq
      FROM lineitem GROUP BY 1),
    best AS (
      SELECT pk, aq, CAST(rank() OVER (ORDER BY aq DESC, pk) AS INT) AS rnk
      FROM perf),
    worst AS (
      SELECT pk, aq, CAST(rank() OVER (ORDER BY aq ASC, pk) AS INT) AS rnk
      FROM perf)
    SELECT b.rnk AS rnk, b.pk AS best_pk, b.aq AS best_aq,
      w.pk AS worst_pk, w.aq AS worst_aq
    FROM best b JOIN worst w ON b.rnk = w.rnk
    WHERE b.rnk <= 10"""

  // DS q95/q41 shape: multi-supplier orders via a distinct-pair self-join,
  // then a CORRELATED COUNT subquery per qualifying order.
  private val DS24 = """
    WITH multi AS (
      SELECT l1.l_orderkey AS ok
      FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) l1
      JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey
      GROUP BY 1)
    SELECT count(*) AS multi_supplier_orders, CAST(sum(c) AS BIGINT) AS total_lines
    FROM (
      SELECT ok, (SELECT count(*) FROM lineitem WHERE l_orderkey = ok) AS c
      FROM multi) t"""

  // DS q31 shape: quarter-over-quarter growth per nation compared across
  // two channels (one channel must outgrow the other).
  private val DS25 = """
    WITH cn AS (
      SELECT n_name, CAST(quarter(o_orderdate) AS INT) AS qtr,
        l_returnflag AS channel,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE year(o_orderdate) = 1997 AND l_returnflag IN ('R', 'A')
      GROUP BY 1, 2, 3)
    SELECT r1.n_name AS nation, r1.qtr AS qtr,
      round(CAST(r2.rev AS DOUBLE) / CAST(r1.rev AS DOUBLE), 6) AS r_growth,
      round(CAST(a2.rev AS DOUBLE) / CAST(a1.rev AS DOUBLE), 6) AS a_growth
    FROM cn r1
    JOIN cn r2 ON r1.n_name = r2.n_name AND r2.qtr = r1.qtr + 1
      AND r1.channel = 'R' AND r2.channel = 'R'
    JOIN cn a1 ON a1.n_name = r1.n_name AND a1.qtr = r1.qtr AND a1.channel = 'A'
    JOIN cn a2 ON a2.n_name = r1.n_name AND a2.qtr = r2.qtr AND a2.channel = 'A'
    WHERE CAST(a2.rev AS DOUBLE) / CAST(a1.rev AS DOUBLE)
        > CAST(r2.rev AS DOUBLE) / CAST(r1.rev AS DOUBLE)"""

  // ── round 14: the still-unsampled DS plan families (verdict ask #5) ──

  // DS q36 shape: ROLLUP with a computed grouping-level column
  // (lochierarchy) and a rank PARTITIONED BY the level — including the
  // reference's CASE-on-grouping-flag partition key. Tie-breaks avoid
  // NULL ordering divergence via COALESCE.
  private val DS26 = """
    WITH agg AS (
      SELECT n_name, p_type,
        CAST(grouping(n_name) AS INT) + CAST(grouping(p_type) AS INT)
          AS lochierarchy,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS rev
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN part ON l_partkey = p_partkey
      WHERE p_size <= 15
      GROUP BY ROLLUP(n_name, p_type))
    SELECT lochierarchy, n_name, p_type, rev,
      CAST(rank() OVER (
        PARTITION BY lochierarchy,
          CASE WHEN lochierarchy = 0 THEN n_name END
        ORDER BY rev DESC, COALESCE(n_name, ''), COALESCE(p_type, ''))
        AS INT) AS rnk
    FROM agg"""

  // DS q64 shape: CTE-of-CTE chain — a star-join aggregate CTE self-joined
  // across adjacent years by a SECOND CTE, filtered on growth.
  private val DS27 = """
    WITH sales AS (
      SELECT p_brand AS brand, n_name AS nation,
        CAST(year(o_orderdate) AS INT) AS yr,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS rev
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_size <= 8
      GROUP BY 1, 2, 3),
    cross_year AS (
      SELECT s1.brand AS brand, s1.nation AS nation, s1.yr AS yr1,
        s2.yr AS yr2, s1.rev AS rev1, s2.rev AS rev2
      FROM sales s1
      JOIN sales s2 ON s1.brand = s2.brand AND s1.nation = s2.nation
        AND s2.yr = s1.yr + 1)
    SELECT brand, nation, yr1, yr2, rev1, rev2,
      round(CAST(rev2 AS DOUBLE) / CAST(rev1 AS DOUBLE), 6) AS growth
    FROM cross_year
    WHERE rev2 > rev1"""

  // DS q66 shape: share-of-total windows over a UNION ALL of two
  // channels (ship-month vs order-month), revenue share per nation.
  private val DS28 = """
    WITH channel AS (
      SELECT 'ship' AS ch, n_name,
        CAST(month(l_shipdate) AS INT) AS mon,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS rev
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE year(l_shipdate) = 1997
      GROUP BY 2, 3
      UNION ALL
      SELECT 'order' AS ch, n_name,
        CAST(month(o_orderdate) AS INT) AS mon,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS rev
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE year(o_orderdate) = 1997
      GROUP BY 2, 3)
    SELECT ch, n_name, mon, rev,
      round(CAST(rev AS DOUBLE) /
        CAST(sum(rev) OVER (PARTITION BY ch, n_name) AS DOUBLE), 6)
        AS share
    FROM channel"""

  // DS q87 shape: COUNT over an EXCEPT of distinct customer sets
  // (building-segment buyers who never returned an item).
  private val DS29 = """
    SELECT count(*) AS never_returned
    FROM (
      SELECT DISTINCT c_custkey
      FROM customer JOIN orders ON c_custkey = o_custkey
      WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT DISTINCT c_custkey
      FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'R') t"""

  // DS q23 shape: frequent-items CTE (HAVING count > k) + best-customers
  // CTE, then the spend of best customers on frequent parts only.
  private val DS30 = """
    WITH frequent_parts AS (
      SELECT l_partkey FROM lineitem
      GROUP BY 1 HAVING count(*) > 3),
    best_customers AS (
      SELECT o_custkey FROM orders
      GROUP BY 1
      HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        > 500000),
    spend AS (
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        AS DECIMAL(38,2)) AS total
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE l_partkey IN (SELECT l_partkey FROM frequent_parts)
        AND o_custkey IN (SELECT o_custkey FROM best_customers))
    SELECT total FROM spend"""

  // DS q78 shape: per (customer, year) channel sums through a LEFT JOIN
  // of two pre-aggregates with a null-guarded ratio.
  private val DS31 = """
    WITH kept AS (
      SELECT o_custkey AS ck, CAST(year(o_orderdate) AS INT) AS yr,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS rev
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'N'
      GROUP BY 1, 2),
    returned AS (
      SELECT o_custkey AS ck, CAST(year(o_orderdate) AS INT) AS yr,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS rev
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'R'
      GROUP BY 1, 2)
    SELECT k.ck AS ck, k.yr AS yr, k.rev AS kept_rev, r.rev AS ret_rev,
      round(CASE WHEN r.rev IS NULL THEN 0.0
        ELSE CAST(r.rev AS DOUBLE) / CAST(k.rev AS DOUBLE) END, 6)
        AS return_ratio
    FROM kept k
    LEFT JOIN returned r ON k.ck = r.ck AND k.yr = r.yr
    WHERE k.rev > 10000"""

  // DS q93 shape: per-order NET value after returns (returned lines
  // subtract), via a conditional sum over the fact.
  private val DS32 = """
    SELECT o_orderkey,
      CAST(sum(CASE WHEN l_returnflag = 'R'
        THEN -CAST(l_extendedprice AS DECIMAL(18,2))
        ELSE CAST(l_extendedprice AS DECIMAL(18,2)) END)
        AS DECIMAL(38,2)) AS net_value,
      count(*) AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
    HAVING sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) > 0
    ORDER BY net_value DESC, o_orderkey LIMIT 25"""

  // DS q49 shape: DUAL ranks per nation (by quantity and by revenue),
  // keep brands in the top 10 of BOTH rankings.
  private val DS33 = """
    WITH base AS (
      SELECT n_name, p_brand,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS rev
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT n_name, p_brand, qty, rev,
        CAST(rank() OVER (PARTITION BY n_name
          ORDER BY qty DESC, p_brand) AS INT) AS qty_rnk,
        CAST(rank() OVER (PARTITION BY n_name
          ORDER BY rev DESC, p_brand) AS INT) AS rev_rnk
      FROM base)
    SELECT n_name, p_brand, qty_rnk, rev_rnk
    FROM ranked
    WHERE qty_rnk <= 10 AND rev_rnk <= 10"""

  // DS q34/q73 shape: order-size bucket (orders of 5..7 lines), then the
  // buying customers — dim join AFTER the HAVING-banded pre-aggregate.
  private val DS34 = """
    WITH sized AS (
      SELECT l_orderkey, count(*) AS n_lines
      FROM lineitem GROUP BY 1
      HAVING count(*) BETWEEN 5 AND 7)
    SELECT c_custkey, c_name, count(*) AS qualifying_orders,
      CAST(sum(s.n_lines) AS BIGINT) AS total_lines
    FROM sized s
    JOIN orders ON s.l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
    HAVING count(*) >= 2"""

  // DS q17 statistics-gate shape: brands whose quantity spread is wide
  // (stddev above a bound), with the mean/deviation reported rounded.
  private val DS35 = """
    SELECT p_brand,
      round(avg(CAST(l_quantity AS DOUBLE)), 4) AS mean_qty,
      round(stddev_samp(CAST(l_quantity AS DOUBLE)), 4) AS sd_qty,
      count(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    HAVING count(*) >= 20
      AND stddev_samp(CAST(l_quantity AS DOUBLE))
        > avg(CAST(l_quantity AS DOUBLE)) * 0.5"""

  // DS q53/q63 shape: monthly brand revenue vs the brand's average month
  // (windowed avg over the pre-aggregate; the gate rides a second level —
  // window results cannot sit in WHERE).
  private val DS36 = """
    WITH monthly AS (
      SELECT p_brand, CAST(month(l_shipdate) AS INT) AS mon,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_size <= 5
      GROUP BY 1, 2),
    windowed AS (
      SELECT p_brand, mon, rev,
        avg(CAST(rev AS DOUBLE)) OVER (PARTITION BY p_brand) AS avg_m
      FROM monthly)
    SELECT p_brand, mon, rev,
      round(avg_m, 4) AS avg_month,
      round(CAST(rev AS DOUBLE) / avg_m, 6) AS ratio
    FROM windowed
    WHERE CAST(rev AS DOUBLE) > 1.2 * avg_m"""

  // DS q90 shape: ratio of two disjoint-range counts of one fact
  // (first-half vs second-half shipping months per nation).
  private val DS37 = """
    SELECT n_name,
      CAST(sum(CASE WHEN month(l_shipdate) <= 6 THEN 1 ELSE 0 END)
        AS BIGINT) AS h1_lines,
      CAST(sum(CASE WHEN month(l_shipdate) > 6 THEN 1 ELSE 0 END)
        AS BIGINT) AS h2_lines,
      round(CAST(sum(CASE WHEN month(l_shipdate) <= 6 THEN 1 ELSE 0 END)
          AS DOUBLE) /
        CAST(sum(CASE WHEN month(l_shipdate) > 6 THEN 1 ELSE 0 END)
          AS DOUBLE), 6) AS am_pm_ratio
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1
    HAVING sum(CASE WHEN month(l_shipdate) > 6 THEN 1 ELSE 0 END) > 0"""

  // DS q5 shape: two channel pre-aggregates UNIONed, then ROLLUP with
  // grouping flags over the union (report across channels + grand total).
  private val DS38 = """
    WITH sales AS (
      SELECT 'catalog' AS channel, n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS rev
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE l_returnflag = 'N'
      GROUP BY 2
      UNION ALL
      SELECT 'store' AS channel, n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS rev
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY 2)
    SELECT channel, n_name,
      CAST(grouping(channel) AS INT) AS g_c,
      CAST(grouping(n_name) AS INT) AS g_n,
      CAST(sum(rev) AS DECIMAL(38,2)) AS total_rev
    FROM sales
    GROUP BY ROLLUP(channel, n_name)"""

  // DS q35 shape: customers qualified by an IN-subquery AND an EXISTS,
  // then aggregated per nation with several stats.
  private val DS39 = """
    SELECT c_nationkey, count(*) AS n,
      round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        / count(*), 4) AS avg_bal,
      CAST(max(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS max_bal
    FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
      AND EXISTS (
        SELECT 1 FROM orders o2 JOIN lineitem ON o2.o_orderkey = l_orderkey
        WHERE o2.o_custkey = c_custkey AND l_returnflag = 'R')
    GROUP BY 1"""

  // DS q69 shape: customers with activity in one channel and NOT EXISTS
  // in two others.
  private val DS40 = """
    SELECT c_mktsegment, count(*) AS n
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND year(o_orderdate) = 1997)
      AND NOT EXISTS (
        SELECT 1 FROM orders o2 JOIN lineitem ON o2.o_orderkey = l_orderkey
        WHERE o2.o_custkey = c_custkey AND l_returnflag = 'R'
          AND year(o2.o_orderdate) = 1997)
      AND NOT EXISTS (
        SELECT 1 FROM orders o3 WHERE o3.o_custkey = c_custkey
          AND o3.o_orderpriority = '1-URGENT'
          AND year(o3.o_orderdate) = 1997)
    GROUP BY 1"""

  // DS q25/q29 shape: the same customer's order volume in three
  // consecutive months, chained through self-joins of one pre-aggregate.
  private val DS41 = """
    WITH m AS (
      SELECT o_custkey AS ck, CAST(month(o_orderdate) AS INT) AS mon,
        count(*) AS n
      FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1, 2)
    SELECT m1.ck AS ck, m1.mon AS mon,
      CAST(m1.n AS BIGINT) AS n1, CAST(m2.n AS BIGINT) AS n2,
      CAST(m3.n AS BIGINT) AS n3
    FROM m m1
    JOIN m m2 ON m1.ck = m2.ck AND m2.mon = m1.mon + 1
    JOIN m m3 ON m1.ck = m3.ck AND m3.mon = m1.mon + 2
    WHERE m1.n <= m2.n AND m2.n <= m3.n"""

  // DS q92 shape: rows above 1.3x the per-key correlated average —
  // the excess-discount scalar gate.
  private val DS42 = """
    SELECT CAST(count(*) AS BIGINT) AS n_excess,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
        AS excess_rev
    FROM lineitem l1
    WHERE CAST(l_extendedprice AS DOUBLE) > 1.3 * (
      SELECT avg(CAST(l2.l_extendedprice AS DOUBLE))
      FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)"""

  // DS q98/q89 shape: revenue share of each type WITHIN its brand
  // (window over the brand partition of a two-level pre-aggregate).
  private val DS43 = """
    WITH bt AS (
      SELECT p_brand, p_type,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2)
    SELECT p_brand, p_type, rev,
      round(CAST(rev AS DOUBLE) / brand_total, 6) AS brand_share
    FROM (
      SELECT p_brand, p_type, rev,
        CAST(sum(rev) OVER (PARTITION BY p_brand) AS DOUBLE) AS brand_total
      FROM bt) w
    WHERE CAST(rev AS DOUBLE) > 0.2 * brand_total"""

  // DS q40 shape: per-part net sold BEFORE vs AFTER a pivot date
  // (CASE sums around the date, one fact pass).
  private val DS44 = """
    SELECT p_brand,
      CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1997-07-01'
        THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2))
        END) AS DECIMAL(38,2)) AS qty_before,
      CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-07-01'
        THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2))
        END) AS DECIMAL(38,2)) AS qty_after
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 12
    GROUP BY 1"""

  // DS q86 shape: ROLLUP + share-of-parent + rank within the grouping
  // level (the self-referencing window over grouping sets).
  private val DS45 = """
    WITH agg AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
        CAST(grouping(l_returnflag) AS INT) + CAST(grouping(l_linestatus) AS INT)
          AS lochierarchy,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qty
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus))
    SELECT rf, ls, lochierarchy, qty,
      CAST(rank() OVER (PARTITION BY lochierarchy,
          CASE WHEN lochierarchy = 0 THEN rf END
        ORDER BY qty DESC, COALESCE(rf, ''), COALESCE(ls, '')) AS INT)
        AS rnk,
      round(CAST(qty AS DOUBLE) /
        CAST(sum(qty) OVER (PARTITION BY lochierarchy,
          CASE WHEN lochierarchy = 0 THEN rf END) AS DOUBLE), 6)
        AS level_share
    FROM agg"""

  // ── Round 15: the four families the round-14 verdict named as still
  // unsampled (returns-chained multi-channel profit q5/q77, inventory
  // before/after windows q21/q22 over the derived-partsupp analogue,
  // cross-channel returns-vs-peer-average q30/q81, mutual-exclusion
  // EXISTS combinations q35), plus q16/q50/q54/q59/q78/q90/q97/q31/q34/
  // q88 plan families. Channel analogue: o_orderpriority buckets. ──

  // DS q5/q77 shape: per-channel profit statement — gross sales, returned
  // value, net profit — ROLLUP'd to a grand total with grouping flags.
  private val DS46 = """
    SELECT
      CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'expedited'
           WHEN o_orderpriority = '3-MEDIUM' THEN 'standard'
           ELSE 'economy' END AS channel,
      CAST(grouping(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        THEN 'expedited' WHEN o_orderpriority = '3-MEDIUM' THEN 'standard'
        ELSE 'economy' END) AS INT) AS g_c,
      CAST(sum(CASE WHEN l_returnflag <> 'R'
        THEN CAST(l_extendedprice AS DECIMAL(18,2))
        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS gross_sales,
      CAST(sum(CASE WHEN l_returnflag = 'R'
        THEN CAST(l_extendedprice AS DECIMAL(18,2))
        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS returned_value,
      CAST(sum(CASE WHEN l_returnflag <> 'R'
        THEN CAST(l_extendedprice AS DECIMAL(18,2))
        ELSE -CAST(l_extendedprice AS DECIMAL(18,2)) END)
        AS DECIMAL(38,2)) AS net_profit
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE year(o_orderdate) = 1997
    GROUP BY ROLLUP(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 'expedited' WHEN o_orderpriority = '3-MEDIUM' THEN 'standard'
      ELSE 'economy' END)"""

  // DS q21 shape: stock movement before/after a pivot date per
  // (nation, brand) over the derived-partsupp analogue, both sides
  // non-empty, ratio bounded to [2/3, 3/2].
  private val DS47 = """
    SELECT n_name, p_brand,
      CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
        THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_before,
      CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
        THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_after,
      round(CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
          THEN l_quantity ELSE 0 END) AS DOUBLE) /
        CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
          THEN l_quantity ELSE 0 END) AS DOUBLE), 6) AS ratio
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-07-01'
      AND l_shipdate < TIMESTAMP '1998-07-01'
      AND p_size <= 20
    GROUP BY 1, 2
    HAVING sum(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
        THEN l_quantity ELSE 0 END) > 0
      AND sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
        THEN l_quantity ELSE 0 END) > 0
      AND CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
          THEN l_quantity ELSE 0 END) AS DOUBLE) /
        CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
          THEN l_quantity ELSE 0 END) AS DOUBLE) BETWEEN 0.666667 AND 1.5
    ORDER BY n_name, p_brand LIMIT 100"""

  // DS q22 shape: average "quantity on hand" ROLLUP'd down the
  // (brand, type, size) hierarchy over the inventory window.
  private val DS48 = """
    SELECT p_brand, p_type, p_size,
      round(avg(l_quantity), 4) AS avg_qty,
      count(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY ROLLUP(p_brand, p_type, p_size)
    ORDER BY avg_qty, COALESCE(p_brand, ''), COALESCE(p_type, ''),
      COALESCE(p_size, -1) LIMIT 100"""

  // DS q30/q81 shape: customers whose returned value exceeds 1.2x their
  // nation's average returned value — correlated scalar over the same
  // pre-aggregate it filters.
  private val DS49 = """
    WITH cr AS (
      SELECT c_nationkey AS nk, c_custkey AS ck,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS ret
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE l_returnflag = 'R'
      GROUP BY 1, 2)
    SELECT c_name, n_name, ret
    FROM cr c0
    JOIN customer ON c0.ck = c_custkey
    JOIN nation ON c0.nk = n_nationkey
    WHERE CAST(ret AS DOUBLE) > (
      SELECT 1.2 * avg(CAST(c1.ret AS DOUBLE)) FROM cr c1 WHERE c1.nk = c0.nk)
    ORDER BY ret DESC, c_name LIMIT 50"""

  // DS q35 shape: customers active in H1-1997 who ALSO show at least one
  // of two other behaviours (OR of EXISTS — the mutual-inclusion variant
  // of ds40's AND/NOT-EXISTS chain), profiled per segment and nation.
  private val DS50 = """
    SELECT c_mktsegment, n_name, count(*) AS n_cust,
      CAST(floor(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) /
        count(*)) AS BIGINT) AS avg_bal_floor
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-07-01')
      AND (EXISTS (
          SELECT 1 FROM orders o2 WHERE o2.o_custkey = c_custkey
            AND o2.o_orderpriority = '1-URGENT'
            AND year(o2.o_orderdate) = 1997)
        OR EXISTS (
          SELECT 1 FROM orders o3 JOIN lineitem ON o3.o_orderkey = l_orderkey
          WHERE o3.o_custkey = c_custkey AND l_returnflag = 'R'
            AND year(o3.o_orderdate) = 1997))
    GROUP BY 1, 2"""

  // DS q16 shape: DISTINCT-order count where another line of the SAME
  // order ships from a different supplier AND no line was returned.
  private val DS51 = """
    SELECT o_orderstatus,
      CAST(count(DISTINCT o_orderkey) AS BIGINT) AS order_count,
      CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_value
    FROM orders JOIN lineitem l1 ON o_orderkey = l1.l_orderkey
    WHERE o_orderpriority = '5-LOW'
      AND year(o_orderdate) = 1997
      AND EXISTS (
        SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = o_orderkey
          AND l2.l_partkey <> l1.l_partkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = o_orderkey
          AND l3.l_returnflag = 'R')
    GROUP BY 1"""

  // DS q50 shape: ship-latency bucket pivot per supplier nation
  // (portable day arithmetic through INTERVAL comparisons).
  private val DS52 = """
    SELECT n_name,
      CAST(sum(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY
        THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
        AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
        THEN 1 ELSE 0 END) AS BIGINT) AS d60,
      CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        THEN 1 ELSE 0 END) AS BIGINT) AS d90,
      CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        THEN 1 ELSE 0 END) AS BIGINT) AS d_over90
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE year(o_orderdate) = 1997
    GROUP BY 1 ORDER BY 1"""

  // DS q34/q73 shape: customers with REPEATED big baskets (8..13 lines
  // per order — the fixture's per-order line count tops out at 13 — at
  // least two such orders).
  private val DS53 = """
    WITH big AS (
      SELECT o_custkey AS ck, o_orderkey,
        count(*) AS n_lines
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
      HAVING count(*) BETWEEN 8 AND 13)
    SELECT c_name, c_mktsegment,
      CAST(count(*) AS BIGINT) AS big_orders
    FROM big JOIN customer ON ck = c_custkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    ORDER BY big_orders DESC, c_name LIMIT 100"""

  // DS q90 shape: first-half vs second-half activity ratio per year.
  private val DS54 = """
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
      CAST(sum(CASE WHEN month(o_orderdate) <= 6 THEN 1 ELSE 0 END)
        AS BIGINT) AS h1_orders,
      CAST(sum(CASE WHEN month(o_orderdate) > 6 THEN 1 ELSE 0 END)
        AS BIGINT) AS h2_orders,
      round(CAST(sum(CASE WHEN month(o_orderdate) <= 6 THEN 1 ELSE 0 END)
          AS DOUBLE) /
        CAST(sum(CASE WHEN month(o_orderdate) > 6 THEN 1 ELSE 0 END)
          AS DOUBLE), 6) AS am_pm_ratio
    FROM orders
    GROUP BY 1
    HAVING sum(CASE WHEN month(o_orderdate) > 6 THEN 1 ELSE 0 END) > 0
    ORDER BY 1"""

  // DS q54 shape: first-purchase cohorts — customers grouped by the
  // quarter of their FIRST order, with their spend inside the following
  // 90 days (the aggregate-join-back is on the small per-customer min).
  private val DS55 = """
    WITH first_order AS (
      SELECT o_custkey AS ck, min(o_orderdate) AS fd
      FROM orders GROUP BY 1)
    SELECT CAST(year(fd) AS INT) AS cohort_yr,
      CAST(quarter(fd) AS INT) AS cohort_q,
      CAST(count(DISTINCT ck) AS BIGINT) AS n_cust,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
        AS spend_90d
    FROM first_order
    JOIN orders ON o_custkey = ck
      AND o_orderdate < fd + INTERVAL 90 DAY
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // DS q78 shape: per (customer, year) returned-to-kept quantity ratio,
  // customers who returned at least something, worst first.
  private val DS56 = """
    SELECT CAST(year(o_orderdate) AS INT) AS yr, o_custkey,
      CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
        ELSE 0 END) AS BIGINT) AS ret_qty,
      CAST(sum(CASE WHEN l_returnflag <> 'R' THEN CAST(l_quantity AS BIGINT)
        ELSE 0 END) AS BIGINT) AS kept_qty,
      round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END)
          AS DOUBLE) /
        CAST(sum(CASE WHEN l_returnflag <> 'R' THEN l_quantity ELSE 0 END)
          AS DOUBLE), 6) AS ret_ratio
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2
    HAVING sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) > 0
      AND sum(CASE WHEN l_returnflag <> 'R' THEN l_quantity ELSE 0 END) > 0
    ORDER BY ret_ratio DESC, yr, o_custkey LIMIT 50"""

  // DS q59 shape: monthly revenue, this-year vs last-year self-join of
  // the SAME calendar pre-aggregate.
  private val DS57 = """
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
        CAST(month(o_orderdate) AS INT) AS mon,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM orders GROUP BY 1, 2)
    SELECT a.mon AS mon, a.rev AS rev_1997, b.rev AS rev_1996,
      round(CAST(a.rev AS DOUBLE) / CAST(b.rev AS DOUBLE), 6) AS yoy
    FROM monthly a JOIN monthly b
      ON a.mon = b.mon AND a.yr = 1997 AND b.yr = 1996
    ORDER BY mon"""

  // DS q97 shape: FULL OUTER JOIN of two period pre-aggregates — parts
  // sold in both years / 1996 only / 1997 only, one row out.
  private val DS58 = """
    WITH y96 AS (
      SELECT l_partkey AS pk FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE year(o_orderdate) = 1996 GROUP BY 1),
    y97 AS (
      SELECT l_partkey AS pk FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE year(o_orderdate) = 1997 GROUP BY 1)
    SELECT
      CAST(sum(CASE WHEN a.pk IS NOT NULL AND b.pk IS NOT NULL
        THEN 1 ELSE 0 END) AS BIGINT) AS both_years,
      CAST(sum(CASE WHEN a.pk IS NOT NULL AND b.pk IS NULL
        THEN 1 ELSE 0 END) AS BIGINT) AS only_1996,
      CAST(sum(CASE WHEN a.pk IS NULL AND b.pk IS NOT NULL
        THEN 1 ELSE 0 END) AS BIGINT) AS only_1997
    FROM y96 a FULL OUTER JOIN y97 b ON a.pk = b.pk"""

  // DS q31 shape: quarter-over-quarter growth of one segment compared
  // against another segment's growth in the SAME nation.
  private val DS59 = """
    WITH seg AS (
      SELECT c_nationkey AS nk, c_mktsegment AS seg,
        CAST(quarter(o_orderdate) AS INT) AS q,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE year(o_orderdate) = 1997
        AND c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY 1, 2, 3)
    SELECT n_name,
      round(CAST(b2.rev AS DOUBLE) / CAST(b1.rev AS DOUBLE), 6) AS building_growth,
      round(CAST(m2.rev AS DOUBLE) / CAST(m1.rev AS DOUBLE), 6) AS machinery_growth
    FROM seg b1 JOIN seg b2
        ON b1.nk = b2.nk AND b1.seg = 'BUILDING' AND b2.seg = 'BUILDING'
        AND b1.q = 1 AND b2.q = 2
      JOIN seg m1 ON m1.nk = b1.nk AND m1.seg = 'MACHINERY' AND m1.q = 1
      JOIN seg m2 ON m2.nk = b1.nk AND m2.seg = 'MACHINERY' AND m2.q = 2
      JOIN nation ON b1.nk = n_nationkey
    WHERE CAST(b2.rev AS DOUBLE) / CAST(b1.rev AS DOUBLE) >
      CAST(m2.rev AS DOUBLE) / CAST(m1.rev AS DOUBLE)
    ORDER BY n_name"""

  // DS q88 shape: one row of 8 independent bucket counts (quantity range
  // x return flag), each a CASE-sum over a single fact scan.
  private val DS60 = """
    SELECT
      CAST(sum(CASE WHEN l_quantity <= 10 AND l_returnflag = 'R'
        THEN 1 ELSE 0 END) AS BIGINT) AS q10_r,
      CAST(sum(CASE WHEN l_quantity <= 10 AND l_returnflag <> 'R'
        THEN 1 ELSE 0 END) AS BIGINT) AS q10_k,
      CAST(sum(CASE WHEN l_quantity > 10 AND l_quantity <= 25
        AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS q25_r,
      CAST(sum(CASE WHEN l_quantity > 10 AND l_quantity <= 25
        AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS q25_k,
      CAST(sum(CASE WHEN l_quantity > 25 AND l_quantity <= 40
        AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS q40_r,
      CAST(sum(CASE WHEN l_quantity > 25 AND l_quantity <= 40
        AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS q40_k,
      CAST(sum(CASE WHEN l_quantity > 40 AND l_returnflag = 'R'
        THEN 1 ELSE 0 END) AS BIGINT) AS qhi_r,
      CAST(sum(CASE WHEN l_quantity > 40 AND l_returnflag <> 'R'
        THEN 1 ELSE 0 END) AS BIGINT) AS qhi_k
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'"""

  // ── Round 16: ds61–ds75, the next 15 TPC-DS families (verdict ask #8;
  // no new operators — joins/windows/subqueries the engine already has).

  // DS q15 shape: suppliers within 5% of the maximum supplier revenue
  // (scalar MAX subquery over the same pre-aggregate).
  private val DS61 = """
    WITH srev AS (
      SELECT l_suppkey AS sk,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM lineitem GROUP BY 1)
    SELECT s_name, rev
    FROM srev JOIN supplier ON sk = s_suppkey
    WHERE CAST(rev AS DOUBLE) >=
      0.95 * (SELECT max(CAST(rev AS DOUBLE)) FROM srev)
    ORDER BY rev DESC, s_name"""

  // DS q62 shape: fulfillment-latency day buckets per order priority
  // (ship lag = first ship date minus order date).
  private val DS62 = """
    WITH lag AS (
      SELECT o_orderpriority AS pri, o_orderdate AS od,
        min(l_shipdate) AS fs
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE year(o_orderdate) = 1997
      GROUP BY o_orderkey, o_orderpriority, o_orderdate)
    SELECT pri,
      CAST(sum(CASE WHEN fs <= od + INTERVAL 30 DAY
        THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      CAST(sum(CASE WHEN fs > od + INTERVAL 30 DAY
        AND fs <= od + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d60,
      CAST(sum(CASE WHEN fs > od + INTERVAL 60 DAY
        AND fs <= od + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d90,
      CAST(sum(CASE WHEN fs > od + INTERVAL 90 DAY
        THEN 1 ELSE 0 END) AS BIGINT) AS dlate
    FROM lag GROUP BY pri ORDER BY pri"""

  // DS q89 shape: monthly brand revenue vs the brand's own monthly
  // average for the year — months deviating by more than 20%.
  private val DS63 = """
    WITH m AS (
      SELECT p_brand AS brand, CAST(month(l_shipdate) AS INT) AS mon,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(l_shipdate) = 1997 AND p_size <= 5
      GROUP BY 1, 2)
    , w AS (
      SELECT brand, mon, rev,
        CAST(sum(rev) OVER (PARTITION BY brand) AS DECIMAL(38,2))
          AS brand_sum,
        CAST(count(*) OVER (PARTITION BY brand) AS BIGINT) AS n_mon
      FROM m)
    SELECT brand, mon, rev, brand_sum, n_mon
    FROM w
    WHERE CAST(rev AS DOUBLE) * CAST(n_mon AS DOUBLE) >
      1.2 * CAST(brand_sum AS DOUBLE)
    ORDER BY brand, mon"""

  // DS q98 shape: ratio-to-report — each part type's share of its
  // brand's revenue (window sum above an aggregate).
  private val DS64 = """
    WITH t AS (
      SELECT p_brand AS brand, p_type AS typ,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_size = 1 GROUP BY 1, 2)
    , w AS (
      SELECT brand, typ, rev,
        sum(CAST(rev AS DOUBLE)) OVER (PARTITION BY brand) AS brand_rev
      FROM t)
    SELECT brand, typ, rev,
      round(CAST(rev AS DOUBLE) / brand_rev, 6) AS share
    FROM w WHERE CAST(rev AS DOUBLE) > 0.5 * brand_rev
    ORDER BY brand, typ"""

  // DS q65 shape: suppliers whose revenue is below 80% of the average
  // supplier revenue (agg + scalar AVG subquery + dim join back).
  private val DS65 = """
    WITH srev AS (
      SELECT l_suppkey AS sk,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM lineitem WHERE year(l_shipdate) = 1997 GROUP BY 1)
    SELECT s_name, n_name, rev
    FROM srev JOIN supplier ON sk = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE CAST(rev AS DOUBLE) <
      0.8 * (SELECT avg(CAST(rev AS DOUBLE)) FROM srev)
    ORDER BY rev, s_name"""

  // DS q54 shape: Q1-1997 buyers' Q2 spend-change buckets.
  private val DS66 = """
    WITH q1 AS (
      SELECT o_custkey AS ck,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s
      FROM orders WHERE year(o_orderdate) = 1997 AND quarter(o_orderdate) = 1
      GROUP BY 1),
    q2 AS (
      SELECT o_custkey AS ck,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s
      FROM orders WHERE year(o_orderdate) = 1997 AND quarter(o_orderdate) = 2
      GROUP BY 1)
    SELECT
      CAST(sum(CASE WHEN q2.ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS churned,
      CAST(sum(CASE WHEN q2.ck IS NOT NULL
        AND CAST(q2.s AS DOUBLE) < CAST(q1.s AS DOUBLE)
        THEN 1 ELSE 0 END) AS BIGINT) AS shrunk,
      CAST(sum(CASE WHEN q2.ck IS NOT NULL
        AND CAST(q2.s AS DOUBLE) >= CAST(q1.s AS DOUBLE)
        THEN 1 ELSE 0 END) AS BIGINT) AS grew
    FROM q1 LEFT JOIN q2 ON q1.ck = q2.ck"""

  // DS q25 shape: customers who RETURNED something in 1996 and ordered
  // again in 1997 — count + 1997 spend per nation.
  private val DS67 = """
    WITH returned AS (
      SELECT DISTINCT o_custkey AS ck
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'R' AND year(o_orderdate) = 1996),
    next_year AS (
      SELECT o_custkey AS ck,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s
      FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1)
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
      CAST(sum(s) AS DECIMAL(38,2)) AS spend_1997
    FROM returned JOIN next_year ON returned.ck = next_year.ck
    JOIN customer ON c_custkey = returned.ck
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name"""

  // DS q34/q73 shape: mid-size baskets (orders of 5–7 line items),
  // customers holding more than one such basket.
  private val DS68 = """
    WITH baskets AS (
      SELECT o_custkey AS ck, o_orderkey, count(*) AS items
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_custkey, o_orderkey
      HAVING count(*) BETWEEN 5 AND 7)
    SELECT ck AS c_custkey, CAST(count(*) AS BIGINT) AS n_baskets,
      CAST(sum(items) AS BIGINT) AS n_items
    FROM baskets GROUP BY ck
    HAVING count(*) >= 4
    ORDER BY n_baskets DESC, c_custkey"""

  // DS q90 shape: H1-vs-H2 shipping volume ratio per return flag.
  private val DS69 = """
    SELECT l_returnflag,
      CAST(sum(CASE WHEN month(l_shipdate) <= 6 THEN 1 ELSE 0 END)
        AS BIGINT) AS h1,
      CAST(sum(CASE WHEN month(l_shipdate) > 6 THEN 1 ELSE 0 END)
        AS BIGINT) AS h2,
      round(CAST(sum(CASE WHEN month(l_shipdate) <= 6 THEN 1 ELSE 0 END)
          AS DOUBLE) /
        CAST(CASE WHEN sum(CASE WHEN month(l_shipdate) > 6 THEN 1 ELSE 0 END)
          = 0 THEN NULL
          ELSE sum(CASE WHEN month(l_shipdate) > 6 THEN 1 ELSE 0 END) END
          AS DOUBLE), 6) AS ratio
    FROM lineitem WHERE year(l_shipdate) = 1997
    GROUP BY l_returnflag ORDER BY l_returnflag"""

  // DS q93 shape: effective order value after subtracting returned lines,
  // summed per order status.
  private val DS70 = """
    SELECT o_orderstatus,
      CAST(sum(CASE WHEN l_returnflag = 'R'
        THEN CAST(0 AS DECIMAL(18,2))
        ELSE CAST(l_extendedprice AS DECIMAL(18,2)) END)
        AS DECIMAL(38,2)) AS effective_value,
      CAST(count(*) AS BIGINT) AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // DS q16 shape: distinct suppliers on CLEAN orders (NOT EXISTS any
  // returned line) per order priority.
  private val DS71 = """
    SELECT o_orderpriority,
      CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
      CAST(count(*) AS BIGINT) AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem r
      WHERE r.l_orderkey = o_orderkey AND r.l_returnflag = 'R')
      AND year(o_orderdate) = 1997
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // DS q51 shape: cumulative monthly revenue race between two segments —
  // months where BUILDING's running total leads MACHINERY's.
  private val DS72 = """
    WITH m AS (
      SELECT c_mktsegment AS seg, CAST(month(o_orderdate) AS INT) AS mon,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE year(o_orderdate) = 1997
        AND c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY 1, 2),
    cum AS (
      SELECT seg, mon,
        CAST(sum(rev) OVER (PARTITION BY seg ORDER BY mon) AS DECIMAL(38,2))
          AS cum_rev
      FROM m)
    SELECT b.mon AS mon, b.cum_rev AS building, ma.cum_rev AS machinery
    FROM cum b JOIN cum ma
      ON b.mon = ma.mon AND b.seg = 'BUILDING' AND ma.seg = 'MACHINERY'
    WHERE CAST(b.cum_rev AS DOUBLE) > CAST(ma.cum_rev AS DOUBLE)
    ORDER BY mon"""

  // DS q35 shape: multi-quarter 1997 customers holding at least one
  // bulk line (EXISTS), counted per nation and segment.
  private val DS73 = """
    SELECT n_name, c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        GROUP BY o_custkey
        HAVING count(DISTINCT quarter(o_orderdate)) >= 2)
      AND EXISTS (
        SELECT 1 FROM orders o JOIN lineitem ON l_orderkey = o.o_orderkey
        WHERE o.o_custkey = c_custkey AND l_quantity > 45)
    GROUP BY n_name, c_mktsegment ORDER BY n_name, c_mktsegment"""

  // DS q68 shape: high-discount baskets — orders whose discount amount
  // exceeds twice the average order discount amount, per nation.
  private val DS74 = """
    WITH disc AS (
      SELECT o_orderkey AS ok, o_custkey AS ck,
        CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
          CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4)))
          AS DECIMAL(38,4)) AS d
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2)
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(d) AS DECIMAL(38,4)) AS discount_total
    FROM disc JOIN customer ON c_custkey = ck
    JOIN nation ON c_nationkey = n_nationkey
    WHERE CAST(d AS DOUBLE) > 2 * (SELECT avg(CAST(d AS DOUBLE)) FROM disc)
    GROUP BY n_name ORDER BY n_name"""

  // DS q49 shape: brands whose return-quantity ratio is above the
  // overall return ratio (scalar subquery over the same join).
  private val DS75 = """
    WITH br AS (
      SELECT p_brand AS brand,
        CAST(sum(CASE WHEN l_returnflag = 'R'
          THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS ret,
        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(l_shipdate) = 1997
      GROUP BY 1)
    SELECT brand, ret, total,
      round(CAST(ret AS DOUBLE) / CAST(total AS DOUBLE), 6) AS ratio
    FROM br
    WHERE CAST(ret AS DOUBLE) / CAST(total AS DOUBLE) >
      1.1 * (SELECT CAST(sum(ret) AS DOUBLE) / CAST(sum(total) AS DOUBLE)
             FROM br)
    ORDER BY brand"""

  val queries: Map[String, Q] = Map(
    "ds01_star_rollup" -> entry(DS01),
    "ds02_moving_rank" -> entry(DS02),
    "ds03_channel_union" -> entry(DS03),
    "ds04_yoy_growth" -> entry(DS04),
    "ds05_gsets_rank" -> entry(DS05),
    "ds06_bucket_counts" -> entry(DS06),
    "ds07_rollup_topk" -> entry(DS07),
    "ds08_channel_fanout" -> entry(DS08),
    "ds09_exists_chain" -> entry(DS09),
    "ds10_cumulative_compare" -> entry(DS10),
    "ds11_intersect_customers" -> entry(DS11),
    "ds12_correlated_avg" -> entry(DS12),
    "ds13_quarter_pivot" -> entry(DS13),
    "ds14_basket_overlap" -> entry(DS14),
    "ds15_return_ratio_rank" -> entry(DS15),
    "ds16_ratio_scalars" -> entry(DS16),
    "ds17_moving_deviation" -> entry(DS17),
    "ds18_exists_multisupplier" -> entry(DS18),
    "ds19_case_buckets" -> entry(DS19),
    "ds20_range_shares" -> entry(DS20),
    "ds21_prior_year_brand" -> entry(DS21),
    "ds22_spend_buckets" -> entry(DS22),
    "ds23_best_worst" -> entry(DS23),
    "ds24_correlated_count" -> entry(DS24),
    "ds25_channel_growth" -> entry(DS25),
    "ds26_rollup_hierarchy_rank" -> entry(DS26),
    "ds27_cte_of_cte_growth" -> entry(DS27),
    "ds28_channel_share" -> entry(DS28),
    "ds29_except_distinct" -> entry(DS29),
    "ds30_frequent_best" -> entry(DS30),
    "ds31_channel_ratio_nulls" -> entry(DS31),
    "ds32_returns_net" -> entry(DS32),
    "ds33_dual_rank_intersect" -> entry(DS33),
    "ds34_order_size_buckets" -> entry(DS34),
    "ds35_stddev_gate" -> entry(DS35),
    "ds36_brand_vs_avg_month" -> entry(DS36),
    "ds37_range_count_ratio" -> entry(DS37),
    "ds38_channel_rollup" -> entry(DS38),
    "ds39_in_and_exists" -> entry(DS39),
    "ds40_not_exists_pair" -> entry(DS40),
    "ds41_three_month_chain" -> entry(DS41),
    "ds42_excess_avg_gate" -> entry(DS42),
    "ds43_brand_share" -> entry(DS43),
    "ds44_pivot_date_net" -> entry(DS44),
    "ds45_rollup_parent_share" -> entry(DS45),
    "ds46_channel_profit_rollup" -> entry(DS46),
    "ds47_stock_before_after" -> entry(DS47),
    "ds48_inventory_rollup" -> entry(DS48),
    "ds49_returns_vs_nation_avg" -> entry(DS49),
    "ds50_exists_or_pair" -> entry(DS50),
    "ds51_distinct_order_gate" -> entry(DS51),
    "ds52_latency_buckets" -> entry(DS52),
    "ds53_repeat_big_baskets" -> entry(DS53),
    "ds54_halfyear_ratio" -> entry(DS54),
    "ds55_first_purchase_cohort" -> entry(DS55),
    "ds56_return_ratio_year" -> entry(DS56),
    "ds57_month_yoy" -> entry(DS57),
    "ds58_fullouter_periods" -> entry(DS58),
    "ds59_segment_growth_race" -> entry(DS59),
    "ds60_bucket_pivot8" -> entry(DS60),
    "ds61_top_supplier_band" -> entry(DS61),
    "ds62_latency_by_priority" -> entry(DS62),
    "ds63_brand_month_outliers" -> entry(DS63),
    "ds64_ratio_to_report" -> entry(DS64),
    "ds65_under_avg_suppliers" -> entry(DS65),
    "ds66_q2_spend_buckets" -> entry(DS66),
    "ds67_return_then_reorder" -> entry(DS67),
    "ds68_midsize_baskets" -> entry(DS68),
    "ds69_halfyear_ship_ratio" -> entry(DS69),
    "ds70_effective_order_value" -> entry(DS70),
    "ds71_clean_order_suppliers" -> entry(DS71),
    "ds72_cumulative_race" -> entry(DS72),
    "ds73_multiquarter_bulk" -> entry(DS73),
    "ds74_high_discount_baskets" -> entry(DS74),
    "ds75_brand_return_outliers" -> entry(DS75))
}
