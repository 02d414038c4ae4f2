package graft

/** Bulk verbatim (query, expected) pairs auto-harvested from
  * presto-tests/.../AbstractTestQueries.java two-argument assertQuery /
  * assertQueryOrdered calls not already covered by RefCorpusSpec or the
  * driver corpus: BOTH sides are the reference's exact text, compared as
  * unordered canonical multisets through Engine.sql (the reference's own
  * H2-oracle protocol). Java line numbers in the test names.
  */
class RefCorpusPairsSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSession._

  private lazy val engine = graft.queries.RefCorpus.engine(spark, sf)

  private def rows(sql: String): Seq[String] =
    engine.sql(sql).collect().toSeq
      .map(r => r.toSeq.map(graft.tools.RefPairs.canon).mkString("(", ", ", ")"))

  private def ref(name: String, actual: String, expected: String): Unit =
    test(name) {
      assert(rows(actual).sorted == rows(expected).sorted, s"\nactual:   $actual")
    }

  ref("pair L228",
    "SELECT apply(CAST(ROW(10) AS ROW(x INTEGER)), r -> r.x)",
    "VALUES 10")
  ref("pair L229",
    "SELECT apply(CAST(ROW(10) AS ROW(x INTEGER)), r -> r.x) FROM (VALUES 1) u(x)",
    "VALUES 10")
  ref("pair L230",
    "SELECT apply(CAST(ROW(10) AS ROW(x INTEGER)), r -> r.x) FROM (VALUES 1) r(x)",
    "VALUES 10")
  ref("pair L231",
    "SELECT apply(CAST(ROW(10) AS ROW(x INTEGER)), r -> apply(3, y -> y + r.x)) FROM (VALUES 1) u(x)",
    "VALUES 13")
  ref("pair L232",
    "SELECT apply(CAST(ROW(10) AS ROW(x INTEGER)), r -> apply(3, y -> y + r.x)) FROM (VALUES 1) r(x)",
    "VALUES 13")
  ref("pair L233",
    "SELECT apply(CAST(ROW(10) AS ROW(x INTEGER)), r -> apply(3, y -> y + r.x)) FROM (VALUES 'a') r(x)",
    "VALUES 13")
  ref("pair L234",
    "SELECT apply(CAST(ROW(10) AS ROW(x INTEGER)), z -> apply(3, y -> y + r.x)) FROM (VALUES 1) r(x)",
    "VALUES 4")
  ref("pair L254",
    "SELECT apply(CAST(ROW(1) AS ROW(someField BIGINT)), x -> x.someField) FROM (VALUES (1,2)) t(x,y) GROUP BY y",
    "SELECT 1")
  ref("pair L255",
    "SELECT apply(sum(x), x -> x * x) FROM (VALUES 1, 2, 3, 4, 5) t(x)",
    "SELECT 225")
  ref("pair L369",
    "SELECT a.col1[1].col0, SUM(a.col0), SUM(a.col1[1].col1), SUM(a.col1[2].col0), SUM(a.col2.col1) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[row(31, 4.5E0), row(12, 4.2E0)], row(3, 4.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(3.1, ARRAY[row(41, 3.1E0), row(32, 4.2E0)], row(6, 6.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.2, ARRAY[row(31, 4.2E0), row(22, 4.2E0)], row(5, 4.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double))))) t(a) GROUP BY a.col1[1].col0",
    "SELECT * FROM VALUES (31, 3.2, 8.7, 34, 8.0), (41, 3.1, 3.1, 32, 6.0)")
  ref("pair L377",
    "SELECT a.col1[1].col0, SUM(a.col0), SUM(a.col1[1].col1), SUM(a.col1[2].col0), SUM(a.col2.col1) FROM (VALUES ROW(CAST(ROW(2.2, ARRAY[row(31, 4.2E0), row(22, 4.2E0)], row(5, 4.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(1.0, ARRAY[row(31, 4.5E0), row(12, 4.2E0)], row(3, 4.1E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(3.1, ARRAY[row(41, 3.1E0), row(32, 4.2E0)], row(6, 6.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(3.3, ARRAY[row(41, 3.1E0), row(32, 4.2E0)], row(6, 6.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))) ) t(a) GROUP BY a.col1[1]",
    "SELECT * FROM VALUES (31, 2.2, 4.2, 22, 4.0), (31, 1.0, 4.5, 12, 4.1), (41, 6.4, 6.2, 64, 12.0)")
  ref("pair L405",
    "SELECT a.col2.col0, a.col0, SUM(a.col2.col1) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[2, 13, 4], row(11, 4.1E0))   AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.0, ARRAY[2, 23, 4], row(11, 14.0E0))  AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(1.5, ARRAY[2, 13, 4], row(11, 4.1E0))   AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(1.5, ARRAY[2, 13, 4], row(11, 4.1E0))   AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(7.0, ARRAY[22, 33, 44], row(13, 5.0E0)) AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double))))) t(a) WHERE a.col1[2] < 30 GROUP BY 1, 2 ORDER BY 1",
    "SELECT * FROM VALUES (11, 1.0, 4.1), (11, 1.5, 8.2), (11, 2.0, 14.0)")
  ref("pair L584",
    "SELECT a.custkey, t.e FROM (SELECT custkey, ARRAY[1, 2, 3] AS my_array FROM orders ORDER BY orderkey LIMIT 1) a CROSS JOIN UNNEST(my_array) t(e)",
    "SELECT * FROM (SELECT custkey FROM orders ORDER BY orderkey LIMIT 1) CROSS JOIN (VALUES (1), (2), (3))")
  ref("pair L589",
    "SELECT a.custkey, t.e FROM (SELECT custkey, ARRAY[1, 2, 3] AS my_array FROM orders ORDER BY orderkey LIMIT 1) a, UNNEST(my_array) t(e)",
    "SELECT * FROM (SELECT custkey FROM orders ORDER BY orderkey LIMIT 1) CROSS JOIN (VALUES (1), (2), (3))")
  ref("pair L611",
    "SELECT a.custkey, t.e, t.f FROM (SELECT custkey, ARRAY[10, 20, 30] AS my_array FROM orders ORDER BY orderkey LIMIT 1) a CROSS JOIN UNNEST(my_array) WITH ORDINALITY t(e, f)",
    "SELECT * FROM (SELECT custkey FROM orders ORDER BY orderkey LIMIT 1) CROSS JOIN (VALUES (10, 1), (20, 2), (30, 3))")
  ref("pair L616",
    "SELECT a.custkey, t.e, t.f FROM (SELECT custkey, ARRAY[10, 20, 30] AS my_array FROM orders ORDER BY orderkey LIMIT 1) a, UNNEST(my_array) WITH ORDINALITY t(e, f)",
    "SELECT * FROM (SELECT custkey FROM orders ORDER BY orderkey LIMIT 1) CROSS JOIN (VALUES (10, 1), (20, 2), (30, 3))")
  ref("pair L622",
    "SELECT * FROM orders, UNNEST(ARRAY[1])",
    "SELECT orders.*, 1 FROM orders")
  ref("pair L649",
    "SELECT clerk, cardinality(array_agg(orderkey)) FROM orders GROUP BY clerk",
    "SELECT clerk, count(*) FROM orders GROUP BY clerk")
  ref("pair L656",
    "SELECT JSON_FORMAT(CAST(ROW(1 + 2, CONCAT('a', 'b')) AS JSON))",
    "SELECT '[3,\"ab\"]'")
  ref("pair L657",
    "SELECT JSON_FORMAT(CAST(ROW(a + b) AS JSON)) FROM (VALUES (1, 2)) AS t(a, b)",
    "SELECT '[3]'")
  ref("pair L658",
    "SELECT JSON_FORMAT(CAST(ROW(1, ROW(9, a, ARRAY[], NULL), ROW(1, 2)) AS JSON)) FROM (VALUES ('a')) t(a)",
    "SELECT '[1,[9,\"a\",[],null],[1,2]]'")
  ref("pair L659",
    "SELECT JSON_FORMAT(CAST(ROW(ROW(ROW(ROW(ROW(a, b), c), d), e), f) AS JSON)) FROM (VALUES (ROW(0, 1), 2, '3', NULL, ARRAY[5], ARRAY[])) t(a, b, c, d, e, f)",
    "SELECT '[[[[[[0,1],2],\"3\"],null],[5]],[]]'")
  ref("pair L661",
    "SELECT JSON_FORMAT(CAST(ARRAY_AGG(ROW(a, b)) AS JSON)) FROM (VALUES (1, 2), (3, 4), (5, 6)) t(a, b)",
    "SELECT '[[1,2],[3,4],[5,6]]'")
  ref("pair L663",
    "SELECT JSON_FORMAT(CAST(ARRAY_AGG(ROW(c, d)) AS JSON)) FROM (VALUES (ARRAY[1, 3, 5], ARRAY[2, 4, 6])) AS t(a, b) CROSS JOIN UNNEST(a, b) AS u(c, d)",
    "SELECT '[[1,2],[3,4],[5,6]]'")
  ref("pair L665",
    "SELECT JSON_FORMAT(CAST(ROW(x, y, z) AS JSON)) FROM (VALUES ROW(1, NULL, '3')) t(x,y,z)",
    "SELECT '[1,null,\"3\"]'")
  ref("pair L666",
    "SELECT JSON_FORMAT(CAST(ROW(x, y, z) AS JSON)) FROM (VALUES ROW(1, CAST(NULL AS INTEGER), '3')) t(x,y,z)",
    "SELECT '[1,null,\"3\"]'")
  ref("pair L672",
    "SELECT m[max_key] FROM (SELECT map_agg(orderkey, orderkey) m, max(orderkey) max_key FROM orders)",
    "SELECT max(orderkey) FROM orders")
  ref("pair L675",
    "SELECT JSON_FORMAT(CAST(TRY(MAP(ARRAY[NULL], ARRAY[x])) AS JSON)) FROM (VALUES 1, 2) t(x)",
    "SELECT * FROM (VALUES NULL, NULL)")
  ref("pair L684",
    "VALUES (1.1, 2), (sin(3.3), 2+2) ORDER BY 1",
    "VALUES (sin(3.3), 2+2), (1.1, 2)")
  ref("pair L687",
    "SELECT 1.1 in (VALUES (1.1), (2.2))",
    "VALUES (TRUE)")
  ref("pair L893",
    "SELECT a, a* -1 AS a FROM (VALUES -1, 0, 2) t(a) ORDER BY t.a",
    "VALUES (-1, 1), (0, 0), (2, -2)")
  ref("pair L894",
    "SELECT a, a* -2 AS b FROM (VALUES -1, 0, 2) t(a) ORDER BY a + b",
    "VALUES (2, -4), (0, 0), (-1, 2)")
  ref("pair L895",
    "SELECT a AS b, a* -2 AS a FROM (VALUES -1, 0, 2) t(a) ORDER BY a + b",
    "VALUES (2, -4), (0, 0), (-1, 2)")
  ref("pair L896",
    "SELECT a* -2 AS a FROM (VALUES -1, 0, 2) t(a) ORDER BY a + t.a",
    "VALUES -4, 0, 2")
  ref("pair L897",
    "SELECT k, SUM(a) a, SUM(b) a FROM (VALUES (1, 2, 3)) t(k, a, b) GROUP BY k ORDER BY k",
    "VALUES (1, 2, 3)")
  ref("pair L901",
    "SELECT a + 1 AS b FROM (VALUES 1, 2) t(a) ORDER BY -1.0 * b",
    "VALUES 3, 2")
  ref("pair L902",
    "SELECT a AS b FROM (VALUES 1, 2) t(a) ORDER BY -1.0 * b",
    "VALUES 2, 1")
  ref("pair L903",
    "SELECT a AS a FROM (VALUES 1, 2) t(a) ORDER BY -1.0 * a",
    "VALUES 2, 1")
  ref("pair L907",
    "SELECT max(a+b), min(a+b) AS a FROM (values (1,2),(3,2),(1,5)) t(a,b) GROUP BY a ORDER BY max(t.a+t.b)",
    "VALUES (5, 5), (6, 3)")
  ref("pair L908",
    "SELECT max(a+b), min(a+b) AS a FROM (values (1,2),(3,2),(1,5)) t(a,b) GROUP BY a ORDER BY max(t.a+t.b)*-0.1",
    "VALUES (6, 3), (5, 5)")
  ref("pair L909",
    "SELECT max(a) FROM (values (1,2), (2,1)) t(a,b) GROUP BY b ORDER BY max(b*1.0)",
    "VALUES 2, 1")
  ref("pair L910",
    "SELECT max(a) AS b FROM (values (1,2), (2,1)) t(a,b) GROUP BY b ORDER BY b",
    "VALUES 1, 2")
  ref("pair L911",
    "SELECT max(a) FROM (values (1,2), (2,1)) t(a,b) GROUP BY b ORDER BY b*1.0",
    "VALUES 2, 1")
  ref("pair L912",
    "SELECT max(a)*100 AS c FROM (values (1,2), (2,1)) t(a,b) GROUP BY b ORDER BY max(b) + c",
    "VALUES 100, 200")
  ref("pair L913",
    "SELECT max(a) FROM (values (1,2), (2,1)) t(a,b) GROUP BY b ORDER BY b",
    "VALUES 2, 1")
  ref("pair L914",
    "SELECT max(a) FROM (values (1,2), (2,1)) t(a,b) GROUP BY t.b ORDER BY t.b*1.0",
    "VALUES 2, 1")
  ref("pair L915",
    "SELECT -(a+b) AS a, -(a+b) AS b, a+b FROM (values (41, 42), (-41, -42)) t(a,b) GROUP BY a+b ORDER BY a+b",
    "VALUES (-83, -83, 83), (83, 83, -83)")
  ref("pair L916",
    "SELECT c.a FROM (SELECT CAST(ROW(-a.a) AS ROW(a BIGINT)) a FROM (VALUES (2), (1)) a(a) GROUP BY a.a ORDER BY a.a) t(c)",
    "VALUES -2, -1")
  ref("pair L917",
    "SELECT -a AS a FROM (values (1,2),(3,2)) t(a,b) GROUP BY GROUPING SETS ((a), (a, b)) ORDER BY -a",
    "VALUES -1, -1, -3, -3")
  ref("pair L919",
    "SELECT max(a) FROM (values (1,2),(3,2)) t(a,b) ORDER BY max(-a)",
    "VALUES 3")
  ref("pair L921",
    "SELECT -a AS a, a AS b FROM (VALUES 1, 2) t(a) GROUP BY t.a ORDER BY a",
    "VALUES (-2, 2), (-1, 1)")
  ref("pair L922",
    "SELECT -a AS a, a AS b FROM (VALUES 1, 2) t(a) GROUP BY t.a ORDER BY t.a",
    "VALUES (-1, 1), (-2, 2)")
  ref("pair L923",
    "SELECT -a AS a, a AS b FROM (VALUES 1, 2) t(a) GROUP BY a ORDER BY t.a",
    "VALUES (-1, 1), (-2, 2)")
  ref("pair L924",
    "SELECT -a AS a, a AS b FROM (VALUES 1, 2) t(a) GROUP BY a ORDER BY t.a+2*a",
    "VALUES (-2, 2), (-1, 1)")
  ref("pair L925",
    "SELECT -a AS a, a AS b FROM (VALUES 1, 2) t(a) GROUP BY t.a ORDER BY t.a+2*a",
    "VALUES (-2, 2), (-1, 1)")
  ref("pair L928",
    "SELECT x AS y FROM (values (1,2), (2,3)) t(x, y) GROUP BY x ORDER BY apply(x, x -> -x) + 2*x",
    "VALUES 1, 2")
  ref("pair L929",
    "SELECT -y AS x FROM (values (1,2), (2,3)) t(x, y) GROUP BY y ORDER BY apply(x, x -> -x)",
    "VALUES -2, -3")
  ref("pair L930",
    "SELECT -y AS x FROM (values (1,2), (2,3)) t(x, y) GROUP BY y ORDER BY sum(apply(-y, x -> x * 1.0))",
    "VALUES -3, -2")
  ref("pair L933",
    "SELECT DISTINCT -a AS b FROM (VALUES 1, 2) t(a) ORDER BY b",
    "VALUES -2, -1")
  ref("pair L934",
    "SELECT DISTINCT -a AS b FROM (VALUES 1, 2) t(a) ORDER BY 1",
    "VALUES -2, -1")
  ref("pair L935",
    "SELECT DISTINCT max(a) AS b FROM (values (1,2), (2,1)) t(a,b) GROUP BY b ORDER BY b",
    "VALUES 1, 2")
  ref("pair L950",
    "SELECT x, sum(cast(x AS double)) FROM (VALUES '1.0') t(x) GROUP BY x ORDER BY sum(cast(t.x AS double))",
    "VALUES ('1.0', 1.0)")
  ref("pair L1049",
    "SELECT COUNT(42) FROM orders",
    "SELECT COUNT(*) FROM orders")
  ref("pair L1050",
    "SELECT COUNT(42 + 42) FROM orders",
    "SELECT COUNT(*) FROM orders")
  ref("pair L1051",
    "SELECT COUNT(null) FROM orders",
    "SELECT 0")
  ref("pair L1200",
    "SELECT regionkey, count(*) FROM (   SELECT regionkey FROM nation    UNION ALL    SELECT * FROM (VALUES 2, 100) t(regionkey)) GROUP BY ROLLUP (regionkey)",
    "SELECT * FROM (VALUES  (0, 5), (1, 5), (2, 6), (3, 5), (4, 5), (100, 1), (NULL, 27))")
  ref("pair L1223",
    "SELECT a, b, sum(c), grouping(a, b) FROM (VALUES ('h', 'j', 11), ('k', 'l', 7) ) AS t (a, b, c) GROUP BY GROUPING SETS ( (a), (b)) HAVING grouping(a, b) > 1 ",
    "VALUES (NULL, 'j', 11, 2), (NULL, 'l', 7, 2)")
  ref("pair L1233",
    "SELECT grouping(a) FROM (VALUES ('h', 'j', 11), ('k', 'l', 7)) AS t (a, b, c) GROUP BY GROUPING SETS (a,c), c*2",
    "VALUES (0), (1), (0), (1)")
  ref("pair L1384",
    "SELECT * FROM (VALUES 1, 2) INTERSECT SELECT * FROM (VALUES 1.0, 2)",
    "VALUES 1.0, 2.0")
  ref("pair L1504",
    "SELECT b FROM nation n, (VALUES (0, CAST(-1 AS BIGINT)), (0, NULL), (0, CAST(0 AS BIGINT))) t(a, b) WHERE n.regionkey - 100 < t.b AND n.nationkey = t.a",
    "VALUES -1, 0")
  ref("pair L1507",
    "SELECT b FROM nation n, (VALUES (0, NULL), (0, CAST(-1 AS BIGINT)), (0, CAST(0 AS BIGINT))) t(a, b) WHERE n.regionkey - 100 < t.b AND n.nationkey = t.a",
    "VALUES -1, 0")
  ref("pair L1510",
    "SELECT b FROM nation n, (VALUES (0, NULL), (0, NULL), (0, CAST(-1 AS BIGINT)), (0, NULL)) t(a, b) WHERE n.regionkey - 100 < t.b AND n.nationkey = t.a",
    "VALUES -1")
  ref("pair L1513",
    "SELECT b FROM nation n, (VALUES (0, NULL)) t(a, b) WHERE n.regionkey - 100 < t.b AND n.nationkey = t.a",
    "SELECT 1 WHERE FALSE")
  ref("pair L1517",
    "SELECT * FROM (VALUES (1,1),(2,1)) t1(a,b), (VALUES (1,1),(1,2),(2,1)) t2(x,y) WHERE a=x and b<=y",
    "VALUES (1,1,1,1), (1,1,1,2), (2,1,2,1)")
  ref("pair L1523",
    "SELECT * FROM (VALUES (1,1),(2,1)) t1(a,b), (VALUES (1,1),(1,2),(2,1)) t2(x,y) WHERE a=x and b<y",
    "VALUES (1,1,1,2)")
  ref("pair L1536",
    "SELECT b FROM nation n, (VALUES (0, CAST(-1 AS BIGINT)), (0, NULL), (0, CAST(0 AS BIGINT))) t(a, b) WHERE n.regionkey + 100 > t.b AND n.nationkey = t.a",
    "VALUES -1, 0")
  ref("pair L1539",
    "SELECT b FROM nation n, (VALUES (0, NULL), (0, CAST(-1 AS BIGINT)), (0, CAST(0 AS BIGINT))) t(a, b) WHERE n.regionkey + 100 > t.b AND n.nationkey = t.a",
    "VALUES -1, 0")
  ref("pair L1542",
    "SELECT b FROM nation n, (VALUES (0, NULL), (0, NULL), (0, CAST(-1 AS BIGINT)), (0, NULL)) t(a, b) WHERE n.regionkey + 100 > t.b AND n.nationkey = t.a",
    "VALUES -1")
  ref("pair L1545",
    "SELECT b FROM nation n, (VALUES (0, NULL)) t(a, b) WHERE n.regionkey + 100 > t.b AND n.nationkey = t.a",
    "SELECT 1 WHERE FALSE")
  ref("pair L1549",
    "SELECT * FROM (VALUES (1,1),(2,1)) t1(a,b), (VALUES (1,1),(1,2),(2,1)) t2(x,y) WHERE a=x and b>=y",
    "VALUES (1,1,1,1), (2,1,2,1)")
  ref("pair L1555",
    "SELECT * FROM (VALUES (1,1),(2,1)) t1(a,b), (VALUES (1,1),(1,2),(2,1)) t2(x,y) WHERE a=x and b>y",
    "SELECT 1 WHERE FALSE")
  ref("pair L1732",
    "SELECT COUNT(*) FROM lineitem JOIN orders USING (orderkey)",
    "SELECT COUNT(*) FROM lineitem JOIN orders ON lineitem.orderkey = orders.orderkey")
  ref("pair L1740",
    "SELECT * FROM (VALUES (1.0, 2.0)) x (a, b) JOIN (VALUES (1, 3)) y (a, b) ON x.a = y.a",
    "VALUES (1.0, 2.0, 1, 3)")
  ref("pair L1743",
    "SELECT * FROM (VALUES (1, 2)) x (a, b) JOIN (VALUES (SMALLINT '1', SMALLINT '3')) y (a, b) ON x.a = y.a",
    "VALUES (1, 2, 1, 3)")
  ref("pair L1822",
    "SELECT * FROM (SELECT orderkey, partkey FROM lineitem) a JOIN (SELECT orderkey, custkey FROM orders) b using (orderkey)",
    "SELECT a.orderkey, a.partkey, b.custkey FROM (SELECT orderkey, partkey FROM lineitem) a JOIN (SELECT orderkey, custkey FROM orders) b on a.orderkey = b.orderkey")
  ref("pair L2003",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > d",
    "VALUES (1, 2, 1, 1), (NULL, NULL, 1, 2)")
  ref("pair L2006",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b < d",
    "VALUES (1, 1, 1, 2), (NULL, NULL, 1, 1)")
  ref("pair L2009",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 2",
    "VALUES (NULL, NULL, 1, 1), (NULL, NULL, 1, 2)")
  ref("pair L2012",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 2",
    "VALUES (NULL, NULL, 1, 1), (NULL, NULL, 1, 2)")
  ref("pair L2015",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 0",
    "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L2018",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 0",
    "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L2021",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND c = d",
    "VALUES (1, 2, 1, 1), (1, 1, 1, 1), (NULL, NULL, 1, 2)")
  ref("pair L2024",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND c < d",
    "VALUES (NULL, NULL, 1, 1), (1, 2, 1, 2), (1, 1, 1, 2)")
  ref("pair L2027",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON c = d",
    "VALUES (1, 1, 1, 1), (1, 2, 1, 1), (NULL, NULL, 1, 2)")
  ref("pair L2030",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON c < d",
    "VALUES (NULL, NULL, 1, 1), (1, 1, 1, 2), (1, 2, 1, 2)")
  ref("pair L2033",
    "SELECT * FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON 1 = 1",
    "VALUES (1, 10), (1, 11), (2, 10), (2, 11)")
  ref("pair L2036",
    "SELECT * FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (2, 11), (2, 10)")
  ref("pair L2039",
    "SELECT * FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON b > 10",
    "VALUES (NULL, 10), (1, 11), (2, 11)")
  ref("pair L2042",
    "SELECT * FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON a > b",
    "VALUES (NULL, 10), (NULL, 11)")
  ref("pair L2045",
    "SELECT * FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON a < b",
    "VALUES (1, 10), (1, 11), (2, 10), (2, 11)")
  ref("pair L2053",
    "SELECT b FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON b > 10",
    "VALUES (10), (11), (11)")
  ref("pair L2056",
    "SELECT a FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (2), (2)")
  ref("pair L2059",
    "SELECT b FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON b > 10",
    "VALUES (11), (11)")
  ref("pair L2062",
    "SELECT a FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (1), (2), (2)")
  ref("pair L2065",
    "SELECT a FROM (VALUES 1, 2) t1(a) JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (2), (2)")
  ref("pair L2068",
    "SELECT b FROM (VALUES 1, 2) t1(a) JOIN (VALUES 10, 11) t2(b) ON b > 10",
    "VALUES (11), (11)")
  ref("pair L2077",
    "SELECT * FROM (VALUES 0, 1) t1(a) JOIN (VALUES 10, 11) t2(b) ON TRUE",
    "VALUES (0, 10), (0, 11), (1, 10), (1, 11)")
  ref("pair L2079",
    "SELECT * FROM (SELECT 1 WHERE FALSE) t1(a) JOIN (VALUES 10, 11) t2(b) ON TRUE",
    "SELECT 1 WHERE FALSE")
  ref("pair L2081",
    "SELECT * FROM (VALUES 0, 1) t1(a) JOIN (SELECT 1 WHERE FALSE) t2(b) ON TRUE",
    "SELECT 1 WHERE FALSE")
  ref("pair L2083",
    "SELECT * FROM (SELECT 1 WHERE FALSE) t1(a) JOIN (SELECT 1 WHERE FALSE) t2(b) ON TRUE",
    "SELECT 1 WHERE FALSE")
  ref("pair L2087",
    "SELECT * FROM (VALUES 0, 1) t1(a) LEFT JOIN (VALUES 10, 11) t2(b) ON TRUE",
    "VALUES (0, 10), (0, 11), (1, 10), (1, 11)")
  ref("pair L2089",
    "SELECT * FROM (SELECT 1 WHERE FALSE) t1(a) LEFT JOIN (VALUES 10, 11) t2(b) ON TRUE",
    "SELECT 1 WHERE FALSE")
  ref("pair L2091",
    "SELECT * FROM (VALUES 0, 1) t1(a) LEFT JOIN (SELECT 1 WHERE FALSE) t2(b) ON TRUE",
    "VALUES (0, NULL), (1, NULL)")
  ref("pair L2093",
    "SELECT * FROM (SELECT 1 WHERE FALSE) t1(a) LEFT JOIN (SELECT 1 WHERE FALSE) t2(b) ON TRUE",
    "SELECT 1 WHERE FALSE")
  ref("pair L2097",
    "SELECT * FROM (VALUES 0, 1) t1(a) RIGHT JOIN (VALUES 10, 11) t2(b) ON TRUE",
    "VALUES (0, 10), (0, 11), (1, 10), (1, 11)")
  ref("pair L2099",
    "SELECT * FROM (SELECT 1 WHERE FALSE) t1(a) RIGHT JOIN (VALUES 10, 11) t2(b) ON TRUE",
    "VALUES (NULL, 10), (NULL, 11)")
  ref("pair L2101",
    "SELECT * FROM (VALUES 0, 1) t1(a) RIGHT JOIN (SELECT 1 WHERE FALSE) t2(b) ON TRUE",
    "SELECT 1 WHERE FALSE")
  ref("pair L2103",
    "SELECT * FROM (SELECT 1 WHERE FALSE) t1(a) RIGHT JOIN (SELECT 1 WHERE FALSE) t2(b) ON TRUE",
    "SELECT 1 WHERE FALSE")
  ref("pair L2107",
    "SELECT * FROM (VALUES 0, 1) t1(a) FULL JOIN (VALUES 10, 11) t2(b) ON TRUE",
    "VALUES (0, 10), (0, 11), (1, 10), (1, 11)")
  ref("pair L2109",
    "SELECT * FROM (SELECT 1 WHERE FALSE) t1(a) FULL JOIN (VALUES 10, 11) t2(b) ON TRUE",
    "VALUES (NULL, 10), (NULL, 11)")
  ref("pair L2111",
    "SELECT * FROM (VALUES 0, 1) t1(a) FULL JOIN (SELECT 1 WHERE FALSE) t2(b) ON TRUE",
    "VALUES (0, NULL), (1, NULL)")
  ref("pair L2113",
    "SELECT * FROM (SELECT 1 WHERE FALSE) t1(a) FULL JOIN (SELECT 1 WHERE FALSE) t2(b) ON TRUE",
    "SELECT 1 WHERE FALSE")
  ref("pair L2120",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.orderkey AND lineitem.quantity > 5 WHERE lineitem.orderkey IS NULL OR orders.orderkey IS NULL",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND lineitem.quantity > 5     UNION ALL SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND lineitem.quantity > 5     WHERE lineitem.orderkey IS NULL)  WHERE o1 IS NULL OR o2 IS NULL")
  ref("pair L2128",
    "SELECT COUNT(*) FROM lineitem FULL OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > 1000 WHERE lineitem.orderkey IS NULL OR orders.orderkey IS NULL",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > 1000     UNION ALL SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > 1000     WHERE lineitem.orderkey IS NULL)  WHERE o1 IS NULL OR o2 IS NULL")
  ref("pair L2136",
    "SELECT COUNT(*) FROM lineitem FULL OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > lineitem.quantity WHERE lineitem.orderkey IS NULL OR orders.orderkey IS NULL",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > lineitem.quantity     UNION ALL SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > lineitem.quantity     WHERE lineitem.orderkey IS NULL)  WHERE o1 IS NULL OR o2 IS NULL")
  ref("pair L2144",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > d",
    "VALUES (1, 2, 1, 1), (NULL, NULL, 1, 2), (1, 1, NULL, NULL)")
  ref("pair L2147",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b < d",
    "VALUES (1, 1, 1, 2), (NULL, NULL, 1, 1), (1, 2, NULL, NULL)")
  ref("pair L2150",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 2",
    "VALUES (NULL, NULL, 1, 1), (NULL, NULL, 1, 2), (1, 1, NULL, NULL), (1, 2, NULL, NULL)")
  ref("pair L2153",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 2",
    "VALUES (NULL, NULL, 1, 1), (NULL, NULL, 1, 2), (1, 1, NULL, NULL), (1, 2, NULL, NULL)")
  ref("pair L2156",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 0",
    "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L2159",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 0",
    "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L2162",
    "SELECT * FROM (VALUES 1, 2) t1(a) FULL OUTER JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (2, 11), (2, 10), (1, NULL)")
  ref("pair L2165",
    "SELECT * FROM (VALUES 1, 2) t1(a) FULL OUTER JOIN (VALUES 10, 11) t2(b) ON b > 10",
    "VALUES (NULL, 10), (1, 11), (2, 11)")
  ref("pair L2168",
    "SELECT * FROM (VALUES 1, 2) t1(a) FULL OUTER JOIN (VALUES 10, 11) t2(b) ON a > b",
    "VALUES (NULL, 10), (NULL, 11), (1, NULL), (2, NULL)")
  ref("pair L2171",
    "SELECT * FROM (VALUES 1, 2) t1(a) FULL OUTER JOIN (VALUES 10, 11) t2(b) ON a < b",
    "VALUES (1, 10), (1, 11), (2, 10), (2, 11)")
  ref("pair L2185",
    "SELECT COUNT(*) FROM lineitem JOIN (SELECT orderkey, orderdate shipdate FROM orders) T USING (orderkey, shipdate)",
    "SELECT COUNT(*) FROM lineitem JOIN orders ON lineitem.orderkey = orders.orderkey AND lineitem.shipdate = orders.orderdate")
  ref("pair L2193",
    "SELECT count(*) FROM ((SELECT * FROM orders) union all (SELECT * FROM orders)) JOIN orders USING (orderkey)",
    "SELECT 2 * count(*) FROM orders")
  ref("pair L2399",
    "SELECT count() FROM nation a INNER JOIN nation b ON a.name = (SELECT max(name) FROM nation) INNER JOIN nation c ON c.name = split_part(b.name,'<',2)",
    "SELECT 0")
  ref("pair L2435",
    "SELECT a IN (VALUES 2), a FROM (VALUES (2)) t(a)",
    "SELECT TRUE, 2")
  ref("pair L2443",
    "SELECT * FROM (     SELECT a, nullif(a, 1)     FROM (VALUES 1) w(a) ) t(a,b) JOIN (VALUES 1) u(x) ON t.a = u.x",
    "SELECT 1, NULL, 1")
  ref("pair L2452",
    "SELECT * FROM (     SELECT a, contains(array[2, null], a)     FROM (VALUES 1) w(a) ) t(a,b) JOIN (VALUES 1) u(x) ON t.a = u.x ",
    "SELECT 1, NULL, 1")
  ref("pair L2461",
    "SELECT * FROM (     SELECT a, array[null][a]     FROM (VALUES 1) w(a) ) t(a,b) JOIN (VALUES 1) u(x) ON t.a = u.x",
    "SELECT 1, NULL, 1")
  ref("pair L2470",
    "SELECT * FROM (     SELECT a, try(a / 0)     FROM (VALUES 1) w(a) ) t(a,b) JOIN (VALUES 1) u(x) ON t.a = u.x",
    "SELECT 1, NULL, 1")
  ref("pair L2513",
    "SELECT a, b FROM (VALUES (1), (2)) t (a) FULL OUTER JOIN (VALUES (1), (3)) u (b) ON a = b",
    "SELECT * FROM (VALUES (1, 1), (2, NULL), (NULL, 3))")
  ref("pair L2515",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.orderkey",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey, orders.orderkey AS o2 FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey UNION ALL SELECT lineitem.orderkey, orders.orderkey AS o2 FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey WHERE lineitem.orderkey IS NULL)")
  ref("pair L2522",
    "SELECT COUNT(*) FROM lineitem FULL OUTER JOIN orders ON lineitem.orderkey = orders.orderkey",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey, orders.orderkey AS o2 FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey UNION ALL SELECT lineitem.orderkey, orders.orderkey AS o2 FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey WHERE lineitem.orderkey IS NULL)")
  ref("pair L2532",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.custkey",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey, orders.orderkey AS o2 FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.custkey UNION ALL SELECT lineitem.orderkey, orders.orderkey AS o2 FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.custkey WHERE lineitem.orderkey IS NULL)")
  ref("pair L2544",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.orderkey WHERE lineitem.orderkey IS NOT NULL",
    "SELECT COUNT(*) FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey WHERE lineitem.orderkey IS NOT NULL")
  ref("pair L2549",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.custkey WHERE lineitem.orderkey IS NOT NULL",
    "SELECT COUNT(*) FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.custkey WHERE lineitem.orderkey IS NOT NULL")
  ref("pair L2556",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.orderkey WHERE orders.orderkey IS NOT NULL",
    "SELECT COUNT(*) FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey  WHERE orders.orderkey IS NOT NULL")
  ref("pair L2561",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.custkey WHERE orders.custkey IS NOT NULL",
    "SELECT COUNT(*) FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.custkey  WHERE orders.custkey IS NOT NULL")
  ref("pair L2622",
    "SELECT DISTINCT a.orderkey FROM (SELECT CASE WHEN orderkey > 2 THEN orderkey END orderkey FROM orders WHERE orderkey < 100) a FULL OUTER JOIN (SELECT * FROM orders WHERE orderkey < 100) b ON a.orderkey = b.orderkey",
    "SELECT DISTINCT orderkey FROM (SELECT a.orderkey FROM (SELECT CASE WHEN orderkey > 2 THEN orderkey END orderkey FROM orders WHERE orderkey < 100) a RIGHT OUTER JOIN (SELECT * FROM orders WHERE orderkey < 100) b ON a.orderkey = b.orderkey UNION ALL SELECT a.orderkey FROM(SELECT CASE WHEN orderkey > 2 THEN orderkey END orderkey FROM orders WHERE orderkey < 100) a LEFT OUTER JOIN (SELECT * FROM orders WHERE orderkey < 100) b ON a.orderkey = b.orderkey WHERE a.orderkey IS NULL)")
  ref("pair L2662",
    "SELECT x.val FROM (SELECT CAST(ROW(v) AS ROW(val integer)) FROM (VALUES 1, 2, 3) t(v)) ta (x) LEFT OUTER JOIN (SELECT CAST(ROW(v) AS ROW(val integer)) FROM (VALUES 1, 2, 3) t(v)) tb (y) ON x.val=y.val WHERE y.val=1",
    "SELECT 1")
  ref("pair L2900",
    "SELECT * FROM (VALUES 1, 2) a(id) FULL JOIN (VALUES 2, 3) b(id) ON (array_intersect(array[a.id], array[b.id]) = array[a.id])",
    "VALUES (1, null), (2, 2), (null, 3)")
  ref("pair L3028",
    "SELECT to_hex(checksum(0))",
    "SELECT '0000000000000000'")
  ref("pair L3034",
    "SELECT MAX_BY(orderkey, totalprice) FROM orders",
    "SELECT orderkey FROM orders ORDER BY totalprice DESC LIMIT 1")
  ref("pair L3040",
    "SELECT y FROM (SELECT MAX_BY(orderkey, totalprice, 2) mx FROM orders) CROSS JOIN UNNEST(mx) u(y)",
    "SELECT orderkey FROM orders ORDER BY totalprice DESC LIMIT 2")
  ref("pair L3047",
    "SELECT MIN_BY(orderkey, totalprice) FROM orders",
    "SELECT orderkey FROM orders ORDER BY totalprice ASC LIMIT 1")
  ref("pair L3048",
    "SELECT MIN_BY(a, ROW(b, c)) FROM (VALUES (1, 2, 3), (2, 2, 1)) AS t(a, b, c)",
    "SELECT 2")
  ref("pair L3054",
    "SELECT y FROM (SELECT MIN_BY(orderkey, totalprice, 2) mx FROM orders) CROSS JOIN UNNEST(mx) u(y)",
    "SELECT orderkey FROM orders ORDER BY totalprice ASC LIMIT 2")
  ref("pair L3272",
    "SELECT x, T.y, z + 1 FROM (SELECT custkey, orderstatus, totalprice FROM orders) T (x, y, z)",
    "SELECT custkey, orderstatus, totalprice + 1 FROM orders")
  ref("pair L4013",
    "SELECT try_cast('1' AS BIGINT)",
    "SELECT CAST('1' AS BIGINT)")
  ref("pair L4015",
    "SELECT try_cast(orderkey AS DOUBLE) FROM orders",
    "SELECT CAST(orderkey AS DOUBLE) FROM orders")
  ref("pair L4016",
    "SELECT try_cast(orderkey AS VARCHAR) FROM orders",
    "SELECT CAST(orderkey AS VARCHAR) FROM orders")
  ref("pair L4017",
    "SELECT try_cast(orderkey AS BOOLEAN) FROM orders",
    "SELECT CAST(orderkey AS BOOLEAN) FROM orders")
  ref("pair L4023",
    "SELECT try_cast(clerk AS VARCHAR) || try_cast(clerk AS VARCHAR) FROM orders",
    "SELECT clerk || clerk FROM orders")
  ref("pair L4053",
    "SELECT TRY(CAST('a' AS BIGINT))",
    "SELECT NULL")
  ref("pair L4092",
    "SELECT COUNT(*) FROM (SELECT * FROM lineitem) JOIN (SELECT * FROM orders) USING (orderkey)",
    "SELECT COUNT(*) FROM lineitem JOIN orders ON lineitem.orderkey = orders.orderkey")
  ref("pair L4100",
    "WITH a AS (SELECT * FROM orders) SELECT * FROM a",
    "SELECT * FROM orders")
  ref("pair L4115",
    "WITH a AS (SELECT * FROM orders) SELECT * FROM a x",
    "SELECT * FROM orders")
  ref("pair L4121",
    "WITH a AS (SELECT * FROM orders)SELECT * FROM (   SELECT * FROM a)",
    "SELECT * FROM orders")
  ref("pair L4132",
    "WITH a AS (SELECT orderkey n FROM orders) , b AS (SELECT n + 1 n FROM a) , c AS (SELECT n + 1 n FROM b) SELECT n + 1 FROM c",
    "SELECT orderkey + 3 FROM orders")
  ref("pair L4154",
    "WITH a AS (   WITH aa AS (SELECT 123 x FROM orders LIMIT 1)   SELECT x y FROM aa ), b AS (   WITH bb AS (     WITH bbb AS (SELECT y FROM a)     SELECT bbb.* FROM bbb   )   SELECT y z FROM bb ) SELECT * FROM (   WITH q AS (SELECT z w FROM b)   SELECT j.*, k.*   FROM a j   JOIN q k ON (j.y = k.w) ) t",
    "SELECT 123, 123 FROM orders LIMIT 1")
  ref("pair L4180",
    "WITH t (a, b, c) AS (SELECT 1, custkey x, orderkey FROM orders) SELECT c, b, a FROM t",
    "SELECT orderkey, custkey, 1 FROM orders")
  ref("pair L4228",
    " SELECT CASE x WHEN 1 THEN CAST(1 AS decimal(4,1)) WHEN 2 THEN CAST(1 AS decimal(4,2)) ELSE CAST(1 AS decimal(4,3)) END FROM (values 1) t(x)",
    "SELECT 1.000")
  ref("pair L4234",
    "SELECT sum(IF(orderstatus = 'F', totalprice, 0.0)) FROM orders",
    "SELECT sum(CASE WHEN orderstatus = 'F' THEN totalprice ELSE 0.0 END) FROM orders")
  ref("pair L4237",
    "SELECT sum(IF(orderstatus = 'Z', totalprice)) FROM orders",
    "SELECT sum(CASE WHEN orderstatus = 'Z' THEN totalprice END) FROM orders")
  ref("pair L4240",
    "SELECT sum(IF(orderstatus = 'F', NULL, totalprice)) FROM orders",
    "SELECT sum(CASE WHEN orderstatus = 'F' THEN NULL ELSE totalprice END) FROM orders")
  ref("pair L4243",
    "SELECT IF(orderstatus = 'Z', orderkey / 0, orderkey) FROM orders",
    "SELECT CASE WHEN orderstatus = 'Z' THEN orderkey / 0 ELSE orderkey END FROM orders")
  ref("pair L4246",
    "SELECT sum(IF(NULLIF(orderstatus, 'F') <> 'F', totalprice, 5.1)) FROM orders",
    "SELECT sum(CASE WHEN NULLIF(orderstatus, 'F') <> 'F' THEN totalprice ELSE 5.1 END) FROM orders")
  ref("pair L4258",
    "SELECT orderkey FROM orders WHERE orderkey IN (1.5, 2.3)",
    "SELECT orderkey FROM orders LIMIT 0")
  ref("pair L4267",
    "SELECT x FROM (values 1, 2, 3, 2147483648) t(x) WHERE x IN (1 + CAST(rand() < 0 AS bigint), 2 + CAST(rand() < 0 AS bigint), 2147483648)",
    "values 1, 2, 2147483648")
  ref("pair L4269",
    "SELECT x IN (0, 4294967297 + CAST(rand() < 0 AS bigint)) FROM (values 4294967296, 4294967297) t(x)",
    "values false, true")
  ref("pair L4304",
    "SELECT NULL IN (1, 2, 3)",
    "SELECT NULL")
  ref("pair L4311",
    "SELECT x IN (SELECT TRUE) FROM (SELECT * FROM (VALUES CAST(NULL AS BOOLEAN)) t(x) WHERE (x OR NULL) IS NULL)",
    "SELECT NULL")
  ref("pair L4312",
    "SELECT x IN (SELECT 1) FROM (SELECT * FROM (VALUES CAST(NULL AS INTEGER)) t(x) WHERE (x + 10 IS NULL) OR X = 2)",
    "SELECT NULL")
  ref("pair L4313",
    "SELECT x IN (SELECT 1 WHERE FALSE) FROM (SELECT * FROM (VALUES CAST(NULL AS INTEGER)) t(x) WHERE (x + 10 IS NULL) OR X = 2)",
    "SELECT FALSE")
  ref("pair L4326",
    "SELECT * FROM (SELECT orderkey, orderkey FROM orders)",
    "SELECT orderkey, orderkey FROM orders")
  ref("pair L4372",
    "SELECT a.Col0 FROM (VALUES row(cast(ROW(1,2) AS ROW(col0 integer, col1 integer)))) AS t (a)",
    "SELECT 1")
  ref("pair L4924",
    "SELECT linenumber, sum(TRY(100/(CAST (tax*10 AS BIGINT)))) FROM lineitem GROUP BY linenumber",
    "SELECT linenumber, sum(100/(CAST (tax*10 AS BIGINT))) FROM lineitem WHERE CAST(tax*10 AS BIGINT) <> 0 GROUP BY linenumber")
  ref("pair L4956",
    "SELECT JSON_FORMAT(TRY(JSON 'INVALID'))",
    "SELECT NULL")
  ref("pair L4957",
    "SELECT JSON_FORMAT(TRY (JSON_PARSE('INVALID')))",
    "SELECT NULL")
  ref("pair L4968",
    "SELECT COALESCE(TRY(CAST(CONCAT('a', CAST(123 AS VARCHAR)) AS BIGINT)), 0)",
    "SELECT 0L")
  ref("pair L4970",
    "SELECT JSON_FORMAT(TRY(JSON '[]')) || '123'",
    "SELECT '[]123'")
  ref("pair L4971",
    "SELECT JSON_FORMAT(TRY(JSON 'INVALID')) || '123'",
    "SELECT NULL")
  ref("pair L5077",
    "SELECT a[1] FROM (SELECT ARRAY[1] UNION ALL SELECT ARRAY[1]) t(a) LIMIT 1",
    "SELECT 1")
  ref("pair L5090",
    "SELECT * FROM (   SELECT regionkey FROM nation    UNION ALL    SELECT nationkey FROM nation) t(a) ORDER BY a LIMIT 1",
    "SELECT 0")
  ref("pair L5113",
    "SELECT regionkey, count(*) FROM (   SELECT regionkey FROM nation    UNION ALL    SELECT * FROM (VALUES 2, 100) t(regionkey)) GROUP BY regionkey",
    "SELECT * FROM (VALUES  (0, 5), (1, 5), (2, 6), (3, 5), (4, 5), (100, 1))")
  ref("pair L5206",
    "SELECT orderkey, 1 FROM orders UNION ALL SELECT orderkey, count(*) FROM orders GROUP BY 1",
    "SELECT orderkey, 1 FROM orders UNION ALL SELECT orderkey, count(*) FROM orders GROUP BY orderkey")
  ref("pair L5214",
    "SELECT orderkey, count(*) FROM orders GROUP BY 1 UNION ALL SELECT orderkey, 1 FROM orders",
    "SELECT orderkey, count(*) FROM orders GROUP BY orderkey UNION ALL SELECT orderkey, 1 FROM orders")
  ref("pair L5279",
    "VALUES 1 UNION ALL VALUES 1.0, 2",
    "SELECT * FROM (VALUES 1) UNION ALL SELECT * FROM (VALUES 1.0, 2)")
  ref("pair L5280",
    "(VALUES 1) UNION ALL (VALUES 1.0, 2)",
    "SELECT * FROM (VALUES 1) UNION ALL SELECT * FROM (VALUES 1.0, 2)")
  ref("pair L5285",
    "SELECT * FROM (VALUES 1) UNION SELECT * FROM (VALUES 1.0, 2)",
    "VALUES 1.0, 2.0")
  ref("pair L5312",
    "TABLE orders ORDER BY orderkey LIMIT 10",
    "SELECT * FROM orders ORDER BY orderkey LIMIT 10")
  ref("pair L5318",
    "(SELECT * FROM orders ORDER BY orderkey LIMIT 10) UNION ALL TABLE orders",
    "(SELECT * FROM orders ORDER BY orderkey LIMIT 10) UNION ALL SELECT * FROM orders")
  ref("pair L5324",
    "(TABLE orders) ORDER BY orderkey",
    "(SELECT * FROM orders) ORDER BY orderkey")
  ref("pair L5399",
    "SELECT a, b, c, d FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')) t1 (a, b) CROSS JOIN (VALUES (1, 1.1), (3, 3.3), (5, 5.5)) t2 (c, d) WHERE t1.a > t2.c",
    "SELECT * FROM (VALUES  (2, 'b', 1, 1.1), (3, 'c', 1, 1.1), (4, 'd', 1, 1.1), (4, 'd', 3, 3.3))")
  ref("pair L5423",
    "SELECT a, b FROM (VALUES ('AA'), ('BB'), (null)) t (a), (VALUES ('111'), (null), ('333')) u (b)",
    "SELECT * FROM (VALUES ('AA', '111'), ('AA', null), ('AA', '333'), ('BB', '111'), ('BB', null), ('BB', '333'), (null, '111'), (null, null), (null, '333'))")
  ref("pair L5509",
    "SELECT * FROM (VALUES (1,1), (2,2), (3, 3)) t(x, y) WHERE (x+y in (VALUES 4, 5)) AND (x*y in (VALUES 4, 5))",
    "VALUES (2,2)")
  ref("pair L5516",
    "SELECT 1.0 in (values (1), (2), (3))",
    "SELECT true")
  ref("pair L5520",
    "SELECT CAST(1 AS decimal(3,2)) IN (values (cast(1 AS decimal(3,1))), (cast (2 AS decimal(3,1))))",
    "SELECT true")
  ref("pair L5618",
    "WITH empty AS (SELECT 1 WHERE FALSE) SELECT x FROM (VALUES NULL) t(x) WHERE x NOT IN (SELECT * FROM empty)",
    "VALUES NULL")
  ref("pair L5801",
    "SELECT x IN (SELECT * FROM (VALUES 1)) FROM (VALUES 2) t(x) WHERE x IN (SELECT * FROM (VALUES 1))",
    "SELECT 1 WHERE false")
  ref("pair L5867",
    "SELECT DISTINCT COUNT(*) FROM (SELECT * FROM orders ORDER BY orderkey LIMIT 5) o1 FULL JOIN (SELECT * FROM orders ORDER BY orderkey LIMIT 10) o2 ON o1.orderkey BETWEEN (SELECT avg(orderkey) FROM orders) - 10 AND (SELECT avg(orderkey) FROM orders) + 10 GROUP BY o1.orderkey",
    "VALUES 1, 10")
  ref("pair L5925",
    "SELECT (NOT EXISTS(SELECT 1)) IN (true, false)",
    "SELECT true")
  ref("pair L5927",
    "SELECT (EXISTS(SELECT 1 WHERE false)) IN (true, false)",
    "SELECT true")
  ref("pair L5928",
    "SELECT (NOT EXISTS(SELECT 1 WHERE false)) IN (true, false)",
    "SELECT true")
  ref("pair L5931",
    "SELECT (NOT EXISTS(SELECT 1 WHERE false)) IN (false)",
    "SELECT false")
  ref("pair L6449",
    "SELECT EXISTS(SELECT 1 FROM (VALUES 1, 1, 1, 2, 2, 3, 4) i(a) WHERE i.a < o.a AND i.a < 4) FROM (VALUES 0, 3, 3, 5) o(a)",
    "VALUES false, true, true, true")
  ref("pair L6530",
    "SELECT   count(*) AS numwait FROM   nation l1 WHERE   EXISTS(     SELECT *     FROM       nation l2     WHERE       l2.nationkey = l1.nationkey   )   AND NOT EXISTS(     SELECT *     FROM       nation l3     WHERE       l3.nationkey= l1.nationkey   ) ",
    "VALUES 0")
  ref("pair L7427",
    "SELECT val FROM (SELECT DISTINCT vals FROM (values (array[2])) t(vals) WHERE false) tmp CROSS JOIN unnest(tmp.vals) tt(val)",
    "SELECT 1 WHERE 1=2")
  ref("pair L7476",
    "SELECT * FROM (  SELECT t2.x || t2.z cc FROM (    SELECT *    FROM (VALUES (CAST('a' AS VARCHAR), CAST('c' AS VARCHAR))) t(x, z)  ) t2  JOIN (    SELECT *    FROM (VALUES (CAST('a' AS VARCHAR), CAST('c' AS VARCHAR))) u(x, z)    WHERE z='c'  ) u2  ON t2.z = u2.z) tt WHERE cc = 'ac'",
    "SELECT 'ac'")
  ref("pair L7491",
    "SELECT * FROM (  SELECT greatest (t.x, t.z) cc FROM (    SELECT *    FROM (VALUES (VARCHAR 'a', VARCHAR 'c')) t(x, z)  ) t  JOIN (    SELECT *    FROM (VALUES (VARCHAR 'a', VARCHAR 'c')) u(x, z)    WHERE z='c'  ) u  ON t.z = u.z)WHERE cc = 'c'",
    "SELECT 'c'")
  ref("pair L7506",
    "SELECT cc[1], cc[2] FROM ( SELECT * FROM (  SELECT array[t.x, t.z] cc FROM (    SELECT *    FROM (VALUES (VARCHAR 'a', VARCHAR 'c')) t(x, z)  ) t  JOIN (    SELECT *    FROM (VALUES (VARCHAR 'a', VARCHAR 'c')) u(x, z)    WHERE z='c'  ) u  ON t.z = u.z) WHERE cc = array['a', 'c'])",
    "SELECT 'a', 'c'")
  ref("pair L7721",
    "SELECT CAST(1 AS decimal(3,2)) = ANY(SELECT CAST(1 AS decimal(3,1)))",
    "SELECT true")
  ref("pair L7907",
    "SELECT count(*) FROM nation WHERE (SELECT true FROM (SELECT 1) t(a) WHERE a = nationkey) OR TRUE",
    "SELECT 25")
  ref("pair L7910",
    "SELECT (SELECT true FROM (SELECT 1) t(a) WHERE a = nationkey) FROM nation WHERE (SELECT true FROM (SELECT 1) t(a) WHERE a = nationkey) OR TRUE ORDER BY nationkey LIMIT 2",
    "VALUES true, null")
  ref("pair L7939",
    "SELECT name FROM nation, LATERAL (SELECT 1 WHERE false)",
    "SELECT 1 WHERE false")
  ref("pair L7943",
    "SELECT name FROM nation, LATERAL (SELECT 1)",
    "SELECT name FROM nation")
  ref("pair L7947",
    "SELECT name FROM nation, LATERAL (SELECT 1 WHERE name = 'ola')",
    "SELECT 1 WHERE false")
  ref("pair L7951",
    "SELECT nationkey, a FROM nation, LATERAL (SELECT max(region.name) FROM region WHERE region.regionkey <= nation.regionkey) t(a) ORDER BY nationkey LIMIT 1",
    "VALUES (0, 'AFRICA')")
  ref("pair L7955",
    "SELECT nationkey, a FROM nation, LATERAL (SELECT region.name || '_' FROM region WHERE region.regionkey = nation.regionkey) t(a) ORDER BY nationkey LIMIT 1",
    "VALUES (0, 'AFRICA_')")
  ref("pair L7963",
    "SELECT * FROM region r, LATERAL (SELECT * FROM nation) n WHERE n.regionkey = r.regionkey",
    "SELECT * FROM region, nation WHERE nation.regionkey = region.regionkey")
  ref("pair L7966",
    "SELECT * FROM region, LATERAL (SELECT * FROM nation WHERE nation.regionkey = region.regionkey)",
    "SELECT * FROM region, nation WHERE nation.regionkey = region.regionkey")
  ref("pair L7979",
    "SELECT y FROM (VALUES array[2, 3]) a(x) CROSS JOIN LATERAL(SELECT x[1]) b(y)",
    "SELECT 2")
  ref("pair L7982",
    "SELECT * FROM (VALUES 2) a(x) CROSS JOIN LATERAL(SELECT x + 1)",
    "SELECT 2, 3")
  ref("pair L7985",
    "SELECT * FROM (VALUES 2) a(x) CROSS JOIN LATERAL(SELECT x)",
    "SELECT 2, 2")
  ref("pair L7988",
    "SELECT * FROM (VALUES 2) a(x) CROSS JOIN LATERAL(SELECT x, x + 1)",
    "SELECT 2, 2, 3")
  ref("pair L8010",
    "SELECT count(*) FROM (VALUES 2) t(a) GROUP BY a",
    "VALUES 1")
  ref("pair L8011",
    "SELECT a, count(*) FROM (VALUES 2) t(a) GROUP BY a",
    "VALUES (2, 1)")
  ref("pair L8012",
    "SELECT count(*) FROM (VALUES 2) t(a) GROUP BY a+1",
    "VALUES 1")
  ref("pair L223",
    "SELECT apply(0, x -> x + c1) FROM (VALUES 1) t(c1)",
    "VALUES 1")
  ref("pair L224",
    "SELECT apply(0, x -> x + t.c1) FROM (VALUES 1) t(c1)",
    "VALUES 1")
  ref("pair L225",
    "SELECT apply(c1, x -> x + c2) FROM (VALUES (1, 2), (3, 4), (5, 6)) t(c1, c2)",
    "VALUES 3, 7, 11")
  ref("pair L226",
    "SELECT apply(c1 + 10, x -> apply(x + 100, y -> c1)) FROM (VALUES 1) t(c1)",
    "VALUES 1")
  ref("pair L227",
    "SELECT apply(c1 + 10, x -> apply(x + 100, y -> t.c1)) FROM (VALUES 1) t(c1)",
    "VALUES 1")
  ref("pair L237",
    "SELECT apply(1, x -> apply(10, y -> x)) FROM (VALUES 1000) t(x)",
    "VALUES 1")
  ref("pair L238",
    "SELECT apply(1, x -> apply(10, y -> x)) FROM (VALUES 'abc') t(x)",
    "VALUES 1")
  ref("pair L239",
    "SELECT apply(1, x -> apply(10, y -> apply(100, z -> x))) FROM (VALUES 1000) t(x)",
    "VALUES 1")
  ref("pair L240",
    "SELECT apply(1, x -> apply(10, y -> apply(100, z -> x))) FROM (VALUES 'abc') t(x)",
    "VALUES 1")
  ref("pair L243",
    "SELECT * FROM (VALUES true) t(x) left JOIN (VALUES 1001) t2(y) ON (apply(false, z -> apply(false, y -> x)))",
    "SELECT true, 1001")
  ref("pair L249",
    "SELECT apply(sum(x), i -> i * i) FROM (VALUES 1, 2, 3, 4, 5) t(x)",
    "SELECT 225")
  ref("pair L250",
    "SELECT apply(x, i -> i - 1), sum(y) FROM (VALUES (1, 10), (1, 20), (2, 50)) t(x,y) GROUP BY x",
    "VALUES (0, 30), (1, 50)")
  ref("pair L251",
    "SELECT x, apply(sum(y), i -> i * 10) FROM (VALUES (1, 10), (1, 20), (2, 50)) t(x,y) GROUP BY x",
    "VALUES (1, 300), (2, 500)")
  ref("pair L252",
    "SELECT apply(8, x -> x + 1) FROM (VALUES (1, 2)) t(x,y) GROUP BY y",
    "SELECT 9")
  ref("pair L257",
    "SELECT apply(sum(x), x -> apply(x, x -> x * x)) FROM (VALUES 1, 2, 3, 4, 5) t(x)",
    "SELECT 225")
  ref("pair L263",
    "SELECT apply(x, i -> i * i) FROM (SELECT 10 x)",
    "SELECT 100")
  ref("pair L267",
    "SELECT apply(x, i -> i * x) FROM (SELECT 10 x)",
    "SELECT 100")
  ref("pair L268",
    "SELECT apply(x, y -> y * x) FROM (SELECT 10 x, 3 y)",
    "SELECT 100")
  ref("pair L269",
    "SELECT apply(x, z -> y * x) FROM (SELECT 10 x, 3 y)",
    "SELECT 30")
  ref("pair L275",
    "SELECT * FROM UNNEST(transform(sequence(1, 5), x -> x * x))",
    "SELECT * FROM (VALUES 1, 4, 9, 16, 25)")
  ref("pair L276",
    "SELECT x[5] FROM (VALUES transform(sequence(1, 5), x -> x * x)) t(x)",
    "SELECT 25")
  ref("pair L282",
    "SELECT x + x FROM (SELECT apply(a, i -> i * i) x FROM (VALUES 3) t(a))",
    "SELECT 18")
  ref("pair L283",
    "SELECT apply(a, i -> i * i) + apply(a, i -> i * i) FROM (VALUES 3) t(a)",
    "SELECT 18")
  ref("pair L284",
    "SELECT apply(a, i -> i * i), apply(a, i -> i * i) FROM (VALUES 3) t(a)",
    "SELECT 9, 9")
  ref("pair L285",
    "SELECT try(10 / a) + try(10 / a) FROM (VALUES 5) t(a)",
    "SELECT 4")
  ref("pair L286",
    "SELECT try(10 / a), try(10 / a) FROM (VALUES 5) t(a)",
    "SELECT 2, 2")
  ref("pair L316",
    "SELECT map(array[1], array['aa'])[1]",
    "SELECT 'aa'")
  ref("pair L317",
    "SELECT map(array['a'], array['aa'])['a']",
    "SELECT 'aa'")
  ref("pair L318",
    "SELECT map(array[array[1,1]], array['a'])[array[1,1]]",
    "SELECT 'a'")
  ref("pair L319",
    "SELECT map(array[(1,2)], array['a'])[(1,2)]",
    "SELECT 'a'")
  ref("pair L325",
    "SELECT LENGTH(x) FROM (SELECT from_base64('gw==') AS x)",
    "SELECT 1")
  ref("pair L326",
    "SELECT LENGTH(from_base64('gw=='))",
    "SELECT 1")
  ref("pair L333",
    "SELECT a.col0 FROM (VALUES ROW (CAST(ROW(1, 2) AS ROW(col0 integer, col1 integer)))) AS t (a)",
    "SELECT 1")
  ref("pair L334",
    "SELECT a.col0 FROM (VALUES ROW (CAST(ROW(1.0E0, 2.0E0) AS ROW(col0 integer, col1 integer)))) AS t (a)",
    "SELECT 1.0")
  ref("pair L335",
    "SELECT a.col0 FROM (VALUES ROW (CAST(ROW(TRUE, FALSE) AS ROW(col0 boolean, col1 boolean)))) AS t (a)",
    "SELECT TRUE")
  ref("pair L336",
    "SELECT a.col1 FROM (VALUES ROW (CAST(ROW(1.0, 'kittens') AS ROW(col0 varchar, col1 varchar)))) AS t (a)",
    "SELECT 'kittens'")
  ref("pair L337",
    "SELECT a.col2.col1 FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[2], row(3, 4.0)) AS ROW(col0 double, col1 array(int), col2 row(col0 integer, col1 double))))) t(a)",
    "SELECT 4.0")
  ref("pair L340",
    "SELECT CAST(row(1, t.x) AS row(col0 bigint, col1 bigint)).col1 FROM (VALUES 1, 2, 3) t(x)",
    "SELECT * FROM (VALUES 1, 2, 3)")
  ref("pair L341",
    "SELECT Y.col1 FROM (SELECT CAST(row(1, t.x) AS row(col0 bigint, col1 bigint)) AS Y FROM (VALUES 1, 2, 3) t(x)) test_t",
    "SELECT * FROM (VALUES 1, 2, 3)")
  ref("pair L344",
    "SELECT a.col1[2] FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[22, 33, 44, 55], row(3, 4.0E0)) AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double))))) t(a)",
    "SELECT 33")
  ref("pair L345",
    "SELECT a.col1[2].col0, a.col1[2].col1 FROM (VALUES ROW(cast(row(1.0, ARRAY[row(31, 4.1E0), row(32, 4.2E0)], row(3, 4.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double))))) t(a)",
    "SELECT 32, 4.2")
  ref("pair L347",
    "SELECT CAST(row(11, 12) AS row(col0 bigint, col1 bigint)).col0",
    "SELECT 11")
  ref("pair L353",
    "SELECT a.col0, SUM(a.col1[2]), SUM(a.col2.col0), SUM(a.col2.col1) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[2, 13, 4], row(11, 4.1E0))   AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.0, ARRAY[2, 23, 4], row(12, 14.0E0))  AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(1.0, ARRAY[22, 33, 44], row(13, 5.0E0)) AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double))))) t(a) GROUP BY a.col0",
    "SELECT * FROM VALUES (1.0, 46, 24, 9.1), (2.0, 23, 12, 14.0)")
  ref("pair L361",
    "SELECT a.col2.col0, SUM(a.col0), SUM(a.col1[2]), SUM(a.col2.col1) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[2, 13, 4], row(11, 4.1E0))   AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.0, ARRAY[2, 23, 4], row(11, 14.0E0))  AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(7.0, ARRAY[22, 33, 44], row(13, 5.0E0)) AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double))))) t(a) GROUP BY a.col2.col0",
    "SELECT * FROM VALUES (11, 3.0, 36, 18.1), (13, 7.0, 33, 5.0)")
  ref("pair L387",
    "SELECT a.col1[2], SUM(a.col0), SUM(a.col1[1]), SUM(a.col2.col1) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[2, 13, 4], row(11, 4.1E0))   AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.0, ARRAY[2, 13, 4], row(12, 14.0E0))  AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(7.0, ARRAY[22, 33, 44], row(13, 5.0E0)) AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double))))) t(a) GROUP BY a.col1[2]",
    "SELECT * FROM VALUES (13, 3.0, 4, 18.1), (33, 7.0, 22, 5.0)")
  ref("pair L395",
    "SELECT a.col2.col0, SUM(a.col2.col1) FROM (VALUES ROW(CAST(ROW(2.2, ARRAY[row(31, 4.2E0), row(22, 4.2E0)], row(5, 4.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(1.0, ARRAY[row(31, 4.5E0), row(12, 4.2E0)], row(3, 4.1E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(3.1, ARRAY[row(41, 3.1E0), row(32, 4.2E0)], row(6, 6.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(3.3, ARRAY[row(41, 3.1E0), row(32, 4.2E0)], row(6, 6.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))) ) t(a) GROUP BY a.col2",
    "SELECT * FROM VALUES (5, 4.0), (3, 4.1), (6, 12.0)")
  ref("pair L416",
    "SELECT a[1].col0, COUNT(1) FROM (VALUES (ROW(CAST(ARRAY[row(31, 4.2E0), row(22, 4.2E0)] AS ARRAY(ROW(col0 integer, col1 double))))), (ROW(CAST(ARRAY[row(31, 4.5E0), row(12, 4.2E0)] AS ARRAY(ROW(col0 integer, col1 double))))), (ROW(CAST(ARRAY[row(41, 3.1E0), row(32, 4.2E0)] AS ARRAY(ROW(col0 integer, col1 double))))), (ROW(CAST(ARRAY[row(31, 3.1E0), row(32, 4.2E0)] AS ARRAY(ROW(col0 integer, col1 double))))) ) t(a) GROUP BY 1 ORDER BY 2 DESC",
    "SELECT * FROM VALUES (31, 3), (41, 1)")
  ref("pair L431",
    "SELECT a.col0, SUM(a.col1[1].col1) OVER(PARTITION BY a.col2.col0), SUM(a.col2.col1) OVER(PARTITION BY a.col2.col0) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[row(31, 14.5E0), row(12, 4.2E0)], row(3, 4.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.2, ARRAY[row(41, 13.1E0), row(32, 4.2E0)], row(6, 6.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.2, ARRAY[row(41, 17.1E0), row(45, 4.2E0)], row(7, 16.0E0)) AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.2, ARRAY[row(41, 13.1E0), row(32, 4.2E0)], row(6, 6.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(3.1, ARRAY[row(41, 13.1E0), row(32, 4.2E0)], row(6, 6.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double))))) t(a) ",
    "SELECT * FROM VALUES (1.0, 14.5, 4.0), (2.2, 39.3, 18.0), (2.2, 39.3, 18.0), (2.2, 17.1, 16.0), (3.1, 39.3, 18.0)")
  ref("pair L442",
    "SELECT a.col1[1].col0, SUM(a.col0) OVER(PARTITION BY a.col1[1].col0), SUM(a.col1[1].col1) OVER(PARTITION BY a.col1[1].col0), SUM(a.col2.col1) OVER(PARTITION BY a.col1[1].col0) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[row(31, 14.5E0), row(12, 4.2E0)], row(3, 4.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(3.1, ARRAY[row(41, 13.1E0), row(32, 4.2E0)], row(6, 6.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.2, ARRAY[row(31, 14.2E0), row(22, 5.2E0)], row(5, 4.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double))))) t(a) WHERE a.col1[2].col1 > a.col2.col0",
    "SELECT * FROM VALUES (31, 3.2, 28.7, 8.0), (31, 3.2, 28.7, 8.0)")
  ref("pair L471",
    "SELECT CAST(row(1, 2) AS row(aa bigint, bb boolean)).aa",
    "SELECT 1")
  ref("pair L472",
    "SELECT CAST(row(1, 2) AS row(aa bigint, bb boolean)).bb",
    "SELECT true")
  ref("pair L473",
    "SELECT CAST(row(1, 2) AS row(aa bigint, bb varchar)).bb",
    "SELECT '2'")
  ref("pair L474",
    "SELECT CAST(row(true, array[0, 2]) AS row(aa boolean, bb array(boolean))).bb[1]",
    "SELECT false")
  ref("pair L475",
    "SELECT CAST(row(0.1, array[0, 2], row(1, 0.5)) AS row(aa bigint, bb array(boolean), cc row(dd varchar, ee varchar))).cc.ee",
    "SELECT '0.5'")
  ref("pair L476",
    "SELECT CAST(array[row(0.1, array[0, 2], row(1, 0.5))] AS array<row(aa bigint, bb array(boolean), cc row(dd varchar, ee varchar))>)[1].cc.ee",
    "SELECT '0.5'")
  ref("pair L482",
    "SELECT x FROM (   SELECT a.x   FROM (VALUES 1, 2, 3) a(x)) GROUP BY x",
    "SELECT * FROM VALUES 1, 2, 3")
  ref("pair L491",
    "SELECT t2.*, max(t1.b) AS max_b FROM (VALUES (1, 'a'),  (2, 'b'), (1, 'c'), (3, 'd')) t1(a, b) INNER JOIN (VALUES 1, 2, 3, 4) t2(a) ON t1.a = t2.a GROUP BY t2.a",
    "SELECT * FROM VALUES (1, 'c'), (2, 'b'), (3, 'd')")
  ref("pair L500",
    "SELECT t2.*, max(t1.b1) AS max_b1 FROM (VALUES (1, 'a'),  (2, 'b'), (1, 'c'), (3, 'd')) t1(a1, b1) INNER JOIN (VALUES (1, 11, 111), (2, 22, 222), (3, 33, 333), (4, 44, 444)) t2(a2, b2, c2) ON t1.a1 = t2.a2 GROUP BY t2.a2, t2.b2, t2.c2",
    "SELECT * FROM VALUES (1, 11, 111, 'c'), (2, 22, 222, 'b'), (3, 33, 333, 'd')")
  ref("pair L556",
    "SELECT a.col0 FROM (VALUES ROW(CAST(ROW(1, 2) AS ROW(col0 integer, col1 integer)))) AS t (a) WHERE a.col0 > 0",
    "SELECT 1")
  ref("pair L557",
    "SELECT SUM(a.col0) FROM (VALUES ROW(CAST(ROW(1, 2) AS ROW(col0 integer, col1 integer)))) AS t (a) WHERE a.col0 <= 0",
    "SELECT null")
  ref("pair L559",
    "SELECT a.col0 FROM (VALUES ROW(CAST(ROW(1, 2) AS ROW(col0 integer, col1 integer)))) AS t (a) WHERE a.col0 < a.col1",
    "SELECT 1")
  ref("pair L560",
    "SELECT SUM(a.col0) FROM (VALUES ROW(CAST(ROW(1, 2) AS ROW(col0 integer, col1 integer)))) AS t (a) WHERE a.col0 < a.col1",
    "SELECT 1")
  ref("pair L561",
    "SELECT SUM(a.col0) FROM (VALUES ROW(CAST(ROW(1, 2) AS ROW(col0 integer, col1 integer)))) AS t (a) WHERE a.col0 > a.col1",
    "SELECT null")
  ref("pair L567",
    "SELECT 1 FROM (VALUES (ARRAY[1])) AS t (a) CROSS JOIN UNNEST(a)",
    "SELECT 1")
  ref("pair L568",
    "SELECT x[1] FROM UNNEST(ARRAY[ARRAY[1, 2, 3]]) t(x)",
    "SELECT 1")
  ref("pair L569",
    "SELECT x[1][2] FROM UNNEST(ARRAY[ARRAY[ARRAY[1, 2, 3]]]) t(x)",
    "SELECT 2")
  ref("pair L570",
    "SELECT x[2] FROM UNNEST(ARRAY[MAP(ARRAY[1,2], ARRAY['hello', 'hi'])]) t(x)",
    "SELECT 'hi'")
  ref("pair L571",
    "SELECT * FROM UNNEST(ARRAY[1, 2, 3])",
    "SELECT * FROM VALUES (1), (2), (3)")
  ref("pair L572",
    "SELECT a FROM UNNEST(ARRAY[1, 2, 3]) t(a)",
    "SELECT * FROM VALUES (1), (2), (3)")
  ref("pair L573",
    "SELECT a, b FROM UNNEST(ARRAY[1, 2], ARRAY[3, 4]) t(a, b)",
    "SELECT * FROM VALUES (1, 3), (2, 4)")
  ref("pair L574",
    "SELECT a, b FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5]) t(a, b)",
    "SELECT * FROM VALUES (1, 4), (2, 5), (3, NULL)")
  ref("pair L575",
    "SELECT a FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5]) t(a, b)",
    "SELECT * FROM VALUES 1, 2, 3")
  ref("pair L576",
    "SELECT b FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5]) t(a, b)",
    "SELECT * FROM VALUES 4, 5, NULL")
  ref("pair L577",
    "SELECT count(*) FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5])",
    "SELECT 3")
  ref("pair L578",
    "SELECT a FROM UNNEST(ARRAY['kittens', 'puppies']) t(a)",
    "SELECT * FROM VALUES ('kittens'), ('puppies')")
  ref("pair L579",
    "SELECT c FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5]) t(a, b) CROSS JOIN (values (8), (9)) t2(c)",
    "SELECT * FROM VALUES 8, 8, 8, 9, 9, 9")
  ref("pair L594",
    "SELECT * FROM UNNEST(ARRAY[0, 1]) CROSS JOIN UNNEST(ARRAY[0, 1]) CROSS JOIN UNNEST(ARRAY[0, 1])",
    "SELECT * FROM VALUES (0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 0, 0), (1, 0, 1), (1, 1, 0), (1, 1, 1)")
  ref("pair L596",
    "SELECT * FROM UNNEST(ARRAY[0, 1]), UNNEST(ARRAY[0, 1]), UNNEST(ARRAY[0, 1])",
    "SELECT * FROM VALUES (0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 0, 0), (1, 0, 1), (1, 1, 0), (1, 1, 1)")
  ref("pair L598",
    "SELECT a, b FROM UNNEST(MAP(ARRAY[1,2], ARRAY['cat', 'dog'])) t(a, b)",
    "SELECT * FROM VALUES (1, 'cat'), (2, 'dog')")
  ref("pair L599",
    "SELECT a, b FROM UNNEST(MAP(ARRAY[1,2], ARRAY['cat', NULL])) t(a, b)",
    "SELECT * FROM VALUES (1, 'cat'), (2, NULL)")
  ref("pair L601",
    "SELECT 1 FROM (VALUES (ARRAY[1])) AS t (a) CROSS JOIN UNNEST(a) WITH ORDINALITY",
    "SELECT 1")
  ref("pair L602",
    "SELECT * FROM UNNEST(ARRAY[1, 2, 3]) WITH ORDINALITY",
    "SELECT * FROM VALUES (1, 1), (2, 2), (3, 3)")
  ref("pair L603",
    "SELECT b FROM UNNEST(ARRAY[10, 20, 30]) WITH ORDINALITY t(a, b)",
    "SELECT * FROM VALUES (1), (2), (3)")
  ref("pair L604",
    "SELECT a, b, c FROM UNNEST(ARRAY[10, 20, 30], ARRAY[4, 5]) WITH ORDINALITY t(a, b, c)",
    "SELECT * FROM VALUES (10, 4, 1), (20, 5, 2), (30, NULL, 3)")
  ref("pair L605",
    "SELECT a, b FROM UNNEST(ARRAY['kittens', 'puppies']) WITH ORDINALITY t(a, b)",
    "SELECT * FROM VALUES ('kittens', 1), ('puppies', 2)")
  ref("pair L606",
    "SELECT c FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5]) WITH ORDINALITY t(a, b, c) CROSS JOIN (values (8), (9)) t2(d)",
    "SELECT * FROM VALUES 1, 1, 2, 2, 3, 3")
  ref("pair L638",
    "SELECT a[1] FROM (SELECT ARRAY[orderkey] AS a FROM orders ORDER BY orderkey) t",
    "SELECT orderkey FROM orders")
  ref("pair L639",
    "SELECT a[1 + CAST(round(rand()) AS BIGINT)] FROM (SELECT ARRAY[orderkey, orderkey] AS a FROM orders ORDER BY orderkey) t",
    "SELECT orderkey FROM orders")
  ref("pair L640",
    "SELECT a[1] + 1 FROM (SELECT ARRAY[orderkey] AS a FROM orders ORDER BY orderkey) t",
    "SELECT orderkey + 1 FROM orders")
  ref("pair L641",
    "SELECT a[1] FROM (SELECT ARRAY[orderkey + 1] AS a FROM orders ORDER BY orderkey) t",
    "SELECT orderkey + 1 FROM orders")
  ref("pair L642",
    "SELECT a[1][1] FROM (SELECT ARRAY[ARRAY[orderkey + 1]] AS a FROM orders ORDER BY orderkey) t",
    "SELECT orderkey + 1 FROM orders")
  ref("pair L643",
    "SELECT CARDINALITY(a) FROM (SELECT ARRAY[orderkey, orderkey + 1] AS a FROM orders ORDER BY orderkey) t",
    "SELECT 2 FROM orders")
  ref("pair L682",
    "VALUES 1, 3, 2, 4 ORDER BY 1",
    "SELECT * FROM (VALUES 1, 3, 2, 4) ORDER BY 1")
  ref("pair L685",
    "VALUES (1.1, 2), (sin(3.3), 2+2) LIMIT 1",
    "VALUES (1.1, 2)")
  ref("pair L689",
    "WITH a AS (VALUES (1.1, 2), (sin(3.3), 2+2)) SELECT * FROM a",
    "VALUES (1.1, 2), (sin(3.3), 2+2)")
  ref("pair L851",
    "SELECT DISTINCT x FROM (VALUES 1) t(x) JOIN (VALUES 10, 20) u(a) ON t.x < u.a LIMIT 100",
    "SELECT 1")
  ref("pair L887",
    "SELECT a*2 AS b FROM (VALUES -1, 0, 2) t(a) ORDER BY b*-1",
    "VALUES 4, 0, -2")
  ref("pair L888",
    "SELECT a*2 AS b FROM (VALUES -1, 0, 2) t(a) ORDER BY b",
    "VALUES -2, 0, 4")
  ref("pair L889",
    "SELECT a*-2 AS a FROM (VALUES -1, 0, 2) t(a) ORDER BY a*-1",
    "VALUES 2, 0, -4")
  ref("pair L890",
    "SELECT a*-2 AS a FROM (VALUES -1, 0, 2) t(a) ORDER BY t.a*-1",
    "VALUES -4, 0, 2")
  ref("pair L891",
    "SELECT a*-2 FROM (VALUES -1, 0, 2) t(a) ORDER BY a*-1",
    "VALUES -4, 0, 2")
  ref("pair L892",
    "SELECT a*-2 FROM (VALUES -1, 0, 2) t(a) ORDER BY t.a*-1",
    "VALUES -4, 0, 2")
  ref("pair L900",
    "SELECT 1 x ORDER BY degrees(x)",
    "VALUES 1")
  ref("pair L904",
    "SELECT 1 x ORDER BY degrees(x)",
    "VALUES 1")
  ref("pair L980",
    "SELECT custkey, totalprice FROM orders LIMIT ALL",
    "SELECT custkey, totalprice FROM orders")
  ref("pair L992",
    "SELECT custkey, totalprice FROM orders ORDER BY orderkey LIMIT ALL",
    "SELECT custkey, totalprice FROM orders ORDER BY orderkey")
  ref("pair L1219",
    "SELECT a, sum(b), grouping(a) FROM (VALUES ('h', 11, 0), ('k', 7, 0)) AS t (a, b, c) GROUP BY GROUPING SETS (a)",
    "VALUES ('h', 11, 0), ('k', 7, 0)")
  ref("pair L1866",
    "SELECT * FROM (VALUES 1, 2) t1(a) JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (2, 11), (2, 10)")
  ref("pair L1869",
    "SELECT COUNT(*) FROM (VALUES 1, 2) t1(a) JOIN (VALUES 10, 11) t2(b) ON a > 2",
    "VALUES (0)")
  ref("pair L1872",
    "SELECT * FROM (VALUES 1, 2) t1(a) JOIN (VALUES 10, 11) t2(b) ON a+9 > b",
    "VALUES (2, 10)")
  ref("pair L1891",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > d",
    "VALUES (1, 2, 1, 1), (1, 1, NULL, NULL)")
  ref("pair L1894",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b < d",
    "VALUES (1, 1, 1, 2), (1, 2, NULL, NULL)")
  ref("pair L1897",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 2",
    "VALUES (1, 1, NULL,  NULL), (1, 2, NULL, NULL)")
  ref("pair L1900",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 2",
    "VALUES (1, 1, NULL, NULL), (1, 2, NULL, NULL)")
  ref("pair L1903",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 0",
    "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L1906",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 0",
    "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L1909",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND c = d",
    "VALUES (1, 1, 1, 1), (1, 2, 1, 1)")
  ref("pair L1912",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND c < d",
    "VALUES (1, 1, 1, 2), (1, 2, 1, 2)")
  ref("pair L1915",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON c = d",
    "VALUES (1, 1, 1, 1), (1, 2, 1, 1)")
  ref("pair L1918",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON c < d",
    "VALUES (1, 1, 1, 2), (1, 2, 1, 2)")
  ref("pair L1921",
    "SELECT * FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON 1 = 1",
    "VALUES (1, 10), (1, 11), (2, 10), (2, 11)")
  ref("pair L1924",
    "SELECT * FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (1, NULL), (2, 11), (2, 10)")
  ref("pair L1927",
    "SELECT * FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON b > 10",
    "VALUES (1, 11), (2, 11)")
  ref("pair L1930",
    "SELECT * FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON a > b",
    "VALUES (1, NULL), (2, NULL)")
  ref("pair L1933",
    "SELECT * FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON a < b",
    "VALUES (1, 10), (1, 11), (2, 10), (2, 11)")
  ref("pair L1937",
    "SELECT * FROM (VALUES 1) t1(a) LEFT OUTER JOIN (VALUES (1,2,2), (1,2,3), (1, 2, NULL)) t2(x,y,z) ON a=x AND y = z",
    "VALUES (1, 1, 2, 2)")
  ref("pair L1943",
    "SELECT 1 FROM (VALUES 1, 20) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON a > b WHERE b IS NOT NULL",
    "VALUES (1), (1)")
  ref("pair L1950",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND from_unixtime(b) > current_timestamp",
    "VALUES (1, 1, NULL, NULL), (1, 2, NULL, NULL)")
  ref("pair L1957",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d)              ON a=c AND TRY(1 / (b-a) != 1000)",
    "VALUES (1, 1, NULL, NULL), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L1962",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d)              ON a=c AND TRY(1 / (b-a) != 1000 OR from_unixtime(b) > current_timestamp)",
    "VALUES (1, 1, NULL, NULL), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L2429",
    "SELECT CASE WHEN false THEN 1 IN (VALUES 2) END",
    "SELECT NULL")
  ref("pair L2568",
    "SELECT COUNT(*) FROM (SELECT * FROM lineitem WHERE orderkey % 1024 = 0) lineitem FULL JOIN orders ON lineitem.orderkey = 1024",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey, orders.orderkey AS o2 FROM (SELECT * FROM lineitem WHERE orderkey % 1024 = 0) lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = 1024 UNION ALL SELECT lineitem.orderkey, orders.orderkey AS o2 FROM (SELECT * FROM lineitem WHERE orderkey % 1024 = 0) lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = 1024 WHERE lineitem.orderkey IS NULL)")
  ref("pair L2580",
    "SELECT COUNT(*) FROM (SELECT * FROM lineitem WHERE orderkey % 1024 = 0) lineitem FULL JOIN orders ON orders.orderkey = 1024",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey, orders.orderkey AS o2 FROM (SELECT * FROM lineitem WHERE orderkey % 1024 = 0) lineitem LEFT OUTER JOIN orders ON orders.orderkey = 1024 UNION ALL SELECT lineitem.orderkey, orders.orderkey AS o2 FROM (SELECT * FROM lineitem WHERE orderkey % 1024 = 0) lineitem RIGHT OUTER JOIN orders ON orders.orderkey = 1024 WHERE lineitem.orderkey IS NULL)")
  ref("pair L2951",
    "SELECT orderkey, custkey, orderstatus FROM orders ORDER BY nullif(orderkey, 3) ASC, custkey ASC",
    "SELECT orderkey, custkey, orderstatus FROM orders ORDER BY nullif(orderkey, 3) ASC NULLS LAST, custkey ASC")
  ref("pair L2983",
    "WITH t AS (SELECT 1 x, 2 y) SELECT x, y FROM t ORDER BY x, y",
    "SELECT 1, 2")
  ref("pair L2986",
    "WITH t AS (SELECT 1 x, 2 y) SELECT x, y FROM t ORDER BY x, y LIMIT 1",
    "SELECT 1, 2")
  ref("pair L2989",
    "WITH t AS (SELECT 1 x, 1 y) SELECT x, y FROM t ORDER BY x, y LIMIT 1",
    "SELECT 1, 1")
  ref("pair L3280",
    "SELECT *, 1.0 * sum(x) OVER () FROM (VALUES 1) t(x)",
    "SELECT 1, 1.0")
  ref("pair L3742",
    "SELECT * FROM (    SELECT row_number() OVER (PARTITION BY orderstatus ORDER BY orderkey) rn, orderstatus    FROM orders ) WHERE rn <= 2",
    "VALUES (1, 'O'), (2, 'O'), (1, 'F'), (2, 'F'), (1, 'P'), (2, 'P')")
  ref("pair L3804",
    "SELECT * FROM (    SELECT row_number() OVER (PARTITION BY orderstatus ORDER BY orderkey) rn, orderstatus    FROM orders ) WHERE rn = 2",
    "VALUES (2, 'O'), (2, 'F'), (2, 'P')")
  ref("pair L4014",
    "SELECT try_cast(totalprice AS BIGINT) FROM orders",
    "SELECT CAST(totalprice AS BIGINT) FROM orders")
  ref("pair L4019",
    "SELECT try_cast('foo' AS BIGINT)",
    "SELECT CAST(null AS BIGINT)")
  ref("pair L4020",
    "SELECT try_cast(clerk AS BIGINT) FROM orders",
    "SELECT CAST(null AS BIGINT) FROM orders")
  ref("pair L4021",
    "SELECT try_cast(orderkey * orderkey AS VARCHAR) FROM orders",
    "SELECT CAST(orderkey * orderkey AS VARCHAR) FROM orders")
  ref("pair L4022",
    "SELECT try_cast(try_cast(orderkey AS VARCHAR) AS BIGINT) FROM orders",
    "SELECT orderkey FROM orders")
  ref("pair L4025",
    "SELECT coalesce(try_cast('foo' AS BIGINT), 456)",
    "SELECT 456")
  ref("pair L4026",
    "SELECT coalesce(try_cast(clerk AS BIGINT), 456) FROM orders",
    "SELECT 456 FROM orders")
  ref("pair L4028",
    "SELECT CAST(x AS BIGINT) FROM (VALUES 1, 2, 3, NULL) t (x)",
    "VALUES 1, 2, 3, NULL")
  ref("pair L4029",
    "SELECT try_cast(x AS BIGINT) FROM (VALUES 1, 2, 3, NULL) t (x)",
    "VALUES 1, 2, 3, NULL")
  ref("pair L4109",
    "WITH a AS (SELECT 123) SELECT a.* FROM a",
    "SELECT 123")
  ref("pair L4143",
    "WITH x AS (SELECT DISTINCT orderkey FROM orders ORDER BY orderkey LIMIT 10) SELECT count(*) FROM x a JOIN x b USING (orderkey)",
    "SELECT count(*) FROM (SELECT DISTINCT orderkey FROM orders ORDER BY orderkey LIMIT 10) a JOIN (SELECT DISTINCT orderkey FROM orders ORDER BY orderkey LIMIT 10) b ON a.orderkey = b.orderkey")
  ref("pair L4178",
    "WITH a (id) AS (SELECT 123) SELECT id FROM a",
    "SELECT 123")
  ref("pair L4188",
    "WITH a AS (SELECT 1),      b AS (         WITH a AS (SELECT 2)         SELECT * FROM a    )SELECT * FROM b",
    "SELECT 2")
  ref("pair L4251",
    "SELECT if(true, CAST(1 AS decimal(2,1)), 1)",
    "SELECT 1.0")
  ref("pair L4261",
    "SELECT x FROM (values 3, 100) t(x) WHERE x IN (2147483649)",
    "SELECT * WHERE false")
  ref("pair L4262",
    "SELECT x FROM (values 3, 100, 2147483648, 2147483649, 2147483650) t(x) WHERE x IN (2147483648, 2147483650)",
    "values 2147483648, 2147483650")
  ref("pair L4263",
    "SELECT x FROM (values 3, 100, 2147483648, 2147483649, 2147483650) t(x) WHERE x IN (3, 4, 2147483648, 2147483650)",
    "values 3, 2147483648, 2147483650")
  ref("pair L4264",
    "SELECT x FROM (values 1, 2, 3) t(x) WHERE x IN (1 + CAST(rand() < 0 AS bigint), 2 + CAST(rand() < 0 AS bigint))",
    "values 1, 2")
  ref("pair L4265",
    "SELECT x FROM (values 1, 2, 3, 4) t(x) WHERE x IN (1 + CAST(rand() < 0 AS bigint), 2 + CAST(rand() < 0 AS bigint), 4)",
    "values 1, 2, 4")
  ref("pair L4266",
    "SELECT x FROM (values 1, 2, 3, 4) t(x) WHERE x IN (4, 2, 1)",
    "values 1, 2, 4")
  ref("pair L4268",
    "SELECT x IN (0) FROM (values 4294967296) t(x)",
    "values false")
  ref("pair L4270",
    "SELECT NULL in (1, 2, 3)",
    "values null")
  ref("pair L4271",
    "SELECT 1 in (1, NULL, 3)",
    "values true")
  ref("pair L4272",
    "SELECT 2 in (1, NULL, 3)",
    "values null")
  ref("pair L4273",
    "SELECT x FROM (values DATE '1970-01-01', DATE '1970-01-03') t(x) WHERE x IN (DATE '1970-01-01')",
    "values DATE '1970-01-01'")
  ref("pair L4278",
    "SELECT COUNT(*) FROM (values 1) t(x) WHERE x IN (null, 0)",
    "SELECT 0")
  ref("pair L4279",
    "SELECT d IN (DECIMAL '2.0', DECIMAL '30.0') FROM (VALUES (2.0E0)) t(d)",
    "SELECT true")
  ref("pair L4305",
    "SELECT NULL IN (SELECT 1)",
    "SELECT NULL")
  ref("pair L4306",
    "SELECT NULL IN (SELECT 1 WHERE FALSE)",
    "SELECT FALSE")
  ref("pair L4307",
    "SELECT x FROM (VALUES NULL) t(x) WHERE x IN (SELECT 1)",
    "SELECT 33 WHERE FALSE")
  ref("pair L4308",
    "SELECT NULL IN (SELECT CAST(NULL AS BIGINT))",
    "SELECT NULL")
  ref("pair L4309",
    "SELECT NULL IN (SELECT NULL WHERE FALSE)",
    "SELECT FALSE")
  ref("pair L4310",
    "SELECT NULL IN ((SELECT 1) UNION ALL (SELECT NULL))",
    "SELECT NULL")
  ref("pair L4319",
    "SELECT a FROM (VALUES (1),(2)) t(a) WHERE a IN (SELECT b FROM (VALUES (ARRAY[2])) AS t1 (a) CROSS JOIN UNNEST(a) AS t2(b))",
    "SELECT 2")
  ref("pair L4929",
    "SELECT TRY(CAST(IF(round(totalprice) % 2 = 0, CAST(totalprice AS VARCHAR), '^&$' || CAST(totalprice AS VARCHAR)) AS DOUBLE)) FROM orders",
    "SELECT CASE WHEN round(totalprice) % 2 = 0 THEN totalprice ELSE null END FROM orders")
  ref("pair L4934",
    "SELECT COUNT(TRY(to_base(100, CAST(round(totalprice/100) AS BIGINT)))) FROM orders",
    "SELECT SUM(CASE WHEN CAST(round(totalprice/100) AS BIGINT) BETWEEN 2 AND 36 THEN 1 ELSE 0 END) FROM orders")
  ref("pair L4939",
    "SELECT COUNT(CAST(orderkey AS VARCHAR) || TRY(to_base(100, CAST(round(totalprice/100) AS BIGINT)))) FROM orders",
    "SELECT SUM(CASE WHEN CAST(round(totalprice/100) AS BIGINT) BETWEEN 2 AND 36 THEN 1 ELSE 0 END) FROM orders")
  ref("pair L4948",
    "SELECT x IS NULL FROM (SELECT TRY(1/y) AS x FROM (VALUES 3, 0, 4) t(y))",
    "VALUES false, true, false")
  ref("pair L4951",
    "SELECT TRY(apply(5, x -> x + 1) / 0)",
    "SELECT NULL")
  ref("pair L4952",
    "SELECT TRY(apply(5 + RANDOM(1), x -> x + 1) / 0)",
    "SELECT NULL")
  ref("pair L4953",
    "SELECT apply(5 + RANDOM(1), x -> x + TRY(1 / 0))",
    "SELECT NULL")
  ref("pair L4960",
    "SELECT TRY(CAST(NULL AS BIGINT))",
    "SELECT NULL")
  ref("pair L4961",
    "SELECT TRY(CAST('123' AS BIGINT))",
    "SELECT 123L")
  ref("pair L4962",
    "SELECT TRY(CAST('foo' AS BIGINT))",
    "SELECT NULL")
  ref("pair L4963",
    "SELECT TRY(CAST('foo' AS BIGINT)) + TRY(CAST('123' AS BIGINT))",
    "SELECT NULL")
  ref("pair L4964",
    "SELECT TRY(CAST(CAST(123 AS VARCHAR) AS BIGINT))",
    "SELECT 123L")
  ref("pair L4965",
    "SELECT COALESCE(CAST(CONCAT('123', CAST(123 AS VARCHAR)) AS BIGINT), 0)",
    "SELECT 123123L")
  ref("pair L4966",
    "SELECT TRY(CAST(CONCAT('hello', CAST(123 AS VARCHAR)) AS BIGINT))",
    "SELECT NULL")
  ref("pair L4967",
    "SELECT COALESCE(TRY(CAST(CONCAT('a', CAST(123 AS VARCHAR)) AS INTEGER)), 0)",
    "SELECT 0")
  ref("pair L4969",
    "SELECT 123 + TRY(ABS(-9223372036854775807 - 1))",
    "SELECT NULL")
  ref("pair L4972",
    "SELECT TRY(2/1)",
    "SELECT 2")
  ref("pair L4973",
    "SELECT TRY(2/0)",
    "SELECT null")
  ref("pair L4974",
    "SELECT COALESCE(TRY(2/0), 0)",
    "SELECT 0")
  ref("pair L4975",
    "SELECT TRY(ABS(-2))",
    "SELECT 2")
  ref("pair L5014",
    "SELECT orderkey, custkey, orderstatus FROM orders ORDER BY nullif(orderkey, 3) ASC, custkey ASC LIMIT 10",
    "SELECT orderkey, custkey, orderstatus FROM orders ORDER BY nullif(orderkey, 3) ASC NULLS LAST, custkey ASC LIMIT 10")
  ref("pair L5159",
    "SELECT count(orderkey), sum(sc) FROM (     SELECT sum(custkey) sc, orderkey FROM (         SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey=0         UNION ALL          SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey<>0)      GROUP BY GROUPING SETS ((orderkey, orderstatus), (orderkey)))",
    "SELECT count(orderkey), sum(sc) FROM (     SELECT sum(custkey) sc, orderkey FROM (         SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey=0         UNION ALL          SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey<>0)      GROUP BY orderkey, orderstatus           UNION ALL           SELECT sum(custkey) sc, orderkey FROM (         SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey=0         UNION ALL          SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey<>0)      GROUP BY orderkey)")
  ref("pair L5306",
    "TABLE orders",
    "SELECT * FROM orders")
  ref("pair L5419",
    "SELECT a, b FROM (VALUES (1), (2)) t (a) CROSS JOIN (VALUES (1), (3)) u (b)",
    "SELECT * FROM (VALUES  (1, 1), (1, 3), (2, 1), (2, 3))")
  ref("pair L5421",
    "SELECT a, b FROM (VALUES (1), (2), (null)) t (a), (VALUES (11), (null), (13)) u (b)",
    "SELECT * FROM (VALUES (1, 11), (1, null), (1, 13), (2, 11), (2, null), (2, 13), (null, 11), (null, null), (null, 13))")
  ref("pair L5519",
    "SELECT CAST(1 AS decimal(3,2)) IN (SELECT CAST(1 AS decimal(3,1)))",
    "SELECT true")
  ref("pair L5614",
    "WITH empty AS (SELECT 1 WHERE FALSE) SELECT 3 FROM (VALUES 1) WHERE NULL NOT IN (SELECT * FROM empty)",
    "VALUES 3")
  ref("pair L5641",
    "WITH empty AS (SELECT 1 WHERE FALSE) SELECT 3 FROM (VALUES 1) WHERE NULL IN (SELECT * FROM empty)",
    "SELECT 0 WHERE FALSE")
  ref("pair L5896",
    "SELECT * FROM (VALUES 1) t(a) WHERE 1=(SELECT count(*) WHERE 1.0 = a)",
    "SELECT 1")
  ref("pair L5897",
    "SELECT * FROM (VALUES 1.0) t(a) WHERE 1=(SELECT count(*) WHERE 1 = a)",
    "SELECT 1.0")
  ref("pair L5921",
    "SELECT (EXISTS(SELECT 1)) IN (false)",
    "SELECT false")
  ref("pair L5922",
    "SELECT (NOT EXISTS(SELECT 1)) IN (false)",
    "SELECT true")
  ref("pair L5924",
    "SELECT (EXISTS(SELECT 1)) IN (true, false)",
    "SELECT true")
  ref("pair L5930",
    "SELECT (EXISTS(SELECT 1 WHERE false)) IN (false)",
    "SELECT true")
  ref("pair L5934",
    "SELECT (EXISTS(SELECT 1)) = (EXISTS(SELECT 1)) WHERE NOT EXISTS(SELECT 1)",
    "SELECT true WHERE false")
  ref("pair L5935",
    "SELECT (EXISTS(SELECT 1)) = (EXISTS(SELECT 3)) WHERE NOT EXISTS(SELECT 1 WHERE false)",
    "SELECT true")
  ref("pair L5936",
    "SELECT COUNT(*) FROM lineitem WHERE (EXISTS(SELECT min(orderkey) FROM orders))=(NOT EXISTS(SELECT orderkey FROM orders WHERE false))",
    "SELECT count(*) FROM lineitem")
  ref("pair L6089",
    "SELECT 1 FROM nation n WHERE 2 * nationkey - 1  = (SELECT * FROM (SELECT n.nationkey))",
    "SELECT 1")
  ref("pair L6107",
    "SELECT (SELECT 1 WHERE a = 2) FROM (VALUES 1) t(a)",
    "SELECT null")
  ref("pair L6108",
    "SELECT (SELECT 2 WHERE a = 1) FROM (VALUES 1) t(a)",
    "SELECT 2")
  ref("pair L6129",
    "SELECT (SELECT 2 WHERE o.orderkey = 1) FROM orders o ORDER BY orderkey LIMIT 5",
    "VALUES 2, null, null, null, null")
  ref("pair L6176",
    "SELECT (SELECT name FROM nation WHERE nationkey = a) FROM (VALUES 31) t(a)",
    "VALUES null")
  ref("pair L6180",
    "SELECT (SELECT r.name FROM nation n, region r WHERE r.regionkey = n.regionkey AND n.nationkey = a) FROM (VALUES 1) t(a)",
    "VALUES 'AMERICA'")
  ref("pair L6237",
    "SELECT (SELECT round(3 * avg(i.a)) FROM (VALUES 1, 1, 1, 2, 2, 3, 4) i(a) WHERE i.a < o.a AND i.a < 4) FROM (VALUES 0, 3, 3, 5) o(a)",
    "VALUES null, 4, 4, 5")
  ref("pair L6313",
    "SELECT * FROM (VALUES (0),( 1), (2), (7)) AS v1(c1) WHERE v1.c1 > (SELECT count(c1) FROM (VALUES (0),( 1), (2)) AS v2(c1) WHERE v1.c1 = v2.c1)",
    "VALUES (2), (7)")
  ref("pair L6326",
    "SELECT t1.a, t1.b,   t1.b in (SELECT t2.b     FROM (values (2, 3), (2, 4), (3, 0), (30,NULL)) t2(a, b)     WHERE t1.a - 5 <= t2.a and t2.a <= t1.a and 0 <= t2.a) from (values (1,1), (2,4), (3,5), (4,NULL), (30,2), (40,NULL) ) t1(a, b) order by t1.a",
    "VALUES (1,1,FALSE), (2,4,TRUE), (3,5,FALSE), (4,NULL,NULL), (30,2,NULL), (40,NULL,FALSE)")
  ref("pair L6408",
    "SELECT EXISTS(SELECT 1 WHERE a = 1) FROM (VALUES 1, 1, 2, 3) t(a)",
    "VALUES true, true, false, false")
  ref("pair L6943",
    "SELECT custom_add(orderkey, custkey) FROM orders",
    "SELECT orderkey + custkey FROM orders")
  ref("agg L62",
    "SELECT COUNT(*) FROM orders WHERE NULLIF(orderstatus, 'F') IS NULL",
    "SELECT COUNT(*) FROM orders WHERE orderstatus = 'F' ")
  ref("agg L70",
    "SELECT COUNT(*) FROM orders WHERE NULLIF(orderstatus, 'F') IS NOT NULL",
    "SELECT COUNT(*) FROM orders WHERE orderstatus <> 'F' ")
  ref("agg L84",
    "SELECT COUNT(*) FROM orders WHERE COALESCE(NULLIF(orderstatus, 'F'), 'bar') = 'bar'",
    "SELECT COUNT(*) FROM orders WHERE orderstatus = 'F'")
  ref("agg L134",
    "SELECT col[1], count FROM (SELECT ARRAY[custkey] col, COUNT(*) count FROM orders GROUP BY 1 ORDER BY 1)",
    "SELECT custkey, COUNT(*) FROM orders GROUP BY custkey ORDER BY custkey")
  ref("agg L140",
    "SELECT col[1], count FROM (SELECT MAP(ARRAY[1], ARRAY[custkey]) col, COUNT(*) count FROM orders GROUP BY 1)",
    "SELECT custkey, COUNT(*) FROM orders GROUP BY custkey")
  ref("agg L146",
    "SELECT MAP_KEYS(x)[1] FROM (VALUES MAP(ARRAY['a'], ARRAY[ARRAY[1]]), MAP(ARRAY['b'], ARRAY[ARRAY[2]])) t(x) GROUP BY x",
    "VALUES 'a', 'b'")
  ref("agg L152",
    "SELECT col.col1, count FROM (SELECT CAST(row(custkey, custkey) AS row(col0 bigint, col1 bigint)) col, COUNT(*) count FROM orders GROUP BY 1)",
    "SELECT custkey, COUNT(*) FROM orders GROUP BY custkey")
  ref("agg L189",
    "SELECT COUNT(DISTINCT custkey + 1) FROM orders",
    "SELECT COUNT(*) FROM (SELECT DISTINCT custkey + 1 FROM orders) t")
  ref("agg L234",
    "SELECT count(DISTINCT a), max(b) FROM (VALUES (row(1, 2), 3)) t(a, b)",
    "VALUES (1, 3)")
  ref("agg L265",
    "SELECT COUNT(DISTINCT custkey), SUM(DISTINCT custkey) FROM orders",
    "SELECT COUNT(*), SUM(custkey) FROM (SELECT DISTINCT custkey FROM orders) t")
  ref("agg L289",
    "SELECT sum(x) FILTER (WHERE y > 4) FROM (VALUES (1, 3), (2, 4), (2, 4), (4, 5)) t (x, y)",
    "SELECT 4")
  ref("agg L290",
    "SELECT sum(x) FILTER (WHERE x > 1), sum(y) FILTER (WHERE y > 4) FROM (VALUES (1, 3), (2, 4), (2, 4), (4, 5)) t (x, y)",
    "SELECT 8, 5")
  ref("agg L291",
    "SELECT sum(x) FILTER (WHERE x > 1), sum(x) FROM (VALUES (1), (2), (2), (4)) t (x)",
    "SELECT 8, 9")
  ref("agg L292",
    "SELECT count(*) FILTER (WHERE x > 1), sum(x) FROM (VALUES (1, 3), (2, 4), (2, 4), (4, 5)) t (x, y)",
    "SELECT 3, 9")
  ref("agg L293",
    "SELECT count(*) FILTER (WHERE x > 1), count(DISTINCT y) FROM (VALUES (1, 10), (2, 10), (3, 10), (4, 20)) t (x, y)",
    "SELECT 3, 2")
  ref("agg L295",
    "SELECT sum(b) FILTER (WHERE true) FROM (SELECT count(*) FILTER (WHERE true) AS b)",
    "SELECT 1")
  ref("agg L300",
    "SELECT count(1) FILTER (WHERE orderstatus = 'O') FROM orders",
    "SELECT count(*) FROM orders WHERE orderstatus = 'O'")
  ref("agg L303",
    "SELECT sum(x) FILTER (WHERE y > 5) FROM (VALUES (1, 3), (2, 4), (2, 4), (4, 5)) t (x, y)",
    "SELECT null")
  ref("agg L304",
    "SELECT count(*) FILTER (WHERE x > 4), sum(x) FILTER (WHERE y > 5) FROM (VALUES (1, 3), (2, 4), (2, 4), (4, 5)) t (x, y)",
    "SELECT 0, null")
  ref("agg L333",
    "SELECT   value FROM (     SELECT         key     FROM         (VALUES 'match') AS a(key)         LEFT JOIN (SELECT * FROM (VALUES (0)) LIMIT 0) AS x(ignored)         ON TRUE     GROUP BY 1 ) a RIGHT JOIN (     VALUES     ('match', 'value'),     ('no-match', 'value') ) AS b(key, value) ON a.key = b.key GROUP BY 1 ",
    "VALUES 'value'")
  ref("agg L410",
    "SELECT a, count(1) FROM (VALUES 1, 2, 3, 2) t(a) GROUP BY a HAVING count(1) > 1",
    "SELECT 2, 2")
  ref("agg L458",
    "SELECT orderstatus, sum(totalprice) FROM orders GROUP BY 1",
    "SELECT orderstatus, sum(totalprice) FROM orders GROUP BY orderstatus")
  ref("agg L470",
    "SELECT CASE WHEN orderstatus = 'O' THEN 'a' ELSE 'b' END, count(*) FROM orders GROUP BY 1",
    "SELECT CASE WHEN orderstatus = 'O' THEN 'a' ELSE 'b' END, count(*) FROM orders GROUP BY CASE WHEN orderstatus = 'O' THEN 'a' ELSE 'b' END")
  ref("agg L487",
    "SELECT CASE WHEN orderstatus = 'O' THEN 'a' END, count(*) FROM orders GROUP BY 1",
    "SELECT CASE WHEN orderstatus = 'O' THEN 'a' END, count(*) FROM orders GROUP BY CASE WHEN orderstatus = 'O' THEN 'a' END")
  ref("agg L503",
    "SELECT IF(orderkey between 1 and 5, 'orders', 'others'), sum(totalprice) FROM orders GROUP BY 1",
    "SELECT CASE WHEN orderkey BETWEEN 1 AND 5 THEN 'orders' ELSE 'others' END, sum(totalprice) FROM orders GROUP BY CASE WHEN orderkey BETWEEN 1 AND 5 THEN 'orders' ELSE 'others' END")
  ref("agg L518",
    "SELECT CASE orderstatus WHEN 'O' THEN 'a' ELSE 'b' END, count(*) FROM orders GROUP BY 1",
    "SELECT CASE orderstatus WHEN 'O' THEN 'a' ELSE 'b' END, count(*) FROM orders GROUP BY CASE orderstatus WHEN 'O' THEN 'a' ELSE 'b' END")
  ref("agg L577",
    "SELECT CAST(orderkey AS VARCHAR), count(*) FROM orders GROUP BY 1",
    "SELECT CAST(orderkey AS VARCHAR), count(*) FROM orders GROUP BY CAST(orderkey AS VARCHAR)")
  ref("agg L591",
    "SELECT COALESCE(orderkey, custkey), count(*) FROM orders GROUP BY 1",
    "SELECT COALESCE(orderkey, custkey), count(*) FROM orders GROUP BY COALESCE(orderkey, custkey)")
  ref("agg L608",
    "SELECT NULLIF(orderkey, custkey), count(*) FROM orders GROUP BY 1",
    "SELECT NULLIF(orderkey, custkey), count(*) FROM orders GROUP BY NULLIF(orderkey, custkey)")
  ref("agg L625",
    "SELECT EXTRACT(YEAR FROM now()), count(*) FROM orders GROUP BY 1",
    "SELECT EXTRACT(YEAR FROM now()), count(*) FROM orders GROUP BY EXTRACT(YEAR FROM now())")
  ref("agg L802",
    "SELECT orderstatus, COUNT(*) FROM orders GROUP BY orderstatus",
    "SELECT orderstatus, CAST(COUNT(*) AS INTEGER) FROM orders GROUP BY orderstatus")
  ref("agg L816",
    "SELECT orderdate x, COUNT(*) FROM orders GROUP BY orderdate",
    "SELECT orderdate x, CAST(COUNT(*) AS INTEGER) FROM orders GROUP BY orderdate")
  ref("agg L849",
    "SELECT linenumber, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY GROUPING SETS (linenumber)",
    "SELECT linenumber, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber")
  ref("agg L861",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY GROUPING SETS ((linenumber, suppkey), (suppkey))",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber, suppkey UNION SELECT NULL, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY suppkey")
  ref("agg L869",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem WHERE quantity < 0 GROUP BY GROUPING SETS ((linenumber, suppkey), (suppkey))",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem WHERE quantity < 0 GROUP BY linenumber, suppkey UNION SELECT NULL, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem WHERE quantity < 0 GROUP BY suppkey")
  ref("agg L911",
    "SELECT linenumber, suppkey, SUM(DISTINCT CAST(quantity AS BIGINT)) FROM lineitem GROUP BY GROUPING SETS ((linenumber, suppkey), (suppkey))",
    "SELECT linenumber, suppkey, SUM(DISTINCT CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber, suppkey UNION SELECT NULL, suppkey, SUM(DISTINCT CAST(quantity AS BIGINT)) FROM lineitem GROUP BY suppkey")
  ref("agg L919",
    "SELECT linenumber, suppkey, SUM(DISTINCT CAST(quantity AS BIGINT)), COUNT(DISTINCT linestatus) FROM lineitem GROUP BY GROUPING SETS ((linenumber, suppkey), (suppkey))",
    "SELECT linenumber, suppkey, SUM(DISTINCT CAST(quantity AS BIGINT)), COUNT(DISTINCT linestatus) FROM lineitem GROUP BY linenumber, suppkey UNION SELECT NULL, suppkey, SUM(DISTINCT CAST(quantity AS BIGINT)), COUNT(DISTINCT linestatus) FROM lineitem GROUP BY suppkey")
  ref("agg L927",
    "SELECT linenumber, suppkey, SUM(DISTINCT CAST(quantity AS BIGINT)), COUNT(DISTINCT linestatus) FROM lineitem WHERE quantity < 0 GROUP BY GROUPING SETS ((linenumber, suppkey), (suppkey))",
    "SELECT linenumber, suppkey, SUM(DISTINCT CAST(quantity AS BIGINT)), COUNT(DISTINCT linestatus) FROM lineitem WHERE quantity < 0 GROUP BY linenumber, suppkey UNION SELECT NULL, suppkey, SUM(DISTINCT CAST(quantity AS BIGINT)), COUNT(DISTINCT linestatus) FROM lineitem WHERE quantity < 0 GROUP BY suppkey")
  ref("agg L945",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY GROUPING SETS ((linenumber, suppkey), ())",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber, suppkey UNION SELECT NULL, NULL, SUM(CAST(quantity AS BIGINT)) FROM lineitem")
  ref("agg L953",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY GROUPING SETS ((), (linenumber, suppkey), (), (linenumber, suppkey))",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber, suppkey UNION ALL SELECT NULL, NULL, SUM(CAST(quantity AS BIGINT)) FROM lineitem UNION ALL SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber, suppkey UNION ALL SELECT NULL, NULL, SUM(CAST(quantity AS BIGINT)) FROM lineitem")
  ref("agg L998",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY GROUPING SETS ((), (linenumber), (linenumber, suppkey))",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber, suppkey UNION ALL SELECT linenumber, NULL, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber UNION ALL SELECT NULL, NULL, SUM(CAST(quantity AS BIGINT)) FROM lineitem")
  ref("agg L1007",
    "SELECT SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY GROUPING SETS (())",
    "SELECT SUM(CAST(quantity AS BIGINT)) FROM lineitem")
  ref("agg L1014",
    "SELECT SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY GROUPING SETS ((), ())",
    "SELECT SUM(CAST(quantity AS BIGINT)) FROM lineitem UNION ALL SELECT SUM(CAST(quantity AS BIGINT)) FROM lineitem")
  ref("agg L1030",
    "SELECT lna, lnb, SUM(quantity) FROM (SELECT linenumber lna, linenumber lnb, CAST(quantity AS BIGINT) quantity FROM lineitem) GROUP BY GROUPING SETS ((lna, lnb), (lna), (lnb), ())",
    "SELECT linenumber, linenumber, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber UNION ALL SELECT linenumber, NULL, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber UNION ALL SELECT NULL, linenumber, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber UNION ALL SELECT NULL, NULL, SUM(CAST(quantity AS BIGINT)) FROM lineitem")
  ref("agg L1042",
    "SELECT suppkey, month(shipdate), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY month(shipdate), ROLLUP(suppkey)",
    "SELECT suppkey, month(shipdate), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY month(shipdate), suppkey UNION ALL SELECT NULL, month(shipdate), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY month(shipdate)")
  ref("agg L1050",
    "SELECT suppkey, month(shipdate), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY 2, ROLLUP(suppkey)",
    "SELECT suppkey, month(shipdate), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY month(shipdate), suppkey UNION ALL SELECT NULL, month(shipdate), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY month(shipdate)")
  ref("agg L1058",
    "SELECT COUNT_IF(x IS NULL) FROM (SELECT x, y, COUNT(z) FROM (SELECT CAST(lineitem.orderkey AS BIGINT) x, lineitem.linestatus y, SUM(lineitem.quantity) z FROM lineitem JOIN orders ON lineitem.orderkey = orders.orderkey GROUP BY 1, 2) GROUP BY GROUPING SETS ((x, y), ()))",
    "SELECT 1")
  ref("agg L1067",
    "SELECT * FROM (SELECT COALESCE(orderpriority, 'ALL'), COALESCE(shippriority, -1) sp FROM (SELECT orderpriority, shippriority, COUNT(1) FROM orders GROUP BY GROUPING SETS ((orderpriority), (shippriority)))) WHERE sp=-1",
    "SELECT orderpriority, -1 FROM orders GROUP BY orderpriority")
  ref("agg L1076",
    "SELECT orderpriority, COUNT(orderpriority) FROM orders GROUP BY ROLLUP (orderpriority)",
    "SELECT orderpriority, COUNT(orderpriority) FROM orders GROUP BY orderpriority UNION SELECT NULL, COUNT(orderpriority) FROM orders")
  ref("agg L1084",
    "SELECT linenumber, suppkey, SUM(suppkey), COUNT(linenumber), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY GROUPING SETS ((linenumber, suppkey), ())",
    "SELECT linenumber, suppkey, SUM(suppkey), COUNT(linenumber), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber, suppkey UNION SELECT NULL, NULL, SUM(suppkey), COUNT(linenumber), SUM(CAST(quantity AS BIGINT)) FROM lineitem")
  ref("agg L1092",
    "SELECT linenumber, suppkey, COUNT(CAST(quantity AS BIGINT)), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY GROUPING SETS ((linenumber, suppkey), ())",
    "SELECT linenumber, suppkey, COUNT(CAST(quantity AS BIGINT)), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber, suppkey UNION SELECT NULL, NULL, COUNT(CAST(quantity AS BIGINT)), SUM(CAST(quantity AS BIGINT)) FROM lineitem")
  ref("agg L1100",
    "SELECT linenumber, suppkey, COUNT(linenumber), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY GROUPING SETS ((linenumber, suppkey), ())",
    "SELECT linenumber, suppkey, COUNT(linenumber), SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber, suppkey UNION SELECT NULL, NULL, COUNT(linenumber), SUM(CAST(quantity AS BIGINT)) FROM lineitem")
  ref("agg L1108",
    "SELECT suppkey, COUNT(DISTINCT linenumber) FROM (SELECT * FROM lineitem WHERE linenumber%2 = 0 UNION ALL SELECT * FROM lineitem WHERE linenumber%2 = 1) GROUP BY GROUPING SETS ((suppkey), ())",
    "SELECT suppkey, COUNT(DISTINCT linenumber) FROM lineitem GROUP BY suppkey UNION ALL SELECT NULL, COUNT(DISTINCT linenumber) FROM lineitem")
  ref("agg L1118",
    "SELECT linenumber, COUNT(DISTINCT linenumber) FROM (SELECT * FROM lineitem WHERE linenumber%2 = 0 UNION ALL SELECT * FROM lineitem WHERE linenumber%2 = 1) GROUP BY GROUPING SETS ((linenumber), ())",
    "SELECT DISTINCT linenumber, 1 FROM lineitem UNION ALL SELECT NULL, COUNT(DISTINCT linenumber) FROM lineitem")
  ref("agg L1128",
    "SELECT linenumber, COUNT(DISTINCT linenumber), SUM(DISTINCT suppkey) FROM (SELECT * FROM lineitem WHERE linenumber%2 = 0 UNION ALL SELECT * FROM lineitem WHERE linenumber%2 = 1) GROUP BY GROUPING SETS ((linenumber), ())",
    "SELECT linenumber, 1, SUM(DISTINCT suppkey) FROM lineitem GROUP BY linenumber UNION ALL SELECT NULL, COUNT(DISTINCT linenumber), SUM(DISTINCT suppkey) FROM lineitem")
  ref("agg L1138",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY ROLLUP (linenumber, suppkey)",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber, suppkey UNION ALL SELECT linenumber, NULL, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber UNION ALL SELECT NULL, NULL, SUM(CAST(quantity AS BIGINT)) FROM lineitem")
  ref("agg L1147",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY CUBE (linenumber, suppkey)",
    "SELECT linenumber, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber, suppkey UNION ALL SELECT linenumber, NULL, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY linenumber UNION ALL SELECT NULL, suppkey, SUM(CAST(quantity AS BIGINT)) FROM lineitem GROUP BY suppkey UNION ALL SELECT NULL, NULL, SUM(CAST(quantity AS BIGINT)) FROM lineitem")

  // --- round-5 re-triage: pairs unlocked by the dialect/semantics work of
  // rounds 4-5 (ordered aggregates, integer division, interval rendering,
  // TABLESAMPLE, custom_rank, information_schema) plus previously unmined
  // sections; PASS-triaged by graft.tools.RefPairs ---
  ref("pair testUnnest",
    "SELECT a.custkey, t.e FROM (SELECT custkey, ARRAY[1, 2, 3] AS my_array FROM orders ORDER BY orderkey LIMIT 1) a CROSS JOIN UNNEST(my_array) t(e)",
    "SELECT * FROM (SELECT custkey FROM orders ORDER BY orderkey LIMIT 1) CROSS JOIN (VALUES (1), (2), (3))")
  ref("pair testUnnest #2",
    "SELECT a.custkey, t.e FROM (SELECT custkey, ARRAY[1, 2, 3] AS my_array FROM orders ORDER BY orderkey LIMIT 1) a, UNNEST(my_array) t(e)",
    "SELECT * FROM (SELECT custkey FROM orders ORDER BY orderkey LIMIT 1) CROSS JOIN (VALUES (1), (2), (3))")
  ref("pair testUnnest #3",
    "SELECT a.custkey, t.e, t.f FROM (SELECT custkey, ARRAY[10, 20, 30] AS my_array FROM orders ORDER BY orderkey LIMIT 1) a CROSS JOIN UNNEST(my_array) WITH ORDINALITY t(e, f)",
    "SELECT * FROM (SELECT custkey FROM orders ORDER BY orderkey LIMIT 1) CROSS JOIN (VALUES (10, 1), (20, 2), (30, 3))")
  ref("pair testUnnest #4",
    "SELECT a.custkey, t.e, t.f FROM (SELECT custkey, ARRAY[10, 20, 30] AS my_array FROM orders ORDER BY orderkey LIMIT 1) a, UNNEST(my_array) WITH ORDINALITY t(e, f)",
    "SELECT * FROM (SELECT custkey FROM orders ORDER BY orderkey LIMIT 1) CROSS JOIN (VALUES (10, 1), (20, 2), (30, 3))")
  ref("pair testOrderByWithAggregation",
    "SELECT x, sum(cast(x AS double)) FROM (VALUES '1.0') t(x) GROUP BY x ORDER BY sum(cast(t.x AS double))",
    "VALUES ('1.0', 1.0)")
  ref("pair testRollupOverUnion",
    "SELECT regionkey, count(*) FROM (   SELECT regionkey FROM nation    UNION ALL    SELECT * FROM (VALUES 2, 100) t(regionkey)) GROUP BY ROLLUP (regionkey)",
    "SELECT * FROM (VALUES  (0, 5), (1, 5), (2, 6), (3, 5), (4, 5), (100, 1), (NULL, 27))")
  ref("pair L1224",
    "SELECT a, b, sum(c), grouping(a, b) FROM (VALUES ('h', 'j', 11), ('k', 'l', 7) ) AS t (a, b, c) GROUP BY GROUPING SETS ( (a), (b)) HAVING grouping(a, b) > 1",
    "VALUES (NULL, 'j', 11, 2), (NULL, 'l', 7, 2)")
  ref("pair testIntersect",
    "SELECT * FROM (VALUES 1, 2) INTERSECT SELECT * FROM (VALUES 1.0, 2)",
    "VALUES 1.0, 2.0")
  ref("pair testJoinWithLessThanInJoinClause",
    "SELECT * FROM (VALUES (1,1),(2,1)) t1(a,b), (VALUES (1,1),(1,2),(2,1)) t2(x,y) WHERE a=x and b<=y",
    "VALUES (1,1,1,1), (1,1,1,2), (2,1,2,1)")
  ref("pair testJoinWithLessThanInJoinClause #2",
    "SELECT * FROM (VALUES (1,1),(2,1)) t1(a,b), (VALUES (1,1),(1,2),(2,1)) t2(x,y) WHERE a=x and b<y",
    "VALUES (1,1,1,2)")
  ref("pair testJoinWithGreaterThanInJoinClause",
    "SELECT * FROM (VALUES (1,1),(2,1)) t1(a,b), (VALUES (1,1),(1,2),(2,1)) t2(x,y) WHERE a=x and b>=y",
    "VALUES (1,1,1,1), (2,1,2,1)")
  ref("pair testJoinWithGreaterThanInJoinClause #2",
    "SELECT * FROM (VALUES (1,1),(2,1)) t1(a,b), (VALUES (1,1),(1,2),(2,1)) t2(x,y) WHERE a=x and b>y",
    "SELECT 1 WHERE FALSE")
  ref("pair L1626",
    "SELECT COUNT(*) FROM lineitem JOIN orders USING (orderkey)",
    "SELECT COUNT(*) FROM lineitem JOIN orders ON lineitem.orderkey = orders.orderkey")
  ref("pair L1741",
    "SELECT * FROM (VALUES (1.0, 2.0)) x (a, b) JOIN (VALUES (1, 3)) y (a, b) ON x.a = y.a",
    "VALUES (1.0, 2.0, 1, 3)")
  ref("pair L1744",
    "SELECT * FROM (VALUES (1, 2)) x (a, b) JOIN (VALUES (SMALLINT '1', SMALLINT '3')) y (a, b) ON x.a = y.a",
    "VALUES (1, 2, 1, 3)")
  ref("pair L1784",
    "SELECT SUM(custkey) FROM lineitem JOIN orders ON lineitem.orderkey + 1 = orders.orderkey + 1",
    "SELECT SUM(custkey) FROM lineitem JOIN orders ON lineitem.orderkey = orders.orderkey")
  ref("pair L1823",
    "SELECT * FROM (SELECT orderkey, partkey FROM lineitem) a JOIN (SELECT orderkey, custkey FROM orders) b using (orderkey)",
    "SELECT a.orderkey, a.partkey, b.custkey FROM (SELECT orderkey, partkey FROM lineitem) a JOIN (SELECT orderkey, custkey FROM orders) b on a.orderkey = b.orderkey")
  ref("pair L1892",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND from_unixtime(b) > current_timestamp",
    "VALUES (1, 1, NULL, NULL), (1, 2, NULL, NULL)")
  ref("pair L1892 #2",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d)              ON a=c AND TRY(1 / (b-a) != 1000 OR from_unixtime(b) > current_timestamp)",
    "VALUES (1, 1, NULL, NULL), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L1892 #3",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > d",
    "VALUES (1, 2, 1, 1), (NULL, NULL, 1, 2)")
  ref("pair L1892 #4",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b < d",
    "VALUES (1, 1, 1, 2), (NULL, NULL, 1, 1)")
  ref("pair L1892 #5",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 2",
    "VALUES (NULL, NULL, 1, 1), (NULL, NULL, 1, 2)")
  ref("pair L1892 #6",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 2",
    "VALUES (NULL, NULL, 1, 1), (NULL, NULL, 1, 2)")
  ref("pair L1892 #7",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 0",
    "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L1892 #8",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 0",
    "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L1892 #9",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND c = d",
    "VALUES (1, 2, 1, 1), (1, 1, 1, 1), (NULL, NULL, 1, 2)")
  ref("pair L1892 #10",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND c < d",
    "VALUES (NULL, NULL, 1, 1), (1, 2, 1, 2), (1, 1, 1, 2)")
  ref("pair L1892 #11",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON c = d",
    "VALUES (1, 1, 1, 1), (1, 2, 1, 1), (NULL, NULL, 1, 2)")
  ref("pair L1892 #12",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) RIGHT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON c < d",
    "VALUES (NULL, NULL, 1, 1), (1, 1, 1, 2), (1, 2, 1, 2)")
  ref("pair L2034",
    "SELECT * FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON 1 = 1",
    "VALUES (1, 10), (1, 11), (2, 10), (2, 11)")
  ref("pair L2034 #2",
    "SELECT * FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (2, 11), (2, 10)")
  ref("pair L2034 #3",
    "SELECT * FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON b > 10",
    "VALUES (NULL, 10), (1, 11), (2, 11)")
  ref("pair L2034 #4",
    "SELECT * FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON a > b",
    "VALUES (NULL, 10), (NULL, 11)")
  ref("pair L2034 #5",
    "SELECT * FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON a < b",
    "VALUES (1, 10), (1, 11), (2, 10), (2, 11)")
  ref("pair L2054",
    "SELECT b FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON b > 10",
    "VALUES (10), (11), (11)")
  ref("pair L2057",
    "SELECT a FROM (VALUES 1, 2) t1(a) RIGHT OUTER JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (2), (2)")
  ref("pair L2060",
    "SELECT b FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON b > 10",
    "VALUES (11), (11)")
  ref("pair L2063",
    "SELECT a FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (1), (2), (2)")
  ref("pair L2066",
    "SELECT a FROM (VALUES 1, 2) t1(a) JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (2), (2)")
  ref("pair L2069",
    "SELECT b FROM (VALUES 1, 2) t1(a) JOIN (VALUES 10, 11) t2(b) ON b > 10",
    "VALUES (11), (11)")
  ref("pair L2121",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.orderkey AND lineitem.quantity > 5 WHERE lineitem.orderkey IS NULL OR orders.orderkey IS NULL",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND lineitem.quantity > 5     UNION ALL SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND lineitem.quantity > 5     WHERE lineitem.orderkey IS NULL)  WHERE o1 IS NULL OR o2 IS NULL")
  ref("pair L2129",
    "SELECT COUNT(*) FROM lineitem FULL OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > 1000 WHERE lineitem.orderkey IS NULL OR orders.orderkey IS NULL",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > 1000     UNION ALL SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > 1000     WHERE lineitem.orderkey IS NULL)  WHERE o1 IS NULL OR o2 IS NULL")
  ref("pair L2129 #2",
    "SELECT COUNT(*) FROM lineitem FULL OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > lineitem.quantity WHERE lineitem.orderkey IS NULL OR orders.orderkey IS NULL",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > lineitem.quantity     UNION ALL SELECT lineitem.orderkey AS o1, orders.orderkey AS o2 FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey AND orders.custkey > lineitem.quantity     WHERE lineitem.orderkey IS NULL)  WHERE o1 IS NULL OR o2 IS NULL")
  ref("pair L1892 #13",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > d",
    "VALUES (1, 2, 1, 1), (NULL, NULL, 1, 2), (1, 1, NULL, NULL)")
  ref("pair L1892 #14",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b < d",
    "VALUES (1, 1, 1, 2), (NULL, NULL, 1, 1), (1, 2, NULL, NULL)")
  ref("pair L1892 #15",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 2",
    "VALUES (NULL, NULL, 1, 1), (NULL, NULL, 1, 2), (1, 1, NULL, NULL), (1, 2, NULL, NULL)")
  ref("pair L1892 #16",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 2",
    "VALUES (NULL, NULL, 1, 1), (NULL, NULL, 1, 2), (1, 1, NULL, NULL), (1, 2, NULL, NULL)")
  ref("pair L1892 #17",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 0",
    "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L1892 #18",
    "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) FULL OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 0",
    "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("pair L2163",
    "SELECT * FROM (VALUES 1, 2) t1(a) FULL OUTER JOIN (VALUES 10, 11) t2(b) ON a > 1",
    "VALUES (2, 11), (2, 10), (1, NULL)")
  ref("pair L2163 #2",
    "SELECT * FROM (VALUES 1, 2) t1(a) FULL OUTER JOIN (VALUES 10, 11) t2(b) ON b > 10",
    "VALUES (NULL, 10), (1, 11), (2, 11)")
  ref("pair L2163 #3",
    "SELECT * FROM (VALUES 1, 2) t1(a) FULL OUTER JOIN (VALUES 10, 11) t2(b) ON a > b",
    "VALUES (NULL, 10), (NULL, 11), (1, NULL), (2, NULL)")
  ref("pair L2163 #4",
    "SELECT * FROM (VALUES 1, 2) t1(a) FULL OUTER JOIN (VALUES 10, 11) t2(b) ON a < b",
    "VALUES (1, 10), (1, 11), (2, 10), (2, 11)")
  ref("pair L2186",
    "SELECT COUNT(*) FROM lineitem JOIN (SELECT orderkey, orderdate shipdate FROM orders) T USING (orderkey, shipdate)",
    "SELECT COUNT(*) FROM lineitem JOIN orders ON lineitem.orderkey = orders.orderkey AND lineitem.shipdate = orders.orderdate")
  ref("pair L2194",
    "SELECT count(*) FROM ((SELECT * FROM orders) union all (SELECT * FROM orders)) JOIN orders USING (orderkey)",
    "SELECT 2 * count(*) FROM orders")
  ref("pair testJoinWithScalarSubqueryInOnClause",
    "SELECT count() FROM nation a INNER JOIN nation b ON a.name = (SELECT max(name) FROM nation) INNER JOIN nation c ON c.name = split_part(b.name,'<',2)",
    "SELECT 0")
  ref("pair L2436",
    "SELECT a IN (VALUES 2), a FROM (VALUES (2)) t(a)",
    "SELECT TRUE, 2")
  ref("pair testJoinWithExpressionsThatMayReturnNull",
    "SELECT * FROM (     SELECT a, nullif(a, 1)     FROM (VALUES 1) w(a) ) t(a,b) JOIN (VALUES 1) u(x) ON t.a = u.x",
    "SELECT 1, NULL, 1")
  ref("pair testJoinWithExpressionsThatMayReturnNull #2",
    "SELECT * FROM (     SELECT a, contains(array[2, null], a)     FROM (VALUES 1) w(a) ) t(a,b) JOIN (VALUES 1) u(x) ON t.a = u.x",
    "SELECT 1, NULL, 1")
  ref("pair testJoinWithExpressionsThatMayReturnNull #3",
    "SELECT * FROM (     SELECT a, array[null][a]     FROM (VALUES 1) w(a) ) t(a,b) JOIN (VALUES 1) u(x) ON t.a = u.x",
    "SELECT 1, NULL, 1")
  ref("pair testJoinWithExpressionsThatMayReturnNull #4",
    "SELECT * FROM (     SELECT a, try(a / 0)     FROM (VALUES 1) w(a) ) t(a,b) JOIN (VALUES 1) u(x) ON t.a = u.x",
    "SELECT 1, NULL, 1")
  ref("pair L2129 #3",
    "SELECT COUNT(*) FROM lineitem FULL OUTER JOIN orders ON lineitem.orderkey = orders.orderkey",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey, orders.orderkey AS o2 FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey UNION ALL SELECT lineitem.orderkey, orders.orderkey AS o2 FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey WHERE lineitem.orderkey IS NULL)")
  ref("pair L2121 #2",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.custkey",
    "SELECT COUNT(*) FROM (SELECT lineitem.orderkey, orders.orderkey AS o2 FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.custkey UNION ALL SELECT lineitem.orderkey, orders.orderkey AS o2 FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.custkey WHERE lineitem.orderkey IS NULL)")
  ref("pair L2121 #3",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.orderkey WHERE lineitem.orderkey IS NOT NULL",
    "SELECT COUNT(*) FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey WHERE lineitem.orderkey IS NOT NULL")
  ref("pair L2121 #4",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.custkey WHERE lineitem.orderkey IS NOT NULL",
    "SELECT COUNT(*) FROM lineitem LEFT OUTER JOIN orders ON lineitem.orderkey = orders.custkey WHERE lineitem.orderkey IS NOT NULL")
  ref("pair L2121 #5",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.orderkey WHERE orders.orderkey IS NOT NULL",
    "SELECT COUNT(*) FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.orderkey  WHERE orders.orderkey IS NOT NULL")
  ref("pair L2121 #6",
    "SELECT COUNT(*) FROM lineitem FULL JOIN orders ON lineitem.orderkey = orders.custkey WHERE orders.custkey IS NOT NULL",
    "SELECT COUNT(*) FROM lineitem RIGHT OUTER JOIN orders ON lineitem.orderkey = orders.custkey  WHERE orders.custkey IS NOT NULL")
  ref("pair testOuterJoinWithNullsOnProbe",
    "SELECT DISTINCT a.orderkey FROM (SELECT CASE WHEN orderkey > 2 THEN orderkey END orderkey FROM orders WHERE orderkey < 100) a FULL OUTER JOIN (SELECT * FROM orders WHERE orderkey < 100) b ON a.orderkey = b.orderkey",
    "SELECT DISTINCT orderkey FROM (SELECT a.orderkey FROM (SELECT CASE WHEN orderkey > 2 THEN orderkey END orderkey FROM orders WHERE orderkey < 100) a RIGHT OUTER JOIN (SELECT * FROM orders WHERE orderkey < 100) b ON a.orderkey = b.orderkey UNION ALL SELECT a.orderkey FROM(SELECT CASE WHEN orderkey > 2 THEN orderkey END orderkey FROM orders WHERE orderkey < 100) a LEFT OUTER JOIN (SELECT * FROM orders WHERE orderkey < 100) b ON a.orderkey = b.orderkey WHERE a.orderkey IS NULL)")
  ref("pair testSimpleLeftJoin",
    "SELECT x.val FROM (SELECT CAST(ROW(v) AS ROW(val integer)) FROM (VALUES 1, 2, 3) t(v)) ta (x) LEFT OUTER JOIN (SELECT CAST(ROW(v) AS ROW(val integer)) FROM (VALUES 1, 2, 3) t(v)) tb (y) ON x.val=y.val WHERE y.val=1",
    "SELECT 1")
  ref("pair testJoinWithStatefulFilterFunction",
    "SELECT * FROM (VALUES 1, 2) a(id) FULL JOIN (VALUES 2, 3) b(id) ON (array_intersect(array[a.id], array[b.id]) = array[a.id])",
    "VALUES (1, null), (2, 2), (null, 3)")
  ref("pair L3273",
    "SELECT x, T.y, z + 1 FROM (SELECT custkey, orderstatus, totalprice FROM orders) T (x, y, z)",
    "SELECT custkey, orderstatus, totalprice + 1 FROM orders")
  ref("pair testTopNPartitionedWindow",
    "SELECT * FROM (    SELECT row_number() OVER (PARTITION BY orderstatus ORDER BY orderkey) rn, orderstatus    FROM orders ) WHERE rn <= 2",
    "VALUES (1, 'O'), (2, 'O'), (1, 'F'), (2, 'F'), (1, 'P'), (2, 'P')")
  ref("pair testTopNPartitionedWindowWithEqualityFilter",
    "SELECT * FROM (    SELECT row_number() OVER (PARTITION BY orderstatus ORDER BY orderkey) rn, orderstatus    FROM orders ) WHERE rn = 2",
    "VALUES (2, 'O'), (2, 'F'), (2, 'P')")
  ref("pair testReferenceToWithQueryInFromClause",
    "WITH a AS (SELECT * FROM orders)SELECT * FROM (   SELECT * FROM a)",
    "SELECT * FROM orders")
  ref("pair L4133",
    "WITH a AS (SELECT orderkey n FROM orders) , b AS (SELECT n + 1 n FROM a) , c AS (SELECT n + 1 n FROM b) SELECT n + 1 FROM c",
    "SELECT orderkey + 3 FROM orders")
  ref("pair L4144",
    "WITH x AS (SELECT DISTINCT orderkey FROM orders ORDER BY orderkey LIMIT 10) SELECT count(*) FROM x a JOIN x b USING (orderkey)",
    "SELECT count(*) FROM (SELECT DISTINCT orderkey FROM orders ORDER BY orderkey LIMIT 10) a JOIN (SELECT DISTINCT orderkey FROM orders ORDER BY orderkey LIMIT 10) b ON a.orderkey = b.orderkey")
  ref("pair testWithNestedSubqueries",
    "WITH a AS (   WITH aa AS (SELECT 123 x FROM orders LIMIT 1)   SELECT x y FROM aa ), b AS (   WITH bb AS (     WITH bbb AS (SELECT y FROM a)     SELECT bbb.* FROM bbb   )   SELECT y z FROM bb ) SELECT * FROM (   WITH q AS (SELECT z w FROM b)   SELECT j.*, k.*   FROM a j   JOIN q k ON (j.y = k.w) ) t",
    "SELECT 123, 123 FROM orders LIMIT 1")
  ref("pair L4181",
    "WITH t (a, b, c) AS (SELECT 1, custkey x, orderkey FROM orders) SELECT c, b, a FROM t",
    "SELECT orderkey, custkey, 1 FROM orders")
  ref("pair L4235",
    "SELECT sum(IF(orderstatus = 'F', totalprice, 0.0)) FROM orders",
    "SELECT sum(CASE WHEN orderstatus = 'F' THEN totalprice ELSE 0.0 END) FROM orders")
  ref("pair L4238",
    "SELECT sum(IF(orderstatus = 'Z', totalprice)) FROM orders",
    "SELECT sum(CASE WHEN orderstatus = 'Z' THEN totalprice END) FROM orders")
  ref("pair L4241",
    "SELECT sum(IF(orderstatus = 'F', NULL, totalprice)) FROM orders",
    "SELECT sum(CASE WHEN orderstatus = 'F' THEN NULL ELSE totalprice END) FROM orders")
  ref("pair L4244",
    "SELECT IF(orderstatus = 'Z', orderkey / 0, orderkey) FROM orders",
    "SELECT CASE WHEN orderstatus = 'Z' THEN orderkey / 0 ELSE orderkey END FROM orders")
  ref("pair L4247",
    "SELECT sum(IF(NULLIF(orderstatus, 'F') <> 'F', totalprice, 5.1)) FROM orders",
    "SELECT sum(CASE WHEN NULLIF(orderstatus, 'F') <> 'F' THEN totalprice ELSE 5.1 END) FROM orders")
  ref("pair L1631",
    "SELECT orderkey FROM orders WHERE orderkey IN (1.5, 2.3)",
    "SELECT orderkey FROM orders LIMIT 0")
  ref("pair L4327",
    "SELECT * FROM (SELECT orderkey, orderkey FROM orders)",
    "SELECT orderkey, orderkey FROM orders")
  ref("pair L4851",
    "SELECT table_name FROM information_schema.tables WHERE table_name = 'orders' LIMIT 1",
    "SELECT 'orders' table_name")
  ref("pair L4851 #2",
    "SELECT table_name FROM information_schema.columns WHERE data_type = 'bigint' AND table_name = 'customer' and column_name = 'custkey' LIMIT 1",
    "SELECT 'customer' table_name")
  ref("pair L4925",
    "SELECT linenumber, sum(TRY(100/(CAST (tax*10 AS BIGINT)))) FROM lineitem GROUP BY linenumber",
    "SELECT linenumber, sum(100/(CAST (tax*10 AS BIGINT))) FROM lineitem WHERE CAST(tax*10 AS BIGINT) <> 0 GROUP BY linenumber")
  ref("pair L2943",
    "SELECT orderkey, custkey, orderstatus FROM orders ORDER BY nullif(orderkey, 3) ASC, custkey ASC LIMIT 10",
    "SELECT orderkey, custkey, orderstatus FROM orders ORDER BY nullif(orderkey, 3) ASC NULLS LAST, custkey ASC LIMIT 10")
  ref("pair testUnionWithTopN",
    "SELECT * FROM (   SELECT regionkey FROM nation    UNION ALL    SELECT nationkey FROM nation) t(a) ORDER BY a LIMIT 1",
    "SELECT 0")
  ref("pair testUnionWithAggregation",
    "SELECT regionkey, count(*) FROM (   SELECT regionkey FROM nation    UNION ALL    SELECT * FROM (VALUES 2, 100) t(regionkey)) GROUP BY regionkey",
    "SELECT * FROM (VALUES  (0, 5), (1, 5), (2, 6), (3, 5), (4, 5), (100, 1))")
  ref("pair testUnionWithAggregation #2",
    "SELECT count(orderkey), sum(sc) FROM (     SELECT sum(custkey) sc, orderkey FROM (         SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey=0         UNION ALL          SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey<>0)      GROUP BY GROUPING SETS ((orderkey, orderstatus), (orderkey)))",
    "SELECT count(orderkey), sum(sc) FROM (     SELECT sum(custkey) sc, orderkey FROM (         SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey=0         UNION ALL          SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey<>0)      GROUP BY orderkey, orderstatus           UNION ALL           SELECT sum(custkey) sc, orderkey FROM (         SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey=0         UNION ALL          SELECT custkey, orderkey, orderkey+1, orderstatus FROM orders WHERE orderkey<>0)      GROUP BY orderkey)")
  ref("pair testUnionWithAggregationAndTableScan",
    "SELECT orderkey, 1 FROM orders UNION ALL SELECT orderkey, count(*) FROM orders GROUP BY 1",
    "SELECT orderkey, 1 FROM orders UNION ALL SELECT orderkey, count(*) FROM orders GROUP BY orderkey")
  ref("pair L5209",
    "SELECT orderkey, count(*) FROM orders GROUP BY 1 UNION ALL SELECT orderkey, 1 FROM orders",
    "SELECT orderkey, count(*) FROM orders GROUP BY orderkey UNION ALL SELECT orderkey, 1 FROM orders")
  ref("pair L1883",
    "(SELECT * FROM orders ORDER BY orderkey LIMIT 10) UNION ALL TABLE orders",
    "(SELECT * FROM orders ORDER BY orderkey LIMIT 10) UNION ALL SELECT * FROM orders")
  ref("pair testCrossJoinsWithWhereClause",
    "SELECT a, b, c, d FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')) t1 (a, b) CROSS JOIN (VALUES (1, 1.1), (3, 3.3), (5, 5.5)) t2 (c, d) WHERE t1.a > t2.c",
    "SELECT * FROM (VALUES  (2, 'b', 1, 1.1), (3, 'c', 1, 1.1), (4, 'd', 1, 1.1), (4, 'd', 3, 3.3))")
  ref("pair L5510",
    "SELECT * FROM (VALUES (1,1), (2,2), (3, 3)) t(x, y) WHERE (x+y in (VALUES 4, 5)) AND (x*y in (VALUES 4, 5))",
    "VALUES (2,2)")
  ref("pair testAntiJoinNullHandling",
    "WITH empty AS (SELECT 1 WHERE FALSE) SELECT 3 FROM (VALUES 1) WHERE NULL NOT IN (SELECT * FROM empty)",
    "VALUES 3")
  ref("pair testAntiJoinNullHandling #2",
    "WITH empty AS (SELECT 1 WHERE FALSE) SELECT x FROM (VALUES NULL) t(x) WHERE x NOT IN (SELECT * FROM empty)",
    "VALUES NULL")
  ref("pair testSameInPredicateInProjectionAndFilter",
    "SELECT x IN (SELECT * FROM (VALUES 1)) FROM (VALUES 2) t(x) WHERE x IN (SELECT * FROM (VALUES 1))",
    "SELECT 1 WHERE false")
  ref("pair testScalarSubquery",
    "SELECT DISTINCT COUNT(*) FROM (SELECT * FROM orders ORDER BY orderkey LIMIT 5) o1 FULL JOIN (SELECT * FROM orders ORDER BY orderkey LIMIT 10) o2 ON o1.orderkey BETWEEN (SELECT avg(orderkey) FROM orders) - 10 AND (SELECT avg(orderkey) FROM orders) + 10 GROUP BY o1.orderkey",
    "VALUES 1, 10")
  ref("pair L6450",
    "SELECT EXISTS(SELECT 1 FROM (VALUES 1, 1, 1, 2, 2, 3, 4) i(a) WHERE i.a < o.a AND i.a < 4) FROM (VALUES 0, 3, 3, 5) o(a)",
    "VALUES false, true, true, true")
  ref("pair testTwoCorrelatedExistsSubqueries",
    "SELECT   count(*) AS numwait FROM   nation l1 WHERE   EXISTS(     SELECT *     FROM       nation l2     WHERE       l2.nationkey = l1.nationkey   )   AND NOT EXISTS(     SELECT *     FROM       nation l3     WHERE       l3.nationkey= l1.nationkey   )",
    "VALUES 0")
  ref("pair testCoercions",
    "SELECT * FROM (  SELECT t2.x || t2.z cc FROM (    SELECT *    FROM (VALUES (CAST('a' AS VARCHAR), CAST('c' AS VARCHAR))) t(x, z)  ) t2  JOIN (    SELECT *    FROM (VALUES (CAST('a' AS VARCHAR), CAST('c' AS VARCHAR))) u(x, z)    WHERE z='c'  ) u2  ON t2.z = u2.z) tt WHERE cc = 'ac'",
    "SELECT 'ac'")
  ref("pair testCoercions #2",
    "SELECT * FROM (  SELECT greatest (t.x, t.z) cc FROM (    SELECT *    FROM (VALUES (VARCHAR 'a', VARCHAR 'c')) t(x, z)  ) t  JOIN (    SELECT *    FROM (VALUES (VARCHAR 'a', VARCHAR 'c')) u(x, z)    WHERE z='c'  ) u  ON t.z = u.z)WHERE cc = 'c'",
    "SELECT 'c'")
  ref("pair testCoercions #3",
    "SELECT cc[1], cc[2] FROM ( SELECT * FROM (  SELECT array[t.x, t.z] cc FROM (    SELECT *    FROM (VALUES (VARCHAR 'a', VARCHAR 'c')) t(x, z)  ) t  JOIN (    SELECT *    FROM (VALUES (VARCHAR 'a', VARCHAR 'c')) u(x, z)    WHERE z='c'  ) u  ON t.z = u.z) WHERE cc = array['a', 'c'])",
    "SELECT 'a', 'c'")
  ref("pair L7908",
    "SELECT count(*) FROM nation WHERE (SELECT true FROM (SELECT 1) t(a) WHERE a = nationkey) OR TRUE",
    "SELECT 25")
  ref("pair L7911",
    "SELECT (SELECT true FROM (SELECT 1) t(a) WHERE a = nationkey) FROM nation WHERE (SELECT true FROM (SELECT 1) t(a) WHERE a = nationkey) OR TRUE ORDER BY nationkey LIMIT 2",
    "VALUES true, null")
  ref("pair L7940",
    "SELECT name FROM nation, LATERAL (SELECT 1 WHERE false)",
    "SELECT 1 WHERE false")
  ref("pair L7940 #2",
    "SELECT name FROM nation, LATERAL (SELECT 1)",
    "SELECT name FROM nation")
  ref("pair L7940 #3",
    "SELECT name FROM nation, LATERAL (SELECT 1 WHERE name = 'ola')",
    "SELECT 1 WHERE false")
  ref("pair L7952",
    "SELECT nationkey, a FROM nation, LATERAL (SELECT max(region.name) FROM region WHERE region.regionkey <= nation.regionkey) t(a) ORDER BY nationkey LIMIT 1",
    "VALUES (0, 'AFRICA')")
  ref("pair L7952 #2",
    "SELECT nationkey, a FROM nation, LATERAL (SELECT region.name || '_' FROM region WHERE region.regionkey = nation.regionkey) t(a) ORDER BY nationkey LIMIT 1",
    "VALUES (0, 'AFRICA_')")
  ref("pair L7964",
    "SELECT * FROM region r, LATERAL (SELECT * FROM nation) n WHERE n.regionkey = r.regionkey",
    "SELECT * FROM region, nation WHERE nation.regionkey = region.regionkey")
  ref("pair L7967",
    "SELECT * FROM region, LATERAL (SELECT * FROM nation WHERE nation.regionkey = region.regionkey)",
    "SELECT * FROM region, nation WHERE nation.regionkey = region.regionkey")
  ref("pair L7980",
    "SELECT y FROM (VALUES array[2, 3]) a(x) CROSS JOIN LATERAL(SELECT x[1]) b(y)",
    "SELECT 2")
  ref("pair L7983",
    "SELECT * FROM (VALUES 2) a(x) CROSS JOIN LATERAL(SELECT x + 1)",
    "SELECT 2, 3")
  ref("pair L7983 #2",
    "SELECT * FROM (VALUES 2) a(x) CROSS JOIN LATERAL(SELECT x)",
    "SELECT 2, 2")
  ref("pair L7983 #3",
    "SELECT * FROM (VALUES 2) a(x) CROSS JOIN LATERAL(SELECT x, x + 1)",
    "SELECT 2, 2, 3")

  // --- ERR-class closers (round 5): positional ROW containment, grouping()
  // over plain GROUP BY, map IN (VALUES ...) ---
  ref("pair L662",
    "SELECT CONTAINS(ARRAY_AGG(ROW(a, b)), ROW(1, 2)) FROM (VALUES (1, 2), (3, 4), (5, 6)) t(a, b)",
    "SELECT TRUE")
  ref("pair L1227",
    "SELECT a, grouping(a) * 1.0 FROM (VALUES (1) ) AS t (a) GROUP BY a",
    "VALUES (1, 0.0)")
  ref("pair L1230",
    "SELECT a, grouping(a), grouping(a) FROM (VALUES (1) ) AS t (a) GROUP BY a",
    "VALUES (1, 0, 0)")
  ref("pair L2433",
    "SELECT x FROM (VALUES 2) t(x) WHERE MAP(ARRAY[8589934592], ARRAY[x]) IN (VALUES MAP(ARRAY[8589934592],ARRAY[2]))",
    "SELECT 2")
  // grouping(a, b, ...) computes from ARGUMENT positions (subsets and
  // reorderings of the grouping keys are legal - GroupingOperationRewriter;
  // testGroupingInTableSubquery's shape, fixture-scale literals replaced by
  // an equivalent formulation both engines run)
  ref("pair grouping-arg-order",
    "SELECT a, b, sum(c), grouping(b, a), grouping(a) FROM (VALUES (1, 2, 3), (4, 5, 6)) t(a, b, c) GROUP BY GROUPING SETS ((a), (a, b))",
    "SELECT a, b, sum(c), grouping(b) * 2 + grouping(a), grouping(a) FROM (VALUES (1, 2, 3), (4, 5, 6)) t(a, b, c) GROUP BY GROUPING SETS ((a), (a, b))")

  // --- window functions in ORDER BY (round 5): hoisted into a Window node
  // below the sort (testOrderByWithOutputColumnReference) ---
  ref("pair L940",
    "SELECT a FROM (VALUES 1, 2) t(a) ORDER BY -row_number() OVER ()",
    "VALUES 2, 1")
  ref("pair L941",
    "SELECT -a AS a, first_value(-a) OVER (ORDER BY a ROWS 0 PRECEDING) AS b FROM (VALUES 1, 2) t(a) ORDER BY first_value(a) OVER (ORDER BY a ROWS 0 PRECEDING)",
    "VALUES (-2, -2), (-1, -1)")
  ref("pair L942",
    "SELECT -a AS a FROM (VALUES 1, 2) t(a) ORDER BY first_value(a+t.a*2) OVER (ORDER BY a ROWS 0 PRECEDING)",
    "VALUES -1, -2")

  // --- parenthesized join around CROSS JOIN UNNEST (round 5:
  // unwrapLateralParens) ---
  ref("pair testUnnest-paren-join",
    "SELECT col, COUNT(*) FROM ((     SELECT ARRAY[1, 2] AS a     UNION ALL     SELECT ARRAY[1, 3] AS a)  unionresult   CROSS JOIN UNNEST(unionresult.a) t(col)) GROUP BY col",
    "SELECT * FROM VALUES (1, 2), (2, 1), (3, 1)")

  // --- ORDER BY source-column reference shadowed by an output alias
  // (PrestoDialect's SortSourceToAlias rule) ---
  ref("pair L918",
    "SELECT a AS foo FROM (values (1,2),(3,2)) t(a,b) GROUP BY GROUPING SETS ((a), (a, b)) HAVING b IS NOT NULL ORDER BY -a",
    "VALUES 3, 1")
}
