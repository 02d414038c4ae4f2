package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The reference's own test corpus, self-contained slice: verbatim
  * (query, expected) pairs from presto-tests/.../AbstractTestQueries.java
  * where the expected side is a literal VALUES/SELECT (the reference's H2
  * oracle string). The ACTUAL side is the reference's exact SQL text; the
  * expected side is its exact text too unless an H2-only spelling needed a
  * Spark-parseable equivalent (noted inline). Both run through Engine.sql.
  *
  * Values are compared after canonicalization (numeric types collapse to
  * exact decimal form — the reference's own assertQuery coerces types the
  * same way before comparing).
  */
class RefCorpusSpec extends AnyFunSuite {
  import TestSession._

  private lazy val engine = graft.queries.RefCorpus.engine(spark, sf)

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN => "NaN"
    case d: Double if d.isInfinite => if (d > 0) "Infinity" else "-Infinity"
    case f: Float => canon(java.lang.Float.toString(f).toDouble) // float repr, not widened bits
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Double) =>
      new java.math.BigDecimal(n.toString).stripTrailingZeros.toPlainString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case s: String => "'" + s + "'"
    case b: Boolean => b.toString
    case r: Row => r.toSeq.map(canon).mkString("row(", ", ", ")")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => canon(k) + ": " + canon(v) }.toSeq.sorted
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(canon).mkString("[", ", ", "]")
    case a: Array[_] => a.map(canon).mkString("[", ", ", "]")
    case other => other.toString
  }

  private def rows(sql: String): Seq[String] =
    engine.sql(sql).collect().toSeq.map(r => r.toSeq.map(canon).mkString("(", ", ", ")"))

  /** assertQuery(actual, expected) — unordered multiset compare. */
  private def ref(name: String, actual: String, expected: String,
      ordered: Boolean = false): Unit = test(name) {
    val got = rows(actual)
    val want = rows(expected)
    if (ordered) assert(got == want, s"\nactual:   $actual")
    else assert(got.sorted == want.sorted, s"\nactual:   $actual")
  }

  // --- testLambdaCapture (AbstractTestQueries.java:219) ---
  ref("lambda capture 1", "SELECT apply(0, x -> x + c1) FROM (VALUES 1) t(c1)", "VALUES 1")
  ref("lambda capture 2", "SELECT apply(0, x -> x + t.c1) FROM (VALUES 1) t(c1)", "VALUES 1")
  ref("lambda capture 3", "SELECT apply(c1, x -> x + c2) FROM (VALUES (1, 2), (3, 4), (5, 6)) t(c1, c2)", "VALUES 3, 7, 11")
  ref("lambda capture 4", "SELECT apply(c1 + 10, x -> apply(x + 100, y -> c1)) FROM (VALUES 1) t(c1)", "VALUES 1")
  ref("lambda capture 5", "SELECT apply(c1 + 10, x -> apply(x + 100, y -> t.c1)) FROM (VALUES 1) t(c1)", "VALUES 1")
  ref("lambda outer-scope variable 1", "SELECT apply(1, x -> apply(10, y -> x)) FROM (VALUES 1000) t(x)", "VALUES 1")
  ref("lambda outer-scope variable 2", "SELECT apply(1, x -> apply(10, y -> x)) FROM (VALUES 'abc') t(x)", "VALUES 1")
  ref("lambda outer-scope variable 3", "SELECT apply(1, x -> apply(10, y -> apply(100, z -> x))) FROM (VALUES 1000) t(x)", "VALUES 1")
  ref("lambda outer-scope variable 4", "SELECT apply(1, x -> apply(10, y -> apply(100, z -> x))) FROM (VALUES 'abc') t(x)", "VALUES 1")
  ref("lambda in join post-filter", "SELECT * FROM (VALUES true) t(x) left JOIN (VALUES 1001) t2(y) ON (apply(false, z -> apply(false, y -> x)))", "SELECT true, 1001")

  // --- testLambdaInAggregationContext (:247) ---
  ref("lambda over aggregate", "SELECT apply(sum(x), i -> i * i) FROM (VALUES 1, 2, 3, 4, 5) t(x)", "SELECT 225")
  ref("lambda on group key", "SELECT apply(x, i -> i - 1), sum(y) FROM (VALUES (1, 10), (1, 20), (2, 50)) t(x,y) GROUP BY x", "VALUES (0, 30), (1, 50)")
  ref("lambda over grouped sum", "SELECT x, apply(sum(y), i -> i * 10) FROM (VALUES (1, 10), (1, 20), (2, 50)) t(x,y) GROUP BY x", "VALUES (1, 300), (2, 500)")
  ref("lambda constant under group by", "SELECT apply(8, x -> x + 1) FROM (VALUES (1, 2)) t(x,y) GROUP BY y", "SELECT 9")
  ref("nested lambda same variable name", "SELECT apply(sum(x), x -> apply(x, x -> x * x)) FROM (VALUES 1, 2, 3, 4, 5) t(x)", "SELECT 225")

  // --- testLambdaInSubqueryContext (:261) ---
  ref("lambda in subquery", "SELECT apply(x, i -> i * i) FROM (SELECT 10 x)", "SELECT 100")
  // DIVERGENCE (documented): `apply((SELECT 10), i -> i * i)` — Spark's
  // analyzer forbids subquery expressions as higher-order-function arguments
  // (UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY.HIGHER_ORDER_FUNCTION); hoist
  // the subquery into a FROM clause instead.
  ref("lambda capture in subquery 1", "SELECT apply(x, i -> i * x) FROM (SELECT 10 x)", "SELECT 100")
  ref("lambda capture in subquery 2", "SELECT apply(x, y -> y * x) FROM (SELECT 10 x, 3 y)", "SELECT 100")
  ref("lambda capture in subquery 3", "SELECT apply(x, z -> y * x) FROM (SELECT 10 x, 3 y)", "SELECT 30")

  // --- testTryLambdaRepeated (:280) --- (integer `/` is double on Spark —
  // numeric canon collapses 2 and 2.0, the reference's own coercion)
  ref("repeated lambda CSE 1", "SELECT x + x FROM (SELECT apply(a, i -> i * i) x FROM (VALUES 3) t(a))", "SELECT 18")
  ref("repeated lambda CSE 2", "SELECT apply(a, i -> i * i) + apply(a, i -> i * i) FROM (VALUES 3) t(a)", "SELECT 18")
  ref("repeated lambda CSE 3", "SELECT apply(a, i -> i * i), apply(a, i -> i * i) FROM (VALUES 3) t(a)", "SELECT 9, 9")
  ref("repeated try 1", "SELECT try(10 / a) + try(10 / a) FROM (VALUES 5) t(a)", "SELECT 4")
  ref("repeated try 2", "SELECT try(10 / a), try(10 / a) FROM (VALUES 5) t(a)", "SELECT 2, 2")

  // --- testMapSubscript (:314) ---
  ref("map subscript int key", "SELECT map(array[1], array['aa'])[1]", "SELECT 'aa'")
  ref("map subscript string key", "SELECT map(array['a'], array['aa'])['a']", "SELECT 'aa'")
  ref("map subscript array key", "SELECT map(array[array[1,1]], array['a'])[array[1,1]]", "SELECT 'a'")
  ref("map subscript row key", "SELECT map(array[(1,2)], array['a'])[(1,2)]", "SELECT 'a'")

  // --- testVarbinary (:323) ---
  ref("varbinary length 1", "SELECT LENGTH(x) FROM (SELECT from_base64('gw==') AS x)", "SELECT 1")
  ref("varbinary length 2", "SELECT LENGTH(from_base64('gw=='))", "SELECT 1")

  // --- testIn (:4255) ---
  ref("in bigint literal vs int column", "SELECT x FROM (values 3, 100) t(x) WHERE x IN (2147483649)",
    "SELECT x FROM (values 3) t(x) WHERE false") // H2: SELECT * WHERE false
  ref("in bigint domain", "SELECT x FROM (values 3, 100, 2147483648, 2147483649, 2147483650) t(x) WHERE x IN (2147483648, 2147483650)", "values 2147483648, 2147483650")
  ref("in mixed foldable", "SELECT x FROM (values 3, 100, 2147483648, 2147483649, 2147483650) t(x) WHERE x IN (3, 4, 2147483648, 2147483650)", "values 3, 2147483648, 2147483650")
  ref("in non-constant list 1", "SELECT x FROM (values 1, 2, 3) t(x) WHERE x IN (1 + CAST(rand() < 0 AS bigint), 2 + CAST(rand() < 0 AS bigint))", "values 1, 2")
  ref("in non-constant list 2", "SELECT x FROM (values 1, 2, 3, 4) t(x) WHERE x IN (1 + CAST(rand() < 0 AS bigint), 2 + CAST(rand() < 0 AS bigint), 4)", "values 1, 2, 4")
  ref("in unordered list", "SELECT x FROM (values 1, 2, 3, 4) t(x) WHERE x IN (4, 2, 1)", "values 1, 2, 4")
  ref("in projected false", "SELECT x IN (0) FROM (values 4294967296) t(x)", "values false")
  ref("null in list", "SELECT NULL in (1, 2, 3)", "values null")
  ref("match with null in list", "SELECT 1 in (1, NULL, 3)", "values true")
  ref("no match with null in list", "SELECT 2 in (1, NULL, 3)", "values null")
  ref("in date list", "SELECT x FROM (values DATE '1970-01-01', DATE '1970-01-03') t(x) WHERE x IN (DATE '1970-01-01')", "values DATE '1970-01-01'")
  ref("count null-in-list filter", "SELECT COUNT(*) FROM (values 1) t(x) WHERE x IN (null, 0)", "SELECT 0")

  // --- testNullOnLhsOfInPredicateAllowed (:4302) ---
  ref("null in subquery", "SELECT NULL IN (SELECT 1)", "SELECT NULL")
  ref("null in empty subquery", "SELECT NULL IN (SELECT 1 WHERE FALSE)", "SELECT FALSE")
  ref("null lhs filtered", "SELECT x FROM (VALUES NULL) t(x) WHERE x IN (SELECT 1)",
    "SELECT 33 WHERE FALSE")
  ref("null in null subquery", "SELECT NULL IN (SELECT CAST(NULL AS BIGINT))", "SELECT NULL")
  ref("null in empty null subquery", "SELECT NULL IN (SELECT NULL WHERE FALSE)", "SELECT FALSE")
  ref("null in union subquery", "SELECT NULL IN ((SELECT 1) UNION ALL (SELECT NULL))", "SELECT NULL")

  // --- testNonEqualityJoin tail (:1866) ---
  ref("theta inner join", "SELECT * FROM (VALUES 1, 2) t1(a) JOIN (VALUES 10, 11) t2(b) ON a > 1", "VALUES (2, 11), (2, 10)")
  ref("theta inner join empty", "SELECT COUNT(*) FROM (VALUES 1, 2) t1(a) JOIN (VALUES 10, 11) t2(b) ON a > 2", "VALUES (0)")
  ref("theta inner join cross-column", "SELECT * FROM (VALUES 1, 2) t1(a) JOIN (VALUES 10, 11) t2(b) ON a+9 > b", "VALUES (2, 10)")

  // --- testNonEqualityLeftJoin (:1878) ---
  ref("left join residual b>d", "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > d", "VALUES (1, 2, 1, 1), (1, 1, NULL, NULL)")
  ref("left join residual b<d", "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b < d", "VALUES (1, 1, 1, 2), (1, 2, NULL, NULL)")
  ref("left join probe-side residual", "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 2", "VALUES (1, 1, NULL,  NULL), (1, 2, NULL, NULL)")
  ref("left join build-side residual", "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 2", "VALUES (1, 1, NULL, NULL), (1, 2, NULL, NULL)")
  ref("left join trivially-true probe residual", "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND b > 0", "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("left join trivially-true build residual", "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND d > 0", "VALUES (1, 1, 1, 1), (1, 1, 1, 2), (1, 2, 1, 1), (1, 2, 1, 2)")
  ref("left join build-equality residual", "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND c = d", "VALUES (1, 1, 1, 1), (1, 2, 1, 1)")
  ref("left join build-inequality residual", "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON a=c AND c < d", "VALUES (1, 1, 1, 2), (1, 2, 1, 2)")
  ref("left join no-equi build-only 1", "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON c = d", "VALUES (1, 1, 1, 1), (1, 2, 1, 1)")
  ref("left join no-equi build-only 2", "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d) ON c < d", "VALUES (1, 1, 1, 2), (1, 2, 1, 2)")
  ref("left join on true", "SELECT * FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON 1 = 1", "VALUES (1, 10), (1, 11), (2, 10), (2, 11)")
  ref("left join probe filter", "SELECT * FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON a > 1", "VALUES (1, NULL), (2, 11), (2, 10)")
  ref("left join build filter", "SELECT * FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON b > 10", "VALUES (1, 11), (2, 11)")
  ref("left join all-fail theta", "SELECT * FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON a > b", "VALUES (1, NULL), (2, NULL)")
  ref("left join all-pass theta", "SELECT * FROM (VALUES 1, 2) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON a < b", "VALUES (1, 10), (1, 11), (2, 10), (2, 11)")
  ref("left join null build key", "SELECT * FROM (VALUES 1) t1(a) LEFT OUTER JOIN (VALUES (1,2,2), (1,2,3), (1, 2, NULL)) t2(x,y,z) ON a=x AND y = z", "VALUES (1, 1, 2, 2)")
  ref("left join converted to inner", "SELECT 1 FROM (VALUES 1, 20) t1(a) LEFT OUTER JOIN (VALUES 10, 11) t2(b) ON a > b WHERE b IS NOT NULL", "VALUES (1), (1)")

  // --- testNonEqualityJoinWithTryInFilter (:1955) ---
  ref("try in join filter", "SELECT * FROM (VALUES (1,1), (1,2)) t1(a,b) LEFT OUTER JOIN (VALUES (1,1), (1,2)) t2(c,d)              ON a=c AND TRY(1 / (b-a) != 1000)", "VALUES (1, 1, NULL, NULL), (1, 2, 1, 1), (1, 2, 1, 2)")

  // --- testDistinctLimit tail (:842) ---
  ref("distinct limit over join", "SELECT DISTINCT x FROM (VALUES 1) t(x) JOIN (VALUES 10, 20) u(a) ON t.x < u.a LIMIT 100", "SELECT 1")

  // --- testOrderByWithOutputColumnReference (:885) ---
  ref("order by output alias expr", "SELECT a*2 AS b FROM (VALUES -1, 0, 2) t(a) ORDER BY b*-1", "VALUES 4, 0, -2", ordered = true)
  ref("order by output alias", "SELECT a*2 AS b FROM (VALUES -1, 0, 2) t(a) ORDER BY b", "VALUES -2, 0, 4", ordered = true)
  ref("order by shadowing alias expr", "SELECT a*-2 AS a FROM (VALUES -1, 0, 2) t(a) ORDER BY a*-1", "VALUES 2, 0, -4", ordered = true)
  ref("order by qualified input column", "SELECT a*-2 AS a FROM (VALUES -1, 0, 2) t(a) ORDER BY t.a*-1", "VALUES -4, 0, 2", ordered = true)
  ref("order by unaliased shadow expr", "SELECT a*-2 FROM (VALUES -1, 0, 2) t(a) ORDER BY a*-1", "VALUES -4, 0, 2", ordered = true)
  ref("order by qualified under unaliased", "SELECT a*-2 FROM (VALUES -1, 0, 2) t(a) ORDER BY t.a*-1", "VALUES -4, 0, 2", ordered = true)
  ref("order by coercion of output ref", "SELECT 1 x ORDER BY degrees(x)", "VALUES 1", ordered = true)

  // --- testValues (:679) ---
  ref("values order by ordinal", "VALUES 1, 3, 2, 4 ORDER BY 1", "VALUES 1, 2, 3, 4", ordered = true)
  ref("values limit preserves order", "VALUES (1.1, 2), (sin(3.3), 2+2) LIMIT 1", "VALUES (1.1, 2)")
  // DIVERGENCE (documented): `1.1 in (VALUES (1.1), (2.2))` — Spark's IN
  // subquery grammar requires a SELECT query; a bare VALUES list in that
  // position parses as a function call. Equivalent spelling:
  ref("in over values subquery", "SELECT 1.1 in (SELECT * FROM VALUES (1.1), (2.2))", "VALUES (TRUE)")
  ref("with over values", "WITH a AS (VALUES (1.1, 2), (sin(3.3), 2+2)) SELECT * FROM a", "VALUES (1.1, 2), (sin(3.3), 2+2)")

  // --- testSpecialFloatingPointValues (:701) ---
  ref("special floating point values", "SELECT nan(), infinity(), -infinity()",
    "SELECT CAST('NaN' AS DOUBLE), CAST('Infinity' AS DOUBLE), -CAST('Infinity' AS DOUBLE)")

  // --- testCaseWithSupertypeCast / testIfExpression tail (:4226) ---
  ref("case decimal supertype", "SELECT CASE x WHEN 1 THEN CAST(1 AS decimal(4,1)) WHEN 2 THEN CAST(1 AS decimal(4,2)) ELSE CAST(1 AS decimal(4,3)) END FROM (values 1) t(x)", "SELECT 1.000")
  ref("if decimal supertype", "SELECT if(true, CAST(1 AS decimal(2,1)), 1)", "SELECT 1.0")

  // --- testRowFieldAccessor (:330) ---
  ref("row field deref int", "SELECT a.col0 FROM (VALUES ROW (CAST(ROW(1, 2) AS ROW(col0 integer, col1 integer)))) AS t (a)", "SELECT 1")
  ref("row field deref coerced", "SELECT a.col0 FROM (VALUES ROW (CAST(ROW(1.0E0, 2.0E0) AS ROW(col0 integer, col1 integer)))) AS t (a)", "SELECT 1")
  ref("row field deref boolean", "SELECT a.col0 FROM (VALUES ROW (CAST(ROW(TRUE, FALSE) AS ROW(col0 boolean, col1 boolean)))) AS t (a)", "SELECT TRUE")
  ref("row field deref varchar", "SELECT a.col1 FROM (VALUES ROW (CAST(ROW(1.0, 'kittens') AS ROW(col0 varchar, col1 varchar)))) AS t (a)", "SELECT 'kittens'")
  ref("nested row deref", "SELECT a.col2.col1 FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[2], row(3, 4.0)) AS ROW(col0 double, col1 array(int), col2 row(col0 integer, col1 double))))) t(a)", "SELECT 4.0")
  ref("row mixing table refs", "SELECT CAST(row(1, t.x) AS row(col0 bigint, col1 bigint)).col1 FROM (VALUES 1, 2, 3) t(x)", "SELECT * FROM (VALUES 1, 2, 3)")
  ref("row deref through alias", "SELECT Y.col1 FROM (SELECT CAST(row(1, t.x) AS row(col0 bigint, col1 bigint)) AS Y FROM (VALUES 1, 2, 3) t(x)) test_t", "SELECT * FROM (VALUES 1, 2, 3)")
  ref("subscript then deref", "SELECT a.col1[2] FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[22, 33, 44, 55], row(3, 4.0E0)) AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double))))) t(a)", "SELECT 33")
  ref("array-of-rows subscript deref", "SELECT a.col1[2].col0, a.col1[2].col1 FROM (VALUES ROW(cast(row(1.0, ARRAY[row(31, 4.1E0), row(32, 4.2E0)], row(3, 4.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double))))) t(a)", "SELECT 32, 4.2")
  ref("row cast scalar deref", "SELECT CAST(row(11, 12) AS row(col0 bigint, col1 bigint)).col0", "SELECT 11")

  // --- testRowFieldAccessorInAggregate (:351) ---
  ref("row fields in aggregate", "SELECT a.col0, SUM(a.col1[2]), SUM(a.col2.col0), SUM(a.col2.col1) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[2, 13, 4], row(11, 4.1E0))   AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.0, ARRAY[2, 23, 4], row(12, 14.0E0))  AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(1.0, ARRAY[22, 33, 44], row(13, 5.0E0)) AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double))))) t(a) GROUP BY a.col0",
    "SELECT * FROM VALUES (1.0, 46, 24, 9.1), (2.0, 23, 12, 14.0)")
  ref("group by nested row field", "SELECT a.col2.col0, SUM(a.col0), SUM(a.col1[2]), SUM(a.col2.col1) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[2, 13, 4], row(11, 4.1E0))   AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.0, ARRAY[2, 23, 4], row(11, 14.0E0))  AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(7.0, ARRAY[22, 33, 44], row(13, 5.0E0)) AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double))))) t(a) GROUP BY a.col2.col0",
    "SELECT * FROM VALUES (11, 3.0, 36, 18.1), (13, 7.0, 33, 5.0)")
  ref("group by array element", "SELECT a.col1[2], SUM(a.col0), SUM(a.col1[1]), SUM(a.col2.col1) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[2, 13, 4], row(11, 4.1E0))   AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.0, ARRAY[2, 13, 4], row(12, 14.0E0))  AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(7.0, ARRAY[22, 33, 44], row(13, 5.0E0)) AS ROW(col0 double, col1 array(integer), col2 row(col0 integer, col1 double))))) t(a) GROUP BY a.col1[2]",
    "SELECT * FROM VALUES (13, 3.0, 4, 18.1), (33, 7.0, 22, 5.0)")
  ref("group by whole row deref out", "SELECT a.col2.col0, SUM(a.col2.col1) FROM (VALUES ROW(CAST(ROW(2.2, ARRAY[row(31, 4.2E0), row(22, 4.2E0)], row(5, 4.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(1.0, ARRAY[row(31, 4.5E0), row(12, 4.2E0)], row(3, 4.1E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(3.1, ARRAY[row(41, 3.1E0), row(32, 4.2E0)], row(6, 6.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(3.3, ARRAY[row(41, 3.1E0), row(32, 4.2E0)], row(6, 6.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))) ) t(a) GROUP BY a.col2",
    "SELECT * FROM VALUES (5, 4.0), (3, 4.1), (6, 12.0)")
  ref("group by array of rows", "SELECT a[1].col0, COUNT(1) FROM (VALUES (ROW(CAST(ARRAY[row(31, 4.2E0), row(22, 4.2E0)] AS ARRAY(ROW(col0 integer, col1 double))))), (ROW(CAST(ARRAY[row(31, 4.5E0), row(12, 4.2E0)] AS ARRAY(ROW(col0 integer, col1 double))))), (ROW(CAST(ARRAY[row(41, 3.1E0), row(32, 4.2E0)] AS ARRAY(ROW(col0 integer, col1 double))))), (ROW(CAST(ARRAY[row(31, 3.1E0), row(32, 4.2E0)] AS ARRAY(ROW(col0 integer, col1 double))))) ) t(a) GROUP BY 1 ORDER BY 2 DESC",
    "SELECT * FROM VALUES (31, 3), (41, 1)")

  // --- testRowFieldAccessorInWindowFunction (:429) ---
  ref("row fields in window", "SELECT a.col0, SUM(a.col1[1].col1) OVER(PARTITION BY a.col2.col0), SUM(a.col2.col1) OVER(PARTITION BY a.col2.col0) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[row(31, 14.5E0), row(12, 4.2E0)], row(3, 4.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.2, ARRAY[row(41, 13.1E0), row(32, 4.2E0)], row(6, 6.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.2, ARRAY[row(41, 17.1E0), row(45, 4.2E0)], row(7, 16.0E0)) AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.2, ARRAY[row(41, 13.1E0), row(32, 4.2E0)], row(6, 6.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(3.1, ARRAY[row(41, 13.1E0), row(32, 4.2E0)], row(6, 6.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double))))) t(a) ",
    "SELECT * FROM VALUES (1.0, 14.5, 4.0), (2.2, 39.3, 18.0), (2.2, 39.3, 18.0), (2.2, 17.1, 16.0), (3.1, 39.3, 18.0)")
  ref("row fields window plus filter", "SELECT a.col1[1].col0, SUM(a.col0) OVER(PARTITION BY a.col1[1].col0), SUM(a.col1[1].col1) OVER(PARTITION BY a.col1[1].col0), SUM(a.col2.col1) OVER(PARTITION BY a.col1[1].col0) FROM (VALUES ROW(CAST(ROW(1.0, ARRAY[row(31, 14.5E0), row(12, 4.2E0)], row(3, 4.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(3.1, ARRAY[row(41, 13.1E0), row(32, 4.2E0)], row(6, 6.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), ROW(CAST(ROW(2.2, ARRAY[row(31, 14.2E0), row(22, 5.2E0)], row(5, 4.0E0)) AS ROW(col0 double, col1 array(row(col0 integer, col1 double)), col2 row(col0 integer, col1 double))))) t(a) WHERE a.col1[2].col1 > a.col2.col0",
    "SELECT * FROM VALUES (31, 3.2, 28.7, 8.0), (31, 3.2, 28.7, 8.0)")

  // --- testRowCast (:469) ---
  ref("row cast aa", "SELECT CAST(row(1, 2) AS row(aa bigint, bb boolean)).aa", "SELECT 1")
  ref("row cast bb boolean", "SELECT CAST(row(1, 2) AS row(aa bigint, bb boolean)).bb", "SELECT true")
  ref("row cast bb varchar", "SELECT CAST(row(1, 2) AS row(aa bigint, bb varchar)).bb", "SELECT '2'")
  ref("row cast array field", "SELECT CAST(row(true, array[0, 2]) AS row(aa boolean, bb array(boolean))).bb[1]", "SELECT false")
  ref("row cast nested strings", "SELECT CAST(row(0.1, array[0, 2], row(1, 0.5)) AS row(aa bigint, bb array(boolean), cc row(dd varchar, ee varchar))).cc.ee", "SELECT '0.5'")
  ref("array of row cast", "SELECT CAST(array[row(0.1, array[0, 2], row(1, 0.5))] AS array<row(aa bigint, bb array(boolean), cc row(dd varchar, ee varchar))>)[1].cc.ee", "SELECT '0.5'")

  // --- testDereferenceInSubquery (:480) ---
  ref("deref in grouped subquery", "SELECT x FROM (   SELECT a.x   FROM (VALUES 1, 2, 3) a(x)) GROUP BY x", "SELECT * FROM VALUES 1, 2, 3")
  ref("wildcard deref with agg", "SELECT t2.*, max(t1.b) AS max_b FROM (VALUES (1, 'a'),  (2, 'b'), (1, 'c'), (3, 'd')) t1(a, b) INNER JOIN (VALUES 1, 2, 3, 4) t2(a) ON t1.a = t2.a GROUP BY t2.a", "SELECT * FROM VALUES (1, 'c'), (2, 'b'), (3, 'd')")
  ref("wildcard deref multi-col", "SELECT t2.*, max(t1.b1) AS max_b1 FROM (VALUES (1, 'a'),  (2, 'b'), (1, 'c'), (3, 'd')) t1(a1, b1) INNER JOIN (VALUES (1, 11, 111), (2, 22, 222), (3, 33, 333), (4, 44, 444)) t2(a2, b2, c2) ON t1.a1 = t2.a2 GROUP BY t2.a2, t2.b2, t2.c2", "SELECT * FROM VALUES (1, 11, 111, 'c'), (2, 22, 222, 'b'), (3, 33, 333, 'd')")

  // --- testWhereWithRowField (:554) ---
  ref("row field in where", "SELECT a.col0 FROM (VALUES ROW(CAST(ROW(1, 2) AS ROW(col0 integer, col1 integer)))) AS t (a) WHERE a.col0 > 0", "SELECT 1")
  ref("row field where empty sum", "SELECT SUM(a.col0) FROM (VALUES ROW(CAST(ROW(1, 2) AS ROW(col0 integer, col1 integer)))) AS t (a) WHERE a.col0 <= 0", "SELECT null")
  ref("row field cross-field where", "SELECT a.col0 FROM (VALUES ROW(CAST(ROW(1, 2) AS ROW(col0 integer, col1 integer)))) AS t (a) WHERE a.col0 < a.col1", "SELECT 1")

  // --- AbstractTestAggregations.java:287 testAggregationFilter ---
  ref("agg filter sum", "SELECT sum(x) FILTER (WHERE y > 4) FROM (VALUES (1, 3), (2, 4), (2, 4), (4, 5)) t (x, y)", "SELECT 4")
  ref("agg filter two sums", "SELECT sum(x) FILTER (WHERE x > 1), sum(y) FILTER (WHERE y > 4) FROM (VALUES (1, 3), (2, 4), (2, 4), (4, 5)) t (x, y)", "SELECT 8, 5")
  ref("agg filter mixed", "SELECT sum(x) FILTER (WHERE x > 1), sum(x) FROM (VALUES (1), (2), (2), (4)) t (x)", "SELECT 8, 9")
  ref("agg filter count star", "SELECT count(*) FILTER (WHERE x > 1), sum(x) FROM (VALUES (1, 3), (2, 4), (2, 4), (4, 5)) t (x, y)", "SELECT 3, 9")
  ref("agg filter with distinct", "SELECT count(*) FILTER (WHERE x > 1), count(DISTINCT y) FROM (VALUES (1, 10), (2, 10), (3, 10), (4, 20)) t (x, y)", "SELECT 3, 2")
  ref("agg filter nested", "SELECT sum(b) FILTER (WHERE true) FROM (SELECT count(*) FILTER (WHERE true) AS b)", "SELECT 1")
  ref("agg filter all filtered", "SELECT sum(x) FILTER (WHERE y > 5) FROM (VALUES (1, 3), (2, 4), (2, 4), (4, 5)) t (x, y)", "SELECT null")
  ref("agg filter zero and null", "SELECT count(*) FILTER (WHERE x > 4), sum(x) FILTER (WHERE y > 5) FROM (VALUES (1, 3), (2, 4), (2, 4), (4, 5)) t (x, y)", "SELECT 0, null")

  // --- AbstractTestAggregations.java:144/217 complex group keys ---
  ref("group by complex map", "SELECT MAP_KEYS(x)[1] FROM (VALUES MAP(ARRAY['a'], ARRAY[ARRAY[1]]), MAP(ARRAY['b'], ARRAY[ARRAY[2]])) t(x) GROUP BY x", "VALUES 'a', 'b'")
  ref("distinct on row value", "SELECT count(DISTINCT a), max(b) FROM (VALUES (row(1, 2), 3)) t(a, b)", "VALUES (1, 3)")

  // --- testScalarSubquery (:5808) ---
  ref("nested scalar subqueries", "SELECT (SELECT (SELECT (SELECT 1)))", "SELECT 1")
  ref("scalar subquery in in-list 1", "SELECT (SELECT 1) IN (1, 2, 3)", "SELECT true")
  ref("scalar subquery in in-list 2", "SELECT (SELECT 1) IN (   2, 3)", "SELECT false")
  ref("scalar subquery comparison eq", "SELECT (SELECT 1) = (SELECT 3)", "SELECT false")
  ref("scalar subquery comparison lt", "SELECT (SELECT 1) < (SELECT 3)", "SELECT true")
  ref("multiple scalar subqueries", "SELECT (SELECT 1), (SELECT 2), (SELECT 3)", "SELECT 1, 2, 3")
  ref("scalar subquery division coercion", "SELECT 1.0/(SELECT 1), CAST(1.0 AS REAL)/(SELECT 1), 1/(SELECT 1)", "SELECT 1.0, 1.0, 1")
  ref("correlated count coercion 1", "SELECT * FROM (VALUES 1) t(a) WHERE 1=(SELECT count(*) WHERE 1.0 = a)", "SELECT 1")
  ref("correlated count coercion 2", "SELECT * FROM (VALUES 1.0) t(a) WHERE 1=(SELECT count(*) WHERE 1 = a)", "SELECT 1.0")

  // --- testExistsSubquery (:5901) ---
  ref("nested exists", "SELECT EXISTS(SELECT NOT EXISTS(SELECT EXISTS(SELECT 1)))", "SELECT true")
  ref("exists in in-list 1", "SELECT (EXISTS(SELECT 1)) IN (false)", "SELECT false")
  ref("exists in in-list 2", "SELECT (NOT EXISTS(SELECT 1)) IN (false)", "SELECT true")
  ref("exists in in-list 3", "SELECT (EXISTS(SELECT 1)) IN (true, false)", "SELECT true")
  ref("exists empty in in-list", "SELECT (EXISTS(SELECT 1 WHERE false)) IN (false)", "SELECT true")
  ref("multiple exists filtered out", "SELECT (EXISTS(SELECT 1)) = (EXISTS(SELECT 1)) WHERE NOT EXISTS(SELECT 1)", "SELECT true WHERE false")
  ref("multiple exists kept", "SELECT (EXISTS(SELECT 1)) = (EXISTS(SELECT 3)) WHERE NOT EXISTS(SELECT 1 WHERE false)", "SELECT true")
  ref("five exists projections", "SELECT EXISTS(SELECT 1), EXISTS(SELECT 1), EXISTS(SELECT 3), NOT EXISTS(SELECT 1), NOT EXISTS(SELECT 1 WHERE false)", "SELECT true, true, true, false, true")

  // --- testSemiJoin (:5498) — uncorrelated IN-subquery coercions ---
  ref("in subquery twice", "SELECT * FROM (VALUES (1,1), (2,2), (3, 3)) t(x, y) WHERE (x+y in (SELECT * FROM VALUES 4, 5)) AND (x*y in (SELECT * FROM VALUES 4, 5))", "VALUES (2,2)")
  ref("in subquery coercions", "SELECT 1.0 IN (SELECT 1), 1 IN (SELECT 1)", "SELECT true, true")
  ref("in subquery in where", "SELECT 1 WHERE 1 IN (SELECT 1) AND 1.0 IN (SELECT 1)", "SELECT 1")
  ref("in decimal supertype", "SELECT CAST(1 AS decimal(3,2)) IN (SELECT CAST(1 AS decimal(3,1)))", "SELECT true")
  ref("in with lhs subquery 1", "SELECT (SELECT 1) IN (SELECT 1)", "SELECT true")
  ref("in with lhs subquery 2", "SELECT (SELECT 2) IN (1, (SELECT 2))", "SELECT true")
  ref("in with lhs arithmetic", "SELECT (2 + (SELECT 1)) IN (SELECT 1)", "SELECT false")
  ref("in of in predicate", "SELECT (1 IN (SELECT 1)) IN (SELECT TRUE)", "SELECT true")
  ref("in of exists", "SELECT (EXISTS(SELECT 1)) IN (SELECT TRUE)", "SELECT true")
  ref("in of quantified", "SELECT (1 = ANY(SELECT 1)) IN (SELECT TRUE)", "SELECT true")

  // --- testNoFrom (:4986) / testSelectCaseInsensitive (:4866) ---
  ref("no from", "SELECT 1 + 2, 3 + 4", "SELECT 3, 7")

  // --- testUnnest (:565) ---
  ref("unnest correlated no alias", "SELECT 1 FROM (VALUES (ARRAY[1])) AS t (a) CROSS JOIN UNNEST(a)", "SELECT 1")
  ref("unnest nested array subscript", "SELECT x[1] FROM UNNEST(ARRAY[ARRAY[1, 2, 3]]) t(x)", "SELECT 1")
  ref("unnest double subscript", "SELECT x[1][2] FROM UNNEST(ARRAY[ARRAY[ARRAY[1, 2, 3]]]) t(x)", "SELECT 2")
  ref("unnest map subscript", "SELECT x[2] FROM UNNEST(ARRAY[MAP(ARRAY[1,2], ARRAY['hello', 'hi'])]) t(x)", "SELECT 'hi'")
  ref("unnest star", "SELECT * FROM UNNEST(ARRAY[1, 2, 3])", "SELECT * FROM VALUES (1), (2), (3)")
  ref("unnest aliased", "SELECT a FROM UNNEST(ARRAY[1, 2, 3]) t(a)", "SELECT * FROM VALUES (1), (2), (3)")
  ref("unnest zip", "SELECT a, b FROM UNNEST(ARRAY[1, 2], ARRAY[3, 4]) t(a, b)", "SELECT * FROM VALUES (1, 3), (2, 4)")
  ref("unnest zip padded", "SELECT a, b FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5]) t(a, b)", "SELECT * FROM VALUES (1, 4), (2, 5), (3, NULL)")
  ref("unnest zip first col", "SELECT a FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5]) t(a, b)", "SELECT * FROM VALUES 1, 2, 3")
  ref("unnest zip second col", "SELECT b FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5]) t(a, b)", "SELECT * FROM VALUES 4, 5, NULL")
  ref("unnest zip count", "SELECT count(*) FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5])", "SELECT 3")
  ref("unnest strings", "SELECT a FROM UNNEST(ARRAY['kittens', 'puppies']) t(a)", "SELECT * FROM VALUES ('kittens'), ('puppies')")
  ref("unnest cross values", "SELECT c FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5]) t(a, b) CROSS JOIN (values (8), (9)) t2(c)", "SELECT * FROM VALUES 8, 8, 8, 9, 9, 9")
  ref("unnest triple chain", "SELECT * FROM UNNEST(ARRAY[0, 1]) CROSS JOIN UNNEST(ARRAY[0, 1]) CROSS JOIN UNNEST(ARRAY[0, 1])", "SELECT * FROM VALUES (0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 0, 0), (1, 0, 1), (1, 1, 0), (1, 1, 1)")
  ref("unnest triple comma chain", "SELECT * FROM UNNEST(ARRAY[0, 1]), UNNEST(ARRAY[0, 1]), UNNEST(ARRAY[0, 1])", "SELECT * FROM VALUES (0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 0, 0), (1, 0, 1), (1, 1, 0), (1, 1, 1)")
  ref("unnest map", "SELECT a, b FROM UNNEST(MAP(ARRAY[1,2], ARRAY['cat', 'dog'])) t(a, b)", "SELECT * FROM VALUES (1, 'cat'), (2, 'dog')")
  ref("unnest map null value", "SELECT a, b FROM UNNEST(MAP(ARRAY[1,2], ARRAY['cat', NULL])) t(a, b)", "SELECT * FROM VALUES (1, 'cat'), (2, NULL)")
  ref("unnest ordinality correlated", "SELECT 1 FROM (VALUES (ARRAY[1])) AS t (a) CROSS JOIN UNNEST(a) WITH ORDINALITY", "SELECT 1")
  ref("unnest ordinality star", "SELECT * FROM UNNEST(ARRAY[1, 2, 3]) WITH ORDINALITY", "SELECT * FROM VALUES (1, 1), (2, 2), (3, 3)")
  ref("unnest ordinality column", "SELECT b FROM UNNEST(ARRAY[10, 20, 30]) WITH ORDINALITY t(a, b)", "SELECT * FROM VALUES (1), (2), (3)")
  ref("unnest ordinality zip", "SELECT a, b, c FROM UNNEST(ARRAY[10, 20, 30], ARRAY[4, 5]) WITH ORDINALITY t(a, b, c)", "SELECT * FROM VALUES (10, 4, 1), (20, 5, 2), (30, CAST(NULL AS INT), 3)")
  ref("unnest ordinality strings", "SELECT a, b FROM UNNEST(ARRAY['kittens', 'puppies']) WITH ORDINALITY t(a, b)", "SELECT * FROM VALUES ('kittens', 1), ('puppies', 2)")
  ref("unnest ordinality cross", "SELECT c FROM UNNEST(ARRAY[1, 2, 3], ARRAY[4, 5]) WITH ORDINALITY t(a, b, c) CROSS JOIN (values (8), (9)) t2(d)", "SELECT * FROM VALUES 1, 1, 2, 2, 3, 3")
  ref("lambda in unnest", "SELECT * FROM UNNEST(transform(sequence(1, 5), x -> x * x))", "SELECT * FROM (VALUES 1, 4, 9, 16, 25)")
  ref("lambda array subscript", "SELECT x[5] FROM (VALUES transform(sequence(1, 5), x -> x * x)) t(x)", "SELECT 25")
  ref("in subquery with cross join unnest", "SELECT a FROM (VALUES (1),(2)) t(a) WHERE a IN (SELECT b FROM (VALUES (ARRAY[2])) AS t1 (a) CROSS JOIN UNNEST(a) AS t2(b))", "SELECT 2")

  // --- testTry (:4921) ---
  ref("try not pushed down", "SELECT x IS NULL FROM (SELECT TRY(1/y) AS x FROM (VALUES 3, 0, 4) t(y))", "VALUES false, true, false")
  ref("try around lambda division", "SELECT TRY(apply(5, x -> x + 1) / 0)", "SELECT NULL")
  ref("try around random lambda", "SELECT TRY(apply(5 + RANDOM(1), x -> x + 1) / 0)", "SELECT NULL")
  ref("try inside lambda", "SELECT apply(5 + RANDOM(1), x -> x + TRY(1 / 0))", "SELECT NULL")
  ref("try null cast", "SELECT TRY(CAST(NULL AS BIGINT))", "SELECT NULL")
  ref("try valid cast", "SELECT TRY(CAST('123' AS BIGINT))", "SELECT 123")
  ref("try invalid cast", "SELECT TRY(CAST('foo' AS BIGINT))", "SELECT NULL")
  ref("try null propagation", "SELECT TRY(CAST('foo' AS BIGINT)) + TRY(CAST('123' AS BIGINT))", "SELECT NULL")
  ref("try cast roundtrip", "SELECT TRY(CAST(CAST(123 AS VARCHAR) AS BIGINT))", "SELECT 123")
  ref("concat cast fold", "SELECT COALESCE(CAST(CONCAT('123', CAST(123 AS VARCHAR)) AS BIGINT), 0)", "SELECT 123123")
  ref("try concat invalid", "SELECT TRY(CAST(CONCAT('hello', CAST(123 AS VARCHAR)) AS BIGINT))", "SELECT NULL")
  ref("coalesce try int", "SELECT COALESCE(TRY(CAST(CONCAT('a', CAST(123 AS VARCHAR)) AS INTEGER)), 0)", "SELECT 0")
  ref("try abs overflow", "SELECT 123 + TRY(ABS(-9223372036854775807 - 1))", "SELECT NULL")
  ref("try no error", "SELECT TRY(2/1)", "SELECT 2")
  ref("try divide by zero", "SELECT TRY(2/0)", "SELECT null")
  ref("coalesce try zero", "SELECT COALESCE(TRY(2/0), 0)", "SELECT 0")
  ref("try abs", "SELECT TRY(ABS(-2))", "SELECT 2")

  // --- testSemiJoin decimal supertype over values (:5519) ---
  ref("in decimal values supertype", "SELECT CAST(1 AS decimal(3,2)) IN (SELECT * FROM VALUES (cast(1 AS decimal(3,1))), (cast (2 AS decimal(3,1))))", "SELECT true")
  ref("decimal literal in list", "SELECT d IN (DECIMAL '2.0', DECIMAL '30.0') FROM (VALUES (2.0E0)) t(d)", "SELECT true")

  // --- testWith family (:4098) ---
  ref("with qualified prefix", "WITH a AS (SELECT 123) SELECT a.* FROM a", "SELECT 123")
  ref("with column aliasing", "WITH a (id) AS (SELECT 123) SELECT id FROM a", "SELECT 123")
  ref("with hiding", "WITH a AS (SELECT 1),      b AS (         WITH a AS (SELECT 2)         SELECT * FROM a    )SELECT * FROM b", "SELECT 2")
  ref("with nested subqueries", "WITH a AS (\n  WITH aa AS (SELECT 123 x FROM orders LIMIT 1)\n  SELECT x y FROM aa\n), b AS (\n  WITH bb AS (\n    WITH bbb AS (SELECT y FROM a)\n    SELECT bbb.* FROM bbb\n  )\n  SELECT y z FROM bb\n)\nSELECT *\nFROM (\n  WITH q AS (SELECT z w FROM b)\n  SELECT j.*, k.*\n  FROM a j\n  JOIN q k ON (j.y = k.w)\n) t", "VALUES (123, 123)")

  // --- testCast (:4005) — the VALUES-backed rows ---
  ref("cast string bigint", "SELECT CAST('1' AS BIGINT)", "SELECT 1")
  ref("try_cast invalid string", "SELECT try_cast('foo' AS BIGINT)", "SELECT CAST(null AS BIGINT)")
  ref("try_cast coalesce", "SELECT coalesce(try_cast('foo' AS BIGINT), 456)", "SELECT 456")
  ref("cast values with null", "SELECT CAST(x AS BIGINT) FROM (VALUES 1, 2, 3, NULL) t (x)", "VALUES 1, 2, 3, NULL")
  ref("try_cast values with null", "SELECT try_cast(x AS BIGINT) FROM (VALUES 1, 2, 3, NULL) t (x)", "VALUES 1, 2, 3, NULL")
  // Presto CAST(double AS integral) ROUNDS (DoubleOperators.castToLong);
  // verified against the reference's semantics, not Spark's truncation.
  ref("cast double rounds", "SELECT CAST(2.5E0 AS BIGINT), CAST(2.4E0 AS BIGINT)", "SELECT 3, 2")

  // --- testScalarFunction (:3999) ---
  ref("substr scalar", "SELECT SUBSTR('Quadratically', 5, 6)", "SELECT 'ratica'")

  // --- testCorrelatedNonAggregationScalarSubqueries (:6103) ---
  ref("correlated empty scalar", "SELECT (SELECT 1 WHERE a = 2) FROM (VALUES 1) t(a)", "SELECT null")
  ref("correlated matching scalar", "SELECT (SELECT 2 WHERE a = 1) FROM (VALUES 1) t(a)", "SELECT 2")

  // --- testOrderByWithNulls (:2940) — Presto's bare ASC defaults to
  // NULLS LAST (ordered compare proves the default equals the explicit
  // spelling end-to-end on table data) ---
  ref("default null ordering is nulls last",
    "SELECT orderkey, custkey, orderstatus FROM orders ORDER BY nullif(orderkey, 3) ASC, custkey ASC",
    "SELECT orderkey, custkey, orderstatus FROM orders ORDER BY nullif(orderkey, 3) ASC NULLS LAST, custkey ASC",
    ordered = true)

  // --- testOrderByWithSimilarExpressions (:2981) ---
  ref("order by similar expressions 1", "WITH t AS (SELECT 1 x, 2 y) SELECT x, y FROM t ORDER BY x, y", "SELECT 1, 2")
  ref("order by similar expressions 2", "WITH t AS (SELECT 1 x, 2 y) SELECT x, y FROM t ORDER BY x, y LIMIT 1", "SELECT 1, 2")
  ref("order by similar expressions dup", "WITH t AS (SELECT 1 x, 1 y) SELECT x, y FROM t ORDER BY x, y LIMIT 1", "SELECT 1, 1")
  // (fixture orderkeys start at 0, not 1 — the expected literal adapts)
  ref("order by similar table keys", "WITH t AS (SELECT orderkey x, orderkey y FROM orders) SELECT x, y FROM t ORDER BY x, y LIMIT 1", "SELECT 0, 0")
  ref("order by similar mixed direction", "WITH t AS (SELECT orderkey x, orderkey y FROM orders) SELECT x, y FROM t ORDER BY x, y DESC LIMIT 1", "SELECT 0, 0")

  // --- testCorrelatedInPredicateSubqueries / ...ExistsSubqueries (:6320) ---
  ref("correlated exists with dup rows", "SELECT EXISTS(SELECT 1 WHERE a = 1) FROM (VALUES 1, 1, 2, 3) t(a)", "VALUES true, true, false, false")
  // A PROJECTED IN-subquery keeps three-valued logic (Spark's raw
  // ExistenceJoin collapses the null cases to FALSE; Engine.sql rewrites the
  // projected form to a null-aware CASE — see oneBasedSubscripts).
  ref("correlated in all null cases", "SELECT t1.a, t1.b,   t1.b in (SELECT t2.b     FROM (values (2, 3), (2, 4), (3, 0), (30,NULL)) t2(a, b)     WHERE t1.a - 5 <= t2.a and t2.a <= t1.a and 0 <= t2.a) from (values (1,1), (2,4), (3,5), (4,NULL), (30,2), (40,NULL) ) t1(a, b) order by t1.a",
    "VALUES (1,1,FALSE), (2,4,TRUE), (3,5,FALSE), (4,NULL,NULL), (30,2,NULL), (40,NULL,FALSE)", ordered = true)

  // --- testCorrelatedScalarSubqueriesWithScalarAggregation (:6234) ---
  ref("correlated avg projection", "SELECT (SELECT round(3 * avg(i.a)) FROM (VALUES 1, 1, 1, 2, 2, 3, 4) i(a) WHERE i.a < o.a AND i.a < 4) FROM (VALUES 0, 3, 3, 5) o(a)", "VALUES null, 4, 4, 5")
  ref("correlated count comparison", "SELECT * FROM (VALUES (0),( 1), (2), (7)) AS v1(c1) WHERE v1.c1 > (SELECT count(c1) FROM (VALUES (0),( 1), (2)) AS v2(c1) WHERE v1.c1 = v2.c1)", "VALUES (2), (7)")

  // --- AbstractTestAggregations misc (:328/:402/:408) ---
  ref("aggregation over right join single stream", "SELECT\n  value\nFROM\n(\n    SELECT\n        key\n    FROM\n        (VALUES 'match') AS a(key)\n        LEFT JOIN (SELECT * FROM (VALUES (0)) LIMIT 0) AS x(ignored)\n        ON TRUE\n    GROUP BY 1\n) a\nRIGHT JOIN\n(\n    VALUES\n    ('match', 'value'),\n    ('no-match', 'value')\n) AS b(key, value)\nON a.key = b.key\nGROUP BY 1\n", "VALUES 'value'")
  ref("aggregation with having literal", "SELECT a, count(1) FROM (VALUES 1, 2, 3, 2) t(a) GROUP BY a HAVING count(1) > 1", "SELECT 2, 2")
  // (APPROX_PERCENTILE(constant, column) — a non-foldable percentile
  // argument is rejected by Spark's percentile_approx; skipped)

  // --- testJoinWithScalarSubqueryToBeExecutedAsPostJoinFilter (:2352) ---
  ref("scalar subquery join inner", "SELECT * FROM (VALUES 1,2,3,4) t(x)  JOIN (VALUES 1,2,3,5) t2(y) ON (x+y = (SELECT 4))", "VALUES (1,3), (2,2), (3,1)")
  ref("scalar subquery join left", "SELECT * FROM (VALUES 1,2,3,4) t(x) left JOIN (VALUES 1,2,3,5) t2(y) ON (x+y = (SELECT 4))", "VALUES (1,3), (2,2), (3,1), (4, null)")
  ref("scalar subquery join right", "SELECT * FROM (VALUES 1,2,3,4) t(x) right JOIN (VALUES 1,2,3,5) t2(y) ON (x+y = (SELECT 4))", "VALUES (1,3), (2,2), (3,1), (null, 5)")
  ref("scalar subquery join full", "SELECT * FROM (VALUES 1,2,3,4) t(x) full JOIN (VALUES 1,2,3,5) t2(y) ON (x+y = (SELECT 4))", "VALUES (1,3), (2,2), (3,1), (4, null), (null, 5)")

  // --- testJoinWithExpressionsThatMayReturnNull (:2441) ---
  ref("join with nullif projection", "SELECT *\nFROM (\n    SELECT a, nullif(a, 1)\n    FROM (VALUES 1) w(a)\n) t(a,b)\nJOIN (VALUES 1) u(x) ON t.a = u.x", "SELECT 1, NULL, 1")
  ref("join with null-contains projection", "SELECT *\nFROM (\n    SELECT a, contains(array[2, null], a)\n    FROM (VALUES 1) w(a)\n) t(a,b)\nJOIN (VALUES 1) u(x) ON t.a = u.x\n", "SELECT 1, NULL, 1")
  ref("join with null-subscript projection", "SELECT *\nFROM (\n    SELECT a, array[null][a]\n    FROM (VALUES 1) w(a)\n) t(a,b)\nJOIN (VALUES 1) u(x) ON t.a = u.x", "SELECT 1, NULL, 1")
  ref("join with try projection", "SELECT *\nFROM (\n    SELECT a, try(a / 0)\n    FROM (VALUES 1) w(a)\n) t(a,b)\nJOIN (VALUES 1) u(x) ON t.a = u.x", "SELECT 1, NULL, 1")
  ref("in-list inside dead case branch", "SELECT CASE WHEN false THEN 1 IN (VALUES 2) END",
    "SELECT CAST(NULL AS BOOLEAN)") // H2: SELECT NULL

  // --- testCrossJoinWithNulls / testSimpleCrossJoins (:5391/:5417) ---
  ref("simple cross join", "SELECT * FROM (SELECT 1 a) x CROSS JOIN (SELECT 2 b) y", "SELECT 1, 2")
  ref("cross join no nulls", "SELECT a, b FROM (VALUES (1), (2)) t (a) CROSS JOIN (VALUES (1), (3)) u (b)", "SELECT * FROM (VALUES  (1, 1), (1, 3), (2, 1), (2, 3))")
  ref("cross join with nulls", "SELECT a, b FROM (VALUES (1), (2), (null)) t (a), (VALUES (11), (null), (13)) u (b)", "SELECT * FROM (VALUES (1, 11), (1, null), (1, 13), (2, 11), (2, null), (2, 13), (null, 11), (null, null), (null, 13))")
  ref("union of distinct literals", "SELECT 1, 1, 'a', 'a' UNION ALL SELECT 1, 2, 'a', 'b'", "VALUES (1, 1, 'a', 'a'), (1, 2, 'a', 'b')")

  // --- testGrouping (:1210) — the single-argument grouping() forms ---
  // :1213 — ORDER BY grouping(b) where the SELECT list renames b away:
  // Presto resolves grouping() in ORDER BY against the source scope;
  // closed by Engine.sortGroupingHoist (hidden aggregate-list alias).
  ref("grouping in order by over renamed grouping column",
    "SELECT a, b AS t, sum(c), grouping(a, b) + grouping(a) FROM (VALUES ('h', 'j', 11), ('k', 'l', 7)) AS t (a, b, c) GROUP BY GROUPING SETS ( (a), (b)) ORDER BY grouping(b) ASC",
    "VALUES (NULL, 'j', 11, 3), (NULL, 'l', 7, 3), ('h', NULL, 11, 1), ('k', NULL, 7, 1)")
  ref("grouping sets single", "SELECT a, sum(b), grouping(a) FROM (VALUES ('h', 11, 0), ('k', 7, 0)) AS t (a, b, c) GROUP BY GROUPING SETS (a)", "VALUES ('h', 11, 0), ('k', 7, 0)")
  ref("grouping repeated", "SELECT a, grouping(a), grouping(a) FROM (VALUES (1) ) AS t (a) GROUP BY GROUPING SETS ((a))", "VALUES (1, 0, 0)")

  // --- Presto integer division (MAIN/type/BigintOperators.java divide):
  // `/` between integral types is plain Java long division — truncation
  // toward zero — while a user-written CAST(.. AS DOUBLE) keeps double
  // division. Chained division stays integral, and the integral result
  // type propagates through subqueries/CTEs/aggregates.
  ref("int division truncates", "SELECT 7 / 2, -7 / 2, 7 / -2, 7 / 2 / 2", "VALUES (3, -3, -3, 1)")
  ref("int division over table", "SELECT orderkey / 2 FROM orders WHERE orderkey = 7", "VALUES 3")
  ref("user double cast keeps double division", "SELECT CAST(7 AS DOUBLE) / 2, 7 / CAST(2 AS DOUBLE)", "VALUES (3.5E0, 3.5E0)")
  ref("int division retype propagates", "SELECT q + 1 FROM (SELECT 7 / 2 AS q)", "VALUES 4")
  ref("int division retype through cte", "WITH c AS (SELECT 7 / 2 AS q) SELECT q * 2 FROM c", "VALUES 6")
  test("int division result is integral-typed") {
    assert(engine.sql("SELECT 7 / 2").schema.head.dataType.simpleString == "int")
    assert(engine.sql("SELECT orderkey / 2 FROM orders LIMIT 1")
      .schema.head.dataType.simpleString == "bigint")
  }

  // --- CAST(double AS integral) rounds halves AWAY FROM ZERO
  // (DoubleOperators.castToLong = DoubleMath.roundToLong HALF_UP; narrower
  // widths via MathFunctions.round, -Math.round(-x) for negatives).
  ref("double cast rounds half away from zero",
    "SELECT CAST(2.5E0 AS BIGINT), CAST(-2.5E0 AS BIGINT), CAST(3.5E0 AS BIGINT), CAST(-3.5E0 AS BIGINT), CAST(-2.4E0 AS INTEGER)",
    "VALUES (3, -3, 4, -4, -2)") // canon collapses numeric widths

  // --- Presto's NULLS LAST default ordering is per SORT ITEM: an explicit
  // NULLS FIRST on one key must not disable the default on a bare ASC key
  // in the same query (QueryPlanner toSortOrder — UNDEFINED → LAST).
  ref("mixed explicit and default null ordering",
    "SELECT a, b FROM (VALUES (1, CAST(NULL AS INTEGER)), (1, 1), (CAST(NULL AS INTEGER), 5)) t(a, b) ORDER BY a NULLS FIRST, b",
    "VALUES (NULL, 5), (1, 1), (1, NULL)", ordered = true)
  ref("window default null ordering is last",
    "SELECT a, row_number() OVER (ORDER BY b) FROM (VALUES (1, CAST(NULL AS INTEGER)), (2, 1), (3, 2)) t(a, b)",
    "VALUES (1, 3), (2, 1), (3, 2)")

  // --- Presto ordered aggregates (AggregationNode.java:77 orderings;
  // exercised by AbstractTestAggregations.java:1190). The clause lowers to
  // array_sort-after-collect in the PrestoSql front-end.
  ref("ordered array_agg asc",
    "SELECT array_agg(v ORDER BY v) FROM (VALUES (3), (1), (2)) t(v)",
    "SELECT ARRAY[1, 2, 3]")
  ref("ordered array_agg desc",
    "SELECT array_agg(v ORDER BY v DESC) FROM (VALUES (3), (1), (2)) t(v)",
    "SELECT ARRAY[3, 2, 1]")
  ref("ordered array_agg multi-key",
    "SELECT array_agg(v ORDER BY k DESC, v) FROM (VALUES (1, 'b'), (2, 'a'), (3, 'b')) t(v, k)",
    "SELECT ARRAY[1, 3, 2]")
  ref("ordered array_agg nulls first",
    "SELECT array_agg(v ORDER BY k NULLS FIRST) FROM (VALUES (1, 2), (2, CAST(NULL AS INT)), (3, 1)) t(v, k)",
    "SELECT ARRAY[2, 3, 1]")
  ref("ordered array_agg default is nulls last",
    "SELECT array_agg(v ORDER BY k) FROM (VALUES (1, 2), (2, CAST(NULL AS INT)), (3, 1)) t(v, k)",
    "SELECT ARRAY[3, 1, 2]")
  ref("ordered array_agg distinct",
    "SELECT array_agg(DISTINCT v ORDER BY v) FROM (VALUES (3), (1), (3), (2)) t(v)",
    "SELECT ARRAY[1, 2, 3]")
  ref("ordered array_agg filter",
    "SELECT array_agg(v ORDER BY v) FILTER (WHERE v > 1) FROM (VALUES (3), (1), (2)) t(v)",
    "SELECT ARRAY[2, 3]")
  ref("ordered array_agg empty group is null",
    "SELECT array_agg(v ORDER BY v) FILTER (WHERE v > 9) FROM (VALUES (3), (1), (2)) t(v)",
    "SELECT CAST(NULL AS ARRAY(INTEGER))")

  // --- approx_percentile weighted overloads (ApproximateLongPercentile
  // Aggregations.java weightedInput) — weight w repeats the value w times;
  // the registry runs these exact, so the expanded multiset {1,2,3,3,3,3}
  // pins the interpolation. The accuracy argument is satisfied trivially.
  ref("weighted approx_percentile",
    "SELECT approx_percentile(v, w, 0.5) FROM (VALUES (1, 1), (2, 1), (3, 4)) t(v, w)",
    "VALUES 3")
  ref("weighted approx_percentile with accuracy",
    "SELECT approx_percentile(v, w, 0.25, 0.01) FROM (VALUES (1, 1), (2, 1), (3, 4)) t(v, w)",
    "VALUES 2.25E0") // index 0.25·5 = 1.25 → 2 + 0.25·(3−2)
  ref("weighted approx_percentile array form",
    "SELECT approx_percentile(v, w, ARRAY[0.5, 1.0]) FROM (VALUES (1, 1), (2, 1), (3, 4)) t(v, w)",
    "SELECT ARRAY[3.0E0, 3.0E0]")

  // --- testQuantifiedComparison scalar forms (fixture-independent) ---
  // Inequality ALL/ANY/SOME lower to the aggregate-bound CASE expansion;
  // decimal probes exercise cross-scale comparison coercion.
  ref("quantified lt", "SELECT 1.0 < ALL(SELECT 1), 1 < ALL(SELECT 1)", "VALUES (false, false)")
  ref("quantified lt any", "SELECT 1.0 < ANY(SELECT 1), 1 < ANY(SELECT 1)", "VALUES (false, false)")
  ref("quantified le all where", "SELECT 1.0 <= ALL(SELECT 1) WHERE 1 <= ALL(SELECT 1)", "VALUES true")
  ref("quantified le any where", "SELECT 1.0 <= ANY(SELECT 1) WHERE 1 <= ANY(SELECT 1)", "VALUES true")
  ref("quantified le all pair", "SELECT 1.0 <= ALL(SELECT 1), 1 <= ALL(SELECT 1) WHERE 1 <= ALL(SELECT 1)", "VALUES (true, true)")
  ref("quantified eq all pair", "SELECT 1.0 = ALL(SELECT 1), 2 = ALL(SELECT 1) WHERE 1 = ALL(SELECT 1)", "VALUES (true, false)")
  ref("quantified decimal lt all", "SELECT CAST(1 AS decimal(3,2)) < ALL(SELECT CAST(1 AS decimal(3,1)))", "VALUES false")
  ref("quantified decimal le all", "SELECT CAST(1 AS decimal(3,2)) <= ALL(SELECT CAST(1 AS decimal(3,1)))", "VALUES true")
  ref("quantified decimal eq all", "SELECT CAST(1 AS decimal(3,2)) = ALL(SELECT CAST(1 AS decimal(3,1)))", "VALUES true")
  ref("quantified decimal ne any", "SELECT CAST(1 AS decimal(3,2)) <> ANY(SELECT CAST(1 AS decimal(3,1)))", "VALUES false")
  // three-valued edges: empty subquery, NULL element, NULL probe
  ref("quantified empty subquery", "SELECT 5 < ALL(SELECT v FROM (VALUES 1) t(v) WHERE false), 5 < ANY(SELECT v FROM (VALUES 1) t(v) WHERE false)", "VALUES (true, false)")
  ref("quantified null element weakens", "SELECT 0 < ALL(VALUES 1, CAST(NULL AS INTEGER)), 2 < ALL(VALUES 1, CAST(NULL AS INTEGER))", "SELECT CAST(NULL AS BOOLEAN), false")
  ref("quantified null probe", "SELECT CAST(NULL AS INTEGER) < ALL(VALUES 1, 2), CAST(NULL AS INTEGER) < ANY(VALUES 1, 2)", "SELECT CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN)")

  // --- testCoercions (:7434-:7473) — bounded-varchar concat and wide
  // DECIMAL(38,x) arithmetic/comparison against bigint/double/int/tinyint/
  // smallint. Fixture-independent, VERBATIM.
  ref("coerce length null", "SELECT length(NULL)", "SELECT CAST(NULL AS INTEGER)")
  ref("coerce varchar concat", "SELECT CAST('abc' AS VARCHAR(255)) || CAST('abc' AS VARCHAR(252))", "SELECT 'abcabc'")
  ref("coerce varchar concat literal", "SELECT CAST('abc' AS VARCHAR(255)) || 'abc'", "SELECT 'abcabc'")
  ref("coerce decimal plus null", "SELECT CAST(1.1 AS DECIMAL(38,1)) + NULL", "SELECT CAST(NULL AS DECIMAL(38,1))")
  ref("coerce decimal38 plus decimal5", "SELECT CAST(292 AS DECIMAL(38,1)) + CAST(292.1 AS DECIMAL(5,1))", "SELECT 584.1")
  ref("coerce decimal plus bigint", "SELECT CAST(1.1 AS DECIMAL(38,1)) + CAST(292 AS BIGINT)", "SELECT 293.1")
  ref("coerce decimal eq bigint", "SELECT CAST(292 AS DECIMAL(38,1)) = CAST(292 AS BIGINT)", "SELECT true")
  ref("coerce decimal plus double", "SELECT CAST(1.1 AS DECIMAL(38,1)) + CAST(1.1 AS DOUBLE)", "SELECT 2.2E0")
  ref("coerce decimal eq double", "SELECT CAST(1.1 AS DECIMAL(38,1)) = CAST(1.1 AS DOUBLE)", "SELECT true")
  ref("coerce sin of decimal", "SELECT SIN(CAST(1.1 AS DECIMAL(38,1)))", "SELECT SIN(1.1E0)")
  ref("coerce decimal plus integer", "SELECT CAST(1.1 AS DECIMAL(38,1)) + CAST(292 AS INTEGER)", "SELECT 293.1")
  ref("coerce decimal eq integer", "SELECT CAST(292 AS DECIMAL(38,1)) = CAST(292 AS INTEGER)", "SELECT true")
  ref("coerce decimal plus tinyint", "SELECT CAST(1.1 AS DECIMAL(38,1)) + CAST(CAST(121 AS DECIMAL(30,1)) AS TINYINT)", "SELECT 122.1")
  ref("coerce decimal eq tinyint", "SELECT CAST(292 AS DECIMAL(38,1)) = CAST(CAST(121 AS DECIMAL(30,1)) AS TINYINT)", "SELECT false")
  ref("coerce decimal plus smallint", "SELECT CAST(1.1 AS DECIMAL(38,1)) + CAST(CAST(121 AS DECIMAL(30,1)) AS SMALLINT)", "SELECT 122.1")
  ref("coerce decimal eq smallint", "SELECT CAST(292 AS DECIMAL(38,1)) = CAST(CAST(121 AS DECIMAL(30,1)) AS SMALLINT)", "SELECT false")
  // REAL vs DECIMAL compares at FLOAT precision (TypeRegistry.java:509 —
  // decimal coerces to real): 1.2f equals DECIMAL '1.2' even though the
  // double-widened float is 1.2000000476837158.
  ref("coerce real eq decimal", "SELECT CAST(1.2 AS REAL) = CAST(1.2 AS DECIMAL(2,1)), CAST(1.2 AS DECIMAL(2,1)) = CAST(1.2 AS REAL), CAST(1.3 AS REAL) > CAST(1.2 AS DECIMAL(2,1))", "VALUES (true, true, true)")

  // --- json_parse VALIDATES (JsonFunctions.java): malformed input throws,
  // so try(json_parse(x)) recovers to NULL (testTryWithLambda :4957).
  ref("try json_parse invalid", "SELECT JSON_FORMAT(TRY (JSON_PARSE('INVALID')))", "SELECT NULL")
  ref("try json_parse valid", "SELECT JSON_FORMAT(TRY (JSON_PARSE('[1, 2, 3]')))", "SELECT '[1,2,3]'")
  ref("json_parse null literal ok", "SELECT JSON_PARSE('null')", "SELECT 'null'")

  // --- checksum is the reference's exact bytes (:3028) ---
  ref("checksum of zero is zero bytes", "SELECT to_hex(checksum(0))", "SELECT '0000000000000000'")

  // --- H2-dialect pairs restated with Presto-typed expecteds ---
  // (:5796 / :6200 — the reference's H2 oracle coerces booleans/counts)
  ref("projected in with filtered in",
    "SELECT x IN (SELECT * FROM (VALUES 1)) FROM (VALUES 1) t(x) WHERE x IN (SELECT * FROM (VALUES 1))",
    "SELECT true")
  ref("correlated zero-from count values",
    "SELECT (SELECT count(*) WHERE a = 1) FROM (VALUES 1, 1, 2, 3) t(a)",
    "VALUES (1), (1), (0), (0)")

  // --- window suite, fixture-independent pairs (AbstractTestQueries) ---
  // testDuplicateColumnsInWindowOrderByClause (:4332)
  ref("duplicate columns in window order by",
    "SELECT a, row_number() OVER (ORDER BY a ASC, a DESC) FROM (VALUES 3, 2, 1) t(a)",
    "VALUES (1, 1), (2, 2), (3, 3)")
  // testWindowFunctionWithImplicitCoercion (:3278)
  ref("window function with implicit coercion",
    "SELECT *, 1.0 * sum(x) OVER () FROM (VALUES 1) t(x)",
    "SELECT 1, 1.0")
  // testWindowNoChannels (:3983) — rank over an empty window spec: every
  // row is a peer, every rank is 1.
  ref("window no channels",
    "SELECT rank() OVER () FROM (SELECT * FROM orders LIMIT 10) LIMIT 3",
    "VALUES 1, 1, 1")
  // testRowFieldAccessorInWindowFunction (:429) — the reference's own
  // expected literals (VALUES-based input, fixture-independent).
  ref("row field accessor in window function",
    "SELECT a.col0, " +
      "SUM(a.col1[1].col1) OVER(PARTITION BY a.col2.col0), " +
      "SUM(a.col2.col1) OVER(PARTITION BY a.col2.col0) FROM " +
      "(VALUES " +
      "ROW(CAST(ROW(1.0, ARRAY[row(31, 14.5E0), row(12, 4.2E0)], row(3, 4.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), " +
      "ROW(CAST(ROW(2.2, ARRAY[row(41, 13.1E0), row(32, 4.2E0)], row(6, 6.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), " +
      "ROW(CAST(ROW(2.2, ARRAY[row(41, 17.1E0), row(45, 4.2E0)], row(7, 16.0E0)) AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), " +
      "ROW(CAST(ROW(2.2, ARRAY[row(41, 13.1E0), row(32, 4.2E0)], row(6, 6.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double)))), " +
      "ROW(CAST(ROW(3.1, ARRAY[row(41, 13.1E0), row(32, 4.2E0)], row(6, 6.0E0))  AS ROW(col0 double, col1 array(ROW(col0 integer, col1 double)), col2 row(col0 integer, col1 double))))) t(a) ",
    "SELECT * FROM VALUES (1.0, 14.5, 4.0), (2.2, 39.3, 18.0), (2.2, 39.3, 18.0), (2.2, 17.1, 16.0), (3.1, 39.3, 18.0)")

  // --- testWindowFrames (:3961) — Presto evaluates ROWS frame bounds PER
  // ROW (FrameInfo takes a bound channel); Spark's parser wants literals.
  // PrestoSql.dynamicFrames lowers these to a slice of the collected
  // partition. Expected values verified against a DuckDB replay of the
  // per-row frame as a correlated row_number-range subquery.
  ref("dynamic frame sum partitioned",
    "SELECT k, v, sum(v) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN mod(k, 2) PRECEDING AND k / 2 FOLLOWING) FROM (VALUES (1, 10, 'a'), (2, 20, 'a'), (3, 30, 'a'), (4, 40, 'b'), (5, 50, 'b')) t(k, v, g) ORDER BY k",
    "VALUES (1, 10, 10), (2, 20, 50), (3, 30, 50), (4, 40, 90), (5, 50, 90)",
    ordered = true)
  ref("dynamic frame avg to current row",
    "SELECT k, avg(v) OVER (ORDER BY k ROWS BETWEEN k PRECEDING AND CURRENT ROW) FROM (VALUES (1, 10.0), (2, 20.0), (3, 60.0)) t(k, v) ORDER BY k",
    "VALUES (1, 10.0), (2, 15.0), (3, 30.0)", ordered = true)
  ref("dynamic frame count shorthand preceding",
    "SELECT k, count(*) OVER (ORDER BY k ROWS mod(k, 3) PRECEDING) FROM (VALUES (1), (2), (3), (4)) t(k) ORDER BY k",
    "VALUES (1, 1), (2, 2), (3, 1), (4, 2)", ordered = true)
  ref("dynamic frame min max symmetric",
    "SELECT k, min(v) OVER (ORDER BY k ROWS BETWEEN k PRECEDING AND k FOLLOWING), max(v) OVER (ORDER BY k ROWS BETWEEN k PRECEDING AND k FOLLOWING) FROM (VALUES (1, 5), (2, 3), (3, 9)) t(k, v) ORDER BY k",
    "VALUES (1, 3, 5), (2, 3, 9), (3, 3, 9)", ordered = true)
  ref("dynamic frame empty frame is null",
    "SELECT k, sum(v) OVER (ORDER BY k ROWS BETWEEN k FOLLOWING AND (k + 1) FOLLOWING) FROM (VALUES (1, 10), (2, 20), (3, 30)) t(k, v) ORDER BY k",
    "VALUES (1, 50), (2, CAST(NULL AS BIGINT)), (3, CAST(NULL AS BIGINT))",
    ordered = true)
  ref("dynamic frame first last value",
    "SELECT k, first_value(v) OVER (ORDER BY k ROWS BETWEEN mod(k,2) PRECEDING AND 1 FOLLOWING), last_value(v) OVER (ORDER BY k ROWS BETWEEN mod(k,2) PRECEDING AND k FOLLOWING) FROM (VALUES (1, 5), (2, 3), (3, 9)) t(k, v) ORDER BY k",
    "VALUES (1, 5, 3), (2, 3, 9), (3, 3, 9)", ordered = true)
  // The reference's exact testWindowFrames statement (expected values are
  // fixture-dependent; r151 oracles it against DuckDB — here we pin that
  // the verbatim text parses, runs, and keeps its 5-row shape).
  ref("window frames verbatim shape",
    "SELECT count(*) FROM (SELECT * FROM (  SELECT orderkey, orderstatus, sum(orderkey + 1000) OVER (PARTITION BY orderstatus ORDER BY orderkey ROWS BETWEEN mod(custkey, 2) PRECEDING AND custkey / 500 FOLLOWING) FROM (SELECT * FROM orders ORDER BY orderkey LIMIT 10) x ) x ORDER BY orderkey LIMIT 5)",
    "VALUES 5")

  // --- testWindowFunctionWithGroupBy (:3813) — star select + ordinal
  // GROUP BY + window fn. Spark rejects the pair (STAR_GROUP_BY_POS);
  // PrestoDialect's StarBeforeOrdinals parks the ordinals until the star
  // has expanded and StarOrdinalsRestore resolves them against the
  // expanded list (legal in Presto only when the ordinals cover the whole
  // star expansion, i.e. the aggregate IS distinct-over-child).
  ref("window function with star group by ordinal",
    "SELECT *, rank() OVER (PARTITION BY x)\nFROM (SELECT 'foo' x)\nGROUP BY 1",
    "SELECT 'foo', 1")
  ref("star group by ordinal dedups",
    "SELECT *, count(*) OVER (PARTITION BY x) FROM (VALUES ('a'), ('a'), ('b')) t(x) GROUP BY 1",
    "VALUES ('a', 1), ('b', 1)")

  // --- TestDateTimeFunctionsBase.java:706/714 — MySQL %v (ISO
  // week-of-weekyear) and %x (ISO weekyear) in date_format; Spark bans
  // week-based pattern letters, so the compat builder lowers them to
  // weekofyear()/yearofweek concat segments. ---
  ref("date_format iso week %v",
    "SELECT date_format(TIMESTAMP '2001-01-09 13:04:05.321', '%v')",
    "SELECT '02'")
  ref("date_format iso weekyear %x %v",
    "SELECT date_format(TIMESTAMP '2001-01-09 13:04:05.321', '%x %v')",
    "SELECT '2001 02'")
  ref("date_format %v mixed with other tokens",
    "SELECT date_format(TIMESTAMP '1998-12-28 00:00:00', '%Y-%m-%d w%v y%x')",
    "SELECT '1998-12-28 w53 y1998'")
}
