package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** The Presto dialect rules (PrestoDialect), one row per shape, every query
  * through `Engine.sql`: the shapes Spark's analyzer rejects get Presto's
  * result, fixes compose inside one analysis, and Presto-illegal shapes
  * still raise. */
class DialectRulesSpec extends AnyFunSuite {
  import TestSession._

  private lazy val engine = Engine(spark).loadCatalog(sf)

  private def rows(query: String): Seq[Seq[Any]] =
    engine.sql(query).collect().toSeq.map(_.toSeq)

  // (rule, query, expected rows in result order)
  private val cases: Seq[(String, String, Seq[Seq[Any]])] = Seq(
    ("ArbitraryWindowOrder",
      "SELECT n_regionkey, max(rn) FROM (SELECT n_regionkey, " +
        "row_number() OVER (PARTITION BY n_regionkey) AS rn FROM nation) " +
        "GROUP BY n_regionkey ORDER BY n_regionkey",
      (0 to 4).map(k => Seq(k.toLong, 5))),
    ("WindowInOrderBy",
      "SELECT a FROM (VALUES 1, 2, 3) t(a) ORDER BY -row_number() OVER (ORDER BY a)",
      Seq(Seq(3), Seq(2), Seq(1))),
    ("NullFilterAsBoolean",
      "SELECT count(*) FROM nation WHERE NULL",
      Seq(Seq(0L))),
    ("InlineTableAsUnion",
      "SELECT x[5] FROM (VALUES transform(sequence(1, 5), y -> y * y)) t(x)",
      Seq(Seq(25))),
    ("InlineTableAsUnion: nondeterministic rows",
      "SELECT count(*) FROM (VALUES rand(), rand()) t(x) WHERE x >= 0",
      Seq(Seq(2L))),
    ("WindowAggregateHoist",
      "SELECT a, cardinality(map_agg(a, b) OVER (PARTITION BY c)) " +
        "FROM (VALUES (1, 2, 0), (3, 4, 0), (5, 6, 1)) t(a, b, c) ORDER BY a",
      Seq(Seq(1, 2), Seq(3, 2), Seq(5, 1))),
    ("StarBeforeOrdinals",
      "SELECT *, count(*) OVER (PARTITION BY x) " +
        "FROM (VALUES ('a'), ('a'), ('b')) t(x) GROUP BY 1 ORDER BY x",
      Seq(Seq("a", 1L), Seq("b", 1L))),
    ("MapEquality",
      "SELECT MAP(ARRAY[1, 3], ARRAY[2, 4]) = MAP(ARRAY[3, 1], ARRAY[4, 2]), " +
        "MAP(ARRAY[1], ARRAY[2]) != MAP(ARRAY[1], ARRAY[3])",
      Seq(Seq(true, true))),
    ("MapEquality: IN (VALUES ...)",
      "SELECT x FROM (VALUES 2, 3) t(x) " +
        "WHERE MAP(ARRAY[8589934592], ARRAY[x]) IN (VALUES MAP(ARRAY[8589934592], ARRAY[2]))",
      Seq(Seq(2))),
    ("CastTimestampToTime",
      "SELECT CAST(CAST(TIMESTAMP '2001-08-22 03:04:05.321' AS TIME) AS VARCHAR)",
      Seq(Seq("03:04:05.321"))),
    ("CastTimestampToTime: TIMESTAMP_NTZ",
      "SELECT CAST(CAST(TIMESTAMP_NTZ '2001-08-22 03:04:05.321' AS TIME) AS VARCHAR)",
      Seq(Seq("03:04:05.321"))),
    ("CastTimestampToTime: TIMESTAMP_NTZ column",
      "SELECT DISTINCT CAST(CAST(o_orderdate AS TIME) AS VARCHAR) FROM orders",
      Seq(Seq("00:00:00.000"))),
    ("TstzMismatch",
      "SELECT hour(TIMESTAMP '2001-08-22 03:04:05.321 +07:09'), " +
        "CAST(TIMESTAMP '2001-08-22 03:04:05.321 +07:09' AS DATE)",
      Seq(Seq(3, java.sql.Date.valueOf("2001-08-22")))),
    ("GroupingAsZero",
      "SELECT a, grouping(a) FROM (VALUES 1, 2) t(a) GROUP BY a ORDER BY a",
      Seq(Seq(1, 0), Seq(2, 0))),
    ("DecorrelateSubqueries",
      "SELECT count(*) FROM nation WHERE EXISTS (SELECT 1 WHERE n_regionkey = 1)",
      Seq(Seq(5L))),
    ("DecorrelateSubqueries: USING star",
      "SELECT a.* FROM (SELECT n_nationkey AS k, n_name FROM nation) a " +
        "JOIN (SELECT r_regionkey AS k FROM region) b USING (k) ORDER BY n_name",
      (0 to 4).map(k => Seq(s"NATION_$k"))),
    ("SortSourceToAlias",
      "SELECT a AS foo FROM (VALUES (1, 2), (3, 2)) t(a, b) " +
        "GROUP BY GROUPING SETS ((a), (a, b)) ORDER BY -a",
      Seq(Seq(3), Seq(3), Seq(1), Seq(1))),
    ("SortGroupingHoist",
      "SELECT a, b AS t, grouping(b) FROM (VALUES ('h', 'j'), ('k', 'l')) v(a, b) " +
        "GROUP BY GROUPING SETS ((a), (b)) ORDER BY grouping(b), a, t",
      Seq(Seq(null, "j", 0), Seq(null, "l", 0), Seq("h", null, 1), Seq("k", null, 1))),
    ("StructPositionalContains",
      "SELECT contains(array_agg(ROW(a, b)), ROW(3, 4)) FROM (VALUES (1, 2), (3, 4)) t(a, b)",
      Seq(Seq(true))),
    // two fixes in one query: both rules see the same analysis
    ("composed: unordered row_number + WHERE NULL",
      "SELECT (SELECT count(*) FROM nation WHERE NULL), max(rn) FROM " +
        "(SELECT row_number() OVER (PARTITION BY n_regionkey) AS rn FROM nation)",
      Seq(Seq(0L, 5))),
    ("composed: lambda in VALUES + WHERE NULL",
      "SELECT (SELECT count(*) FROM nation WHERE NULL), x[1] " +
        "FROM (VALUES transform(ARRAY[1], y -> y + 1)) t(x)",
      Seq(Seq(0L, 2))),
    ("composed: grouping() on plain GROUP BY + unordered row_number",
      "SELECT n_regionkey, grouping(n_regionkey), " +
        "row_number() OVER (PARTITION BY n_regionkey) " +
        "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey",
      (0 to 4).map(k => Seq(k.toLong, 0, 1))))

  cases.foreach { case (rule, query, expected) =>
    test(s"$rule: $query") {
      assert(rows(query) == expected)
    }
  }

  // Presto-illegal shapes keep raising
  private val illegal: Seq[(String, String)] = Seq(
    ("grouping() on a non-key argument",
      "SELECT a, grouping(b) FROM (VALUES (1, 2)) t(a, b) GROUP BY a"),
    ("star with ordinals that leave a star column ungrouped",
      "SELECT *, rank() OVER (ORDER BY n_nationkey) FROM nation GROUP BY 1"))

  illegal.foreach { case (what, query) =>
    test(s"raises: $what") {
      intercept[AnalysisException](engine.sql(query).collect())
    }
  }

  test("CAST(TIMESTAMP_NTZ AS TIME) keeps the wall clock under a non-UTC session zone") {
    val e = Engine(spark)
    e.sql("SET TIME ZONE 'America/New_York'")
    assert(e.sql("SELECT CAST(CAST(TIMESTAMP_NTZ '2026-03-08 02:30:45.123' AS TIME) AS VARCHAR)")
      .head.getString(0) == "02:30:45.123")
  }

  test("the dialect stays on Engine sessions: a GraftPlannerExtensions session rejects an unordered row_number()") {
    val e = intercept[AnalysisException](
      spark.sql("SELECT row_number() OVER (PARTITION BY a) FROM VALUES (1) t(a)"))
    assert(e.getCondition == "_LEGACY_ERROR_TEMP_1037")
    assert(engine.sql("SELECT row_number() OVER (PARTITION BY a) FROM (VALUES 1) t(a)")
      .collect().map(_.getInt(0)).toSeq == Seq(1))
  }
}
