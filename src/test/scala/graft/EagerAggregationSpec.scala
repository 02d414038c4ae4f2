package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** EagerAggregationReuse (Yan & Larson eager/lazy aggregation, twin-gated):
  * an Aggregate-over-Join whose grouping pins the join key, and whose
  * aggregate over the fact side already exists as a (child, key) twin in an
  * IN-subquery, is evaluated BELOW the join and re-aggregated above. Every
  * test compares against the rule-off run on the same data (the exactness
  * identity must hold with DUPLICATE keys on the dim side — B-duplication
  * multiplies both sides of the identity equally). */
class EagerAggregationSpec extends AnyFunSuite {
  import TestSession._
  import graft.plans.EagerAggregationReuse

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("__eager_pre")

  Tables.registerAll(spark, sf)

  // fact with duplicate keys and NULLs; dim with DUPLICATE join keys (the
  // identity must not assume uniqueness of b.k). Parquet-backed, as real
  // tables are: the twin gate keys on the canonicalized pruned scan, which
  // LocalRelation fixtures defeat (ConvertToLocalRelation folds each
  // occurrence's pruning into a different literal relation — correctly no
  // reuse, so correctly no rewrite).
  {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("eager-agg").toString
    Seq[(Long, java.lang.Long, String)](
      (1L, 10L, "x"), (1L, 20L, "y"), (1L, null, "z"),
      (2L, null, "x"), (2L, null, "y"),
      (3L, 7L, "x"), (4L, 400L, "w"))
      .toDF("fk", "fv", "ftag").write.parquet(s"$dir/fact")
    Seq[(Long, String)](
      (1L, "a"), (1L, "b"), (2L, "a"), (3L, "c"), (5L, "d"))
      .toDF("dk", "dtag").write.parquet(s"$dir/dim")
    spark.read.parquet(s"$dir/fact").createOrReplaceTempView("ea_fact")
    spark.read.parquet(s"$dir/dim").createOrReplaceTempView("ea_dim")
  }

  private val TWIN_SQL =
    """SELECT dk, dtag,
      |  sum(fv) AS s, count(fv) AS c, min(fv) AS mn, max(fv) AS mx
      |FROM ea_dim JOIN ea_fact ON dk = fk
      |WHERE dk IN (SELECT fk FROM ea_fact GROUP BY fk HAVING sum(fv) > 5)
      |GROUP BY dk, dtag""".stripMargin

  test("twin-gated push fires and is exact under duplicate dim keys + NULLs") {
    val expect = withConf(EagerAggregationReuse.KEY -> "false") {
      val off = spark.sql(TWIN_SQL)
      assert(!fired(off))
      rows(off)
    }
    val df = spark.sql(TWIN_SQL)
    assert(fired(df), df.queryExecution.optimizedPlan.toString.take(1500))
    assert(rows(df) == expect)
  }

  test("no twin aggregate in any subquery => plan untouched") {
    val noTwin =
      """SELECT dk, sum(fv) AS s FROM ea_dim JOIN ea_fact ON dk = fk
        |WHERE dk IN (SELECT dk FROM ea_dim WHERE dtag <> 'd')
        |GROUP BY dk""".stripMargin
    assert(!fired(spark.sql(noTwin)))
  }

  test("grouping without the join key => plan untouched") {
    val noKey =
      """SELECT dtag, sum(fv) AS s FROM ea_dim JOIN ea_fact ON dk = fk
        |WHERE dk IN (SELECT fk FROM ea_fact GROUP BY fk HAVING sum(fv) > 5)
        |GROUP BY dtag""".stripMargin
    val df = spark.sql(noKey)
    assert(!fired(df))
    // and still correct, for good measure
    val expect = withConf(EagerAggregationReuse.KEY -> "false")(rows(spark.sql(noKey)))
    assert(rows(df) == expect)
  }

  test("distinct / filtered / non-fact-side aggregates => plan untouched") {
    val unsupported =
      """SELECT dk, count(DISTINCT fv) AS s
        |FROM ea_dim JOIN ea_fact ON dk = fk
        |WHERE dk IN (SELECT fk FROM ea_fact GROUP BY fk HAVING sum(fv) > 5)
        |GROUP BY dk""".stripMargin
    assert(!fired(spark.sql(unsupported)))
    val dimSide =
      """SELECT dk, max(dtag) AS s
        |FROM ea_dim JOIN ea_fact ON dk = fk
        |WHERE dk IN (SELECT fk FROM ea_fact GROUP BY fk HAVING sum(fv) > 5)
        |GROUP BY dk""".stripMargin
    assert(!fired(spark.sql(dimSide)))
  }

  test("filtered-twin reuse: sum-only outer joins the HAVING aggregate, IN dropped") {
    // only sum(fv) in the output, so every call matches the twin — the
    // filtered subquery aggregate becomes the join input and the IN
    // (hence every semi join) disappears from the plan
    val sumOnly =
      """SELECT dk, dtag, sum(fv) AS s
        |FROM ea_dim JOIN ea_fact ON dk = fk
        |WHERE dk IN (SELECT fk FROM ea_fact GROUP BY fk HAVING sum(fv) > 5)
        |GROUP BY dk, dtag""".stripMargin
    val expect = withConf(EagerAggregationReuse.KEY -> "false")(rows(spark.sql(sumOnly)))
    val df = spark.sql(sumOnly)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("LeftSemi") && !optimized.contains("__eager_pre"),
      optimized.take(1500))
    assert(optimized.contains("Aggregate"), optimized.take(1500))
    assert(rows(df) == expect)
  }

  test("filtered-twin reuse: expression-wrapped and repeated calls stay exact") {
    // sums appear inside arithmetic and twice; every call must match the
    // twin and re-aggregate exactly
    val wrapped =
      """SELECT dk, sum(fv) * 2 + sum(fv) AS s3, max(fv) AS mx
        |FROM ea_dim JOIN ea_fact ON dk = fk
        |WHERE dk IN (SELECT fk FROM ea_fact GROUP BY fk
        |             HAVING sum(fv) > 5 AND max(fv) < 1000)
        |GROUP BY dk""".stripMargin
    val expect = withConf(EagerAggregationReuse.KEY -> "false")(rows(spark.sql(wrapped)))
    val df = spark.sql(wrapped)
    assert(rows(df) == expect)
  }

  test("filtered-twin reuse: extra conjuncts in the IN's filter survive") {
    val extra =
      """SELECT dk, sum(fv) AS s
        |FROM ea_dim JOIN ea_fact ON dk = fk
        |WHERE dtag <> 'b'
        |  AND dk IN (SELECT fk FROM ea_fact GROUP BY fk HAVING sum(fv) > 5)
        |GROUP BY dk""".stripMargin
    val expect = withConf(EagerAggregationReuse.KEY -> "false")(rows(spark.sql(extra)))
    assert(rows(spark.sql(extra)) == expect)
  }

  test("filtered-twin reuse: grouping by the FACT-side key swaps to the twin key") {
    val byFk =
      """SELECT fk, sum(fv) AS s
        |FROM ea_dim JOIN ea_fact ON dk = fk
        |WHERE dk IN (SELECT fk FROM ea_fact GROUP BY fk HAVING sum(fv) > 5)
        |GROUP BY fk""".stripMargin
    val expect = withConf(EagerAggregationReuse.KEY -> "false")(rows(spark.sql(byFk)))
    val df = spark.sql(byFk)
    assert(df.columns.toSeq == Seq("fk", "s"))
    assert(rows(df) == expect)
  }

  test("IN under the null-padded side of an outer join does not take the variant") {
    // b = dim LEFT JOIN (filtered fact-agg side): removing an IN below the
    // null-producing side would change padding — findIn only descends
    // inner joins, so results must match rule-off either way
    val outerSide =
      """SELECT dk, sum(fv) AS s
        |FROM ea_dim
        |LEFT JOIN (SELECT fk, fv FROM ea_fact
        |           WHERE fk IN (SELECT fk FROM ea_fact GROUP BY fk
        |                        HAVING sum(fv) > 5)) f ON dk = fk
        |GROUP BY dk""".stripMargin
    val expect = withConf(EagerAggregationReuse.KEY -> "false")(rows(spark.sql(outerSide)))
    assert(rows(spark.sql(outerSide)) == expect)
  }

  test("h18 canonical SQL takes the push and matches the rule-off result") {
    val h18 =
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  round(o_totalprice, 4) AS totalprice,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 5)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, round(o_totalprice, 4)
        |ORDER BY totalprice DESC, o_orderkey LIMIT 100""".stripMargin
    val expect = withConf(EagerAggregationReuse.KEY -> "false")(rows(spark.sql(h18)))
    val df = spark.sql(h18)
    // variant 1 (filtered-twin reuse): lineitem is aggregated ONCE and the
    // IN — and with it every semi join — is gone from the plan
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("LeftSemi"), optimized.take(2000))
    assert(rows(df) == expect)
    // the declared result type survives the re-aggregation cast
    assert(df.schema("sum_qty").dataType.sql == "DECIMAL(38,2)")
  }
}
