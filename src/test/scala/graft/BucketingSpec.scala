package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located join: same results as the shuffled join, with NO
  * shuffle exchange on the join path (the plan property that matters at
  * 100 TB). */
class BucketingSpec extends AnyFunSuite {
  import TestSession._
  import operators.Bucketing

  /** orders and lineitem persisted on orderkey (4 buckets), served through
    * the `spark.graft.bucketedDir` redirect for the duration of `f`. */
  private def withOrderkeyLayout[T](f: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-colocated").toString
    Bucketing.persistBucketed(spark,
      Tables.t(spark, sf, "orders"), dir, "orders", "o_orderkey", 4)
    Bucketing.persistBucketed(spark,
      Tables.t(spark, sf, "lineitem"), dir, "lineitem", "l_orderkey", 4)
    try {
      spark.conf.set("spark.graft.bucketedDir", dir)
      f
    } finally {
      spark.conf.unset("spark.graft.bucketedDir")
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_lineitem")
    }
  }

  test("co-located bucketed join is shuffle-free below the aggregation") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force a non-broadcast join so the bucket path is what's planned
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      withOrderkeyLayout {
        val joined = Tables.t(spark, sf, "orders")
          .join(Tables.t(spark, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan.take(500))
        assert(!plan.contains("Exchange"), "bucketed join must not shuffle:\n" +
          plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("bucketed join result equals unbucketed join result") {
    val q20 = SparkEntry.all("q20_join_inner")
    val plain = q20.fn(spark, sf).collect()
    val bucketed = withOrderkeyLayout {
      val df = q20.fn(spark, sf)
      assert(df.queryExecution.logical.toString.contains("graft_bucketed_lineitem"))
      df.collect()
    }
    assert(plain.nonEmpty && bucketed.sameElements(plain))
  }

  test("Presto CTAS WITH (bucketed_by, bucket_count) creates an " +
      "exchange-free bucketed table") {
    val e = Engine(spark).loadCatalog(sf)
    val res = e.sql("CREATE TABLE orders_bb WITH (" +
      "bucketed_by = ARRAY['o_custkey'], bucket_count = 4) " +
      "AS SELECT * FROM orders")
    assert(res.columns.toSeq == Seq("rows"))
    val n = res.collect()(0).getLong(0)
    assert(n == e.sql("SELECT count(*) FROM orders").head.getLong(0) && n > 0)
    val prevT = e.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = e.spark.conf.get("spark.sql.adaptive.enabled")
    try {
      e.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      e.spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = e.spark.table("orders_bb").as("a")
        .join(e.spark.table("orders_bb").as("b"),
          col("a.o_custkey") === col("b.o_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "bucketed CTAS self-join must not shuffle:\n" +
          plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    } finally {
      e.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      e.spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    // SHOW CREATE TABLE renders the reference's table-properties spelling
    val ddl = e.sql("SHOW CREATE TABLE orders_bb").collect().head.getString(0)
    assert(ddl.contains("bucketed_by = ARRAY['o_custkey']"), ddl)
    assert(ddl.contains("bucket_count = 4"), ddl)
    // the Engine runs on a child session, but catalog (non-temp) tables
    // are shared with the parent — drop so other suites' catalog
    // assertions stay clean
    e.spark.sql("DROP TABLE IF EXISTS graft_bucketed_orders_bb")
  }

  test("persisted layout: redirect serves bucketed tables; h18 shape plans " +
      "with zero Exchange and identical results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketlayout").toString
    Bucketing.persistBucketed(spark,
      Tables.t(spark, sf, "orders"), dir, "orders", "o_orderkey", 4)
    Bucketing.persistBucketed(spark,
      Tables.t(spark, sf, "lineitem"), dir, "lineitem", "l_orderkey", 4)
    // one file per bucket (repartition aligned with bucketBy hashing)
    val files = new java.io.File(s"$dir/lineitem_b")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 4, s"expected 4 bucket files, got $files")

    def h18Core(ord: org.apache.spark.sql.DataFrame,
        li: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      ord.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))

    val plain = h18Core(Tables.t(spark, sf, "orders"),
      Tables.t(spark, sf, "lineitem"))
      .collect().sortBy(_.getLong(0))

    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.graft.bucketedDir", dir)
      val li = Tables.t(spark, sf, "lineitem")
      // the redirect serves the catalog table, not the flat parquet file
      assert(li.queryExecution.logical.toString.contains("graft_bucketed_lineitem"),
        li.queryExecution.logical.toString.take(300))
      val q = h18Core(Tables.t(spark, sf, "orders"), li)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "bucketed h18 shape must plan join AND aggregate exchange-free:\n" +
          plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
      val bucketed = q.collect().sortBy(_.getLong(0))
      assert(bucketed.sameElements(plain))
    } finally {
      spark.conf.unset("spark.graft.bucketedDir")
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      // registered catalog tables are session-global — drop so other
      // suites' catalog assertions (information_schema widest-table)
      // stay clean
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_lineitem")
    }
  }

  test("opt-in sorted-bucket scan: the SMJ Sorts above a bucketed join " +
      "vanish (one sorted file per bucket makes the legacy conf sound)") {
    // the name predates the default: serving a layout turns the sorted scan on
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      val expect = Tables.t(spark, sf, "orders")
        .join(Tables.t(spark, sf, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .count()
      withOrderkeyLayout {
        val q = Tables.t(spark, sf, "orders")
          .join(Tables.t(spark, sf, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey"), col("l_quantity"))
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan.take(400))
        assert(!plan.contains("Exchange"), plan.take(800))
        assert(!plan.contains("Sort ["),
          "sorted-bucket scan must eliminate the SMJ Sorts:\n" +
            plan.linesIterator.filter(_.contains("Sort")).mkString("\n"))
        // results identical to the flat path
        assert(q.count() == expect)
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("Spark guard: a bucket with two files reports no scan ordering, so " +
      "the SMJ Sorts stay under the legacy ordering setting") {
    val dir = java.nio.file.Files.createTempDirectory("graft-twofiles").toString
    // two write tasks, each holding rows of every bucket: two files per bucket
    spark.sql("DROP TABLE IF EXISTS graft_two_file_buckets")
    spark.range(0, 2000, 1, 2).withColumn("v", col("id") % 7)
      .write.bucketBy(2, "id").sortBy("id")
      .option("path", dir).format("parquet")
      .saveAsTable("graft_two_file_buckets")
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      val files = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet"))
      val perBucket = files.groupBy(n => n.substring(n.lastIndexOf('_') + 1))
      assert(perBucket.size == 2 && perBucket.values.forall(_.length >= 2),
        files.mkString(", "))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val t = spark.table("graft_two_file_buckets")
      val q = t.as("a").join(t.as("b"), col("a.id") === col("b.id"))
      val plan = q.queryExecution.executedPlan
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty && scans.forall(_.outputOrdering.isEmpty),
        scans.map(s => s.outputOrdering.toString).mkString("; "))
      assert(plan.toString.contains("SortMergeJoin"), plan.toString.take(400))
      assert(!plan.toString.contains("Exchange"), plan.toString.take(800))
      assert(plan.collect { case s: org.apache.spark.sql.execution.SortExec => s }
        .length == 2, plan.toString)
      assert(q.count() == 2000)
    } finally {
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS graft_two_file_buckets")
    }
  }

  test("switching spark.graft.bucketedDir re-registers the catalog table " +
      "at the new location (layout A/Bs must not compare a layout to itself)") {
    val dirA = java.nio.file.Files.createTempDirectory("graft-layoutA").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-layoutB").toString
    val orders = Tables.t(spark, sf, "orders")
    Bucketing.persistBucketed(spark, orders.limit(100), dirA, "orders",
      "o_orderkey", 2)
    Bucketing.persistBucketed(spark, orders.limit(300), dirB, "orders",
      "o_orderkey", 2)
    // markers written by older versions carry rows=/xor= lines; they load
    java.nio.file.Files.write(java.nio.file.Paths.get(dirB, "orders_b", "_graft_bucketspec"),
      "rows=300\nxor=12345\n".getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
    try {
      spark.conf.set("spark.graft.bucketedDir", dirA)
      assert(Tables.t(spark, sf, "orders").count() == 100)
      spark.conf.set("spark.graft.bucketedDir", dirB)
      assert(Tables.t(spark, sf, "orders").count() == 300)
      spark.conf.set("spark.graft.bucketedDir", dirA)
      assert(Tables.t(spark, sf, "orders").count() == 100)
      // one directory only: a list is refused, not silently served flat
      spark.conf.set("spark.graft.bucketedDir", s"$dirA;$dirB")
      intercept[IllegalArgumentException](Tables.t(spark, sf, "orders"))
    } finally {
      spark.conf.unset("spark.graft.bucketedDir")
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
    }
  }

  test("extended-sort layout (bucket by orderkey, sort by orderkey+suppkey): " +
      "the wider grouping streams through StreamingSortedAggregate, " +
      "result-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketsort2").toString
    // bucket key stays l_orderkey (joins/co-location unchanged); files
    // sorted on the longer key so the h21-shape group-by streams
    Bucketing.persistBucketed(spark, Tables.t(spark, sf, "lineitem"),
      dir, "lineitem", "l_orderkey", 4, sortKey = "l_orderkey,l_suppkey")
    def agg(li: org.apache.spark.sql.DataFrame) = li
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("n"))
    val plain = agg(Tables.t(spark, sf, "lineitem"))
      .collect().map(_.toString).sorted.toSeq
    try {
      spark.conf.set("spark.graft.bucketedDir", dir)
      val q = agg(Tables.t(spark, sf, "lineitem"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("StreamingSortedAggregate"),
        plan.linesIterator.take(25).mkString("\n"))
      assert(!plan.contains("Exchange"), plan.take(800))
      val got = agg(Tables.t(spark, sf, "lineitem"))
        .collect().map(_.toString).sorted.toSeq
      assert(got == plain)
    } finally {
      spark.conf.unset("spark.graft.bucketedDir")
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_lineitem")
    }
  }
}
