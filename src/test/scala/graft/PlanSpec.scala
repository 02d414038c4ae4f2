package graft

import org.scalatest.funsuite.AnyFunSuite

/** Golden plan-shape assertions (the reference's BasePlanTest.java:45 +
  * PlanMatchPattern analogue): the optimized/physical plan must have the
  * shape we designed for scale, not merely produce correct rows. */
class PlanSpec extends AnyFunSuite {
  import TestSession._

  private def physical(name: String): String =
    SparkEntry.all(name).fn(spark, sf).queryExecution.executedPlan.toString

  private def formatted(name: String): String =
    SparkEntry.all(name).fn(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q02 pushes every predicate into the parquet scan") {
    val plan = formatted("q02_tpch_q6")
    assert(plan.contains("PushedFilters: ["), plan.take(800))
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity").foreach { f =>
      assert(plan.contains(f), s"missing pushed filter $f")
    }
  }

  test("q02 prunes the scan to referenced columns only") {
    val plan = formatted("q02_tpch_q6")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_quantity") && read.contains("l_discount"))
    assert(!read.contains("l_orderkey") && !read.contains("l_returnflag"),
      s"scan reads unreferenced columns: $read")
  }

  test("q21 star joins broadcast both dimension tables") {
    val plan = physical("q21_join_star")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(800))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q34 top-k per partition plans a WindowGroupLimit") {
    assert(physical("q34_win_topk").contains("WindowGroupLimit"))
  }

  test("q40 global topN plans TakeOrderedAndProject (no full sort)") {
    val plan = physical("q40_topn")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("q24 semi join plans as a semi join, not inner+distinct") {
    val plan = physical("q24_join_semi")
    assert(plan.contains("LeftSemi"), plan.take(800))
  }

  test("h09 collapses the aggregate-join-back to a window (no self-join)") {
    val plan = physical("h09_product_profit")
    // supply costs come from ONE window over the (partkey, suppkey)
    // exchange — not a groupBy + shuffled join back on the same keys
    assert(plan.contains("Window"), plan.take(1200))
    assert(plan.contains("windowspecdefinition(l_partkey"), plan.take(1200))
    // the part predicate prunes lineitem BEFORE the shuffle — as a semi
    // join at this scale, or as DynamicSemiJoinPrune's scan-level IN/INSET
    // once lineitem clears the rule's fact-size floor
    assert(plan.contains("INSET") || plan.contains(" IN ") ||
      plan.contains("LeftSemi"), plan.take(1200))
    // exactly one hash-partitioned exchange on the supply keys, and no
    // sort-merge join of lineitem against a derived aggregate
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("q01 aggregation is partial+final (map-side combine)") {
    val plan = physical("q01_tpch_q1")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(800))
  }

  test("s01 cosine topk broadcasts the 1-row query side") {
    val plan = physical("s01_cosine_topk")
    assert(plan.contains("Broadcast"), plan.take(800))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("whole-stage codegen covers the q01 pipeline") {
    // AQE's wrapper reports 0 subtrees pre-execution — inspect the
    // non-adaptive plan for the codegen property.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.all("q01_tpch_q1").fn(spark, sf).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      val found = "Found (\\d+) WholeStageCodegen subtrees".r
        .findFirstMatchIn(plan).map(_.group(1).toInt).getOrElse(0)
      assert(found >= 1, plan.take(300))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("heavy hitters aggregate plans partial+final ObjectHashAggregate") {
    // the sketch must ship capacity counters per group (map-side partial),
    // not the token stream — TypedImperativeAggregate plans as
    // ObjectHashAggregate with a partial_/final split around the exchange
    import org.apache.spark.sql.functions.{col, explode}
    import graft.{functions => F}
    val df = Tables.t(spark, sf, "documents")
      .select(col("source"), explode(operators.Dedup.tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(F.approx_most_frequent(5, col("tok"), 64).as("m"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(plan.contains("partial_approx_most_frequent"), plan.take(800))
    assert(plan.contains("approx_most_frequent"), plan.take(800))
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // the 100 TB fact⋈filtered-dim story: InjectRuntimeFilter builds a
    // bloom filter from the selective side and applies it to the fact scan
    // BEFORE the shuffle — these are the conf knobs a deployment sets
    import org.apache.spark.sql.functions.col
    val c = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val li = Tables.t(spark, sf, "lineitem")
      val o = Tables.t(spark, sf, "orders").filter(col("o_totalprice") > 400000)
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("l_returnflag").count()
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("BloomFilter"),
        plan.take(1200))
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("hive-style partitioned layout prunes partitions at the scan") {
    // the 100 TB layout story: a filter on the partition column must turn
    // into PartitionFilters (directory pruning), not a data filter
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.t(spark, sf, "lineitem")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("l_returnflag") === "R")
      .select("l_orderkey")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan.take(900))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("l_returnflag"), pf)
    // and the pruned read matches the unpartitioned filter
    val expect = Tables.t(spark, sf, "lineitem")
      .filter(col("l_returnflag") === "R").count()
    assert(df.count() == expect)
  }

  test("dynamic partition pruning injects a runtime filter from the dim side") {
    // the other half of the 100 TB layout story: when the partition-column
    // predicate is only discoverable THROUGH a join (fact partitioned by k,
    // dim filtered), DPP turns the dim's build side into a runtime
    // PartitionFilter on the fact scan — no full-fact read
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val c = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
      .map(k => k -> c.getOption(k))
    try {
      // the tiny fixture defeats the size-based benefit heuristic — force
      // the fallback ratio a deployment would see on a selective dim
      c.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      c.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "1.0")
      val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
      Tables.t(spark, sf, "lineitem")
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
      val fact = spark.read.parquet(dir)
      // dim must be a real scan with a filter — an inline table would
      // constant-fold and DPP would see no selective predicate
      val dimDir = java.nio.file.Files.createTempDirectory("graft-dppdim").toString
      Seq(("R", "returned"), ("N", "kept"), ("A", "ack"))
        .toDF("flag", "label").write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir).filter(col("label") === "returned")
      val j = fact.join(dim, fact("l_returnflag") === dim("flag"))
        .groupBy("l_linestatus").count()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(1500))
      val viaJoin = j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = Tables.t(spark, sf, "lineitem")
        .filter(col("l_returnflag") === "R")
        .groupBy("l_linestatus").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaJoin == expect)
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("local posture plans comparable-size fact joins as partitioned hash join") {
    // GraftSession.local prefers shuffled hash join (the reference's
    // LookupJoin model: build a hash table, never sort) via
    // preferSortMergeJoin=false + shuffledHashJoinFactor=1. This pins the
    // gate interplay those flags rely on: the build side must pass
    // canBuildLocalHashMap (stats < threshold × shuffle partitions), and
    // factor=1 must admit near-equal sides — a threshold of -1 silently
    // re-enables SMJ by turning the local-map bound negative (the bug this
    // test exists to catch).
    val c = spark.conf
    val saved = Seq("spark.sql.join.preferSortMergeJoin",
      "spark.sql.shuffledHashJoinFactor",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.join.preferSortMergeJoin", "false")
      c.set("spark.sql.shuffledHashJoinFactor", "1")
      // sides (~1.6 MB each by range stats) exceed broadcast, fit the
      // 1m × 4-partition local-map bound
      c.set("spark.sql.autoBroadcastJoinThreshold", "1m")
      val a = spark.range(200000).toDF("k")
      val b = spark.range(200000).toDF("k2")
      val plan = a.join(b, a("k") === b("k2")).queryExecution
        .executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"), plan.take(800))
      assert(!plan.contains("SortMergeJoin"), plan.take(800))
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }
}
