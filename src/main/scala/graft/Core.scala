package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark-first implementation plus (when the semantics are
  * ANSI-SQL-expressible) an equivalent DuckDB oracle SQL used by the driver's
  * correctness gate.
  *
  * Conventions shared by every query (these make the DuckDB hash-compare
  * deterministic at any scale factor):
  *   - money/double SUMs go through `decimal` so the result is independent of
  *     partitioning / summation order (float sums are not associative);
  *   - AVG and statistics stay double but are rounded to a tolerance far above
  *     double noise;
  *   - every LIMIT query has a total order (unique tie-breaker column);
  *   - ambiguous result types (count_if, grouping, sum(int)) are cast
  *     explicitly to BIGINT/INT on both sides.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Fixture catalog: one parquet file per table under the scale-factor dir.
  *
  * `spark.read.parquet` is the vectorized scan path — predicate pushdown,
  * column pruning and partition pruning are applied by Catalyst; on a real
  * cluster the same call reads a partitioned directory tree, so nothing here
  * is local-mode-specific.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val dfCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Active bucketed-layout dir ("" when unset) — part of every cache key
    * so a session that opts into a layout never sees stale flat-parquet
    * entries (and vice versa). */
  private def layoutKey(spark: SparkSession): String =
    try spark.conf.get("spark.graft.bucketedDir", "")
    catch { case _: Exception => "" }

  /** Table-metadata cache: resolving a parquet table re-lists files and
    * re-reads footers; a real engine caches catalog metadata, so repeated
    * queries against the same table reuse the resolved DataFrame. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    dfCache.computeIfAbsent((spark, layoutKey(spark) + "\u0000" + dir, name),
      _ => load(spark, dir, name))

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    // Bucketed-layout redirect (spark.graft.bucketedDir): a fact table
    // persisted pre-hashed on its key plans keyed joins/aggregates with
    // no exchange — operators/Bucketing.scala.
    graft.operators.Bucketing.redirect(spark, name).getOrElse(
    if (name == "events") {
      // The events fixture has stored ts both as parquet TIMESTAMP(NANOS)
      // (which the Spark reader rejects outright — read nanos as long and
      // floor-truncate to micros, the same value DuckDB produces for its
      // TIMESTAMP (µs)) and as native TIMESTAMP(MICROS). Adapt to whichever
      // this dir carries.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // session TZ is UTC, so the wall-time is the same instant; keep the
          // historical LTZ schema every query/oracle was written against
          raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    })

  private val registeredDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register every fixture table as a temp view (SQL entry point).
    * Idempotent while the dir is unchanged for the session —
    * re-registration would re-read every parquet footer on each query
    * invocation; a dir switch re-registers. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val key = layoutKey(spark) + "\u0000" + dir
    if (registeredDir.put(spark, key) != key) {
      all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    }
  }
}

/** Session factory used by mains and tests: AQE on, shuffle partitions sized
  * to the local core count (a cluster deployment would leave these to
  * spark-submit). `graft.Bench`, `graft.Verify` and the tools all build their
  * session here, so the correctness gate runs the benchmarked posture.
  */
object GraftSession {
  /** Single-node exchange posture, the local analogue of the reference's
    * in-memory pipelined exchange (its single-node exchanges never touch a
    * disk or a codec): shuffle scratch on tmpfs when /dev/shm is writable,
    * and no shuffle compression — on one box there is no network to save,
    * and the lz4 encode/decode is pure CPU overhead (measured at sf1:
    * h18 3.4→1.3 s, q20 2.2→1.0 s). A CLUSTER deployment should leave
    * these to spark-submit defaults (compression back on — there the
    * shuffle crosses a network) — which is exactly what happens, since
    * these are only applied by this local[] factory, never by
    * GraftExtensions. */
  private def localExchangeConf: Seq[(String, String)] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val scratch =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
        Seq("spark.local.dir" ->
          java.nio.file.Files.createDirectories(shm.resolve("graft-shuffle")).toString)
      else Nil
    scratch ++ Seq(
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false")
  }

  /** The local posture as the (key, value) pairs `local` applies, in order.
    * Spark's runtime bloom-filter injection keeps its shipped 10 GiB
    * application-side floor: the SCALE.md A/B that lowered it to fire at
    * the soak scales REGRESSED the join headliners (date predicates keep
    * most join keys, so the bloom build+probe outweighs rows saved);
    * selective domains are covered by DynamicSemiJoinPrune's
    * InSet/broadcast tiers instead, and at 100 TB the default floor fires
    * exactly where it belongs. */
  def localConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // AQE coalescing keeps Spark's shipped parallelism-first default:
    // sub-advisory shuffles still spread across all cores (an earlier
    // advisory-size-first override serialized mid-query stages whose
    // shuffles were far below 64 MB — measured 18.6→11.1 s across the
    // sf1 suite when reverted; minPartitionSize still floors tiny tasks)
    // Partitioned HASH join over sort-merge when the build side fits a
    // per-partition map — the reference's execution model (LookupJoin =
    // partitioned hash join; HashBuilderOperator builds, never sorts).
    // canBuildLocalHashMap (autoBroadcastJoinThreshold × shuffle
    // partitions) still bounds the build side, AQE still handles skew,
    // and SMJ remains the fallback for oversized builds — so the choice
    // holds on a 1000-executor cluster, where per-partition build sides
    // stay bounded by the same guard. factor=1 lets comparable-size
    // sides hash-join (Spark's default demands a 3× imbalance; Presto
    // hash-joins regardless and just picks the build side).
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.shuffledHashJoinFactor" -> "1",
    // AQE runtime SMJ→SHJ conversion (default 0 = off): when a build
    // side outgrows the STATIC canBuildLocalHashMap bound (threshold ×
    // partitions), the planner falls back to sort-merge — at the sf30
    // soak that sorted a 180 M-row probe side under h05/q22/h18.
    // 512 MB bounds the RUNTIME per-partition build (32 tasks × 512 MB
    // within the 128 GiB heap; actual builds are far smaller), keeping
    // the reference's hash-join-always execution model at runtime too:
    // sf30 TPC-H-10 69.2 → 55.8 s, sf10 18.6 → 16.5 s (SCALE.md).
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "536870912",
    // 4 MB broadcast cutoff in LOCAL mode: the driver builds a broadcast
    // HashedRelation single-threaded, so a 1-2 M-row dim (part/customer
    // at the sf10 soak) costs 1-2 s serialized build while the 32-way
    // partitioned hash join builds the same table in parallel — measured
    // 29.9 → 17.7 s across the six join-heavy sf10 headliners (SCALE.md).
    // A real cluster keeps the shipped 10 MB default via spark-submit:
    // there the broadcast eliminates a fact-side network shuffle, which
    // dominates the one-time build. Truly small dims (nation, region,
    // filtered lookups) stay under 4 MB and still broadcast everywhere.
    "spark.sql.autoBroadcastJoinThreshold" -> "4m",
    // Compiled-code cache sized to the working set, so a query that comes
    // round again reuses its generated classes (Presto compiles each
    // expression once: ExpressionCompiler's class cache). Spark's 100-entry
    // LRU holds less than one loop over perfbench's olap_sf1 entries, and
    // a loop over more classes than an LRU holds never hits: each olap_sf1
    // execution recompiled (traced: 8-10 Janino compiles, about 0.1 s)
    // and ran its fresh classes interpreted again. Working set = the
    // distinct classes one pass compiles (tools.TimeOps with every entry
    // listed twice in one JVM; the second pass compiles nothing but the 2
    // classes of r16_ref_arrays that inline rand()'s per-query seed):
    // olap_sf1 115, llm_ops 47, dialect_small 122, so mixed_2clients (the
    // olap and dialect loops in one JVM) at most 237. 500 holds the
    // largest twice.
    // STATIC conf: CodeGenerator's static initializer reads it once per
    // JVM (SQLConf.get at the first generated class), so it only takes
    // effect when the session carrying it is active before the JVM's first
    // codegen; spark.conf.set cannot change it later.
    "spark.sql.codegen.cache.maxEntries" -> "500",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false") ++
    localExchangeConf ++
    // ad-hoc config sweeps for tools (Explain/Bench A/B): "k=v,k=v"
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(",")).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }

  /** This box's core count for the tools' sessions: `SPARK_GRAFT_CPUS`,
    * else the JVM's available processors. */
  def boxCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      // engine planner surface on every session: custom strategies + the
      // graft optimizer rules (dynamic semi-join pruning, scaled-long
      // decimal sums). Function NAMES and the dialect's analyzer rules
      // stay per-Engine-session (Presto `map`/`split`/… deliberately
      // differ from the Spark builtins — see GraftExtensions vs
      // GraftPlannerExtensions).
      .withExtensions(new GraftPlannerExtensions)
    localConf(cpus).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
