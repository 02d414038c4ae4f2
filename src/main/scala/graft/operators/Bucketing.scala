package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed (co-located) joins — the 100 TB fact⋈fact strategy.
  *
  * Presto 0.206 gets co-located execution from Hive bucketed tables
  * (presto-hive HiveBucketing; SURVEY §4 "Partitioning/shuffle"); Spark's
  * equivalent is `bucketBy` on write + bucket-aware scan: both sides
  * pre-hashed into the same bucket count on the join key means the join
  * runs with ZERO shuffle — each task reads matching bucket files from both
  * tables. At 100 TB this converts the dominant repeated cost (shuffling
  * the fact table for every join) into a one-time write-side cost.
  */
object Bucketing {

  // ── Persisted bucketed layouts (grouped execution à la
  // presto-hive/.../HiveBucketing.java + SPI ConnectorTablePartitioning:
  // a table stored pre-hashed on its key executes joins/aggregations on
  // that key with NO exchange). The layout lives as plain parquet files
  // with Spark's bucket-id file naming plus a small marker file, so ANY
  // later session — a different JVM, a cluster — re-registers it with
  // one DDL statement and gets exchange-free plans. ──

  private val MARKER = "_graft_bucketspec"

  /** The session's layout directory (`spark.graft.bucketedDir`, "" when
    * unset). One directory: each table has at most one layout. */
  def layoutDir(spark: SparkSession): String = {
    val dir = spark.conf.get("spark.graft.bucketedDir", "").trim
    require(!dir.exists(c => c == ',' || c == ';'),
      s"spark.graft.bucketedDir takes one directory, got '$dir'")
    dir
  }

  /** Persist `df` as an external bucketed layout at `layoutDir/name_b`.
    * `key` may be a comma-separated multi-column key.
    * `repartition(buckets, keys…)` first so each task holds exactly one
    * bucket (repartition and bucketBy share murmur3-pmod hashing):
    * one file per bucket, which also makes the sorted output ordering
    * usable by the scan.
    *
    * `sortKey` (optional, defaults to the bucket key) orders files WITHIN
    * each bucket on a longer key list — the bucket key must stay a PREFIX
    * so the sorted-scan contract (and every bucket-keyed join) still
    * holds; the extra sort columns let sorted-input aggregates on wider
    * grouping keys (e.g. (l_orderkey, l_suppkey)) stream too. */
  def persistBucketed(spark: SparkSession, df: DataFrame, layoutDir: String,
      name: String, key: String, buckets: Int, sortKey: String = ""): Unit = {
    val keys = key.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sortKeys = {
      val s = sortKey.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (s.isEmpty) keys else s
    }
    require(sortKeys.startsWith(keys),
      s"sort keys $sortKeys must extend the bucket keys $keys as a prefix")
    val loc = s"$layoutDir/${name}_b"
    val stage = s"graft_stage_${name}_b"
    spark.sql(s"DROP TABLE IF EXISTS $stage")
    df.repartition(buckets, keys.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(sortKeys.head, sortKeys.tail: _*)
      .option("path", loc)
      .format("parquet")
      .saveAsTable(stage)
    spark.sql(s"DROP TABLE $stage") // external: files stay
    java.nio.file.Files.write(java.nio.file.Paths.get(loc, MARKER),
      s"key=${keys.mkString(",")}\nbuckets=$buckets\nsort=${sortKeys.mkString(",")}\n"
        .getBytes("UTF-8"))
  }

  /** Re-register a persisted bucketed layout in THIS session's catalog
    * (idempotent per location; schema read from the parquet footers).
    * Returns the catalog table name, or None when no layout exists for
    * `name`. Markers written before the layout tier dropped its content
    * fingerprint also carry `rows=`/`xor=` lines; they are ignored. */
  def registerBucketed(spark: SparkSession, layoutDir: String,
      name: String): Option[String] = {
    val loc = s"$layoutDir/${name}_b"
    val marker = java.nio.file.Paths.get(loc, MARKER)
    if (!java.nio.file.Files.isRegularFile(marker)) return None
    val props = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
      .linesIterator.map(_.split("=", 2)).collect {
        case Array(k, v) => k -> v
      }.toMap
    val (key, buckets) = (props("key"), props("buckets").toInt)
    val sortCols = props.getOrElse("sort", key) // pre-round-13 markers: = key
    val tbl = s"graft_bucketed_$name"
    // idempotent PER LOCATION: a session that switches spark.graft
    // .bucketedDir (layout A/Bs) must not keep serving the first layout
    // under the same catalog name
    val existingLoc =
      if (!spark.catalog.tableExists(tbl)) None
      else try Some(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location.getPath)
      catch { case _: Exception => None }
    val wantLoc = java.nio.file.Paths.get(loc).toAbsolutePath.toString
    if (existingLoc.exists(_ != wantLoc)) spark.sql(s"DROP TABLE $tbl")
    if (!spark.catalog.tableExists(tbl)) {
      val schema = spark.read.parquet(loc).schema.toDDL
      spark.sql(s"""CREATE TABLE IF NOT EXISTS $tbl ($schema) USING parquet
        CLUSTERED BY ($key) SORTED BY ($sortCols) INTO $buckets BUCKETS
        LOCATION '$loc'""") // key may be a comma-joined multi-column list
    }
    Some(tbl)
  }

  /** Bucketed-layout redirect for [[graft.Tables]]: when the session sets
    * `spark.graft.bucketedDir` to a directory holding a persisted layout
    * for `name`, serve that bucketed catalog table instead of the flat
    * parquet — every query keyed on the bucket column then plans its
    * joins/aggregates exchange-free.
    *
    * Serving a layout also turns on the sorted-bucket scan
    * (`spark.sql.legacy.bucketedTableScan.outputOrdering`): the scan
    * reports its within-bucket sort order, so the SMJ Sorts above a
    * bucketed join vanish and sorted-input aggregates stream. The setting
    * is session-global but sound for ANY bucketed table: Spark 4.1's
    * FileSourceScanLike reports an ordering only when every bucket holds
    * at most one file and buckets are not coalesced (BucketingSpec pins
    * that guard), and graft layouts hold exactly one sorted file per
    * bucket. */
  def redirect(spark: SparkSession, name: String): Option[DataFrame] = {
    val dir = layoutDir(spark)
    if (dir.isEmpty) return None
    registerBucketed(spark, dir, name).map { tbl =>
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      spark.table(tbl)
    }
  }
}
