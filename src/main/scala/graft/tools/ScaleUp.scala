package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build a larger, MULTI-FILE fixture from a driver-generated single-file
  * one, preserving join cardinalities: each fact/dimension copy i shifts
  * every KEY column by i * (its table's key stride), so per-key group
  * sizes, join fanouts and selectivity stay exactly those of the source
  * scale — the result behaves like a true larger scale factor for plan
  * and throughput measurement (SCALE.md "bench floor": the driver's
  * single-row-group files make first-stage scans single-task, so
  * sub-second bench numbers measure scheduler constants, not plan cost).
  *
  * Usage: ScaleUp <srcDir> <dstDir> [factor=10] [files=32]
  * Output: <dstDir>/<table>.parquet/ directories with `files` part-files.
  */
object ScaleUp {
  // key columns to shift per table (stride = 1 + max(key) over the source)
  val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq(),
    "nation" -> Seq(),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val files = if (args.length > 3) args(3).toInt else 32
    val spark = SparkSession.builder()
      .master(s"local[${graft.GraftSession.boxCpus}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for ((table, keys) <- keyCols) {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val present = keys.filter(base.columns.contains)
      val out =
        if (present.isEmpty || factor == 1) base
        else {
          val strides: Map[String, Long] = present.map { k =>
            k -> (base.agg(max(col(k).cast("long"))).head.getLong(0) + 1L)
          }.toMap
          (0 until factor).map { i =>
            present.foldLeft(base) { (df, k) =>
              df.withColumn(k, col(k) + lit(i * strides(k)))
            }
          }.reduce(_ unionAll _)
        }
      // repartition by first key (or round-robin) so files hold disjoint
      // key ranges rather than interleaved copies
      val parted =
        if (present.nonEmpty) out.repartition(files, col(present.head))
        else out.repartition(math.min(files, 4))
      parted.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"$table: ${out.columns.length} cols -> $dst/$table.parquet")
    }
    spark.stop()
  }
}
