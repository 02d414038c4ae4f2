package graft.tools

import org.apache.spark.sql.functions.col

/** Rewrite one table of a fixture clustered (range-partitioned + sorted)
  * on a column — `ClusterBy <srcTableDir> <outTableDir> <column> <files>`.
  * Used to produce the sorted-layout variants the dynamic-filter pushdown
  * tier is designed for (row-group min/max skipping). */
object ClusterBy {
  def main(args: Array[String]): Unit = {
    val Array(src, out, column, files) = args.take(4)
    val spark = graft.GraftSession.local(graft.GraftSession.boxCpus)
    spark.read.parquet(src)
      .repartitionByRange(files.toInt, col(column))
      .sortWithinPartitions(column)
      .write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
