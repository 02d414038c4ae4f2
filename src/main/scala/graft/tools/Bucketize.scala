package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Bucketing

/** Build a persisted bucketed layout from a fixture dir:
  *
  *   runMain graft.tools.Bucketize <srcDir> <layoutDir> <buckets> [table:key ...]
  *
  * Default tables are the orderkey-joined fact pair — the shuffle-floor
  * trio (h18/h21/q22) all pay their dominant exchange on this key:
  *   orders:o_orderkey lineitem:l_orderkey
  *
  * Benchmarks then opt in with
  * SPARK_GRAFT_CONF="spark.graft.bucketedDir=<layoutDir>" (one directory:
  * each table has at most one layout) — Tables serves the bucketed catalog
  * tables, their scans report the within-bucket sort order, and keyed
  * joins/aggregates plan with no exchange (operators/Bucketing.scala; the
  * reference's grouped execution, presto-hive HiveBucketing.java).
  * `tools/gate.sh <out> layout` runs the oracle over such a layout.
  */
object Bucketize {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val layoutDir = args(1)
    val buckets = args(2).toInt
    // spec: table:bucketKey[:sortCols] — sortCols (comma list) must extend
    // the bucket key as a prefix; default = bucket key
    val specs =
      if (args.length > 3) args.drop(3).toSeq.map { s =>
        s.split(":", 3) match {
          case Array(t, k) => (t, k, "")
          case Array(t, k, srt) => (t, k, srt)
        }
      }
      else Seq(("orders", "o_orderkey", ""),
        ("lineitem", "l_orderkey", ""))
    val spark = GraftSession.local(GraftSession.boxCpus)
    specs.foreach { case (table, key, srt) =>
      val t0 = System.nanoTime()
      Bucketing.persistBucketed(spark,
        Tables.t(spark, srcDir, table), layoutDir, table, key, buckets, srt)
      println(f"bucketized $table on $key" +
        (if (srt.nonEmpty) f" sorted by $srt" else "") +
        f" into $buckets buckets: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
