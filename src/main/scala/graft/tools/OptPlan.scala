package graft.tools
import graft._

/** Print the OPTIMIZED LOGICAL plan of a SparkEntry query (no execution
  * beyond planning-time probes) — `OptPlan <name> [sfDir] [k=v,k=v]`. */
object OptPlan {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(GraftSession.boxCpus)
    if (args.length > 2) args(2).split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    }
    val df = SparkEntry.all(name).fn(spark, dir)
    println(df.queryExecution.optimizedPlan.treeString)
    spark.stop()
  }
}
