package graft.tools
import graft.{GraftSession, SparkEntry}
/** Print the EXECUTED (post-AQE) plan of a query — shows runtime reuse. */
object ExecPlan {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.local(GraftSession.boxCpus)
    val df = SparkEntry.all(q).fn(spark, dir)
    df.collect()
    println(df.queryExecution.executedPlan.toString)
  }
}
