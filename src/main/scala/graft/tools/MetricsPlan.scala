package graft.tools
import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Executed-plan stage-time breakdown: run a query, then walk the FINAL
  * (post-AQE) physical plan printing each node with its populated SQL
  * metrics — where the wall-clock actually goes (scan time, build time,
  * shuffle bytes/time, sort time, rows). The same numbers the Spark UI
  * shows, without the UI. */
object MetricsPlan {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(GraftSession.boxCpus)
    val entry = SparkEntry.all(q)
    // warm once (catalog/IO), then measure the second run's metrics.
    // NOTE: execute through df.collect(), not df.count() — count() builds
    // its OWN QueryExecution and the inspected plan would never run.
    entry.fn(spark, dir).count()
    val df = entry.fn(spark, dir)
    val t0 = System.nanoTime()
    df.collect()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"== $q wall: $sec%.3f s ==")
    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
      case s: QueryStageExec => finalPlan(s.plan)
      case other => other
    }
    def walk(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq
        .filter(_._2.value > 0)
        .sortBy(_._1)
        .map { case (k, m) =>
          val v = m.value
          m.metricType match {
            case "timing" => f"$k=${v / 1000.0}%.2fs"
            case "nsTiming" => f"$k=${v / 1e9}%.2fs"
            case "size" => f"$k=${v / 1048576.0}%.1fMB"
            case _ => s"$k=$v"
          }
        }.mkString(", ")
      println(("  " * depth) + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
      p match {
        case a: AdaptiveSparkPlanExec => walk(finalPlan(a), depth + 1)
        case s: QueryStageExec => walk(finalPlan(s), depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
      // broadcast/subquery reuse lives off the children list
      p.subqueries.foreach(walk(_, depth + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    spark.stop()
  }
}
