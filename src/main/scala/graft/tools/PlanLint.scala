package graft.tools
import graft._
import scala.util.control.NonFatal
/** Sweep every entry's physical plan for join shapes that collapse at
  * scale: CartesianProduct and BroadcastNestedLoopJoin. Prints one line
  * per flagged entry (operator + entry name); constant-side cross joins
  * (broadcast k-row centroid/LUT tables) are expected and listed so the
  * spec can allowlist them explicitly. */
object PlanLint {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    var flagged = 0
    SparkEntry.all.toSeq.sortBy(_._1).foreach { case (name, q) =>
      try {
        val plan = q.fn(spark, sf).queryExecution.executedPlan.toString
        val hits = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .filter(plan.contains)
        if (hits.nonEmpty) { flagged += 1; println(s"$name: ${hits.mkString(",")}") }
      } catch { case NonFatal(e) => println(s"$name: PLAN-ERROR ${e.getClass.getSimpleName}") }
    }
    println(s"flagged=$flagged of ${SparkEntry.all.size}")
    spark.stop()
  }
}
