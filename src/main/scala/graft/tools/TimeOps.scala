package graft.tools
import graft._
import org.apache.spark.metrics.source.CodegenMetrics

/** Full-evaluation timing of named entries at a fixture:
  *   TimeOps <sfDir> [runs=3] <name>...
  * Each entry runs once to warm up, then `runs` times through the `noop`
  * sink (perfbench's definition of evaluating a query; `count()` prunes
  * unused projections). Prints one JSON line with every run's seconds, the
  * median per entry and the 1-minute load average at the start and end.
  * Per entry it also counts the Janino compiles (classes Spark's
  * compiled-code cache did not hold) of the warm-up and of all measured
  * runs. A name listed again runs again in this JVM and reports under
  * `<name>#<k>` for its k-th listing: its `warmup_compiles` then shows
  * whether the earlier passes' classes stayed cached. */
object TimeOps {
  def main(a: Array[String]): Unit = {
    val d = a(0)
    val (runs, names) =
      if (a.length > 1 && a(1).forall(_.isDigit)) (a(1).toInt, a.drop(2).toSeq)
      else (3, a.drop(1).toSeq)
    val s = GraftSession.local(GraftSession.boxCpus)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val load0 = os.getSystemLoadAverage
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def time(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.all(n).fn(s, d).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val results = names.zipWithIndex.map { case (n, i) =>
      val k = names.take(i + 1).count(_ == n)
      val c0 = compiles
      time(n) // warm-up
      val c1 = compiles
      val ts = Seq.fill(runs)(time(n))
      (if (k == 1) n else s"$n#$k", ts, c1 - c0, compiles - c1)
    }
    println(s"""{"sf":"$d","cpus":${GraftSession.boxCpus},"runs":$runs,""" +
      f""""loadavg_start":$load0%.2f,"loadavg_end":${os.getSystemLoadAverage}%.2f,"queries":{""" +
      results.map { case (n, ts, warm, measured) =>
        f""""$n":{"median_s":${ABInterleave.median(ts)}%.3f,"runs_s":""" +
          ts.map(t => f"$t%.3f").mkString("[", ",", "]") +
          s""","warmup_compiles":$warm,"measured_compiles":$measured}"""
      }.mkString(",") + "}}")
    s.stop()
  }
}
