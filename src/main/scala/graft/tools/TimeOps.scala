package graft.tools
import graft._

/** Full-evaluation timing of named entries at a fixture:
  *   TimeOps <sfDir> [runs=3] <name>...
  * Each entry runs once to warm up, then `runs` times through the `noop`
  * sink (perfbench's definition of evaluating a query; `count()` prunes
  * unused projections). Prints one JSON line with every run's seconds, the
  * median per entry and the 1-minute load average at the start and end. */
object TimeOps {
  def main(a: Array[String]): Unit = {
    val d = a(0)
    val (runs, names) =
      if (a.length > 1 && a(1).forall(_.isDigit)) (a(1).toInt, a.drop(2).toSeq)
      else (3, a.drop(1).toSeq)
    val s = GraftSession.local(GraftSession.boxCpus)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val load0 = os.getSystemLoadAverage
    def time(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.all(n).fn(s, d).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val results = names.map { n =>
      time(n) // warm-up
      n -> Seq.fill(runs)(time(n))
    }
    println(s"""{"sf":"$d","cpus":${GraftSession.boxCpus},"runs":$runs,""" +
      f""""loadavg_start":$load0%.2f,"loadavg_end":${os.getSystemLoadAverage}%.2f,"queries":{""" +
      results.map { case (n, ts) =>
        f""""$n":{"median_s":${ABInterleave.median(ts)}%.3f,"runs_s":""" +
          ts.map(t => f"$t%.3f").mkString("[", ",", "]") + "}"
      }.mkString(",") + "}}")
    s.stop()
  }
}
