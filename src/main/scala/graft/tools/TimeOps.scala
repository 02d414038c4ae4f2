package graft.tools
import graft._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

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
  * whether the earlier passes' classes stayed cached. `measured_jobs` is
  * the Spark jobs per measured run, counted by job group once `stop()` has
  * drained the listener bus. */
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
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    })
    def time(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.all(n).fn(s, d).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val results = names.zipWithIndex.map { case (n, i) =>
      val k = names.take(i + 1).count(_ == n)
      val label = if (k == 1) n else s"$n#$k"
      val c0 = compiles
      time(n) // warm-up
      val c1 = compiles
      s.sparkContext.setJobGroup(label, label, interruptOnCancel = false)
      val ts = Seq.fill(runs)(time(n))
      s.sparkContext.clearJobGroup()
      (label, ts, c1 - c0, compiles - c1)
    }
    val load1 = os.getSystemLoadAverage
    s.stop() // drains the listener bus: every job start is counted
    def jobsPerRun(label: String): Double =
      jobs.getOrDefault(label, 0).toDouble / runs
    println(s"""{"sf":"$d","cpus":${GraftSession.boxCpus},"runs":$runs,""" +
      f""""loadavg_start":$load0%.2f,"loadavg_end":$load1%.2f,"queries":{""" +
      results.map { case (n, ts, warm, measured) =>
        f""""$n":{"median_s":${ABInterleave.median(ts)}%.3f,"runs_s":""" +
          ts.map(t => f"$t%.3f").mkString("[", ",", "]") +
          f""","warmup_compiles":$warm,"measured_compiles":$measured,""" +
          f""""measured_jobs":${jobsPerRun(n)}%.1f}"""
      }.mkString(",") + "}}")
  }
}
