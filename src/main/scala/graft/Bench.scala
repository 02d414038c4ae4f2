package graft

import scala.util.control.NonFatal

/** Benchmark main: runs the headline query set on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). Protocol mirrors the reference's
  * benchto setup (presto-benchto-benchmarks/.../tpch.yaml: prewarm + measured
  * runs): 1 prewarm + 3 measured, best-of reported per query (3 runs cuts
  * the JIT/GC run-to-run noise that made sub-second queries jump 3x).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the shared local posture (partitioned hash join, 4 MB broadcast
    // cutoff, tmpfs exchange, SPARK_GRAFT_CONF sweeps) — the same session,
    // at the same core count, graft.Verify checks results on
    val spark = GraftSession.local(GraftSession.boxCpus)

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }

    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val results = SparkEntry.benchNames.flatMap { name =>
      SparkEntry.all.get(name).map { q =>
        try {
          time(q.fn(spark, sfDir).count()) // prewarm (plans + file listing + JIT)
          val runs = Seq.fill(3)(time(q.fn(spark, sfDir).count()))
          name -> runs.min
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] $name failed: $e")
            name -> -1.0
        }
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // a failed query is -1 in `queries` and left out of `total`; `failed`
    // names it, so a short total cannot pass for a fast one
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // loadavg_start: the 1-min load BEFORE the suite ran (co-tenant noise
    // indicator — this box bursts to load-avg ~25; numbers recorded above
    // ~5 understate nothing on the Spark side but a reader should prefer a
    // quiet-window re-run). loadavg_end includes the suite's own load, one
    // task thread per core.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","loadavg_start":$loadStart%.2f,"loadavg_end":${os.getSystemLoadAverage}%.2f,"ts":"${java.time.Instant.now}"}""")
    spark.stop()
  }
}
