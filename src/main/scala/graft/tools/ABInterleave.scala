package graft.tools
import graft._

/** Interleaved on/off A/B of a session-toggleable conf key on one query, in
  * ONE JVM (same JIT/page-cache state for both arms — sequential pairs lie
  * under co-tenant load). Usage:
  *   ABInterleave <dir> <query> <confKey> [nPairs=4] [onValue offValue]
  * onValue/offValue default to true/false (boolean rule toggles); pass
  * explicit values for threshold-style confs ("__unset__" restores the
  * session default for that arm). Prewarms both arms, then runs nPairs pairs with the arm order flipped on
  * every other pair (ON/OFF, OFF/ON, …) so any monotone warm-up or co-tenant
  * trend cancels across pairs instead of favoring one arm; prints one JSON
  * line with per-run seconds and the 1-minute load average sampled at each
  * run, so a reader can see the window was quiet. A run is the query's full
  * evaluation through the `noop` sink, perfbench's definition: `count()`
  * would let Catalyst prune the very projections an expression A/B is
  * about. */
object ABInterleave {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val name = args(1); val key = args(2)
    val nPairs = if (args.length > 3) args(3).toInt else 4
    val (onV, offV) =
      if (args.length > 5) (args(4), args(5)) else ("true", "false")
    val spark = GraftSession.local(GraftSession.boxCpus)
    val q = SparkEntry.all(name)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def load: Double = os.getSystemLoadAverage
    def run(on: Boolean): (Double, Double) = {
      val v = if (on) onV else offV
      if (v == "__unset__") spark.conf.unset(key) else spark.conf.set(key, v)
      val l = load
      val t0 = System.nanoTime()
      q.fn(spark, dir).write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, l)
    }
    run(true); run(false) // prewarm both arms
    val runs = (1 to nPairs).flatMap { i =>
      val order = if (i % 2 == 1) Seq(true, false) else Seq(false, true)
      order.map(a => (a, run(a)))
    }
    def arm(on: Boolean) = runs.collect { case (`on`, (s, _)) => s }
    def fmt(xs: Seq[Double]) = xs.map(s => f"$s%.3f").mkString("[", ",", "]")
    val loads = runs.map(_._2._2)
    println(f"""{"query":"$name","conf":"$key","pairs":$nPairs,""" +
      s""""on_sec":${fmt(arm(true))},"off_sec":${fmt(arm(false))},""" +
      f""""on_min":${arm(true).min}%.3f,"off_min":${arm(false).min}%.3f,""" +
      f""""on_median":${median(arm(true))}%.3f,"off_median":${median(arm(false))}%.3f,""" +
      f""""loadavg_min":${loads.min}%.2f,"loadavg_max":${loads.max}%.2f,""" +
      s""""sf":"$dir","ts":"${java.time.Instant.now}"}""")
    spark.stop()
  }
  private[tools] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
