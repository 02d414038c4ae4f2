package graft.tools

import graft._

/** Stdin-driven bench server for QUERY-granularity interleaved Spark/DuckDB
  * pairs (tools/pair_bench.py is the orchestrator).
  *
  * The per-suite back-to-back pair protocol amplifies co-tenant load bursts
  * into an asymmetric band (round 14 measured 0.87–1.25x at sf100 across
  * four windows, every one hit mid-run on one arm). Interleaving at query
  * granularity — spark-q, duck-q, alternating, several rounds, median per
  * query — makes a burst land on BOTH arms of the same query, so the
  * per-query medians converge to a point estimate.
  *
  * Protocol: prints {"ready":true} once the session is up; then one query
  * name per stdin line runs that entry once (count(), same execution shape
  * as graft.Bench) and prints one JSON line
  * {"q":name,"sec":s,"load":1-min-loadavg}; "exit" stops the session.
  * Session startup, catalog registration and codegen warm-up are excluded
  * from every timing by construction (the orchestrator also runs one
  * unrecorded warm-up round).
  */
object BenchServer {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession.local(GraftSession.boxCpus)
    println("""{"ready":true}""")
    Console.flush()
    var done = false
    val in = scala.io.Source.stdin.getLines()
    while (!done && in.hasNext) {
      val name = in.next().trim
      if (name == "exit") done = true
      else if (name.nonEmpty) {
        SparkEntry.all.get(name) match {
          case Some(q) =>
            val t0 = System.nanoTime()
            q.fn(spark, dir).count()
            val sec = (System.nanoTime() - t0) / 1e9
            val load = scala.io.Source.fromFile("/proc/loadavg").mkString
              .split(" ")(0)
            println(f"""{"q":"$name","sec":$sec%.3f,"load":$load}""")
          case None =>
            println(s"""{"q":"$name","error":"unknown query"}""")
        }
        Console.flush()
      }
    }
    spark.stop()
  }
}
