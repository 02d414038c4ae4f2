package graft.tools
import graft._
/** Bench an explicit subset of entries at a fixture (same protocol as
  * graft.Bench: prewarm + best-effort 3 runs, one JSON line). */
object BenchSubset {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val spark = GraftSession.local(GraftSession.boxCpus)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val results = names.map { n =>
      val q = SparkEntry.all(n)
      time(q.fn(spark, dir).count()) // prewarm
      n -> Seq.fill(3)(time(q.fn(spark, dir).count())).min
    }
    val total = results.map(_._2).sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{""" +
      results.map { case (n, s) => f""""$n":$s%.3f""" }.mkString(",") +
      s"""},"sf":"$dir"}""")
    spark.stop()
  }
}
