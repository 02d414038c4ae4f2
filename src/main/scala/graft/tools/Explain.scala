package graft.tools

import org.apache.spark.sql.functions._

/** Diagnostics: `Explain <queryName> [sfDir]` prints the formatted physical
  * plan and wall time of one SparkEntry query — the feedback loop for plan
  * tuning (pushdown, broadcast, codegen spans, shuffle count).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local(graft.GraftSession.boxCpus)
    val df = graft.SparkEntry.all(name).fn(spark, sfDir)
    df.explain("formatted")
    val t0 = System.nanoTime()
    val n = df.count()
    println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}

/** Stagewise timing probe for the MinHash-LSH pipeline. */
object ProbeLsh {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(graft.GraftSession.boxCpus)
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    def time[T](tag: String)(f: => T): Unit = {
      val t0 = System.nanoTime(); f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val docs = graft.Tables.t(spark, d, "documents")
    val sh = docs
      .select(col("doc_id"), graft.operators.Dedup.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        explode(graft.operators.Dedup.shinglesOf(col("t"), 3)).as("sh"))
    time("explode")(sh.count())
    val hashed = sh.select(col("doc_id") +:
      (0 until 8).map(i => xxhash64(lit(i), col("sh")).as(s"h$i")): _*)
    time("hash")(hashed.count())
    val sig = hashed.groupBy("doc_id")
      .agg(min(col("h0")).as("h0"), (1 until 8).map(i => min(col(s"h$i")).as(s"h$i")): _*)
    time("sig")(sig.count())
    val banded = sig.select(col("doc_id"), posexplode(array((0 until 4).map(b =>
      concat_ws(",", (0 until 2).map(j => col(s"h${b * 2 + j}")): _*)): _*))
      .as(Seq("band", "bh")))
    time("banded")(banded.count())
    val l = banded.select(col("band"), col("bh"), col("doc_id").as("id_a"))
    val r = banded.select(col("band").as("band_r"), col("bh").as("bh_r"),
      col("doc_id").as("id_b"))
    val pairs = l.join(r, col("band") === col("band_r") &&
        col("bh") === col("bh_r") && col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    time("pairs")(pairs.count())
    spark.stop()
  }
}
