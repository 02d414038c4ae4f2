package graft.tools
import graft._
import org.apache.spark.sql.functions._
/** Scratch: time the stages of the d04 pipeline at a given sf. */
object TimeProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.boxCpus)
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val docs = Tables.t(spark, dir, "documents")
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"$label: ${(System.nanoTime()-t0)/1e9}%.3f s")
    }
    // warm the file index
    docs.count()
    for (i <- 1 to 3)
    time("tokenize+shingle+distinct+checkpoint") {
      docs.select(col("doc_id"), operators.Dedup.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), array_distinct(operators.Dedup.shinglesOf(col("t"), 3)).as("sh"))
        .localCheckpoint(true).count()
    }
    for (i <- 1 to 3)
    time("full d04") {
      SparkEntry.all("d04_minhash_lsh_pairs").fn(spark, dir).collect()
    }
    spark.stop()
  }
}
