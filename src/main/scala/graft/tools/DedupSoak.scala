package graft.tools

import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.operators.Dedup

/** Adversarial dedup soak (round 13): measures the two round-12 operators
  * in their WORST regimes at soak scale —
  *  - d16 SemDeDup with a deliberately mis-chosen k (4 centroids over the
  *    full embeddings table) so every cluster is a mega-cluster and the
  *    `maxClusterSize` cap is the only thing standing between the job and
  *    an ~n²/k cosine pass;
  *  - d17 cross-corpus dedup under a 100×-duplicated incoming wave (the
  *    d11 lesson's cross-corpus form): naive ingestion floods the band
  *    buckets; the production order exact-dedups the wave first.
  * Usage: DedupSoak <sfDir> [cap] [waveDocs] [waveCopies]
  */
object DedupSoak {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cap = if (args.length > 1) args(1).toInt else 500
    val waveDocs = if (args.length > 2) args(2).toInt else 2000
    val copies = if (args.length > 3) args(3).toInt else 100
    val spark = GraftSession.local(GraftSession.boxCpus)
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    // ---- d16: mega-cluster regime ----
    val emb = Tables.t(spark, dir, "embeddings")
    val n = emb.count()
    val init = emb.orderBy("vec_id").limit(4)
      .select((row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("vec_id")) - 1).as("centroid_id"),
        col("embedding").as("centroid"))
    val keeps = time(s"semDedup n=$n k=4(mis-chosen) cap=$cap") {
      Dedup.semDedup(emb, "vec_id", "embedding", init,
        iters = 1, tau = 0.97, maxClusterSize = cap)
        .filter(col("keep")).count()
    }
    println(s"semDedup keeps=$keeps of $n")

    // ---- d17: duplicated-wave regime ----
    val docs = Tables.t(spark, dir, "documents")
    val wave0 = docs.orderBy("doc_id").limit(waveDocs)
      .select(col("doc_id"), col("text"))
    val wave = wave0.crossJoin(
        spark.range(copies).select(col("id").as("copy")))
      .select((col("doc_id") * copies + col("copy") + 100000000L).as("doc_id"),
        col("text"))
      .localCheckpoint(true)
    println(s"wave rows=${wave.count()} (=$waveDocs docs x$copies)")

    val naive = time("d17 naive: lshDedupAgainst(ref=docs, wave)") {
      Dedup.lshDedupAgainst(docs, wave, "doc_id", "text").count()
    }
    println(s"naive matches=$naive (hot-bucket cap may starve recall)")

    val pipelined = time("d17 production order: exactDedup(wave) first") {
      val survivors = wave.join(
        Dedup.exactDedup(wave, "doc_id", "text"), "doc_id")
      Dedup.lshDedupAgainst(docs, survivors, "doc_id", "text").count()
    }
    println(s"pipelined survivor-matches=$pipelined")
  }
}
