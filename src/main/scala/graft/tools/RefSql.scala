package graft.tools
import graft._
import scala.util.control.NonFatal
import scala.io.Source
/** Corpus triage: run each full SQL statement (one per line) through the
  * RefCorpus engine (Presto-named tpch views) and print row counts or the
  * error head. */
object RefSql {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val e = graft.queries.RefCorpus.engine(spark, dir)
    Source.fromFile(args(0), "UTF-8").getLines().zipWithIndex.foreach { case (sql, i) =>
      val v = try {
        val rows = e.sql(sql).collect()
        s"OK rows=${rows.length} head=${rows.headOption.getOrElse("")}"
      } catch { case NonFatal(t) =>
        "ERROR:" + t.getClass.getSimpleName + " " +
          String.valueOf(t.getMessage).replace('\n', ' ').take(200) }
      println(s"$i\t$v")
    }
  }
}
