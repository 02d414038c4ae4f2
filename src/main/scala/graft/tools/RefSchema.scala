package graft.tools
import graft._
import scala.util.control.NonFatal
import scala.io.Source
/** Corpus triage with schema: run each statement (one per line) through the
  * RefCorpus engine and print TAB-separated status / row count / column
  * type list — used to auto-group statements by output shape. */
object RefSchema {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val e = graft.queries.RefCorpus.engine(spark, dir)
    Source.fromFile(args(0), "UTF-8").getLines().zipWithIndex.foreach { case (sql, i) =>
      val v = try {
        val df = e.sql(sql)
        val n = df.count()
        val types = df.schema.fields
          .map(f => f.dataType.simpleString).mkString(",")
        s"OK\t$n\t$types"
      } catch { case NonFatal(t) =>
        "ERR\t" + t.getClass.getSimpleName + " " +
          String.valueOf(t.getMessage).replace('\n', ' ').replace('\t', ' ').take(160) }
      println(s"$i\t$v")
    }
  }
}
