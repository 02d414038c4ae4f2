package graft.tools

import graft._
import scala.util.control.NonFatal
import scala.io.Source

/** Corpus triage companion to RefSql: for each input line (one SQL
  * statement), prints `<i> TAB OK TAB <dtypes csv> TAB <sorted canonical
  * rows>` (RefPairs.canon form, rows ';'-joined) or `<i> TAB ERR TAB
  * <message>`. The Python side of the harvest pipeline compares the
  * canonical rows against a DuckDB run of the oracleized statement. */
object RefSqlDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val e = if (args.contains("raw")) graft.queries.RefCorpus.rawEngine(spark, dir)
            else graft.queries.RefCorpus.engine(spark, dir)
    Source.fromFile(args(0), "UTF-8").getLines().zipWithIndex.foreach {
      case (sql, i) =>
        val v =
          try {
            val df = e.sql(sql)
            val types = df.schema.fields.map(_.dataType.sql).mkString(",")
            val rows = df.collect().toSeq
              .map(r => r.toSeq.map(RefPairs.canon).mkString("(", ", ", ")"))
              .sorted.mkString(";")
            s"OK\t$types\t$rows"
          } catch {
            case NonFatal(t) =>
              "ERR\t" + t.getClass.getSimpleName + " " +
                String.valueOf(t.getMessage).replace('\n', ' ').take(160)
          }
        println(s"$i\t$v")
    }
  }
}
