package graft.tools
import graft._
import scala.util.control.NonFatal
import org.apache.spark.sql.Row
import scala.io.Source

/** Corpus pair triage: each input line is `actual<TAB>expected`; both run
  * through the RefCorpus engine and compare as unordered canonical
  * multisets (the RefCorpusSpec rule). Prints PASS / DIFF / ERR per line. */
object RefPairs {
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN => "NaN"
    case d: Double if d.isInfinite => if (d > 0) "Infinity" else "-Infinity"
    case f: Float => canon(java.lang.Float.toString(f).toDouble) // float repr, not widened bits
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Double) =>
      new java.math.BigDecimal(n.toString).stripTrailingZeros.toPlainString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case s: String => "'" + s + "'"
    case b: Boolean => b.toString
    case r: Row => r.toSeq.map(canon).mkString("row(", ", ", ")")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => canon(k) + ": " + canon(v) }.toSeq.sorted
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(canon).mkString("[", ", ", "]")
    case a: Array[_] => a.map(canon).mkString("[", ", ", "]")
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val e = graft.queries.RefCorpus.engine(spark, dir)
    def rows(sql: String): Seq[String] =
      e.sql(sql).collect().toSeq.map(r => r.toSeq.map(canon).mkString("(", ", ", ")"))
    Source.fromFile(args(0), "UTF-8").getLines().zipWithIndex.foreach { case (line, i) =>
      val Array(a, b) = line.split("\t", 2)
      val v = try {
        val (ga, gb) = (rows(a).sorted, rows(b).sorted)
        if (ga == gb) s"PASS\t${ga.length}"
        else s"DIFF\tactual=${ga.take(2).mkString(";").take(120)} expected=${gb.take(2).mkString(";").take(120)}"
      } catch { case NonFatal(t) =>
        "ERR\t" + t.getClass.getSimpleName + " " +
          String.valueOf(t.getMessage).replace('\n', ' ').replace('\t', ' ').take(140) }
      println(s"$i\t$v")
    }
  }
}
