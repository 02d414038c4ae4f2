package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DecimalType
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The driver hash-compares str(value): it reads our parquet via pandas
    * (DECIMAL → decimal.Decimal, str "97351.00") but fetches the oracle via
    * duckdb fetchdf (DECIMAL → float64, str "97351.0"), so any decimal output
    * column hash-mismatches on representation alone. Decimal stays the
    * internal aggregation type (exact, order-independent); only the dumped
    * column is converted, and decimal→nearest-double is identical in both
    * engines. */
  def normalize(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: DecimalType =>
          acc.withColumn(f.name, acc.col(s"`${f.name}`").cast("double"))
        case _ => acc
      }
    }
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional: names after the first two args restrict the dump (fast
    // local iteration; the driver always runs the full set)
    val only = args.drop(2).toSet
    // the benchmarked posture (GraftSession.local): the gate checks the
    // plans graft.Bench times, including the q64_dynfilter_* entries'
    // dynamic-filter tiers (they lower the scale-sized fact floor on an
    // isolated child session)
    val spark = GraftSession.local(GraftSession.boxCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try normalize(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
