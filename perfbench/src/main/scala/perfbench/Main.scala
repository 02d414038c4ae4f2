package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution

import graft.{GraftSession, SparkEntry, Tables, Verify}

/** The benchmark's JVM side. `run.py` builds it, generates the fixtures and
  * starts it once per run:
  *
  *   workload=<name> seed=<n> seconds=<s> trace=<0|1> setups=<k>
  *   cpus=<n> out=<dir> olap=<dir> small=<dir> ops=<dir>
  *
  * It writes `out/results.jsonl` (one result per workload query, for the
  * oracle check), `out/measure.json` (executions and metrics) and, when
  * traced, `out/spans.jsonl`.
  */
object Main {
  final case class Client(label: String, names: Seq[String], dir: String)

  /** One timed query execution. Nanosecond clocks give the latency; the
    * millisecond wall clocks place it among Spark's own event times. */
  final class Exec(val client: String, val name: String, val id: String) {
    var t0, tBuilt, t1 = 0L
    var ms0, msBuilt, ms1 = 0L
    var err: String = null
    var qe: QueryExecution = null
    // the built DataFrame's planning record as of the end of the build: the
    // write re-enters its analysis phase, which would stretch the span
    var buildPhases = Map.empty[String, QueryPlanningTracker.PhaseSummary]
    var buildRules = Map.empty[String, QueryPlanningTracker.RuleSummary]
    def total: Double = (t1 - t0) / 1e9
    def build: Double = (tBuilt - t0) / 1e9
  }

  def fullEval(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def short(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).linesIterator
      .nextOption().getOrElse("").take(300)

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val setups = o.getOrElse("setups", "3").toInt
    val cpus = o("cpus").toInt
    val out = new File(o("out")); out.mkdirs()
    val clients = Workloads(workload, o)
    val dirs = clients.map(_.dir).distinct
    if (traced)
      System.setProperty("spark.sql.queryExecutionListeners", classOf[QeCollector].getName)
    val loadStart = loadAvg()
    val failures = ArrayBuffer[(String, String)]()

    // --- set-up, repeated: session start, catalog registration and one
    // warm-up pass that fully evaluates every workload query in seeded order
    // and keeps its result for the oracle check (outside every timed window)
    var spark: SparkSession = null
    val results = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()
    val setupS = (0 until setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cpus)
      dirs.foreach(Tables.registerAll(spark, _))
      val s = spark
      parallel(clients) { (c, k) =>
        for (n <- new Random(seed * 7919L + i * 31L + k).shuffle(c.names)) {
          val r = evaluate(s, n, c.dir)
          results.put(n, r)
          // the last pass's errors reach the check through its results
          if (r.contains("error") && i < setups - 1)
            failures.synchronized(failures += (n -> s"warm-up: ${r("error")}"))
        }
      }
      (System.nanoTime() - t0) / 1e9
    }
    val pwr = new PrintWriter(new File(out, "results.jsonl"))
    results.asScala.toSeq.sortBy(_._1).foreach { case (_, r) => pwr.println(Json(r)) }
    pwr.close()

    // --- measured window(s)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val (plain, plainElapsed) =
      window(spark, clients, if (traced) seconds / 2 else seconds, seed, traced = false)
    var tracedExecs = Seq.empty[Exec]
    var jvm = Map.empty[String, Double]
    var countS = Map.empty[String, Double]
    if (traced) {
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ct0 = CodeGenerator.compileTime
      val gc0 = gcMs
      Trace.reset()
      spark.sparkContext.addSparkListener(new Trace.Jobs)
      Trace.on = true
      tracedExecs = window(spark, clients, seconds / 2, seed + 1, traced = true)._1
      Trace.on = false
      jvm = Map(
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0).toDouble,
        "compile_s" -> (CodeGenerator.compileTime - ct0) / 1e9,
        "gc_s" -> (gcMs - gc0) / 1e3)
      // count() against full evaluation, once per distinct query
      countS = clients.flatMap(c => c.names.map(_ -> c.dir)).distinct.flatMap { case (n, d) =>
        try {
          val t0 = System.nanoTime(); SparkEntry.all(n).fn(spark, d).count()
          Some(n -> (System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable => None }
      }.toMap
    }
    writeBox(spark, out, loadStart, seed, workload)
    spark.stop() // drains the listener bus: every traced event is delivered
    val (layers, spans) =
      if (traced) Layers(tracedExecs, cpus, jvm) else (Map.empty[String, Any], Seq.empty[Span])
    val hwm = vmHwmMb()

    val execs = plain ++ tracedExecs
    failures ++= execs.filter(_.err != null).map(e => e.name -> e.err)
    val okPlain = plain.filter(_.err == null)
    val lat = okPlain.map(_.total)
    val shortClient = clients.last.label
    val shortLat = okPlain.filter(_.client == shortClient).map(_.total)
    val perQuery = okPlain.groupBy(_.name).map { case (n, es) => n -> Stats.median(es.map(_.total)) }
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "query_p50_s" -> Stats.pct(lat, 0.5),
      "query_p90_s" -> Stats.pct(lat, 0.9),
      "geomean_query_s" -> Stats.geomean(perQuery.values.toSeq),
      "queries_per_s" -> okPlain.size / plainElapsed,
      "peak_rss_mb" -> hwm,
      "short_query_p50_s" -> Stats.pct(shortLat, 0.5),
      "short_query_p90_s" -> Stats.pct(shortLat, 0.9))
    val samples = Map(
      "setup_s" -> setupS.size, "query_p50_s" -> lat.size, "query_p90_s" -> lat.size,
      "geomean_query_s" -> perQuery.size, "queries_per_s" -> okPlain.size,
      "peak_rss_mb" -> 1, "short_query_p50_s" -> shortLat.size,
      "short_query_p90_s" -> shortLat.size)
    var extra = Map.empty[String, Any]
    if (traced) {
      val tracedLat = tracedExecs.filter(_.err == null).map(_.total)
      val ratios = perQuery.flatMap { case (n, full) => countS.get(n).map(full / _) }
      extra = Map(
        "trace.overhead_s" -> (Stats.pct(tracedLat, 0.5) - Stats.pct(lat, 0.5)),
        "exec.count_full_ratio" -> Stats.geomean(ratios.toSeq))
      val pw = new PrintWriter(new File(out, "spans.jsonl"))
      spans.foreach(s => pw.println(Json(s.toMap)))
      pw.close()
    }
    val measure = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "attempted" -> (execs.size + setups * clients.map(_.names.size).sum),
      "failures" -> failures.map { case (n, m) => Seq(n, m) },
      "end_to_end" -> e2e, "samples" -> samples, "per_layer" -> (layers ++ extra),
      "per_query_s" -> perQuery, "setup_samples_s" -> setupS,
      "traced_execs" -> tracedExecs.size, "load_end" -> loadAvg(),
      "execs" -> execs.map(e => Seq(e.client, e.name, e.total, e.build, e.err)))
    val pw = new PrintWriter(new File(out, "measure.json"))
    pw.println(Json(measure)); pw.close()
  }

  /** Closed-loop clients, one thread each. A client runs whole passes over
    * its queries, each in a fresh seeded order, and stops at the pass
    * boundary nearest the end of the window: every query is sampled equally
    * often, so the latency mix does not depend on where a pass is cut. */
  private def window(spark: SparkSession, clients: Seq[Client], seconds: Double,
                     seed: Long, traced: Boolean): (Seq[Exec], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val results = clients.map(_ => ArrayBuffer[Exec]())
    parallel(clients) { (c, i) =>
      val rng = new Random(seed * 1000003L + i)
      var k = 0
      var lastPass = 0L
      while (k == 0 || System.nanoTime() + lastPass / 2 <= deadline) {
        val p0 = System.nanoTime()
        for (n <- rng.shuffle(c.names)) {
          val e = new Exec(c.label, n, s"${c.label}-${if (traced) "t" else "u"}-$k")
          k += 1
          execute(spark, c, e, traced)
          results(i) += e
        }
        lastPass = System.nanoTime() - p0
      }
    }
    val all = results.flatten.toSeq
    val end = if (all.isEmpty) System.nanoTime() else all.map(_.t1).max
    (all, (end - t0) / 1e9)
  }

  /** Runs `f` for every client at once, one thread each. */
  private def parallel(clients: Seq[Client])(f: (Client, Int) => Unit): Unit = {
    val threads = clients.zipWithIndex.map { case (c, i) =>
      new Thread(() => f(c, i), s"client-${c.label}")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
  }

  private def execute(spark: SparkSession, c: Client, e: Exec, traced: Boolean): Unit = {
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(e.id, e.name, interruptOnCancel = false)
    e.ms0 = System.currentTimeMillis(); e.t0 = System.nanoTime()
    e.tBuilt = e.t0; e.msBuilt = e.ms0
    try {
      val df = SparkEntry.all(e.name).fn(spark, c.dir)
      e.tBuilt = System.nanoTime(); e.msBuilt = System.currentTimeMillis()
      if (traced) {
        e.qe = df.queryExecution
        e.buildPhases = e.qe.tracker.phases
        e.buildRules = e.qe.tracker.rules
      }
      fullEval(df)
    } catch { case t: Throwable => e.err = short(t) }
    e.t1 = System.nanoTime(); e.ms1 = System.currentTimeMillis()
    if (traced) sc.clearJobGroup()
  }

  /** Fully evaluates one query and returns its result rows (decimals as
    * doubles, as graft.Verify does) or its error. */
  private def evaluate(spark: SparkSession, n: String, dir: String): Map[String, Any] =
    try {
      val df = Verify.normalize(SparkEntry.all(n).fn(spark, dir))
      val fields = df.schema.fields
      val rows = df.collect().map(r => fields.indices.map(i => Rows.value(r.get(i))))
      Map("name" -> n, "dir" -> dir, "oracle" -> SparkEntry.oracleSql.get(n),
        "columns" -> fields.map(_.name).toSeq, "rows" -> rows.toSeq)
    } catch {
      case e: Throwable => Map("name" -> n, "dir" -> dir, "error" -> short(e))
    }

  private def writeBox(spark: SparkSession, out: File, loadStart: Double,
                       seed: Long, workload: String): Unit = {
    val volatileKeys = Set("spark.app.id", "spark.app.startTime", "spark.driver.port",
      "spark.driver.host", "spark.executor.id", "spark.app.submitTime",
      "spark.sql.queryExecutionListeners", "spark.app.initial.jar.urls")
    val confs = (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .filter { case (k, _) => k.startsWith("spark.") && !volatileKeys(k) && !k.contains("extraJavaOptions") }
    val box = Map(
      "workload" -> workload, "seed" -> seed,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "confs" -> confs.toSeq.sortBy(_._1).map { case (k, v) => Seq(k, v) })
    val pw = new PrintWriter(new File(out, "box.json")); pw.println(Json(box)); pw.close()
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

/** Converts collected values into JSON-friendly ones; timestamps, dates,
  * decimals and binaries are tagged so the checker can canonicalise them. */
object Rows {
  def value(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp =>
      Map("$ts" -> (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000))
    case i: java.time.Instant => Map("$ts" -> (i.getEpochSecond * 1000000L + i.getNano / 1000))
    case l: java.time.LocalDateTime =>
      val i = l.toInstant(java.time.ZoneOffset.UTC)
      Map("$ts" -> (i.getEpochSecond * 1000000L + i.getNano / 1000))
    case d: java.sql.Date => Map("$d" -> d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Map("$d" -> d.toEpochDay)
    case d: java.math.BigDecimal => Map("$dec" -> d.toPlainString)
    case d: scala.math.BigDecimal => Map("$dec" -> d.bigDecimal.toPlainString)
    case b: Array[Byte] => Map("$bin" -> b.map(x => f"${x & 0xff}%02x").mkString)
    case f: Float => f.toDouble
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq)
        .getOrElse(r.toSeq.indices.map(i => s"f$i"))
      Map("$struct" -> names.zip(r.toSeq.map(value)).map { case (k, x) => Seq(k, x) })
    case m: scala.collection.Map[_, _] =>
      Map("$map" -> m.toSeq.map { case (k, x) => Seq(value(k), value(x)) })
    case xs: scala.collection.Seq[_] => xs.map(value)
    case other => other
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default method). */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
