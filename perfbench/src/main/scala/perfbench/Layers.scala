package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.metric.SQLMetric

/** One traced interval. Spans of a query share its `id`; `parent` names the
  * enclosing span's `span` number (-1 for the query span). Times are epoch
  * milliseconds, the clock Spark stamps its own events with. */
final case class Span(id: String, span: Int, parent: Int, name: String, start: Long, end: Long) {
  def toMap: Map[String, Any] =
    Map("id" -> id, "span" -> span, "parent" -> parent, "name" -> name,
      "start_ms" -> start, "end_ms" -> end)
}

/** Per-layer metrics and the span tree of a traced window. Every metric is a
  * mean per query execution unless its name says otherwise. */
object Layers {
  val layers: Seq[String] =
    Seq("query", "build", "parsing", "analysis", "optimization", "planning", "execute", "job", "stage")

  def apply(execs: Seq[Main.Exec], cpus: Int, jvm: Map[String, Double])
      : (Map[String, Any], Seq[Span]) = {
    val ok = execs.filter(_.err == null)
    val n = math.max(1, ok.size).toDouble
    val commandQes = Trace.qeList
    val jobsByGroup = Trace.jobList.groupBy(_._2.group)
    val stagesByGroup = Trace.stageList.groupBy(_._2.group)
    val spans = mutable.ArrayBuffer[Span]()
    val acc = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    var peakMem = 0L

    for (e <- ok) {
      val cmd = commandFor(e, commandQes)
      // -- engine: DataFrame construction (dialect rewrite, Engine.sql retries,
      // analysis, eager jobs the query's DataFrame function launches)
      add("engine.build_s", e.build)
      // -- analysis / optimizer / planning from both trackers: the built
      // DataFrame's (analysis during construction) and the noop write's
      val phases = Seq(e.buildPhases) ++ cmd.map(_.tracker.phases)
      def phase(p: String) = phases.flatMap(_.get(p)).map(_.durationMs / 1e3).sum
      add("analysis.time_s", phase(QueryPlanningTracker.ANALYSIS) + phase(QueryPlanningTracker.PARSING))
      add("optimizer.time_s", phase(QueryPlanningTracker.OPTIMIZATION))
      add("planning.time_s", phase(QueryPlanningTracker.PLANNING))
      val graftRules = (Seq(e.buildRules) ++ cmd.map(_.tracker.rules))
        .flatMap(_.filter(_._1.startsWith("graft.")).values)
      add("optimizer.graft_rules_s", graftRules.map(_.totalTimeNs).sum / 1e9)
      add("optimizer.graft_rules_invocations", graftRules.map(_.numInvocations).sum.toDouble)
      add("optimizer.graft_rules_effective", graftRules.map(_.numEffectiveInvocations).sum.toDouble)
      // -- operators and expressions of the post-AQE executed plan
      cmd.foreach { q =>
        val nodes = planNodes(q.executedPlan)
        add("aqe.query_stages", nodes.count(_.isInstanceOf[QueryStageExec]).toDouble)
        val metrics = nodes.flatMap(p => p.metrics.toSeq.map { case (k, m) => (p, k, m) })
          .groupBy(_._3.id).values.map(_.head).toSeq
        def sumOf(pred: (SparkPlan, String) => Boolean): Double =
          metrics.filter { case (p, k, _) => pred(p, k) }.map { case (_, _, m) => seconds(m) }.sum
        def isScan(p: SparkPlan) = p.nodeName.contains("Scan")
        add("scan.rows_read", metrics.filter { case (p, k, _) => isScan(p) && k == "numOutputRows" }
          .map(_._3.value.toDouble).sum)
        add("scan.bytes_read_mb", metrics.filter { case (p, k, _) => isScan(p) && k == "filesSize" }
          .map(_._3.value / 1048576.0).sum)
        add("op.scan_time_s", sumOf((p, k) => isScan(p) && k == "scanTime"))
        add("op.join_build_s", sumOf((_, k) => k == "buildTime"))
        add("op.agg_time_s", sumOf((_, k) => k == "aggTime"))
        add("op.sort_time_s", sumOf((_, k) => k == "sortTime"))
        add("op.shuffle_write_time_s", sumOf((_, k) => k == "shuffleWriteTime"))
        add("expr.codegen_fallback", nodes.map(_.expressions.map(_.collect {
          case f: CodegenFallback => f }.size).sum).sum.toDouble)
        add("expr.non_wscg_ops", nonCodegenOps(q.executedPlan).toDouble)
      }
      // -- execution, from the listener, by this execution's job group
      val jobs = jobsByGroup.getOrElse(e.id, Nil)
      val stages = stagesByGroup.getOrElse(e.id, Nil)
      val wall = (e.t1 - e.tBuilt) / 1e9
      add("exec.wall_s", wall)
      add("exec.jobs", jobs.size.toDouble)
      add("exec.stages", stages.size.toDouble)
      stages.foreach { case (_, s) =>
        add("exec.tasks", s.tasks.toDouble)
        add("exec.task_run_s", s.runMs / 1e3)
        add("exec.task_cpu_s", s.cpuNs / 1e9)
        add("exec.task_wait_s", s.waitMs / 1e3)
        add("exec.gc_s", s.gcMs / 1e3)
        add("exec.shuffle_write_mb", s.shuffleWriteBytes / 1048576.0)
        add("exec.shuffle_read_mb", s.shuffleReadBytes / 1048576.0)
        add("exec.spill_mb", s.spillBytes / 1048576.0)
        peakMem = math.max(peakMem, s.peakMem)
      }
      add("total_s", e.total)
      spans ++= spanTree(e, cmd, jobs, stages)
    }

    val out = mutable.LinkedHashMap[String, Any]()
    for ((k, v) <- acc if k != "total_s") out(k) = v / n
    out("engine.build_share") = acc("engine.build_s") / math.max(acc("total_s"), 1e-9)
    out("optimizer.graft_rules_effective_ratio") =
      acc("optimizer.graft_rules_effective") / math.max(acc("optimizer.graft_rules_invocations"), 1.0)
    out("exec.core_util") = acc("exec.task_run_s") / math.max(acc("exec.wall_s") * cpus, 1e-9)
    out("exec.peak_task_mem_mb") = peakMem / 1048576.0
    out("codegen.compiles") = jvm("compiles") / n
    out("codegen.compile_s") = jvm("compile_s") / n
    out("jvm.driver_gc_s") = jvm("gc_s") / n
    val self = selfTimes(spans.toSeq)
    for (l <- layers) out(s"self.${l}_s") = self.getOrElse(l, 0.0) / n
    out("trace.matched_plans") = ok.count(e => commandFor(e, commandQes).isDefined).toDouble / n
    val ids = execs.map(_.id).toSet
    out("trace.unattributed_jobs") = Trace.jobList.count(j => !ids(j._2.group)).toDouble
    (out.toMap, spans.toSeq)
  }

  /** The noop write's QueryExecution: the one that wraps the built
    * DataFrame's analyzed plan by reference, else the one planned inside
    * the execution's write window. */
  private def commandFor(e: Main.Exec, qes: Seq[QueryExecution]): Option[QueryExecution] =
    Option(e.qe).flatMap { built =>
      val target = built.analyzed
      qes.find(q => (q.logical ne target) && q.logical.find(_ eq target).isDefined)
    }.orElse(qes.find(_.tracker.phases.get(QueryPlanningTracker.PLANNING)
      .exists(p => p.startTimeMs >= e.msBuilt && p.endTimeMs <= e.ms1)))

  private def seconds(m: SQLMetric): Double = m.metricType match {
    case "nsTiming" => m.value / 1e9
    case "timing" => m.value / 1e3
    case _ => m.value.toDouble
  }

  /** Every physical node of the final (post-AQE) plan, each once. */
  def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ => (p.children ++ p.subqueries).foreach(walk)
      }
    }
    walk(root)
    out.toSeq
  }

  /** Physical operators that run outside whole-stage code generation. */
  private def nonCodegenOps(root: SparkPlan): Int = {
    def walk(p: SparkPlan, inWscg: Boolean): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inWscg = false)
      case s: QueryStageExec => walk(s.plan, inWscg = false)
      case w: WholeStageCodegenExec => walk(w.child, inWscg = true)
      case i: InputAdapter => walk(i.child, inWscg = false)
      case _: ReusedExchangeExec => 0
      case x: Exchange => x.children.map(walk(_, inWscg = false)).sum
      case _ =>
        val here = if (inWscg || p.children.isEmpty && p.nodeName.startsWith("Local")) 0 else 1
        here + (p.children ++ p.subqueries).map(walk(_, inWscg)).sum
    }
    // the write node itself is the sink, not a query operator
    root.children.map(walk(_, inWscg = false)).sum
  }

  /** query > build | analysis | optimization | planning | execute;
    * jobs sit under build (eager jobs while constructing) or execute,
    * stages under the first job that lists them. */
  private def spanTree(e: Main.Exec, cmd: Option[QueryExecution],
                       jobs: Seq[(Int, Trace.JobRec)],
                       stages: Seq[((Int, Int), Trace.StageRec)]): Seq[Span] = {
    var next = 0
    val out = mutable.ArrayBuffer[Span]()
    def span(parent: Int, name: String, s: Long, t: Long): Int = {
      val k = next; next += 1
      out += Span(e.id, k, parent, name, s, t); k
    }
    val q = span(-1, "query", e.ms0, e.ms1)
    val b = span(q, "build", e.ms0, e.msBuilt)
    e.buildPhases.toSeq.sortBy(_._2.startTimeMs).foreach {
      case (p, ph) => span(b, p, ph.startTimeMs, ph.endTimeMs)
    }
    var execStart = e.msBuilt
    cmd.toSeq.flatMap(_.tracker.phases.toSeq).sortBy(_._2.startTimeMs).foreach {
      case (p, ph) =>
        span(q, p, ph.startTimeMs, ph.endTimeMs)
        execStart = math.max(execStart, ph.endTimeMs)
    }
    val x = span(q, "execute", execStart, e.ms1)
    val stageOwner = mutable.Map[Int, Int]()
    for ((id, j) <- jobs) {
      val parent = if (j.start < execStart) b else x
      val js = span(parent, "job", j.start, j.end)
      j.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = js)
    }
    for (((sid, _), s) <- stages if s.submit >= 0)
      span(stageOwner.getOrElse(sid, x), "stage", s.submit, s.complete)
    out.toSeq
  }

  /** Self time per layer name, in seconds: each span's duration minus the
    * union of its children's intervals. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(s => (s.id, s.parent))
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cs = kids.getOrElse((s.id, s.span), Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, z) => z > a }.sortBy(_._1)
        var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        for ((a, z) <- cs) {
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = z }
          else curE = math.max(curE, z)
        }
        if (curE > curS) covered += curE - curS
        (s.end - s.start - covered) / 1e3
      }.sum
    }
  }
}
