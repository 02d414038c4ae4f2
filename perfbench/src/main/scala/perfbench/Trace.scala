package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side records of the traced window. Every map is written by the
  * listener bus thread and read only after the SparkContext has stopped,
  * which drains the bus, so readers see every event. */
object Trace {
  @volatile var on = false

  final class JobRec(val group: String, val start: Long, val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final class StageRec(val group: String) {
    var submit = -1L
    var complete = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteNs = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var peakMem = 0L
  }

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  val qes = new ConcurrentLinkedQueue[QueryExecution]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull

  /** Job, stage and task events of the traced window, keyed by job group. */
  class Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) jobs.put(e.jobId, new JobRec(group(e.properties), e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (on) {
        val s = new StageRec(group(e.properties))
        s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        stages.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), s)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber())))
        .foreach(_.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get((e.stageId, e.stageAttemptId))).foreach { s =>
        s.tasks += 1
        s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submit)
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        }
      }
  }

  def reset(): Unit = { jobs.clear(); stages.clear(); qes.clear() }

  def jobList: Seq[(Int, JobRec)] = jobs.asScala.toSeq.sortBy(_._1)
  def stageList: Seq[((Int, Int), StageRec)] = stages.asScala.toSeq.sortBy(_._1)
  def qeList: Seq[QueryExecution] = qes.asScala.toSeq
}

/** Collects the QueryExecution of every action while tracing is on.
  * Installed through `spark.sql.queryExecutionListeners`, so the isolated
  * sessions the SQL engine creates report too. */
class QeCollector extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.on) Trace.qes.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (Trace.on) Trace.qes.add(qe)
}
