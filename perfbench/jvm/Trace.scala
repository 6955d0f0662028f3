package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan,
  SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the engine did during one traced operation. */
final class OpCounters {
  var jobs = 0L
  /** broadcast exchanges in the plans the operation executed */
  var broadcasts = 0L
  var tasks = 0L
  var taskBusyNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** stages whose RDD lineage scans the raw table */
  var rawScanStages = 0L
  var planNs = 0L
  /** job count and task time by the call-site source file of the job */
  val jobsByFile = mutable.TreeMap.empty[String, Long]
  val taskNsByFile = mutable.TreeMap.empty[String, Long]
  /** top-level SQL executions: (kind, start ms, end ms); kind is write
    * (a command that writes data), query (ran a job, e.g. `count`) or
    * catalog (ran no job, e.g. `CREATE DATABASE`)
    */
  val executions = mutable.ArrayBuffer.empty[(String, Long, Long)]
}

/** Listens from outside the program: a `SparkListener` for SQL
  * executions, jobs, stages and tasks, and a `QueryExecutionListener` for
  * planning time and the plan of each `noop` write. A job is attributed to
  * the source file of its SQL execution's call site, e.g. `count at
  * SwellPipeline.scala:95` → `SwellPipeline.scala`.
  */
final class Tracer(rawTable: String) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  @volatile private var cur = new OpCounters
  private val stageFile = mutable.HashMap.empty[Int, String]
  private val execFile = mutable.HashMap.empty[Long, String]
  private val rootOf = mutable.HashMap.empty[Long, Long]
  /** open top-level executions: id → (writes data, start ms, ran a job) */
  private val sqlStarts = mutable.HashMap.empty[Long, (Boolean, Long, Boolean)]
  /** shuffle exchanges in the last successful `noop` write */
  @volatile var lastNoopExchanges = 0

  def begin(): OpCounters = synchronized { cur = new OpCounters; cur }

  private def fileOf(callSite: String): String =
    callSite.split(" at ").lastOption.map(_.takeWhile(_ != ':'))
      .getOrElse("?")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val file = exec.flatMap(execFile.get).getOrElse("?")
    exec.flatMap(rootOf.get).foreach { root =>
      sqlStarts.get(root).foreach(s => sqlStarts(root) = s.copy(_3 = true))
    }
    cur.jobsByFile(file) = cur.jobsByFile.getOrElse(file, 0L) + 1
    e.stageInfos.foreach(s => stageFile(s.stageId) = file)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = e.stageInfo
      val scansRaw = s.rddInfos.exists(r =>
        r.scope.exists(sc => sc.name.startsWith("Scan") &&
          sc.name.contains(rawTable)))
      if (scansRaw && s.attemptNumber() == 0) cur.rawScanStages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskBusyNs += m.executorRunTime * 1000000L
      cur.gcMs += m.jvmGCTime
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val f = stageFile.getOrElse(e.stageId, "?")
      cur.taskNsByFile(f) = cur.taskNsByFile.getOrElse(f, 0L) +
        m.executorRunTime * 1000000L
    }
  }

  private def writes(plan: SparkPlanInfo): Boolean =
    Seq("Insert", "AsSelect", "SaveAs", "SaveInto")
      .exists(plan.nodeName.contains) || plan.children.exists(writes)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      cur.broadcasts += count(s.sparkPlanInfo, "BroadcastExchange")
      val root = s.rootExecutionId.getOrElse(s.executionId)
      rootOf(s.executionId) = root
      if (root == s.executionId) {
        execFile(s.executionId) = fileOf(s.description)
        sqlStarts(s.executionId) =
          (writes(s.sparkPlanInfo), s.time, false)
      } else execFile(s.executionId) = execFile.getOrElse(root, "?")
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      sqlStarts.remove(end.executionId).foreach { case (w, t0, ranJob) =>
        val kind = if (w) "write" else if (ranJob) "query" else "catalog"
        cur.executions += ((kind, t0, end.time))
      }
    }
    case _ =>
  }

  private def count(plan: SparkPlanInfo, node: String): Int =
    (if (plan.nodeName == node) 1 else 0) +
      plan.children.map(count(_, node)).sum

  private def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val planNs = qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
    cur.planNs += planNs
    if (qe.logical.nodeName.contains("AppendData") ||
      qe.logical.nodeName.contains("Overwrite"))
      lastNoopExchanges = exchanges(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}


