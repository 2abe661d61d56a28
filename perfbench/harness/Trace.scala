package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-phase Spark counters for one traced pass.
  *
  * Jobs are attributed by the job group the harness sets around each
  * call (`<query>#<seq>|<phase>`); stages and tasks follow their job.
  * Work outside any harness call lands in group "other". Exchanges
  * come from the executed plan of every successful Dataset action,
  * attributed to the group of the last job started before it ended:
  * listener events arrive in posting order and the harness runs one
  * call at a time. Each group also keeps the submit time of its last
  * job, where a parquet write's sink span starts. */
final class Trace(sfDir: String) extends SparkListener with QueryExecutionListener {

  final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0
    var lastJobStartMs = 0L
    var taskMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var input = 0L; var peakMem = 0L; var exchanges = 0
  }

  private val groups = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var lastGroup = "other"
  private val skews = mutable.ArrayBuffer.empty[Double]
  private val scanned = mutable.LinkedHashSet.empty[String]

  private def acc(g: String): Acc = groups.getOrElseUpdate(g, new Acc)

  /** Snapshot (group -> counters), stage skews, and the tables the
    * traced plans scanned; call after draining the listener bus. */
  def snapshot(): (Map[String, Acc], Seq[Double], Seq[String]) = synchronized {
    (groups.toMap, skews.toSeq, scanned.toSeq)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("other")
    lastGroup = g
    e.stageIds.foreach(stageGroup(_) = g)
    acc(g).jobs += 1
    acc(g).lastJobStartMs = math.max(acc(g).lastJobStartMs, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    acc(stageGroup.getOrElse(id, "other")).stages += 1
    stageTaskMs.remove(id).filter(_.size >= 2).foreach { ts =>
      val s = ts.sorted
      skews += s.last.toDouble / math.max(1L, s(s.size / 2))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, "other"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  private val tableFile = """([A-Za-z_]+)\.parquet""".r

  private def collectScans(p: SparkPlanInfo): Unit = {
    p.metadata.get("Location").foreach { loc =>
      if (loc.contains(sfDir))
        tableFile.findAllMatchIn(loc).foreach(m => scanned += m.group(1))
    }
    p.children.foreach(collectScans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(collectScans(s.sparkPlanInfo))
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized(collectScans(u.sparkPlanInfo))
    case _ =>
  }

  /** Exchanges that ran in this action (through AQE query stages). */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case other =>
      val own = other match { case _: Exchange => 1; case _ => 0 }
      own + (other.children ++ other.subqueries).map(exchanges).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { acc(lastGroup).exchanges += exchanges(qe.executedPlan) }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
