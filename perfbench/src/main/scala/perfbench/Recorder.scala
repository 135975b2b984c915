package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Spark, Catalyst and block-manager events of the traced pass, each with
  * a wall-clock time. Counts are attributed to a statement by time window
  * (see [[Recorder.window]]), never by job group: jobs that the program
  * submits from pooled threads may carry a stale group.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobs = ArrayBuffer.empty[JobEv]
  private val tasks = ArrayBuffer.empty[TaskEv]
  private val stages = ArrayBuffer.empty[Long]
  private val blocks = ArrayBuffer.empty[(Long, Long)]
  private val qes = ArrayBuffer.empty[QeEv]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs += JobEv(e.time, e.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description"))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val duration = i.finishTime - i.launchTime
      val fetch = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val sched = math.max(0L, duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch)
      val ev = TaskEv(i.finishTime, m.executorRunTime, m.executorCpuTime,
        sched, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
      synchronized { tasks += ev }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      synchronized { blocks += System.currentTimeMillis -> (b.memSize + b.diskSize) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val plan = qe.optimizedPlan
    val noop = plan.collectFirst {
      case w: V2WriteCommand if w.table.toString.toLowerCase.contains("noop") =>
        w.query
    }
    val ev = QeEv(System.currentTimeMillis, ms("analysis"), ms("optimization"),
      ms("planning"), plan.collect { case n => n }.size, noop)
    synchronized { qes += ev }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Everything recorded in `[from, until)` (epoch milliseconds). Read it
    * only after draining the listener bus.
    */
  def window(from: Long, until: Long): Window = synchronized {
    def in(t: Long) = t >= from && t < until
    Window(jobs.filter(j => in(j.time)).toSeq, tasks.filter(t => in(t.time)).toSeq,
      stages.count(in), blocks.filter(b => in(b._1)).map(_._2).toSeq,
      qes.filter(q => in(q.time)).toSeq)
  }

  def jobsInGroup(group: String): Seq[JobEv] = synchronized {
    jobs.filter(_.group == group).toSeq
  }
}

object Recorder {
  final case class JobEv(time: Long, id: Int, group: String, desc: String)
  final case class TaskEv(time: Long, runMs: Long, cpuNs: Long, schedMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long)
  final case class QeEv(time: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, nodes: Int, noopQuery: Option[LogicalPlan])
  final case class Window(jobs: Seq[JobEv], tasks: Seq[TaskEv], stages: Int,
      blockBytes: Seq[Long], qes: Seq[QeEv])
}
