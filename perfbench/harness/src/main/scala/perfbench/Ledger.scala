package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** The traced run's recorder, built only from Spark's public listener APIs.
  *
  * Jobs are attributed to the phase whose job group the harness set around
  * it (`Main` sets `<group prefix>/<pass>/<call>/<build|materialise>`); job
  * groups are local properties, so they survive AQE's asynchronous stage
  * submission where call sites do not. Stages and tasks hang off their
  * job, SQL executions off the job group they started under. Catalyst
  * phase times, `CodegenFallback` counts and written-file counts come from
  * a `QueryExecutionListener`, and cached-block sizes from block updates;
  * neither carries a job group, so both are placed by wall-clock time
  * against the phase spans `Main` records.
  *
  * Everything stays in memory until the run ends; stopping the session
  * drains the listener bus, so the ledger is complete once `stop` returns.
  * Listener callbacks run on the listener-bus thread, hence the
  * synchronization.
  */
final class Ledger(val groupPrefix: String) extends SparkListener with QueryExecutionListener {
  import Ledger._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val taskSums = mutable.HashMap.empty[(Int, Int), TaskSums]
  val executions = mutable.LinkedHashMap.empty[Long, Execution]
  val planned = mutable.ArrayBuffer.empty[Planned]
  /** (arrival ms, cached bytes of all RDD blocks after the update, rdd id) */
  val cacheSamples = mutable.ArrayBuffer.empty[(Long, Long, Int)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val blockBytes = mutable.HashMap.empty[RDDBlockId, Long]
  private var cachedBytes = 0L

  private def ours(group: String): Boolean = group != null && group.startsWith(groupPrefix)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (ours(group)) {
      jobs(e.jobId) = Job(e.jobId, group, e.time)
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (job <- stageJob.get(i.stageId); start <- i.submissionTime; end <- i.completionTime)
      stages += Stage(i.stageId, i.attemptNumber(), job, start, end, i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      val s = taskSums.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskSums)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.durationMs += e.taskInfo.duration
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.outputMetrics.bytesWritten > 0) {
        s.written += m.outputMetrics.bytesWritten
        s.writeRunMs += m.executorRunTime
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
        cachedBytes += size - blockBytes.getOrElse(b, 0L)
        if (size == 0) blockBytes.remove(b) else blockBytes(b) = size
        cacheSamples += ((System.currentTimeMillis(), cachedBytes, b.rddId))
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blockBytes.keys.filter(_.rddId == e.rddId).toSeq
    gone.foreach(b => cachedBytes -= blockBytes.remove(b).getOrElse(0L))
    if (gone.nonEmpty) cacheSamples += ((System.currentTimeMillis(), cachedBytes, e.rddId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.filter(ours).foreach(g => executions(s.executionId) = Execution(g))
      case s: SparkListenerSQLExecutionEnd =>
        executions.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    val nodes = Ledger.nodes(qe.executedPlan)
    val fallbacks = nodes.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum
    // scans carry a numFiles metric too; only writes count
    val files = nodes.collect { case w: DataWritingCommandExec => w.metrics.get("numFiles") }
      .flatten.map(_.value).sum
    // placed at its last planning phase, which runs inside the action
    val at = phases.map(_._3).maxOption.getOrElse(System.currentTimeMillis())
    synchronized { planned += Planned(phases, at, fallbacks, files) }
  }
}

object Ledger {
  final case class Job(id: Int, group: String, start: Long, var end: Long = -1)
  final case class Stage(id: Int, attempt: Int, job: Int, start: Long, end: Long, tasks: Int)
  /** Task metrics summed per stage (times in ms unless named otherwise). */
  final class TaskSums {
    var tasks, runMs, gcMs, durationMs, fetchWaitMs = 0L
    var cpuNs, shuffleWrite, shuffleRead, spill, written, writeRunMs = 0L
  }
  final case class Execution(group: String, var end: Long = -1)
  /** One finished query execution: catalyst phases as (name, start, end). */
  final case class Planned(phases: Seq[(String, Long, Long)], at: Long,
                           fallbacks: Int, files: Long)

  /** Every physical node of an executed plan, through AQE wrappers,
    * query stages, command wrappers and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other =>
      val inner = other.innerChildren.collect { case c: SparkPlan => c }
      other +: (other.children ++ inner ++ other.subqueries).flatMap(nodes)
  }
}
