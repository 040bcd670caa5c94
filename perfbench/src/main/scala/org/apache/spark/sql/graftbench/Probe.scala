package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** What one executed plan scanned, broadcast and joined, read from its
  * `SQLMetrics` after it ran. `scans` holds (root path, files, bytes, rows)
  * per file scan; `joinRows` sums the joins' output rows.
  */
final case class PlanStats(
    scans: Seq[(String, Long, Long, Long)],
    broadcastBytes: Long,
    broadcastBuildMs: Long,
    joinRows: Long)

/** Per-span totals of the Spark tasks that ran under the span's job group. */
final class TaskTotals {
  var jobCount = 0L
  var tasks = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var taskMs = 0L
  var outputBytes = 0L
  /** (submit, end) epoch ms of each job */
  val jobs = mutable.ArrayBuffer[(Long, Long)]()
  /** stage id -> (stage wall ms, task run times ms) */
  val stages = mutable.Map[Int, (Long, mutable.ArrayBuffer[Long])]()
}

/** Spark-side collector for the traced run. Jobs are attributed to a span
  * through the job group `span-<id>` that the benchmark sets around each
  * traced call, or else to the operation in progress; SQL executions are attributed through the job group of
  * their jobs, and their executed plans are summarized on completion.
  */
final class Probe(currentOp: () => Long) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  val totals = new ConcurrentHashMap[Long, TaskTotals]()
  val plans = new ConcurrentHashMap[Long, java.util.List[PlanStats]]()

  /** The job's span: its `span-<id>` job group, else the operation running
    * when it started (jobs of streaming queries carry no group).
    */
  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toLong)
      .orElse(Some(currentOp()).filter(_ != 0L))

  private def tot(span: Long): TaskTotals = totals.computeIfAbsent(span, _ => new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
    val t = tot(s)
    t.synchronized { t.jobCount += 1 }
    e.stageIds.foreach(id => stageSpan.put(id, s))
    jobStart.put(e.jobId, (s, e.time))
    Option(e.properties.getProperty("spark.sql.execution.id"))
      .foreach(x => execSpan.putIfAbsent(x.toLong, s))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStart.remove(e.jobId)).foreach {
    case (s, t0) => val t = tot(s); t.synchronized { t.jobs += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != 0L && e.taskMetrics != null) {
      val m = e.taskMetrics
      val t = tot(s)
      t.synchronized {
        t.tasks += 1
        t.inputBytes += m.inputMetrics.bytesRead
        t.outputBytes += m.outputMetrics.bytesWritten
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.gcMs += m.jvmGCTime
        t.taskMs += m.executorRunTime
        val st = t.stages.getOrElseUpdate(e.stageId, (0L, mutable.ArrayBuffer[Long]()))
        st._2 += m.executorRunTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stageSpan.get(e.stageInfo.stageId)
    if (s != 0L) {
      val i = e.stageInfo
      val wall = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
      val t = tot(s)
      t.synchronized {
        val st = t.stages.getOrElse(i.stageId, (0L, mutable.ArrayBuffer[Long]()))
        t.stages(i.stageId) = (wall, st._2)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      val s = execSpan.get(end.executionId)
      if (s != 0L) {
        val stats = try Some(Probe.summarize(end.qe.executedPlan)) catch {
          case scala.util.control.NonFatal(_) => None
        }
        stats.foreach(p => plans.computeIfAbsent(s,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[PlanStats]())).add(p))
      }
    case _ =>
  }
}

object Probe {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The nodes that executed: adaptive plans resolve to their final plan,
    * query stages to their stage plan, and reused exchanges are not
    * descended (their work is counted once, where it ran).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def summarize(plan: SparkPlan): PlanStats = {
    val ns = nodes(plan)
    val scans = ns.collect { case s: FileSourceScanExec =>
      (s.relation.location.rootPaths.map(_.toString).mkString(","),
        metric(s, "numFiles"), metric(s, "filesSize"), metric(s, "numOutputRows"))
    }
    val bcs = ns.collect { case b: BroadcastExchangeExec => b }
    val joins = ns.collect { case j: BaseJoinExec => metric(j, "numOutputRows") }
    PlanStats(scans, bcs.map(metric(_, "dataSize")).sum, bcs.map(metric(_, "buildTime")).sum, joins.sum)
  }

}
