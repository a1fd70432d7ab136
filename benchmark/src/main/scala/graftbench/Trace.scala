package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** What the traced run learns about the engine from outside it: Spark's
  * public listener events (jobs, SQL executions and, through [[streams]],
  * streaming progress) and each query's planning tracker. Everything is
  * kept in memory and read once the traced window ends. Only one client
  * thread issues statements, so a statement owns every job started while
  * the local property [[Trace.StmtKey]] names it. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  val queries = mutable.ArrayBuffer.empty[Query]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val stmt = Option(e.properties).flatMap(p =>
      Option(p.getProperty(StmtKey))).map(_.toInt).getOrElse(-1)
    val j = Job(e.jobId, stmt, e.time)
    jobs += j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.deserMs += m.executorDeserializeTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val q = Query.of(qe, executed = true)
    synchronized { queries += q }
  }

  val batches = mutable.ArrayBuffer.empty[Batch]
  private val queryStart = mutable.HashMap.empty[java.util.UUID, Long]

  /** Micro-batch progress of every streaming query; a batch belongs to
    * the statement whose interval holds its trigger time. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Trace.this.synchronized { queryStart(e.runId) = millis(e.timestamp) }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      Trace.this.synchronized {
        batches += Batch(millis(p.timestamp),
          queryStart.getOrElse(p.runId, millis(p.timestamp)), p.batchId,
          d("triggerExecution"), d("addBatch"), d("walCommit"),
          d("queryPlanning"), d("latestOffset"), p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum)
      }
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def millis(iso: String): Long =
    java.time.Instant.parse(iso).toEpochMilli
}

object Trace {
  val StmtKey = "graftbench.stmt"

  final case class Job(id: Int, stmt: Int, start: Long) {
    var end: Long = -1L
    var stages, tasks = 0
    var runMs, cpuNs, deserMs, gcMs = 0L
    var inputBytes, shuffleRead, shuffleWrite, spill = 0L
    var outBytes, outRecords = 0L
  }

  /** One micro-batch: when it and its query started (ms), its trigger
    * phases (ms), input rows and the state stores after it. */
  final case class Batch(startMs: Long, queryStartMs: Long, id: Long,
      triggerMs: Long, addBatchMs: Long, walCommitMs: Long, planningMs: Long,
      latestOffsetMs: Long, inputRows: Long, stateRows: Long,
      stateMemBytes: Long, stateCommitMs: Long)

  /** One executed query: planning phases from its tracker, the graft
    * optimizer rules' share of rule time, and scan/output counts from the
    * executed plan's SQL metrics. `startMs` places it inside a statement. */
  final case class Query(startMs: Long, analysisMs: Long, optMs: Long,
      planMs: Long, graftNs: Long, graftCalls: Long, graftEffective: Long,
      filesRead: Long, filesPruned: Long, rowsScanned: Long, rowsOut: Long)

  /** The rules the engine adds to Catalyst (see graft.Engine.session). */
  val GraftRules = Seq("PointLookupRule", "StatsOnlyAnsweringRule",
    "RelyConstraintRule")

  object Query extends AdaptiveSparkPlanHelper {
    /** `executed`: the query ran, so its physical plan exists; otherwise
      * only the tracker is read (touching the plan would plan it). */
    def of(qe: QueryExecution, executed: Boolean): Query = {
      val t = qe.tracker
      def phase(n: String) = t.phases.get(n)
        .map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      val start = if (t.phases.isEmpty) System.currentTimeMillis()
        else t.phases.values.map(_.startTimeMs).min
      val graft = t.rules.filter { case (n, _) =>
        GraftRules.exists(r => n.endsWith(r)) }.values
      var files, pruned, scanned = 0L
      var out = -1L
      val plan: SparkPlan =
        if (!executed) null
        else try qe.executedPlan catch { case _: Throwable => null }
      if (plan != null) foreach(plan) { p =>
        def metric(n: String) = p.metrics.get(n).map(_.value).getOrElse(0L)
        if (p.children.isEmpty && p.metrics.contains("numFiles")) {
          files += metric("numFiles")
          if (p.metrics.contains("staticFilesNum"))
            pruned += math.max(0L, metric("staticFilesNum") - metric("numFiles"))
          scanned += metric("numOutputRows")
        }
        if (out < 0 && p.metrics.contains("numOutputRows"))
          out = metric("numOutputRows")
      }
      Query(start, phase("analysis"), phase("optimization"),
        phase("planning"), graft.map(_.totalTimeNs).sum,
        graft.map(_.numInvocations).sum,
        graft.map(_.numEffectiveInvocations).sum,
        files, pruned, scanned, math.max(out, 0L))
    }
  }

  /** Total length of the union of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
