package perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A time window [start, end] in epoch milliseconds, as Spark stamps its
  * listener events. */
final case class Window(start: Long, end: Long) {
  def contains(t: Long): Boolean = t >= start && t <= end
}

/** One streaming trigger, from the progress event Spark posts for it. */
final case class Epoch(query: String, start: Long, durations: Map[String, Long],
    inputRows: Long, stateRows: Long, stateMemBytes: Long, lateRows: Long,
    stateCommitMs: Long) {
  def ms: Long = durations.getOrElse("triggerExecution", 0L)
  def end: Long = start + ms
}

/** Reads the progress events Spark already posts for every streaming
  * query. Registered for the whole run, traced or not: the end-to-end
  * epoch times come from it. */
final class EpochListener extends StreamingQueryListener {
  val epochs = ArrayBuffer.empty[Epoch]
  val starts = ArrayBuffer.empty[Long]

  private def millis(ts: String): Long = Instant.parse(ts).toEpochMilli

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { starts += millis(e.timestamp) }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val ep = Epoch(p.runId.toString, millis(p.timestamp),
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numRowsDroppedByWatermark).sum, ops.map(_.commitTimeMs).sum)
    synchronized { epochs += ep }
  }

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Per-task executor figures, kept per task so they can be cut by window. */
final case class TaskRec(finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, fetchWaitMs: Long, spill: Long,
    inputBytes: Long, inputRows: Long, outputBytes: Long, retry: Boolean)

final case class StageRec(done: Long, stragglerMs: Long)

final case class BlockRec(at: Long, bytes: Long, added: Boolean, stored: Long)

final case class PhaseRec(start: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, broadcastBytes: Long)

/** The traced run's listener set: jobs, stages, tasks, block updates and
  * SQL executions from the Spark listener bus, plus Catalyst phase times
  * from the query-execution listener. It is registered only around traced
  * passes; everything is kept in memory and cut into windows afterwards. */
final class Recorder extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = ArrayBuffer.empty[Window]
  val tasks = ArrayBuffer.empty[TaskRec]
  val stages = ArrayBuffer.empty[StageRec]
  val blocks = ArrayBuffer.empty[BlockRec]
  val sqlExecs = ArrayBuffer.empty[Window]
  val phases = ArrayBuffer.empty[PhaseRec]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val sqlStart = scala.collection.mutable.Map.empty[Long, Long]
  private val taskMs = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  private val stored = scala.collection.mutable.Map.empty[String, Long]
  private var storedTotal = 0L
  @volatile var barrierSeen: String = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.startsWith(Harness.BarrierPrefix)).foreach(barrierSeen = _)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += Window(s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) += i.duration
    val m = e.taskMetrics
    val retry = i.attemptNumber > 0 || i.failed
    tasks += (if (m == null) TaskRec(i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, retry)
    else TaskRec(i.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, retry))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val ds = taskMs.remove((s.stageId, s.attemptNumber())).map(_.sorted).getOrElse(ArrayBuffer.empty)
    val straggler = if (ds.isEmpty) 0L else ds.last - ds(ds.size / 2)
    stages += StageRec(s.completionTime.getOrElse(System.currentTimeMillis()), straggler)
  }

  /** RDD blocks written by persist / localCheckpoint: a block that appears
    * counts once toward the bytes cut; the running total gives the peak. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val u = e.blockUpdatedInfo
    if (u.blockId.isRDD) {
      val id = u.blockId.name
      val size = if (u.storageLevel.isValid) u.memSize + u.diskSize else 0L
      val before = stored.getOrElse(id, 0L)
      if (size > 0) stored(id) = size else stored.remove(id)
      storedTotal += size - before
      blocks += BlockRec(System.currentTimeMillis(), size, before == 0 && size > 0,
        storedTotal)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStart(s.executionId) = s.time }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlStart.remove(s.executionId).foreach(t => sqlExecs += Window(t, s.time))
    }
    case _ =>
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val bc = try collectWithSubqueries(qe.executedPlan) {
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum catch { case _: Throwable => 0L }
    synchronized { phases += PhaseRec(start, ms("analysis"), ms("optimization"),
      ms("planning"), bc) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** One op execution inside a traced pass: its call and force windows. */
final case class OpRun(pass: Int, op: String, call: Window, force: Window) {
  def all: Window = Window(call.start, force.end)
  def id: String = s"$pass:$op"
}

/** Cuts the recorded events into the traced passes' op windows and reduces
  * them to the per-layer metrics, the per-layer self times and the span
  * tree (op run -> call / force -> jobs, SQL executions, epochs). */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Total length of the union of intervals, clipped to `w`. */
  def unionMs(ws: Seq[Window], w: Window): Long = {
    val clipped = ws.map(x => Window(math.max(x.start, w.start), math.min(x.end, w.end)))
      .filter(x => x.end > x.start).sortBy(_.start)
    var total = 0L
    var cur: Option[Window] = None
    clipped.foreach { x =>
      cur match {
        case Some(c) if x.start <= c.end => cur = Some(Window(c.start, math.max(c.end, x.end)))
        case Some(c) => total += c.end - c.start; cur = Some(x)
        case None => cur = Some(x)
      }
    }
    total + cur.map(c => c.end - c.start).getOrElse(0L)
  }

  /** Per-layer metrics of one traced pass. */
  def pass(runs: Seq[OpRun], rec: Recorder, ep: EpochListener,
      leakedRdds: Int): Map[String, Double] = {
    def in[T](xs: Seq[T])(t: T => Long): Seq[T] =
      xs.filter(x => runs.exists(_.all.contains(t(x))))
    val epochs = in(ep.epochs.toSeq)(_.start)
    val jobs = in(rec.jobs.toSeq)(_.start)
    val tasks = in(rec.tasks.toSeq)(_.finish)
    val stages = in(rec.stages.toSeq)(_.done)
    val blocks = in(rec.blocks.toSeq)(_.at)
    val phases = in(rec.phases.toSeq)(_.start)
    val sqls = in(rec.sqlExecs.toSeq)(_.start)
    def d(k: String) = epochs.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val nEpochs = epochs.size.toDouble
    val jobsInEpochs = jobs.count(j => epochs.exists(e => Window(e.start, e.end).contains(j.start)))
    // streaming.start_ms: op call -> first QueryStarted inside the op
    val startMs = runs.flatMap(r => ep.starts.filter(r.all.contains).minOption
      .map(_ - r.call.start)).sum.toDouble
    // per query: state size at its last epoch, memory at its peak
    val byQuery = epochs.groupBy(_.query).values
    // Self time per layer, from the span nesting op run > epoch > SQL
    // execution > job: each layer gets the part of its spans' time that
    // no child span covers. The file-stream source's driver calls
    // (latestOffset, getBatch) are carved out of the epochs' self time.
    val epochWs = epochs.map(e => Window(e.start, e.end))
    def covered(ws: Seq[Window]) = runs.map(r => unionMs(ws, r.all).toDouble).sum
    val wallMs = runs.map(r => (r.all.end - r.all.start).toDouble).sum
    val jobMs = covered(jobs)
    val sqlMs = covered(jobs ++ sqls)
    val epochMs = covered(jobs ++ sqls ++ epochWs)
    val sourcesMs = math.min(epochMs - sqlMs, d("latestOffset") + d("getBatch"))
    Map(
      "streaming.epochs" -> nEpochs,
      "streaming.jobs_per_epoch" -> (if (nEpochs > 0) jobsInEpochs / nEpochs else 0.0),
      "streaming.add_batch_ms" -> d("addBatch"),
      "streaming.query_planning_ms" -> d("queryPlanning"),
      "streaming.latest_offset_ms" -> d("latestOffset"),
      "streaming.wal_commit_ms" -> (d("walCommit") + d("commitOffsets")),
      "streaming.data_epoch_frac" ->
        (if (nEpochs > 0) epochs.count(_.inputRows > 0) / nEpochs else 0.0),
      "streaming.epoch_p50_ms" -> Stats.median(epochs.map(_.ms.toDouble)),
      "streaming.start_ms" -> startMs,
      "streaming.state_commit_ms" -> epochs.map(_.stateCommitMs).sum.toDouble,
      "streaming.state_rows" -> byQuery.map(_.maxBy(_.start).stateRows).sum.toDouble,
      "streaming.state_mem_mb" -> byQuery.map(_.map(_.stateMemBytes).max).sum / MB,
      "streaming.late_rows" -> epochs.map(_.lateRows).sum.toDouble,
      "operators.jobs" -> jobs.size.toDouble,
      "operators.stages" -> stages.size.toDouble,
      "operators.tasks" -> tasks.size.toDouble,
      "operators.task_retries" -> tasks.count(_.retry).toDouble,
      "operators.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "operators.run_s" -> tasks.map(_.runMs).sum / 1e3,
      "operators.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "operators.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / MB,
      "operators.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / MB,
      "operators.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "operators.spill_mb" -> tasks.map(_.spill).sum / MB,
      "operators.straggler_s" -> stages.map(_.stragglerMs).sum / 1e3,
      "operators.output_mb" -> tasks.map(_.outputBytes).sum / MB,
      "operators.cut_mb" -> blocks.filter(_.added).map(_.bytes).sum / MB,
      "operators.storage_peak_mb" -> (blocks.map(_.stored) :+ 0L).max / MB,
      "operators.broadcast_mb" -> phases.map(_.broadcastBytes).sum / MB,
      "operators.leaked_rdds" -> leakedRdds.toDouble,
      "plans.executions" -> sqls.size.toDouble,
      "plans.analysis_ms" -> phases.map(_.analysisMs).sum.toDouble,
      "plans.optimization_ms" -> phases.map(_.optimizationMs).sum.toDouble,
      "plans.planning_ms" -> phases.map(_.planningMs).sum.toDouble,
      "sources.input_mb" -> tasks.map(_.inputBytes).sum / MB,
      "sources.input_rows" -> tasks.map(_.inputRows).sum.toDouble,
      "driver.call_s" -> runs.map(r => r.call.end - r.call.start).sum / 1e3,
      "driver.force_s" -> runs.map(r => r.force.end - r.force.start).sum / 1e3,
      "driver.gap_s" -> (wallMs - jobMs) / 1e3,
      "self.driver_s" -> (wallMs - epochMs) / 1e3,
      "self.streaming_s" -> (epochMs - sqlMs - sourcesMs) / 1e3,
      "self.sources_s" -> sourcesMs / 1e3,
      "self.plans_s" -> (sqlMs - jobMs) / 1e3,
      "self.operators_s" -> jobMs / 1e3,
    )
  }

  /** The span tree of the traced passes, one JSON object per span. */
  def spans(runs: Seq[OpRun], rec: Recorder, ep: EpochListener): Seq[String] = {
    def span(id: String, parent: String, kind: String, w: Window) =
      Json.write(Map("id" -> id, "parent" -> parent, "kind" -> kind,
        "start_ms" -> w.start, "end_ms" -> w.end))
    runs.flatMap { r =>
      val children = Seq("call" -> r.call, "force" -> r.force).flatMap { case (ph, w) =>
        val pid = s"${r.id}/$ph"
        def leaves(kind: String, ws: Seq[Window]) = ws.filter(x => w.contains(x.start))
          .zipWithIndex.map { case (x, i) => span(s"$pid/$kind$i", pid, kind, x) }
        span(pid, r.id, ph, w) +: (leaves("job", rec.jobs.toSeq) ++
          leaves("sql", rec.sqlExecs.toSeq) ++
          leaves("epoch", ep.epochs.toSeq.map(e => Window(e.start, e.end))))
      }
      span(r.id, "", "op_run", r.all) +: children
    }
  }
}
