package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory span store for the traced run. Every span carries wall-clock
  * epoch milliseconds, so the analysis can attribute scheduler, planning
  * and streaming events to the harness's own query intervals: job groups
  * cannot be used, because a streaming query's micro-batches run under
  * the StreamExecution's run id, not under the caller's name.
  *
  * Spans stay in memory while the run measures and are written as one
  * JSON document when it ends. */
final class Trace {
  private val records = new ConcurrentLinkedQueue[String]()

  def add(kind: String, fields: (String, Any)*): Unit =
    records.add(Json.obj(("kind" -> kind) +: fields: _*))

  /** Time `body` as a harness span around a call into one layer. */
  def span[A](kind: String, fields: (String, Any)*)(body: => A): A = {
    val t0 = Trace.nowMs()
    try body
    finally add(kind, fields ++ Seq("t0" -> t0, "t1" -> Trace.nowMs()): _*)
  }

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path,
      records.asScala.mkString("[\n", ",\n", "\n]\n"))
}

object Trace {
  /** Epoch milliseconds with sub-millisecond resolution: the monotonic
    * clock anchored once to the wall clock, so harness spans and Spark's
    * own epoch-millisecond event times share one time base. */
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Register the scheduler, query-execution and streaming listeners. */
  def install(spark: SparkSession, trace: Trace): Unit = {
    spark.sparkContext.addSparkListener(new SchedulerListener(trace))
    spark.listenerManager.register(new PlanningListener(trace))
    spark.streams.addListener(new ProgressListener(trace))
  }
}

/** Jobs, and per-stage task aggregates (summing at task end keeps the
  * store small; each stage keeps its task durations only until it
  * completes, for the max ÷ median skew ratio). */
final class SchedulerListener(trace: Trace) extends SparkListener {
  private final class StageAcc {
    val durations = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs,
        spillMem, spillDisk = 0L
    var failed = 0
  }
  private val stages = mutable.Map.empty[(Int, Int), StageAcc]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(stageJob(_) = e.jobId)
    trace.add("job_start", "job" -> e.jobId, "t" -> e.time,
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    trace.add("job_end", "job" -> e.jobId, "t" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val acc = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    acc.durations += e.taskInfo.duration
    if (!e.taskInfo.successful) acc.failed += 1
    Option(e.taskMetrics).foreach { m =>
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      acc.spillMem += m.memoryBytesSpilled
      acc.spillDisk += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val acc = stages.remove((info.stageId, info.attemptNumber())).getOrElse(new StageAcc)
    val sorted = acc.durations.sorted
    val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
    trace.add("stage", "stage" -> info.stageId,
      "job" -> stageJob.getOrElse(info.stageId, -1),
      "t0" -> info.submissionTime.getOrElse(0L),
      "t1" -> info.completionTime.getOrElse(0L),
      "tasks" -> sorted.size, "failed_tasks" -> acc.failed,
      "task_max_ms" -> sorted.lastOption.getOrElse(0L), "task_median_ms" -> median,
      "run_ms" -> acc.runMs, "cpu_ns" -> acc.cpuNs, "gc_ms" -> acc.gcMs,
      "shuffle_write" -> acc.shuffleWrite, "shuffle_read" -> acc.shuffleRead,
      "fetch_wait_ms" -> acc.fetchWaitMs,
      "spill_mem" -> acc.spillMem, "spill_disk" -> acc.spillDisk)
  }
}

/** Catalyst phase times of every finished query execution
  * (QueryPlanningTracker: analysis, optimization, planning). */
final class PlanningListener(trace: Trace) extends QueryExecutionListener {
  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    trace.add("planning", "t" -> System.currentTimeMillis(), "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, ok = false)
}

/** Every micro-batch's progress report, raw: durationMs phases, input
  * rows and state-operator metrics are read from its JSON. */
final class ProgressListener(trace: Trace) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    trace.add("progress", "json" -> Json.Raw(e.progress.json))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
