package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.{PerfbenchInternals, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorders for the traced op runs. Everything is kept in memory
  * and written once, at the end of the run:
  *
  *  - scheduler: one record per job (submit/end time, job group, stages,
  *    tasks, failures) with its tasks' metrics summed — executor run, CPU
  *    and GC time, scan, shuffle, spill and sink (output) counters;
  *  - Catalyst: one record per query execution with the analysis,
  *    optimization and planning phase intervals from `qe.tracker`;
  *  - streaming: one record per micro-batch progress event;
  *  - functions: a count of "replaced a previously registered function"
  *    warnings, taken with a log appender on the function registry.
  *
  * Recorders are attached by [[start]] and detached by [[stop]]; both drain
  * the listener bus first, so the recorded events are exactly those of the
  * traced runs.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  final class JobRec(val id: Int, val start: Long, val group: String) {
    var end: Long = -1L
    var stages, tasks, taskFailures = 0L
    var runMs, cpuNs, gcMs = 0L
    var inBytes, inRecords = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs = 0L
    var spillDisk, spillMem = 0L
    var outBytes, outRecords, sinkTaskMs = 0L
  }
  final case class Execution(phases: Map[String, (Long, Long)])
  final case class Batch(triggerMs: Long, addBatchMs: Long, stateCommitMs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val executions = mutable.ArrayBuffer.empty[Execution]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val reregistrations = new AtomicLong

  // Listener-bus callbacks of one listener run on one thread; the maps are
  // read only after the bus has been drained.
  private val sched = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = new JobRec(e.jobId, e.time, group.getOrElse(""))
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = job(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spillDisk += m.diskBytesSpilled
        j.spillMem += m.memoryBytesSpilled
        val out = m.outputMetrics
        if (out.bytesWritten > 0 || out.recordsWritten > 0) {
          j.outBytes += out.bytesWritten
          j.outRecords += out.recordsWritten
          j.sinkTaskMs += m.executorRunTime
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        val d = p.progress.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        batches += Batch(ms("triggerExecution"), ms("addBatch"),
          p.progress.stateOperators.map(_.commitTimeMs).sum)
      case _ =>
    }
    private def job(stageId: Int): Option[JobRec] = stageToJob.get(stageId).flatMap(jobs.get)
  }

  private val catalyst = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = executions.synchronized {
      executions += Execution(qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) })
    }
  }

  private val registryLogger = "org.apache.spark.sql.catalyst.analysis"
  private val appender = new AbstractAppender("perfbench-reregistrations", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
        reregistrations.incrementAndGet()
  }
  appender.start()

  private def logConfig = LogManager.getContext(false).asInstanceOf[LoggerContext]

  def start(): Unit = {
    PerfbenchInternals.drainListenerBus(sc)
    sc.addSparkListener(sched)
    spark.listenerManager.register(catalyst)
    val ctx = logConfig
    val lc = new LoggerConfig(registryLogger, Level.WARN, false)
    lc.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(registryLogger, lc)
    ctx.updateLoggers()
  }

  def stop(): Unit = {
    PerfbenchInternals.drainListenerBus(sc)
    sc.removeSparkListener(sched)
    spark.listenerManager.unregister(catalyst)
    val ctx = logConfig
    ctx.getConfiguration.removeLogger(registryLogger)
    ctx.updateLoggers()
  }

  /** Everything recorded, as JSON-ready maps and lists. */
  def result: Map[String, Any] = Map(
    "reregistrations" -> reregistrations.get,
    "jobs" -> jobs.values.map { r =>
      Map("id" -> r.id, "start" -> r.start, "end" -> r.end, "group" -> r.group,
        "stages" -> r.stages, "tasks" -> r.tasks, "task_failures" -> r.taskFailures,
        "run_ms" -> r.runMs, "cpu_ns" -> r.cpuNs, "gc_ms" -> r.gcMs,
        "in_bytes" -> r.inBytes, "in_records" -> r.inRecords,
        "shuffle_write" -> r.shuffleWrite, "shuffle_read" -> r.shuffleRead,
        "fetch_wait_ms" -> r.fetchWaitMs, "spill_disk" -> r.spillDisk, "spill_mem" -> r.spillMem,
        "out_bytes" -> r.outBytes, "out_records" -> r.outRecords, "sink_task_ms" -> r.sinkTaskMs)
    },
    "executions" -> executions.map(_.phases.map { case (k, (s, e)) =>
      k -> Map("start" -> s, "end" -> e)
    }),
    "batches" -> batches.map { b =>
      Map("trigger_ms" -> b.triggerMs, "add_batch_ms" -> b.addBatchMs,
        "state_commit_ms" -> b.stateCommitMs)
    })
}
