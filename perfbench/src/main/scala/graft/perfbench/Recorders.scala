package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds: one time base for harness spans and Spark's own
  * epoch-millisecond job, stage and phase times. */
object Clock {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def threadCpuNs(): Long = threads.getCurrentThreadCpuTime

  def us(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** One recorded interval of one pass. `parent` is the index of the
  * enclosing span in the same [[Spans]] log, or -1 for a root. */
final case class Span(op: String, name: String, startUs: Long, endUs: Long,
    parent: Int, pass: Int)

/** In-memory span log, written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def add(op: String, name: String, startUs: Long, endUs: Long, parent: Int,
      pass: Int): Int = {
    buf += Span(op, name, startUs, endUs, parent, pass)
    buf.size - 1
  }

  def jsonLines: Iterator[String] = buf.iterator.zipWithIndex.map { case (s, i) =>
    Json.obj(Seq("id" -> i.toString, "parent" -> s.parent.toString, "pass" -> s.pass.toString,
      "op" -> Json.str(s.op), "name" -> Json.str(s.name),
      "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString))
  }
}

object ExecRecorder {
  final case class Job(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submitMs: Long, endMs: Long)
  final case class Cut(jobs: Seq[Job], stages: Seq[Stage], counters: Map[String, Double])
}

/** Jobs, stages and summed task metrics since the last [[take]]. */
final class ExecRecorder extends SparkListener {
  import ExecRecorder._

  private val jobStarts = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.get(e.jobId).foreach(j => jobStarts(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      c("tasks") += 1
      c("task_ms") += m.executorRunTime
      c("cpu_ms") += m.executorCpuTime / 1e6
      c("gc_ms") += m.jvmGCTime
      c("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
      c("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
      c("spill_b") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("input_b") += m.inputMetrics.bytesRead
      c("output_b") += m.outputMetrics.bytesWritten
    }
  }

  def take(): Cut = synchronized {
    val cut = Cut(jobStarts.values.toSeq, stages.toSeq, c.toMap)
    jobStarts.clear(); stages.clear(); c.clear()
    cut
  }
}

/** Run time and CPU time of every finished task's thread, deserialization
  * included. With the driver thread's own CPU time, the CPU time makes an
  * op's CPU time; JIT compiler, GC and listener-bus threads are left out. */
final class TaskTime extends SparkListener {
  private val run = new AtomicLong
  private val cpu = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      run.addAndGet((m.executorRunTime + m.executorDeserializeTime) * 1000000L)
      cpu.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
    }
  }

  def runNs: Long = run.get
  def cpuNs: Long = cpu.get
}

/** Every successful `QueryExecution`, in callback order. */
final class QeRecorder extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[(String, QueryExecution)]
  private var cursor = 0

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { buf += funcName -> qe }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Executions since the previous call. */
  def take(): Seq[(String, QueryExecution)] = synchronized {
    val out = buf.slice(cursor, buf.size).toSeq
    cursor = buf.size
    out
  }

  def all: Seq[(String, QueryExecution)] = synchronized(buf.toSeq)
}

/** Micro-batch counts, batch time and final state size per streaming
  * query since the last [[take]]. */
final class StreamRecorder extends StreamingQueryListener {
  private var batches = 0L
  private var batchMs = 0L
  private val lastState = mutable.LinkedHashMap.empty[java.util.UUID, (Long, Long)]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += 1
    batchMs += p.batchDuration
    lastState(p.id) = (p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
  }

  def take(): Map[String, Double] = synchronized {
    val out = Map(
      "streaming.batches" -> batches.toDouble,
      "streaming.batch_ms" -> batchMs.toDouble,
      "streaming.state_rows" -> lastState.values.map(_._1).sum.toDouble,
      "streaming.state_mb" -> lastState.values.map(_._2).sum / 1048576.0)
    batches = 0; batchMs = 0; lastState.clear()
    out
  }
}

/** Counts Spark's whole-stage codegen fallbacks: the compile-failure
  * warning and the too-long-method notice, both logged by
  * `WholeStageCodegenExec` on the thread that plans the stage. */
object CodegenCounter {
  private val n = new AtomicLong
  private val loggerName = "org.apache.spark.sql.execution.WholeStageCodegenExec"

  private final class Appender extends AbstractAppender(
      "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (m.contains("codegen disabled") || m.contains("codegen was disabled"))
        n.incrementAndGet()
    }
  }

  /** Call after the session exists: Spark configures log4j on first use. */
  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new Appender
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig(loggerName, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }

  def count: Long = n.get
}
