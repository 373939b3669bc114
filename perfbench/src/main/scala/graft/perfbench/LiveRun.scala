package graft.perfbench

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.{Caches, Scratch, SparkEntry}
import graft.lineage.{LineageExtractor, LineageListener, LineageReport, MetadataRegistry}

/** One successful timed op: wall time, CPU time (the calling thread's
  * plus that of the op's Spark tasks) and the run time of its tasks. */
final case class Sample(op: Op, pass: Int, traced: Boolean, ms: Double,
    cpuMs: Double, taskMs: Double)

/** The rendering compared between a live report and its replay. */
object Render {
  def apply(r: LineageReport): String =
    r.graph.toJson + "\n" + r.columnLineageJson + "\n" + r.openLineageJson(
      "perfbench", "replay", "00000000-0000-0000-0000-000000000000",
      "1970-01-01T00:00:00Z")
}

object PlanStats extends AdaptiveSparkPlanHelper {
  def codegenStages(p: SparkPlan): Int =
    collectWithSubqueries(p) { case w: WholeStageCodegenExec => w }.size
}

/** Lineage extraction alone: `LineageExtractor.report`, the renderers and
  * `MetadataRegistry.add` over captured executions, on the calling thread
  * with no Spark job running. Each replayed rendering is compared with the
  * one the live listener produced for the same execution. */
final class Replay(plans: IndexedSeq[QueryExecution], expected: IndexedSeq[String]) {
  private val registry = new MetadataRegistry
  /** (plan, extract ns, render ns, registry ns, thread CPU ns of all
    * three) per replayed report. */
  val samples = mutable.ArrayBuffer.empty[(Int, Long, Long, Long, Long)]
  var mismatches = 0

  /** Whole rounds over every plan in seed order until `seconds` have
    * elapsed. */
  def run(seconds: Double, rng: Random): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (plans.nonEmpty && System.nanoTime() < deadline)
      rng.shuffle(plans.indices.toVector).foreach(replayOne)
  }

  private def replayOne(i: Int): Unit = {
    val cpu0 = Clock.threadCpuNs()
    val a = System.nanoTime()
    val r = LineageExtractor.report(plans(i))
    val b = System.nanoTime()
    val s = Render(r)
    val c = System.nanoTime()
    registry.add(r)
    val d = System.nanoTime()
    samples += ((i, b - a, c - b, d - c, Clock.threadCpuNs() - cpu0))
    if (s != expected(i)) mismatches += 1
    }
}

/** Size and file count of the derived on-disk layouts under `Scratch`. */
object Layouts {
  def snapshot(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(Scratch.root)
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toSeq
    (files.map(java.nio.file.Files.size(_)).sum / 1048576.0, files.size.toDouble)
  }
}

/** Runs gates the way the paper's hook observes them: one calling thread,
  * one op at a time, each fully materialized through the `noop` sink, with
  * the production `LineageListener` installed. With `trace`, every other
  * pass attaches the recorders and cuts a layer record per op. */
final class LiveRun(spark: SparkSession, dataDir: String, ops: Seq[Op],
    rng: Random, trace: Boolean) {

  private val sc = spark.sparkContext
  private val gates = SparkEntry.queries
  val lineage: LineageListener = LineageListener.install(spark)
  private val exec = new ExecRecorder
  private val qes = new QeRecorder
  private val streams = new StreamRecorder
  private val tasks = new TaskTime
  sc.addSparkListener(tasks)
  private val replayRegistry = new MetadataRegistry
  private var attached = false

  val spans = new Spans
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** (op, layer record) per traced op. */
  val layers = mutable.ArrayBuffer.empty[(Op, Map[String, Double])]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  /** Wall ms of each op's warm-up execution. */
  val warmupMs = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0

  private def fail(op: String, e: Throwable): Unit =
    failures += op -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  private def attach(on: Boolean): Unit = if (on != attached) {
    if (on) {
      sc.addSparkListener(exec)
      spark.listenerManager.register(qes)
      spark.streams.addListener(streams)
    } else {
      sc.removeSparkListener(exec)
      spark.listenerManager.unregister(qes)
      spark.streams.removeListener(streams)
    }
    attached = on
  }

  /** First pass: builds the layouts probe ops read, writes every op's
    * result as parquet under `outRoot/<op>` for the oracle check, and
    * returns the pass's successful executions in callback order. */
  def warmup(outRoot: String): Seq[(String, QueryExecution)] = {
    val rec = new QeRecorder
    spark.listenerManager.register(rec)
    for (op <- rng.shuffle(ops)) {
      attempted += 1
      Caches.sweep(spark)
      sc.setJobDescription(s"perfbench: ${op.name} warm-up")
      val t0 = System.nanoTime()
      try gates(op.name)(spark, dataDir).write.mode("overwrite")
        .parquet(s"$outRoot/${op.name}")
      catch { case NonFatal(e) => fail(op.name, e) }
      finally sc.setJobDescription(null)
      warmupMs(op.name) = (System.nanoTime() - t0) / 1e6
    }
    BusDrain(sc)
    spark.listenerManager.unregister(rec)
    rec.all
  }

  /** Closed loop: whole passes in seed order, at least `minPasses`, until
    * `seconds` have elapsed. The last pass runs to its end, so every op
    * gets the same number of samples. Returns the window's length in
    * seconds. */
  def window(seconds: Double, minPasses: Int): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var pass = 0
    while (pass < minPasses || System.nanoTime() < deadline) {
      attach(trace && pass % 2 == 1)
      rng.shuffle(ops).foreach(timedOp(_, pass, attached))
      pass += 1
    }
    attach(false)
    (System.nanoTime() - t0) / 1e9
  }

  private def timedOp(op: Op, pass: Int, traced: Boolean): Unit = {
    attempted += 1
    Caches.sweep(spark)
    if (traced) {
      BusDrain(sc)
      exec.take(); qes.take(); streams.take()
    }
    val listened0 = if (traced) lineage.overheadsNs.size else 0
    val cg0 = CodegenCounter.count
    sc.setJobDescription(s"perfbench: ${op.name}")
    val u0 = Clock.us()
    val k0 = tasks.cpuNs
    val r0 = tasks.runNs
    val c0 = Clock.threadCpuNs()
    val t0 = System.nanoTime()
    try {
      val df = gates(op.name)(spark, dataDir)
      val u1 = Clock.us()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val c2 = Clock.threadCpuNs()
      val u2 = Clock.us()
      // the op's task-end events, and the lineage listener's work on it,
      // are delivered before the next op starts
      BusDrain(sc)
      samples += Sample(op, pass, traced, (t2 - t0) / 1e6,
        (c2 - c0 + tasks.cpuNs - k0) / 1e6, (tasks.runNs - r0) / 1e6)
      if (traced) record(op, pass, df.queryExecution, u0, u1, u2, cg0, listened0)
    } catch { case NonFatal(e) => fail(op.name, e) }
    finally sc.setJobDescription(null)
  }

  /** Cuts one layer record and the op's span tree from the recorders. */
  private def record(op: Op, pass: Int, built: QueryExecution, u0: Long, u1: Long,
      u2: Long, cg0: Long, listened0: Int): Unit = {
    BusDrain(sc)
    val cut = exec.take()
    val queries = qes.take()
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val opId = spans.add(op.name, "op", u0, u2, -1, pass)
    val buildId = spans.add(op.name, "build", u0, u1, opId, pass)
    val actionId = spans.add(op.name, "action", u1, u2, opId, pass)
    def under(startUs: Long): Int = if (startUs < u1) buildId else actionId

    // the gate's own DataFrame is analyzed while it is built; its later
    // phases run again under the write's execution, which the recorder sees
    built.tracker.phases.get("analysis").foreach { s =>
      spans.add(op.name, "phase.analysis", s.startTimeMs * 1000, s.endTimeMs * 1000, buildId, pass)
      m("catalyst.analysis_ms") += s.durationMs
    }
    queries.foreach { case (_, qe) =>
      qe.tracker.phases.foreach { case (phase, s) =>
        spans.add(op.name, s"phase.$phase", s.startTimeMs * 1000, s.endTimeMs * 1000,
          under(s.startTimeMs * 1000), pass)
        m(s"catalyst.${phase}_ms") += s.durationMs
      }
      m("catalyst.plan_nodes") += qe.optimizedPlan.collect { case p => p }.size
      m("catalyst.codegen_stages") += PlanStats.codegenStages(qe.executedPlan)
    }
    m("catalyst.codegen_fallbacks") = (CodegenCounter.count - cg0).toDouble

    val jobSpan = mutable.Map.empty[Int, Int]
    cut.jobs.foreach { j =>
      val end = if (j.endMs < 0) j.startMs else j.endMs
      jobSpan(j.id) = spans.add(op.name, "job", j.startMs * 1000, end * 1000, under(j.startMs * 1000), pass)
    }
    cut.stages.foreach { s =>
      val parent = cut.jobs.find(_.stageIds.contains(s.id)).map(j => jobSpan(j.id))
        .getOrElse(actionId)
      spans.add(op.name, "stage", s.submitMs * 1000, s.endMs * 1000, parent, pass)
    }
    m("queries.build_ms") = (u1 - u0) / 1000.0
    m("queries.build_jobs") = cut.jobs.count(_.startMs * 1000 < u1).toDouble
    m("exec.wall_ms") = Intervals.unionLength(
      cut.jobs.map(j => (j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble)))
    m("exec.jobs") = cut.jobs.size.toDouble
    m("exec.stages") = cut.stages.size.toDouble
    Seq("tasks", "task_ms", "cpu_ms", "gc_ms").foreach(k => m(s"exec.$k") = cut.counters.getOrElse(k, 0.0))
    Seq("shuffle_read", "shuffle_write", "spill", "input", "output").foreach { k =>
      m(s"exec.${k}_mb") = cut.counters.getOrElse(s"${k}_b", 0.0) / 1048576.0
    }
    streams.take().foreach { case (k, v) => m(k) = v }

    // the listener's own cost for this op's queries, then the same
    // extraction replayed here so each stage can be timed on its own
    val listened = lineage.overheadsNs.drop(listened0)
    m("lineage.listener_ms") = listened.sum / 1e6
    m("lineage.callbacks") = listened.size.toDouble
    queries.foreach { case (_, qe) =>
      try {
        val a = System.nanoTime(); val ua = Clock.us()
        val r = LineageExtractor.report(qe)
        val b = System.nanoTime()
        Render(r)
        val c = System.nanoTime()
        replayRegistry.add(r)
        val d = System.nanoTime()
        spans.add(op.name, "extract", ua, ua + (b - a) / 1000, -1, pass)
        spans.add(op.name, "render", ua + (b - a) / 1000, ua + (c - a) / 1000, -1, pass)
        spans.add(op.name, "registry", ua + (c - a) / 1000, ua + (d - a) / 1000, -1, pass)
        m("lineage.extract_ms") += (b - a) / 1e6
        m("lineage.render_ms") += (c - b) / 1e6
        m("lineage.registry_ms") += (d - c) / 1e6
        m("lineage.lnodes") += r.graph.size
        m("lineage.column_refs") += r.columnLineage.values.map(_.size).sum
      } catch { case NonFatal(_) => () }
    }
    if (op.cls == "maintain") {
      val (mb, files) = Layouts.snapshot()
      m("operators.layout_disk_mb") = mb
      m("operators.layout_files") = files
    }
    layers += op -> m.toMap
  }
}

object Intervals {
  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
