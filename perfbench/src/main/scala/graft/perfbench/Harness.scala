package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.perfbench.BusDrain

import graft.{Caches, Scratch, Sessions, SparkEntry}

/** Benchmark process: runs one workload for one seed and writes the
  * raw samples, layer records and spans under `--out`; `perfbench/run.py`
  * turns them into metrics and checks the outputs.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   --cpus C --data DIR --out DIR
  */
object Harness {

  /** Seconds of lineage replay over the warm-up pass's executions: the
    * first part lets the JIT settle and is not recorded. */
  private val replayWarmSeconds = 2.0
  private val replaySeconds = 1.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val dataDir = s"${a("data")}/${Workloads.sf(workload)}"
    val out = a("out")
    Files.createDirectories(Paths.get(out))

    val t0 = System.nanoTime()
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    CodegenCounter.install()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rng = new Random(seed)
    val minPasses = if (trace) 2 else 1

    val ops = Workloads.ops(workload)
    val run = new LiveRun(spark, dataDir, ops, rng, trace)
    val (setupS, plans, replayed, mismatches) = setUpAndReplay(run, out, rng, t0)
    val layoutSetup = Layouts.snapshot()
    val listened0 = run.lineage.overheadsNs.size
    val windowS = run.window(seconds, minPasses)
    BusDrain(spark.sparkContext)
    val listened = run.lineage.overheadsNs.drop(listened0)

    // the heap the program keeps after the window: the per-query reports
    // are drained, as a consumer of the listener would, the session
    // registry stays
    run.lineage.clear()
    Caches.sweep(spark)
    val heapMb = settledHeapMb()
    val heapMaxMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax / 1048576.0

    val oracle = SparkEntry.oracleSql
    val fields = Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cpus" -> cpus,
      "data_dir" -> Json.str(dataDir),
      "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(sessionS),
      "warmup_ms" -> Json.obj(run.warmupMs.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "window_s" -> Json.num(windowS),
      "heap_mb" -> Json.num(heapMb),
      "heap_max_mb" -> Json.num(heapMaxMb),
      "listener_ns" -> Json.arr(listened.map(_.toString)),
      "plans" -> plans.toString,
      "mismatches" -> mismatches.toString,
      "layout_setup" -> Json.nums(Seq(layoutSetup._1, layoutSetup._2)),
      "ops" -> Json.arr(ops.map(o => Json.str(o.name))),
      "oracle" -> Json.obj(ops.flatMap(o => oracle.get(o.name).map(q => o.name -> Json.str(q)))),
      "outputs" -> Json.str(s"$out/outputs"),
      "samples" -> Json.obj(Seq(
        "op" -> Json.arr(run.samples.map(x => Json.str(x.op.name))),
        "cls" -> Json.arr(run.samples.map(x => Json.str(x.op.cls))),
        "pass" -> Json.arr(run.samples.map(_.pass.toString)),
        "traced" -> Json.arr(run.samples.map(x => if (x.traced) "1" else "0")),
        "ms" -> Json.nums(run.samples.map(_.ms)),
        "cpu_ms" -> Json.nums(run.samples.map(_.cpuMs)),
        "task_ms" -> Json.nums(run.samples.map(_.taskMs)))),
      "layers" -> Json.arr(run.layers.map { case (op, m) =>
        Json.obj(Seq("op" -> Json.str(op.name), "cls" -> Json.str(op.cls),
          "m" -> Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
      }),
      "codegen_fallbacks" -> CodegenCounter.count.toString,
      "scratch_root" -> Json.str(Scratch.root),
      "attempted" -> (run.attempted + replayed).toString,
      "failures" -> Json.arr(run.failures.map { case (o, e) => Json.arr(Seq(Json.str(o), Json.str(e))) }))
    spark.stop()

    if (trace) Files.write(Paths.get(s"$out/spans.jsonl"),
      run.spans.jsonLines.map(_ + "\n").mkString.getBytes("UTF-8"))
    Files.writeString(Paths.get(s"$out/result.json"), Json.obj(fields))
  }

  /** Heap in use, in MB, once full collections stop releasing memory:
    * each collection lets ContextCleaner release what the one before found
    * unreachable. */
  private def settledHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var before = collect()
    var after = collect()
    var rounds = 2
    while (before - after > 0.5 && rounds < 10) {
      before = after
      after = collect()
      rounds += 1
    }
    after
  }

  /** The warm-up pass, which ends set-up, then the lineage replay over the
    * executions it captured, paired with the reports the live listener
    * produced for them and run with nothing else going on. The replay's
    * samples go to `replay.json`; the executions and samples are
    * unreachable once this returns, so they stay out of `heap_mb`.
    * Returns set-up seconds, executions captured, reports replayed and
    * replayed renderings that differ from the live ones. */
  private def setUpAndReplay(run: LiveRun, out: String, rng: Random,
      t0: Long): (Double, Int, Int, Int) = {
    val captured = run.warmup(s"$out/outputs").toIndexedSeq
    val setupS = (System.nanoTime() - t0) / 1e9
    val live = run.lineage.reports.toIndexedSeq
    run.lineage.clear()
    if (captured.map(_._1) != live.take(captured.size).map(_._1))
      run.failures += "replay" ->
        s"${captured.size} executions do not pair with ${live.size} live reports"
    val replay = new Replay(captured.map(_._2), live.take(captured.size).map(r => Render(r._2)))
    if (run.failures.forall(_._1 != "replay")) {
      replay.run(replayWarmSeconds, rng)
      replay.samples.clear()
      replay.run(replaySeconds, rng)
    }
    val rs = replay.samples
    Files.writeString(Paths.get(s"$out/replay.json"), Json.obj(Seq(
      "plan" -> Json.arr(rs.map(_._1.toString)),
      "extract_ns" -> Json.arr(rs.map(_._2.toString)),
      "render_ns" -> Json.arr(rs.map(_._3.toString)),
      "registry_ns" -> Json.arr(rs.map(_._4.toString)),
      "cpu_ns" -> Json.arr(rs.map(_._5.toString)))))
    (setupS, captured.size, rs.size, replay.mismatches)
  }
}
