package graft

import org.apache.spark.sql.SparkSession

/** Per-process scratch root under java.io.tmpdir for derived on-disk
  * layouts (IVF cell layout, z-order files, dynamic-partition tables,
  * warehouse). Keyed by pid because [[graft.operators.PersistedLayout]]
  * assumes one writer per directory: it makes a crashed write visible,
  * but two JVMs that miss on the same source-keyed path would both
  * delete and rewrite it, and appends mutate a layout in place, so no
  * rename-on-publish could isolate them either. The pid keeps the path
  * stable within a process (build-once amortization holds for bench reps
  * and session reuse) while giving each JVM its own directory. Cleaned
  * on JVM exit.
  */
object Scratch {
  lazy val root: String = {
    val p = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-p${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() => cleanup()))
    p.toString
  }

  /** Delete the scratch tree. Idempotent; also callable directly by
    * entry points that halt() before JVM shutdown hooks run (see
    * Bench/Verify: a completed run must not let a native teardown abort
    * overwrite its exit status). */
  def cleanup(): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    try java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => try java.nio.file.Files.deleteIfExists(f)
        catch { case _: java.io.IOException => () })
    catch { case _: java.io.IOException => () }
  }

  def dir(name: String): String = s"$root/$name"
}

/** Release EVERYTHING a finished query could have left in executor
  * storage, so the next query/rep starts from a cold cache. Two layers,
  * because they have disjoint coverage:
  *
  *  - `catalog.clearCache()` drops CacheManager relations (`persist`ed
  *    frames: signature stages, operator-held edge caches);
  *  - the `getPersistentRDDs` sweep drops RDD-level blocks — the storage
  *    behind `localCheckpoint`s, which CacheManager never registers.
  *    Round-9 verdict: connected-components checkpoints survived
  *    `clearCache()` between bench reps and degraded four consecutive CC
  *    runs monotonically (d06 2.5s→9.0s, d07 10.9s→24.8s) until an
  *    unrelated query's GC freed them.
  *
  * Only call BETWEEN independent queries: a swept localCheckpoint has no
  * lineage to recompute from, so any still-live plan over one dies.
  */
object Caches {
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}

/** Shared session construction so Verify / Bench / tests agree on the
  * configs that affect correctness and scale behavior.
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // saveAsTable targets (bucketed-layout queries) land in per-process
      // scratch, not a shared ./spark-warehouse — same cross-JVM race
      // rationale as Scratch; static conf, so it must be set here
      .config("spark.sql.warehouse.dir", Scratch.dir("warehouse"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // custom SQL functions + planner strategies (as-of / interval
      // joins), installed the idiomatic way; JoinBuild keeps a
      // synchronized fallback for foreign sessions without this config
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // testdata events.ts is parquet TIMESTAMP(NANOS) — surface as long,
      // Tables converts to micros timestamp (see Tables.apply).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def get(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors()))
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
