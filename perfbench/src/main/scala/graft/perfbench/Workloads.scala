package graft.perfbench

/** One timed op: a registered gate and the class it is reported under. */
final case class Op(name: String, cls: String)

/** The gates each workload runs. Every list is sized so that a run of one
  * workload (JVM start, set-up, the timed window and the output check)
  * stays near 45 s for `relational` and 65 s for `pipeline` on 4 cores;
  * see BENCHMARK.json for why each workload exists. */
object Workloads {

  /** Analytic queries observed by the lineage hook: relational core, the
    * range, as-of and interval join strategies (`plans`: q31, q74, q78),
    * a sketch expression (`functions`: q82) and the lineage gates. Each is
    * cheap enough to be sampled several times in one run. */
  val relational: Seq[Op] = Seq(
    "q10_topk", "q31_range_join", "q74_asof_native", "q78_interval_native",
    "q82_cms_heavy_hitters", "lx01_lineage_scan_project",
    "lx07_lineage_rewrite", "lx12_lineage_rdd_source").map(Op(_, "relational"))

  /** LLM-data and graph operators. The compute op is an iterative graph
    * loop; the probe op reads a layout the warm-up pass built; the
    * maintain op rebuilds a base layout and appends to it; the stream op
    * runs micro-batches against a state store. */
  val pipeline: Seq[Op] =
    Seq("q129_scc").map(Op(_, "compute")) ++
      Seq("t23_bm25_index").map(Op(_, "probe")) ++
      Seq("s08_ann_ivf_append").map(Op(_, "maintain")) ++
      Seq("st09_stream_latest").map(Op(_, "stream"))

  val names: Seq[String] = Seq("relational", "pipeline")

  def ops(workload: String): Seq[Op] =
    if (workload == "relational") relational else pipeline

  /** Scale factor directory each workload reads. */
  def sf(workload: String): String = "sf0.1"
}
