package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** `Layout.clusterForWrite` (round 20): layout writes optionally
  * cluster by their partition column before `partitionBy`, so at
  * cluster scale a T-task exchange does not write T files into every
  * partition directory. The knob must be a pure FILE-LAYOUT choice:
  * serving results bit-identical with it on or off, and with it on
  * each partition directory holds exactly one data file regardless of
  * how many tasks fed the write.
  */
class LayoutWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  test("clusterWrites=true: IVFADC build+append serve bit-identical " +
      "results and write one code file per cell") {
    import spark.implicits._
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val base = emb.filter($"vec_id" < 400)
    val batch = emb.filter($"vec_id" >= 400)
    val q = emb.filter($"vec_id" === 450L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    def buildAndProbe(layout: String): Seq[(Long, Long)] = {
      Similarity.ivfAdcBuildLayout(base, centEvery = 25, layout,
        "vec_id", "embedding", m = 4, k = 4, quantScale = 1000L)(
        Similarity.pqTrain(base, "vec_id", "embedding", m = 4, k = 4,
          iters = 1))
      Similarity.ivfAdcAppendToLayout(batch, layout)
      Similarity.ivfAdcProbeLayout(spark, layout, q, kNN = 10, nProbe = 2)
        .as[(Long, Long)].collect().toSeq
    }
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_clusterwrite_spec").toString
    val plain = buildAndProbe(s"$tmp/off")
    spark.conf.set("spark.graft.layout.clusterWrites", "true")
    val clustered =
      try buildAndProbe(s"$tmp/on")
      finally spark.conf.unset("spark.graft.layout.clusterWrites")
    // the knob may only move bytes between files, never change them
    assert(clustered == plain, s"clustered $clustered vs plain $plain")
    // one data file per cell directory: the build's overwrite and the
    // append each land exactly one file in every cell they touch, so a
    // cell holds 1 (one writer) or 2 (build + append) files — never a
    // per-upstream-task fan. The OFF layout is left unasserted: its
    // file count is whatever AQE's coalescing happened to produce.
    // Two confs would split a cell's file whatever the clustering does:
    // a per-file record cap, and speculative duplicate tasks.
    assert(spark.conf.get("spark.sql.files.maxRecordsPerFile").toLong == 0L,
      "file counts assume no per-file record cap")
    assert(!spark.sparkContext.getConf.getBoolean("spark.speculation", false),
      "file counts assume no speculative tasks")
    val cellDirs = Option(new java.io.File(s"$tmp/on/codes").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("c_id=")).toSeq
    assert(cellDirs.nonEmpty, "no cell directories written")
    cellDirs.foreach { d =>
      val n = dataFiles(d).size
      assert(n >= 1 && n <= 2,
        s"${d.getName}: $n data files — clustering must bound the " +
          "build and the append at one file each")
    }
    Caches.sweep(spark)
  }

  test("clusterWrites=true: BM25 layout serves the same top-k") {
    val docs = Tables(spark, TestSpark.sf, "documents")
    val terms = Seq("hash", "join", "vector")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_clusterwrite_bm25").toString
    def buildAndServe(layout: String): Seq[(Long, Double)] = {
      graft.operators.Retrieval.bm25IndexWrite(
        docs, "doc_id", "text", layout, nBuckets = 8)
      graft.operators.Retrieval.bm25TopKFromIndex(
          spark, layout, terms, k = 10, nBuckets = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val plain = buildAndServe(s"$tmp/off")
    spark.conf.set("spark.graft.layout.clusterWrites", "true")
    val clustered =
      try buildAndServe(s"$tmp/on")
      finally spark.conf.unset("spark.graft.layout.clusterWrites")
    assert(clustered == plain, s"clustered $clustered vs plain $plain")
    assert(plain.nonEmpty)
    Caches.sweep(spark)
  }
}
