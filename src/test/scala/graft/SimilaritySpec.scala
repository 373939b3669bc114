package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** IVF recall: Lloyd-trained cells must match or beat the modulo-subset
  * cells at equal nProbe on CLUSTERED data — the shape real embedding
  * corpora have and the one where untrained cells lose (a cluster split
  * across arbitrary Voronoi cells drops its members' neighbors out of the
  * probed set).
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Deterministic clustered corpus: `nClusters` seeded Gaussian centers
    * in `dim` dims, `perCluster` points each = center + small noise.
    * Cluster membership alternates with vec_id (id % nClusters), so the
    * every-Nth modulo "centroids" are scattered across clusters rather
    * than aligned with them — the honest hard case for untrained cells. */
  private def clustered(
      nClusters: Int, perCluster: Int, dim: Int): DataFrame = {
    val rnd = new scala.util.Random(7L)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian() * 5.0)
    val rows = (0 until nClusters * perCluster).map { id =>
      val c = id % nClusters
      val v = centers(c).map(x => (x + rnd.nextGaussian() * 0.3).toFloat)
      (id.toLong, v)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** Mean recall@k of `got` against brute-force ground truth. */
  private def recallAt(got: DataFrame, truth: DataFrame, k: Int): Double = {
    val g = got.select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val t = truth.select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val per = t.map { case (q, ids) =>
      g.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    per.sum / per.size
  }

  test("trained IVF cells recall >= modulo cells at equal nProbe") {
    val corpus = clustered(nClusters = 8, perCluster = 100, dim = 16)
      .persist()
    val queries = corpus.filter(col("vec_id") % 37 === 1).limit(12)
    val k = 10
    val truth = Similarity.bruteForceTopK(corpus, queries, k)
    // centEvery=100 -> 8 cells from 800 vectors, same count both variants
    val modulo = Similarity.ivfTopK(corpus, queries, k, nProbe = 1,
      centEvery = 100)
    val trained = Similarity.ivfTopKTrained(corpus, queries, k, nProbe = 1,
      centEvery = 100, iters = 3)
    val rMod = recallAt(modulo, truth, k)
    val rTrn = recallAt(trained, truth, k)
    info(f"recall@$k modulo=$rMod%.3f trained=$rTrn%.3f")
    assert(rTrn >= rMod,
      f"trained cells ($rTrn%.3f) must not lose to modulo cells ($rMod%.3f)")
    // on well-separated clusters, trained cells should essentially solve
    // the problem at nProbe=1
    assert(rTrn >= 0.95, f"trained recall $rTrn%.3f below 0.95")
    corpus.unpersist()
  }

  test("layout build is skipped when a completed layout exists") {
    val corpus = clustered(nClusters = 4, perCluster = 50, dim = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_spec")
      .resolve("layout").toString
    Similarity.ivfBuildLayout(corpus, centEvery = 50, layoutDir = dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val t1 = fs.getFileStatus(p).getModificationTime
    // second build must be a no-op (same mtime), not an overwrite
    Similarity.ivfBuildLayout(corpus, centEvery = 50, layoutDir = dir)
    assert(fs.getFileStatus(p).getModificationTime == t1)
    // and the probe path over the layout returns rows
    val queries = corpus.filter(col("vec_id") < 3)
    val res = Similarity.ivfTopKFromLayout(corpus, queries, k = 5,
      nProbe = 2, centEvery = 50, layoutDir = dir)
    assert(res.count() > 0)
  }

  test("trained centroids compose with the persisted layout") {
    val corpus = clustered(nClusters = 4, perCluster = 50, dim = 8).persist()
    val queries = corpus.filter(col("vec_id") % 41 === 1).limit(8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_trained")
      .resolve("layout").toString
    val trained = Similarity.ivfCentroidsTrained(corpus, centEvery = 50,
      iters = 2)
    // layout built from the trained cells: probe results must equal the
    // direct (no-layout) trained path row-for-row — same cells, same
    // ranking arithmetic
    val viaLayout = Similarity.ivfTopKFromLayout(corpus, queries, k = 5,
      nProbe = 2, centEvery = 50, layoutDir = dir,
      centroids = Some(trained))
      .collect().map(_.toSeq).toSet
    val direct = Similarity.ivfTopKTrained(corpus, queries, k = 5,
      nProbe = 2, centEvery = 50, iters = 2)
      .collect().map(_.toSeq).toSet
    assert(viaLayout == direct,
      s"layout probe diverged from the direct trained path")
    // a layout built for DIFFERENT cells must not be silently reused:
    // the modulo-cell ident mismatches and triggers a rebuild
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val t1 = fs.getFileStatus(p).getModificationTime
    Thread.sleep(1100) // modification-time granularity can be 1s
    Similarity.ivfBuildLayout(corpus, centEvery = 50, layoutDir = dir)
    assert(fs.getFileStatus(p).getModificationTime != t1,
      "modulo-cell build silently reused the trained-cell layout")
    corpus.unpersist()
  }

  test("a crashed append leaves a sentinel: serving and re-append refuse, build rebuilds") {
    val corpus = clustered(nClusters = 4, perCluster = 50, dim = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_sentinel")
      .resolve("layout").toString
    Similarity.ivfBuildLayout(corpus, centEvery = 50, layoutDir = dir)
    val valid = LayoutCrash.ident(dir)
    // simulate a crash mid-append: the sentinel ident is on disk
    LayoutCrash.writeIdent(dir, s"graft-ivf-appending! $valid")
    val queries = corpus.filter(col("vec_id") < 3)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfTopKServing(spark, queries, k = 3, nProbe = 2, layoutDir = dir)
    }
    assert(e1.getMessage.contains("not servable"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfAppendToLayout(corpus.limit(5), dir)
    }
    assert(e2.getMessage.contains("not servable"))
    // the build path treats the sentinel as an ident mismatch: rebuild,
    // after which serving works again
    Similarity.ivfBuildLayout(corpus, centEvery = 50, layoutDir = dir)
    assert(Similarity.ivfTopKServing(spark, queries, k = 3, nProbe = 2,
      layoutDir = dir).count() > 0)
  }

  test("layout-fed hard negatives: exact at full probe, high recall at partial probe") {
    val corpus = clustered(nClusters = 8, perCluster = 100, dim = 16).persist()
    val queries = corpus.filter(col("vec_id") % 37 === 1).limit(12)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_hn")
      .resolve("layout").toString
    // trained cells (the production clustering) persisted once; both
    // probe depths mine from the same layout
    val trained = Similarity.ivfCentroidsTrained(corpus, centEvery = 100,
      iters = 3).persist()
    Similarity.ivfBuildLayout(corpus, centEvery = 100, layoutDir = dir,
      centroids = Some(trained))
    // clustered geometry: same-cluster cos ~0.99, cross-cluster spread
    // wide — [0.1, 0.9) is a fat semi-hard band guaranteed non-empty
    val (lo, hi) = (0.1, 0.9)
    val full = Similarity.hardNegatives(corpus, queries, k = 10, lo = lo, hi = hi)
    assert(full.count() > 0, "band produced no negatives — bad geometry")
    // nProbe = |cells| probes every cell: layout mining must equal the
    // full-scan miner row-for-row (cells partition the corpus)
    val nCells = trained.count().toInt
    val allProbe = Similarity.hardNegativesFromLayout(spark, queries,
      k = 10, lo = lo, hi = hi, nProbe = nCells, layoutDir = dir)
    assert(allProbe.collect().map(_.toSeq).toSet ==
      full.collect().map(_.toSeq).toSet,
      "full-probe layout mining diverged from the corpus-scan miner")
    // partial probe: candidates only from each query's 4-of-8 nearest
    // cells — the corpus-free serving trade. Recall floor is deliberately
    // conservative; the point is the path works and is not degenerate
    val partial = Similarity.hardNegativesFromLayout(spark, queries,
      k = 10, lo = lo, hi = hi, nProbe = 4, layoutDir = dir)
    val r = recallAt(partial, full, 10)
    info(f"layout hard-negative recall@10 at nProbe=4/8: $r%.3f")
    assert(r >= 0.5, f"recall $r%.3f below 0.5 at nProbe=4 of 8 cells")
    trained.unpersist()
    corpus.unpersist()
  }

  test("hard negatives stay inside the band and equal band-filtered brute force") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val (lo, hi) = (0.10, 0.35)
    val got = Similarity.hardNegatives(emb, q, k = 3, lo = lo, hi = hi)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.nonEmpty, "band produced no negatives — test band too narrow")
    got.foreach { case (_, _, cos, _) =>
      assert(cos >= lo && cos < hi, s"cosine $cos escaped [$lo, $hi)")
    }
    // reference: brute-force top-k over the SAME rounded cosine, band-
    // filtered, ranked identically — the heap path must agree exactly
    val ref = Similarity.bruteForceTopK(emb, q, k = emb.count().toInt)
      .filter(col("cos") >= lo && col("cos") < hi)
      .withColumn("rn2", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rn2") <= 3)
      .select(col("q_id"), col("n_id"), col("cos"), col("rn2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3).toLong))
    assert(got.toSet == ref.toSet,
      s"band heap diverges from brute force: ${got.toSet.diff(ref.toSet)}")
  }

  test("topComponentProjection: rank-1 corpus recovers the direction, integer-exact") {
    import spark.implicits._
    // all mass on axis 0: w must be exactly (1e6, 0, 0, 0) after sign
    // canonicalization; projections are exact integer multiples
    val df = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(2.0f, 0f, 0f, 0f)),
      (3L, Array(-1.0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.topComponentProjection(df)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1000000000L, 2L -> 2000000000L, 3L -> -1000000000L), got.toString)
  }

  test("topComponentProjection: 3-4-5 direction quantizes exactly, no residue") {
    import spark.implicits._
    Caches.sweep(spark)
    // single vector (3,4): unit direction (0.6, 0.8) hits the 1e6
    // quantization grid exactly -> proj = 3000*600000 + 4000*800000
    val df = Seq((7L, Array(3.0f, 4.0f))).toDF("vec_id", "embedding")
    val out = Similarity.topComponentProjection(df)
    assert(out.as[(Long, Long)].collect().toMap == Map(7L -> 5000000000L))
    // no operator-held blocks: the Gram collect is driver-side, the
    // projection a map-only pass — nothing to cache at all
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("standardizeDims: exact z-scores, constant dimension maps to 0") {
    import spark.implicits._
    // dim 0: quantized {0, 2000} -> mu 1000, sd 1000 -> norms -1, +1
    // dim 1: constant -> variance 0 -> guarded to 0, not NaN
    val emb = Seq(
      (1L, Array(0.0f, 2.0f)), (2L, Array(2.0f, 2.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.standardizeDims(emb)
      .as[(Long, Array[Double])].collect().toMap
    assert(got(1L).toSeq == Seq(-1.0, 0.0), got(1L).mkString(","))
    assert(got(2L).toSeq == Seq(1.0, 0.0), got(2L).mkString(","))
  }

  test("standardizeDims: ragged embedding arrays fail loudly") {
    import spark.implicits._
    // d is inferred from the FIRST row (length 2); the length-3 row
    // would otherwise null-pad via zip_with or NPE in the stats map
    val ragged = Seq(
      (1L, Array(0.0f, 2.0f)), (2L, Array(2.0f, 2.0f, 9.0f))
    ).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.standardizeDims(ragged).collect()
    }
    assert(e.getMessage.contains("ragged"))
  }

  test("topComponentProjection: matvec survives Gram sums past Long range (BigInt)") {
    import spark.implicits._
    // 150k identical vectors of 4.0 at d=4: each Gram entry is
    // 150000 * (4*1000)^2 = 2.4e12, so the first power step's
    // u_i = 4 * 2.4e12 * 1e6 = 9.6e18 > Long.MaxValue (9.22e18) — a
    // Long accumulator wraps NEGATIVE and flips the direction; the
    // BigInt matvec stays exact. Fixed point: w = (5e5,)*4, so every
    // projection is 4 * 4000 * 500000 = 8e9.
    val emb = spark.range(150000).select($"id".as("vec_id"),
      array(lit(4.0f), lit(4.0f), lit(4.0f), lit(4.0f)).as("embedding"))
    val projs = Similarity.topComponentProjection(emb)
      .select($"proj").distinct().as[Long].collect().toSeq
    assert(projs == Seq(8000000000L),
      s"overflowed or non-uniform projections: $projs")
  }

  test("pq: codes are true argmins, ADC matches hand lookup, training deterministic") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.0f, 0.0f, 8.0f, 8.0f)),
      (1L, Array(0.002f, 0.002f, 8.002f, 8.002f)),
      (2L, Array(8.0f, 8.0f, 0.0f, 0.0f)),
      (3L, Array(8.002f, 8.002f, 0.002f, 0.002f)),
      (4L, Array(4.0f, 4.0f, 4.0f, 4.0f))
    ).toDF("vec_id", "embedding")
    val m1 = Similarity.pqTrain(emb, "vec_id", "embedding", m = 2, k = 2,
      iters = 1)
    val m2 = Similarity.pqTrain(emb, "vec_id", "embedding", m = 2, k = 2,
      iters = 1)
    assert(m1.cents.flatten.map(_.toSeq).toSeq ==
      m2.cents.flatten.map(_.toSeq).toSeq, "training not deterministic")
    assert(m1.m == 2 && m1.subDim == 2 && m1.k == 2)
    // every emitted code is the argmin centroid (ties -> smaller code),
    // recomputed independently in Scala from the model + raw vectors
    val raw = emb.as[(Long, Array[Float])].collect().toMap
    def vq(id: Long): Array[Long] =
      raw(id).map(x => math.round(x.toDouble * 1000))
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", m1)
      .as[(Long, Array[Int])].collect().toMap
    for ((id, cs) <- codes; s <- 0 until 2) {
      val sub = vq(id).slice(s * 2, s * 2 + 2)
      val dists = m1.cents(s).map(c => sq(sub, c))
      assert(dists(cs(s)) == dists.min &&
        !dists.take(cs(s)).contains(dists.min),
        s"id=$id sub=$s code=${cs(s)} not the first argmin of ${dists.toSeq}")
    }
    // ADC equals the hand-computed table lookup for every vector
    val query = Seq(0.0, 0.0, 8.0, 8.0)
    val qq = query.map(x => math.round(x * 1000)).toArray
    val got = Similarity.pqTopKAdc(emb, "vec_id", "embedding", m1, query,
      kNN = 5).as[(Long, Long)].collect().toSeq
    val expect = codes.map { case (id, cs) =>
      id -> (0 until 2).map(s =>
        sq(qq.slice(s * 2, s * 2 + 2), m1.cents(s)(cs(s)))).sum
    }.toSeq.sortBy { case (id, d) => (d, id) }
    assert(got == expect, s"got=$got expect=$expect")
    // m must divide the dimension
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(emb, "vec_id", "embedding", m = 3, k = 2)
    }
    Caches.sweep(spark)
  }

  test("pqTrain: driver-carried codebook bit-identical to the DataFrame-carried formulations") {
    import spark.implicits._
    // includes near-tie pairs (exercises the first-min = smallest-code
    // rule) and k=4 over 6 vectors so late iterations can leave a cell
    // empty (exercises the keep-previous-centroid rule)
    val emb = Seq(
      (0L, Array(0.0f, 0.0f, 8.0f, 8.0f)),
      (1L, Array(0.002f, 0.002f, 8.002f, 8.002f)),
      (2L, Array(8.0f, 8.0f, 0.0f, 0.0f)),
      (3L, Array(8.002f, 8.002f, 0.002f, 0.002f)),
      (4L, Array(4.0f, 4.0f, 4.0f, 4.0f)),
      (5L, Array(1.0f, 7.0f, 3.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    for (iters <- Seq(0, 1, 3)) {
      val got = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 2, k = 4, iters = iters)
      for (carry <- Seq(true, false)) {
        val ref = Similarity.pqTrainVariant(emb, "vec_id", "embedding",
          m = 2, k = 4, iters = iters, quantScale = 1000L, carryX = carry)
        assert(got.m == ref.m && got.k == ref.k && got.subDim == ref.subDim
          && got.quantScale == ref.quantScale)
        assert(got.cents.flatten.map(_.toSeq).toSeq ==
          ref.cents.flatten.map(_.toSeq).toSeq,
          s"codebooks diverge at iters=$iters carryX=$carry")
      }
    }
    Caches.sweep(spark)
  }

  test("pqRerank: exact distances overturn ADC's code-level ties") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.0f, 0.0f, 8.0f, 8.0f)),
      (1L, Array(0.002f, 0.002f, 8.002f, 8.002f)),
      (2L, Array(8.0f, 8.0f, 0.0f, 0.0f)),
      (3L, Array(8.002f, 8.002f, 0.002f, 0.002f)),
      (4L, Array(4.0f, 4.0f, 4.0f, 4.0f))
    ).toDF("vec_id", "embedding")
    val m1 = Similarity.pqTrain(emb, "vec_id", "embedding", m = 2, k = 2,
      iters = 1)
    // 0 and 1 share codes, so their ADC is identical and stage 1 ties
    // by id (0 first). The query IS vector 1: the exact re-rank must
    // put 1 first with dist 0 — the compression error ADC cannot see
    val q = Seq(0.002, 0.002, 8.002, 8.002)
    val got = Similarity.pqRerankTopK(emb, "vec_id", "embedding", m1, q,
      candidates = 5, kNN = 3).as[(Long, Long)].collect().toSeq
    val raw = emb.as[(Long, Array[Float])].collect().toMap
    def sq(id: Long): Long = raw(id)
      .map(x => math.round(x.toDouble * 1000))
      .zip(q.map(x => math.round(x * 1000)))
      .map { case (a, b) => (a - b) * (a - b) }.sum
    assert(got.head == ((1L, 0L)), got.toString)
    assert(got == Seq(1L, 0L, 4L).map(id => (id, sq(id))), got.toString)
    intercept[IllegalArgumentException] {
      Similarity.pqRerankTopK(emb, "vec_id", "embedding", m1, q,
        candidates = 2, kNN = 3)
    }
    Caches.sweep(spark)
  }

  test("ivfAdcRerankTopK: exact quantized-L2 over the IVFADC shortlist, " +
      "ascending with id ties") {
    // round 18 (the s20 serving path): given stage 1's ADC shortlist,
    // stage 2 must return exactly the kNN smallest EXACT quantized-L2
    // distances among the shortlist ids — pinned against a driver-side
    // replay of both the shortlist membership and the distances.
    import spark.implicits._
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val model = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 4, k = 8, iters = 1)
    val q = emb.filter($"vec_id" === 2L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val shortlist = Similarity.ivfAdcTopK(emb, "vec_id", "embedding",
        model, q, kNN = 20, nProbe = 4, centEvery = 25)
      .collect().map(_.getLong(0)).toSet
    val got = Similarity.ivfAdcRerankTopK(emb, "vec_id", "embedding",
        model, q, kNN = 5, nProbe = 4, centEvery = 25, candidates = 20)
      .as[(Long, Long)].collect().toSeq
    assert(got.size == 5 && got.map(_._1).toSet.subsetOf(shortlist))
    // driver replay: exact quantized-L2 for every shortlist id
    val raw = emb.filter($"vec_id".isin(shortlist.toSeq: _*))
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val qq = q.map(x => math.round(x * model.quantScale))
    def sq(id: Long): Long = raw(id)
      .map(x => math.round(x * model.quantScale)).zip(qq)
      .map { case (a, b) => (a - b) * (a - b) }.sum
    val want = shortlist.toSeq.map(id => (id, sq(id)))
      .sortBy { case (id, d) => (d, id) }.take(5)
    assert(got == want, s"got $got want $want")
    intercept[IllegalArgumentException] {
      Similarity.ivfAdcRerankTopK(emb, "vec_id", "embedding", model, q,
        kNN = 5, nProbe = 4, centEvery = 25, candidates = 3)
    }
    Caches.sweep(spark)
  }

  test("ivfAdcRerankProbeLayout serves bit-identical results to the " +
      "inline rerank path") {
    // round 18 (s21): the persisted-layout rerank must reproduce
    // ivfAdcRerankTopK exactly — same shortlist (codes probe == inline
    // ADC by the s18 contract), same quantScale (read from the ident),
    // same exact-L2 rerank and tiebreaks.
    import spark.implicits._
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val model = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 4, k = 4, iters = 1)
    val layout = java.nio.file.Files
      .createTempDirectory("graft_s21_spec").toString + "/layout"
    Similarity.ivfAdcBuildLayout(emb, centEvery = 25, layout,
      "vec_id", "embedding", m = 4, k = 4, quantScale = 1000L)(model)
    val q = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val inline = Similarity.ivfAdcRerankTopK(emb, "vec_id", "embedding",
        model, q, kNN = 10, nProbe = 2, centEvery = 25, candidates = 20)
      .as[(Long, Long)].collect().toSeq
    val served = Similarity.ivfAdcRerankProbeLayout(spark, layout, emb,
        "vec_id", "embedding", q, kNN = 10, nProbe = 2, candidates = 20)
      .as[(Long, Long)].collect().toSeq
    assert(served == inline, s"served $served vs inline $inline")
    assert(served.nonEmpty && served.map(_._2) == served.map(_._2).sorted)
    Caches.sweep(spark)
  }

  test("IVFADC append: frozen-geometry codes are probed; crashed " +
      "append refuses serving, re-append, and is rebuilt") {
    // round 18 (s24): the ADC layout's ingest path — the appended
    // batch must be encoded with the BUILD-TIME codebook and become
    // visible to probes, and the sentinel crash discipline must match
    // the plain-IVF append's.
    import spark.implicits._
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val layout = java.nio.file.Files
      .createTempDirectory("graft_s24_spec").toString + "/layout"
    val base = emb.filter($"vec_id" < 400)
    def build(): Unit = Similarity.ivfAdcBuildLayout(base, centEvery = 25,
      layout, "vec_id", "embedding", m = 4, k = 4, quantScale = 1000L)(
      Similarity.pqTrain(base, "vec_id", "embedding", m = 4, k = 4,
        iters = 1))
    build()
    Similarity.ivfAdcAppendToLayout(emb.filter($"vec_id" >= 400), layout)
    val q = emb.filter($"vec_id" === 450L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val served = Similarity.ivfAdcProbeLayout(spark, layout, q,
      kNN = 10, nProbe = 2).collect().map(_.getLong(0))
    assert(served.contains(450L),
      s"appended vector invisible to the probe: ${served.mkString(",")}")
    // simulate a crash mid-append: sentinel ident on disk
    LayoutCrash.writeIdent(layout,
      "graft-ivfadc-appending! " + LayoutCrash.ident(layout))
    intercept[IllegalArgumentException] {
      Similarity.ivfAdcProbeLayout(spark, layout, q, kNN = 5, nProbe = 2)
        .collect()
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfAdcAppendToLayout(emb.filter($"vec_id" >= 400), layout)
    }
    // a rebuild mismatches the sentinel ident and recovers the layout
    build()
    val again = Similarity.ivfAdcProbeLayout(spark, layout, q,
      kNN = 10, nProbe = 2).collect().map(_.getLong(0))
    assert(!again.contains(450L), "rebuild from base must drop the batch")
    Caches.sweep(spark)
  }

  test("trained-coarse ADC layout serves bit-identical results to the " +
      "inline trained rerank stack; kind switch rebuilds") {
    // round 19 (r18 verdict #1): the trained quantizer composed into
    // the persisted tier must serve EXACTLY what the inline path
    // computes on the same trained cells — and flipping the quantizer
    // kind on an existing layout dir must rebuild (the ident stamps
    // coarse=trainedExact:<iters>), never silently ident-hit.
    import spark.implicits._
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val layout = java.nio.file.Files
      .createTempDirectory("graft_s25_spec").toString + "/layout"
    def model = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 4, k = 4, iters = 1)
    // modulo build first: the later trained build must MISMATCH it
    Similarity.ivfAdcBuildLayout(emb, centEvery = 25, layout,
      "vec_id", "embedding", m = 4, k = 4, quantScale = 1000L)(model)
    val moduloIdent = LayoutCrash.ident(layout)
    Similarity.ivfAdcBuildLayout(emb, centEvery = 25, layout,
      "vec_id", "embedding", m = 4, k = 4, quantScale = 1000L,
      trainedIters = 1)(model)
    assert(LayoutCrash.ident(layout) != moduloIdent,
      "kind switch must rebuild the layout")
    assert(LayoutCrash.ident(layout).contains("coarse=trainedExact:1"))
    val q = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val served = Similarity.ivfAdcRerankProbeLayout(spark, layout, emb,
        "vec_id", "embedding", q, kNN = 10, nProbe = 2, candidates = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val trained = Similarity.trainedCentroidsExactDequant(emb,
      centEvery = 25, iters = 1)
    val inline = Similarity.ivfAdcRerankTopK(emb, "vec_id", "embedding",
        model, q, kNN = 10, nProbe = 2, centEvery = 25, candidates = 20,
        centroids = Some(trained))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == inline,
      s"layout-served $served != inline trained $inline")
    Caches.sweep(spark)
  }

  test("layout append is idempotent under retry: double-append " +
      "fail-fasts, force is the only way to duplicate") {
    // round 19 (r18 verdict #2): an orchestrator RETRY of a committed
    // batch is the normal failure mode — without the ident guard it
    // silently appends the same rows twice and probes return duplicate
    // ids. Both append paths must refuse a batch whose +append hash is
    // already recorded; force = true is the explicit escape hatch.
    import spark.implicits._
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val base = emb.filter($"vec_id" < 400)
    val batch = emb.filter($"vec_id" >= 400)
    // ADC layout
    val adcDir = java.nio.file.Files
      .createTempDirectory("graft_idem_adc").toString + "/layout"
    Similarity.ivfAdcBuildLayout(base, centEvery = 25, adcDir,
      "vec_id", "embedding", m = 4, k = 4, quantScale = 1000L)(
      Similarity.pqTrain(base, "vec_id", "embedding", m = 4, k = 4,
        iters = 1))
    Similarity.ivfAdcAppendToLayout(batch, adcDir)
    val n1 = spark.read.parquet(s"$adcDir/codes").count()
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfAdcAppendToLayout(batch, adcDir)
    }
    assert(e1.getMessage.contains("already appended"))
    assert(spark.read.parquet(s"$adcDir/codes").count() == n1,
      "refused append must not have written anything")
    // the layout stays servable after the refusal (no sentinel left)
    val q = emb.filter($"vec_id" === 450L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    assert(Similarity.ivfAdcProbeLayout(spark, adcDir, q, kNN = 5,
      nProbe = 2).count() > 0)
    // forced re-append is the ONLY way to duplicate — and it does
    Similarity.ivfAdcAppendToLayout(batch, adcDir, force = true)
    assert(spark.read.parquet(s"$adcDir/codes").count() ==
      n1 + batch.count())
    // plain-IVF layout: same contract
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft_idem_ivf").toString + "/layout"
    Similarity.ivfBuildLayout(base, centEvery = 25, ivfDir)
    Similarity.ivfAppendToLayout(batch, ivfDir)
    val m1 = spark.read.parquet(ivfDir).count()
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfAppendToLayout(batch, ivfDir)
    }
    assert(e2.getMessage.contains("already appended"))
    assert(spark.read.parquet(ivfDir).count() == m1)
    Similarity.ivfAppendToLayout(batch, ivfDir, force = true)
    assert(spark.read.parquet(ivfDir).count() == m1 + batch.count())
    Caches.sweep(spark)
  }

  test("frozen-geometry append composes with the trained-coarse layout " +
      "(quantizer-agnostic ingest, ident carries both stamps)") {
    // round 19 (s27): ivfAdcAppendToLayout reads the layout's own
    // _centroids/_pqmodel without asking where the cells came from, so
    // the ingest path must work unchanged on a trainedExact layout —
    // and the ident must keep BOTH the quantizer-kind stamp (so a kind
    // switch still rebuilds) and the append hash (so a retry still
    // refuses).
    import spark.implicits._
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val base = emb.filter($"vec_id" < 400)
    val batch = emb.filter($"vec_id" >= 400)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_trapp").toString + "/layout"
    Similarity.ivfAdcBuildLayout(base, centEvery = 25, dir,
      "vec_id", "embedding", m = 4, k = 4, quantScale = 1000L,
      trainedIters = 1)(
      Similarity.pqTrain(base, "vec_id", "embedding", m = 4, k = 4,
        iters = 1))
    val nBase = spark.read.parquet(s"$dir/codes").count()
    Similarity.ivfAdcAppendToLayout(batch, dir)
    assert(spark.read.parquet(s"$dir/codes").count() ==
      nBase + batch.count())
    val ident = LayoutCrash.ident(dir)
    assert(ident.contains("coarse=trainedExact:1"),
      s"append must preserve the quantizer-kind stamp: '$ident'")
    assert(ident.contains("+append="),
      s"append must record its batch hash: '$ident'")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfAdcAppendToLayout(batch, dir)
    }
    assert(e.getMessage.contains("already appended"))
    // served results over base+appended match the oracle shape: k rows,
    // ascending adc, and the probe stays partition-pruned (PlanAudit
    // pins the plan; here we pin servability + row contract)
    val q = emb.filter($"vec_id" === 450L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val served = Similarity.ivfAdcProbeLayout(spark, dir, q, kNN = 10,
      nProbe = 2).collect()
    assert(served.length == 10)
    assert(served.map(_.getLong(1)).toSeq ==
      served.map(_.getLong(1)).sorted.toSeq, "adc must ascend")
    Caches.sweep(spark)
  }

  test("ivfL2RecallCompare plan is constant-size in the query count " +
      "(one leg per stage, not per query)") {
    // round 19 (r18 verdict #4): the eval harness must scale to its
    // 1000-query bound — the query batch rides ONE literal table
    // through every serving stage, so the optimized plan has the same
    // node count for 1 query as for 3 (a per-query union would grow
    // linearly and blow up compilation at the bound).
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val seeds = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("c_id"),
        org.apache.spark.sql.functions.expr(
          "transform(embedding, x -> " +
            "cast(round(cast(x as double) * 1000.0) as bigint))")
          .as("c_vq"))
    def planSize(ids: Seq[Long]): Int =
      Similarity.ivfL2RecallCompare(emb, seeds, seeds, ids, k = 5,
        nProbe = 4).queryExecution.optimizedPlan.collect { case p => p }.size
    assert(planSize(Seq(0L)) == planSize(Seq(0L, 1L, 2L)),
      "plan node count must not grow with the query batch")
    // and the set-based result matches the single-query serving API
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    val single = Similarity.ivfTopKL2Exact(emb, seeds, q, kNN = 5,
      nProbe = 4).collect().map(_.getLong(0)).toSet
    val batch = Similarity.ivfL2RecallCompare(emb, seeds, seeds,
      Seq(0L), k = 5, nProbe = 4).collect().head
    assert(batch.getLong(1) == 5 && batch.getLong(2) == batch.getLong(3))
    assert(single.size == 5)
    Caches.sweep(spark)
  }

  test("ivfCentroidsTrainedExact equals a driver-side Lloyd replay " +
      "(bit-exact, any partition order)") {
    // round 18 (s22): the engine-exact trained coarse quantizer —
    // integer squared-L2 assignment (ties to smallest cell id) +
    // floor(sum/count) updates + empty-cell carry — replayed entirely
    // on the driver from the collected quantized corpus; the cluster
    // result must match component-for-component.
    import spark.implicits._
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val got = Similarity.ivfCentroidsTrainedExact(emb, centEvery = 25,
        iters = 1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toSeq)))
      .toMap
    val corpus = emb
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.round(x * 1000L)).toArray)
      .toMap
    val seeds = corpus.keys.filter(_ % 25 == 0).toSeq.sorted
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val assign = corpus.map { case (id, v) =>
      id -> seeds.minBy(c => (sq(v, corpus(c)), c))
    }
    val want = seeds.map { c =>
      val members = assign.collect { case (id, cc) if cc == c => id }.toSeq
      val cent =
        if (members.isEmpty) corpus(c).toSeq
        else (0 until 64).map { j =>
          math.floor(members.map(id => corpus(id)(j)).sum.toDouble /
            members.size).toLong
        }
      c -> ((members.size.toLong, cent))
    }.toMap
    assert(got == want)
    Caches.sweep(spark)
  }

  test("mmr: near-duplicate loses to the diverse pick; λ=1 is pure relevance") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),    // a: top relevance
      (2L, Array(0.999f, 0.001f, 0.0f, 0.0f)), // b: near-dup of a
      (3L, Array(0.6f, 0.6f, 0.0f, 0.0f))      // c: diverse
    ).toDF("vec_id", "embedding")
    val q = Seq(0.9, 0.1, 0.0, 0.0)
    def picks(lambdaMicro: Long): Seq[Long] =
      Similarity.mmrTopK(emb, "vec_id", "embedding", q, poolSize = 3,
        k = 3, lambdaMicro = lambdaMicro)
        .orderBy($"rank").select($"id").as[Long].collect().toSeq
    // λ=0.5: a first (pure rel), then the near-dup b is penalized by its
    // a-similarity and the diverse c wins round 2
    assert(picks(500000L) == Seq(1L, 3L, 2L))
    // λ=1 (micro 1e6): the similarity term vanishes -> relevance order
    assert(picks(1000000L) == Seq(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      Similarity.mmrTopK(emb, "vec_id", "embedding", q, poolSize = 2, k = 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrTopK(emb, "vec_id", "embedding", q, poolSize = 3, k = 1,
        lambdaMicro = 2000000L)
    }
    Caches.sweep(spark)
  }

  test("embeddingMmd: identical clouds 0, unit shift 1, count-invariant " +
      "means, one-sided null, null rows excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def mmd(rows: Seq[(Boolean, Array[Float])]) =
      graft.operators.Similarity.embeddingMmd(
          rows.toDF("p", "embedding"), "embedding", col("p"))
        .as[(Long, Long, Long, Option[Double])].collect().head
    val e1 = Array(1f, 0f); val e2 = Array(0f, 1f); val z = Array(0f, 0f)
    // identical clouds: MMD^2 exactly 0
    assert(mmd(Seq(true -> e1, true -> e2, false -> e1, false -> e2)) ==
      ((2L, 2L, 0L, Some(0.0))))
    // unit mean shift: ||mu_P - mu_Q||^2 = 1 exactly
    assert(mmd(Seq(true -> e1, false -> z)) == ((1L, 1L, 1000000L,
      Some(1.0))))
    // duplicating P's rows leaves the MEAN (hence MMD) unchanged
    assert(mmd(Seq(true -> e1, true -> e1, false -> z))._4 == Some(1.0))
    // no Q side: null, never NaN
    assert(mmd(Seq(true -> e1, true -> e2))._4.isEmpty)
    // null embedding rows are excluded before quantization
    val withNull = Seq((true, Some(e1)), (false, Some(z)),
      (false, Option.empty[Array[Float]])).toDF("p", "embedding")
    val gn = graft.operators.Similarity.embeddingMmd(
        withNull, "embedding", col("p"))
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(gn == ((1L, 1L, 1000000L, Some(1.0))), gn.toString)
  }

  test("annRecallAtK: IVF's cell miss is measured, more probes recover it") {
    import spark.implicits._
    // 2 cells (centroids = ids 0 and 2): {0, 1} near the x axis,
    // {2, 3} near y. Query 1's EXACT top-2 = {0, 3}, but with
    // nProbe = 1 IVF only sees cell 0 = {0} -> recall 1/2; nProbe = 2
    // sees both cells -> recall 1
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 1L)
    val one = graft.operators.Similarity.annRecallAtK(
        emb, q, k = 2, nProbe = 1, centEvery = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(one == Seq((1L, 2L, 1L, 0.5)), one.toString)
    val two = graft.operators.Similarity.annRecallAtK(
        emb, q, k = 2, nProbe = 2, centEvery = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(two == Seq((1L, 2L, 2L, 1.0)), two.toString)
  }
}
