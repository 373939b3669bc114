package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  *  - `bruteForceTopK` is the exact baseline: broadcast the (small) query
  *    set against the corpus — one map-side pass over the corpus, a
  *    per-query top-k window; no corpus shuffle. Exact, O(|Q|·n·d).
  *  - `srpTopK` is the scale path: sign-random-projection LSH buckets
  *    (deterministic hyperplanes from a fixed seed). Corpus is bucketed
  *    once (could be written bucketed-by-signature for reuse); queries
  *    probe only their own bucket — at 100 TB this turns a full scan per
  *    query into a bucket-sized scan, trading recall for cost.
  *
  * All vector math uses codegen'd higher-order functions (`zip_with` +
  * `aggregate`) in double precision — no UDFs, no driver collection.
  */
object Similarity {

  /** Cosine similarity between two array<float>/array<double> columns,
    * accumulated in double in element order (custom Catalyst expression —
    * one JVM loop per row instead of three interpreted HOF passes). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.HashExprs.cosine_sim(a, b)

  /** Per-query top-k of scored pairs via the bounded-heap aggregate
    * ([[graft.functions.TopKAgg]]): each map partition reduces to ≤k rows
    * per query BEFORE the exchange — a window row_number() would shuffle
    * and sort every scored pair. Emits (q_id, n_id, cos, rn). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.top_k_by(col("cos"), col("n_id"), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), col("col.id").as("n_id"), col("col.score").as("cos"),
        (col("pos") + 1).cast("long").as("rn"))

  /** Exact top-k neighbors for each query vector. Ranking uses the rounded
    * cosine plus id tiebreak so results are deterministic across engines. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("n_id"), col(embCol).as("n_emb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 5))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining for contrastive training (DPR/E5-style): for
    * each query, the top-k corpus vectors whose cosine falls in the
    * semi-hard band [lo, hi) — similar enough to be informative
    * negatives, strictly below the positive/near-duplicate ceiling.
    * Same shape as [[bruteForceTopK]]: queries broadcast, band filter
    * prunes candidates map-side, the bounded heap leaves ≤k rows per
    * query before the exchange. The corpus side never shuffles; for
    * corpora where even one scan per mining run is too hot, feed the
    * candidate stream from [[ivfTopKFromLayout]]'s probed cells instead.
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, k: Int,
      lo: Double, hi: Double,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(lo < hi, s"empty band [$lo, $hi)")
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("n_id"), col(embCol).as("n_emb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 5))
      .filter(col("cos") >= lo && col("cos") < hi)
    topKPerQuery(scored, k)
  }

  /** Deterministic random hyperplanes: `nBits` × `dim`, components from
    * a seeded PRNG (public SRP-LSH construction). */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextGaussian())
  }

  /** SRP signature: bit i = sign(v · h_i). Expressed as a literal-array
    * dot product — constant-folded planes, codegen'd row math. */
  def srpSignature(emb: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      // codegen'd kernel (round 17) — the HOF aggregate/zip_with
      // encoding ran interpreted n·nBits times per corpus
      val dot = graft.functions.HashExprs.dot_num(emb, planeCol)
      when(dot > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Bucketed ANN: queries probe only their own SRP bucket; candidates are
    * ranked by exact cosine. Approximate — recall depends on nBits. */
  def srpTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int, dim: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(nBits, dim)
    val c = corpus.select(col(idCol).as("n_id"), col(embCol).as("n_emb"),
      srpSignature(col(embCol), planes).as("bucket"))
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"),
      srpSignature(col(embCol), planes).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 5))
    topKPerQuery(scored, k)
  }

  /** IVF (inverted-file) ANN: partition the corpus into Voronoi cells
    * around a deterministic centroid subset (every `centEvery`-th vector —
    * a seedless stand-in for k-means, keeping the oracle SQL-expressible),
    * then answer each query from its `nProbe` nearest cells only.
    *
    * Scale shape: centroids are tiny and broadcast twice (assignment +
    * probe); the corpus is scanned once for assignment (the n×|cent|
    * expansion is map-local until the one shuffle on `n_id`); the probe
    * join touches only `nProbe/|cent|` of the corpus per query. At 100 TB
    * the assignment would be written out partitioned by cell so repeated
    * query batches skip it entirely (partition pruning on `c_id`).
    *
    * All ranking uses round(cos, 5) + id tiebreaks — deterministic across
    * engines, exact-match verifiable against the same construction in SQL.
    */
  /** Deterministic centroid subset (every `centEvery`-th vector). */
  private[graft] def ivfCentroids(
      corpus: DataFrame, centEvery: Int, idCol: String, embCol: String): DataFrame =
    corpus.filter(col(idCol) % centEvery === 0)
      .select(col(idCol).as("c_id"), col(embCol).as("c_emb"))

  /** Cell assignment: per-vector argmax over the broadcast centroids via
    * the bounded-heap aggregate ([[graft.functions.TopKAgg]] at k=1 —
    * same contract: highest score, ties to the smallest id), with the
    * embedding carried through the SAME aggregate via `first(n_emb)`.
    *
    * NOT `max(struct(ccos, -c_id)) + first(n_emb)`: an agg list of ONLY
    * declarative immutable-buffer functions (struct-max, first over an
    * array) plans a SortAggregate — a FULL SORT of the n·|cells| scored
    * cross-join rows with the embedding payload carried through
    * (measured round 16 at sf1: 19.7s for the sort-agg formulation vs
    * 0.7s for the hash path on 16M scored rows). The heap buffer is a
    * TypedImperativeAggregate, whose presence upgrades the WHOLE
    * aggregate to ObjectHashAggregate — the argmax partial-aggregates
    * map-side and the declarative first() rides along hashed (the
    * ivfProbe mechanism, plan-pinned in ScaleSpec). */
  private def ivfAssign(
      corpus: DataFrame, cent: DataFrame,
      idCol: String, embCol: String): DataFrame =
    // SINGLE-SCAN CARRY is the measured winner (round-17 probe, see
    // PERF_PROBE "ivfAssign carry vs id-join"): the join variant pays a
    // second corpus scan plus BOTH-SIDES shuffle of an n-grain id join
    // just to re-attach the embedding, while first(n_emb) beside the
    // heap aggregate rides the SAME ObjectHashAggregate the argmax
    // already forces (a TypedImperativeAggregate in the list upgrades
    // the whole aggregate — the ivfProbe mechanism note) — so the carry
    // keeps one scan and one exchange, and at 100 TB the avoided
    // second scan is the dominant term.
    ivfAssignVariant(corpus, cent, idCol, embCol, carryEmb = true)

  /** Both formulations of the cell-assignment argmax, kept callable so
    * the probe (and any future re-measurement) times them against each
    * other on identical inputs; [[ivfAssign]] pins the winner. */
  private[graft] def ivfAssignVariant(
      corpus: DataFrame, cent: DataFrame,
      idCol: String, embCol: String, carryEmb: Boolean): DataFrame = {
    val src = corpus.select(col(idCol).as("n_id"), col(embCol).as("n_emb"))
    // FANOUT-AWARE PARALLELISM: the |cells|-way broadcast cross join
    // multiplies per-row work by a factor that GROWS with the corpus
    // (cells = corpus/centEvery), so an under-partitioned input — a
    // MB-scale corpus file arrives as 1-2 parquet splits — serializes
    // n·|cells| cosine evaluations onto one or two threads (measured
    // round 16: ~20s single-threaded at sf1 vs ~2s spread). Repartition
    // up to the session parallelism ONLY when the scan is narrower than
    // the core count; at 100 TB the corpus already carries far more
    // partitions than cores and this is a no-op.
    val para = corpus.sparkSession.sparkContext.defaultParallelism
    val fanned = if (src.rdd.getNumPartitions < para)
      src.repartition(para) else src
    val scored = fanned
      .crossJoin(broadcast(cent))
      .withColumn("ccos", round(cosine(col("n_emb"), col("c_emb")), 5))
    if (carryEmb) {
      // one scan, one exchange: the embedding rides the hash aggregate
      // beside the heap (safe from the SortAggregate trap — the
      // TypedImperativeAggregate upgrades the aggregate to
      // ObjectHashAggregate, plan-pinned in ScaleSpec)
      scored
        .groupBy(col("n_id"))
        .agg(graft.functions.TopKAgg.top_k_by(col("ccos"), col("c_id"), 1)
          .as("tk"), first(col("n_emb")).as("n_emb"))
        .select(col("n_id"), col("n_emb"),
          element_at(col("tk.id"), 1).as("c_id"))
    } else {
      // the round-16 formulation: slim argmax, then a second corpus
      // scan + n-grain id join to re-attach the embedding
      val best = scored
        .groupBy(col("n_id"))
        .agg(graft.functions.TopKAgg.top_k_by(col("ccos"), col("c_id"), 1)
          .as("tk"))
        .select(col("n_id"), element_at(col("tk.id"), 1).as("c_id"))
      corpus.select(col(idCol).as("n_id"), col(embCol).as("n_emb"))
        .join(best, Seq("n_id"))
        .select(col("n_id"), col("n_emb"), col("c_id"))
    }
  }

  /** Per-query probe cells: the `nProbe` nearest centroids. */
  private def ivfProbe(
      queries: DataFrame, cent: DataFrame, nProbe: Int,
      idCol: String, embCol: String): DataFrame =
    queries
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos", round(cosine(col("q_emb"), col("c_emb")), 5))
      .groupBy(col("q_id"))
      // carrying first(q_emb) through THIS aggregate is safe from the
      // round-16 SortAggregate trap: the heap aggregate is a
      // TypedImperativeAggregate, and its presence upgrades the whole
      // aggregate to ObjectHashAggregate — the declarative first() rides
      // along hashed (plan-pinned: the no-SortAggregate ScaleSpec test
      // covers s03/s17). The ivfAssign failure mode needed BOTH its
      // functions declarative-immutable (max(struct) + first) to fall to
      // SortAggregate. Keeping the carry means the possibly-remote query
      // batch scans ONCE (the s04/s09 single-scan serving pins).
      .agg(graft.functions.TopKAgg.top_k_by(col("ccos"), col("c_id"), nProbe)
        .as("tk"), first(col("q_emb")).as("q_emb"))
      .select(col("q_id"), col("q_emb"), explode(col("tk.id")).as("c_id"))

  /** Rank the probed cells' members by exact cosine per query; an
    * optional `band` keeps only cosines in [lo, hi) before the heap (the
    * hard-negative mining filter — map-side, so it prunes candidates
    * before any exchange). */
  private def ivfRank(
      assign: DataFrame, probe: DataFrame, k: Int,
      band: Option[(Double, Double)] = None): DataFrame = {
    val scored = assign.join(broadcast(probe), Seq("c_id"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 5))
    band.fold(scored) { case (lo, hi) =>
        scored.filter(col("cos") >= lo && col("cos") < hi)
      }
      .transform(topKPerQuery(_, k))
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, nProbe: Int,
      centEvery: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cent = ivfCentroids(corpus, centEvery, idCol, embCol)
    ivfRank(ivfAssign(corpus, cent, idCol, embCol),
      ivfProbe(queries, cent, nProbe, idCol, embCol), k)
  }

  /** ANN index-quality evaluation: per-query recall@k of the IVF index
    * ([[ivfTopK]]) against the exact brute-force ground truth
    * ([[bruteForceTopK]]) — the acceptance test every ANN deployment
    * runs before trusting an index (tune nProbe until measured recall
    * clears the bar, then serve). Both paths are deterministic, so the
    * recall numbers are part of the index's CONTRACT, not sampling
    * noise — a config change that degrades recall fails the gate.
    *
    * Recall counts ID-SET overlap (the standard ann-benchmarks
    * definition): a cosine tie broken differently by the two rankers
    * counts as a miss only if the IDs actually differ.
    *
    * Scale shape: ground truth is brute-force ONLY over the sampled
    * query batch (broadcast queries, map-side heap — the corpus never
    * shuffles; the point of an eval is that the sample is small), the
    * IVF side probes as in serving, and the comparison joins two
    * ≤|queries|·k row sets.
    *
    * @return one row per query: (q_id, n_exact, n_hit, recall) —
    *         n_exact ≤ k when the corpus is small, recall = round-4
    *         n_hit/n_exact.
    */
  def annRecallAtK(corpus: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int, centEvery: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k, idCol, embCol)
      .select(col("q_id"), col("n_id"))
    val approx = ivfTopK(corpus, queries, k, nProbe, centEvery, idCol, embCol)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "n_id"), "left_outer")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("q_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 4)
          .as("recall"))
  }

  /** Build the persisted IVF layout: cell assignment written partitioned
    * by cell id, plus the centroid table under `layoutDir/_centroids`
    * (underscore prefix = invisible to Spark's file index when the
    * assignment is read back, like `_SUCCESS`). Skipped when a layout
    * with a matching ident exists ([[PersistedLayout]]) — the whole
    * point of the layout is that assignment cost is paid ONCE and every
    * later query batch only probes. Carrying the centroids in the layout
    * means the serving path never touches the corpus at all.
    *
    * `centroids` chooses the cell construction: None = the deterministic
    * modulo subset (SQL-oracle-expressible, the s04 gate's path); Some =
    * any (c_id, c_emb) table, e.g. [[ivfCentroidsTrained]]'s Lloyd cells
    * — trained recall AND the persisted serving path together.
    */
  def ivfBuildLayout(
      corpus: DataFrame, centEvery: Int, layoutDir: String,
      idCol: String = "vec_id", embCol: String = "embedding",
      centroids: Option[DataFrame] = None): Unit = {
    // the ident pins the logical corpus (semanticHash of its plan:
    // source paths, filters, projection) and the cell construction — a
    // stale layout probed with fresh centroids would silently return
    // wrong neighbors. Data rewritten in place under the same path is the
    // caller's cache-invalidation to signal (delete the dir or key it by
    // file identity, as the s04 gate does).
    val centIdent = centroids
      .map(c => s"cent=${c.queryExecution.analyzed.semanticHash()}")
      .getOrElse(s"centEvery=$centEvery")
    val ident = s"graft-ivf-v2 $centIdent " +
      s"cols=$idCol/$embCol " + // code-affecting, invisible to the plan hash
      s"corpus=${corpus.queryExecution.analyzed.semanticHash()}"
    PersistedLayout.build(corpus.sparkSession, layoutDir, ident) {
      val cent = centroids.getOrElse(
        ivfCentroids(corpus, centEvery, idCol, embCol))
      Layout.clusterForWrite(ivfAssign(corpus, cent, idCol, embCol), "c_id")
        .write.mode("overwrite").partitionBy("c_id").parquet(layoutDir)
      // centroids AFTER the assignment: its overwrite recreates the dir
      cent.coalesce(1).write.mode("overwrite")
        .parquet(s"$layoutDir/_centroids")
    }
  }

  /** IVF over a PERSISTED layout: probes the cell-partitioned assignment
    * with a broadcast join on `c_id`, so the scan touches only the probed
    * cells' partitions (partition pruning; at 100 TB this is the serving
    * path: every batch reads `nProbe/|cells|` of the corpus). Builds the
    * layout only if absent — steady-state calls measure probe cost alone.
    * Shares every ranking stage with [[ivfTopK]], so the outputs are
    * identical by construction.
    */
  def ivfTopKFromLayout(
      corpus: DataFrame, queries: DataFrame, k: Int, nProbe: Int,
      centEvery: Int, layoutDir: String,
      idCol: String = "vec_id", embCol: String = "embedding",
      centroids: Option[DataFrame] = None): DataFrame = {
    val spark = corpus.sparkSession
    ivfBuildLayout(corpus, centEvery, layoutDir, idCol, embCol, centroids)
    // centroids come from the layout, not the corpus: steady-state probe
    // cost is a kB-sized centroid read + the probed cells' partitions —
    // the corpus parquet is never scanned on the serving path
    val cent = spark.read.parquet(s"$layoutDir/_centroids")
    val layout = spark.read.parquet(layoutDir)
    ivfRank(layout, ivfProbe(queries, cent, nProbe, idCol, embCol), k)
  }

  /** Incremental index maintenance: assign a NEW batch of vectors to the
    * layout's OWN centroid table and append it into the cell partitions —
    * the daily-ingest path, which never reads the existing corpus (cost =
    * one pass over the batch + a broadcast of kB-sized centroids). Cell
    * geometry is frozen at build time, the standard IVF contract: recall
    * drifts only as the ingested distribution drifts from the build-time
    * one, and a rebuild (or centroid re-train) resets it.
    *
    * Crash safety, identity and retry refusal: [[PersistedLayout.append]].
    * A later build call keyed to the ORIGINAL corpus mismatches the
    * extended ident and rebuilds. `force = true` re-appends a batch whose
    * plan is already recorded (e.g. a source whose content changed under
    * the same path — the tag keys the PLAN, not the bytes).
    */
  def ivfAppendToLayout(
      newVecs: DataFrame, layoutDir: String,
      idCol: String = "vec_id", embCol: String = "embedding",
      force: Boolean = false): Unit = {
    val spark = newVecs.sparkSession
    PersistedLayout.append(spark, layoutDir, IvfPrefix,
        PersistedLayout.batchTag(newVecs), force) {
      val cent = spark.read.parquet(s"$layoutDir/_centroids")
      Layout.clusterForWrite(ivfAssign(newVecs, cent, idCol, embCol), "c_id")
        .write.mode("append").partitionBy("c_id").parquet(layoutDir)
    }
  }

  private val IvfPrefix = "graft-ivf-v"

  /** Pure serving-path probe of an existing layout: no corpus argument at
    * all — reads the layout's centroid table plus the probed cells'
    * partitions and nothing else. Throws if the layout is absent or was
    * left without a valid ident (crashed build/append).
    */
  def ivfTopKServing(
      spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
      k: Int, nProbe: Int, layoutDir: String,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    PersistedLayout.requireServable(spark, layoutDir, IvfPrefix)
    val cent = spark.read.parquet(s"$layoutDir/_centroids")
    val layout = spark.read.parquet(layoutDir)
    ivfRank(layout, ivfProbe(queries, cent, nProbe, idCol, embCol), k)
  }

  /** Hard-negative mining fed from a PERSISTED IVF layout — the
    * corpus-free swap [[hardNegatives]]' scaladoc names: candidates come
    * from each query's `nProbe` probed cells instead of a full corpus
    * scan, so a mining run reads the layout's centroid table plus the
    * probed cells' partitions and NOTHING else (partition pruning — the
    * same serving story as [[ivfTopKServing]], with the semi-hard band
    * filter applied map-side before the bounded heap). The trade is
    * IVF recall: a negative whose cell the query does not probe is
    * invisible; `nProbe = |cells|` recovers full-scan mining exactly
    * (SimilaritySpec pins both properties).
    */
  def hardNegativesFromLayout(
      spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
      k: Int, lo: Double, hi: Double, nProbe: Int, layoutDir: String,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(lo < hi, s"empty band [$lo, $hi)")
    PersistedLayout.requireServable(spark, layoutDir, IvfPrefix)
    val cent = spark.read.parquet(s"$layoutDir/_centroids")
    val layout = spark.read.parquet(layoutDir)
    ivfRank(layout, ivfProbe(queries, cent, nProbe, idCol, embCol), k,
      band = Some((lo, hi)))
  }

  /** Lloyd-refined IVF centroids: start from the deterministic modulo
    * subset (same init as [[ivfCentroids]]), then run `iters` k-means
    * iterations as DataFrame jobs — assign every vector to its nearest
    * centroid (broadcast, map-side), recompute each cell's mean by
    * (cell, dimension) partial aggregation. Plain means serve as cosine
    * centroids (cosine normalizes magnitudes away).
    *
    * Scale shape per iteration: one corpus pass for assignment (the
    * n×|cent| expansion is map-local), one n×d-row shuffle keyed by
    * (c_id, pos) with map-side partial sums. At 100 TB you'd train on a
    * sample (`corpus.sample(...)`) — centroid quality converges long
    * before the full corpus is seen — and run assignment once at the end;
    * the training loop itself is unchanged.
    *
    * Not SQL-oracle-expressible (iterative); gated by the recall spec
    * (`SimilaritySpec`), which checks trained cells recall >= modulo
    * cells at equal nProbe on clustered data.
    */
  def ivfCentroidsTrained(
      corpus: DataFrame, centEvery: Int, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    // single-scan carry, the ivfAssign winner (round-17 probe): per
    // Lloyd iteration the join variant re-scans the (unpersisted)
    // corpus a second time and shuffles both sides of the n-grain id
    // join; the carry pays one scan and one exchange
    ivfCentroidsTrainedVariant(corpus, centEvery, iters, idCol, embCol,
      carryEmb = true)

  /** Both formulations of the Lloyd assignment step ([[ivfAssignVariant]]
    * rationale), kept for the probe; the public method pins the winner. */
  private[graft] def ivfCentroidsTrainedVariant(
      corpus: DataFrame, centEvery: Int, iters: Int,
      idCol: String, embCol: String, carryEmb: Boolean): DataFrame = {
    val c0 = corpus.select(col(idCol).as("n_id"),
      col(embCol).cast("array<double>").as("n_emb"))
    // fanout-aware parallelism + heap-aggregate argmax: the ivfAssign
    // rationale (round 16) — the |cells|-way fanout must not serialize
    // onto a 1-2-split scan, and the struct-max/first(emb) formulation
    // forced a SortAggregate over every scored pair per Lloyd iteration
    val para = corpus.sparkSession.sparkContext.defaultParallelism
    val c = if (c0.rdd.getNumPartitions < para) c0.repartition(para) else c0
    var cent = ivfCentroids(corpus, centEvery, idCol, embCol)
      .select(col("c_id"), col("c_emb").cast("array<double>").as("c_emb"))
    for (_ <- 1 to iters) {
      val scored = c.crossJoin(broadcast(cent))
        .withColumn("ccos", cosine(col("n_emb"), col("c_emb")))
      val assigned = if (carryEmb)
        scored.groupBy(col("n_id"))
          .agg(graft.functions.TopKAgg.top_k_by(col("ccos"), col("c_id"), 1)
            .as("tk"), first(col("n_emb")).as("n_emb"))
          .select(element_at(col("tk.id"), 1).as("c_id"), col("n_emb"))
      else {
        val best = scored.groupBy(col("n_id"))
          .agg(graft.functions.TopKAgg.top_k_by(col("ccos"), col("c_id"), 1)
            .as("tk"))
          .select(col("n_id"), element_at(col("tk.id"), 1).as("c_id"))
        c.join(best, Seq("n_id"))
          .select(col("c_id"), col("n_emb"))
      }
      // per-(cell, dim) mean — partial-aggregated map-side, so the
      // exchange carries |cent|·d rows, not n·d
      val updated = assigned
        .select(col("c_id"), posexplode(col("n_emb")).as(Seq("pos", "v")))
        .groupBy(col("c_id"), col("pos"))
        .agg(avg(col("v")).as("mv"))
        .groupBy(col("c_id"))
        .agg(sort_array(collect_list(struct(col("pos"), col("mv")))).as("pm"))
        .select(col("c_id"), col("pm.mv").as("new_emb"))
      // a cell that attracted no vectors keeps its previous centroid —
      // groupBy would silently drop it and shrink the cell count below
      // what the caller sized nProbe against
      cent = cent.select(col("c_id"), col("c_emb").as("old_emb"))
        .join(updated, Seq("c_id"), "left")
        .select(col("c_id"),
          coalesce(col("new_emb"), col("old_emb")).as("c_emb"))
        // materialize each Lloyd iteration (same pattern as
        // GraphOps.pageRank): left lazy, iteration N's broadcast nests
        // iteration N-1's whole corpus pass as a broadcast-inside-
        // broadcast tower, replanned at every consumer. The centroid
        // table is |cent| rows, so the checkpoint is ~free and each
        // iteration becomes one self-contained job.
        .localCheckpoint(true)
    }
    cent
  }

  /** ENGINE-EXACT trained IVF cells (round 18) — the Lloyd-trained
    * coarse quantizer as an ORACLE-REPLAYABLE computation.
    * [[ivfCentroidsTrained]] is the production default but trains on
    * raw double cosine + double means, whose last-ulp freedom an
    * independent engine cannot replay bit-for-bit — which is why
    * trained cells stayed spec-gated only. This variant applies the
    * [[pqTrain]] determinism discipline at the COARSE level: vectors
    * quantize to longs, assignment is the exact integer squared-L2
    * (the FAISS IVF default coarse metric) through the codegen'd
    * [[graft.functions.HashExprs.SqDistLL]] kernel with ties to the
    * smallest cell id, and the centroid update is `floor(sum/count)`
    * per dimension over exact integer sums — bit-identical in any
    * engine and partition order, so the trained table ITSELF is a
    * DuckDB-gated contract (s22). Seeds are the modulo subset; an
    * empty cell keeps its previous centroid (the
    * [[ivfCentroidsTrained]] rule). `c_vq / quantScale` feeds the
    * cosine serving stack where doubles are wanted.
    *
    * Exactness envelope (ADVICE r18): the centroid update relies on
    * `floor(sum(long) / count)` with the sum cast to double, which is
    * exact only while every per-(cell,dim) sum satisfies
    * `|sum| <= members · quantScale · max|x| < 2^53` (and the raw long
    * sum never wraps 2^63 — Spark's non-ANSI sum wraps silently). The
    * update raises executor-side the moment a sum crosses 2^53; callers
    * training beyond that envelope lower `quantScale` or train on a
    * bounded sample (the 100 TB stance anyway — centroids converge long
    * before the full corpus is seen).
    *
    * Scale shape: per iteration ONE corpus pass — broadcast centroids,
    * the single-scan `first(vq)` carry through the ObjectHashAggregate
    * argmin (the ivfAssign winner, round-17 probe) — into a
    * (cell, dim)-grain map-combined sum whose exchange carries
    * |cells|·d rows regardless of corpus size; the corpus never
    * shuffles.
    *
    * @return (c_id, members, c_vq) — members = the size of the final
    *         update's assignment (0 for a cell that attracted none).
    */
  def ivfCentroidsTrainedExact(corpus: DataFrame, centEvery: Int,
      iters: Int = 1, idCol: String = "vec_id",
      embCol: String = "embedding", quantScale: Long = 1000L): DataFrame = {
    require(centEvery >= 1 && iters >= 1,
      s"bad params centEvery=$centEvery iters=$iters (iters >= 1: the " +
        "members column is defined by the final assignment)")
    val vq0 = vqProjected(corpus, idCol, embCol, quantScale)
    // fanout-aware parallelism: the |cells|-way fanout must not
    // serialize onto a 1-2-split scan (the ivfAssign rationale)
    val para = corpus.sparkSession.sparkContext.defaultParallelism
    val vq = if (vq0.rdd.getNumPartitions < para)
      vq0.repartition(para) else vq0
    var cent = vq.filter(col("id") % centEvery === 0)
      .select(col("id").as("c_id"), col("vq").as("c_vq"))
      .withColumn("members", lit(0L))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val assigned = trainedExactAssignment(vq, cent)
        .select(col("c_id"), col("vq"))
      val updated = assigned
        .select(col("c_id"), posexplode(col("vq")).as(Seq("pos", "v")))
        .groupBy(col("c_id"), col("pos"))
        // exactness guard (ADVICE r18): floor(sum/count) is exact only
        // while the per-(cell,dim) long sum stays below 2^53 — the
        // double cast silently loses ulps past that, and Spark's
        // non-ANSI long sum would wrap at 2^63 without error, so the
        // "bit-identical in any engine" contract fails OPEN. Envelope:
        // |sum| <= members · quantScale · max|x|, checked at runtime
        // and raised executor-side the moment a sum leaves it.
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
        .select(col("c_id"), col("pos"),
          when(abs(col("sv")) >= lit(1L << 53), raise_error(concat(
            lit("ivfCentroidsTrainedExact: per-(cell,dim) integer sum "),
            col("sv").cast("string"),
            lit(" exceeds 2^53 — floor(sum/count) is no longer exact; " +
              "lower quantScale or train on a bounded sample"))))
            .otherwise(floor(col("sv").cast("double") / col("cnt"))
              .cast("long")).as("mv"),
          col("cnt"))
        // members ride the SAME aggregate: cnt at every (cell, pos) IS
        // the cell's member count (each member contributes each of its
        // d positions), so a second count-per-cell pass over a
        // persisted assignment — one persist, one aggregate, one join
        // per iteration — bought nothing (round 20)
        .groupBy(col("c_id"))
        .agg(sort_array(collect_list(struct(col("pos"), col("mv")))).as("pm"),
          max(col("cnt")).as("m_new"))
        .select(col("c_id"), col("pm.mv").as("new_vq"), col("m_new"))
      cent = cent.select(col("c_id"), col("c_vq").as("old_vq"))
        .join(updated, Seq("c_id"), "left")
        .select(col("c_id"),
          coalesce(col("new_vq"), col("old_vq")).as("c_vq"),
          coalesce(col("m_new"), lit(0L)).as("members"))
        .localCheckpoint(true)
    }
    cent.select(col("c_id"), col("members"), col("c_vq"))
  }

  /** ONE Lloyd iteration's assignment plan — broadcast centroids into
    * the codegen'd integer-L2 kernel, argmin = max(-ld) through the
    * bounded-heap ObjectHashAggregate with the vq payload carried via
    * first() (ties to the smallest cell id; -ld exact in double:
    * |ld| << 2^53). Package-private so ScaleSpec pins THIS plan — the
    * trainer runs it eagerly behind localCheckpoint, so the gate's
    * executed plan shows only the checkpoint scan and a pin there
    * would be vacuous (ADVICE r18). */
  private[graft] def trainedExactAssignment(vq: DataFrame,
      cent: DataFrame): DataFrame =
    vq.crossJoin(broadcast(cent.select(col("c_id"), col("c_vq"))))
      .withColumn("ld", sqDist(col("vq"), col("c_vq")))
      .groupBy(col("id"))
      .agg(graft.functions.TopKAgg.top_k_by(
        -col("ld").cast("double"), col("c_id"), 1).as("tk"),
        first(col("vq")).as("vq"))
      .select(col("id"), element_at(col("tk.id"), 1).as("c_id"), col("vq"))

  /** The FIRST training iteration's assignment over a corpus — the
    * ScaleSpec entry point for pinning [[trainedExactAssignment]]'s
    * plan with the same vq projection and modulo seeds the trainer
    * starts from. */
  private[graft] def trainedExactFirstAssignment(corpus: DataFrame,
      centEvery: Int, idCol: String = "vec_id",
      embCol: String = "embedding", quantScale: Long = 1000L): DataFrame = {
    val vq = vqProjected(corpus, idCol, embCol, quantScale)
    val cent = vq.filter(col("id") % centEvery === 0)
      .select(col("id").as("c_id"), col("vq").as("c_vq"))
    trainedExactAssignment(vq, cent)
  }

  /** [[ivfCentroidsTrainedExact]]'s cells DEQUANTIZED into the cosine
    * serving stack's (c_id, c_emb) shape: each component is an exact
    * integer divided by `quantScale`, so the double table is the SAME
    * in any engine (`c / 1000.0` is one IEEE op on an exactly-
    * representable integer) and everything downstream of it — cosine
    * cell ranking, assignment, ADC — stays oracle-replayable. This is
    * the bridge that lets the trained quantizer drive the UNCHANGED
    * IVFADC build/serve machinery (round 19, r18 verdict #1). */
  def trainedCentroidsExactDequant(corpus: DataFrame, centEvery: Int,
      iters: Int = 1, idCol: String = "vec_id",
      embCol: String = "embedding", quantScale: Long = 1000L): DataFrame =
    ivfCentroidsTrainedExact(corpus, centEvery, iters, idCol, embCol,
        quantScale)
      .select(col("c_id"),
        transform(col("c_vq"), v => v.cast("double") / quantScale.toDouble)
          .as("c_emb"))

  /** IVF top-k under the EXACT integer squared-L2 metric over an
    * arbitrary quantized centroid table — the serving counterpart of
    * [[ivfCentroidsTrainedExact]] (and of modulo seeds quantized the
    * same way): cells rank by exact L2 of centroid vs query, vectors
    * assign to their exact-L2-argmin cell (ties to the smallest cell
    * id), the probed cells' members score exactly. Every comparison is
    * integer-exact, so the result — and any recall computed from it —
    * is bit-identical in any engine (the s22 discipline carried through
    * serving; the cosine stack keeps [[ivfTopK]]).
    *
    * Scale shape: one corpus pass for assignment (broadcast centroids,
    * ObjectHashAggregate argmin carry), probed members ride a broadcast
    * semi-join, one TakeOrderedAndProject. At 100 TB the assignment is
    * the persisted layout and serving touches nProbe/|cells| of it.
    *
    * @return (id, dist) — exact integer squared-L2 ascending, ties by
    *         id, ≤ kNN rows from the probed cells.
    */
  def ivfTopKL2Exact(corpus: DataFrame, cent: DataFrame,
      query: Seq[Double], kNN: Int, nProbe: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      quantScale: Long = 1000L): DataFrame = {
    require(kNN >= 1 && nProbe >= 1, s"bad params kNN=$kNN nProbe=$nProbe")
    val vq0 = vqProjected(corpus, idCol, embCol, quantScale)
    val para = corpus.sparkSession.sparkContext.defaultParallelism
    val vq = if (vq0.rdd.getNumPartitions < para)
      vq0.repartition(para) else vq0
    val qq = query.map(x => math.round(x * quantScale))
    val qLit = array(qq.map(lit): _*)
    val c = cent.select(col("c_id"), col("c_vq"))
    val cells = c
      .select(col("c_id"), sqDist(col("c_vq"), qLit).as("qld"))
      .orderBy(col("qld"), col("c_id"))
      .limit(nProbe).select(col("c_id"))
    val assigned = vq.crossJoin(broadcast(c))
      .withColumn("ld", sqDist(col("vq"), col("c_vq")))
      .groupBy(col("id"))
      .agg(graft.functions.TopKAgg.top_k_by(
        -col("ld").cast("double"), col("c_id"), 1).as("tk"),
        first(col("vq")).as("vq"))
      .select(col("id"), element_at(col("tk.id"), 1).as("c_id"), col("vq"))
    assigned.join(broadcast(cells), Seq("c_id"), "left_semi")
      .select(col("id"), sqDist(col("vq"), qLit).as("dist"))
      .orderBy(col("dist"), col("id"))
      .limit(kNN)
  }

  /** Batch [[ivfTopKL2Exact]]: the SAME serving semantics (exact
    * integer-L2 probe, assignment, in-cell rank, every tie to the
    * smallest id) against a bounded (q_id, qv) query table in ONE plan
    * — probe cells and final rank ride the bounded-heap aggregate per
    * q_id instead of a per-query `orderBy().limit()` leg, so the plan
    * is CONSTANT-SIZE in the query count (the s16 `annRecallAtK`
    * shape; a per-query union of subplans blows plan compilation up
    * long before the data does — ADVICE-adjacent r18 finding #2).
    * `-dist` rides the heap as an exact double (|dist| << 2^53).
    * @return (q_id, id) — each query's k nearest probed members. */
  private def ivfTopKL2ExactBatch(vq: DataFrame, cent: DataFrame,
      qdf: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val c = cent.select(col("c_id"), col("c_vq"))
    val cells = qdf.crossJoin(broadcast(c))
      .select(col("q_id"), col("c_id"),
        sqDist(col("qv"), col("c_vq")).as("qld"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.top_k_by(
        -col("qld").cast("double"), col("c_id"), nProbe).as("tk"))
      .select(col("q_id"), explode(col("tk.id")).as("c_id"))
    val assigned = vq.crossJoin(broadcast(c))
      .withColumn("ld", sqDist(col("vq"), col("c_vq")))
      .groupBy(col("id"))
      .agg(graft.functions.TopKAgg.top_k_by(
        -col("ld").cast("double"), col("c_id"), 1).as("tk"),
        first(col("vq")).as("vq"))
      .select(col("id"), element_at(col("tk.id"), 1).as("c_id"), col("vq"))
    assigned.join(broadcast(cells), Seq("c_id"))
      .join(broadcast(qdf), Seq("q_id"))
      .select(col("q_id"), col("id"),
        sqDist(col("vq"), col("qv")).as("dist"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.top_k_by(
        -col("dist").cast("double"), col("id"), k).as("tk"))
      .select(col("q_id"), explode(col("tk.id")).as("id"))
  }

  /** Recall@k of [[ivfTopKL2Exact]] under TWO centroid tables on the
    * same corpus and queries — the oracle-replayable "what does
    * training BUY" comparison (s23): ground truth is the exact
    * integer-L2 top-k over the full corpus; both cell sets serve at the
    * same nProbe. Everything integer-exact end to end, so per-query
    * recalls are CONTRACT in any engine. SET-BASED (round 19): the
    * query batch enters as one bounded literal table joined through
    * every stage, so the plan holds ONE leg per serving stage — not
    * one per query; at the 1000-query bound the old per-query-union
    * shape was a 1000-leg plan that blew up compilation long before
    * the data did (r18 finding #2).
    *
    * @return one row per query: (q_id, n_exact, hits_a, hits_b,
    *         recall_a, recall_b, b_not_worse) for centroid tables a and
    *         b — `b_not_worse` is the per-query contract that the B
    *         cells (trained, in s23) never lose recall vs A.
    */
  def ivfL2RecallCompare(corpus: DataFrame, centA: DataFrame,
      centB: DataFrame, queryIds: Seq[Long], k: Int, nProbe: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      quantScale: Long = 1000L): DataFrame = {
    require(queryIds.nonEmpty && queryIds.size <= 1000,
      s"queryIds is the bounded eval batch (got ${queryIds.size})")
    val spark = corpus.sparkSession
    import spark.implicits._
    // fanout-aware parallelism (the ivfAssign rationale): the |cells|-
    // and |queries|-way broadcast cross joins must not serialize onto a
    // 1-2-split scan
    val vq0 = vqProjected(corpus, idCol, embCol, quantScale)
    val para = corpus.sparkSession.sparkContext.defaultParallelism
    val vq = if (vq0.rdd.getNumPartitions < para)
      vq0.repartition(para) else vq0
    val qVecs = corpus.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).cast("long").as("qid"),
        col(embCol).cast("array<double>").as("qv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val missing = queryIds.filterNot(qVecs.contains)
    require(missing.isEmpty,
      s"query ids not present in the corpus: ${missing.mkString(", ")}")
    // the bounded query batch as ONE literal quantized table — joined
    // (broadcast) through every stage instead of unrolled into legs
    val qdf = queryIds
      .map(qid => (qid, qVecs(qid).map(x => math.round(x * quantScale))))
      .toDF("q_id", "qv")
    val exact = vq.crossJoin(broadcast(qdf))
      .select(col("q_id"), col("id"),
        sqDist(col("vq"), col("qv")).as("dist"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.top_k_by(
        -col("dist").cast("double"), col("id"), k).as("tk"))
      .select(col("q_id"), explode(col("tk.id")).as("id"))
    def hits(cent: DataFrame, tag: String) =
      ivfTopKL2ExactBatch(vq, cent, qdf, k, nProbe)
        .select(col("q_id"), col("id"), lit(1L).as(tag))
    exact
      .join(hits(centA, "ha"), Seq("q_id", "id"), "left_outer")
      .join(hits(centB, "hb"), Seq("q_id", "id"), "left_outer")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("ha"), lit(0L))).as("hits_a"),
        sum(coalesce(col("hb"), lit(0L))).as("hits_b"))
      .select(col("q_id"), col("n_exact"), col("hits_a"),
        col("hits_b"),
        round(col("hits_a").cast("double") / col("n_exact").cast("double"),
          4).as("recall_a"),
        round(col("hits_b").cast("double") / col("n_exact").cast("double"),
          4).as("recall_b"),
        (col("hits_b") >= col("hits_a")).as("b_not_worse"))
  }

  /** Symmetric per-vector int8 quantization (max-abs scaling — the
    * standard embedding-storage compression): `q_i = round(x_i / scale)`,
    * `scale = max|x| / 127`. 4× smaller than float32 at ~1e-3 cosine
    * error; at 100 TB the quantized column is what gets stored and
    * shipped, with `scale` alongside for dequantization. Map-only. */
  def quantizeInt8(emb: Column): Column =
    // the max-abs reduction runs ONCE via aggregate's finish lambda —
    // inlining it into the per-element transform would re-evaluate the
    // whole-array aggregate per element (O(d²) per row). Zero vectors
    // quantize to all-zero q with scale 0 instead of NaN-poisoning.
    aggregate(emb, lit(0.0), (a, x) => greatest(a, abs(x)), m => {
      val scale = m / 127.0
      struct(
        scale.as("scale"),
        transform(emb, x =>
          when(m === 0.0, lit(0)).otherwise(round(x / scale).cast("int")))
          .as("q"))
    })

  /** Dequantize an int8-quantized vector back to doubles. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, v => v.cast("double") * scale)

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023, public):
    * cluster the corpus into IVF cells, compare embeddings ONLY within a
    * cell, and drop every vector that has a lower-id in-cell neighbor
    * with cosine >= `threshold`. The cells bound the quadratic: per-cell
    * all-pairs is the SemDeDup design point, with |cells| scaled so a
    * cell holds ~10-100k vectors at 100 TB — the cross-cell comparisons
    * an exact pass would make are precisely what the method trades away.
    *
    * Shapes: one corpus pass for assignment (broadcast centroids), the
    * assignment persisted once (self-join + keep-marking all read the
    * cache), one c_id-keyed shuffle for the within-cell self-join, and
    * an anti-join of the persisted dropped set (broadcast by AQE when
    * its runtime size allows). Returns
    * (n_id, keep) — keep = false iff a lower-id in-cell near-duplicate
    * exists. Default modulo centroids keep it SQL-oracle-expressible
    * (s05); pass [[ivfCentroidsTrained]] cells via `centroids` for the
    * production clustering (same assignment machinery).
    */
  def semanticDedup(
      corpus: DataFrame, threshold: Double, centEvery: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      centroids: Option[DataFrame] = None): DataFrame = {
    val cent = centroids.getOrElse(
      ivfCentroids(corpus, centEvery, idCol, embCol))
    val assign = ivfAssign(corpus, cent, idCol, embCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assign.select(col("n_id"), col("n_emb"), col("c_id"))
    val b = assign.select(col("n_id").as("m_id"), col("n_emb").as("m_emb"),
      col("c_id"))
    // dropped is consumed twice (anti-join + union) — persist so the
    // within-cell O(cell²) self-join runs once. It is an ids-only
    // projection; no broadcast hint, because at aggressive thresholds it
    // can be a large fraction of the corpus — AQE broadcasts it when its
    // runtime size allows
    val dropped = a.join(b, Seq("c_id"))
      .filter(col("m_id") < col("n_id"))
      .filter(round(cosine(col("n_emb"), col("m_emb")), 5) >= threshold)
      .select(col("n_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assign.select(col("n_id"))
      .join(dropped, Seq("n_id"), "left_anti")
      .withColumn("keep", lit(true))
      .unionByName(dropped.withColumn("keep", lit(false)))
  }

  /** IVF with Lloyd-trained cells — the production default ([[ivfTopK]]'s
    * modulo cells exist to stay SQL-oracle-expressible; trained cells give
    * strictly better recall on clustered real embeddings). */
  def ivfTopKTrained(
      corpus: DataFrame, queries: DataFrame, k: Int, nProbe: Int,
      centEvery: Int, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cent = ivfCentroidsTrained(corpus, centEvery, iters, idCol, embCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfRank(ivfAssign(corpus, cent, idCol, embCol),
      ivfProbe(queries, cent, nProbe, idCol, embCol), k)
  }

  /** Top principal direction of the (uncentered) embedding Gram matrix
    * by distributed power iteration, plus every vector's projection onto
    * it — the "all-but-the-top" embedding post-processing primitive
    * (Mu & Viswanath ICLR'18: raw embedding sets share a large common
    * direction; removing it improves downstream similarity), and the
    * one-component case of PCA whitening/compression.
    *
    * ENGINEERED INTEGER-EXACT, the t32 determinism discipline taken one
    * step further: embeddings quantize to `round(x * quantScale)` longs,
    * so the Gram accumulation is an INTEGER sum — bit-exact in any
    * summation order (no float-order nondeterminism across partitions,
    * reps, or engines). The power iteration runs on the driver over the
    * collected d×d Gram (d² longs — bounded metadata, the BPE-argmax
    * contract), each step renormalizing to integer-quantized components
    * `round(u_i / ||u|| * wScale)`: the only float steps (one sqrt, one
    * divide) hit identical operands in every engine, and the quantized
    * result erases their last-ulp freedom. Projections are then again
    * exact integer dot products. Sign is canonicalized so the
    * largest-|component| (lowest index on ties) is positive. The
    * driver-side matvec accumulates in BigInt (Gram entries scale with
    * row count and w with wScale, so a Long Σ G_ij·w_j would wrap near
    * ~1e5 unit-norm rows — far earlier than the Gram itself).
    *
    * Scale shape: ONE map-side pass explodes each vector into its d²
    * index pairs and the Gram groupBy is map-combined — shuffle volume
    * is partitions × d², independent of row count; the projection pass
    * is a map-only broadcast-literal dot product. Overflow bounds: the
    * distributed Gram sum is Long — |x|≲10 ⇒ entries ≲ (10·quantScale)²
    * per row ⇒ 1e10·rows must stay under 2^63, fine to ~1e8 rows at the
    * default scale (drop quantScale for larger corpora); the driver
    * matvec multiplies those entries by w≤wScale and is therefore
    * BigInt, exact at any size. The projection Σ q(x)·w stays Long:
    * d·(10·quantScale)·wScale ≈ 6e12 per row, comfortably in range.
    *
    * @return (id, proj) with `proj = Σ q(x_i)·w_i` as BIGINT (exact),
    *         where w is the quantized unit direction after `iters`
    *         power steps from the all-ones start.
    */
  /** Per-dimension standardization (z-normalization) of an embedding
    * column — the whitening-lite preprocessing next to
    * [[topComponentProjection]]'s common-direction removal: each
    * dimension is centered on its corpus mean and scaled by its corpus
    * standard deviation, so no dimension dominates downstream distances.
    *
    * ENGINEERED ENGINE-EXACT (the s10/t32 discipline): embeddings
    * quantize to `round(x·quantScale)` longs, the per-dimension moments
    * (Σv, Σv², n) are INTEGER sums — bit-exact in any summation order —
    * and the float steps (mean, variance, sqrt, the per-element
    * (v−μ)/σ) all see identical integer-derived operands in every
    * engine. A non-positive variance (constant dimension) maps to 0
    * output, guarded identically on both sides. Vectors must share one
    * length — dimensionality is inferred from the first row and ragged
    * input throws (checked off the d-grain stats, no extra job).
    *
    * Scale shape: ONE posexplode pass into a d-grain map-combined
    * aggregate (d rows — bounded metadata, collected like the s10
    * Gram), then a map-only zip_with against the broadcast-literal
    * μ/σ arrays. No row-grain shuffle anywhere.
    *
    * @return (id, norm) with `norm(i) = (q(x_i) − μ_i)/σ_i` as doubles.
    */
  def standardizeDims(
      emb: DataFrame, idCol: String = "vec_id", embCol: String = "embedding",
      quantScale: Long = 1000L): DataFrame = {
    val vq = emb.select(col(idCol).as("id"),
      expr(s"transform($embCol, x -> " +
        s"cast(round(cast(x as double) * $quantScale.0) as bigint))")
        .as("vq"))
    val d = vq.select(size(col("vq"))).head().getInt(0)
    val stats = vq
      .select(posexplode(col("vq")).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(sum(col("v")).as("s"), sum(col("v") * col("v")).as("s2"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // ragged-array guard, free off the already-collected d-grain stats:
    // `d` is inferred from ONE row, so a longer row elsewhere shows up
    // as dimension indexes >= d, and a shorter one as unequal per-dim
    // counts — either would otherwise zip_with null-pad silently (long
    // rows) or NPE in the driver stats map (short rows), not fail loudly
    require(stats.keySet == (0 until d).toSet &&
      stats.values.map(_._3).toSet.size <= 1,
      s"standardizeDims: ragged embedding arrays — expected every vector " +
        s"to have length $d (inferred from the first row); found dims " +
        s"${stats.keySet.size} with per-dim counts ${stats.values.map(_._3).toSet.mkString(",")}")
    val mu = Array.tabulate(d) { i => val (s, _, n) = stats(i); s.toDouble / n }
    val sd = Array.tabulate(d) { i =>
      val (_, s2, n) = stats(i)
      val v = s2.toDouble / n - mu(i) * mu(i)
      if (v > 0) math.sqrt(v) else 0.0
    }
    // codegen'd kernel (round-18 sweep): value-identical to the nested
    // zip_with pair it replaces, including the σ=0 → 0.0 guard and the
    // pad/poison null semantics (spec-pinned in PipelineOpsSpec)
    vq.select(col("id"),
      graft.functions.HashExprs.center_scale(col("vq"),
        array(mu.map(lit): _*), array(sd.map(lit): _*)).as("norm"))
  }

  def topComponentProjection(
      emb: DataFrame, idCol: String = "vec_id", embCol: String = "embedding",
      iters: Int = 3, quantScale: Long = 1000L,
      wScale: Long = 1000000L): DataFrame = {
    require(iters >= 1)
    val spark = emb.sparkSession
    // float→double is exact, then one double multiply + round: identical
    // operand, identical result in any engine (float*int coercion is NOT
    // — Spark widens to double, other engines may multiply in float)
    val vq = emb.select(col(idCol).as("id"),
      expr(s"transform($embCol, x -> " +
        s"cast(round(cast(x as double) * $quantScale.0) as bigint))")
        .as("vq"))
    // d from one row (driver scalar, same contract as pageRank's N)
    val d = vq.select(size(col("vq"))).head().getInt(0)
    // Gram: map-side explode to (i, j, vi*vj), map-combined integer sum —
    // 4096 groups at d=64 regardless of corpus size
    val gram = vq
      .select(posexplode(col("vq")).as(Seq("i", "vi")), col("vq"))
      .select(col("i"), posexplode(col("vq")).as(Seq("j", "vj")), col("vi"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("vi") * col("vj")).as("g"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    def matvec(w: Array[Long]): Array[Long] = {
      // u_i = Σ_j G_ij w_j exactly IN BIGINT: Gram entries grow with row
      // count (~rows·quantScale²·|x|²) and w_j reaches wScale, so the
      // product Σ can pass 2^63 around ~1e5 unit-norm rows — a Long here
      // would wrap silently into a wrong principal direction. BigInt
      // keeps the accumulation exact at any corpus size; the requantize
      // divides it straight back to wScale range. BigInt→Double is
      // round-to-nearest, the same semantics as a BIGINT/HUGEINT→DOUBLE
      // cast, so the one float step sees identical operands everywhere.
      // Requantization runs u/||u|| in FIXED index order (the oracle
      // replays the same order).
      val u = Array.tabulate(d)(i =>
        (0 until d).foldLeft(BigInt(0))((acc, j) =>
          acc + BigInt(gram((i, j))) * w(j)))
      val norm = math.sqrt(u.foldLeft(0.0)((acc, x) => {
        val xs = x.toDouble / wScale; acc + xs * xs
      })) * wScale
      Array.tabulate(d)(i => math.round(u(i).toDouble / norm * wScale))
    }
    var w = Array.fill(d)(wScale)
    for (_ <- 1 to iters) w = matvec(w)
    // canonical sign: largest |w_i| (lowest index on ties) positive
    val lead = (0 until d).maxBy(i => (math.abs(w(i)), -i))
    if (w(lead) < 0) w = w.map(-_)
    val wLit = array(w.map(lit): _*)
    vq.withColumn("wq", wLit)
      .select(col("id"),
        graft.functions.HashExprs.dot_ll(col("vq"), col("wq")).as("proj"))
  }

  /** A trained product-quantization codebook: `cents(sub)(code)` is the
    * centroid of subspace `sub` (each an Array of `subDim` quantized-long
    * components). Driver-resident by design — m·k·subDim longs is
    * bounded metadata (64 centroids × 16 dims here; even a production
    * 16×256 book is 4k small arrays), the same contract as the s10 Gram
    * matrix, and holding it as literals is what makes encode and ADC
    * scoring pure map work with ZERO shuffles over the corpus. */
  final case class PqModel(m: Int, subDim: Int, k: Int, quantScale: Long,
      cents: Array[Array[Array[Long]]]) {
    require(cents.length == m && cents.forall(_.length == k) &&
      cents.forall(_.forall(_.length == subDim)), "malformed codebook")
  }

  /** Quantized-long projection shared by the PQ surfaces: float→double
    * is exact, one double multiply + round — identical operands,
    * identical longs in any engine (the s10 discipline). */
  /** The quantized-long projection of one embedding column — THE
    * quantization expression (single definition: [[vqProjected]], the
    * layout builders' inline codes column and every oracle CTE state
    * the same rounding, so there is no drift channel between paths). */
  private def vqExpr(embCol: String, quantScale: Long): Column =
    expr(s"transform($embCol, x -> " +
      s"cast(round(cast(x as double) * $quantScale.0) as bigint))")

  private def vqProjected(emb: DataFrame, idCol: String, embCol: String,
      quantScale: Long): DataFrame =
    emb.select(col(idCol).as("id"), vqExpr(embCol, quantScale).as("vq"))

  /** Exact integer squared-L2 between two quantized-long arrays — the
    * codegen'd [[graft.functions.HashExprs.SqDistLL]] kernel (round 17:
    * the HOF `aggregate(zip_with(...))` encoding evaluated interpreted
    * at the Lloyd loop's n·m·k grain). */
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.HashExprs.sq_dist_ll(a, b)

  /** Train a product-quantization codebook (Jégou, Douze & Schmid,
    * TPAMI 2011): split the `d` dims into `m` subspaces of `d/m`, run
    * `iters` Lloyd steps with `k` centroids per subspace, return the
    * codebook. PQ is the ANN memory-scale path the int8 path (s06)
    * cannot reach: codes are m bytes per vector (16–64× under float32),
    * small enough that a 100 TB embedding corpus's codes fit hot.
    *
    * ENGINE-EXACT training: embeddings quantize to longs, distances are
    * integer squared-L2 (order-free sums), assignment ties break to the
    * smallest code, and centroid updates are `floor(sum/count)` on an
    * exact double quotient of exact integers (floor-safe: the quotient
    * can't land within one ulp of a wrong integer at these magnitudes)
    * — so the codebook is bit-identical in any engine and any partition
    * order. Seeds are the `k` lowest-id vectors' subvectors (no RNG).
    * Empty cells keep their previous centroid (the
    * [[ivfCentroidsTrained]] rule).
    *
    * Scale shape: per Lloyd step, ONE corpus pass — subvectors explode
    * map-side (m rows per vector), each subvector's assignment is the
    * LITERAL-codebook argmin ([[codeExpr]] — pqEncode's own expression,
    * so training's assignment and serving's encode cannot drift), and
    * the update is a (sub, code, pos)-grain map-combined sum: the
    * exchange carries m·k·subDim rows regardless of corpus size. The
    * corpus itself never shuffles. The codebook is BOUNDED DRIVER
    * METADATA by the [[PqModel]] contract (m·k rows — pqTrain always
    * collected it at the end), so each iteration's update is ONE
    * bounded collect and the next iteration's codebook rides back in
    * as literals: no broadcast join, no per-iteration localCheckpoint
    * chain (round 20 — the checkpointed carry cost ~18 driver jobs per
    * train call, ~1.5 s of fixed overhead at bench scale, for a table
    * that is driver metadata by construction; [[pqTrainVariant]] keeps
    * the DataFrame-carried formulation for the probe, and a spec pins
    * the two bit-identical).
    */
  def pqTrain(emb: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding", m: Int = 4, k: Int = 8,
      iters: Int = 1, quantScale: Long = 1000L): PqModel = {
    require(m >= 1 && k >= 1 && iters >= 0, s"bad pq params m=$m k=$k")
    val vq0 = vqProjected(emb, idCol, embCol, quantScale)
    // fanout-aware parallelism (the ivfAssign rationale): the m-way
    // subvector explode and the k-way literal-argmin multiply per-row
    // work, so an under-partitioned corpus scan would serialize the
    // Lloyd step onto one or two threads; no-op at real partition counts
    val para = emb.sparkSession.sparkContext.defaultParallelism
    val vq = if (vq0.rdd.getNumPartitions < para)
      vq0.repartition(para) else vq0
    // seeds + dimension from ONE bounded TakeOrdered collect: the k
    // lowest-id vectors' quantized rows (k rows of d longs — driver
    // metadata). Replaces the d-probe head(), the eager seed
    // checkpoint and the seed-count require job of the DataFrame-
    // carried formulation; same seed rule (code c = the c-th lowest
    // id's subvector, per sub).
    val seedRows = vq.orderBy(col("id")).limit(k).collect()
    require(seedRows.length == k,
      s"not enough vectors to seed $k centroids per subspace")
    val d = seedRows.head.getSeq[Long](1).length
    require(d % m == 0, s"m=$m must divide dim d=$d")
    val subDim = d / m
    val cents: Array[Array[Array[Long]]] = Array.tabulate(m, k) { (s, c) =>
      seedRows(c).getSeq[Long](1)
        .slice(s * subDim, (s + 1) * subDim).toArray
    }
    for (_ <- 1 to iters) {
      val model = PqModel(m, subDim, k, quantScale, cents.map(_.clone()))
      // one corpus pass: slice + literal-argmin assignment map-side
      // (same sqDist kernel, same first-min = smallest-code tie rule
      // as the heap-aggregate formulation), then the floor(sum/count)
      // update at (sub, code, pos) grain — m·k·subDim result rows,
      // collected straight back to the driver
      val subStructs = array((0 until m).map { s =>
        val x = slice(col("vq"), s * subDim + 1, subDim)
        struct(lit(s).as("sub"), codeExpr(model, s, x).as("code"),
          x.as("x"))
      }: _*)
      val upd = vq
        .select(explode(subStructs).as("t"))
        .select(col("t.sub").as("sub"), col("t.code").as("code"),
          posexplode(col("t.x")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
          .cast("long").as("mv"))
        .collect()
      // empty cells keep their previous centroid (the
      // ivfCentroidsTrained rule): only observed (sub, code) pairs
      // overwrite
      val fresh = upd.groupBy(r => (r.getInt(0), r.getInt(1)))
      fresh.foreach { case ((s, c), rows) =>
        val arr = cents(s)(c).clone()
        rows.foreach(r => arr(r.getInt(2)) = r.getLong(3))
        cents(s)(c) = arr
      }
    }
    PqModel(m, subDim, k, quantScale, cents)
  }

  /** The DataFrame-carried Lloyd formulations (heap-aggregate argmin
    * with carried subvector, or the id-join re-attach), kept callable
    * for the probe ([[ivfAssignVariant]] rationale) and as the parity
    * reference for [[pqTrain]]'s driver-carried codebook (round 20):
    * a spec pins pqTrain ≡ pqTrainVariant(carryX = true) bit-identical. */
  private[graft] def pqTrainVariant(emb: DataFrame, idCol: String,
      embCol: String, m: Int, k: Int,
      iters: Int, quantScale: Long, carryX: Boolean): PqModel = {
    require(m >= 1 && k >= 1 && iters >= 0, s"bad pq params m=$m k=$k")
    val vq0 = vqProjected(emb, idCol, embCol, quantScale)
    // fanout-aware parallelism (the ivfAssign rationale): the m-way
    // subvector explode and the k-way codebook join multiply per-row
    // work, so an under-partitioned corpus scan would serialize the
    // Lloyd step onto one or two threads; no-op at real partition counts
    val para = emb.sparkSession.sparkContext.defaultParallelism
    val vq = if (vq0.rdd.getNumPartitions < para)
      vq0.repartition(para) else vq0
    val d = vq.select(size(col("vq"))).head().getInt(0)
    require(d % m == 0, s"m=$m must divide dim d=$d")
    val subDim = d / m
    val subSlices = array((0 until m).map(s =>
      slice(col("vq"), s * subDim + 1, subDim)): _*)
    val subs = vq
      .select(col("id"), posexplode(subSlices).as(Seq("sub", "x")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      import org.apache.spark.sql.expressions.Window
      // seeds = the k lowest-id vectors' subvectors: take the k ids
      // FIRST (one bounded TakeOrdered), then rank only their m·k rows
      // — ranking ALL of subs through a row_number window sorted the
      // whole n·m frame in m partitions just to keep k rows per sub
      val seedIds = vq.select(col("id")).orderBy(col("id")).limit(k)
      val wSeed = Window.partitionBy(col("sub")).orderBy(col("id"))
      var cents = subs.join(broadcast(seedIds), Seq("id"))
        .withColumn("rn", row_number().over(wSeed))
        .select(col("sub"), (col("rn") - 1).cast("int").as("code"),
          col("x").as("c"))
        .localCheckpoint(true)
      require(cents.count() == m.toLong * k,
        s"not enough vectors to seed $k centroids per subspace")
      for (_ <- 1 to iters) {
        // argmin over the broadcast codebook via the bounded-heap
        // aggregate (min ld = max -ld, ties to the smallest code — the
        // exact min(struct(ld, code)) contract; -ld is exact in double,
        // |ld| << 2^53). The PURELY-declarative struct-min + first(x)
        // formulation forced a SortAggregate over the n·m·k scored rows
        // (the ivfAssign finding, round 16); with the heap
        // TypedImperativeAggregate in the list the whole aggregate is
        // ObjectHashAggregate, so carrying first(x) beside it is the
        // hash path — and skips the (id, sub)-grain join back to subs.
        val scored = subs.join(broadcast(cents), Seq("sub"))
          .withColumn("ld", sqDist(col("x"), col("c")))
        val assigned = if (carryX)
          scored.groupBy(col("id"), col("sub"))
            .agg(graft.functions.TopKAgg.top_k_by(
              -col("ld").cast("double"), col("code").cast("long"), 1)
              .as("tk"), first(col("x")).as("x"))
            .select(col("sub"),
              element_at(col("tk.id"), 1).cast("int").as("code"), col("x"))
        else {
          val best = scored.groupBy(col("id"), col("sub"))
            .agg(graft.functions.TopKAgg.top_k_by(
              -col("ld").cast("double"), col("code").cast("long"), 1).as("tk"))
            .select(col("id"), col("sub"),
              element_at(col("tk.id"), 1).cast("int").as("code"))
          subs.join(best, Seq("id", "sub"))
            .select(col("sub"), col("code"), col("x"))
        }
        val updated = assigned
          .select(col("sub"), col("code"), posexplode(col("x")).as(Seq("pos", "v")))
          .groupBy(col("sub"), col("code"), col("pos"))
          .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
            .cast("long").as("mv"))
          .groupBy(col("sub"), col("code"))
          .agg(sort_array(collect_list(struct(col("pos"), col("mv")))).as("pm"))
          .select(col("sub"), col("code"), col("pm.mv").as("newc"))
        cents = cents.select(col("sub"), col("code"), col("c").as("oldc"))
          .join(updated, Seq("sub", "code"), "left")
          .select(col("sub"), col("code"),
            coalesce(col("newc"), col("oldc")).as("c"))
          .localCheckpoint(true)
      }
      val arr = Array.ofDim[Array[Long]](m, k)
      cents.collect().foreach { r =>
        arr(r.getInt(0))(r.getInt(1)) =
          r.getSeq[Long](2).toArray
      }
      PqModel(m, subDim, k, quantScale, arr)
    } finally subs.unpersist()
  }

  /** Argmin code of one subspace against the model's literal centroids
    * — the first index achieving the minimum distance, so ties break to
    * the smallest code exactly like training's assignment. */
  private def codeExpr(model: PqModel, sub: Int, x: Column): Column = {
    val dists = array(model.cents(sub).map(c =>
      sqDist(x, array(c.map(lit): _*))): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Encode every vector as its `m` nearest-centroid codes — the
    * compressed representation a 100 TB corpus stores instead of floats.
    * PURE MAP WORK: the codebook rides as literal arrays inside the
    * projection (bounded driver metadata, see [[PqModel]]), so there is
    * no join, no shuffle, and no second corpus pass — the one scan
    * streams through whole-stage codegen. @return (id, codes). */
  def pqEncode(emb: DataFrame, idCol: String, embCol: String,
      model: PqModel): DataFrame = {
    val vq = vqProjected(emb, idCol, embCol, model.quantScale)
    vq.select(col("id"), codesFromVq(model, col("vq")).as("codes"))
  }

  /** The m-code encode column over an already-quantized vq column — the
    * [[pqEncode]] projection factored out so layout builds can attach
    * codes DIRECTLY to the assignment output (one pass) instead of
    * re-deriving the assignment under a corpus-grain id join; both
    * paths share this single expression, so codes cannot drift. */
  private def codesFromVq(model: PqModel, vq: Column): Column =
    array((0 until model.m).map { s =>
      codeExpr(model, s, slice(vq, s * model.subDim + 1, model.subDim))
    }: _*)

  /** Asymmetric-distance (ADC) top-k: the query stays UNQUANTIZED-by-PQ
    * (exact subvectors), each corpus vector is scored through its codes
    * via the per-subspace lookup table `dist(q_sub, cent[sub][code])` —
    * the Jégou et al. serving equation. The m·k table computes on the
    * driver from the model + query (exact longs); scoring is then one
    * map pass over the codes and the top-k a TakeOrderedAndProject —
    * zero shuffles, and at scale it reads ONLY the m-byte codes column,
    * never the float embeddings. Ties break by id.
    * @return (id, adc) — integer squared-L2 estimate, ascending. */
  /** The per-subspace ADC lookup table for one query against a codebook
    * — m·k exact-long squared distances, computed on the driver (the
    * Jégou et al. serving equation's precomputation). */
  private def adcLut(model: PqModel, query: Seq[Double]): Array[Array[Long]] = {
    require(query.length == model.m * model.subDim,
      s"query dim ${query.length} != ${model.m * model.subDim}")
    val qq = query.map(x => math.round(x * model.quantScale)).toArray
    Array.tabulate(model.m, model.k) { (s, c) =>
      val cent = model.cents(s)(c)
      var acc = 0L
      var i = 0
      while (i < model.subDim) {
        val dd = qq(s * model.subDim + i) - cent(i)
        acc += dd * dd
        i += 1
      }
      acc
    }
  }

  /** ADC distance of a codes column under a literal lookup table — a
    * pure map expression (the table rides as literals, so the scan
    * stays inside whole-stage codegen). */
  private def adcExpr(table: Array[Array[Long]], codes: Column): Column =
    table.indices.map { s =>
      element_at(array(table(s).map(lit): _*), element_at(codes, s + 1) + 1)
    }.reduce(_ + _)

  def pqTopKAdc(emb: DataFrame, idCol: String, embCol: String,
      model: PqModel, query: Seq[Double], kNN: Int = 10): DataFrame = {
    val table = adcLut(model, query)
    val codes = pqEncode(emb, idCol, embCol, model)
    codes.select(col("id"), adcExpr(table, col("codes")).as("adc"))
      .orderBy(col("adc"), col("id"))
      .limit(kNN)
  }

  /** Two-stage ANN serving — the production PQ pattern (Jégou, Douze &
    * Schmid TPAMI 2011 §V: non-exhaustive search re-ranks a quantized
    * short list with exact distances): stage 1 takes the `candidates`
    * best ADC (code-level) matches, stage 2 re-scores ONLY those with
    * the exact integer squared-L2 on the quantized-long vectors and
    * returns the top `kNN`. The compression error that ADC admits
    * (corpus vectors reduced to m codes) is undone for the short list,
    * at the price of fetching `candidates` float rows — the standard
    * recall-vs-IO dial.
    *
    * Scale shape: stage 1 is [[pqTopKAdc]] (map over the codes column +
    * TakeOrdered); stage 2 BROADCASTS the ≤`candidates`-row id list
    * into a semi-join on the corpus and scores map-side — with an
    * id-bucketed layout ([[ivfWriteLayout]]-style) the fetch prunes to
    * touched buckets instead of a filtered scan. Ties break by id at
    * both stages; all arithmetic is exact longs.
    *
    * @return (id, dist) — exact integer squared-L2, ascending, ≤ kNN
    *         rows drawn from the ADC short list.
    */
  def pqRerankTopK(emb: DataFrame, idCol: String, embCol: String,
      model: PqModel, query: Seq[Double], candidates: Int = 50,
      kNN: Int = 10): DataFrame = {
    require(kNN >= 1 && candidates >= kNN,
      s"need candidates >= kNN >= 1: $candidates, $kNN")
    val cand = pqTopKAdc(emb, idCol, embCol, model, query, candidates)
      .select(col("id"))
    val vq = vqProjected(emb, idCol, embCol, model.quantScale)
    val qq = query.map(x => math.round(x * model.quantScale))
    val qLit = array(qq.map(lit): _*)
    // codegen'd kernel (round-18 sweep — the HOF fold is interpreted;
    // cold here since only the ≤candidates shortlist rows evaluate it,
    // swept for the zero-interpreted-folds invariant)
    val d2 = sqDist(col("vq"), qLit)
    vq.join(broadcast(cand), Seq("id"), "left_semi")
      .select(col("id"), d2.as("dist"))
      .orderBy(col("dist"), col("id"))
      .limit(kNN)
  }

  /** IVFADC — the composed billion-scale ANN serving layout (Jégou,
    * Douze & Schmid TPAMI 2011 §VII; the FAISS IVFADC architecture): an
    * IVF coarse quantizer prunes the corpus to the query's `nProbe`
    * nearest cells, then ADC scores ONLY those cells' members through
    * their PQ codes. [[ivfTopK]] (cell pruning, exact in-cell scoring)
    * and [[pqTopKAdc]] (ADC over the WHOLE corpus) each carry one half
    * of the trick; production deployments run both at once — this is
    * that composition, deterministic end to end: modulo-subset
    * centroids and round-5 cosine cell ranks with id tiebreaks (the s03
    * contract), the exact-long codebook/LUT (the s12 contract),
    * adc-then-id output order. The query itself is not excluded (the
    * pqTopKAdc convention — self-hits score 0 and rank first).
    *
    * Scale shape: the cell assignment is the BUILD-TIME artifact (one
    * corpus pass; at 100 TB it persists partitioned by cell — the
    * [[ivfBuildLayout]] shape — and the recomputation here disappears
    * behind the layout); serving touches `nProbe/|cells|` of the
    * corpus, reads only those members' m-byte codes (ADC is a pure map
    * with the lookup table as literals), and ends in one
    * TakeOrderedAndProject. Nothing corpus-wide shuffles: the probed
    * cell ids ride a broadcast semi-join into the assignment.
    *
    * @return (id, adc) — integer squared-L2 estimate ascending, ties by
    *         id, ≤ `kNN` rows drawn from the probed cells only.
    */
  def ivfAdcTopK(corpus: DataFrame, idCol: String, embCol: String,
      model: PqModel, query: Seq[Double], kNN: Int = 10, nProbe: Int = 2,
      centEvery: Int = 25,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(kNN >= 1 && nProbe >= 1 && centEvery >= 1,
      s"bad ivfadc params kNN=$kNN nProbe=$nProbe centEvery=$centEvery")
    // `centroids` swaps the coarse quantizer (any (c_id, c_emb) table,
    // e.g. [[trainedCentroidsExactDequant]]'s Lloyd cells) under the
    // SAME serving stack; None = the modulo subset
    val cent = centroids.getOrElse(
      ivfCentroids(corpus, centEvery, idCol, embCol))
    ivfAdcTopKFromAssign(ivfAssign(corpus, cent, idCol, embCol), cent,
      model, query, kNN, nProbe, idCol, embCol)
  }

  /** [[ivfAdcTopK]]'s probe/ADC tail over an ALREADY-DERIVED cell
    * assignment — the single definition both the inline single-query
    * path and the recall eval harness serve from ([[ivfAdcRecallAtK]]
    * shares ONE LAZY assignment frame across its query legs, so the
    * legs share expression IDs and ReuseExchange dedups the identical
    * subtrees inside the unioned eval plan; an eager-checkpoint version
    * measured 1.5–2.1x slower at sf1 and was reverted — round 19). */
  private def ivfAdcTopKFromAssign(assign: DataFrame, cent: DataFrame,
      model: PqModel, query: Seq[Double], kNN: Int, nProbe: Int,
      idCol: String, embCol: String): DataFrame = {
    val qLit = array(query.map(lit): _*)
    val cells = cent
      .withColumn("ccos", round(cosine(qLit, col("c_emb")), 5))
      .orderBy(col("ccos").desc, col("c_id"))
      .limit(nProbe).select(col("c_id"))
    val members = assign
      .join(broadcast(cells), Seq("c_id"), "left_semi")
      .select(col("n_id").as(idCol), col("n_emb").as(embCol))
    pqTopKAdc(members, idCol, embCol, model, query, kNN)
  }

  /** IVFADC + EXACT RERANK — the production recall lever composed into
    * the full serving stack (Jégou, Douze & Schmid TPAMI 2011 §V's
    * re-ranking applied to §VII's IVFADC; the FAISS `IndexRefineFlat`
    * pattern): [[ivfAdcTopK]] produces the `candidates` best CODE-level
    * (ADC) matches from the probed cells, then ONLY that shortlist is
    * re-scored with the exact integer squared-L2 on the quantized-long
    * vectors and the top `kNN` returned. ADC's code-compression error
    * is undone for the shortlist, so recall is bounded by cell pruning
    * + shortlist width instead of by code distortion — the round-18
    * recall-margin lever (the s19 curve sat AT the 0.2 floor at sf0.1;
    * reranked, the same fraction-pinned config gates at ≥0.4 with
    * margin, measured in PERF_PROBE.md).
    *
    * Scale shape: stage 1 is the [[ivfAdcTopK]] serving plan unchanged
    * (assignment is the build-time layout at 100 TB; ADC is a pure map
    * over m-byte codes into one TakeOrderedAndProject). Stage 2
    * BROADCASTS the ≤`candidates`-row id list into a semi-join and
    * scores map-side — one extra ≤candidates-row exact pass; with the
    * id-bucketed layout the float fetch prunes to touched buckets. Ties
    * break by id at both stages; all arithmetic is exact longs.
    *
    * @return (id, dist) — exact integer squared-L2 ascending, ties by
    *         id, ≤ kNN rows drawn from the ADC shortlist.
    */
  def ivfAdcRerankTopK(corpus: DataFrame, idCol: String, embCol: String,
      model: PqModel, query: Seq[Double], kNN: Int = 10, nProbe: Int = 2,
      centEvery: Int = 25, candidates: Int = 50,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(kNN >= 1 && candidates >= kNN,
      s"need candidates >= kNN >= 1: $candidates, $kNN")
    val cent = centroids.getOrElse(
      ivfCentroids(corpus, centEvery, idCol, embCol))
    ivfAdcRerankTopKFromAssign(
      ivfAssign(corpus, cent, idCol, embCol), cent,
      vqProjected(corpus, idCol, embCol, model.quantScale),
      model, query, kNN, nProbe, candidates, idCol, embCol)
  }

  /** [[ivfAdcRerankTopK]]'s two stages over an already-derived
    * assignment and quantized projection — the [[ivfAdcTopKFromAssign]]
    * sharing rule extended to the reranked stack (the recall harness's
    * exact legs reference the SAME shared lazy vq frame, deduped by
    * ReuseExchange inside the one unioned eval plan). */
  private def ivfAdcRerankTopKFromAssign(assign: DataFrame,
      cent: DataFrame, vq: DataFrame, model: PqModel, query: Seq[Double],
      kNN: Int, nProbe: Int, candidates: Int,
      idCol: String, embCol: String): DataFrame = {
    val shortlist = ivfAdcTopKFromAssign(assign, cent, model, query,
      kNN = candidates, nProbe = nProbe, idCol = idCol, embCol = embCol)
      .select(col("id"))
    val qq = query.map(x => math.round(x * model.quantScale))
    val qLit = array(qq.map(lit): _*)
    vq.join(broadcast(shortlist), Seq("id"), "left_semi")
      .select(col("id"), sqDist(col("vq"), qLit).as("dist"))
      .orderBy(col("dist"), col("id"))
      .limit(kNN)
  }

  /** PERSIST the IVFADC serving layout — [[ivfAdcTopK]]'s build side
    * paid ONCE: the PQ CODES of every corpus vector written PARTITIONED
    * BY CELL (the only per-vector state ADC serving reads — m small
    * ints instead of d floats), plus the centroid table
    * (`_centroids/`) and the codebook (`_pqmodel/`), under
    * [[PersistedLayout.build]]. `model` is BY-NAME — on an ident hit
    * (the steady state) the codebook is never trained or evaluated,
    * so repeat build calls cost one ident read.
    *
    * Scale shape: one corpus pass (assignment crossJoins the broadcast
    * centroid subset map-side, codes are a pure map under the literal
    * codebook), one cell-partitioned write of m-byte-scale rows. At
    * 100 TB the codes layout is 16–64× smaller than the float corpus
    * and the ONLY thing the serving tier stores hot.
    */
  def ivfAdcBuildLayout(corpus: DataFrame, centEvery: Int,
      layoutDir: String, idCol: String = "vec_id",
      embCol: String = "embedding", m: Int = 4, k: Int = 8,
      quantScale: Long = 1000L, trainedIters: Int = 0)(
      model: => PqModel): Unit = {
    val spark = corpus.sparkSession
    // EVERY code-affecting parameter lives in the ident: idCol/embCol
    // change which columns the codes were built from even when the
    // corpus PLAN (hence its semanticHash) is unchanged, and
    // `coarse=trainedExact:<iters>` cells place codes in different
    // partitions than modulo cells. trainedIters = 0 keeps the modulo
    // ident byte-identical to v2 so existing layouts stay warm.
    val coarseTag =
      if (trainedIters > 0) s" coarse=trainedExact:$trainedIters" else ""
    val ident = s"graft-ivfadc-v2 centEvery=$centEvery m=$m k=$k " +
      s"quantScale=$quantScale idCol=$idCol embCol=$embCol$coarseTag " +
      s"corpus=${corpus.queryExecution.analyzed.semanticHash()}"
    PersistedLayout.build(spark, layoutDir, ident) {
      val mdl = model
      require(mdl.m == m && mdl.k == k && mdl.quantScale == quantScale,
        s"model (m=${mdl.m}, k=${mdl.k}, quantScale=${mdl.quantScale}) " +
          s"does not match the layout parameters (m=$m, k=$k, " +
          s"quantScale=$quantScale)")
      // the coarse quantizer: modulo seeds (the v2 default) or the s22
      // engine-exact Lloyd cells dequantized into (c_id, c_emb) — the
      // serving tier is geometry-agnostic (it reads _centroids and ranks
      // by cosine either way), so ONLY the build chooses; training cost
      // is one corpus pass per iteration, paid once per ident
      val cent =
        if (trainedIters > 0)
          // no extra checkpoint: the trainer's final iteration is already
          // a localCheckpoint, and the dequant on top is a cheap map over
          // |cells| rows — both consumers (the assignment broadcast and
          // the _centroids write) re-run only that map over the
          // checkpointed blocks
          trainedCentroidsExactDequant(corpus, centEvery, trainedIters,
            idCol, embCol, quantScale)
        else ivfCentroids(corpus, centEvery, idCol, embCol)
      // codes are the EXACT encode expression the probe contract is
      // defined against ([[codesFromVq]] over [[vqExpr]] — the single
      // shared definition pqEncode itself uses, so the persisted codes
      // cannot drift from the inline ivfAdcTopK results), attached
      // DIRECTLY to the assignment output: an id-keyed join of
      // pqEncode(assign) back onto assign would evaluate the corpus-grain
      // assignment aggregate twice — this is one scan, one exchange, one
      // write
      Layout.clusterForWrite(ivfAssign(corpus, cent, idCol, embCol)
        .select(col("c_id"), col("n_id").as("id"),
          codesFromVq(mdl, vqExpr("n_emb", mdl.quantScale)).as("codes")),
        "c_id")
        .write.mode("overwrite").partitionBy("c_id")
        .parquet(s"$layoutDir/codes")
      cent.coalesce(1).write.mode("overwrite")
        .parquet(s"$layoutDir/_centroids")
      import spark.implicits._
      spark.createDataset(for {
          s <- 0 until mdl.m; c <- 0 until mdl.k
        } yield (s, c, mdl.cents(s)(c).toSeq))
        .toDF("sub", "code", "c")
        .coalesce(1).write.mode("overwrite").parquet(s"$layoutDir/_pqmodel")
    }
  }

  private val AdcPrefix = "graft-ivfadc-v"

  /** Append a batch into a persisted IVFADC layout ([[ivfAdcBuildLayout]])
    * WITHOUT touching the existing corpus — the daily-ingest path the
    * ADC tier was missing (plain IVF has [[ivfAppendToLayout]]): assign
    * the batch against the layout's OWN centroid table, encode it with
    * the layout's FROZEN codebook (read back from `_pqmodel` — the
    * standard IVFADC append contract: cell geometry AND code geometry
    * are build-time artifacts, so appended vectors are comparable to
    * existing codes and recall drifts only as the ingested distribution
    * drifts from the build-time one), and append the (c_id, id, codes)
    * rows into the cell partitions. Cost = one pass over the batch +
    * broadcasts of the kB-sized centroids and codebook; the existing
    * codes are never read.
    *
    * Crash safety, identity and retry refusal: [[PersistedLayout.append]];
    * `force = true` re-appends a batch whose plan is already recorded.
    */
  def ivfAdcAppendToLayout(newVecs: DataFrame, layoutDir: String,
      idCol: String = "vec_id", embCol: String = "embedding",
      force: Boolean = false): Unit = {
    val spark = newVecs.sparkSession
    val quantScale = ivfAdcLayoutQuantScale(spark, layoutDir)
    PersistedLayout.append(spark, layoutDir, AdcPrefix,
        PersistedLayout.batchTag(newVecs), force) {
      // the layout's frozen geometry: centroids for assignment, codebook
      // for encoding — both kB-scale reads, broadcast into the batch pass
      val cent = spark.read.parquet(s"$layoutDir/_centroids")
      val model = ivfAdcLayoutModel(spark, layoutDir, quantScale)
      // codes attach directly to the batch assignment (the build-path
      // rule: [[codesFromVq]] over [[vqExpr]] is pqEncode's own
      // expression) — one batch pass, one exchange, one append
      Layout.clusterForWrite(ivfAssign(newVecs, cent, idCol, embCol)
        .select(col("c_id"), col("n_id").as("id"),
          codesFromVq(model, vqExpr("n_emb", model.quantScale)).as("codes")),
        "c_id")
        .write.mode("append").partitionBy("c_id")
        .parquet(s"$layoutDir/codes")
    }
  }

  /** The quantScale a servable IVFADC layout's codes were built with —
    * shared by append and both probes so all quantize against the EXACT
    * scale of the stored codes. v1 layouts stay servable: v2 only added
    * idCol/embCol to the build key. */
  private def ivfAdcLayoutQuantScale(spark: SparkSession,
      layoutDir: String): Long = {
    val ident = PersistedLayout.requireServable(spark, layoutDir, AdcPrefix)
    raw"quantScale=(\d+)".r.findFirstMatchIn(ident)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(
        s"malformed IVFADC ident '$ident'"))
  }

  /** The layout's frozen codebook, rebuilt from `_pqmodel` (m·k rows). */
  private def ivfAdcLayoutModel(spark: SparkSession, layoutDir: String,
      quantScale: Long): PqModel = {
    val mrows = spark.read.parquet(s"$layoutDir/_pqmodel")
      .select(col("sub").cast("int"), col("code").cast("int"), col("c"))
      .collect()
    val m = mrows.map(_.getInt(0)).max + 1
    val k = mrows.map(_.getInt(1)).max + 1
    val subDim = mrows.head.getSeq[Long](2).length
    val cents = Array.ofDim[Array[Long]](m, k)
    mrows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Long](2).toArray)
    PqModel(m, subDim, k, quantScale, cents)
  }

  /** Serve one query from a persisted IVFADC layout
    * ([[ivfAdcBuildLayout]]) — the steady-state path a production ANN
    * tier runs thousands of times per build: rank the layout's OWN
    * kB-sized centroid table against the query (one bounded
    * `limit(nProbe)` action), then scan ONLY the probed cells' CODE
    * partitions (partition pruning on `c_id` — `nProbe/|cells|` of an
    * already 16–64×-compressed corpus) through the literal ADC lookup
    * table into one TakeOrderedAndProject. The float corpus is never
    * touched; neither is the codebook training. Identical results to
    * [[ivfAdcTopK]] by construction (spec-pinned).
    *
    * @return (id, adc) — integer squared-L2 estimate ascending, ties
    *         by id, ≤ `kNN` rows from the probed cells.
    */
  def ivfAdcProbeLayout(spark: SparkSession, layoutDir: String,
      query: Seq[Double], kNN: Int = 10, nProbe: Int = 2): DataFrame = {
    require(kNN >= 1 && nProbe >= 1, s"bad probe params kNN=$kNN nProbe=$nProbe")
    val model = ivfAdcLayoutModel(spark, layoutDir,
      ivfAdcLayoutQuantScale(spark, layoutDir))
    val qLit = array(query.map(lit): _*)
    val cells = spark.read.parquet(s"$layoutDir/_centroids")
      .withColumn("ccos", round(cosine(qLit, col("c_emb")), 5))
      .orderBy(col("ccos").desc, col("c_id"))
      .limit(nProbe).select(col("c_id"))
      .collect().map(_.getLong(0)).toSeq
    val table = adcLut(model, query)
    spark.read.parquet(s"$layoutDir/codes")
      .filter(col("c_id").isin(cells: _*))
      .select(col("id"), adcExpr(table, col("codes")).as("adc"))
      .orderBy(col("adc"), col("id"))
      .limit(kNN)
  }

  /** LAYOUT-SERVED IVFADC + exact rerank — [[ivfAdcRerankTopK]]'s
    * recall lever composed into the PERSISTED serving tier
    * ([[ivfAdcProbeLayout]]), which is how the production path actually
    * runs: stage 1 serves the `candidates` best ADC matches from the
    * cell-partitioned CODE layout (partition-pruned, float corpus never
    * touched), stage 2 fetches ONLY the shortlist's float rows from the
    * corpus and re-scores them with the exact integer squared-L2 at the
    * LAYOUT'S OWN quantScale (read from the ident — a drifted scale
    * would silently mis-rank, so the layout is authoritative).
    *
    * Scale shape: the rerank is the one stage that must touch float
    * vectors at all, and it touches exactly ≤`candidates` of them — the
    * bounded shortlist ids ride INTO the corpus scan as a pushed In()
    * predicate (PushedFilters row-group skipping on an id-clustered
    * corpus; round 19 — the semi-join shape it replaced still read the
    * full float corpus to keep ≤candidates rows); nothing corpus-grain
    * shuffles. This is the recall-vs-IO dial a serving tier exposes
    * per query class: codes-only (cheap, s18) vs codes + ≤candidates
    * float rows (the s20 margin).
    *
    * @return (id, dist) — exact integer squared-L2 ascending, ties by
    *         id, ≤ kNN rows drawn from the layout's ADC shortlist.
    */
  def ivfAdcRerankProbeLayout(spark: SparkSession, layoutDir: String,
      corpus: DataFrame, idCol: String, embCol: String,
      query: Seq[Double], kNN: Int = 10, nProbe: Int = 2,
      candidates: Int = 50): DataFrame = {
    require(kNN >= 1 && candidates >= kNN,
      s"need candidates >= kNN >= 1: $candidates, $kNN")
    // the shortlist is ≤candidates rows BY CONSTRUCTION (a bounded
    // TakeOrdered over the pruned codes scan), so collect its ids and
    // push them into the corpus scan as an In() predicate: the float
    // fetch becomes a PushedFilters-pruned read (row-group min/max
    // skipping on an id-sorted corpus) instead of a full corpus scan
    // feeding a broadcast semi-join — at 100 TB the fetch is the one
    // stage that touches float vectors, and with the semi-join shape
    // it read ALL of them to keep ≤candidates (round 19; the
    // ivfAdcRerankTopK scaladoc's "id-bucketed layout" promise, made
    // real for any id-clustered corpus file). Results are identical:
    // the ids are distinct, so In() ≡ the left-semi join.
    val shortIds = ivfAdcProbeLayout(spark, layoutDir, query,
      kNN = candidates, nProbe = nProbe)
      .select(col("id")).collect().map(_.get(0)).toSeq
    val quantScale = ivfAdcLayoutQuantScale(spark, layoutDir)
    val fetched =
      if (shortIds.isEmpty) corpus.filter(lit(false))
      else corpus.filter(col(idCol).isin(shortIds: _*))
    val vq = vqProjected(fetched, idCol, embCol, quantScale)
    val qq = query.map(x => math.round(x * quantScale))
    val qLit = array(qq.map(lit): _*)
    vq.select(col("id"), sqDist(col("vq"), qLit).as("dist"))
      .orderBy(col("dist"), col("id"))
      .limit(kNN)
  }

  /** IVFADC end-to-end recall@k — the [[annRecallAtK]] acceptance test
    * for the COMPOSED serving path ([[ivfAdcTopK]]): the quantized path
    * stacks PQ distortion ON TOP of cell pruning, so IVF recall (s16)
    * alone does not bound it; this measures the stack. Ground truth is
    * the exact integer squared-L2 top-k over the FULL corpus on the
    * quantized-long vectors — the very metric ADC estimates (and what
    * [[pqRerankTopK]]'s stage 2 computes), so the recall isolates
    * cell-pruning + code-compression loss, not quantization rounding.
    * Both paths are deterministic (modulo centroids, exact-long LUT,
    * id tiebreaks), so per-query recall is CONTRACT, not noise — and
    * `meets_floor` asserts the floor per query: a config change that
    * degrades recall below it fails the gate.
    *
    * Scale shape: the eval batch is bounded by construction (`queryIds`
    * is a driver-side list — the s13/s16 eval stance). The
    * query-INDEPENDENT state — cell assignment, quantized projection,
    * centroid table — is built once as shared LAZY frames that every
    * leg references (NOT checkpointed: materialize+rescan measured
    * 1.5–2.1x slower than per-leg fused re-derivation at sf1 — see the
    * body comment); each query leg is a map pass over vq into a
    * TakeOrderedAndProject (exact side) plus the serving tail over the
    * assignment (approx side), all legs unioned into one eval plan.
    * Recall counts ID-SET overlap (the ann-benchmarks definition).
    *
    * `rerankCandidates > 0` swaps the approx side to
    * [[ivfAdcRerankTopK]] with that shortlist width — the same eval
    * harness gating the RERANKED stack (s20), so the recall the
    * production lever buys is itself contract, not prose.
    *
    * @return one row per query id: (q_id, n_exact, n_hit, recall,
    *         meets_floor) — recall = round-4 n_hit/n_exact.
    */
  def ivfAdcRecallAtK(corpus: DataFrame, queryIds: Seq[Long], k: Int,
      nProbe: Int, centEvery: Int, model: PqModel,
      idCol: String = "vec_id", embCol: String = "embedding",
      recallFloor: Double = 0.5, rerankCandidates: Int = 0,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(queryIds.nonEmpty && queryIds.size <= 1000,
      s"queryIds is the bounded eval batch (got ${queryIds.size})")
    require(k >= 1, s"k must be >= 1, got $k")
    // SHARED LAZY FRAMES, not checkpoints (round 19, measured twice):
    // the query-independent state — cell assignment, quantized
    // projection, centroid table — is built once HERE and referenced by
    // every exact/approx leg, but deliberately NOT materialized.
    //  - localCheckpoint(true) (tried first): one barrier job per
    //    frame, then every leg reads deserialized blocks instead of a
    //    codegen-fused parquet pass. Interleaved A/B vs the lazy shape:
    //    1.15–1.25x slower at sf0.1/8 cores and 1.5–2.1x slower at
    //    sf1/8 cores (s19 12.3 vs 6.3 s, s20 10.4 vs 4.8 s, s26 19.5
    //    vs 10.7 s) — materialize+rescan of corpus-grain rows loses to
    //    re-deriving them inside each leg's fused pipeline, and the
    //    single unioned eval plan lets ReuseExchange share what IS
    //    worth sharing.
    //  - localCheckpoint(false) (lazy checkpoint): worst of both — the
    //    legs' stages race the first computation of the shared RDD
    //    inside one job (s19 3.2→5.3 s at sf0.1).
    // Plain lazy frames keep results bit-identical (the legs consume
    // the same expressions either way) and restore the duplicated-leg
    // plan, whose exchanges are per-leg bounded aggregates.
    val cent = centroids.getOrElse(
      ivfCentroids(corpus, centEvery, idCol, embCol))
    val assign = ivfAssign(corpus, cent, idCol, embCol)
    val vq = vqProjected(corpus, idCol, embCol, model.quantScale)
    // resolve ALL eval vectors in ONE bounded driver action (≤1000 rows
    // by the batch require) and fail at contract level when any id is
    // absent — per-id head() calls cost |queryIds| separate driver
    // actions and surface a missing id as a bare NoSuchElementException
    // mid-loop (ADVICE r16)
    val qVecs = corpus.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).cast("long").as("qid"),
        col(embCol).cast("array<double>").as("qv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val missing = queryIds.filterNot(qVecs.contains)
    require(missing.isEmpty,
      s"query ids not present in the corpus: ${missing.mkString(", ")}")
    val perQuery = queryIds.map { qid =>
      val query = qVecs(qid)
      val qLit = array(query.map(x =>
        lit(math.round(x * model.quantScale))): _*)
      val exact = vq
        .select(col("id"), sqDist(col("vq"), qLit).as("dist"))
        .orderBy(col("dist"), col("id")).limit(k)
        .select(col("id"))
      val approx = (if (rerankCandidates > 0)
          ivfAdcRerankTopKFromAssign(assign, cent, vq, model, query,
            kNN = k, nProbe = nProbe, candidates = rerankCandidates,
            idCol = idCol, embCol = embCol)
        else ivfAdcTopKFromAssign(assign, cent, model, query,
          kNN = k, nProbe = nProbe, idCol = idCol, embCol = embCol))
        .select(col("id"), lit(1L).as("hit"))
      exact.join(approx, Seq("id"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(qid).as("q_id"), col("n_exact"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_exact").cast("double"),
            4).as("recall"))
    }
    perQuery.reduce(_ unionByName _)
      .withColumn("meets_floor", col("recall") >= lit(recallFloor))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998)
    * — the diversity selector between retrieval and a context window:
    * from the `poolSize` most query-relevant vectors, greedily pick `k`
    * maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` (the first pick
    * is pure relevance, the standard base case). Relevance and
    * inter-candidate similarity are exact integer dot products of
    * quantized-long vectors, λ rides in micro units
    * (`score = λµ·rel − (1e6−λµ)·maxSim`, exact long arithmetic), and
    * ties break by id — the selection is deterministic in any engine.
    *
    * Scale shape: relevance is ONE map pass over the corpus (query as a
    * literal array) into a TakeOrderedAndProject pool — the only
    * corpus-grain work. The greedy loop then runs k rounds over the
    * materialized ≤poolSize-row pool: each round is a map scoring pass
    * (selected vectors as literals — bounded driver metadata) and a
    * 1-row argmax collect, the BPE-argmax contract. Corpus cost is
    * independent of k.
    *
    * @return (rank, id, rel) — rank 1-based in selection order.
    */
  def mmrTopK(emb: DataFrame, idCol: String, embCol: String,
      query: Seq[Double], poolSize: Int = 20, k: Int = 5,
      lambdaMicro: Long = 500000L, quantScale: Long = 1000L): DataFrame = {
    require(k >= 1 && poolSize >= k, s"need poolSize >= k >= 1: $poolSize, $k")
    require(poolSize <= 1024, s"pool is driver-bounded metadata; $poolSize")
    require(lambdaMicro >= 0 && lambdaMicro <= 1000000L,
      s"lambdaMicro out of [0, 1e6]: $lambdaMicro")
    val spark = emb.sparkSession
    val vq = vqProjected(emb, idCol, embCol, quantScale)
    val qq = query.map(x => math.round(x * quantScale))
    val qLit = array(qq.map(lit): _*)
    val dotQ = graft.functions.HashExprs.dot_ll(col("vq"), qLit)
    val pool = vq.select(col("id"), col("vq"), dotQ.as("rel"))
      .orderBy(col("rel").desc, col("id"))
      .limit(poolSize)
      .localCheckpoint(true) // ≤ poolSize rows; k rounds re-read it
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Long], Long)] // (rank-ordered: id, vq, rel)
    for (_ <- 1 to k) {
      val notPicked = selected.map(_._1).foldLeft(lit(true): Column) {
        (acc, id) => acc && col("id") =!= lit(id)
      }
      val sims = selected.map { case (_, sv, _) =>
        graft.functions.HashExprs.dot_ll(col("vq"), array(sv.map(lit): _*))
      }.toSeq
      // functions.greatest demands >= 2 args; round 2 has one selected
      val maxSim = sims match {
        case Seq() => lit(0L)
        case Seq(one) => one
        case many => greatest(many: _*)
      }
      val score =
        if (selected.isEmpty) lit(lambdaMicro) * col("rel") // pure relevance
        else lit(lambdaMicro) * col("rel") -
          lit(1000000L - lambdaMicro) * maxSim
      val next = pool.filter(notPicked)
        .select(col("id"), col("vq"), col("rel"), score.as("s"))
        .orderBy(col("s").desc, col("id"))
        .limit(1).collect()
      require(next.nonEmpty, "pool exhausted before k picks (pool too small)")
      val r = next.head
      selected += ((r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    }
    import spark.implicits._
    selected.zipWithIndex.map { case ((id, _, rel), i) =>
      ((i + 1).toLong, id, rel)
    }.toSeq.toDF("rank", "id", "rel")
  }

  /** Embedding-distribution drift by linear-kernel Maximum Mean
    * Discrepancy (Gretton et al. JMLR 2012; with the linear kernel
    * `MMD² = ‖μ_P − μ_Q‖²` exactly — the mean-embedding distance):
    * did this delivery's embedding distribution move against the
    * reference's? The VECTOR-column member of the drift toolkit —
    * q130's PSI buckets one scalar, KS one CDF; MMD compares whole
    * embedding clouds in one number, and the linear kernel is the
    * variant whose statistic a relational engine computes EXACTLY.
    *
    * ENGINE-EXACT: components quantize to `round(x·quantScale)` longs
    * (float→double exact, one double multiply — the s10 contract), so
    * per-dim sums are exact; clearing denominators gives
    * `MMD²·(n_P·n_Q·scale)² = Σ_i (sp_i·n_Q − sq_i·n_P)²` — exact
    * longs (ANSI throws loudly if a dim's cleared difference passes
    * 2³¹·√d; pre-center the embeddings at that magnitude), and the
    * final `mmd2` is one IEEE divide on identical operands, round-9
    * (MMD² of near-identical clouds is genuinely tiny — round-6 would
    * flatten real drift to 0).
    *
    * Scale shape: ONE corpus pass — posexplode to (dim)-grain
    * conditional sums (d·partitions map-combined rows regardless of
    * corpus size, the s10 Gram contract) plus a 2-number count row;
    * the squared-diff fold runs on d rows. One-sided inputs (no P or
    * no Q rows) return null, never NaN.
    *
    * @return ONE row: (n_p, n_q, mmd2_num, mmd2).
    */
  def embeddingMmd(emb: DataFrame, embCol: String, isP: Column,
      quantScale: Long = 1000L): DataFrame = {
    require(quantScale >= 1, s"quantScale must be >= 1, got $quantScale")
    val vq = emb.filter(col(embCol).isNotNull)
      .select(isP.as("is_p"),
        expr(s"transform($embCol, x -> " +
          s"cast(round(cast(x as double) * $quantScale.0) as bigint))")
          .as("vq"))
    val perDim = vq
      .select(col("is_p"), posexplode(col("vq")).as(Seq("i", "v")))
      .groupBy(col("i")).agg(
        sum(when(col("is_p"), col("v")).otherwise(0L)).as("sp"),
        sum(when(!col("is_p"), col("v")).otherwise(0L)).as("sq"))
    val counts = vq.agg(
      sum(when(col("is_p"), 1L).otherwise(0L)).as("n_p"),
      sum(when(!col("is_p"), 1L).otherwise(0L)).as("n_q"))
    val diff = col("sp") * col("n_q") - col("sq") * col("n_p")
    val den = col("n_p").cast("double") * col("n_q").cast("double") *
      quantScale.toDouble
    perDim.crossJoin(broadcast(counts))
      .groupBy(col("n_p"), col("n_q"))
      .agg(sum(diff * diff).as("mmd2_num"))
      .select(col("n_p"), col("n_q"), col("mmd2_num"),
        when(col("n_p") > 0 && col("n_q") > 0,
          round(col("mmd2_num").cast("double") / (den * den), 9))
          .as("mmd2"))
  }
}
