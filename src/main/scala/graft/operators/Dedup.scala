package graft.operators

import graft.functions.HashExprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed around
  * Spark's shuffle model:
  *
  *  - exact dedup: one hash-groupBy (single shuffle on the fingerprint);
  *  - MinHash+LSH near-dedup: per-row signatures via a custom Catalyst
  *    expression (single JVM loop/row — the Column-DSL HOF formulation was
  *    the benchmark hotspot), one shuffle keyed by (band, bucket) that
  *    both applies the skew cap and expands in-bucket candidate pairs
  *    map-side, then exact-Jaccard verification with the (tiny) candidate
  *    set broadcast — the classic shingle→minhash→band→bucket pipeline
  *    with no O(n²) cross join and no windowed re-shuffle, so it scales
  *    to 100 TB: O(n·k) map work + one bucket shuffle + one pair shuffle;
  *  - SimHash near-dedup: 64-bit signature, banded by 16-bit chunks
  *    (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 chunks equal).
  *
  * Skew note (100 TB): boilerplate/empty documents produce identical
  * signatures and mega-buckets; `maxBucket` drops those buckets (their
  * members are exact-dup-like and belong to the exact-dedup pass).
  */
object Dedup {

  /** Cache a frame that the enclosing pipeline references more than once.
    *
    * The LSH pipelines below reference their signature stage from three
    * branches (banding + both verification joins); without this, Spark
    * re-plans the subtree per branch and the corpus is scanned and
    * re-shingled 3× per run — at any scale, signature extraction is the
    * dominant map cost, so the 3× is a 3× on the whole job. MEMORY_AND_DISK
    * keeps lineage intact (evicted blocks recompute — correctness never
    * depends on the cache) while the `CacheManager` substitutes the cached
    * relation into every branch, so the scan+shingle pass runs once.
    *
    * Lifetime: CacheManager holds the cached relation for the SESSION —
    * these entries are deliberate cross-query reuse (pairs feed
    * clustering and canonical selection), and the caller releases them
    * with `df.unpersist()` or `spark.catalog.clearCache()` when the
    * pipeline is done; they are NOT garbage-collected on their own. At
    * 100 TB, prefer writing signatures to a table once and joining against
    * that (the incremental-dedup shape, d10) — the cache path is for
    * single-job runs where signatures fit the executors' spill tier.
    */
  private[operators] def materializeOnce(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Fanout-aware parallelism (the Similarity.ivfAssignVariant
    * rationale, round 20): the k-permutation MinHash signature pass
    * multiplies per-row work by k, so an MB-scale corpus file arriving
    * as 1-2 parquet splits serializes the whole pass onto one or two
    * threads. One doc-grain round-robin exchange spreads it; at real
    * partition counts (any 100 TB scan) this is a no-op. Applied ONLY
    * where the A/B showed a win (minhashLsh: d02 1.37 → 1.02 s): the
    * same exchange measured a WASH on the simhash/prefix-jaccard passes
    * (cheaper per-row kernels) and a 0.5 s LOSS on the d17 probe batch
    * (the exchange outweighs a ≤batch-grain signature pass), so those
    * keep the scan's own split count. */
  private def fanOut(df: DataFrame): DataFrame = {
    val para = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < para) df.repartition(para) else df
  }

  /** Exact duplicate marking: rows flagged canonical iff they carry the
    * lowest id for their normalized-text fingerprint. One shuffle. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    docs.withColumn("fp", TextOps.fingerprint(col(textCol)))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col(idCol) === min(col(idCol)).over(w))
  }

  /** Duplicated-span statistics — the exact-substring dedup signal of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), Spark-shaped. Suffix arrays don't distribute; fingerprints
    * of fixed-width NON-overlapping token windows give the same per-doc
    * contamination signal in one map pass. A window duplicated across
    * documents marks boilerplate / copied spans that survive whole-doc
    * dedup.
    *
    * Plan shape (scales to 100 TB): one map pass explodes the windows and
    * fingerprints them (the token array is never shuffled); ONE shuffle
    * compacts to (fp, doc_id) grain; a window over fp supplies the
    * distinct-doc count at that already-compacted grain; a final doc-grain
    * aggregate. The corpus is scanned once — no self-join, no second
    * evaluation of the tokenize/hash stage.
    *
    * @return (doc_id, n_segments, dup_segments, dup_fraction), one row
    *         per document with at least one full window.
    */
  def spanDupStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 20): DataFrame = {
    require(window > 0, "window must be positive")
    val segs = docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .filter(col("n_tok") >= window) // partial tail windows are dropped
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), (col("n_tok") / window).cast("long") - 1))
          .as("i"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("i") * window + 1).cast("int"), lit(window))))
          .as("fp"))
    val perDocFp = segs.groupBy(col("fp"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    // rows are (fp, doc) grain, so a plain count over the fp frame IS the
    // distinct-doc count — no second distinct aggregation needed
    val w = Window.partitionBy(col("fp"))
    perDocFp
      .withColumn("n_docs", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_segments"),
        sum(when(col("n_docs") > 1, col("c")).otherwise(lit(0L)))
          .as("dup_segments"))
      .withColumn("dup_fraction",
        round(col("dup_segments").cast("double") / col("n_segments"), 6))
  }

  /** Span-level scrub: REMOVE cross-document duplicated windows and
    * reassemble the text (the operation [[spanDupStats]] measures — Lee
    * et al. 2022 delete duplicated spans rather than whole documents).
    * Windows are the same fixed-width token segments as [[spanDupStats]];
    * the trailing partial window is always kept (it is never compared).
    *
    * Plan shape (100 TB): ONE corpus scan explodes segments carrying
    * their text; duplication is decided by `min(doc) != max(doc)` over
    * the fp window — O(1) state per fingerprint partition, no
    * collect_set, so boilerplate windows shared by millions of docs
    * cost nothing extra; reassembly is one doc-grain aggregate. Two
    * corpus-volume shuffles total (fp grain, then doc grain) — the floor
    * for a global dup decision plus per-doc reassembly.
    *
    * @return (doc_id, n_removed, clean_text); clean_text is null when
    *         every window was removed and no tail existed. Zero-token
    *         documents are excluded (nothing to scrub).
    */
  def spanScrub(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 20): DataFrame = {
    require(window > 0, "window must be positive")
    val segs = docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("nf", (col("n") / window).cast("long"))
      .select(col("doc_id"), col("toks"), col("n"), col("nf"),
        explode(sequence(lit(0L), ((col("n") + (window - 1)) / window).cast("long") - 1))
          .as("i"))
      .withColumn("txt",
        concat_ws(" ", slice(col("toks"), (col("i") * window + 1).cast("int"), lit(window))))
      // the tail (i == nf, present only when n > nf*window) gets a
      // per-doc unique fp so the fp window never groups tails together
      .withColumn("is_tail", col("i") === col("nf"))
      .withColumn("fp",
        when(col("is_tail"), concat(lit("tail:"), col("doc_id").cast("string")))
          .otherwise(md5(col("txt"))))
      .select(col("doc_id"), col("i"), col("txt"), col("fp"), col("is_tail"))
    val w = Window.partitionBy(col("fp"))
    segs
      .withColumn("removed",
        !col("is_tail") && min(col("doc_id")).over(w) =!= max(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("removed"), lit(1L)).otherwise(lit(0L))).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(!col("removed"), struct(col("i"), col("txt"))))),
            s => s.getField("txt")),
          " ").as("joined"))
      .select(col("doc_id"), col("n_removed"),
        when(length(col("joined")) > 0, col("joined")).as("clean_text"))
  }

  /** MinHash signature of `k` hashes over distinct shingles — custom
    * Catalyst expression, one pass per row. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    HashExprs.minhash_sig(transform(shingleCol, s => xxhash64(s)), k)

  /** LSH band keys: `bands` hashes, each over `rowsPerBand` consecutive
    * signature entries. */
  def bandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64((0 until rowsPerBand)
          .map(r => element_at(sigCol, b * rowsPerBand + r + 1)): _*).as("bucket"))
    }: _*)

  /** In-bucket candidate pairs: group members per (band,bucket), cap skew,
    * expand ordered pairs from the member list (map-side after the one
    * groupBy shuffle). */
  private def bucketPairs(banded: DataFrame, maxBucket: Int): DataFrame =
    banded.groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

  /** Near-duplicate pairs via MinHash LSH with exact-Jaccard verification.
    *
    * @param threshold  exact shingle-Jaccard cutoff applied to candidates
    * @param maxBucket  skew guard: buckets larger than this are dropped
    * @return (id_a, id_b, jaccard) with id_a < id_b, each pair once
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8,
      maxBucket: Int = 1000): DataFrame = {
    // band tuning: r = k/bands rows per band. The default r=4,b=32 misses
    // a true j=0.8 pair with probability (1-0.8^4)^32 ≈ 5e-8 (lower for
    // higher j) — safe at the default threshold. Candidates are verified
    // with exact Jaccard, so extra background collisions cost only
    // verification work; raise `bands`' divisor (fewer, longer bands,
    // e.g. b=16,r=8) only when the threshold is ≥0.9 and verification
    // volume dominates.
    val rowsPerBand = k / bands
    // the whole tokenize→hash→shingle→distinct pipeline is ONE custom
    // expression producing sorted long arrays (the Column-DSL chain built
    // ~300 intermediate strings/arrays per row and was recomputed on every
    // reuse of this subtree); signatures, banding and exact verification
    // all run on the long arrays (hash collisions perturb Jaccard with
    // p≈2^-64)
    val sh = materializeOnce(fanOut(docs)
      .select(col(idCol).as("id"),
        HashExprs.shingle_hashes(col(textCol), shingleSize).as("shh"))
      .filter(size(col("shh")) > 0))
    val banded = sh
      .withColumn("sig", HashExprs.minhash_sig(col("shh"), k))
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val candidates = bucketPairs(banded, maxBucket)
    // candidate pairs are tiny vs the corpus: broadcast them into the
    // first shingle join; the second join shuffles only the slim
    // (id, long-array) projection
    // the verified pair list is also cached: it is tiny relative to the
    // corpus, downstream consumers (clustering d06, canonical selection
    // d07) iterate over it, and a pipeline that runs pairs->clusters->
    // canonical in one session must not re-run the verification joins
    materializeOnce(
      sh.select(col("id").as("id_a"), col("shh").as("sh_a"))
        .join(broadcast(candidates), Seq("id_a"))
        .join(sh.select(col("id").as("id_b"), col("shh").as("sh_b")), Seq("id_b"))
        .withColumn("jaccard",
          round(HashExprs.sorted_jaccard(col("sh_a"), col("sh_b")), 3))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard")))
  }

  /** PERSIST the MinHash-LSH band buckets as a serving layout (the
    * layout contract BM25 postings (t23) and IVF cells (s04) set, now
    * for near-dup ingest checks): band rows written
    * `partitionBy(part)` with `part = pmod(bucket, nParts)`, each row
    * carrying the doc's sorted shingle-hash array DENORMALIZED (the
    * impact-index trick — probing then needs NO join against a
    * corpus-wide sketch table; the ×bands storage buys join-free
    * verification forever). [[lshProbeIndex]] checks an ingest batch
    * against the stored corpus reading ONLY the batch's touched bucket
    * partitions — the d10 daily-ingest shape upgraded from exact
    * fingerprints to near-dup similarity, with no corpus scan and no
    * corpus shuffle per batch.
    *
    * Layout under `layoutDir`: `buckets/` (band, bucket, id, shh)
    * partitioned by `part`, built under [[PersistedLayout.build]]; the
    * ident pins corpus plan + every parameter INCLUDING `maxBucket` (a
    * changed skew cap rebuilds). Buckets larger than `maxBucket`
    * members are dropped at build (the [[minhashLsh]] skew guard —
    * boilerplate-shingle buckets would otherwise explode every probe;
    * appends do not re-check, the documented t24-style append trade).
    */
  def lshIndexWrite(docs: DataFrame, idCol: String, textCol: String,
      layoutDir: String, shingleSize: Int = 3, k: Int = 128,
      bands: Int = 32, nParts: Int = 64, maxBucket: Int = 1000): Unit = {
    require(k % bands == 0, s"bands must divide k: k=$k bands=$bands")
    // maxBucket and the columns are build identity (a different skew
    // cap keeps different buckets; a different column is a different
    // corpus) but ride AFTER the parameter prefix: append and probe take
    // neither and match on lshParamIdent alone
    val ident = lshParamIdent(shingleSize, k, bands, nParts) +
      s" cols=$idCol/$textCol maxBucket=$maxBucket" +
      s" corpus=${docs.queryExecution.analyzed.semanticHash()}"
    PersistedLayout.build(docs.sparkSession, layoutDir, ident) {
      val banded = lshBandRows(docs, idCol, textCol, shingleSize, k, bands,
        nParts).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // skew guard at build: oversized buckets out, whole buckets
        val keep = banded.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("_n")).filter(col("_n") <= maxBucket)
          .select(col("band"), col("bucket"))
        Layout.clusterForWrite(
            banded.join(keep, Seq("band", "bucket"), "left_semi"), "part")
          .write.mode("overwrite").partitionBy("part")
          .parquet(s"$layoutDir/buckets")
      } finally banded.unpersist()
    }
  }

  private def lshParamIdent(shingleSize: Int, k: Int, bands: Int,
      nParts: Int): String =
    s"graft-lsh-v1 shingleSize=$shingleSize k=$k bands=$bands nParts=$nParts"

  /** One doc's band rows: (part, band, bucket, id, shh) — shared by
    * build, append, and the probe side. */
  private def lshBandRows(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, k: Int, bands: Int, nParts: Int): DataFrame =
    docs
      .select(col(idCol).as("id"),
        HashExprs.shingle_hashes(col(textCol), shingleSize).as("shh"))
      .filter(size(col("shh")) > 0)
      .withColumn("sig", HashExprs.minhash_sig(col("shh"), k))
      .select(col("id"), col("shh"),
        explode(bandKeys(col("sig"), bands, k / bands)).as("bk"))
      .select(pmod(col("bk.bucket"), lit(nParts.toLong)).as("part"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("id"), col("shh"))

  /** APPEND an ingest batch's band rows to a persisted LSH layout (the
    * t24 shape): the batch becomes part of the corpus future probes
    * check against. Parameters must match the stored layout exactly
    * (the ident pins them); crash safety and retry refusal:
    * [[PersistedLayout.append]]. */
  def lshIndexAppend(newDocs: DataFrame, idCol: String, textCol: String,
      layoutDir: String, shingleSize: Int = 3, k: Int = 128,
      bands: Int = 32, nParts: Int = 64): Unit =
    PersistedLayout.append(newDocs.sparkSession, layoutDir,
        lshParamIdent(shingleSize, k, bands, nParts),
        PersistedLayout.batchTag(newDocs)) {
      Layout.clusterForWrite(
          lshBandRows(newDocs, idCol, textCol, shingleSize, k, bands, nParts),
          "part")
        .write.mode("append").partitionBy("part").parquet(s"$layoutDir/buckets")
    }

  /** Check an ingest batch for near-duplicates AGAINST the persisted
    * corpus index: every (probe, corpus) pair with exact shingle
    * Jaccard ≥ `threshold` whose signatures collide in ≥ 1 band.
    *
    * Scale shape: the batch's band keys + sketches compute map-side;
    * its touched partition ids collect to the driver (bounded by
    * min(nParts, bands·|batch|) values — the t23 touched-bucket
    * contract) and PRUNE the buckets scan to those directories; the
    * batch side broadcasts into the bucket equi-join, so the stored
    * corpus never shuffles; candidates dedup per pair (one
    * candidate-grain exchange) and verify ONCE per pair with the exact
    * [[graft.functions.HashExprs.sorted_jaccard]]. Probe cost scales
    * with the batch and its collisions, never with the corpus.
    *
    * @return (probe_id, corpus_id, jaccard), self-matches excluded.
    */
  def lshProbeIndex(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String, queryDocs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3, k: Int = 128,
      bands: Int = 32, nParts: Int = 64,
      threshold: Double = 0.8): DataFrame = {
    PersistedLayout.requireServable(spark, layoutDir,
      lshParamIdent(shingleSize, k, bands, nParts))
    val probe = materializeOnce(lshBandRows(
      queryDocs, idCol, textCol, shingleSize, k, bands, nParts))
    val touched = probe.select(col("part")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val corpus = spark.read.parquet(s"$layoutDir/buckets")
      .filter(col("part").isin(touched: _*))
    val cands = corpus.join(
        broadcast(probe.select(col("band"), col("bucket"),
          col("id").as("probe_id"), col("shh").as("p_shh"))),
        Seq("band", "bucket"))
      .filter(col("probe_id") =!= col("id"))
      // multiple band collisions propose the same pair: dedup BEFORE the
      // verify so exact Jaccard runs once per pair. distinct(), NOT
      // groupBy + first(<array>): every copy of a pair carries the
      // identical sketch arrays (same ids ⇒ same shh), so row-distinct
      // is semantically equal — and first() over an array buffer is an
      // immutable-type aggregate, which would force a SortAggregate of
      // the whole candidate set with both sketch payloads carried
      // through (the round-16 finding)
      .select(col("probe_id"), col("id").as("corpus_id"),
        col("p_shh"), col("shh").as("c_shh"))
      .distinct()
    cands
      .withColumn("jaccard",
        round(HashExprs.sorted_jaccard(col("p_shh"), col("c_shh")), 3))
      .filter(col("jaccard") >= threshold)
      // pair-grain dedup AFTER the verify (ADVICE r16): row-distinct
      // above assumes every copy of a pair carries identical sketches,
      // but lshIndexAppend does not guard against re-ingesting an
      // existing id with different text — the layout then stores TWO
      // shh versions for that id and the pair survives distinct() once
      // per version, emitting duplicate rows with different jaccard.
      // max(jaccard) restores the one-row-per-pair contract ("the best
      // matching stored version") — a plain double max, so this
      // HASH-aggregates (no immutable-buffer SortAggregate risk), and
      // it runs on the already-thresholded pair set, the smallest
      // frame in the function.
      .groupBy(col("probe_id"), col("corpus_id"))
      .agg(max(col("jaccard")).as("jaccard"))
      .select(col("probe_id"), col("corpus_id"), col("jaccard"))
  }

  /** 64-bit SimHash over tokens — custom Catalyst expression, one pass.
    * `tokenHash` maps each token to a long; the xxhash64 default is the
    * fast path, [[portableTokenHash63]] the cross-engine-replicable one. */
  def simhash(
      textCol: Column,
      tokenHash: Column => Column = xxhash64(_)): Column =
    HashExprs.simhash64(transform(TextOps.tokens(textCol), tokenHash))

  /** 63-bit token hash built from two md5 halves — bit-for-bit
    * reproducible in any engine with md5 + integer arithmetic (the top
    * bit is masked off so no step overflows a signed 64-bit int). Used
    * when a SimHash result must be verifiable against an external oracle;
    * ~2× the cost of xxhash64. */
  def portableTokenHash63(t: Column): Column =
    shiftleft(
      conv(substring(md5(t), 1, 8), 16, 10).cast("long")
        .bitwiseAND(lit(0x7FFFFFFFL)), 32)
      .bitwiseOR(conv(substring(md5(t), 9, 8), 16, 10).cast("long"))

  /** SimHash near-dup candidates: band the 64-bit signature into four
    * 16-bit chunks (hamming ≤ 3 guarantees a shared chunk — pigeonhole),
    * bucket-join, verify hamming distance. Returns (id_a, id_b, hamming).
    *
    * With `maxHamming <= 3` and no bucket hitting `maxBucket`, the result
    * is EXACTLY the all-pairs hamming filter (what the d03 oracle checks);
    * beyond 3 the banding is a recall/cost trade. Docs with no tokens are
    * excluded — their signature would be a meaningless all-zero value
    * pairing every empty doc with every other (that's exact-dedup's job).
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    simhashPairsFromSigs(docs
      .filter(size(TextOps.tokens(col(textCol))) > 0)
      .select(col(idCol).as("id"), simhash(col(textCol), tokenHash).as("sig")),
      maxHamming, maxBucket)
  }

  /** [[simhashPairs]]' banding + verify stage over a PRECOMPUTED
    * (id, sig) signature frame — the reuse point for non-text
    * signatures (binary payloads via
    * [[Multimodal.binarySimhashPairs]]). Same guarantee: with
    * `maxHamming <= 3` and no bucket at `maxBucket`, the result is
    * exactly the all-pairs hamming filter. */
  def simhashPairsFromSigs(sigFrame: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val sigs = materializeOnce(sigFrame.select(col("id"), col("sig")))
    val banded = sigs.select(col("id"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("band"),
          shiftright(col("sig"), c * 16).bitwiseAND(0xFFFFL).as("bucket"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val candidates = bucketPairs(banded, maxBucket)
    // pair list cached for pipeline reuse — same rationale as minhashLsh
    materializeOnce(
      sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .join(broadcast(candidates), Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
        .filter(col("hamming") <= maxHamming)
        .select("id_a", "id_b", "hamming"))
  }

  /** Leakage-safe train/test split: partition documents by NEAR-DUP
    * CLUSTER, not by row, so no near-duplicate pair ever straddles the
    * boundary — the contamination control every eval split over a
    * web-scale corpus needs (a test doc whose near-twin sits in train
    * is a leaked answer; row-hash splits leak every duplicated doc).
    * Chain: [[minhashLsh]] pair edges → [[connectedComponents]] labels
    * → singletons fall back to their own id → the CLUSTER id (never the
    * doc id) hashes into `buckets` via the portable md5-prefix rule
    * (the t18/d03 cross-engine hash), with the first `testBuckets`
    * buckets becoming the test split.
    *
    * Scale shape: adds exactly one broadcast-ready label join and a
    * map-side hash to the d06 clustering cost; the split is stable
    * under corpus growth for unchanged clusters (hash of the min-id
    * label — adding NEW docs to a cluster can change its min id, which
    * is inherent to any id-keyed assignment; freeze splits by
    * persisting them, the incremental-dedup d10 shape).
    *
    * @return (id, cluster_id, split) — split ∈ {"test", "train"}.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, k: Int, bands: Int, threshold: Double,
      buckets: Int = 10, testBuckets: Int = 2): DataFrame = {
    require(buckets >= 2 && testBuckets >= 1 && testBuckets < buckets)
    val pairs = minhashLsh(docs, idCol, textCol, shingleSize, k, bands, threshold)
    val labels = connectedComponents(pairs.select("id_a", "id_b"))
    docs.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id"))
      .withColumn("split",
        when(conv(substring(md5(col("cluster_id").cast("string")), 1, 8),
            16, 10).cast("long") % buckets < testBuckets, lit("test"))
          .otherwise(lit("train")))
  }

  /** Connected components over an undirected edge list `(id_a, id_b)` —
    * see [[connectedComponentsStats]] for the algorithm and guarantees. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponentsStats(edges, maxIter)._1

  /** Large-star: every node links its LARGER neighbors to the minimum of
    * its closed neighborhood. ONE exchange: the per-node minimum is a
    * whole-partition window min over hash(u) — the groupBy-min + join
    * formulation paid two exchanges of the edge set per round (agg input
    * + join probe input) for the same result, and on the post-round-1
    * near-star graphs the loop spends its time in exchange barriers, not
    * data.
    *
    * Skew trade, stated honestly: a hub node's window group buffers (and
    * spills via UnsafeExternalSorter) its whole neighbor list in one
    * task, where groupBy-min + join streams the hub's edges through the
    * probe at the cost of that second full-edge-set exchange. Both
    * formulations put the hub's edges in ONE task either way (hash(u)
    * co-location); the window variant converts the second network pass
    * into a disk-backed sort, which wins whenever rounds are
    * barrier-dominated — the post-round-1 regime this loop lives in. An
    * extreme-skew first round (a component holding most of the corpus)
    * is where the two-exchange partial-agg formulation is the fallback.
    *
    * No output distinct — duplicate (v, m) edges are min-neutral for the
    * next star and small-star's final distinct clears them. Input and
    * output edges are canonically (hi, lo) oriented. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy(col("u"))
    sym.withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")) // m <= u < v: canonical
  }

  /** Small-star: orient edges high→low; every node links its smaller
    * neighbors (and itself) to its minimum neighbor. Same one-exchange
    * window shape as [[largeStar]]; both output rows per edge come out of
    * a single map-side explode so the window subtree evaluates once. */
  private def smallStar(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("u"))
    e.withColumn("m", min(col("v")).over(w))
      .select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u").as("u"), col("m").as("v")))).as("ed"))
      .select(col("ed.u").as("u"), col("ed.v").as("v"))
      .filter(col("u") =!= col("v")) // (m, m) self-link
      .distinct()
  }

  /** Zero-shuffle local contraction — the map-side pre-pass of two-phase
    * distributed CC ("local aggregation" in the Kiveris et al. lineage):
    * each input partition runs a union-find over ITS OWN edges and emits
    * one (node, local set minimum) star edge per non-minimum node.
    * Connectivity is preserved (both endpoints of every original edge
    * land in their set's emitted star), and a k-clique that fits in one
    * partition leaves it as k-1 edges instead of ~k²/2 — the LSH
    * near-dup graphs this loop exists for are exactly that shape, so at
    * 100 TB the FIRST exchange of the star loop carries node-count, not
    * edge-count, volume.
    *
    * Memory: the union-find map holds the partition's distinct node ids.
    * The input is the shuffle-partitioned `canon` checkpoint — so the
    * bound is edges/`spark.sql.shuffle.partitions` per task, NOT the
    * file-scan split size (`maxPartitionBytes` never applies here). The
    * caller enforces the bound: [[connectedComponentsStats]] counts the
    * checkpointed edge set and repartitions it before this pass whenever
    * edges-per-task would exceed ~8M (≈ ≤16M map entries, ~0.5 GB peak).
    * Without that guard the pass stays narrow (no exchange, no barrier)
    * and fuses into whatever job first consumes the result.
    */
  private def localContract(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("u"), col("v")).as[(Long, Long)].mapPartitions { it =>
      val parent = new java.util.HashMap[Long, Long]()
      // union-by-min-root: roots only ever decrease, so each set's final
      // root is its minimum id. Path compression only ever rewrites
      // EXISTING keys (every chain node is keyed by the putIfAbsent
      // below), so value puts stay non-structural.
      def find(x0: Long): Long = {
        var r = x0
        var p = parent.getOrDefault(r, r)
        while (p != r) { r = p; p = parent.getOrDefault(r, r) }
        var x = x0
        while (x != r) { val p2 = parent.get(x); parent.put(x, r); x = p2 }
        r
      }
      it.foreach { case (u, v) =>
        parent.putIfAbsent(u, u)
        parent.putIfAbsent(v, v)
        val ru = find(u)
        val rv = find(v)
        if (ru < rv) parent.put(rv, ru)
        else if (rv < ru) parent.put(ru, rv)
      }
      val out = Vector.newBuilder[(Long, Long)]
      val ks = parent.keySet().iterator()
      while (ks.hasNext) {
        val n = ks.next()
        val r = find(n) // value-only updates: safe during key iteration
        if (r != n) out += ((n, r)) // r < n: canonical (hi, lo)
      }
      out.result().iterator
    }.toDF("u", "v")
  }

  /** Connected components via alternating large-star/small-star edge
    * CONTRACTION (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): each round rewrites the edge set toward stars rooted at
    * component minima, converging in O(log n) practical rounds. Unlike
    * label propagation — whose every round joins the FULL edge set — the
    * working set here shrinks as components contract (a near-dup cluster
    * of k docs enters as ~k²/2 LSH pair edges and collapses to k-1 star
    * edges after one round), so per-round shuffle volume decreases; the
    * returned trace exposes that for perf probes.
    *
    * Every round is localCheckpointed via [[IterativeLoop]] with
    * `checkpointEvery = 1` (the alternation self-references; an unchecked
    * plan doubles per round) and superseded checkpoints are released
    * immediately. The RETURNED labels are a self-contained
    * localCheckpoint with every loop-held block released before return —
    * the [[GraphOps.bfsDistances]] contract; round 9's only weak bench
    * row was the previous version leaving its final-round + self-loop
    * checkpoints referenced by a lazy result plan, unreleasable by any
    * caller and re-evaluated per consumer. If the cap is hit this throws
    * (after releasing everything) rather than returning wrong labels.
    *
    * @return (labels, perRoundEdgeCounts); labels = (id, label) with
    *         label = min reachable node id, one row per node in `edges`.
    */
  def connectedComponentsStats(
      edges: DataFrame, maxIter: Int = 25): (DataFrame, Seq[Long]) = {
    val loop = new IterativeLoop(checkpointEvery = 1)
    // one materialization of the (possibly expensive) upstream; every
    // derivation below reads this checkpoint, never `edges` again
    val canon = loop.pinCheckpoint(edges
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct()
      .localCheckpoint())
    try {
      // nodes whose ONLY edges are self-loops still get a label row (the
      // output contract is one row per node in `edges`); tiny, but must
      // outlive `canon`, hence its own checkpoint
      val selfLoopNodes = loop.pinCheckpoint(canon.filter(col("u") === col("v"))
        .select(col("u").as("id")).distinct().localCheckpoint())
      // map-side pre-contraction: cliques collapse to stars BEFORE the
      // first exchange (still a view over the canon checkpoint — the
      // union-find pass re-runs map-only wherever the plan is consumed).
      // Heap guard first: canon is shuffle-partitioned, so per-task edge
      // volume is edges/shuffle.partitions — with few partitions on a
      // huge edge set one task's union-find map could blow the heap.
      // Counting the checkpoint is cheap (cached partitions) and the
      // repartition triggers only when a task would exceed the ~8M-edge
      // budget, so small/medium inputs keep the zero-exchange path.
      val maxEdgesPerTask = 8L * 1000 * 1000
      val neededParts =
        ((canon.count() + maxEdgesPerTask - 1) / maxEdgesPerTask).toInt
      val nonLoop = canon.filter(col("u") =!= col("v"))
      var cur: DataFrame = localContract(
        if (canon.rdd.getNumPartitions >= neededParts) nonLoop
        else nonLoop.repartition(neededParts))
      val trace = scala.collection.mutable.ArrayBuffer.empty[Long]
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
          // ONE materialization barrier per round: ls is NOT checkpointed
          // because small-star consumes it exactly ONCE (its window-min +
          // explode pipeline makes a single pass; the map-side explode
          // branches sit above one window stage). Round 4 measured a
          // per-round ls checkpoint as the faster option, but that was
          // against the groupBy-min + join small-star whose TWO ls
          // references re-evaluated the large-star chain without it — a
          // future smallStar that references ls more than once must
          // either restore the checkpoint or end largeStar in a reusable
          // exchange boundary.
          val ls = largeStar(cur)
          val (ss, n) = loop.advanceCounted(smallStar(ls))
          trace += n
          // Fixpoint ⟺ the edge set is disjoint stars with one root per
          // member: a node that is a member TWICE has two labels, and a
          // member that is also a root is a chain — both are rewritten by
          // the next round, and unique-root stars are stable under both
          // star operations (roots = component minima by the canonical
          // (hi, lo) orientation). Detecting the SHAPE converges one full
          // round earlier than the round-5 set-equality test, which
          // needed a whole extra large+small star round plus an anti-join
          // to observe "nothing changed"; the check itself is one
          // map-side-combinable aggregation over the just-checkpointed
          // round output — count-class cost at any scale.
          converged = n == 0L || {
            val nodes = ss.select(explode(array(
              struct(col("u").as("id"), lit(1).as("memb")),
              struct(col("v").as("id"), lit(0).as("memb")))).as("x"))
              .select(col("x.id").as("id"), col("x.memb").as("memb"))
            nodes.groupBy(col("id"))
              .agg(sum(col("memb")).as("m"), min(col("memb")).as("mn"))
              .filter(col("m") > 1 || (col("m") >= 1 && col("mn") === 0))
              .isEmpty
          }
          cur = ss
          i += 1
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds")
      // converged ⟹ the loop ran ≥1 round, so cur is round-output
      // checkpoint state; stars: (member, center) + the centers
      // themselves + isolated self-loop nodes not already present as
      // star members/centers. finish() materializes this derivation ONCE
      // over the cached final round (the previous lazy return
      // re-evaluated the union/distinct tail per consumer — d07's joins
      // paid it repeatedly) and releases every loop-held block.
      val starLabels = cur.select(col("u").as("id"), col("v").as("label"))
        .union(cur.select(col("v").as("id"), col("v").as("label")).distinct())
        .distinct()
      val isolated = selfLoopNodes
        .join(starLabels, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("label"))
      (loop.finish(starLabels.union(isolated)), trace.toSeq)
    } catch {
      case e: Throwable => loop.abort(); throw e
    }
  }

  /** EXACT shingle-set similarity join via prefix filtering (the
    * AllPairs/PPJoin family): every pair with shingle Jaccard ≥
    * `threshold`, no misses, no all-pairs compare. The exact complement
    * of [[minhashLsh]] on the same units: MinHash pays a fixed k-hash
    * signature cost and a (vanishing) per-pair miss probability; prefix
    * filtering is signature-free and exact, at the price of a
    * shingle-grain document-frequency pass.
    *
    * How: order each document's distinct shingles by ascending global df
    * (rarest first — ties broken by hash value, any consistent total
    * order works), keep only the first `|x| - ceil(t·|x|) + 1` as the
    * PREFIX. Two sets with Jaccard ≥ t share ≥ ceil(t·|x|) shingles,
    * which cannot all hide past either prefix — so candidate generation
    * is an equi-join on prefix shingles with zero false negatives, and
    * the exact [[HashExprs.sorted_jaccard]] verify (the d04 expression)
    * keeps false positives out of the output. Boilerplate skew is
    * structurally absent: a df-heavy shingle is by construction not
    * prefix-resident in any large document, so stopword-style buckets
    * never form.
    *
    * Scale shape: one df aggregate (shingle-grain, map-combined), one
    * window at document grain to rank shingles, a prefix equi-join
    * proposing candidates, and a verify join carrying the two sorted
    * hash arrays — every shuffle is shingle- or candidate-grain, never
    * corpus². */
  def prefixJaccardJoin(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, threshold: Double): DataFrame = {
    val toks = materializeOnce(docs
      // shingle_hashes emits a SORTED distinct array — sorted_jaccard's
      // input contract, and a deterministic tok order for free
      .select(col(idCol).as("id"),
        HashExprs.shingle_hashes(col(textCol), shingleSize).as("toks"))
      .filter(size(col("toks")) > 0))
    val exploded = toks.select(col("id"), size(col("toks")).as("sz"),
      explode(col("toks")).as("tok"))
    val df = exploded.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ranked = exploded.join(df, "tok")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df").asc, col("tok").asc)))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("tok"), col("id"))
    val cands = ranked.as("a").join(ranked.as("b"), Seq("tok"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(toks.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("jaccard",
        round(HashExprs.sorted_jaccard(col("toks_a"), col("toks_b")), 3))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT edit-distance self-join via partition-based blocking (the
    * PassJoin design, Li, Deng & Feng VLDB'11): every unordered pair
    * with `levenshtein ≤ maxDist`, no misses, no all-pairs compare —
    * the strong-blocking design the sf0.1→sf1 scale probe demanded
    * (the length-band-only fuzzy join q84 grows ~quadratically with
    * the table; see PERF_PROBE.md).
    *
    * Pigeonhole: partition each string into `d+1` contiguous segments
    * (d = maxDist; short segments first, the canonical even split).
    * Each edit touches at most one segment, so `ed(s,t) ≤ d` leaves at
    * least one segment of `s` UNTOUCHED — it appears in `t` verbatim,
    * at a start position shifted by at most the net indels before it
    * (|shift| ≤ d). Candidate generation is therefore an EQUI-JOIN on
    * `(source length, segment index, segment text)`: the index side
    * emits each string's d+1 segments; the probe side emits, for every
    * candidate partner length `ls` within ±d of its own and every
    * segment spec of `ls`, the substrings at starts within ±d of the
    * segment's home position — O((2d+1)²·(d+1)) keys per string, a
    * constant. Position-anchored segment keys are what make this
    * selective where rare-q-gram prefixes are not: on a low-entropy
    * corpus (natural-ish text over a small vocabulary) individual
    * grams are common everywhere, but an aligned multi-char window
    * matching VERBATIM already implies real similarity.
    *
    * Strings shorter than `d+1` (zero-length segments) take a
    * dedicated LENGTH-BAND equi-join (the short side explodes its ±d
    * length keys; partners join on exact length) — candidate volume
    * O(|short| · band density), still never n².
    *
    * A final codegen'd `levenshtein` verify on candidate grain keeps
    * false positives out; exactness = segment-candidates ∪
    * short-band-candidates is a superset of all true pairs (property-
    * tested against brute force on random indel-heavy corpora).
    *
    * Scale shape: two map-side constant-fanout explodes, one equi-join
    * on segment keys, a candidate-grain distinct + verify — no df
    * pass, no window, no cartesian. CACHING CONTRACT: persists its
    * record projection for the pipeline (caller releases, as with the
    * other persisting operators).
    *
    * @return (id_a, id_b, dist) with id_a < id_b, dist = levenshtein.
    */
  def editDistanceJoin(records: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val d = maxDist
    val k = d + 1
    // fanOut: the A/B'd MinHash rationale holds here too — the probe
    // side explodes O((2d+1)²·(d+1)) position-anchored keys per string
    // and the verify runs full levenshtein per candidate, all downstream
    // of this cache's partitioning (measured round 20: every heavy q128
    // stage ran 1-2 tasks at 32 cores)
    val recs = materializeOnce(fanOut(records)
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("len", length(col("s"))))
    // canonical even split of length L into k segments, SHORT first:
    // segment i (1-based) has ln_i = L div k (+1 for the last L mod k
    // segments) and 1-based start st_i
    def segLen(l: Column, i: Int): Column =
      (l / k).cast("int") + when(lit(i) > lit(k) - l % k, 1).otherwise(0)
    def segStart(l: Column, i: Int): Column =
      (lit(i - 1) * (l / k).cast("int") +
        greatest(lit(0), lit(i - 1) - (lit(k) - l % k)) + 1).cast("int")
    // index side: the k segments of every string with len >= k
    val indexSide = recs.filter(col("len") >= k)
      .select(col("id"), col("len"),
        explode(array((1 to k).map(i => struct(lit(i).as("i"),
          col("s").substr(segStart(col("len"), i), segLen(col("len"), i))
            .as("seg"))): _*)).as("e"))
      .select(col("len").as("ls"), col("e.i").as("i"),
        col("e.seg").as("seg"), col("id").as("id_x"))
    // probe side: for each partner length ls in [len-d, len+d] with
    // ls >= k, each segment spec of ls, all starts within ±d of home
    val probeSpecs = (-d to d).flatMap { dl =>
      (1 to k).map(i => (dl, i))
    }
    val probeSide = recs
      .select(col("id"), col("s"), col("len"),
        explode(array(probeSpecs.map { case (dl, i) =>
          val ls = col("len") + dl
          val ln = segLen(ls, i)
          val home = segStart(ls, i)
          struct(ls.cast("int").as("ls"), lit(i).as("i"),
            greatest(lit(1), home - d).as("lo"),
            least(col("len") - ln + 1, home + d).cast("int").as("hi"),
            ln.as("ln"))
        }: _*)).as("p"))
      .filter(col("p.ls") >= k && col("p.ln") >= 1 && col("p.lo") <= col("p.hi"))
      .select(col("id"), col("s"), col("p.ls").as("ls"), col("p.i").as("i"),
        col("p.ln").as("ln"),
        explode(sequence(col("p.lo"), col("p.hi"))).as("st"))
      .select(col("ls"), col("i"),
        col("s").substr(col("st"), col("ln")).as("seg"), col("id").as("id_y"))
    val segCands = indexSide.join(probeSide, Seq("ls", "i", "seg"))
      .filter(col("id_x") =!= col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
    // short-string path: len < k means zero-length segments — band on
    // exact partner length via an exploded ±d key, an equi-join
    val shortCands = recs.filter(col("len") < k)
      .select(col("id").as("sid"),
        explode(sequence(col("len") - d, col("len") + d)).as("lk"))
      .join(recs.select(col("id").as("pid"), col("len").as("lk")), "lk")
      .filter(col("sid") =!= col("pid"))
      .select(least(col("sid"), col("pid")).as("id_a"),
        greatest(col("sid"), col("pid")).as("id_b"))
    segCands.unionByName(shortCands).distinct()
      // the pair rows are a few bytes each, so AQE coalesces the
      // distinct's read side to one partition — but every surviving
      // pair pays a full levenshtein in the verify, a per-row cost the
      // byte-based coalescing cannot see (measured round 20: two
      // 0.8s single-task verify stages at 32 cores). An explicit
      // pair-grain spread keeps the verify parallel; AQE leaves
      // user-specified repartitions alone.
      .repartition(records.sparkSession.sparkContext.defaultParallelism)
      .join(recs.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(recs.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Entity resolution by the sorted-neighborhood method (Hernández &
    * Stolfo SIGMOD'95 merge/purge): records sorted by a normalization
    * key, candidate pairs proposed within a sliding window of `window`
    * positions, matched when Jaro-Winkler similarity clears `threshold`,
    * and match edges closed into entities by connected components (the
    * transitive-closure step that links record variants which never meet
    * directly — A~B and B~C puts A,C in one entity even when jw(A,C) is
    * below threshold). Returns one row per record: (record_id, entity),
    * entity = the minimum record id of the resolved cluster; unmatched
    * records are singleton entities of themselves.
    *
    * The sort-window candidate generation is the hash-blocking
    * alternative: no blocking key can be exact-match brittle, because
    * near-variants land adjacent under the sort even when every
    * attribute differs slightly — at the cost of missing variant pairs
    * farther than `window` apart in sort order (the method's documented
    * recall trade; production runs multi-pass with different sort keys).
    *
    * Scale shape: the global sort rank comes from [[Prefix.exclusiveSum]]
    * (range-partitioned two-level cumsum — never a single-task global
    * window); the sliding window becomes a BANDED EQUI-JOIN — each row
    * joins only the two `window`-sized rank buckets a partner within
    * `window` positions can occupy, so candidate volume is O(n·window)
    * by construction, never n². Jaro-Winkler runs on candidate grain,
    * and the component step is [[connectedComponents]]' large/small-star
    * loop. CACHING CONTRACT: the ranked projection persists for the
    * pipeline (caller releases, same as the other persisting operators).
    */
  def sortedNeighborhoodEr(records: DataFrame, idCol: String,
      nameCol: String, sortKey: Column, window: Int,
      threshold: Double): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val recs = materializeOnce(Prefix.exclusiveSum(
      records.select(col(idCol).cast("long").as("id"), col(nameCol).as("nm"),
        sortKey.as("sk")),
      Seq(col("sk"), col("id")), lit(1L), "rn").drop("sk"))
    // partner rank rn_b of a pair (rn_a < rn_b <= rn_a + window) lives in
    // bucket (rn_a div window) or the one after — emit the left row into
    // both, equi-join on the bucket, then exact-filter the rank distance
    val a = recs.select(col("id").as("id_a"), col("nm").as("nm_a"),
      col("rn").as("rn_a"),
      explode(array(expr(s"rn div $window"),
        expr(s"rn div $window") + 1)).as("bk"))
    val b = recs.select(col("id").as("id_b"), col("nm").as("nm_b"),
      col("rn").as("rn_b"), expr(s"rn div $window").as("bk"))
    val edges = a.join(b, "bk")
      .filter(col("rn_b") > col("rn_a") && col("rn_b") <= col("rn_a") + window)
      .filter(round(graft.functions.StringSim.jaro_winkler(
        col("nm_a"), col("nm_b")), 4) >= threshold)
      .select(col("id_a"), col("id_b"))
    val labels = connectedComponents(edges)
      .select(col("id").as("_lid"), col("label"))
    recs.join(labels, recs("id") === col("_lid"), "left_outer")
      .select(recs("id").as("record_id"),
        coalesce(col("label"), recs("id")).as("entity"))
  }
}
