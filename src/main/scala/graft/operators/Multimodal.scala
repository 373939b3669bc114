package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * The container has no image/audio codecs, so the *decode* step is a
  * deterministic fake (parse our own 8-byte header + payload stats); the
  * Spark-side plumbing — binary schema, typed Dataset, mapPartitions batch
  * shape, partition sizing — is real and is what matters at 100 TB:
  * binary payloads dominate row size, so `spark.sql.files.maxPartitionBytes`
  * and per-partition batching (not per-row calls) control memory and
  * decode-library amortization on a real cluster.
  */
object Multimodal {

  /** A media row: id + opaque payload (fake "image": 8-byte header of two
    * big-endian int32 (width, height) followed by the raw payload). */
  final case class MediaRecord(media_id: Long, content: Array[Byte])

  /** Decoded metadata produced by the (stubbed) decoder. */
  final case class MediaMeta(
      media_id: Long,
      width: Int,
      height: Int,
      n_payload: Long,
      mean_byte: Double)

  /** Fabricate a binary "image" column from the documents table:
    * header(width = n_chars % 1024, height = doc_id % 768) ++ utf8(text).
    * Pure column ops — the binary is materialized distributed, never on
    * the driver. */
  def fabricate(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      concat(
        to_binary(lpad(hex((col("n_chars") % 1024).cast("int")), 8, "0"), lit("hex")),
        to_binary(lpad(hex((col("doc_id") % 768).cast("int")), 8, "0"), lit("hex")),
        encode(col("text"), "UTF-8")).as("content"))

  /** The decode step: per-partition batched iteration (the shape a real
    * codec binding needs — amortize native-lib init per partition, not per
    * row). Decoding itself is a deterministic stand-in for e.g. libjpeg:
    * parse the header, aggregate payload bytes. */
  def decode(media: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init happens here (real codecs: allocate decoder once)
      it.map { rec =>
        val bb = java.nio.ByteBuffer.wrap(rec.content)
        val width = bb.getInt(0)
        val height = bb.getInt(4)
        val payload = rec.content.drop(8)
        val mean =
          if (payload.isEmpty) 0.0
          else payload.foldLeft(0L)((s, b) => s + (b & 0xFF)).toDouble / payload.length
        MediaMeta(rec.media_id, width, height, payload.length.toLong,
          math.rint(mean * 10000) / 10000)
      }
    }
  }

  /** End-to-end: fabricate → typed decode → metadata DataFrame. */
  def decodePipeline(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    decode(fabricate(docs).as[MediaRecord]).toDF()
  }

  /** Fixed-stride frame sampling over an opaque payload — the "video"
    * analog of [[decode]]: one row per frame with a content digest. The
    * explode happens map-side (no shuffle: frame count is computed from
    * the payload length column, frames are sliced lazily), so a 100 TB
    * corpus fans out to frames without materializing payload copies; a
    * real pipeline would swap the `md5(slice)` for the codec call and keep
    * exactly this plan shape.
    */
  def frameSample(docs: DataFrame, frameBytes: Int = 64): DataFrame =
    docs
      .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("payload"))
      .filter(octet_length(col("payload")) > 0)
      .withColumn("n_frames",
        ceil(octet_length(col("payload")).cast("double") / frameBytes).cast("long"))
      .select(col("media_id"), col("payload"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        md5(expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)"))
          .as("frame_md5"),
        octet_length(
          expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)"))
          .cast("long").as("frame_len"))

  /** GPT-style training-sequence layout: concatenate documents in id
    * order into one continuous token stream and cut it every `seqLen`
    * tokens. Each document gets the sequence id and intra-sequence
    * offset where it STARTS, plus whether it straddles a cut (its tokens
    * split across two training sequences — the standard pretraining
    * packing, where attention masking or doc-boundary tokens handle the
    * seam). Differs from [[packBySize]], which assigns whole items to
    * budget bins without splitting.
    *
    * Positioning is [[Prefix.exclusiveSum]] (shared with packBySize):
    * no global window, no driver collection, exact equality with the
    * sequential cumsum.
    * Returns (idCol, lenCol, seq_id, offset, spans_boundary).
    */
  def sequenceLayout(
      df: DataFrame, idCol: String, lenCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val reserved = Seq("seq_id", "offset", "spans_boundary")
    require(!df.columns.exists(reserved.contains),
      s"sequenceLayout reserves columns ${reserved.mkString(", ")}; rename them first")
    // start position in the concatenated stream (exclusive prefix)
    Prefix.exclusiveSum(df, Seq(col(idCol)), col(lenCol), "_start")
      .withColumn("seq_id", expr(s"_start div $seqLen"))
      .withColumn("offset", col("_start") % seqLen)
      .withColumn("spans_boundary", col("offset") + col(lenCol) > seqLen)
      .drop("_start")
  }

  /** WebDataset-style shard export: pack samples into contiguous
    * size-budgeted shards ([[packBySize]] semantics — next-fit over the
    * id-ordered byte stream), write each shard as ONE binary file
    * (`shard-<id>.bin`, payloads concatenated in sample-id order), and
    * return the manifest (shard_id, n_samples, bytes, first_id,
    * last_id) a training loader reads instead of listing files.
    *
    * Scale shape: the repartition on shard id puts every shard's rows in
    * one task, `sortWithinPartitions` restores id order, and a single
    * `mapPartitions` pass streams payloads straight to the filesystem
    * while accumulating the manifest rows — the payload bytes are never
    * buffered beyond one row and never reach the driver (only the
    * metadata-sized manifest does, which also runs the write exactly
    * once). Each shard streams to an attempt-unique temp file renamed
    * into place on completion, so duplicate task attempts (speculation,
    * zombies) cannot interleave bytes; the output dir is cleared first,
    * so stale shards from a previous layout cannot survive into the new
    * manifest's read-back.
    */
  def writeShards(
      samples: DataFrame, idCol: String, payloadCol: String,
      budgetBytes: Long, outDir: String): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val driverConf = spark.sessionState.newHadoopConf()
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(driverConf)
    if (fs.exists(outPath)) fs.delete(outPath, true)
    fs.mkdirs(outPath)
    // executors must resolve the SAME filesystem/credentials the driver
    // just used (s3a keys, fs.defaultFS, ...): ship the session Hadoop
    // conf as a plain map — a bare `new Configuration()` on the executor
    // sees only classpath defaults
    val confMap: Map[String, String] =
      driverConf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    // bytes of the ENCODED payload: cast to binary first so a string
    // column measures UTF-8 bytes, not characters — length(string) would
    // make the budget math and manifest offsets wrong for non-ASCII text
    val sized = samples.select(col(idCol).as("sid"),
        col(payloadCol).cast("binary").as("payload"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
    val manifestRows = packBySize(sized, "sid", "n_bytes", budgetBytes)
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("sid"))
      .select(col("bucket"), col("sid"), col("payload"), col("n_bytes"))
      .as[(Long, Long, Array[Byte], Long)]
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confMap.foreach { case (k, v) => conf.set(k, v) }
        // write each shard to an attempt-unique temp name and rename into
        // place on completion: a speculative or zombie duplicate attempt
        // streams into ITS OWN temp file, so the final rename always
        // installs one attempt's complete bytes, never an interleaving.
        // (Rename is atomic on HDFS/local; object stores without atomic
        // rename want a real commit protocol on top.)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
        var cur = Long.MinValue
        var os: org.apache.hadoop.fs.FSDataOutputStream = null
        var tmp: org.apache.hadoop.fs.Path = null
        def roll(n: Long, b: Long, first: Long, last: Long): Unit = if (os != null) {
          os.close(); os = null
          val fin = new org.apache.hadoop.fs.Path(s"$outDir/shard-$cur.bin")
          val tfs = fin.getFileSystem(conf)
          // rename/delete report failure as a BOOLEAN, not an exception
          // (quota, concurrent deletion, object-store rename semantics):
          // swallowing a false would emit a manifest row for a shard that
          // is missing or stale on disk — fail the task instead and let
          // Spark's retry re-run the whole partition
          if (tfs.exists(fin)) require(tfs.delete(fin, false),
            s"failed to delete stale shard $fin")
          require(tfs.rename(tmp, fin), s"rename $tmp -> $fin failed")
          res += ((cur, n, b, first, last))
        }
        var n = 0L; var b = 0L; var first = 0L; var last = 0L
        it.foreach { case (bucket, sid, payload, nb) =>
          if (bucket != cur) {
            roll(n, b, first, last)
            cur = bucket; n = 0L; b = 0L; first = sid
            tmp = new org.apache.hadoop.fs.Path(
              s"$outDir/.shard-$bucket.bin.$attempt.tmp")
            os = tmp.getFileSystem(conf).create(tmp, true)
          }
          os.write(payload)
          n += 1L; b += nb; last = sid
        }
        roll(n, b, first, last)
        res.iterator
      }
      // the manifest is metadata-sized by construction (corpus bytes /
      // budget rows — 100 TB at 1 GiB shards is ~100k tiny rows), so
      // materializing it on the driver is safe, runs the write exactly
      // once, and leaves no checkpoint/cache state behind
      .collect().toSeq
    manifestRows
      .toDF("shard_id", "n_samples", "bytes", "first_id", "last_id")
  }

  /** Size-aware bin packing: assign each row a `bucket` so every bucket's
    * payload bytes stay within `budgetBytes` (+ at most one row's
    * overshoot — the classic next-fit bound). Multimodal rows vary by
    * orders of magnitude (thumbnails vs videos), so count-based
    * partitioning produces straggler tasks and OOM-prone writes; packing
    * by cumulative size fixes both (`repartition($"bucket")` before the
    * write, or write partitioned by it). Positioning is
    * [[Prefix.exclusiveSum]] — no global window, no driver collection.
    */
  def packBySize(
      df: DataFrame, idCol: String, bytesCol: String,
      budgetBytes: Long): DataFrame = {
    require(budgetBytes > 0, s"budgetBytes must be positive, got $budgetBytes")
    require(!df.columns.contains("bucket"),
      "packBySize reserves column bucket; rename it first")
    // bucket = (exclusive byte prefix) div budget — next-fit over the
    // id-ordered stream. Duplicate-id tie behavior: Prefix.exclusiveSum's
    // ROWS-frame note (the next-fit bound still holds; pass a unique id
    // for run-to-run reproducible assignments).
    Prefix.exclusiveSum(df, Seq(col(idCol)), col(bytesCol), "_startb")
      .withColumn("bucket", expr(s"_startb div $budgetBytes"))
      .drop("_startb")
  }

  /** Near-duplicate detection over OPAQUE BINARY payloads: SimHash of
    * overlapping byte n-grams — the modality-agnostic near-dup signal
    * for media columns (re-uploaded assets differing in a few metadata
    * bytes, recompressed-but-identical payload runs), the binary
    * sibling of the text pipeline's d03/d08. A real deployment would
    * hash DECODED features (pHash pixels, audio chroma); with the
    * decode stubbed ([[decode]]'s contract), content byte-grams are
    * the honest equivalent and exercise the identical plumbing:
    * signatures from the binary column, banded bucketing, hamming
    * verify.
    *
    * Byte 4-grams slide at 1-BYTE stride over the payload's hex
    * encoding (grams = 8 hex chars at stride 2 — alignment-free, so a
    * single inserted byte still leaves most grams shared); each gram
    * takes the FULL 63-bit [[Dedup.portableTokenHash63]] (d08's 32-bit
    * prefix would leave the two high signature bands all-zero — every
    * row in one bucket, saturating the band cap and silently breaking
    * the exactness guarantee at corpus scale) and the signature is the
    * bit-majority [[graft.functions.HashExprs.simhash64]]. Pairing is
    * [[Dedup.simhashPairsFromSigs]] — banding + verify, exactly the
    * all-pairs hamming filter at `maxHamming <= 3` while no bucket
    * saturates. Payloads shorter than one gram are excluded (no
    * signature to compare — exact dedup's job).
    *
    * Scale shape: gram hashing is one map pass over the binary column
    * (array ops, no explode — per-row cost linear in payload bytes);
    * everything after is signature-grain (8 bytes/row regardless of
    * payload size), which is the point: the 100 TB media corpus
    * reduces to kilobytes per million rows before anything shuffles.
    *
    * @return (id_a, id_b, hamming), id_a < id_b.
    */
  def binarySimhashPairs(media: DataFrame, idCol: String, binCol: String,
      gramBytes: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    Dedup.simhashPairsFromSigs(
      binarySignatures(media, idCol, binCol, gramBytes), maxHamming, maxBucket)

  /** The (id, sig) signature frame behind [[binarySimhashPairs]] — ONE
    * map pass over the binary column (the only payload-grain work in
    * the whole binary-near-dup family), factored out so the persisted
    * layout ([[binarySimhashIndexWrite]]) can hash the corpus ONCE and
    * probes hash only their batch. */
  def binarySignatures(media: DataFrame, idCol: String, binCol: String,
      gramBytes: Int = 4): DataFrame = {
    require(gramBytes >= 1, s"gramBytes must be >= 1, got $gramBytes")
    val g = 2 * gramBytes
    val hx = hex(col(binCol))
    val grams = transform(
      sequence(lit(1), length(hx) - (g - 1), lit(2)),
      i => hx.substr(i, lit(g)))
    // md5 ONCE per gram (a direct portableTokenHash63(gm) inlines
    // md5(gm) twice — its two halves are separate expression trees and
    // codegen does not CSE inside a higher-order lambda; measured ~2x
    // on the m08 gate), then both halves from the hex string
    val hashes = transform(
      transform(grams, gm => md5(gm)),
      m => shiftleft(
        conv(substring(m, 1, 8), 16, 10).cast("long")
          .bitwiseAND(lit(0x7FFFFFFFL)), 32)
        .bitwiseOR(conv(substring(m, 9, 8), 16, 10).cast("long")))
    media
      .select(col(idCol).as("id"), col(binCol))
      .filter(length(col(binCol)) >= gramBytes)
      .select(col("id"),
        graft.functions.HashExprs.simhash64(hashes).as("sig"))
  }

  /** 63-bit DIFFERENCE hash (dHash — the gradient member of the
    * perceptual-hash family; on real images it thresholds adjacent
    * downsampled pixels, and with the decode stubbed ([[decode]]'s
    * contract) adjacent payload bytes are the honest equivalent):
    * `bit_i = [byte_{i+1} > byte_i]` over the payload's first 64
    * bytes. The GRADIENT near-dup signal next to
    * [[binarySignatures]]' gram-majority SimHash: dHash keys on local
    * ordering (robust to uniform brightness/offset shifts, position-
    * sensitive), SimHash on content distribution (alignment-free) —
    * a real media pipeline runs both. 63 bits, not 64: the MSB-first
    * integer fold stays inside a signed long (the
    * [[Dedup.portableTokenHash63]] masking discipline), so no step
    * can overflow under ANSI mode in any engine.
    *
    * Scale shape: one map pass over the binary column, 63 fixed-width
    * hex-pair comparisons per row — O(1) per row regardless of payload
    * size (vs SimHash's per-gram cost), then signature grain.
    * Payloads under 64 bytes are excluded (no full signature —
    * exact dedup's job).
    *
    * @return (id, sig) — sig in [0, 2⁶³).
    */
  def binaryDhash(media: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    val hx = hex(col(binCol))
    def byteAt(pos: Column) =
      conv(hx.substr(pos, lit(2)), 16, 10).cast("long")
    val bits = transform(sequence(lit(0), lit(62)), i =>
      (byteAt(i * 2 + 3) > byteAt(i * 2 + 1)).cast("long"))
    media.select(col(idCol).as("id"), col(binCol))
      .filter(length(col(binCol)) >= 64)
      .select(col("id"),
        aggregate(reverse(bits), lit(0L),
          (acc, b) => acc * 2 + b).as("sig"))
  }

  /** [[binaryDhash]] paired: every (id_a, id_b, hamming) within
    * `maxHamming` — [[Dedup.simhashPairsFromSigs]]' banding + verify
    * (exactly the all-pairs hamming filter at `maxHamming <= 3` while
    * no bucket saturates). */
  def binaryDhashPairs(media: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    Dedup.simhashPairsFromSigs(
      binaryDhash(media, idCol, binCol), maxHamming, maxBucket)

  /** One signature's four 16-bit band rows, keyed for the persisted
    * layout: (part, band, bucket, id, sig) with
    * `part = pmod(bucket, nParts)` — shared by build, append, and the
    * probe side, the [[Dedup.lshIndexWrite]] `lshBandRows` analog. The
    * signature is DENORMALIZED onto every band row (8 bytes × 4 — the
    * impact-index trade), so probing verifies hamming join-free. */
  private def sigBandRows(sigs: DataFrame, nParts: Int): DataFrame =
    sigs.select(col("id"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("band"),
            shiftright(col("sig"), c * 16).bitwiseAND(0xFFFFL).as("bucket"))
        }: _*)).as("bk"), col("sig"))
      .select(pmod(col("bk.bucket"), lit(nParts.toLong)).as("part"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("id"), col("sig"))

  private def binarySimhashParamIdent(gramBytes: Int, nParts: Int): String =
    s"graft-binsimhash-v1 gramBytes=$gramBytes nParts=$nParts"

  /** PERSIST the binary-SimHash band buckets as a serving layout — the
    * [[Dedup.lshIndexWrite]] / t52 build-once discipline applied to the
    * media corpus, killing the per-run corpus re-hash that made the
    * old pairwise m08 gate the suite's slowest row: the expensive part of
    * binary near-dup is the per-gram md5 over every payload byte, and a
    * corpus's signatures never change, so they are computed ONCE here
    * and every ingest batch afterwards probes the stored buckets.
    *
    * Layout under `layoutDir`: `buckets/` (band, bucket, id, sig)
    * partitioned by `part = pmod(bucket, nParts)`, built under
    * [[PersistedLayout.build]] with the `keepAppended` hit rule; the
    * ident pins every parameter INCLUDING `maxBucket` (a different skew
    * cap keeps different buckets) plus the corpus plan hash. Buckets
    * above `maxBucket` members drop whole at build (the
    * [[Dedup.simhashPairsFromSigs]]
    * skew guard — a saturated band bucket would explode every probe;
    * appends do not re-check, the documented t24-style append trade).
    *
    * Scale shape: one payload-grain map pass (the signatures), one
    * signature-grain skew-guard aggregate, one partitioned write. The
    * payload column never shuffles — band rows are 4×~40 bytes per
    * media row regardless of payload size. */
  def binarySimhashIndexWrite(media: DataFrame, idCol: String,
      binCol: String, layoutDir: String, gramBytes: Int = 4,
      nParts: Int = 64, maxBucket: Int = 1000): Unit =
    sigIndexWrite(binarySignatures(media, idCol, binCol, gramBytes),
      binarySimhashParamIdent(gramBytes, nParts),
      // cols are code-affecting but invisible to the corpus plan hash
      // (the r15 ivfadc ADVICE class): ride them in the build identity
      s"${media.queryExecution.analyzed.semanticHash()} cols=$idCol/$binCol",
      layoutDir, nParts, maxBucket)

  /** APPEND an ingest batch's signatures to a persisted binary-SimHash
    * layout (the batch joins the corpus future probes check against).
    * Parameters must match the stored layout (the ident pins them);
    * crash safety and retry refusal: [[PersistedLayout.append]]. */
  def binarySimhashIndexAppend(newMedia: DataFrame, idCol: String,
      binCol: String, layoutDir: String, gramBytes: Int = 4,
      nParts: Int = 64): Unit =
    sigIndexAppend(binarySignatures(newMedia, idCol, binCol, gramBytes),
      binarySimhashParamIdent(gramBytes, nParts),
      PersistedLayout.batchTag(newMedia), layoutDir, nParts)

  /** Check an ingest batch for binary near-duplicates AGAINST the
    * persisted corpus layout: every (probe, corpus) pair within
    * `maxHamming` whose signatures collide in ≥ 1 of the four 16-bit
    * bands — with `maxHamming <= 3` that is EXACTLY the all-pairs
    * hamming filter (pigeonhole) while no build-time bucket saturated.
    *
    * Scale shape: only the BATCH's payloads hash (the corpus was
    * hashed once at build); the batch's touched partition ids collect
    * to the driver (bounded by min(nParts, 4·|batch|) values) and
    * PRUNE the buckets scan to those directories; the batch side
    * broadcasts into the bucket equi-join so the stored corpus never
    * shuffles; pairs dedup across bands (one candidate-grain exchange)
    * and hamming verifies from the two DENORMALIZED signatures — no
    * join back to any corpus-wide table. Probe cost scales with the
    * batch and its collisions, never with the corpus.
    *
    * @return (probe_id, corpus_id, hamming), self-matches excluded.
    */
  def binarySimhashProbeIndex(spark: SparkSession, layoutDir: String,
      batch: DataFrame, idCol: String, binCol: String, gramBytes: Int = 4,
      nParts: Int = 64, maxHamming: Int = 3): DataFrame =
    sigProbeIndex(spark, layoutDir,
      binarySignatures(batch, idCol, binCol, gramBytes),
      binarySimhashParamIdent(gramBytes, nParts), nParts, maxHamming)

  /** The INGEST-TIME binary near-dup report — every near-dup pair
    * INVOLVING a new batch, i.e. what a media pipeline actually asks at
    * ingest: batch-internal pairs ([[Dedup.simhashPairsFromSigs]]
    * banding over the batch's own signatures) plus batch-vs-corpus
    * pairs from the persisted layout ([[binarySimhashProbeIndex]]),
    * normalized to `id_a < id_b`. The whole-corpus pairwise sweep
    * ([[binarySimhashPairs]]) is the one-off backfill tool; THIS is the
    * steady state, and its cost profile is the point: the corpus
    * payloads hash once at [[binarySimhashIndexWrite]] and never again,
    * the batch's payloads hash ONCE here (one materialized signature
    * frame shared by the within-batch banding and the probe), and the
    * probe reads only the batch's touched bucket partitions — per-batch
    * cost scales with the batch, never the corpus.
    *
    * @return (id_a, id_b, hamming), id_a < id_b, deduplicated across
    *         the two sources by MIN hamming (a pair appears in both
    *         only when an id sits in batch AND corpus; if that id was
    *         re-ingested with DIFFERENT payload bytes the two copies'
    *         hamming can differ, and min() keeps the closest measured
    *         distance deterministically). */
  def binarySimhashIngestPairs(spark: SparkSession, layoutDir: String,
      batch: DataFrame, idCol: String, binCol: String, gramBytes: Int = 4,
      nParts: Int = 64, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val sigs = Dedup.materializeOnce(
      binarySignatures(batch, idCol, binCol, gramBytes))
    val within = Dedup.simhashPairsFromSigs(sigs, maxHamming, maxBucket)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("long").as("hamming"))
    val cross = sigProbeIndex(spark, layoutDir, sigs,
        binarySimhashParamIdent(gramBytes, nParts), nParts, maxHamming)
      .select(least(col("probe_id"), col("corpus_id")).as("id_a"),
        greatest(col("probe_id"), col("corpus_id")).as("id_b"),
        col("hamming"))
    // pair-grain dedup by MIN hamming, not dropDuplicates: an id living
    // in BOTH batch and corpus with different payload bytes hashes to
    // two different signatures, so the within/cross copies of a pair can
    // disagree on hamming and dropDuplicates would keep whichever copy
    // won the shuffle race (ADVICE r15) — min() is deterministic and
    // keeps the closest measured distance; same one candidate-grain
    // exchange either way
    within.unionByName(cross).groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  private def binaryDhashParamIdent(nParts: Int): String =
    s"graft-bindhash-v1 nParts=$nParts"

  /** [[binaryDhash]]'s signatures as a persisted serving layout — the
    * second instantiation of the generic 64-bit-signature index
    * ([[sigIndexWrite]]); same bucket-partitioned, ident-last,
    * probe-only-touched-partitions contract as
    * [[binarySimhashIndexWrite]]. A media pipeline keeps BOTH layouts:
    * the gram-majority SimHash index catches content-level near-dups,
    * the gradient dHash index catches re-encodes that preserve local
    * ordering — one ingest batch probes each without re-hashing any
    * corpus. */
  def binaryDhashIndexWrite(media: DataFrame, idCol: String,
      binCol: String, layoutDir: String, nParts: Int = 64,
      maxBucket: Int = 1000): Unit =
    sigIndexWrite(binaryDhash(media, idCol, binCol),
      binaryDhashParamIdent(nParts),
      media.queryExecution.analyzed.semanticHash().toString,
      layoutDir, nParts, maxBucket)

  /** [[binarySimhashIndexAppend]]'s contract for the dHash layout. */
  def binaryDhashIndexAppend(newMedia: DataFrame, idCol: String,
      binCol: String, layoutDir: String, nParts: Int = 64): Unit =
    sigIndexAppend(binaryDhash(newMedia, idCol, binCol),
      binaryDhashParamIdent(nParts), PersistedLayout.batchTag(newMedia),
      layoutDir, nParts)

  /** [[binarySimhashProbeIndex]]'s contract for the dHash layout. */
  def binaryDhashProbeIndex(spark: SparkSession, layoutDir: String,
      batch: DataFrame, idCol: String, binCol: String,
      nParts: Int = 64, maxHamming: Int = 3): DataFrame =
    sigProbeIndex(spark, layoutDir, binaryDhash(batch, idCol, binCol),
      binaryDhashParamIdent(nParts), nParts, maxHamming)

  // ---- the generic persisted 64-bit-signature index: any (id, sig)
  // producer (gram-majority SimHash, gradient dHash, a future pHash
  // over real decoded pixels) gets build/append/probe with one shared
  // shape — bucket-partitioned band rows, skew-guarded build,
  // partition-pruned broadcast probes ----

  private def sigIndexWrite(sigs: DataFrame, paramIdent: String,
      corpusHash: String, layoutDir: String, nParts: Int,
      maxBucket: Int): Unit =
    // keepAppended: re-running the original build job after appends must
    // NOT delete the appended batches' signatures (probes would miss
    // their pairs from then on)
    PersistedLayout.build(sigs.sparkSession, layoutDir,
        paramIdent + s" maxBucket=$maxBucket corpus=$corpusHash",
        keepAppended = true) {
      val banded = sigBandRows(sigs, nParts)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // skew guard at build: oversized buckets drop whole (a saturated
        // band bucket would explode every probe; appends do not re-check
        // — the documented t24-style append trade)
        val keep = banded.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("_n")).filter(col("_n") <= maxBucket)
          .select(col("band"), col("bucket"))
        Layout.clusterForWrite(
            banded.join(keep, Seq("band", "bucket"), "left_semi"), "part")
          .write.mode("overwrite").partitionBy("part")
          .parquet(s"$layoutDir/buckets")
      } finally banded.unpersist()
    }

  private def sigIndexAppend(sigs: DataFrame, paramIdent: String,
      batchTag: String, layoutDir: String, nParts: Int): Unit =
    PersistedLayout.append(sigs.sparkSession, layoutDir, paramIdent,
        batchTag) {
      Layout.clusterForWrite(sigBandRows(sigs, nParts), "part")
        .write.mode("append").partitionBy("part").parquet(s"$layoutDir/buckets")
    }

  private def sigProbeIndex(spark: SparkSession, layoutDir: String,
      probeSigs: DataFrame, paramIdent: String, nParts: Int,
      maxHamming: Int): DataFrame = {
    PersistedLayout.requireServable(spark, layoutDir, paramIdent)
    val probe = Dedup.materializeOnce(sigBandRows(probeSigs, nParts))
    val touched = probe.select(col("part")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val corpus = spark.read.parquet(s"$layoutDir/buckets")
      .filter(col("part").isin(touched: _*))
    corpus.join(
        broadcast(probe.select(col("band"), col("bucket"),
          col("id").as("probe_id"), col("sig").as("p_sig"))),
        Seq("band", "bucket"))
      .filter(col("probe_id") =!= col("id"))
      // multiple band collisions propose the same pair once
      .groupBy(col("probe_id"), col("id").as("corpus_id"))
      .agg(first(col("p_sig")).as("p_sig"), first(col("sig")).as("c_sig"))
      .withColumn("hamming",
        bit_count(col("p_sig").bitwiseXOR(col("c_sig"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("probe_id"), col("corpus_id"), col("hamming"))
  }
}
