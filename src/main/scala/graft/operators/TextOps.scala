package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, shingling, quality scoring, language-ID, fingerprinting.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * (array/lambda higher-order functions) — no UDFs — so the whole pipeline
  * stays inside WholeStageCodegen and scales linearly with input splits:
  * per-row work only, no shuffle, no driver involvement.
  */
object TextOps {

  /** Whitespace tokens, empties dropped (single-space corpus → exact
    * DuckDB `string_split` parity). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Distinct word n-gram shingles ("a b c" windows) — the unit for
    * MinHash/Jaccard dedup. */
  def shingles(text: Column, n: Int): Column = {
    val w = tokens(text)
    // guard: sequence(1, x) with x<1 would run DESCENDING in Spark and
    // slice(…, 0, …) throws — short docs get an empty shingle set instead
    // (matching DuckDB generate_series semantics).
    when(size(w) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", slice(w, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Canonical-text fingerprint: lowercase, collapse whitespace, md5.
    * (Exact-dedup key; md5 matches DuckDB bit-for-bit.) */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Token count as LONG (DuckDB len() returns BIGINT). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Per-document n-gram NOVELTY against a reference corpus: the
    * fraction of a doc's DISTINCT word n-grams absent from the
    * reference's n-gram set — the memorization/contamination-strength
    * signal next to d09's boolean overlap flag (d09 says "this doc
    * contains an eval n-gram"; novelty says HOW MUCH of the doc is
    * already covered — a doc at novelty 0 restates the reference, one
    * near 1 brings genuinely new text). The fraction is one IEEE
    * division of exact long counts, round-4 — engine-exact.
    *
    * Scale shape: the reference collapses ONCE to its distinct
    * gram-grain set (at 100 TB, persist it — the d10/d17 build-once
    * shape — and broadcast below threshold); scoring is one gram-grain
    * explode, one equi-join against that set, one doc-grain
    * map-combined count pair, and a join back to the id list. No
    * all-pairs anything.
    *
    * @return one row per doc: (id, n_grams, n_known, novelty) —
    *         novelty null for docs with no full n-gram (shorter than
    *         n tokens: nothing to score, the honest non-answer).
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val refGrams = ref
      .select(explode(shingles(col(refTextCol), n)).as("g")).distinct()
    val docGrams = docs.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("g"))
    val scored = docGrams
      .join(refGrams.withColumn("hit", lit(1L)), Seq("g"), "left_outer")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_known"))
    docs.select(col(idCol).as("id")).join(scored, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        when(col("n_grams").isNotNull,
          round(lit(1.0) -
            col("n_known").cast("double") / col("n_grams").cast("double"),
            4)).as("novelty"))
  }

  /** Winnowing fingerprint set (Schleimer, Wilkerson & Aiken, SIGMOD'03
    * "Winnowing: Local Algorithms for Document Fingerprinting"): hash
    * every `k`-character gram of the canonicalized text, slide a window
    * of `w` consecutive gram hashes, keep each window's MINIMUM hash, and
    * return the distinct selected hashes. The guarantee the paper proves:
    * any shared substring of length ≥ `w + k − 1` between two documents
    * yields at least one shared fingerprint — the basis of copy/overlap
    * detection (MOSS) and a plagiarism-grade complement to the
    * whole-document [[fingerprint]] and the MinHash sketches in [[Dedup]]
    * (winnowing is position-local: it finds SUBSTRING overlap, not
    * whole-set resemblance).
    *
    * Everything is per-row array algebra (transform / slice / array_min
    * over a `sequence`) — zero shuffle, stays in WholeStageCodegen; the
    * gram hash is the first 8 hex chars of md5 so a SQL oracle reproduces
    * it bit-for-bit, and hash ORDER is plain string order (any total
    * order yields a valid winnowing; hex strings compare identically in
    * Spark and DuckDB). Only FULL windows select (gram position ≥ `w`);
    * docs with fewer than `w + k − 1` chars yield an empty set. Distinct
    * hashes are the fingerprint SET (positions dropped) — selecting the
    * set, not an occurrence list, keeps the per-doc payload ≤
    * 2·len/w + 1 expected entries (the paper's density bound).
    *
    * @return (doc_id, fps: array<string>) — one row per input row.
    */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    docs.select(col(idCol).as("doc_id"), norm.as("t"))
      .withColumn("n_grams", (length(col("t")) - (k - 1)).cast("int"))
      // guard BEFORE sequence(): start > stop runs DESCENDING in Spark
      .withColumn("hashes",
        when(col("n_grams") >= 1,
          transform(sequence(lit(1), col("n_grams")),
            i => substring(md5(col("t").substr(i, lit(k))), 1, 8)))
          .otherwise(array().cast("array<string>")))
      .withColumn("fps",
        when(col("n_grams") >= w,
          array_distinct(
            transform(sequence(lit(w), col("n_grams")),
              p => array_min(slice(col("hashes"), p - (w - 1), lit(w))))))
          .otherwise(array().cast("array<string>")))
      .select(col("doc_id"), col("fps"))
  }

  /** Sliding-window token chunking (RAG / training-sequence prep): each
    * document yields overlapping windows of `chunkSize` tokens advancing
    * by `stride`; the final window may be shorter. Pure map-side explode
    * — no shuffle — and each chunk row carries a fingerprint rather than
    * the chunk text, so the exploded width stays bounded (callers that
    * need the text re-slice from the stored doc by `tok_start`/
    * `chunk_len`). Zero-token documents yield no chunks.
    *
    * Chunk count: 1 for n ≤ chunkSize, else 1 + ⌈(n − chunkSize) /
    * stride⌉ — every token is covered and no window starts past the end.
    *
    * @return (doc_id, chunk_id, tok_start, chunk_len, fp); tok_start is
    *         1-based.
    */
  def chunk(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int = 64,
      stride: Int = 48): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    require(stride <= chunkSize,
      "stride > chunkSize would skip tokens between consecutive chunks")
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      // guard BEFORE sequence(): n_chunks must be >= 1 or Spark's
      // sequence(0, -1) would step DOWNWARD instead of yielding empty
      .filter(col("n_tok") > 0)
      .withColumn("n_chunks",
        when(col("n_tok") <= chunkSize, lit(1L))
          .otherwise(lit(1L) +
            ((col("n_tok") - chunkSize + stride - 1) / stride).cast("long")))
      .select(col("doc_id"), col("toks"), col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride + 1).as("tok_start"),
        least(lit(chunkSize.toLong), col("n_tok") - col("chunk_id") * stride)
          .as("chunk_len"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"),
            lit(chunkSize)))).as("fp"))
  }

  /** BPE-ish subword count: alpha runs, digit runs, and single
    * punctuation marks each count as one token. */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?<=[a-zA-Z])(?=[^a-zA-Z])|(?<=[^a-zA-Z])(?=[a-zA-Z])|\\s+"),
      t => t =!= "")).cast("long")

  /** Stopword-marker sets per language (public, standard heuristic:
    * function-word hit counting). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  private def markerHits(text: Column, lang: String): Column =
    size(filter(tokens(text), t => t.isin(langMarkers(lang): _*))).cast("long")

  /** Deterministic argmax over marker hits: earlier language in the fixed
    * order en,de,es,fr,zh wins ties (mirrors a SQL CASE chain exactly). */
  def langId(text: Column): Column = {
    val Seq(en, de, es, fr, zh) =
      Seq("en", "de", "es", "fr", "zh").map(markerHits(text, _))
    when(en >= de && en >= es && en >= fr && en >= zh, "en")
      .when(de >= es && de >= fr && de >= zh, "de")
      .when(es >= fr && es >= zh, "es")
      .when(fr >= zh, "fr")
      .otherwise("zh")
  }

  /** Quality-score features: token count, type/token ratio, mean token
    * length — formulas chosen to be expressible identically in ANSI SQL
    * for oracle parity. */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    df.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_distinct", size(array_distinct(toks)).cast("long"))
      .withColumn("ttr", round(col("n_distinct").cast("double") / col("n_tokens"), 4))
      .withColumn("quality",
        round(least(lit(1.0), col("n_tokens") / lit(100.0)) * col("ttr"), 4))
  }

  /** PMI collocation mining (the word2phrase step that induces a phrase
    * vocabulary before tokenizer training): the k adjacent token pairs
    * with the highest pointwise mutual information
    * `ln( p(ab) / (p(a)·p(b)) )`, where p(ab) is the pair's share of all
    * bigram slots and p(·) a token's share of all token slots; pairs
    * seen fewer than `minCount` times are noise and dropped (raw PMI
    * famously ranks hapax pairs first).
    *
    * Scale shape: the token projection is cached so the corpus is
    * scanned ONCE (caller owns the cache — the gate runner clears per
    * query; at 100 TB write the projection/count tables out instead, the
    * t13 discipline); bigram and unigram counts are one map-combined
    * shuffle each at pair/token grain; totals roll up from the count
    * tables (no second corpus pass) and ride a broadcast; the final
    * top-k is `orderBy(...).limit(k)` → TakeOrderedAndProject, never a
    * global sort. Ranking compares ROUND-3 PMI (ties broken
    * lexicographically): `ln` is not correctly-rounded-identical across
    * engines, so an oracle must not be asked to reproduce ULP order —
    * at 3 decimals both engines agree exactly. */
  def pmiPhrases(docs: DataFrame, textCol: String, minCount: Long, k: Int)
      : DataFrame = {
    val base = docs.select(tokens(col(textCol)).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bigrams = base.filter(size(col("toks")) >= 2)
      .select(
        slice(col("toks"), lit(1), size(col("toks")) - 1).as("h"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("t"))
      .select(explode(arrays_zip(col("h"), col("t"))).as("bg"))
      .select(col("bg.h").as("w1"), col("bg.t").as("w2"))
    val cAb = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
    val cW = base.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = cW.agg(sum(col("c")).cast("double").as("n_tok"))
      .crossJoin(cAb.agg(sum(col("c_ab")).cast("double").as("m_bg")))
    val pmiRaw = log((col("c_ab") / col("m_bg")) /
      ((col("c_a") / col("n_tok")) * (col("c_b") / col("n_tok"))))
    cAb.filter(col("c_ab") >= minCount)
      .join(cW.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(cW.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(pmiRaw, 3))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("c_ab"), col("pmi"))
  }

  /** Term burstiness by the variance-to-mean ratio of per-document
    * counts (Church & Gale 1995's burstiness observation: content
    * words CLUMP — high VMR — while function words spread evenly,
    * VMR ≈ 1 under the Poisson null): the
    * which-terms-are-topical signal next to tf-idf (df-based) and
    * [[zipfFit]] (frequency-shape). Boilerplate detectors also read
    * it from the other end — a frequent term with VMR ≈ 1 is template
    * glue.
    *
    * ENGINE-EXACT: with N = total docs and per-term integer moments
    * (Σc, Σc²) over per-doc counts (docs missing the term count 0 —
    * they contribute nothing to either sum but N carries them),
    * `VMR = (N·Σc² − (Σc)²) / (N·Σc)` — numerator and denominator
    * exact longs, one round-6 IEEE division. ANSI throws loudly at
    * extreme magnitudes (N·Σc² ≲ 2⁶³).
    *
    * Scale shape: one (term, doc)-grain map-combined count, one
    * term-grain moment aggregate, one broadcast 1-row N, and
    * TakeOrderedAndProject for the top-k — no corpus-width shuffle
    * past the term-doc grain.
    *
    * @return top-k by (vmr_num·den-cleared exactness) — rows
    *         (term, n_docs, total, vmr), ranked on the exact integer
    *         pair (num, den) via the rounded vmr with term tiebreak.
    */
  def burstiness(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long, k: Int): DataFrame = {
    val base = docs.select(col(idCol).as("doc"),
        tokens(col(textCol)).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = base.count()
    val perTermDoc = base
      .select(col("doc"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc")).agg(count(lit(1)).as("c"))
    val moments = perTermDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("s2"))
      .filter(col("total") >= minCount)
    val num = lit(nDocs) * col("s2") - col("total") * col("total")
    val den = lit(nDocs) * col("total")
    moments
      .select(col("term"), col("n_docs"), col("total"),
        round(num.cast("double") / den.cast("double"), 6).as("vmr"))
      .orderBy(col("vmr").desc, col("term"))
      .limit(k)
  }

  /** Persist the add-one-smoothed bigram language model as a
    * bucket-partitioned LAYOUT — the train-once/score-forever shape of
    * the CCNet-style LM quality filter (t13 computes model + scores in
    * one pass; at 100 TB the model is an artifact you build once per
    * corpus release and score every incoming delivery against — the
    * same persist-once discipline as `Retrieval.bm25IndexWrite` and
    * `Dedup.lshIndexWrite`).
    *
    * Layout: `bigrams/` (w1, w2, c) and `heads/` (w1, c1) both
    * partitioned by `bucket = xxhash64(w1) % nBuckets` — scoring joins
    * key on w1-derived buckets, so a probe batch reads ONLY the
    * buckets its own bigrams touch; `stats/` one row (v = distinct
    * token count, the smoothing denominator). Heads roll up from the
    * WRITTEN bigrams (read-back — no second corpus pass, and c1 counts
    * exactly what serving will scan). Built under
    * [[PersistedLayout.build]]; the ident pins nBuckets + corpus plan.
    */
  def lmIndexWrite(docs: DataFrame, textCol: String, layoutDir: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = docs.sparkSession
    val ident = s"graft-lm-v1 nBuckets=$nBuckets " +
      s"cols=$textCol " + // code-affecting, invisible to the plan hash
      s"corpus=${docs.queryExecution.analyzed.semanticHash()}"
    PersistedLayout.build(spark, layoutDir, ident) {
      val base = docs.select(tokens(col(textCol)).as("toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        Layout.clusterForWrite(base.filter(size(col("toks")) >= 2)
            .select(
              slice(col("toks"), lit(1), size(col("toks")) - 1).as("h"),
              slice(col("toks"), lit(2), size(col("toks")) - 1).as("t"))
            .select(explode(arrays_zip(col("h"), col("t"))).as("bg"))
            .select(col("bg.h").as("w1"), col("bg.t").as("w2"))
            .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
            .withColumn("bucket",
              pmod(xxhash64(col("w1")), lit(nBuckets.toLong))),
            "bucket")
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$layoutDir/bigrams")
        Layout.clusterForWrite(
            spark.read.parquet(s"$layoutDir/bigrams")
              .groupBy(col("bucket"), col("w1")).agg(sum(col("c")).as("c1")),
            "bucket")
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$layoutDir/heads")
        base.select(explode(col("toks")).as("t"))
          .agg(countDistinct(col("t")).as("v"))
          .coalesce(1).write.mode("overwrite").parquet(s"$layoutDir/stats")
      } finally base.unpersist()
    }
  }

  /** Score a document batch against a [[lmIndexWrite]] layout: per-doc
    * mean `log2((c+1)/(c1+v))` over its bigrams — EXACTLY the t13
    * formula, so scoring corpus members through the layout reproduces
    * the one-pass scores. Bigrams the model never saw take the add-one
    * floor (`c=0`, and `c1=0` for an unseen head) — the smoothing path
    * a NEW delivery exercises. Docs with <2 tokens have no bigrams and
    * are excluded (the t13 contract).
    *
    * Scale shape: the batch explodes to (doc, bigram) grain; the
    * layout joins are keyed on the w1-derived bucket and the probe
    * reads ONLY touched bucket partitions (explicit partition filters
    * from one bounded driver collect — the d17 probing discipline);
    * the corpus itself is NEVER re-scanned at serving time.
    */
  def lmScoreFromIndex(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String, docs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 64): DataFrame = {
    PersistedLayout.requireServable(spark, layoutDir, "graft-lm-v")
    val probe = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        slice(col("toks"), lit(1), size(col("toks")) - 1).as("h"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("t"))
      .select(col("doc_id"), explode(arrays_zip(col("h"), col("t"))).as("bg"))
      .select(col("doc_id"), col("bg.h").as("w1"), col("bg.t").as("w2"))
      .withColumn("bucket", pmod(xxhash64(col("w1")), lit(nBuckets.toLong)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bounded driver grain: ≤nBuckets values, pushed as partition filters
    val touched = probe.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val bg = spark.read.parquet(s"$layoutDir/bigrams")
      .filter(col("bucket").isin(touched: _*))
    val hd = spark.read.parquet(s"$layoutDir/heads")
      .filter(col("bucket").isin(touched: _*))
      .select(col("bucket"), col("w1"), col("c1"))
    val v = spark.read.parquet(s"$layoutDir/stats").head().getLong(0)
    probe
      .join(bg, Seq("bucket", "w1", "w2"), "left_outer")
      .join(hd, Seq("bucket", "w1"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(round(avg(log2((coalesce(col("c"), lit(0L)) + lit(1.0)) /
        (coalesce(col("c1"), lit(0L)) + lit(v.toDouble)))), 4)
        .as("lm_score"))
  }

  /** Dunning log-likelihood-ratio collocations (Dunning, CL 1993): the
    * k adjacent token pairs with the highest G² over the pair's 2×2
    * bigram-slot contingency table — the SIGNIFICANCE-calibrated
    * collocation test next to [[pmiPhrases]] (PMI over-ranks rare
    * pairs and needs a count floor by fiat; G² is exactly the
    * low-count-safe statistic Dunning introduced for this). Margins
    * are bigram-POSITION counts (`c(w1,·)`, `c(·,w2)`, N = bigram
    * slots), the paper's formulation.
    *
    * ENGINE-EXACT: every O and margin is an exact long; each occupied
    * cell's `ln(O·N/(R·C))` quantizes to round-6 micro-nats (the
    * ratio's numerator/denominator are single IEEE products of exact
    * longs), each `2·O·lnq` quantizes to integer nano-units, and G²
    * is their order-free 4-term sum — so the ranking is an exact
    * integer sort. Zero cells contribute exactly 0 (the O·ln O limit).
    * ANSI throws loudly if a cell's nano-term passes 2⁶³ (N ≳ 1e12
    * bigram slots — shard the corpus first).
    *
    * Scale shape: mirrors [[pmiPhrases]] — one cached token projection,
    * one map-combined pair-grain count, two margin aggregates OFF the
    * pair table (never a second corpus pass), broadcast totals, and
    * TakeOrderedAndProject for the top-k.
    *
    * @return top-k rows: (w1, w2, c_ab, llr_nano, llr).
    */
  def llrCollocations(docs: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame = {
    val base = docs.select(tokens(col(textCol)).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bigrams = base.filter(size(col("toks")) >= 2)
      .select(
        slice(col("toks"), lit(1), size(col("toks")) - 1).as("h"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("t"))
      .select(explode(arrays_zip(col("h"), col("t"))).as("bg"))
      .select(col("bg.h").as("w1"), col("bg.t").as("w2"))
    val cAb = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r1 = cAb.groupBy(col("w1")).agg(sum(col("c_ab")).as("r1"))
    val c1 = cAb.groupBy(col("w2")).agg(sum(col("c_ab")).as("c1"))
    val tot = cAb.agg(sum(col("c_ab")).as("nn"))
    // one cell's nano-units: 2·O·lnq(O·N / (R·C)), exactly 0 at O = 0
    def cell(o: Column, r: Column, c: Column): Column = {
      val lnq = round(log((o.cast("double") * col("nn").cast("double")) /
        (r.cast("double") * c.cast("double"))) * 1e6)
        .cast("long").cast("double") / 1e6
      when(o > 0, round(lit(2.0) * o.cast("double") * lnq * 1e9)
        .cast("long")).otherwise(lit(0L))
    }
    val llrNano =
      cell(col("c_ab"), col("r1"), col("c1")) +
      cell(col("r1") - col("c_ab"), col("r1"), col("nn") - col("c1")) +
      cell(col("c1") - col("c_ab"), col("nn") - col("r1"), col("c1")) +
      cell(col("nn") - col("r1") - col("c1") + col("c_ab"),
        col("nn") - col("r1"), col("nn") - col("c1"))
    cAb.filter(col("c_ab") >= minCount)
      .join(r1, "w1").join(c1, "w2")
      .crossJoin(broadcast(tot))
      .withColumn("llr_nano", llrNano)
      .orderBy(col("llr_nano").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("c_ab"), col("llr_nano"),
        round(col("llr_nano").cast("double") / 1e9, 6).as("llr"))
  }

  /** Training-sequence packing (GPT-style concat-then-split): documents
    * are concatenated in `idCol` order — `sepTokens` separator slots
    * (EOS/BOS) between consecutive docs — into one virtual token stream,
    * which is cut into fixed `budget`-token training sequences. Documents
    * SPAN sequence boundaries (the packing variant with zero padding
    * waste, vs the whole-doc next-fit of `Multimodal.packBySize`); a doc
    * overlapping k boundaries emits k+1 pieces. Zero-token documents are
    * dropped (they'd emit nothing and still charge a separator).
    *
    * Output: one row per (sequence, doc piece) — `seq_id` (0-based
    * sequence index), `doc_id`, `doc_tok_start` (1-based first token of
    * the piece within the doc), `piece_len`, `seq_offset` (0-based
    * position of the piece inside the sequence). Loaders re-slice piece
    * text from the stored doc exactly like [[chunk]] consumers do.
    *
    * Scale shape: the global token offset is [[Prefix.exclusiveSum]]
    * (two-level distributed prefix sum — NO single-partition global
    * window); the per-doc window explode is map-side. One range shuffle
    * total, and per-doc output width is O(n_tok / budget), never
    * corpus-grain. `Multimodal.sequenceLayout` is the doc-START-grain
    * sibling (where does each doc begin); this is the piece-grain cut
    * (what exactly fills each sequence), with separator charging.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      budget: Int,
      sepTokens: Int = 1): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(sepTokens >= 0, s"sepTokens must be >= 0, got $sepTokens")
    val sized = docs
      .select(col(idCol).cast("long").as("doc_id"),
        tokenCount(col(textCol)).as("n_tok"))
      .filter(col("n_tok") > 0)
    // doc charge in the stream = its tokens + the separator AFTER it;
    // the exclusive prefix sum is the doc's first global position
    Prefix.exclusiveSum(sized, Seq(col("doc_id")),
        col("n_tok") + lit(sepTokens.toLong), "off")
      // sequences this doc's tokens touch: floor(off/B) .. floor((off+n-1)/B)
      .select(col("doc_id"), col("n_tok"), col("off"),
        explode(sequence(expr(s"off div $budget"),
          expr(s"(off + n_tok - 1) div $budget"))).as("seq_id"))
      .withColumn("_lo", greatest(col("off"), col("seq_id") * budget))
      .withColumn("_hi",
        least(col("off") + col("n_tok"), (col("seq_id") + 1) * budget))
      .select(col("seq_id"), col("doc_id"),
        (col("_lo") - col("off") + 1).as("doc_tok_start"),
        (col("_hi") - col("_lo")).as("piece_len"),
        (col("_lo") - col("seq_id") * budget).as("seq_offset"))
  }

  /** Length-bucketed batching (padding-waste control for non-packed
    * training/inference): docs sorted by token count DESCENDING (ties by
    * `idCol`) are grouped into consecutive batches of `batchSize` docs,
    * so each batch holds near-equal lengths; a batch is padded to its
    * longest member. Returns batch-grain stats — `batch_id`, `n_docs`,
    * `width` (max tokens = padded length), `n_tok` (real tokens),
    * `pad_frac` (wasted fraction of the padded batch, round 4). The
    * final batch may be short; zero-token docs batch like any other
    * (width 0 ⇒ pad_frac 0.0 guarded).
    *
    * Scale shape: one range shuffle on the sort key; the global row
    * index is [[Prefix.exclusiveSum]] with a unit value (a global
    * row_number window would single-task the corpus); batch stats are
    * one map-combined batch-grain aggregate.
    */
  def lengthBatches(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val sized = docs
      .select(col(idCol).cast("long").as("doc_id"),
        tokenCount(col(textCol)).as("n_tok"))
    Prefix.exclusiveSum(sized,
        Seq(col("n_tok").desc, col("doc_id")), lit(1L), "_rn0")
      .withColumn("batch_id", expr(s"_rn0 div $batchSize"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("n_tok")).as("width"),
        sum(col("n_tok")).as("n_tok"))
      .withColumn("pad_frac",
        when(col("width") === 0, lit(0.0)).otherwise(
          round(lit(1.0) - col("n_tok").cast("double") /
            (col("width") * col("n_docs")).cast("double"), 4)))
  }

  /** Distributed BPE merge training (Sennrich et al. 2016): learn
    * `nMerges` byte-pair merges over the corpus, returning the ranked
    * merge table — the artifact a subword tokenizer is built from.
    *
    * Algorithm: ONE corpus scan builds the word-frequency histogram;
    * everything after runs on that histogram (distinct words ×
    * occurrence counts — the classic trick that makes BPE training
    * corpus-size-independent: at 100 TB the histogram is tens of
    * millions of rows, not trillions). Each word starts as its character
    * sequence; per iteration, adjacent symbol pairs are counted weighted
    * by word frequency (overlapping positions both count, as in the
    * reference implementation's `get_stats`), the argmax pair — ties
    * broken (count desc, left, right) for cross-engine determinism — is
    * merged greedily LEFT-TO-RIGHT in every word, and the loop stops
    * early when no pair reaches `minCount`.
    *
    * Scale shape: per iteration, one map-combined pair-grain aggregate
    * over the histogram + a 1-row argmax collect (the merge decision is
    * inherently sequential — that single row is the only driver
    * traffic), then a map-only fold rewrite of the symbol arrays. Each
    * iteration is `localCheckpoint`ed: the loop's plan depth stays
    * constant instead of nesting `nMerges` aggregate-fold layers (same
    * lesson as GraphOps.pageRank).
    *
    * @return (merge_rank, left_sym, right_sym, n) — one row per learned
    *         merge, rank 1-based in learn order.
    */
  /** Marker bytes for the packed symbol-string encoding: every symbol
    * rides as `sym`, so a merge (l, r) -> lr is the plain
    * string replace `␁l␂␁r␂ -> ␁lr␂` — boundaries can never match
    * inside a symbol. The markers are control characters that the
    * whitespace tokenizer's words cannot contain (the same assumption
    * the t28/t30 DuckDB oracles already rely on with chr(1)/chr(2)). */
  private val M1 = "\u0001"
  private val M2 = "\u0002"

  private def packSyms(syms: Column): Column =
    concat(lit(M1), array_join(syms, M2 + M1), lit(M2))
  // pack([]) gives "␁␂" (length 2), whose substr is "" and split("")
  // is [""] — NOT []; guard so empty symbol arrays round-trip exactly
  private def unpackSyms(packed: Column): Column =
    // the empty-pack round trip ([] -> "" -> []) rides an
    // array_remove of the "" that splitting the empty interior yields —
    // NOT a when(length ≤ 2) guard: `packed` is usually a deep codegen
    // chain (pack → replace…), and a conditional re-references it a
    // THIRD time (length + both split args), which measured ~2x on the
    // t40 apply path. Legitimate symbols are never empty (packSyms
    // delimits non-empty syms only), so removing "" is exact.
    array_remove(
      split(packed.substr(lit(2), length(packed) - 2), M2 + M1), "")

  /** Greedy LEFT-TO-RIGHT application of one merge (l, r) -> lr to a
    * PACKED symbol string: string `replace` scans forward replacing
    * non-overlapping occurrences, which is exactly the greedy merge —
    * overlapping runs merge like [a,a,a] -> [aa,a] (the replacement is
    * consumed, the scan continues after it). Shared by [[bpeTrain]]
    * (during learning) and [[bpeSegment]] (applying a learned table).
    * String replace is a codegen'd scalar op, so a whole merge CHAIN
    * stays inside one WholeStageCodegen span — measured ~8x faster on
    * the sf0.1 apply than the previous interpreted aggregate-lambda
    * array fold (higher-order functions evaluate interpreted, and the
    * fold reallocated the accumulator array per element). */
  private def applyMergePacked(packed: Column, l: String, r: String): Column =
    replace(packed, lit(M1 + l + M2 + M1 + r + M2), lit(M1 + l + r + M2))

  /** [[applyMergePacked]] on an unpacked symbol-array column (one
    * merge: pack, replace, unpack). */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    unpackSyms(applyMergePacked(packSyms(syms), l, r))

  /** The word-frequency histogram with each word's initial character
    * segmentation — the ONE corpus scan both BPE surfaces run on. */
  private def wordSegments(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  def bpeTrain(
      docs: DataFrame,
      textCol: String,
      nMerges: Int,
      minCount: Long = 2L): DataFrame = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val spark = docs.sparkSession
    // checkpointEvery = 1: each iteration's applyMerge fold references the
    // previous histogram once, but the RESULT (merge table) is built on
    // the driver — superseded histograms have no later reader and must
    // be released eagerly, not left for GC (the round-9 CC leak class)
    val loop = new IterativeLoop(checkpointEvery = 1)
    try {
      var segs = loop.advance(wordSegments(docs, textCol))
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var it = 1
      var done = false
      while (it <= nMerges && !done) {
        val best = segs.filter(size(col("syms")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, size(syms) - 1), " +
              "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
            .as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("n"))
          .filter(col("n") >= minCount)
          .orderBy(col("n").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.isEmpty) done = true
        else {
          val (l, r, n) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((it, l, r, n))
          segs = loop.advance(segs.withColumn("syms", applyMerge(col("syms"), l, r)))
          it += 1
        }
      }
      import spark.implicits._
      merges.result().toDF("merge_rank", "left_sym", "right_sym", "n")
    } finally loop.abort()
  }

  /** Persist the BPE merge table as a build-once layout artifact
    * ([[PersistedLayout.build]]): train [[bpeTrain]]'s merges and write
    * them under `layoutDir/merges`. The ident pins corpus plan + nMerges
    * + minCount.
    *
    * This is the missing half of the tokenizer pipeline shape: training
    * runs once per corpus version (M driver-loop argmax rounds), every
    * downstream segmentation run reads d rows of merges and pays only
    * [[bpeSegment]]'s histogram-grain apply — pipelines stop retraining
    * per run, and benchmarks of the apply path stop timing training.
    */
  def bpeTrainLayout(docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long, layoutDir: String): Unit = {
    val ident = s"graft-bpe-v1 nMerges=$nMerges minCount=$minCount " +
      s"cols=$textCol " + // code-affecting, invisible to the plan hash
      s"corpus=${docs.queryExecution.analyzed.semanticHash()}"
    PersistedLayout.build(docs.sparkSession, layoutDir, ident) {
      bpeTrain(docs, textCol, nMerges, minCount)
        .coalesce(1) // merge tables are vocabulary-sized: one file
        .write.mode("overwrite").parquet(s"$layoutDir/merges")
    }
  }

  /** Segment `docs` with the merge table stored by [[bpeTrainLayout]] —
    * the apply-only serving path: read the (vocabulary-sized) merges in
    * rank order, then [[bpeSegment]]'s histogram-grain fold. Fails
    * loudly when the layout is not servable. */
  def bpeSegmentFromLayout(docs: DataFrame, textCol: String,
      layoutDir: String, chunkEvery: Int = 50): DataFrame =
    bpeSegment(docs, textCol, bpeLayoutMerges(docs.sparkSession, layoutDir),
      chunkEvery)

  /** The merge table of a servable [[bpeTrainLayout]] layout, in rank
    * order. */
  private def bpeLayoutMerges(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String): Seq[(String, String)] = {
    PersistedLayout.requireServable(spark, layoutDir, "graft-bpe-v")
    spark.read.parquet(s"$layoutDir/merges")
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getString(r.fieldIndex("left_sym")),
        r.getString(r.fieldIndex("right_sym")))).toSeq
  }

  /** Apply a learned BPE merge table ([[bpeTrain]]'s output order) to
    * the corpus, returning the segmented word histogram
    * `(word, cnt, syms)` — the tokenizer-application half of the BPE
    * pair. Merges apply in rank order, each greedy left-to-right
    * (identical semantics to training, so training-time segmentations
    * reproduce exactly).
    *
    * Scale shape: the merge chain is M map-only string-replace rewrites
    * over the word HISTOGRAM (corpus-size-independent, like training;
    * see [[applyMergePacked]] — the chain stays in one codegen span);
    * join the result back to docs by word when corpus-grain subword
    * streams are needed. Up to `chunkEvery` rewrites fuse into one
    * projection chain — no per-merge shuffle, no collect.
    *
    * Expression depth is BOUNDED: a vocabulary-sized merge table (10k+)
    * folded into one projection nests 10k replace expressions —
    * past analyzer recursion and codegen limits long before that — so
    * chains longer than `chunkEvery` are cut with an eager
    * localCheckpoint per chunk (plan depth stays O(chunkEvery) no matter
    * the vocabulary; intermediate chunks released via [[IterativeLoop]],
    * the returned frame self-contained). Below the bound the result
    * stays fully lazy/composable, exactly as before.
    */
  def bpeSegment(
      docs: DataFrame,
      textCol: String,
      merges: Seq[(String, String)],
      chunkEvery: Int = 50): DataFrame = {
    require(chunkEvery >= 1, s"chunkEvery must be >= 1, got $chunkEvery")
    // the whole chain rides the PACKED string column: one pack, one
    // codegen'd replace per merge, one unpack at the end — no per-merge
    // array materialization anywhere
    def fold(df: DataFrame, chunk: Seq[(String, String)]): DataFrame =
      df.withColumn("_packed", chunk.foldLeft(col("_packed")) {
        case (c, (l, r)) => applyMergePacked(c, l, r)
      })
    val base = wordSegments(docs, textCol)
      .withColumn("_packed", packSyms(col("syms")))
    val folded =
      if (merges.size <= chunkEvery) fold(base, merges)
      else {
        val loop = new IterativeLoop(checkpointEvery = 1)
        try {
          var cur = base
          merges.grouped(chunkEvery).foreach { chunk =>
            cur = loop.advance(fold(cur, chunk))
          }
          loop.handoff()
        } catch { case e: Throwable => loop.abort(); throw e }
      }
    folded.withColumn("syms", unpackSyms(col("_packed"))).drop("_packed")
  }

  /** Corpus-grain BPE ENCODING: each document's ordered subword-piece
    * stream under a learned merge table — the tokenize-for-training
    * endpoint of the BPE stack ([[bpeTrain]] learns, [[bpeSegment]]
    * segments the HISTOGRAM, this joins the histogram back to the
    * corpus and emits per-document piece arrays ready for packing /
    * id-mapping). Documents with no tokens yield an empty array, not a
    * missing row.
    *
    * Scale shape: the segmentation runs once at histogram grain
    * (corpus-size-independent — [[bpeSegment]]'s contract); the corpus
    * pays one positional token explode, a vocabulary-grain equi-join
    * (hint left to the planner: auto-broadcast when the vocabulary
    * fits, shuffle otherwise — the honest default after the merge
    * family's size-gate lesson), and ONE doc-grain shuffle to
    * reassemble pieces in token order (array_sort on (pos, syms)
    * structs fixes collect_list's nondeterminism, the q126 discipline).
    *
    * @return (id, pieces) — one row per input document.
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], chunkEvery: Int = 50): DataFrame = {
    val seg = bpeSegment(docs, textCol, merges, chunkEvery)
      .select(col("word"), col("syms"))
    val toks = docs.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "word")))
    val enc = toks.join(seg, Seq("word"))
      .groupBy(col("id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("syms")))),
        s => s.getField("syms"))).as("pieces"))
    docs.select(col(idCol).as("id"))
      .join(enc, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("pieces"), array().cast("array<string>")).as("pieces"))
  }

  /** [[bpeEncode]] against the merge table stored by [[bpeTrainLayout]]
    * — the serving composition (stored merges, histogram-grain apply,
    * corpus-grain reassembly). */
  def bpeEncodeFromLayout(docs: DataFrame, idCol: String, textCol: String,
      layoutDir: String, chunkEvery: Int = 50): DataFrame =
    bpeEncode(docs, idCol, textCol,
      bpeLayoutMerges(docs.sparkSession, layoutDir), chunkEvery)

  /** Unigram-LM tokenizer training (Kudo 2018, the SentencePiece unigram
    * model) via Viterbi EM over the word HISTOGRAM — the second half of
    * the tokenizer-training pair next to [[bpeTrain]], and the same
    * corpus-size-independent shape: after one corpus scan builds the
    * (word, cnt) histogram, every EM iteration touches only
    * histogram-grain rows (vocabulary-bounded), never the corpus.
    *
    *  - SEED: every substring of length 1..`maxPieceLen` of every
    *    histogram word, scored by its occurrence-weighted frequency
    *    (overlaps counted); `logp = ln(n / total)`.
    *  - E-step (Viterbi): each word's best segmentation under the
    *    current piece scores — a left-to-right DP where
    *    `best(i) = max_k (best(i-k) + logp(word[i-k+1 .. i]))`,
    *    ties broken toward the LONGER last piece (max over the
    *    lexicographic `(score, k)` struct); pieces absent from the
    *    current vocabulary cost the `-20.0` floor (SentencePiece's
    *    required-character escape hatch, quantized so both engines
    *    agree exactly).
    *  - M-step: piece count = Σ word-cnt × multiplicity over the best
    *    segmentations; zero-count pieces drop; scores renormalize.
    *
    * DETERMINISM ACROSS ENGINES (the DuckDB oracle replays this
    * exactly): scores are quantized `round(ln(n/total), 6)` — counts
    * are integer-exact in both engines, and rounding the lone
    * libm-dependent step (`ln`) to 6 decimals erases any last-ulp
    * divergence; DP additions then run in the identical left-to-right
    * order, so every comparison sees bit-identical doubles.
    *
    * Scale shape: one corpus-grain token explode + histogram groupBy;
    * per iteration one piece-grain equi-join (spans against the
    * vocabulary), one word-grain map collect, a map-only Viterbi fold,
    * and one piece-grain count aggregate — no corpus-width shuffle
    * after the histogram, vocabulary state localCheckpointed per
    * iteration ([[IterativeLoop]]).
    *
    * @return top `topK` pieces by `(n DESC, piece)` after `emIters`
    *         EM rounds: (piece, n, logp) with `logp = round(ln(n /
    *         total), 4)`.
    */
  /** All (start, len) spans of each histogram word, the piece at each,
    * and the dense score-map key `(start-1)*m + len` in 1..len(word)*m —
    * shared by the unigram seed count and every score lookup table. */
  private def unigramSpans(hist: DataFrame, m: Int): DataFrame =
    hist.select(col("word"), col("cnt"),
      explode(expr(
        s"""flatten(transform(sequence(1, length(word)), st ->
           |  transform(sequence(1, least($m, length(word) - st + 1)), ln ->
           |    named_struct('st', st, 'ln', ln))))""".stripMargin)).as("sp"))
      .select(col("word"), col("cnt"),
        col("sp.st").as("st"), col("sp.ln").as("ln"),
        expr("substring(word, sp.st, sp.ln)").as("piece"))

  /** Word-grain score table: every span's piece score packed into one
    * map keyed `(st-1)*m + ln`, read inside [[unigramViterbi]]. The join
    * is piece-grain (vocabulary-sized probe side); `vocab` must carry
    * (piece, lp). */
  private def unigramWordPm(spans: DataFrame, vocab: DataFrame, m: Int): DataFrame =
    spans.join(vocab.select(col("piece"), col("lp")), "piece")
      .groupBy(col("word"), col("cnt"))
      .agg(map_from_entries(collect_list(
        struct(((col("st") - 1) * m + col("ln")).as("k"), col("lp"))))
        .as("pm"))

  /** The Viterbi best-segmentation fold over columns `word`/`pm`: state
    * = dp entries for positions 0..i, each (best score, pieces of the
    * best segmentation); candidates at i try last-piece lengths
    * k = 1..min(m, i), argmax by the lexicographic (score, k) struct —
    * the same expression, evaluated in the same left-to-right order, as
    * the DuckDB oracle's list_reduce. Pieces absent from the score map
    * cost the -20.0 floor (quantized, engine-identical). */
  private def unigramViterbi(m: Int): Column = {
    val argmax =
      s"""array_max(transform(sequence(1, least($m, i)), k ->
         |  named_struct(
         |    's', element_at(acc, i - k + 1).s +
         |         coalesce(element_at(pm, (i - k) * $m + k),
         |                  cast(-20.0 as double)),
         |    'k', k)))""".stripMargin
    expr(
      s"""element_at(
         |  aggregate(sequence(1, length(word)),
         |    array(named_struct(
         |      's', cast(0.0 as double),
         |      'ps', cast(array() as array<string>))),
         |    (acc, i) -> concat(acc, array(named_struct(
         |      's', ($argmax).s,
         |      'ps', concat(
         |        element_at(acc, i - ($argmax).k + 1).ps,
         |        array(substring(word, i - ($argmax).k + 1,
         |          ($argmax).k))))))),
         |  length(word) + 1).ps""".stripMargin)
  }

  def unigramTrain(
      docs: DataFrame,
      textCol: String,
      maxPieceLen: Int = 3,
      emIters: Int = 2,
      topK: Int = 40): DataFrame = {
    require(maxPieceLen >= 1 && emIters >= 1 && topK >= 1)
    val m = maxPieceLen
    val loop = new IterativeLoop(checkpointEvery = 1)
    try {
      val hist = loop.pin(docs
        .select(explode(tokens(col(textCol))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt")))
      val spans = unigramSpans(hist, m)
      def scored(counts: DataFrame): DataFrame = {
        val total = counts.agg(sum(col("n")).as("_total"))
        counts.crossJoin(broadcast(total))
          .select(col("piece"), col("n"),
            round(log(col("n") / col("_total")), 6).as("lp"))
      }
      var vocab = loop.advance(scored(
        spans.groupBy(col("piece")).agg(sum(col("cnt")).as("n"))))
      for (_ <- 1 to emIters) {
        val seg = unigramWordPm(spans, vocab, m)
          .select(col("word"), col("cnt"), unigramViterbi(m).as("ps"))
        vocab = loop.advance(scored(
          seg.select(col("cnt"), explode(col("ps")).as("piece"))
            .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))))
      }
      val total = vocab.agg(sum(col("n")).as("_total"))
      loop.finish(vocab.crossJoin(broadcast(total))
        .select(col("piece"), col("n"),
          round(log(col("n") / col("_total")), 4).as("logp"))
        .orderBy(col("n").desc, col("piece")).limit(topK))
    } catch { case e: Throwable => loop.abort(); throw e }
  }

  /** Apply a trained unigram vocabulary ([[unigramTrain]]'s output shape
    * `(piece, n, logp)`): Viterbi-segment the word HISTOGRAM under the
    * given piece scores — the tokenizer-application half of the unigram
    * pair, sharing the exact DP (and therefore segmentations) with
    * training. Pieces outside the vocabulary cost the -20.0 floor, so
    * out-of-vocabulary words still segment deterministically (fallback
    * through floor-cost pieces, longest-last-piece tie-break).
    *
    * Scale shape: one corpus scan for the histogram, then histogram-
    * grain only — a piece-grain vocab join, one word-grain map collect,
    * and the map-only fold; fully lazy/composable (join the result back
    * to docs by word for corpus-grain subword streams).
    *
    * @return (word, cnt, ps) — each histogram word with its best
    *         segmentation under the scores.
    */
  def unigramSegment(
      docs: DataFrame,
      textCol: String,
      vocab: DataFrame,
      maxPieceLen: Int = 3,
      scoreCol: String = "logp"): DataFrame = {
    val m = maxPieceLen
    val hist = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    unigramWordPm(unigramSpans(hist, m),
        vocab.select(col("piece"), col(scoreCol).as("lp")), m)
      .select(col("word"), col("cnt"), unigramViterbi(m).as("ps"))
  }

  /** Email address pattern (conservative: requires a dotted TLD). Kept
    * to the regex subset Java and RE2 interpret identically, so SQL
    * engines replay the scrub exactly. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted-quad IPv4 (no octet range check — scrubbing favors recall). */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** SSN-shaped identifier (ddd-dd-dddd). */
  val IdRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** PII scrubbing for training corpora: redact emails, IPv4 addresses,
    * and SSN-shaped identifiers with `repl`, reporting per-document
    * counts of each class — the compliance pass every assembled
    * training corpus runs before packing/export (reference pipelines:
    * CCNet/Dolma-style rule-based PII removal; ML-based NER scrubbing
    * would ride the [[Multimodal]] stub pattern, this is the
    * deterministic rule tier).
    *
    * The three patterns apply IN ORDER (emails, then IPs over the
    * email-scrubbed text, then IDs) and each count is taken on the text
    * state its pattern scrubs — so a dotted quad inside an email is one
    * email, not an email plus an IP, and the chain is exactly
    * replayable in SQL. Patterns stay inside the Java∩RE2 regex subset.
    *
    * Scale shape: pure map work, six codegen'd regex ops per row, no
    * shuffle, no UDF; pushes through any upstream column pruning.
    */
  def piiScrub(docs: DataFrame, textCol: String,
      repl: String = "[PII]"): DataFrame =
    docs
      .withColumn("n_emails",
        regexp_count(col(textCol), lit(EmailRe)).cast("long"))
      .withColumn("_t1", regexp_replace(col(textCol), EmailRe, repl))
      .withColumn("n_ips", regexp_count(col("_t1"), lit(Ipv4Re)).cast("long"))
      .withColumn("_t2", regexp_replace(col("_t1"), Ipv4Re, repl))
      .withColumn("n_ids", regexp_count(col("_t2"), lit(IdRe)).cast("long"))
      .withColumn("scrubbed", regexp_replace(col("_t2"), IdRe, repl))
      .drop("_t1", "_t2")

  /** URL canonicalization — the crawl-dedup key preparation every web
    * pipeline runs before URL-level dedup/frontier checks: lowercase
    * scheme and host, strip a leading `www.`, drop the fragment, drop
    * `utm_*` tracking parameters, sort the surviving query parameters
    * (param order is not semantic), normalize an empty path to `/`.
    * Path case is PRESERVED (paths are case-sensitive by spec; hosts
    * are not).
    *
    * Pure column expression — composable, codegen'd (regexp ops + array
    * algebra, no UDF), one map pass wherever it's used. Patterns stay
    * in the Java∩RE2 subset (the t35 discipline) so any engine's regex
    * dialect reproduces them.
    */
  def urlNormalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val host = regexp_replace(
      lower(regexp_extract(rest, "^([^/?]*)", 1)), "^www\\.", "")
    val pathQ = regexp_replace(rest, "^[^/?]*", "")
    val path = regexp_extract(pathQ, "^([^?]*)", 1)
    val query = regexp_extract(pathQ, "\\?(.*)$", 1)
    val params = filter(split(query, "&"),
      p => p =!= "" && !p.startsWith("utm_"))
    val sortedQ = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host,
      when(path === "", lit("/")).otherwise(path),
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** Zipf fit of the term-frequency distribution: least-squares slope
    * and intercept of ln(count) against ln(rank) over the top
    * `topRanks` terms — the corpus-health scalar (natural-language text
    * sits near slope −1; template/boilerplate-heavy or synthetic
    * corpora bend away). Ranks order by (count desc, term) — total, so
    * the fitted points are deterministic; the ln values quantize to
    * 1e-6-grid INTEGERS (`round(ln(·)·1e6)` as bigint — the
    * standardizeDims integer-moment discipline), so the moment sums
    * Σx, Σy, Σxy, Σx² are exact integer arithmetic, bit-identical in
    * any summation order and any engine. The closed-form slope
    * (kΣxy − ΣxΣy)/(kΣx² − (Σx)²) is scale-invariant (the 1e12 factors
    * cancel), and the final float steps (integer→double casts, one
    * multiply chain, one division) see identical operands everywhere —
    * IEEE round-to-nearest is deterministic per operation. The only
    * residual engine freedom is the lone libm `ln` ulp at a
    * quantization-grid HALF boundary (the value would have to sit
    * within ~1e-10 of a 0.5e-6 edge), vs the old summation-order drift
    * on every total.
    *
    * Scale shape: one token explode into a term-grain map-combined
    * count (the t06 shape), a `topRanks` TakeOrderedAndProject, and the
    * moment sums over those ≤topRanks rows — output is ONE row.
    */
  def zipfFit(docs: DataFrame, textCol: String,
      topRanks: Int = 100): DataFrame = {
    require(topRanks >= 2, s"need >= 2 ranks to fit: $topRanks")
    // Σxq·yq worst case ≈ topRanks · ln(topRanks)·1e6 · ln(maxCount)·1e6:
    // at the 10k cap with counts near Long.MaxValue (ln ≈ 43.7) that is
    // ~1e4 · 9.2e6 · 4.4e7 ≈ 4.0e18 — only ~2.3× under Long.MaxValue
    // (9.2e18). The margin is REAL but thin: do NOT raise this cap
    // without widening the moment sums (e.g. summing as decimal/double).
    require(topRanks <= 10000, s"topRanks capped at 10000: $topRanks")
    import org.apache.spark.sql.expressions.Window
    val top = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(topRanks)
    // the rank window runs over <= topRanks rows (post-limit): bounded
    val ranked = top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("term"))))
      .select(
        round(log(col("rank").cast("double")) * 1e6).cast("long").as("xq"),
        round(log(col("n").cast("double")) * 1e6).cast("long").as("yq"))
    val m = ranked.agg(count(lit(1)).as("k"),
      sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
      sum(col("xq") * col("yq")).as("sxy"),
      sum(col("xq") * col("xq")).as("sxx"))
    // integer sums → double ONCE each (round-to-nearest, deterministic),
    // then the closed form; k·sxy would wrap in long, hence double here
    val kd = col("k").cast("double")
    val sxd = col("sx").cast("double")
    val syd = col("sy").cast("double")
    val slope = (kd * col("sxy").cast("double") - sxd * syd) /
      (kd * col("sxx").cast("double") - sxd * sxd)
    m.select(col("k").as("n_ranks"),
      round(slope, 4).as("slope"),
      round((syd / 1e6 - slope * (sxd / 1e6)) / kd, 4).as("intercept"))
  }

  /** Heaps'-law vocabulary-growth fit (Heaps 1978 / Herdan): V(N) ≈
    * k·N^β — how fast NEW vocabulary arrives as the corpus grows, the
    * growth-side companion to [[zipfFit]]'s static frequency shape. A
    * pipeline watches β across crawl deliveries: natural corpora sit
    * near β ≈ 0.4–0.6; β collapsing toward 0 means the delivery
    * re-treads known vocabulary (template/boilerplate floods), β near
    * 1 means token soup (random strings, encoding breakage).
    *
    * Construction: docs bucket by `idCol div bucketSize` (the corpus's
    * own ingest order), each bucket contributes its token count and
    * its FIRST-SEEN distinct words (min-bucket per word — one word-
    * grain aggregate, the distributed way to get cumulative distinct
    * counts without re-scanning prefixes); cumulative (N_b, V_b) then
    * OLS of round-6-micro ln V on ln N — the zipfFit quantize-then-
    * integer-moments discipline, so both engines fit identical points
    * and the slope divides identical exact operands.
    *
    * Scale shape: one corpus token pass (materialized once, read by
    * both aggregates), word-grain + bucket-grain aggregates, then
    * everything rides bucket-grain windows (bounded metadata — size
    * the buckets so their count stays ≤ ~10⁴). The second-order moment
    * sums ride as DECIMAL(38,0) (the welchTTest Σv² discipline): at
    * the 10⁴-bucket bound on a ~10¹⁴-token corpus, Σxq² ≈ 1.0e19
    * exceeds Long range — a long sum would wrap (or throw under ANSI)
    * exactly at the advertised envelope.
    *
    * @return one row per bucket: (b, n_cum, v_cum, beta, k_ln) —
    *         beta/k_ln are the fit, repeated on every row (the
    *         psiDrift shape); empty-token leading buckets are dropped
    *         (no point to fit).
    */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
      bucketSize: Long = 100): DataFrame = {
    require(bucketSize >= 1, s"bucketSize must be >= 1: $bucketSize")
    import org.apache.spark.sql.expressions.Window
    val tokRows = Dedup.materializeOnce(docs.select(
      expr(s"`$idCol` div $bucketSize").as("b"),
      explode(tokens(col(textCol))).as("w")))
    val nt = tokRows.groupBy(col("b")).agg(count(lit(1)).as("nt"))
    val nv = tokRows.groupBy(col("w")).agg(min(col("b")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("nv"))
    val per = nt.join(nv, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("nt"), lit(0L)).as("nt"),
        coalesce(col("nv"), lit(0L)).as("nv"))
    val wCum = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = per
      .select(col("b"), sum(col("nt")).over(wCum).as("n_cum"),
        sum(col("nv")).over(wCum).as("v_cum"))
      .filter(col("n_cum") > 0 && col("v_cum") > 0)
      .select(col("b"), col("n_cum"), col("v_cum"),
        round(log(col("n_cum").cast("double")) * 1e6).cast("long").as("xq"),
        round(log(col("v_cum").cast("double")) * 1e6).cast("long").as("yq"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val withM = pts.select(col("b"), col("n_cum"), col("v_cum"),
      count(lit(1)).over(wAll).as("k"),
      sum(col("xq")).over(wAll).as("sx"), sum(col("yq")).over(wAll).as("sy"),
      sum(col("xq").cast("decimal(38,0)") * col("yq").cast("decimal(38,0)"))
        .over(wAll).as("sxy"),
      sum(col("xq").cast("decimal(38,0)") * col("xq").cast("decimal(38,0)"))
        .over(wAll).as("sxx"))
    // integer sums → double ONCE each, then the closed form (k·sxy
    // would wrap in long, hence double — the zipfFit convention)
    val kd = col("k").cast("double")
    val sxd = col("sx").cast("double")
    val syd = col("sy").cast("double")
    val beta = (kd * col("sxy").cast("double") - sxd * syd) /
      (kd * col("sxx").cast("double") - sxd * sxd)
    withM.select(col("b"), col("n_cum"), col("v_cum"),
        round(beta, 4).as("beta"),
        round((syd / 1e6 - beta * (sxd / 1e6)) / kd, 4).as("k_ln"))
      .orderBy(col("b"))
  }

  /** WordPiece segmentation (Wu et al. 2016; the BERT tokenizer's
    * serving algorithm): greedy LONGEST-MATCH-FIRST over a fixed
    * vocabulary — at each position take the longest vocabulary piece
    * (continuation positions match the `##`-prefixed entries), and a
    * word with no match at some position (or longer than `maxWordLen`
    * characters) becomes one `unk` token, whole. Completes the
    * tokenizer trio next to BPE (t28/t30) and unigram-LM (t32/t33):
    * BPE/unigram TRAIN here; WordPiece is the apply path for the
    * published vocabularies most models actually ship.
    *
    * Scale shape (the bpeSegment contract): segmentation runs at WORD
    * HISTOGRAM grain — one corpus-grain token count, then the greedy
    * fold evaluates once per DISTINCT word. The vocabulary rides as a
    * broadcast map literal (driver-bounded metadata, like the BPE merge
    * table), so the fold is pure per-row work: a `sequence(1,
    * maxWordLen)` aggregate whose each step tries the ≤maxPieceLen
    * candidate lengths longest-first against the vocab map. No join,
    * no shuffle past the histogram.
    *
    * @return (word, pieces, cnt) — one row per distinct word.
    */
  def wordpieceSegment(docs: DataFrame, textCol: String,
      vocab: Seq[String], maxWordLen: Int = 100,
      unk: String = "[UNK]"): DataFrame = {
    require(vocab.nonEmpty, "empty vocabulary")
    require(vocab.distinct.size == vocab.size,
      s"duplicate vocabulary entries")
    require(vocab.forall(v => v.nonEmpty && v != "##"),
      "vocabulary entries must be non-empty pieces")
    require(maxWordLen >= 1, s"maxWordLen must be >= 1: $maxWordLen")
    val maxPiece = vocab
      .map(v => if (v.startsWith("##")) v.length - 2 else v.length).max
    val mp = typedlit(vocab.map(_ -> true).toMap)
    val words = docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val w = col("word")
    val init = struct(lit(1).as("pos"),
      array().cast("array<string>").as("parts"), lit(false).as("bad"))
    val folded = aggregate(sequence(lit(1), lit(maxWordLen)), init,
      (st, _) => {
        val pos = st.getField("pos")
        val parts = st.getField("parts")
        val bad = st.getField("bad")
        // longest-first candidate chain: the first vocab hit wins
        val cands = (maxPiece to 1 by -1).map { l =>
          val sub = w.substr(pos, lit(l))
          val piece = when(pos === 1, sub).otherwise(concat(lit("##"), sub))
          when(length(sub) === l && map_contains_key(mp, piece), piece)
            .otherwise(lit(null).cast("string"))
        }
        val best = coalesce(cands: _*)
        val bLen = when(substring(best, 1, 2) === "##", length(best) - 2)
          .otherwise(length(best))
        when(bad || pos > length(w), st)
          .otherwise(when(best.isNull,
            struct((length(w) + 1).as("pos"),
              array(lit(unk)).as("parts"), lit(true).as("bad")))
            .otherwise(struct((pos + bLen).as("pos"),
              concat(parts, array(best)).as("parts"), bad.as("bad"))))
      })
    words.select(col("word"),
      when(length(w) > maxWordLen, array(lit(unk)))
        .otherwise(folded.getField("parts")).as("pieces"),
      col("cnt"))
  }

  /** Filter-funnel audit: run an ORDERED chain of keep-predicates over a
    * corpus and report, per rule, how many rows entered it, how many it
    * dropped, and how many it passed on — the pipeline-observability
    * table every published cleaning recipe reports (CCNet/Gopher/Dolma
    * "removed by rule X" tables), and the artifact that tells you which
    * rule to loosen when retention craters. A row is charged to the
    * FIRST rule it fails (later rules never see it — exactly the
    * semantics of chained `.filter` stages), so the per-rule drops sum
    * to total − kept by construction.
    *
    * Scale shape: ONE map pass computes each row's first-failing-rule
    * index (a nested `when` chain — pure codegen, no shuffle), one tiny
    * map-combined count by stage (≤ rules+1 groups), then the funnel
    * columns via a window over those ≤ rules+1 rows. The corpus is
    * never shuffled and never scanned twice.
    *
    * @param rules ordered (name, keep-predicate) pairs; a row must
    *              satisfy ALL to survive. Names must be unique.
    * @return one row per rule in chain order plus a final `kept` row:
    *         (stage, rule, n_in, n_dropped, n_out); for `kept`,
    *         n_in = n_out = survivors and n_dropped = 0.
    */
  def filterFunnel(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      s"duplicate rule names: ${rules.map(_._1)}")
    import org.apache.spark.sql.expressions.Window
    val keptStage = rules.size + 1
    val firstFail = rules.zipWithIndex.foldRight(lit(keptStage): Column) {
      case (((_, pred), i), rest) => when(!coalesce(pred, lit(false)),
        lit(i + 1)).otherwise(rest)
    }
    val counts = df.select(firstFail.cast("long").as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n"))
    // rules that dropped nothing still get a funnel row: join the counts
    // onto a rules-literal frame (bounded — rules+1 rows)
    val spark = df.sparkSession
    import spark.implicits._
    val ruleRows = (rules.zipWithIndex.map { case ((name, _), i) =>
      ((i + 1).toLong, name)
    } :+ (keptStage.toLong, "kept")).toDF("stage", "rule")
    // n_in(stage) = rows that survived every earlier rule = Σ_{j>=stage} n
    val wTail = Window.orderBy(col("stage").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ruleRows.join(counts, Seq("stage"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("n_in", sum(col("n")).over(wTail))
      .select(col("stage"), col("rule"), col("n_in"),
        when(col("stage") === keptStage, lit(0L)).otherwise(col("n"))
          .as("n_dropped"),
        when(col("stage") === keptStage, col("n_in"))
          .otherwise(col("n_in") - col("n")).as("n_out"))
      .orderBy(col("stage"))
  }

  /** Per-document lexical-richness statistics: Yule's characteristic
    * K (Yule 1944, `K = 10⁴·(Σ_m m²V_m − N)/N²` over the word-
    * frequency spectrum — LENGTH-INVARIANT repetitiveness, unlike the
    * raw type-token ratio that collapses as docs grow) and Simpson's
    * repeat rate `D = Σ c(c−1) / (N(N−1))` (the probability two
    * sampled tokens are the same type). The vocabulary-quality signal
    * next to t14's repetition fractions: template spam scores high K
    * on ANY slice of itself, where TTR-style signals need a length
    * gate first.
    *
    * ENGINE-EXACT: both numerators reduce to `s2 = Σ c²` and `n = Σ c`
    * over the per-doc word counts — exact longs (`Σ m²V_m ≡ Σ c²`);
    * each statistic is ONE round-6 IEEE division of identical
    * operands. Token-less docs report zero counts with null K;
    * single-token docs additionally null D (no token pair to sample).
    *
    * Scale shape: one explode to (doc, word)-grain map-combined
    * counts, one doc-grain aggregate, one left join back to the id
    * list — linear in tokens, partitioned by doc, nothing corpus-wide.
    *
    * @return one row per doc: (id, n, s2, yule_k, simpson_d).
    */
  def lexicalRichness(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("id")).agg(sum(col("c")).as("n"),
        sum(col("c") * col("c")).as("s2"))
    docs.select(col(idCol).as("id")).distinct()
      .join(counts, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("s2"), lit(0L)).as("s2"))
      .select(col("id"), col("n"), col("s2"),
        when(col("n") > 0, round(lit(1e4) *
          (col("s2") - col("n")).cast("double") /
          (col("n") * col("n")).cast("double"), 6)).as("yule_k"),
        when(col("n") > 1, round((col("s2") - col("n")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double"), 6)).as("simpson_d"))
  }

  /** ROUGE-N overlap scoring (Lin, ACL 2004 workshop) between paired
    * reference and candidate texts — the generation-eval companion to
    * the retrieval metrics (t47): per pair, CLIPPED n-gram matches
    * (multiset intersection, so a candidate repeating one reference
    * n-gram five times scores it once per reference occurrence) give
    * `P = m/n_hyp`, `R = m/n_ref`, and — because both share the same
    * match count — `F1 = 2PR/(P+R) = 2m/(n_hyp+n_ref)` EXACTLY, one
    * round-6 division of exact longs per metric. A side with no
    * n-grams (under n tokens) has no score: null, never NaN.
    *
    * Scale shape: each side explodes to (pair, gram)-grain counts
    * (map-combined), one full-outer gram merge INSIDE the pair key,
    * one pair-grain aggregate — work linear in token count, partitioned
    * by pair; no cross-pair anything.
    *
    * @return one row per pair: (id, n_ref, n_hyp, match_n, p, r, f1).
    */
  def rougeN(pairs: DataFrame, idCol: String, refCol: String,
      hypCol: String, n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    def grams(c: Column): Column =
      if (n == 1) tokens(c)
      else {
        val t = tokens(c)
        // control-char-joined windows: an unambiguous gram key
        // ("ab"+"c" must not collide with "a"+"bc")
        when(size(t) >= n,
          transform(sequence(lit(1), size(t) - (n - 1)),
            i => concat_ws("\u0001", slice(t, i, lit(n)))))
          .otherwise(array().cast("array<string>"))
      }
    def cnt(c: String, out: String): DataFrame =
      pairs.select(col(idCol).as("id"), explode(grams(col(c))).as("g"))
        .groupBy(col("id"), col("g")).agg(count(lit(1)).as(out))
    val merged = cnt(refCol, "cr").join(cnt(hypCol, "ch"),
        Seq("id", "g"), "full_outer")
      .select(col("id"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ch"), lit(0L)).as("ch"))
    val perPair = merged.groupBy(col("id")).agg(
      sum(col("cr")).as("n_ref"), sum(col("ch")).as("n_hyp"),
      sum(least(col("cr"), col("ch"))).as("match_n"))
    // pairs where BOTH sides are under n tokens produce no gram rows at
    // all — restore them with zero counts so every input pair reports
    val ids = pairs.select(col(idCol).as("id")).distinct()
    ids.join(perPair, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_hyp"), lit(0L)).as("n_hyp"),
        coalesce(col("match_n"), lit(0L)).as("match_n"))
      .select(col("id"), col("n_ref"), col("n_hyp"), col("match_n"),
        when(col("n_hyp") > 0, round(col("match_n").cast("double") /
          col("n_hyp").cast("double"), 6)).as("p"),
        when(col("n_ref") > 0, round(col("match_n").cast("double") /
          col("n_ref").cast("double"), 6)).as("r"),
        when(col("n_ref") + col("n_hyp") > 0,
          round(lit(2.0) * col("match_n").cast("double") /
            (col("n_ref") + col("n_hyp")).cast("double"), 6)).as("f1"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau EMNLP 2004) at
    * corpus scope: build the word co-occurrence graph (adjacent-token
    * pairs, window 2 — the paper's default for keywords), run
    * [[GraphOps.pageRank]] for a fixed sweep budget, and rank words by
    * centrality — the unsupervised keyword extractor next to
    * tf-idf/PMI (t06/t25 score words by FREQUENCY contrast; TextRank
    * scores by graph CENTRALITY, surfacing connective vocabulary
    * frequency alone misses). The composition proof that the text and
    * graph halves of the engine share one data model.
    *
    * Words ride their PORTABLE 63-bit md5 hash through the rank loop
    * (both engines replay it bit-for-bit; ids avoid string-collation
    * drift in the canonical least/greatest edge dedup) and join back to
    * the lexicographically-smallest word per id — deterministic even
    * under a (≈2⁻⁶⁴-likely) hash collision. Self-pairs from repeated
    * adjacent tokens are dropped with the other self-loops. Ranks carry
    * [[GraphOps.pageRank]]'s stated float semantics; callers order on
    * the ROUNDED rank (the q103 contract) so a last-bit divergence
    * cannot reorder the cut.
    *
    * Scale shape: one corpus scan explodes to adjacent-pair grain and
    * distincts to the VOCABULARY-pair grain (bounded by vocab², in
    * practice ≪ corpus size) — everything after runs on that bounded
    * graph via pageRank's node-grain sweeps; the word join-back is one
    * vocab-grain aggregate off the same cached pair pass.
    *
    * @return (word, pr) for every co-occurring word, pr rounded to 7.
    */
  def textrankKeywords(docs: DataFrame, textCol: String,
      iterations: Int = 3): DataFrame = {
    val toks = tokens(col(textCol))
    val pairs = docs.select(toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1).as("h"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("t"))).as("bg"))
      .select(col("bg.h").as("w1"), col("bg.t").as("w2"))
      .filter(col("w1") =!= col("w2"))
      .select(col("w1"), col("w2"),
        Dedup.portableTokenHash63(col("w1")).as("h1"),
        Dedup.portableTokenHash63(col("w2")).as("h2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val canon = pairs
      .select(least(col("h1"), col("h2")).as("u"),
        greatest(col("h1"), col("h2")).as("v"))
      .distinct()
    val edges = canon.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val pr = GraphOps.pageRank(edges, "src", "dst", iterations)
    val words = pairs.select(col("h1").as("id"), col("w1").as("word"))
      .union(pairs.select(col("h2").as("id"), col("w2").as("word")))
      .groupBy(col("id")).agg(min(col("word")).as("word"))
    pr.join(words, Seq("id"))
      .select(col("word"), round(col("pr"), 7).as("pr"))
  }

  /** Per-group quantile-rank calibration of a score column — the
    * cross-source normalization step before mixing corpora whose raw
    * quality scores live on incomparable scales (the CCNet/FineWeb
    * per-dump discipline: a fixed threshold on dump A's perplexity
    * means something else on dump B's; ranks within the source are
    * comparable). Each (group, score) pair maps to its midrank quantile
    * `u = (r + (c+1)/2) / (n_g + 1)` — r rows strictly below, c tied
    * rows, n_g the group size — so u ∈ (0, 1), ties share one value,
    * and a global `u ≥ τ` cut takes (almost) the same fraction of
    * every source.
    *
    * INTEGER-EXACT: u's numerator doubles to `2r + c + 1` (a long) and
    * the denominator to `2(n_g + 1)`; both ride the output, and the
    * round-6 double `u` is ONE division of identical integer operands
    * in any engine.
    *
    * Scale shape: one (group, score)-grain map-combined count, one
    * window PARTITIONED BY GROUP over those grains (parallel across
    * groups — no single-partition sort), one group-grain total riding
    * the same window frame. Row grain never shuffles; quantize a
    * continuous score upstream (round-4) to bound the grain.
    *
    * @return (group, score, c, u_num2, u_den2, u) — one row per
    *         distinct (group, score); join back on both to calibrate
    *         row-grain data.
    */
  def quantileNormalize(df: DataFrame, groupCol: Column,
      scoreCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df.select(groupCol.as("grp"), scoreCol.as("score"))
      .groupBy(col("grp"), col("score")).agg(count(lit(1)).as("c"))
    val wBelow = Window.partitionBy(col("grp")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.select(col("grp"), col("score"), col("c"),
        (lit(2L) * coalesce(sum(col("c")).over(wBelow), lit(0L)) +
          col("c") + lit(1L)).as("u_num2"),
        (lit(2L) * (sum(col("c")).over(wAll) + lit(1L))).as("u_den2"))
      .withColumn("u", round(col("u_num2").cast("double") /
        col("u_den2").cast("double"), 6))
  }
}
