package graft.queries

import graft.{Q, Tables}
import graft.operators.{Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators exposed through the correctness
  * gate: text analysis, exact + near dedup (MinHash LSH, SimHash, n-gram
  * Jaccard), embedding similarity search, multimodal binary plumbing.
  * EVERY gate here is fully DuckDB-oracled (rows + schema + hash): the
  * hash-seeded operators (SimHash, SRP-LSH, MinHash) ride
  * [[graft.operators.Dedup.portableTokenHash63]]-style md5-derived
  * hashes that DuckDB reproduces bit-for-bit, so the oracles replay the
  * exact signatures, not just row counts.
  */
object PipelineQueries {

  /** DuckDB fragment for whitespace tokens, empties dropped. */
  private[queries] val toksSql = "list_filter(string_split(text, ' '), x -> x <> '')"
  /** DuckDB fragment for distinct word-3-gram shingles. */
  private[queries] val shinglesSql =
    s"""list_distinct(list_transform(
       |  generate_series(1, len($toksSql) - 2),
       |  i -> array_to_string(list_slice($toksSql, i, i + 2), ' ')))""".stripMargin

  def all: Seq[Q] = Seq(

    // ---------------------------------------------------- text analysis
    Q("t01_token_count",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .select($"doc_id", TextOps.tokenCount($"text").as("n_tokens"), $"n_chars")
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, len($toksSql) AS n_tokens, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("t02_quality_score",
      (s, dir) => {
        import s.implicits._
        TextOps.qualityFeatures(
            Tables(s, dir, "documents").select($"doc_id", $"text"), $"text")
          .select($"doc_id", $"n_tokens", $"n_distinct", $"ttr", $"quality")
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id,
             |  len($toksSql) AS n_tokens,
             |  len(list_distinct($toksSql)) AS n_distinct,
             |  round(len(list_distinct($toksSql))::DOUBLE / len($toksSql), 4) AS ttr,
             |  round(least(1.0, len($toksSql) / 100.0)
             |    * round(len(list_distinct($toksSql))::DOUBLE / len($toksSql), 4), 4) AS quality
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // classification report (q155): grade the t03 language identifier
    // against gold labels — per-class precision/recall/F1 plus the
    // (overall) accuracy/macro-F1 row. Every confusion cell is an
    // exact long; F1 = 2tp/(2tp+fp+fn) exactly (no P*R float chain),
    // carried micro-quantized so macro-F1 is an order-free integer
    // sum. The eval loop around a real in-engine classifier.
    Q("q155_classification_report",
      (s, dir) => {
        import s.implicits._
        val preds = Tables(s, dir, "documents")
          .select(TextOps.langId($"text").as("pred"), $"lang")
        graft.operators.Learn.classificationReport(preds, $"lang", $"pred")
          .orderBy($"cls")
      },
      Some {
        def hits(ws: Seq[String]) =
          s"len(list_filter($toksSql, x -> x IN (${ws.map("'" + _ + "'").mkString(", ")})))"
        val en = hits(TextOps.langMarkers("en")); val de = hits(TextOps.langMarkers("de"))
        val es = hits(TextOps.langMarkers("es")); val fr = hits(TextOps.langMarkers("fr"))
        val zh = hits(TextOps.langMarkers("zh"))
        val pred =
          s"""CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr AND $en >= $zh THEN 'en'
             |     WHEN $de >= $es AND $de >= $fr AND $de >= $zh THEN 'de'
             |     WHEN $es >= $fr AND $es >= $zh THEN 'es'
             |     WHEN $fr >= $zh THEN 'fr'
             |     ELSE 'zh' END""".stripMargin
        s"""WITH cells AS (
           |  SELECT lang AS l, ($pred) AS p, count(*) AS n
           |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
           |cls AS (
           |  SELECT l AS cls FROM cells UNION SELECT p FROM cells),
           |rn AS (SELECT l AS cls, sum(n) AS row_n FROM cells GROUP BY 1),
           |cn AS (SELECT p AS cls, sum(n) AS col_n FROM cells GROUP BY 1),
           |dg AS (SELECT l AS cls, n AS tp0 FROM cells WHERE l = p),
           |per AS (
           |  SELECT cls.cls, coalesce(tp0, 0) AS tp,
           |    coalesce(col_n, 0) - coalesce(tp0, 0) AS fp,
           |    coalesce(row_n, 0) - coalesce(tp0, 0) AS fn
           |  FROM cls LEFT JOIN rn USING (cls) LEFT JOIN cn USING (cls)
           |  LEFT JOIN dg USING (cls)),
           |perm AS (
           |  SELECT cls, tp, fp, fn,
           |    CASE WHEN 2 * tp + fp + fn > 0 THEN
           |      CAST(round(2e6 * CAST(tp AS DOUBLE)
           |        / CAST(2 * tp + fp + fn AS DOUBLE)) AS BIGINT)
           |    END AS f1m
           |  FROM per),
           |mac AS (
           |  SELECT count(*) AS k, sum(coalesce(f1m, 0)) AS f1_sum
           |  FROM perm),
           |tot AS (
           |  SELECT sum(n) AS nn,
           |    sum(CASE WHEN l = p THEN n ELSE 0 END) AS ok
           |  FROM cells),
           |perout AS (
           |  SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           |    CAST(fn AS BIGINT) AS fn,
           |    CASE WHEN tp + fp > 0 THEN
           |      round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
           |    END AS precision,
           |    CASE WHEN tp + fn > 0 THEN
           |      round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
           |    END AS recall,
           |    CASE WHEN f1m IS NOT NULL THEN
           |      round(CAST(f1m AS DOUBLE) / 1e6, 6) END AS f1
           |  FROM perm),
           |ov AS (
           |  SELECT '(overall)' AS cls, CAST(ok AS BIGINT) AS tp,
           |    CAST(nn - ok AS BIGINT) AS fp, CAST(nn - ok AS BIGINT) AS fn,
           |    round(CAST(ok AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS precision,
           |    round(CAST(ok AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS recall,
           |    round(CAST(f1_sum AS DOUBLE)
           |      / (CAST(k AS DOUBLE) * 1e6), 6) AS f1
           |  FROM tot, mac)
           |SELECT * FROM (SELECT * FROM perout UNION ALL SELECT * FROM ov)
           |ORDER BY cls""".stripMargin
      }),

    Q("t03_lang_id",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .select($"doc_id", TextOps.langId($"text").as("pred_lang"),
            $"lang".as("true_lang"))
          .withColumn("hit", $"pred_lang" === $"true_lang")
          .orderBy($"doc_id")
      },
      Some {
        def hits(ws: Seq[String]) =
          s"len(list_filter($toksSql, x -> x IN (${ws.map("'" + _ + "'").mkString(", ")})))"
        val en = hits(TextOps.langMarkers("en")); val de = hits(TextOps.langMarkers("de"))
        val es = hits(TextOps.langMarkers("es")); val fr = hits(TextOps.langMarkers("fr"))
        val zh = hits(TextOps.langMarkers("zh"))
        s"""SELECT doc_id,
           |  CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr AND $en >= $zh THEN 'en'
           |       WHEN $de >= $es AND $de >= $fr AND $de >= $zh THEN 'de'
           |       WHEN $es >= $fr AND $es >= $zh THEN 'es'
           |       WHEN $fr >= $zh THEN 'fr'
           |       ELSE 'zh' END AS pred_lang,
           |  lang AS true_lang,
           |  (CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr AND $en >= $zh THEN 'en'
           |       WHEN $de >= $es AND $de >= $fr AND $de >= $zh THEN 'de'
           |       WHEN $es >= $fr AND $es >= $zh THEN 'es'
           |       WHEN $fr >= $zh THEN 'fr'
           |       ELSE 'zh' END) = lang AS hit
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    Q("t04_fingerprint",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .select($"doc_id", TextOps.fingerprint($"text").as("fp"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---------------------------------------------------------- dedup
    Q("d01_dedup_exact",
      (s, dir) => {
        import s.implicits._
        Dedup.exactDedup(Tables(s, dir, "documents"), "doc_id", "text")
          .select($"doc_id", $"group_size", $"is_canonical")
          .orderBy($"doc_id")
      },
      Some("""WITH f AS (SELECT doc_id,
             |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |  FROM documents)
             |SELECT doc_id,
             |  count(*) OVER (PARTITION BY fp) AS group_size,
             |  doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canonical
             |FROM f ORDER BY doc_id""".stripMargin)),

    Q("d02_minhash_lsh",
      (s, dir) =>
        Dedup.minhashLsh(Tables(s, dir, "documents"), "doc_id", "text",
            shingleSize = 3, k = 128, bands = 32, threshold = 0.8)
          .orderBy(col("id_a"), col("id_b")),
      // oracle: exact all-pairs Jaccard at j≥0.8. Candidates are verified
      // with exact Jaccard, so false positives never reach the output; the
      // only risk is an LSH miss. With b=32 bands of r=4 rows the miss
      // probability for a true j=0.8 pair is (1-0.8^4)^32 ≈ 4.8e-8 (and
      // lower for j>0.8), so the gate holds for any SF/seed, not just this
      // dataset. (b=16×r=8 would be ~5% per pair at j=0.8 — too leaky.)
      Some(s"""WITH sh AS (SELECT doc_id, $shinglesSql AS sh FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(len(list_intersect(a.sh, b.sh))::DOUBLE
             |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 3) AS jaccard
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
             |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 3) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin)),

    // near-dup clustering: LSH pairs → connected components (min-label
    // propagation; see Dedup.connectedComponents for the scale story).
    // Oracle: transitive closure of the exact all-pairs j≥0.8 edge set via
    // a recursive CTE, labeled by min reachable doc_id.
    Q("d06_dedup_clusters",
      (s, dir) => {
        val pairs = Dedup.minhashLsh(Tables(s, dir, "documents"), "doc_id",
          "text", shingleSize = 3, k = 128, bands = 32, threshold = 0.8)
        val cc = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
        val sizes = cc.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, Seq("label"))
          .select(col("id").as("doc_id"), col("label").as("cluster_id"),
            col("cluster_size"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE sh AS (
             |  SELECT doc_id, $shinglesSql AS sh FROM documents),
             |e AS (
             |  SELECT a.doc_id AS ia, b.doc_id AS ib
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
             |sym AS (SELECT ia AS s, ib AS d FROM e
             |        UNION ALL SELECT ib, ia FROM e),
             |reach(src, dst) AS (
             |  SELECT s, s FROM sym
             |  UNION
             |  SELECT r.src, sym.d FROM reach r JOIN sym ON r.dst = sym.s),
             |cc AS (SELECT src AS doc_id, min(dst) AS cluster_id
             |       FROM reach GROUP BY src)
             |SELECT doc_id, cluster_id,
             |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
             |FROM cc ORDER BY doc_id""".stripMargin)),

    // the dedup "action": per cluster, keep the longest document (ties →
    // lowest doc_id) and map every member to its canonical — the
    // downstream filter is then `doc_id = canonical_id`
    Q("d07_dedup_canonical",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
        val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
          shingleSize = 3, k = 128, bands = 32, threshold = 0.8)
        val cc = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
        val members = cc.join(docs.select(col("doc_id"), col("n_chars")),
          cc("id") === col("doc_id"))
        val w = Window.partitionBy(col("label"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        members
          .withColumn("canonical_id", first(col("doc_id")).over(w))
          .select(col("doc_id"), col("canonical_id"),
            (col("doc_id") === col("canonical_id")).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE sh AS (
             |  SELECT doc_id, $shinglesSql AS sh FROM documents),
             |e AS (
             |  SELECT a.doc_id AS ia, b.doc_id AS ib
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
             |sym AS (SELECT ia AS s, ib AS d FROM e
             |        UNION ALL SELECT ib, ia FROM e),
             |reach(src, dst) AS (
             |  SELECT s, s FROM sym
             |  UNION
             |  SELECT r.src, sym.d FROM reach r JOIN sym ON r.dst = sym.s),
             |cc AS (SELECT src AS doc_id, min(dst) AS label
             |       FROM reach GROUP BY src),
             |m AS (SELECT cc.doc_id, cc.label, d.n_chars
             |      FROM cc JOIN documents d ON cc.doc_id = d.doc_id)
             |SELECT doc_id,
             |  first_value(doc_id) OVER (PARTITION BY label
             |    ORDER BY n_chars DESC, doc_id) AS canonical_id,
             |  doc_id = first_value(doc_id) OVER (PARTITION BY label
             |    ORDER BY n_chars DESC, doc_id) AS keep
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- leakage-safe train/test split (d16): documents split by
    //      NEAR-DUP CLUSTER, never by row — a test doc whose near-twin
    //      sits in train is a leaked answer, and row-hash splits leak
    //      every duplicated doc. Cluster id = CC label over the LSH
    //      pair graph (singletons fall back to their own id), split =
    //      portable md5-prefix hash of the CLUSTER id (the t18/d03
    //      cross-engine hash rule, 20% test). Oracle: the d06 recursive
    //      closure + the identical hash rule; the by-construction
    //      invariant (no cluster straddles the boundary) is pinned in
    //      the spec suite. ----
    Q("d16_leakage_split",
      (s, dir) =>
        Dedup.leakageSafeSplit(Tables(s, dir, "documents"), "doc_id",
            "text", shingleSize = 3, k = 128, bands = 32, threshold = 0.8,
            buckets = 10, testBuckets = 2)
          .select(col("id").as("doc_id"), col("cluster_id"), col("split"))
          .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE sh AS (
             |  SELECT doc_id, $shinglesSql AS sh FROM documents),
             |e AS (
             |  SELECT a.doc_id AS ia, b.doc_id AS ib
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
             |sym AS (SELECT ia AS s, ib AS d FROM e
             |        UNION ALL SELECT ib, ia FROM e),
             |reach(src, dst) AS (
             |  SELECT s, s FROM sym
             |  UNION
             |  SELECT r.src, sym.d FROM reach r JOIN sym ON r.dst = sym.s),
             |cc AS (SELECT src AS doc_id, min(dst) AS label
             |       FROM reach GROUP BY src),
             |lab AS (
             |  SELECT d.doc_id, coalesce(cc.label, d.doc_id) AS cluster_id
             |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id)
             |SELECT doc_id, cluster_id,
             |  CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT
             |         % 10 < 2 THEN 'test' ELSE 'train' END AS split
             |FROM lab ORDER BY doc_id""".stripMargin)),

    // banded SimHash at maxHamming=3 is EXHAUSTIVE (pigeonhole: 4 chunks,
    // ≤3 differing bits ⇒ one chunk equal), so with the skew cap lifted
    // the bucketed pipeline must equal the all-pairs filter — which is
    // exactly what the oracle computes, over portable 63-bit md5-derived
    // token hashes (same bit math as the Spark side; verified to match
    // bit-for-bit). The xxhash64 default stays the operator's fast path.
    Q("d03_simhash_pairs",
      (s, dir) =>
        Dedup.simhashPairs(Tables(s, dir, "documents"), "doc_id", "text",
            maxHamming = 3, maxBucket = Int.MaxValue,
            tokenHash = Dedup.portableTokenHash63)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH d AS (
             |  SELECT doc_id, $toksSql AS toks FROM documents
             |  WHERE len($toksSql) > 0),
             |t AS (
             |  SELECT doc_id,
             |    (('0x' || substr(md5(unnest(toks)), 1, 8))::BIGINT & 2147483647)
             |      * 4294967296
             |      + ('0x' || substr(md5(unnest(toks)), 9, 8))::BIGINT AS h,
             |    len(toks) AS n
             |  FROM d),
             |bits AS (
             |  SELECT doc_id, b,
             |    CASE WHEN 2 * sum((h >> b) & 1) > any_value(n) THEN 1::BIGINT
             |         ELSE 0::BIGINT END AS bit
             |  FROM t CROSS JOIN (SELECT unnest(range(0, 63)) AS b)
             |  GROUP BY doc_id, b),
             |sig AS (
             |  SELECT doc_id, CAST(sum(bit << b) AS BIGINT) AS sig
             |  FROM bits GROUP BY doc_id)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
             |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.sig, b.sig)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // portable SimHash: same majority-bit signature as d03 but with
    // md5-derived 32-bit token hashes, so the WHOLE pipeline — hash →
    // signature → hamming pairs — replicates in SQL and gets a full
    // oracle (d03 keeps the xxhash64 version + banding scale path)
    Q("d08_simhash_portable",
      (s, dir) => {
        import s.implicits._
        import graft.functions.HashExprs
        val toks = filter(split($"text", " "), t => t =!= "")
        val hashes = transform(toks,
          t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
        // empty-token docs: the oracle's unnest-based sig CTE omits them,
        // so the Spark side must too (their sig=0 would be meaningless)
        val sigs = Tables(s, dir, "documents").filter($"doc_id" < 200)
          .filter(size(toks) > 0)
          .select($"doc_id", HashExprs.simhash64(hashes).as("sig"))
        val a = sigs.select($"doc_id".as("id_a"), $"sig".as("sig_a"))
        val b = sigs.select($"doc_id".as("id_b"), $"sig".as("sig_b"))
        a.join(b, $"id_a" < $"id_b")
          .withColumn("hamming",
            bit_count($"sig_a".bitwiseXOR($"sig_b")).cast("long"))
          .filter($"hamming" <= 3)
          .select($"id_a", $"id_b", $"hamming")
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents WHERE doc_id < 200),
             |t AS (
             |  SELECT doc_id, ('0x' || substr(md5(unnest(toks)), 1, 8))::BIGINT AS h,
             |    len(toks) AS n
             |  FROM d),
             |bits AS (
             |  SELECT doc_id, b,
             |    CASE WHEN 2 * sum((h >> b) & 1) > any_value(n) THEN 1::BIGINT
             |         ELSE 0::BIGINT END AS bit
             |  FROM t CROSS JOIN (SELECT unnest(range(0, 32)) AS b)
             |  GROUP BY doc_id, b),
             |sig AS (
             |  SELECT doc_id, CAST(sum(bit << b) AS BIGINT) AS sig
             |  FROM bits GROUP BY doc_id)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
             |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.sig, b.sig)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- benchmark decontamination: flag corpus docs whose shingle set
    //      overlaps a benchmark set above a threshold (the screening step
    //      every training corpus runs against eval sets). Shingle-hash
    //      equi-join — the benchmark side is tiny and broadcast; the
    //      corpus side streams through map-side, no all-pairs. ----
    Q("d09_decontaminate",
      (s, dir) => {
        import s.implicits._
        import graft.functions.HashExprs
        val sh = Tables(s, dir, "documents")
          .select($"doc_id", HashExprs.shingle_hashes($"text", 3).as("sh"))
          .filter(size($"sh") > 0)
        val bench = sh.filter($"doc_id" < 25)
          .select($"doc_id".as("bench_id"), explode($"sh").as("h"))
        val corpus = sh.filter($"doc_id" >= 25)
          .select($"doc_id", size($"sh").cast("long").as("n_sh"),
            explode($"sh").as("h"))
        corpus.join(broadcast(bench), Seq("h"))
          .groupBy($"doc_id", $"n_sh", $"bench_id")
          .agg(count(lit(1)).as("overlap"))
          .groupBy($"doc_id", $"n_sh")
          .agg(max($"overlap").as("max_overlap"))
          .select($"doc_id",
            round($"max_overlap" / $"n_sh", 3).as("contamination"))
          .filter($"contamination" >= 0.2)
          .orderBy($"doc_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $shinglesSql AS sh FROM documents
             |            WHERE len($shinglesSql) > 0),
             |b AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id < 25),
             |c AS (SELECT doc_id, sh, len(sh) AS n_sh FROM sh WHERE doc_id >= 25),
             |m AS (SELECT c.doc_id,
             |        round(max(len(list_intersect(c.sh, b.sh)))::DOUBLE
             |          / any_value(n_sh), 3) AS contamination
             |      FROM c CROSS JOIN b GROUP BY c.doc_id)
             |SELECT doc_id, contamination FROM m
             |WHERE contamination >= 0.2 ORDER BY doc_id""".stripMargin)),

    Q("d04_ngram_jaccard",
      (s, dir) => {
        import s.implicits._
        import graft.functions.HashExprs
        val sh = Tables(s, dir, "documents").filter($"doc_id" < 200)
          .select($"doc_id", HashExprs.shingle_hashes($"text", 3).as("sh"))
        val a = sh.select($"doc_id".as("id_a"), $"sh".as("sh_a"))
        val b = sh.select($"doc_id".as("id_b"), $"sh".as("sh_b"))
        a.join(b, $"id_a" < $"id_b")
          .withColumn("jaccard", round(HashExprs.sorted_jaccard($"sh_a", $"sh_b"), 3))
          .filter($"jaccard" >= 0.25)
          .select($"id_a", $"id_b", $"jaccard")
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $shinglesSql AS sh FROM documents
             |            WHERE doc_id < 200)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(len(list_intersect(a.sh, b.sh))::DOUBLE
             |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 3) AS jaccard
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
             |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 3) >= 0.25
             |ORDER BY id_a, id_b""".stripMargin)),

    // asymmetric shingle containment |A∩B|/|A| (Lee et al.'s subset-dup
    // signal): a short doc quoted whole inside a long one scores
    // containment 1.0 while its Jaccard |A|/|B| can sit below any d04
    // threshold. DIRECTED pairs over the same bounded verifier block;
    // the scale path is unchanged — d02's band buckets propose, this
    // codegen'd sorted-merge expression verifies
    Q("d13_containment",
      (s, dir) => {
        import s.implicits._
        import graft.functions.HashExprs
        val sh = Tables(s, dir, "documents").filter($"doc_id" < 200)
          .select($"doc_id", HashExprs.shingle_hashes($"text", 3).as("sh"))
        val a = sh.select($"doc_id".as("id_a"), $"sh".as("sh_a"))
        val b = sh.select($"doc_id".as("id_b"), $"sh".as("sh_b"))
        a.join(b, $"id_a" =!= $"id_b")
          .withColumn("containment",
            round(HashExprs.sorted_containment($"sh_a", $"sh_b"), 3))
          .filter($"containment" >= 0.5)
          .select($"id_a", $"id_b", $"containment")
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $shinglesSql AS sh FROM documents
             |            WHERE doc_id < 200)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 3)
             |    AS containment
             |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
             |WHERE len(a.sh) > 0
             |  AND round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 3) >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)),

    // EXACT near-dup join on d02's units and threshold, via prefix
    // filtering (AllPairs/PPJoin) instead of MinHash: rank each doc's
    // shingles by global rarity, equi-join only the short rare-shingle
    // prefixes (zero false negatives by the prefix-overlap theorem),
    // verify with the codegen'd sorted-merge Jaccard. Same all-pairs
    // oracle as d02 — the two algorithms must reproduce it from opposite
    // ends of the exact/approximate trade
    Q("d14_prefix_jaccard",
      (s, dir) =>
        Dedup.prefixJaccardJoin(Tables(s, dir, "documents"), "doc_id", "text",
            shingleSize = 3, threshold = 0.8)
          .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH sh AS (SELECT doc_id, $shinglesSql AS sh FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(len(list_intersect(a.sh, b.sh))::DOUBLE
             |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 3) AS jaccard
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
             |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 3) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin)),

    Q("d05_embedding_nn",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        import graft.operators.Similarity
        // embedding-cosine near-dup: canonical nearest-neighbor assignment
        // over a bounded block (vec_id < 1000 ⇒ constant cost across SF;
        // the unbounded scale path is the SRP-bucketed variant in s02)
        val emb = Tables(s, dir, "embeddings").filter($"vec_id" < 1000)
          .select($"vec_id", $"embedding")
        val a = emb.select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        val b = emb.select($"vec_id".as("n_id"), $"embedding".as("n_emb"))
        // argmax via the bounded-heap aggregate (TopKAgg k=1 — same
        // (cos desc, n_id asc) tie order): only |Q| rows shuffle, and
        // the partial agg HASH-aggregates map-side. The former
        // max(struct(cos, -n_id)) had an immutable struct buffer, which
        // forces SortAggregate — a full sort of all |Q|×n scored pairs
        // (the round-16 IVF-family finding)
        a.crossJoin(b).filter($"q_id" =!= $"n_id")
          .withColumn("cos", round(Similarity.cosine($"q_emb", $"n_emb"), 5))
          .groupBy($"q_id")
          .agg(graft.functions.TopKAgg.top_k_by($"cos", $"n_id", 1).as("tk"))
          .select($"q_id", element_at($"tk.id", 1).as("n_id"),
            element_at($"tk.score", 1).as("cos"))
          .orderBy($"q_id")
      },
      Some("""SELECT q_id, n_id, cos FROM (
             |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                                 CAST(b.embedding AS DOUBLE[])), 5) AS cos,
             |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
             |      round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                                   CAST(b.embedding AS DOUBLE[])), 5) DESC,
             |      b.vec_id) AS rn
             |  FROM embeddings a JOIN embeddings b
             |    ON a.vec_id <> b.vec_id AND a.vec_id < 1000 AND b.vec_id < 1000)
             |WHERE rn = 1 ORDER BY q_id""".stripMargin)),

    // ----------------------------------------------------- similarity
    Q("s01_ann_bruteforce",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 10), k = 5)
          .orderBy(col("q_id"), col("rn"))
      },
      Some("""SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                               CAST(e.embedding AS DOUBLE[])), 5) AS cos,
             |  row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                 CAST(e.embedding AS DOUBLE[])), 5) DESC,
             |    e.vec_id) AS rn
             |FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
             |WHERE q.vec_id < 10
             |QUALIFY rn <= 5
             |ORDER BY q_id, rn""".stripMargin)),

    // hard-negative mining (contrastive-training data prep): top-k
    // neighbors inside the semi-hard cosine band [0.15, 0.30) — strong
    // enough to be informative negatives, below the near-dup/positive
    // ceiling (s01's top hits run ~0.30-0.37 on this corpus). Broadcast
    // queries + map-side band filter + bounded heap: the corpus never
    // shuffles, ≤k rows per query leave each partition
    Q("s07_hard_negatives",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        Similarity.hardNegatives(emb, emb.filter($"vec_id" < 10), k = 5,
            lo = 0.15, hi = 0.30)
          .orderBy(col("q_id"), col("rn"))
      },
      Some("""SELECT q_id, n_id, cos, rn FROM (
             |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                 CAST(e.embedding AS DOUBLE[])), 5) AS cos,
             |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                   CAST(e.embedding AS DOUBLE[])), 5) DESC,
             |      e.vec_id) AS rn
             |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
             |  WHERE q.vec_id < 10
             |    AND round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                     CAST(e.embedding AS DOUBLE[])), 5) >= 0.15
             |    AND round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                     CAST(e.embedding AS DOUBLE[])), 5) < 0.30)
             |WHERE rn <= 5
             |ORDER BY q_id, rn""".stripMargin)),

    // IVF ANN: Voronoi cells around every-25th vector, probe the 2 nearest
    // cells per query. The oracle replicates the construction exactly (the
    // operator's semantics are deterministic, so IVF's recall loss is part
    // of the contract, not noise).
    Q("s03_ann_ivf",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        Similarity.ivfTopK(emb, emb.filter($"vec_id" < 10), k = 5,
            nProbe = 2, centEvery = 25)
          .orderBy(col("q_id"), col("rn"))
      },
      Some("""WITH cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings WHERE vec_id % 25 = 0),
             |assign AS (
             |  SELECT n_id, n_emb, c_id FROM (
             |    SELECT e.vec_id AS n_id, CAST(e.embedding AS DOUBLE[]) AS n_emb,
             |      c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |probe AS (
             |  SELECT q_id, q_emb, c_id FROM (
             |    SELECT q.vec_id AS q_id, CAST(q.embedding AS DOUBLE[]) AS q_emb,
             |      c_id,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS prn
             |    FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 10)
             |  WHERE prn <= 2)
             |SELECT q_id, n_id, cos, rn FROM (
             |  SELECT p.q_id, a.n_id,
             |    round(list_cosine_similarity(p.q_emb, a.n_emb), 5) AS cos,
             |    row_number() OVER (PARTITION BY p.q_id ORDER BY
             |      round(list_cosine_similarity(p.q_emb, a.n_emb), 5) DESC,
             |      a.n_id) AS rn
             |  FROM probe p JOIN assign a ON p.c_id = a.c_id AND a.n_id <> p.q_id)
             |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)),

    // ---- ANN recall@k eval (s16): IVF's per-query recall against the
    //      exact brute-force ground truth — the acceptance test run
    //      before trusting an index config (both paths deterministic,
    //      so recall is contract, not noise; the oracle composes the
    //      s01 and s03 replays and counts id-set overlap). ----
    Q("s16_ann_recall",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        graft.operators.Similarity.annRecallAtK(
            emb, emb.filter($"vec_id" < 10), k = 5, nProbe = 2,
            centEvery = 25)
          .orderBy(col("q_id"))
      },
      Some("""WITH exact AS (
             |  SELECT q_id, n_id FROM (
             |    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                     CAST(e.embedding AS DOUBLE[])), 5) DESC,
             |        e.vec_id) AS rn
             |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
             |    WHERE q.vec_id < 10)
             |  WHERE rn <= 5),
             |cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings WHERE vec_id % 25 = 0),
             |assign AS (
             |  SELECT n_id, n_emb, c_id FROM (
             |    SELECT e.vec_id AS n_id, CAST(e.embedding AS DOUBLE[]) AS n_emb,
             |      c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |probe AS (
             |  SELECT q_id, q_emb, c_id FROM (
             |    SELECT q.vec_id AS q_id, CAST(q.embedding AS DOUBLE[]) AS q_emb,
             |      c_id,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS prn
             |    FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 10)
             |  WHERE prn <= 2),
             |approx AS (
             |  SELECT q_id, n_id FROM (
             |    SELECT p.q_id, a.n_id,
             |      row_number() OVER (PARTITION BY p.q_id ORDER BY
             |        round(list_cosine_similarity(p.q_emb, a.n_emb), 5) DESC,
             |        a.n_id) AS rn
             |    FROM probe p JOIN assign a ON p.c_id = a.c_id AND a.n_id <> p.q_id)
             |  WHERE rn <= 5)
             |SELECT x.q_id, count(*) AS n_exact,
             |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_hit,
             |  round(CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall
             |FROM exact x
             |LEFT JOIN approx a ON x.q_id = a.q_id AND x.n_id = a.n_id
             |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin)),

    // IVF over a PERSISTED cell-partitioned layout: the probe join prunes
    // the scan down to the probed cells' partitions. Output contract (and
    // oracle) identical to s03 — what changes is the physical story.
    Q("s04_ann_ivf_layout",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        // stable layout path keyed by the corpus file's CONTENT identity
        // (parquet footer fingerprint — not mtime, so a byte-identical
        // regen reuses the layout): builds on first use; later runs —
        // including bench repetitions — measure the probe alone, which is
        // the serving-path claim; changed corpus data gets a fresh key.
        // ivfBuildLayout's ident check guards centEvery/plan identity on
        // top
        val key = Tables.contentKey(s"$dir/embeddings.parquet")
        val layout = graft.Scratch.dir(s"graft_ivf_layout_$key")
        Similarity.ivfTopKFromLayout(emb, emb.filter($"vec_id" < 10), k = 5,
            nProbe = 2, centEvery = 25, layoutDir = layout)
          .orderBy(col("q_id"), col("rn"))
      },
      Some("""WITH cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings WHERE vec_id % 25 = 0),
             |assign AS (
             |  SELECT n_id, n_emb, c_id FROM (
             |    SELECT e.vec_id AS n_id, CAST(e.embedding AS DOUBLE[]) AS n_emb,
             |      c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |probe AS (
             |  SELECT q_id, q_emb, c_id FROM (
             |    SELECT q.vec_id AS q_id, CAST(q.embedding AS DOUBLE[]) AS q_emb,
             |      c_id,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS prn
             |    FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 10)
             |  WHERE prn <= 2)
             |SELECT q_id, n_id, cos, rn FROM (
             |  SELECT p.q_id, a.n_id,
             |    round(list_cosine_similarity(p.q_emb, a.n_emb), 5) AS cos,
             |    row_number() OVER (PARTITION BY p.q_id ORDER BY
             |      round(list_cosine_similarity(p.q_emb, a.n_emb), 5) DESC,
             |      a.n_id) AS rn
             |  FROM probe p JOIN assign a ON p.c_id = a.c_id AND a.n_id <> p.q_id)
             |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)),

    // incremental IVF maintenance: build the layout on the first 400
    // vectors (cell geometry frozen at build time — the IVF contract),
    // APPEND the rest against the layout's own centroid table (one pass
    // over the batch + kB centroid broadcast, the existing corpus is
    // never read), then serve queries from the layout alone. The oracle
    // assigns ALL vectors to the base-corpus modulo centroids — exactly
    // what build+append produces
    Q("s08_ann_ivf_append",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        val key = Tables.contentKey(s"$dir/embeddings.parquet")
        val layout = graft.Scratch.dir(s"graft_ivf_append_$key")
        val base = emb.filter($"vec_id" < 400)
        // rep-idempotent: the appended layout's extended ident mismatches
        // the base-corpus ident, so every invocation rebuilds the base
        // layout and re-appends — the full maintenance cycle is measured
        Similarity.ivfBuildLayout(base, centEvery = 25, layoutDir = layout)
        Similarity.ivfAppendToLayout(emb.filter($"vec_id" >= 400), layout)
        Similarity.ivfTopKServing(s, emb.filter($"vec_id" < 10),
            k = 5, nProbe = 2, layoutDir = layout)
          .orderBy(col("q_id"), col("rn"))
      },
      Some("""WITH cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 400),
             |assign AS (
             |  SELECT n_id, n_emb, c_id FROM (
             |    SELECT e.vec_id AS n_id, CAST(e.embedding AS DOUBLE[]) AS n_emb,
             |      c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |probe AS (
             |  SELECT q_id, q_emb, c_id FROM (
             |    SELECT q.vec_id AS q_id, CAST(q.embedding AS DOUBLE[]) AS q_emb,
             |      c_id,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS prn
             |    FROM embeddings q CROSS JOIN cent
             |    WHERE q.vec_id < 10)
             |  WHERE prn <= 2)
             |SELECT q_id, n_id, cos, rn FROM (
             |  SELECT p.q_id, a.n_id,
             |    round(list_cosine_similarity(p.q_emb, a.n_emb), 5) AS cos,
             |    row_number() OVER (PARTITION BY p.q_id ORDER BY
             |      round(list_cosine_similarity(p.q_emb, a.n_emb), 5) DESC,
             |      a.n_id) AS rn
             |  FROM probe p JOIN assign a ON p.c_id = a.c_id AND a.n_id <> p.q_id)
             |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)),

    // hard-negative mining fed from the PERSISTED IVF layout (s07's
    // documented corpus-free swap): candidates are the queries' 2 probed
    // cells — the scan touches only those cells' partitions, the corpus
    // parquet is read only for the query batch. Same band/k as s07; the
    // oracle replicates probe + band + rank exactly, so IVF's recall loss
    // (negatives in unprobed cells are invisible) is part of the
    // contract, not noise. Shares s04's layout — one persisted
    // assignment, many consumers (top-k serving AND mining), which is
    // the layout's whole point at 100 TB
    Q("s09_hard_negatives_layout",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        // same content key as s04 — one persisted layout, many consumers
        val key = Tables.contentKey(s"$dir/embeddings.parquet")
        val layout = graft.Scratch.dir(s"graft_ivf_layout_$key")
        Similarity.ivfBuildLayout(emb, centEvery = 25, layoutDir = layout)
        Similarity.hardNegativesFromLayout(s, emb.filter($"vec_id" < 10),
            k = 5, lo = 0.15, hi = 0.30, nProbe = 2, layoutDir = layout)
          .orderBy(col("q_id"), col("rn"))
      },
      Some("""WITH cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings WHERE vec_id % 25 = 0),
             |assign AS (
             |  SELECT n_id, n_emb, c_id FROM (
             |    SELECT e.vec_id AS n_id, CAST(e.embedding AS DOUBLE[]) AS n_emb,
             |      c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |probe AS (
             |  SELECT q_id, q_emb, c_id FROM (
             |    SELECT q.vec_id AS q_id, CAST(q.embedding AS DOUBLE[]) AS q_emb,
             |      c_id,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS prn
             |    FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 10)
             |  WHERE prn <= 2)
             |SELECT q_id, n_id, cos, rn FROM (
             |  SELECT p.q_id, a.n_id,
             |    round(list_cosine_similarity(p.q_emb, a.n_emb), 5) AS cos,
             |    row_number() OVER (PARTITION BY p.q_id ORDER BY
             |      round(list_cosine_similarity(p.q_emb, a.n_emb), 5) DESC,
             |      a.n_id) AS rn
             |  FROM probe p JOIN assign a ON p.c_id = a.c_id AND a.n_id <> p.q_id
             |  WHERE round(list_cosine_similarity(p.q_emb, a.n_emb), 5) >= 0.15
             |    AND round(list_cosine_similarity(p.q_emb, a.n_emb), 5) < 0.30)
             |WHERE rn <= 5
             |ORDER BY q_id, rn""".stripMargin)),

    // SemDeDup-style semantic dedup: embedding-cluster-bounded near-dup
    // removal — within-cell cosine >= threshold against a lower id drops
    // the doc. Oracle = the same modulo-cell assignment + NOT EXISTS over
    // within-cell pairs (exact because both sides build identical cells).
    Q("s05_semantic_dedup",
      (s, dir) =>
        Similarity.semanticDedup(Tables(s, dir, "embeddings"),
            threshold = 0.35, centEvery = 25)
          .orderBy(col("n_id")),
      Some("""WITH cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings WHERE vec_id % 25 = 0),
             |assign AS (
             |  SELECT n_id, n_emb, c_id FROM (
             |    SELECT e.vec_id AS n_id, CAST(e.embedding AS DOUBLE[]) AS n_emb,
             |      c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1)
             |SELECT a.n_id,
             |  NOT EXISTS (SELECT 1 FROM assign b
             |    WHERE b.c_id = a.c_id AND b.n_id < a.n_id
             |      AND round(list_cosine_similarity(a.n_emb, b.n_emb), 5) >= 0.35)
             |    AS keep
             |FROM assign a ORDER BY n_id""".stripMargin)),

    // int8 embedding quantization round-trip: per-vector max-abs scale,
    // quantized checksum, and reconstruction cosine — the 4x storage
    // compression path for embedding columns, verified value-exactly
    // against the same arithmetic in SQL.
    Q("s06_embedding_quantize",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        e.withColumn("qs", Similarity.quantizeInt8(col("emb")))
          .select(col("vec_id"), round(col("qs.scale"), 6).as("scale"),
            aggregate(col("qs.q"), lit(0L), (a, v) => a + v).as("qsum"),
            round(Similarity.cosine(col("emb"),
              Similarity.dequantize(col("qs.q"), col("qs.scale"))), 5).as("cos"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |s AS (
             |  SELECT vec_id, emb,
             |    list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
             |  FROM e),
             |q AS (
             |  SELECT vec_id, emb, scale,
             |    list_transform(emb, x -> CAST(round(x / scale) AS INT)) AS qv
             |  FROM s)
             |SELECT vec_id, round(scale, 6) AS scale,
             |  CAST(list_sum(qv) AS BIGINT) AS qsum,
             |  round(list_cosine_similarity(emb,
             |    list_transform(qv, v -> v * scale)), 5) AS cos
             |FROM q ORDER BY vec_id""".stripMargin)),

    // Top principal direction by distributed power iteration + per-vector
    // projection (the "all-but-the-top" embedding post-processing step,
    // Mu & Viswanath ICLR'18; the 1-component PCA case). INTEGER-EXACT
    // across engines: embeddings quantize to longs, the Gram matrix is a
    // map-combined integer sum (bit-exact in ANY summation order — no
    // float-order nondeterminism across partitions or engines), and each
    // driver-side power step requantizes to integer components so the
    // only float ops (one sqrt, one divide per step) see identical
    // operands everywhere. The oracle replays the identical math: same
    // Gram, 3 unrolled power steps in fixed index order, same
    // floor(x+0.5) requantization, same sign canonicalization.
    Q("s10_pca_projection",
      (s, dir) =>
        Similarity.topComponentProjection(Tables(s, dir, "embeddings"))
          .select(col("id").as("vec_id"), col("proj"))
          .orderBy(col("vec_id")),
      Some("""WITH vq AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |idx AS (SELECT unnest(range(0, 64)) AS i),
             |g AS (
             |  SELECT a.i AS i, b.i AS j, CAST(sum(vq[a.i+1] * vq[b.i+1]) AS BIGINT) AS gv
             |  FROM vq, idx a, idx b GROUP BY a.i, b.i),
             |gm AS (SELECT i, list(gv ORDER BY j) AS grow FROM g GROUP BY i),
             |w0 AS (SELECT list_transform(range(0, 64), i -> CAST(1000000 AS BIGINT)) AS w),
             |u1 AS (SELECT i, CAST(list_sum(list_transform(range(1, 65), jj -> grow[jj] * w[jj])) AS BIGINT) AS u FROM gm, w0),
             |ul1 AS (SELECT list(u ORDER BY i) AS ul FROM u1),
             |n1 AS (SELECT sqrt(list_sum(list_transform(ul, x -> (CAST(x AS DOUBLE)/1000000)*(CAST(x AS DOUBLE)/1000000)))) * 1000000 AS nrm FROM ul1),
             |w1 AS (SELECT list_transform(ul, x -> CAST(floor(CAST(x AS DOUBLE) / nrm * 1000000 + 0.5) AS BIGINT)) AS w FROM ul1, n1),
             |u2 AS (SELECT i, CAST(list_sum(list_transform(range(1, 65), jj -> grow[jj] * w[jj])) AS BIGINT) AS u FROM gm, w1),
             |ul2 AS (SELECT list(u ORDER BY i) AS ul FROM u2),
             |n2 AS (SELECT sqrt(list_sum(list_transform(ul, x -> (CAST(x AS DOUBLE)/1000000)*(CAST(x AS DOUBLE)/1000000)))) * 1000000 AS nrm FROM ul2),
             |w2 AS (SELECT list_transform(ul, x -> CAST(floor(CAST(x AS DOUBLE) / nrm * 1000000 + 0.5) AS BIGINT)) AS w FROM ul2, n2),
             |u3 AS (SELECT i, CAST(list_sum(list_transform(range(1, 65), jj -> grow[jj] * w[jj])) AS BIGINT) AS u FROM gm, w2),
             |ul3 AS (SELECT list(u ORDER BY i) AS ul FROM u3),
             |n3 AS (SELECT sqrt(list_sum(list_transform(ul, x -> (CAST(x AS DOUBLE)/1000000)*(CAST(x AS DOUBLE)/1000000)))) * 1000000 AS nrm FROM ul3),
             |w3 AS (SELECT list_transform(ul, x -> CAST(floor(CAST(x AS DOUBLE) / nrm * 1000000 + 0.5) AS BIGINT)) AS w FROM ul3, n3),
             |lead AS (SELECT (-(list_aggregate(list_transform(range(0, 64), i -> {'a': abs(w[i+1]), 'ni': -i}), 'max')).ni) AS li FROM w3),
             |ws AS (SELECT CASE WHEN w[li+1] < 0 THEN list_transform(w, x -> -x) ELSE w END AS w FROM w3, lead)
             |SELECT vec_id, CAST(list_sum(list_transform(range(1, 65), j -> vq[j] * w[j])) AS BIGINT) AS proj
             |FROM vq, ws ORDER BY vec_id""".stripMargin)),

    // Per-dimension z-normalization of the embedding corpus (s11): the
    // whitening-lite preprocessing next to s10's common-direction
    // removal. Same determinism engineering: quantized-long inputs,
    // integer per-dim moments (order-free), float steps on identical
    // operands, non-positive variance guarded to 0 on BOTH sides. The
    // gate folds each normalized vector LEFT-TO-RIGHT (Spark aggregate
    // seed 0.0 + first element == DuckDB list_reduce's first-element
    // seed exactly) plus an order-free max.
    Q("s11_embedding_standardize",
      (s, dir) =>
        graft.operators.Similarity.standardizeDims(Tables(s, dir, "embeddings"))
          .select(col("id").as("vec_id"),
            round(expr(
              "aggregate(norm, cast(0.0 as double), (acc, x) -> acc + x)"),
              4).as("nsum"),
            round(array_max(col("norm")), 4).as("nmax"))
          .orderBy(col("vec_id")),
      Some("""WITH vq AS (
             |  SELECT vec_id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |idx AS (SELECT unnest(range(0, 64)) AS i),
             |st AS (
             |  SELECT i, CAST(sum(vq[i+1]) AS BIGINT) AS s,
             |    CAST(sum(vq[i+1] * vq[i+1]) AS BIGINT) AS s2,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM vq, idx GROUP BY i),
             |ms AS (
             |  SELECT i, CAST(s AS DOUBLE)/n AS mu,
             |    CASE WHEN CAST(s2 AS DOUBLE)/n - (CAST(s AS DOUBLE)/n)*(CAST(s AS DOUBLE)/n) > 0
             |      THEN sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s AS DOUBLE)/n)*(CAST(s AS DOUBLE)/n))
             |      ELSE 0.0 END AS sd
             |  FROM st),
             |ml AS (SELECT list(mu ORDER BY i) AS mul, list(sd ORDER BY i) AS sdl FROM ms),
             |nm AS (
             |  SELECT vec_id, list_transform(range(1, 65), j ->
             |    CASE WHEN sdl[j] = 0 THEN 0.0
             |         ELSE (CAST(vq[j] AS DOUBLE) - mul[j]) / sdl[j] END) AS norm
             |  FROM vq, ml)
             |SELECT vec_id,
             |  round(list_reduce(norm, (a, b) -> a + b), 4) AS nsum,
             |  round(list_max(norm), 4) AS nmax
             |FROM nm ORDER BY vec_id""".stripMargin)),

    // Embedding-distribution drift via linear-kernel MMD (s15): did the
    // high-label half's embedding cloud move against the low-label
    // half's? MMD^2 = ||mu_P - mu_Q||^2 exactly; quantized-long sums,
    // cleared denominators, one round-9 division — the vector-column
    // member of the drift toolkit next to q130's scalar PSI.
    Q("s15_embedding_mmd",
      (s, dir) => {
        import s.implicits._
        graft.operators.Similarity.embeddingMmd(
          Tables(s, dir, "embeddings"), "embedding", $"label" < 5)
      },
      Some("""WITH vq AS (
             |  SELECT label < 5 AS is_p,
             |    list_transform(embedding, x ->
             |      CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings WHERE embedding IS NOT NULL),
             |idx AS (SELECT unnest(range(0, 64)) AS i),
             |c AS (
             |  SELECT sum(CASE WHEN is_p THEN 1 ELSE 0 END) AS n_p,
             |    sum(CASE WHEN is_p THEN 0 ELSE 1 END) AS n_q
             |  FROM vq),
             |pd AS (
             |  SELECT i,
             |    sum(CASE WHEN is_p THEN vq[i+1] ELSE 0 END) AS sp,
             |    sum(CASE WHEN NOT is_p THEN vq[i+1] ELSE 0 END) AS sq
             |  FROM vq, idx GROUP BY i),
             |agg AS (
             |  SELECT c.n_p, c.n_q,
             |    sum((sp * n_q - sq * n_p) * (sp * n_q - sq * n_p))
             |      AS mmd2_num
             |  FROM pd, c GROUP BY c.n_p, c.n_q)
             |SELECT CAST(n_p AS BIGINT) AS n_p, CAST(n_q AS BIGINT) AS n_q,
             |  CAST(mmd2_num AS BIGINT) AS mmd2_num,
             |  CASE WHEN n_p > 0 AND n_q > 0 THEN
             |    round(CAST(mmd2_num AS DOUBLE)
             |      / ((CAST(n_p AS DOUBLE) * CAST(n_q AS DOUBLE) * 1000.0)
             |        * (CAST(n_p AS DOUBLE) * CAST(n_q AS DOUBLE) * 1000.0)),
             |      9) END AS mmd2
             |FROM agg""".stripMargin)),

    // Product quantization (s12): train a 4-subspace × 4-code book (one
    // integer-exact Lloyd step from lowest-id seeds), encode the corpus
    // as 4 codes/vector, and serve a query by ADC lookup — the 16-64×
    // memory-compression ANN path next to s06's int8. Everything is
    // exact long arithmetic (quantized inputs, integer squared-L2,
    // floor(sum/cnt) centroid updates), so the codebook, codes, and ADC
    // distances are bit-identical in DuckDB's replay. Encode+score is a
    // pure map pass (codebook as literals) + TakeOrderedAndProject.
    Q("s12_pq_adc",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val model = graft.operators.Similarity.pqTrain(
          emb, "vec_id", "embedding", m = 4, k = 4, iters = 1)
        val query = emb.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        graft.operators.Similarity
          .pqTopKAdc(emb, "vec_id", "embedding", model, query, kNN = 10)
          .select(col("id").as("vec_id"), col("adc"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |sp AS (SELECT unnest(range(4)) AS sub),
             |subs AS (
             |  SELECT id, sp.sub, vq[sp.sub*16+1 : sp.sub*16+16] AS x
             |  FROM vq, sp),
             |seeds AS (
             |  SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
             |    SELECT sub, x,
             |      row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
             |    FROM subs) WHERE rn <= 4),
             |a1 AS (
             |  SELECT id, sub, x, code, row_number() OVER (
             |      PARTITION BY id, sub ORDER BY ld, code) AS rn
             |  FROM (SELECT s.id, s.sub, s.x, c.code,
             |      CAST(list_sum(list_transform(range(1, 17),
             |        i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT) AS ld
             |    FROM subs s JOIN seeds c USING (sub))),
             |asg AS (SELECT id, sub, x, code FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT sub, code, i.i AS pos,
             |    CAST(floor(CAST(sum(x[i.i + 1]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
             |  FROM asg, (SELECT unnest(range(16)) AS i) i
             |  GROUP BY sub, code, i.i),
             |c1 AS (SELECT sub, code, list(mv ORDER BY pos) AS c
             |  FROM upd GROUP BY sub, code),
             |cents AS (
             |  SELECT s.sub, s.code, coalesce(c1.c, s.c) AS c
             |  FROM seeds s LEFT JOIN c1 ON s.sub = c1.sub AND s.code = c1.code),
             |enc AS (
             |  SELECT id, sub, code FROM (
             |    SELECT s.id, s.sub, c.code, row_number() OVER (
             |        PARTITION BY s.id, s.sub ORDER BY
             |        CAST(list_sum(list_transform(range(1, 17),
             |          i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT),
             |        c.code) AS rn
             |    FROM subs s JOIN cents c USING (sub)) WHERE rn = 1),
             |qsubs AS (
             |  SELECT sp.sub, q.vq[sp.sub*16+1 : sp.sub*16+16] AS qx
             |  FROM (SELECT vq FROM vq WHERE id = 0) q, sp),
             |tab AS (
             |  SELECT c.sub, c.code,
             |    CAST(list_sum(list_transform(range(1, 17),
             |      i -> (qs.qx[i] - c.c[i]) * (qs.qx[i] - c.c[i]))) AS BIGINT) AS dist
             |  FROM cents c JOIN qsubs qs USING (sub))
             |SELECT e.id AS vec_id, CAST(sum(t.dist) AS BIGINT) AS adc
             |FROM enc e JOIN tab t ON e.sub = t.sub AND e.code = t.code
             |GROUP BY e.id
             |ORDER BY adc, vec_id LIMIT 10""".stripMargin)),

    // Two-stage PQ serving (s14): ADC shortlist of 25, exact integer
    // squared-L2 re-rank to top-10 — the Jégou et al. §V production
    // pattern (compression error undone for the short list). The
    // oracle replays the whole train→encode→ADC pipeline (the s12
    // text), widens the LIMIT to the candidate count, and re-scores
    // exactly — both stages' tie rules are pinned by id.
    Q("s14_pq_rerank",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val model = graft.operators.Similarity.pqTrain(
          emb, "vec_id", "embedding", m = 4, k = 4, iters = 1)
        val query = emb.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        graft.operators.Similarity
          .pqRerankTopK(emb, "vec_id", "embedding", model, query,
            candidates = 25, kNN = 10)
          .select(col("id").as("vec_id"), col("dist"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |sp AS (SELECT unnest(range(4)) AS sub),
             |subs AS (
             |  SELECT id, sp.sub, vq[sp.sub*16+1 : sp.sub*16+16] AS x
             |  FROM vq, sp),
             |seeds AS (
             |  SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
             |    SELECT sub, x,
             |      row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
             |    FROM subs) WHERE rn <= 4),
             |a1 AS (
             |  SELECT id, sub, x, code, row_number() OVER (
             |      PARTITION BY id, sub ORDER BY ld, code) AS rn
             |  FROM (SELECT s.id, s.sub, s.x, c.code,
             |      CAST(list_sum(list_transform(range(1, 17),
             |        i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT) AS ld
             |    FROM subs s JOIN seeds c USING (sub))),
             |asg AS (SELECT id, sub, x, code FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT sub, code, i.i AS pos,
             |    CAST(floor(CAST(sum(x[i.i + 1]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
             |  FROM asg, (SELECT unnest(range(16)) AS i) i
             |  GROUP BY sub, code, i.i),
             |c1 AS (SELECT sub, code, list(mv ORDER BY pos) AS c
             |  FROM upd GROUP BY sub, code),
             |cents AS (
             |  SELECT s.sub, s.code, coalesce(c1.c, s.c) AS c
             |  FROM seeds s LEFT JOIN c1 ON s.sub = c1.sub AND s.code = c1.code),
             |enc AS (
             |  SELECT id, sub, code FROM (
             |    SELECT s.id, s.sub, c.code, row_number() OVER (
             |        PARTITION BY s.id, s.sub ORDER BY
             |        CAST(list_sum(list_transform(range(1, 17),
             |          i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT),
             |        c.code) AS rn
             |    FROM subs s JOIN cents c USING (sub)) WHERE rn = 1),
             |qsubs AS (
             |  SELECT sp.sub, q.vq[sp.sub*16+1 : sp.sub*16+16] AS qx
             |  FROM (SELECT vq FROM vq WHERE id = 0) q, sp),
             |tab AS (
             |  SELECT c.sub, c.code,
             |    CAST(list_sum(list_transform(range(1, 17),
             |      i -> (qs.qx[i] - c.c[i]) * (qs.qx[i] - c.c[i]))) AS BIGINT) AS dist
             |  FROM cents c JOIN qsubs qs USING (sub)),
             |cand AS (
             |  SELECT e.id, CAST(sum(t.dist) AS BIGINT) AS adc
             |  FROM enc e JOIN tab t ON e.sub = t.sub AND e.code = t.code
             |  GROUP BY e.id
             |  ORDER BY adc, id LIMIT 25)
             |SELECT v.id AS vec_id,
             |  CAST(list_sum(list_transform(range(1, 65),
             |    j -> (v.vq[j] - q.qv[j]) * (v.vq[j] - q.qv[j]))) AS BIGINT)
             |    AS dist
             |FROM vq v JOIN cand c ON v.id = c.id,
             |  (SELECT vq AS qv FROM vq WHERE id = 0) q
             |ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // ---- IVFADC (s17): the COMPOSED billion-scale serving layout
    //      (Jégou et al. TPAMI 2011 §VII — the FAISS IVFADC shape):
    //      IVF cells prune the corpus to the query's 2 nearest cells,
    //      then ADC scores ONLY those cells' members through their PQ
    //      codes (s12's exact-long codebook/LUT). Each parent gate
    //      carries one half of the trick; production ANN runs both at
    //      once. RE-SCOPED round 17 (verdict #3, the q84/m08
    //      precedent): the gate now runs the PINNED-CELL-COUNT rule —
    //      centEvery scales with the corpus so the cell count stays
    //      ~240 (the FAISS sqrt(n)-to-constant guidance), keeping
    //      inline assignment one linear broadcast pass at every SF.
    //      The retired fixed-centEvery fixture (cell count grows with
    //      the corpus ⇒ |corpus|·|cells| quadratic assignment) lives
    //      on as the x_s17_modulo_cells ScaleProbe anti-pattern row.
    //      At the gate SF (500 vectors) the rule floors at
    //      centEvery=25, and the oracle computes the SAME expression
    //      (greatest(25, count/240)), so gate and replay stay locked
    //      at every SF. The oracle composes both parents' replays:
    //      cell assignment + probe, PQ train + encode restricted to
    //      the probed members, LUT sum. ----
    Q("s17_ivf_adc",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        // one bounded driver action prices the production rule (the
        // s19 nProbe-fraction precedent)
        val centEvery = math.max(25L, emb.count() / 240L).toInt
        val model = graft.operators.Similarity.pqTrain(
          emb, "vec_id", "embedding", m = 4, k = 4, iters = 1)
        val query = emb.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        graft.operators.Similarity.ivfAdcTopK(emb, "vec_id", "embedding",
            model, query, kNN = 10, nProbe = 2, centEvery = centEvery)
          .select(col("id").as("vec_id"), col("adc"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings
             |  WHERE vec_id % (SELECT greatest(25, count(*) // 240)
             |                 FROM embeddings) = 0),
             |assign AS (
             |  SELECT n_id, c_id FROM (
             |    SELECT e.vec_id AS n_id, c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |probe AS (
             |  SELECT c_id FROM (
             |    SELECT c_id, row_number() OVER (ORDER BY
             |      round(list_cosine_similarity(
             |        (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
             |         WHERE vec_id = 0), c_emb), 5) DESC, c_id) AS prn
             |    FROM cent)
             |  WHERE prn <= 2),
             |allowed AS (
             |  SELECT n_id AS id FROM assign JOIN probe USING (c_id)),
             |sp AS (SELECT unnest(range(4)) AS sub),
             |subs AS (
             |  SELECT id, sp.sub, vq[sp.sub*16+1 : sp.sub*16+16] AS x
             |  FROM vq, sp),
             |seeds AS (
             |  SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
             |    SELECT sub, x,
             |      row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
             |    FROM subs) WHERE rn <= 4),
             |a1 AS (
             |  SELECT id, sub, x, code, row_number() OVER (
             |      PARTITION BY id, sub ORDER BY ld, code) AS rn
             |  FROM (SELECT s.id, s.sub, s.x, c.code,
             |      CAST(list_sum(list_transform(range(1, 17),
             |        i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT) AS ld
             |    FROM subs s JOIN seeds c USING (sub))),
             |asg AS (SELECT id, sub, x, code FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT sub, code, i.i AS pos,
             |    CAST(floor(CAST(sum(x[i.i + 1]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
             |  FROM asg, (SELECT unnest(range(16)) AS i) i
             |  GROUP BY sub, code, i.i),
             |c1 AS (SELECT sub, code, list(mv ORDER BY pos) AS c
             |  FROM upd GROUP BY sub, code),
             |cents AS (
             |  SELECT s.sub, s.code, coalesce(c1.c, s.c) AS c
             |  FROM seeds s LEFT JOIN c1 ON s.sub = c1.sub AND s.code = c1.code),
             |enc AS (
             |  SELECT id, sub, code FROM (
             |    SELECT s.id, s.sub, c.code, row_number() OVER (
             |        PARTITION BY s.id, s.sub ORDER BY
             |        CAST(list_sum(list_transform(range(1, 17),
             |          i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT),
             |        c.code) AS rn
             |    FROM subs s JOIN cents c USING (sub)
             |    WHERE s.id IN (SELECT id FROM allowed)) WHERE rn = 1),
             |qsubs AS (
             |  SELECT sp.sub, q.vq[sp.sub*16+1 : sp.sub*16+16] AS qx
             |  FROM (SELECT vq FROM vq WHERE id = 0) q, sp),
             |tab AS (
             |  SELECT c.sub, c.code,
             |    CAST(list_sum(list_transform(range(1, 17),
             |      i -> (qs.qx[i] - c.c[i]) * (qs.qx[i] - c.c[i]))) AS BIGINT) AS dist
             |  FROM cents c JOIN qsubs qs USING (sub))
             |SELECT e.id AS vec_id, CAST(sum(t.dist) AS BIGINT) AS adc
             |FROM enc e JOIN tab t ON e.sub = t.sub AND e.code = t.code
             |GROUP BY e.id
             |ORDER BY adc, vec_id LIMIT 10""".stripMargin)),

    // ---- PERSISTED IVFADC layout (s18): s17's build side stored once
    //      — cell-partitioned PQ codes + centroid table + codebook
    //      under the ident-written-last discipline — and served
    //      steady-state: the probe ranks the layout's own centroids,
    //      scans ONLY the probed cells' code partitions (partition
    //      pruning on c_id), and never touches the float corpus or
    //      retrains (the build's codebook argument is by-name and is
    //      not evaluated on an ident hit). Results are identical to
    //      s17 by construction, so the oracle IS s17's composed
    //      replay. ----
    Q("s18_ivf_adc_layout",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val key = Tables.contentKey(s"$dir/embeddings.parquet")
        val layout = graft.Scratch.dir(s"graft_ivfadc_$key")
        graft.operators.Similarity.ivfAdcBuildLayout(
          emb, centEvery = 25, layout, "vec_id", "embedding",
          m = 4, k = 4, quantScale = 1000L)(
          graft.operators.Similarity.pqTrain(
            emb, "vec_id", "embedding", m = 4, k = 4, iters = 1))
        val query = emb.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        graft.operators.Similarity.ivfAdcProbeLayout(
            s, layout, query, kNN = 10, nProbe = 2)
          .select(col("id").as("vec_id"), col("adc"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings WHERE vec_id % 25 = 0),
             |assign AS (
             |  SELECT n_id, c_id FROM (
             |    SELECT e.vec_id AS n_id, c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |probe AS (
             |  SELECT c_id FROM (
             |    SELECT c_id, row_number() OVER (ORDER BY
             |      round(list_cosine_similarity(
             |        (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
             |         WHERE vec_id = 0), c_emb), 5) DESC, c_id) AS prn
             |    FROM cent)
             |  WHERE prn <= 2),
             |allowed AS (
             |  SELECT n_id AS id FROM assign JOIN probe USING (c_id)),
             |sp AS (SELECT unnest(range(4)) AS sub),
             |subs AS (
             |  SELECT id, sp.sub, vq[sp.sub*16+1 : sp.sub*16+16] AS x
             |  FROM vq, sp),
             |seeds AS (
             |  SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
             |    SELECT sub, x,
             |      row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
             |    FROM subs) WHERE rn <= 4),
             |a1 AS (
             |  SELECT id, sub, x, code, row_number() OVER (
             |      PARTITION BY id, sub ORDER BY ld, code) AS rn
             |  FROM (SELECT s.id, s.sub, s.x, c.code,
             |      CAST(list_sum(list_transform(range(1, 17),
             |        i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT) AS ld
             |    FROM subs s JOIN seeds c USING (sub))),
             |asg AS (SELECT id, sub, x, code FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT sub, code, i.i AS pos,
             |    CAST(floor(CAST(sum(x[i.i + 1]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
             |  FROM asg, (SELECT unnest(range(16)) AS i) i
             |  GROUP BY sub, code, i.i),
             |c1 AS (SELECT sub, code, list(mv ORDER BY pos) AS c
             |  FROM upd GROUP BY sub, code),
             |cents AS (
             |  SELECT s.sub, s.code, coalesce(c1.c, s.c) AS c
             |  FROM seeds s LEFT JOIN c1 ON s.sub = c1.sub AND s.code = c1.code),
             |enc AS (
             |  SELECT id, sub, code FROM (
             |    SELECT s.id, s.sub, c.code, row_number() OVER (
             |        PARTITION BY s.id, s.sub ORDER BY
             |        CAST(list_sum(list_transform(range(1, 17),
             |          i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT),
             |        c.code) AS rn
             |    FROM subs s JOIN cents c USING (sub)
             |    WHERE s.id IN (SELECT id FROM allowed)) WHERE rn = 1),
             |qsubs AS (
             |  SELECT sp.sub, q.vq[sp.sub*16+1 : sp.sub*16+16] AS qx
             |  FROM (SELECT vq FROM vq WHERE id = 0) q, sp),
             |tab AS (
             |  SELECT c.sub, c.code,
             |    CAST(list_sum(list_transform(range(1, 17),
             |      i -> (qs.qx[i] - c.c[i]) * (qs.qx[i] - c.c[i]))) AS BIGINT) AS dist
             |  FROM cents c JOIN qsubs qs USING (sub))
             |SELECT e.id AS vec_id, CAST(sum(t.dist) AS BIGINT) AS adc
             |FROM enc e JOIN tab t ON e.sub = t.sub AND e.code = t.code
             |GROUP BY e.id
             |ORDER BY adc, vec_id LIMIT 10""".stripMargin)),

    // ---- LAYOUT-SERVED IVFADC + exact rerank (s21, round 18): s18
    //      serves codes-only from the persisted layout; s20 gates the
    //      recall the rerank lever buys on the INLINE path. This gate
    //      closes the square: the rerank composed into the PERSISTED
    //      serving tier — stage 1 is s18's partition-pruned code probe
    //      widened to the top-20 shortlist, stage 2 fetches ONLY those
    //      20 float rows (broadcast semi-join; at 100 TB an id-bucketed
    //      corpus layout makes the fetch bucket-pruned) and re-scores
    //      with the exact integer squared-L2 at the LAYOUT'S OWN
    //      quantScale (read from the ident — the authoritative scale
    //      the codes were built with). Build shares s18's ident-keyed
    //      layout (content-keyed scratch, warm-up pre-built). The
    //      oracle extends s18's replay with the shortlist + exact
    //      rerank CTEs. ----
    Q("s21_ivf_adc_rerank_layout",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val key = Tables.contentKey(s"$dir/embeddings.parquet")
        val layout = graft.Scratch.dir(s"graft_ivfadc_$key")
        graft.operators.Similarity.ivfAdcBuildLayout(
          emb, centEvery = 25, layout, "vec_id", "embedding",
          m = 4, k = 4, quantScale = 1000L)(
          graft.operators.Similarity.pqTrain(
            emb, "vec_id", "embedding", m = 4, k = 4, iters = 1))
        val query = emb.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        graft.operators.Similarity.ivfAdcRerankProbeLayout(
            s, layout, emb, "vec_id", "embedding", query,
            kNN = 10, nProbe = 2, candidates = 20)
          .select(col("id").as("vec_id"), col("dist"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings WHERE vec_id % 25 = 0),
             |assign AS (
             |  SELECT n_id, c_id FROM (
             |    SELECT e.vec_id AS n_id, c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |probe AS (
             |  SELECT c_id FROM (
             |    SELECT c_id, row_number() OVER (ORDER BY
             |      round(list_cosine_similarity(
             |        (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
             |         WHERE vec_id = 0), c_emb), 5) DESC, c_id) AS prn
             |    FROM cent)
             |  WHERE prn <= 2),
             |allowed AS (
             |  SELECT n_id AS id FROM assign JOIN probe USING (c_id)),
             |sp AS (SELECT unnest(range(4)) AS sub),
             |subs AS (
             |  SELECT id, sp.sub, vq[sp.sub*16+1 : sp.sub*16+16] AS x
             |  FROM vq, sp),
             |seeds AS (
             |  SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
             |    SELECT sub, x,
             |      row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
             |    FROM subs) WHERE rn <= 4),
             |a1 AS (
             |  SELECT id, sub, x, code, row_number() OVER (
             |      PARTITION BY id, sub ORDER BY ld, code) AS rn
             |  FROM (SELECT s.id, s.sub, s.x, c.code,
             |      CAST(list_sum(list_transform(range(1, 17),
             |        i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT) AS ld
             |    FROM subs s JOIN seeds c USING (sub))),
             |asg AS (SELECT id, sub, x, code FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT sub, code, i.i AS pos,
             |    CAST(floor(CAST(sum(x[i.i + 1]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
             |  FROM asg, (SELECT unnest(range(16)) AS i) i
             |  GROUP BY sub, code, i.i),
             |c1 AS (SELECT sub, code, list(mv ORDER BY pos) AS c
             |  FROM upd GROUP BY sub, code),
             |cents AS (
             |  SELECT s.sub, s.code, coalesce(c1.c, s.c) AS c
             |  FROM seeds s LEFT JOIN c1 ON s.sub = c1.sub AND s.code = c1.code),
             |enc AS (
             |  SELECT id, sub, code FROM (
             |    SELECT s.id, s.sub, c.code, row_number() OVER (
             |        PARTITION BY s.id, s.sub ORDER BY
             |        CAST(list_sum(list_transform(range(1, 17),
             |          i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT),
             |        c.code) AS rn
             |    FROM subs s JOIN cents c USING (sub)
             |    WHERE s.id IN (SELECT id FROM allowed)) WHERE rn = 1),
             |qsubs AS (
             |  SELECT sp.sub, q.vq[sp.sub*16+1 : sp.sub*16+16] AS qx
             |  FROM (SELECT vq FROM vq WHERE id = 0) q, sp),
             |tab AS (
             |  SELECT c.sub, c.code,
             |    CAST(list_sum(list_transform(range(1, 17),
             |      i -> (qs.qx[i] - c.c[i]) * (qs.qx[i] - c.c[i]))) AS BIGINT) AS dist
             |  FROM cents c JOIN qsubs qs USING (sub)),
             |adc AS (
             |  SELECT e.id, CAST(sum(t.dist) AS BIGINT) AS adc
             |  FROM enc e JOIN tab t ON e.sub = t.sub AND e.code = t.code
             |  GROUP BY e.id),
             |short AS (SELECT id FROM adc ORDER BY adc, id LIMIT 20)
             |SELECT v.id AS vec_id,
             |  CAST(list_sum(list_transform(range(1, 65),
             |    j -> (v.vq[j] - q.vq[j]) * (v.vq[j] - q.vq[j])))
             |    AS BIGINT) AS dist
             |FROM short s JOIN vq v ON v.id = s.id,
             |     (SELECT vq FROM vq WHERE id = 0) q
             |ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // ---- IVFADC layout APPEND (s24, round 18): the ADC serving tier's
    //      daily-ingest path — plain IVF had one (s08), the compressed
    //      layout did not, so any batch forced a full-corpus rebuild.
    //      ivfAdcAppendToLayout assigns the batch against the layout's
    //      OWN centroids and encodes with its FROZEN codebook (read
    //      back from _pqmodel — cell AND code geometry are build-time
    //      artifacts, the standard IVFADC contract), appending only
    //      (c_id, id, codes) rows; the existing corpus is never read.
    //      Same sentinel crash discipline as the IVF append. The gate
    //      runs the FULL maintenance cycle per invocation (build base
    //      vec_id<400, append the rest — the extended ident mismatches
    //      the base ident so reps rebuild, the s08 pattern) and probes
    //      with an APPENDED vector's own query: its self-hit in the
    //      results is existence proof the appended codes are probed.
    //      The oracle replays training on the BASE only, then encodes
    //      and serves base+batch through the frozen geometry. ----
    Q("s24_ivf_adc_append",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        val key = Tables.contentKey(s"$dir/embeddings.parquet")
        val layout = graft.Scratch.dir(s"graft_ivfadc_append_$key")
        val base = emb.filter($"vec_id" < 400)
        graft.operators.Similarity.ivfAdcBuildLayout(
          base, centEvery = 25, layout, "vec_id", "embedding",
          m = 4, k = 4, quantScale = 1000L)(
          graft.operators.Similarity.pqTrain(
            base, "vec_id", "embedding", m = 4, k = 4, iters = 1))
        graft.operators.Similarity.ivfAdcAppendToLayout(
          emb.filter($"vec_id" >= 400), layout)
        val query = emb.filter($"vec_id" === 450L)
          .select($"embedding".cast("array<double>"))
          .head().getSeq[Double](0)
        graft.operators.Similarity.ivfAdcProbeLayout(
            s, layout, query, kNN = 10, nProbe = 2)
          .select(col("id").as("vec_id"), col("adc"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 400),
             |assign AS (
             |  SELECT n_id, c_id FROM (
             |    SELECT e.vec_id AS n_id, c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |probe AS (
             |  SELECT c_id FROM (
             |    SELECT c_id, row_number() OVER (ORDER BY
             |      round(list_cosine_similarity(
             |        (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
             |         WHERE vec_id = 450), c_emb), 5) DESC, c_id) AS prn
             |    FROM cent)
             |  WHERE prn <= 2),
             |allowed AS (
             |  SELECT n_id AS id FROM assign JOIN probe USING (c_id)),
             |sp AS (SELECT unnest(range(4)) AS sub),
             |subs AS (
             |  SELECT id, sp.sub, vq[sp.sub*16+1 : sp.sub*16+16] AS x
             |  FROM vq, sp),
             |bsubs AS (SELECT * FROM subs WHERE id < 400),
             |seeds AS (
             |  SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
             |    SELECT sub, x,
             |      row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
             |    FROM bsubs) WHERE rn <= 4),
             |a1 AS (
             |  SELECT id, sub, x, code, row_number() OVER (
             |      PARTITION BY id, sub ORDER BY ld, code) AS rn
             |  FROM (SELECT s.id, s.sub, s.x, c.code,
             |      CAST(list_sum(list_transform(range(1, 17),
             |        i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT) AS ld
             |    FROM bsubs s JOIN seeds c USING (sub))),
             |asg AS (SELECT id, sub, x, code FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT sub, code, i.i AS pos,
             |    CAST(floor(CAST(sum(x[i.i + 1]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
             |  FROM asg, (SELECT unnest(range(16)) AS i) i
             |  GROUP BY sub, code, i.i),
             |c1 AS (SELECT sub, code, list(mv ORDER BY pos) AS c
             |  FROM upd GROUP BY sub, code),
             |cents AS (
             |  SELECT s.sub, s.code, coalesce(c1.c, s.c) AS c
             |  FROM seeds s LEFT JOIN c1 ON s.sub = c1.sub AND s.code = c1.code),
             |enc AS (
             |  SELECT id, sub, code FROM (
             |    SELECT s.id, s.sub, c.code, row_number() OVER (
             |        PARTITION BY s.id, s.sub ORDER BY
             |        CAST(list_sum(list_transform(range(1, 17),
             |          i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT),
             |        c.code) AS rn
             |    FROM subs s JOIN cents c USING (sub)
             |    WHERE s.id IN (SELECT id FROM allowed)) WHERE rn = 1),
             |qsubs AS (
             |  SELECT sp.sub, q.vq[sp.sub*16+1 : sp.sub*16+16] AS qx
             |  FROM (SELECT vq FROM vq WHERE id = 450) q, sp),
             |tab AS (
             |  SELECT c.sub, c.code,
             |    CAST(list_sum(list_transform(range(1, 17),
             |      i -> (qs.qx[i] - c.c[i]) * (qs.qx[i] - c.c[i]))) AS BIGINT) AS dist
             |  FROM cents c JOIN qsubs qs USING (sub))
             |SELECT e.id AS vec_id, CAST(sum(t.dist) AS BIGINT) AS adc
             |FROM enc e JOIN tab t ON e.sub = t.sub AND e.code = t.code
             |GROUP BY e.id
             |ORDER BY adc, vec_id LIMIT 10""".stripMargin)),

    // ---- TRAINED-COARSE IVFADC LAYOUT (s25, round 19, r18 verdict
    //      #1): s22 proved the Lloyd-trained coarse quantizer is
    //      oracle-replayable and s23 proved trained cells never lose
    //      recall vs modulo — but the production ADC tier still seeded
    //      its layout with modulo cells. This gate builds the PERSISTED
    //      IVFADC layout on the s22 trained cells end-to-end
    //      (trainedIters = 1; ident stamps `coarse=trainedExact:1` so a
    //      kind switch rebuilds, never ident-hits) and serves the s21
    //      rerank probe from it. The bridge is exact dequantization:
    //      each trained component is an exact integer / 1000.0, so the
    //      double centroid table is engine-identical and the UNCHANGED
    //      cosine serving stack (cell rank, assignment, ADC, exact
    //      rerank) stays hash-replayable. The oracle is s21's replay
    //      with its modulo `cent` CTE swapped for the s22 Lloyd CTEs
    //      (assignment, floor-mean update, empty-cell carry,
    //      dequantize). ----
    Q("s25_ivf_adc_trained_layout",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val key = Tables.contentKey(s"$dir/embeddings.parquet")
        val layout = graft.Scratch.dir(s"graft_ivfadc_tr_$key")
        graft.operators.Similarity.ivfAdcBuildLayout(
          emb, centEvery = 25, layout, "vec_id", "embedding",
          m = 4, k = 4, quantScale = 1000L, trainedIters = 1)(
          graft.operators.Similarity.pqTrain(
            emb, "vec_id", "embedding", m = 4, k = 4, iters = 1))
        val query = emb.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        graft.operators.Similarity.ivfAdcRerankProbeLayout(
            s, layout, emb, "vec_id", "embedding", query,
            kNN = 10, nProbe = 2, candidates = 20)
          .select(col("id").as("vec_id"), col("dist"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |seeds0 AS (SELECT id AS c_id, vq AS c FROM vq WHERE id % 25 = 0),
             |la1 AS (
             |  SELECT v.id, s.c_id, row_number() OVER (PARTITION BY v.id
             |    ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |      j -> (v.vq[j] - s.c[j]) * (v.vq[j] - s.c[j]))) AS BIGINT),
             |      s.c_id) AS rn
             |  FROM vq v CROSS JOIN seeds0 s),
             |lasg AS (SELECT id, c_id FROM la1 WHERE rn = 1),
             |lupd AS (
             |  SELECT a.c_id, i.i AS pos,
             |    CAST(floor(CAST(sum(v.vq[i.i + 1]) AS DOUBLE) / count(*))
             |      AS BIGINT) AS mv
             |  FROM lasg a JOIN vq v USING (id),
             |       (SELECT unnest(range(64)) AS i) i
             |  GROUP BY a.c_id, i.i),
             |tcent AS (
             |  SELECT s.c_id, coalesce(t.c, s.c) AS c
             |  FROM seeds0 s LEFT JOIN (
             |    SELECT c_id, list(mv ORDER BY pos) AS c
             |    FROM lupd GROUP BY c_id) t USING (c_id)),
             |cent AS (
             |  SELECT c_id,
             |    list_transform(c, v -> CAST(v AS DOUBLE) / 1000.0) AS c_emb
             |  FROM tcent),
             |assign AS (
             |  SELECT n_id, c_id FROM (
             |    SELECT e.vec_id AS n_id, c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |probe AS (
             |  SELECT c_id FROM (
             |    SELECT c_id, row_number() OVER (ORDER BY
             |      round(list_cosine_similarity(
             |        (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
             |         WHERE vec_id = 0), c_emb), 5) DESC, c_id) AS prn
             |    FROM cent)
             |  WHERE prn <= 2),
             |allowed AS (
             |  SELECT n_id AS id FROM assign JOIN probe USING (c_id)),
             |sp AS (SELECT unnest(range(4)) AS sub),
             |subs AS (
             |  SELECT id, sp.sub, vq[sp.sub*16+1 : sp.sub*16+16] AS x
             |  FROM vq, sp),
             |seeds AS (
             |  SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
             |    SELECT sub, x,
             |      row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
             |    FROM subs) WHERE rn <= 4),
             |a1 AS (
             |  SELECT id, sub, x, code, row_number() OVER (
             |      PARTITION BY id, sub ORDER BY ld, code) AS rn
             |  FROM (SELECT s.id, s.sub, s.x, c.code,
             |      CAST(list_sum(list_transform(range(1, 17),
             |        i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT) AS ld
             |    FROM subs s JOIN seeds c USING (sub))),
             |asg AS (SELECT id, sub, x, code FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT sub, code, i.i AS pos,
             |    CAST(floor(CAST(sum(x[i.i + 1]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
             |  FROM asg, (SELECT unnest(range(16)) AS i) i
             |  GROUP BY sub, code, i.i),
             |c1 AS (SELECT sub, code, list(mv ORDER BY pos) AS c
             |  FROM upd GROUP BY sub, code),
             |cents AS (
             |  SELECT s.sub, s.code, coalesce(c1.c, s.c) AS c
             |  FROM seeds s LEFT JOIN c1 ON s.sub = c1.sub AND s.code = c1.code),
             |enc AS (
             |  SELECT id, sub, code FROM (
             |    SELECT s.id, s.sub, c.code, row_number() OVER (
             |        PARTITION BY s.id, s.sub ORDER BY
             |        CAST(list_sum(list_transform(range(1, 17),
             |          i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT),
             |        c.code) AS rn
             |    FROM subs s JOIN cents c USING (sub)
             |    WHERE s.id IN (SELECT id FROM allowed)) WHERE rn = 1),
             |qsubs AS (
             |  SELECT sp.sub, q.vq[sp.sub*16+1 : sp.sub*16+16] AS qx
             |  FROM (SELECT vq FROM vq WHERE id = 0) q, sp),
             |tab AS (
             |  SELECT c.sub, c.code,
             |    CAST(list_sum(list_transform(range(1, 17),
             |      i -> (qs.qx[i] - c.c[i]) * (qs.qx[i] - c.c[i]))) AS BIGINT) AS dist
             |  FROM cents c JOIN qsubs qs USING (sub)),
             |adc AS (
             |  SELECT e.id, CAST(sum(t.dist) AS BIGINT) AS adc
             |  FROM enc e JOIN tab t ON e.sub = t.sub AND e.code = t.code
             |  GROUP BY e.id),
             |short AS (SELECT id FROM adc ORDER BY adc, id LIMIT 20)
             |SELECT v.id AS vec_id,
             |  CAST(list_sum(list_transform(range(1, 65),
             |    j -> (v.vq[j] - q.vq[j]) * (v.vq[j] - q.vq[j])))
             |    AS BIGINT) AS dist
             |FROM short s JOIN vq v ON v.id = s.id,
             |     (SELECT vq FROM vq WHERE id = 0) q
             |ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // ---- ENGINE-EXACT trained IVF cells (s22, round 18): the one
    //      production recall lever that was never DuckDB-oracled.
    //      ivfCentroidsTrained (the production default) trains on raw
    //      double cosine + double means — last-ulp-free in no engine,
    //      so it stayed spec-gated. ivfCentroidsTrainedExact applies
    //      the pqTrain determinism discipline at the coarse level:
    //      quantized-long vectors, exact integer squared-L2 assignment
    //      (the FAISS IVF default coarse metric, ties to the smallest
    //      cell id) through the codegen'd sq_dist_ll kernel, and
    //      floor(sum/count) centroid updates over exact integer sums —
    //      so the TRAINED TABLE ITSELF is replayable: the oracle runs
    //      the same Lloyd iteration in SQL (assignment CTE, per-dim
    //      floor-mean update, empty-cell carry, member counts) and the
    //      gate hash-compares all |cells|·d centroid components plus
    //      per-cell membership. One corpus pass per iteration
    //      (broadcast centroids, ObjectHashAggregate argmin carry);
    //      the corpus never shuffles. ----
    Q("s22_ivf_trained_cells_exact",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        graft.operators.Similarity.ivfCentroidsTrainedExact(
            emb, centEvery = 25, iters = 1)
          .select(col("c_id"), col("members"),
            posexplode(col("c_vq")).as(Seq("pos", "cv")))
          .select(col("c_id"), col("members"),
            col("pos").cast("long").as("pos"), col("cv"))
          .orderBy(col("c_id"), col("pos"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |seeds AS (SELECT id AS c_id, vq AS c FROM vq WHERE id % 25 = 0),
             |a1 AS (
             |  SELECT v.id, s.c_id, row_number() OVER (PARTITION BY v.id
             |    ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |      j -> (v.vq[j] - s.c[j]) * (v.vq[j] - s.c[j]))) AS BIGINT),
             |      s.c_id) AS rn
             |  FROM vq v CROSS JOIN seeds s),
             |asg AS (SELECT id, c_id FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT a.c_id, i.i AS pos,
             |    CAST(floor(CAST(sum(v.vq[i.i + 1]) AS DOUBLE) / count(*))
             |      AS BIGINT) AS mv
             |  FROM asg a JOIN vq v USING (id),
             |       (SELECT unnest(range(64)) AS i) i
             |  GROUP BY a.c_id, i.i),
             |mem AS (SELECT c_id, count(*) AS members FROM asg GROUP BY c_id),
             |pos AS (SELECT unnest(range(64)) AS pos)
             |SELECT s.c_id, CAST(coalesce(m.members, 0) AS BIGINT) AS members,
             |  p.pos, coalesce(u.mv, s.c[p.pos + 1]) AS cv
             |FROM seeds s CROSS JOIN pos p
             |LEFT JOIN upd u ON u.c_id = s.c_id AND u.pos = p.pos
             |LEFT JOIN mem m ON m.c_id = s.c_id
             |ORDER BY s.c_id, p.pos""".stripMargin)),

    // ---- What training BUYS, oracle-gated (s23, round 18): recall@10
    //      of the exact-L2 IVF serving path under MODULO seeds vs the
    //      s22 TRAINED cells — same corpus, same queries, same
    //      fraction-pinned nProbe, everything integer-exact end to end,
    //      so both recall columns are engine-exact CONTRACT, not a
    //      spec-level aggregate claim. Measured: at sf0.01 one Lloyd
    //      iteration barely moves the 20 centroids and recall ties
    //      (.8/.4/.6 both); at sf0.1 training buys +0.2 recall on two
    //      of three queries (q1 .6->.8, q2 .2->.4) and never loses —
    //      the per-query `b_not_worse` contract the gate asserts. The
    //      oracle replays BOTH serving stacks: the s22 Lloyd iteration,
    //      both assignments, both fraction-pinned probes, both in-cell
    //      exact top-10s, and the recall join. ----
    Q("s23_ivf_trained_vs_modulo_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val seeds = emb.filter(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("c_id"),
            expr("transform(embedding, x -> " +
              "cast(round(cast(x as double) * 1000.0) as bigint))")
              .as("c_vq"))
        val trained = graft.operators.Similarity.ivfCentroidsTrainedExact(
            emb, centEvery = 25, iters = 1)
          .select(col("c_id"), col("c_vq"))
        val nCells = emb.filter(col("vec_id") % 25 === 0).count()
        graft.operators.Similarity.ivfL2RecallCompare(emb, seeds, trained,
            Seq(0L, 1L, 2L), k = 10,
            nProbe = math.max(4L, nCells / 6).toInt)
          .orderBy(col("q_id"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |qset AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS q_id),
             |qvq AS (
             |  SELECT q.q_id, v.vq AS qv FROM qset q JOIN vq v ON v.id = q.q_id),
             |seeds AS (SELECT id AS c_id, vq AS c FROM vq WHERE id % 25 = 0),
             |a1 AS (
             |  SELECT v.id, s.c_id, row_number() OVER (PARTITION BY v.id
             |    ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |      j -> (v.vq[j] - s.c[j]) * (v.vq[j] - s.c[j]))) AS BIGINT),
             |      s.c_id) AS rn
             |  FROM vq v CROSS JOIN seeds s),
             |asg AS (SELECT id, c_id FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT a.c_id, i.i AS pos,
             |    CAST(floor(CAST(sum(v.vq[i.i + 1]) AS DOUBLE) / count(*))
             |      AS BIGINT) AS mv
             |  FROM asg a JOIN vq v USING (id),
             |       (SELECT unnest(range(64)) AS i) i
             |  GROUP BY a.c_id, i.i),
             |trained AS (
             |  SELECT s.c_id, coalesce(t.c, s.c) AS c
             |  FROM seeds s LEFT JOIN (
             |    SELECT c_id, list(mv ORDER BY pos) AS c
             |    FROM upd GROUP BY c_id) t USING (c_id)),
             |np AS (SELECT greatest(4, count(*) // 6) AS n FROM seeds),
             |probe_a AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT qq.q_id, s.c_id, row_number() OVER (PARTITION BY qq.q_id
             |      ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |        j -> (qq.qv[j] - s.c[j]) * (qq.qv[j] - s.c[j]))) AS BIGINT),
             |        s.c_id) AS prn
             |    FROM qvq qq CROSS JOIN seeds s)
             |  WHERE prn <= (SELECT n FROM np)),
             |probe_b AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT qq.q_id, t.c_id, row_number() OVER (PARTITION BY qq.q_id
             |      ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |        j -> (qq.qv[j] - t.c[j]) * (qq.qv[j] - t.c[j]))) AS BIGINT),
             |        t.c_id) AS prn
             |    FROM qvq qq CROSS JOIN trained t)
             |  WHERE prn <= (SELECT n FROM np)),
             |asg_b1 AS (
             |  SELECT v.id, t.c_id, row_number() OVER (PARTITION BY v.id
             |    ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |      j -> (v.vq[j] - t.c[j]) * (v.vq[j] - t.c[j]))) AS BIGINT),
             |      t.c_id) AS rn
             |  FROM vq v CROSS JOIN trained t),
             |asg_b AS (SELECT id, c_id FROM asg_b1 WHERE rn = 1),
             |approx_a AS (
             |  SELECT q_id, id FROM (
             |    SELECT p.q_id, a.id, row_number() OVER (PARTITION BY p.q_id
             |      ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |        j -> (v.vq[j] - qq.qv[j]) * (v.vq[j] - qq.qv[j])))
             |        AS BIGINT), a.id) AS rn
             |    FROM asg a JOIN probe_a p USING (c_id)
             |    JOIN vq v ON v.id = a.id JOIN qvq qq ON qq.q_id = p.q_id)
             |  WHERE rn <= 10),
             |approx_b AS (
             |  SELECT q_id, id FROM (
             |    SELECT p.q_id, a.id, row_number() OVER (PARTITION BY p.q_id
             |      ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |        j -> (v.vq[j] - qq.qv[j]) * (v.vq[j] - qq.qv[j])))
             |        AS BIGINT), a.id) AS rn
             |    FROM asg_b a JOIN probe_b p USING (c_id)
             |    JOIN vq v ON v.id = a.id JOIN qvq qq ON qq.q_id = p.q_id)
             |  WHERE rn <= 10),
             |exact AS (
             |  SELECT q_id, id FROM (
             |    SELECT qq.q_id, v.id, row_number() OVER (PARTITION BY qq.q_id
             |      ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |        j -> (v.vq[j] - qq.qv[j]) * (v.vq[j] - qq.qv[j]))) AS BIGINT),
             |      v.id) AS rn
             |    FROM vq v CROSS JOIN qvq qq)
             |  WHERE rn <= 10)
             |SELECT x.q_id, count(*) AS n_exact,
             |  CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS hits_a,
             |  CAST(sum(CASE WHEN b.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS hits_b,
             |  round(CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall_a,
             |  round(CAST(sum(CASE WHEN b.id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall_b,
             |  CAST(sum(CASE WHEN b.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    >= CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS b_not_worse
             |FROM exact x
             |LEFT JOIN approx_a a ON x.q_id = a.q_id AND x.id = a.id
             |LEFT JOIN approx_b b ON x.q_id = b.q_id AND x.id = b.id
             |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin)),

    // ---- IVFADC end-to-end recall@k (s19): the acceptance gate the
    //      quantized serving path was missing — s16 gates IVF recall,
    //      but IVFADC stacks PQ code distortion ON TOP of cell pruning
    //      and shipped recall-ungated (round-15 directive #5). Ground
    //      truth = exact quantized squared-L2 top-10 over the FULL
    //      corpus (the metric ADC estimates); approx = ivfAdcTopK;
    //      three eval queries; meets_floor asserts recall >= 0.2 as
    //      CONTRACT per query. The floor is the measured operating
    //      point of this oracle-replayable config on THIS corpus: the
    //      synthetic embeddings are near-uniform (no cluster structure
    //      for PQ to exploit), so measured recall@10 sits at 0.3-0.5
    //      across config sweeps (m 4->8, k 4->16, nProbe 2->12 each
    //      moved it little — code distortion dominates, the known PQ
    //      behavior on random data) and the gate pins the REGRESSION
    //      bar, the ann-benchmarks stance: a change that drops any
    //      query below 0.2 fails the gate (measured margin at the
    //      gated scale: 0.3-0.5; at sf0.1 the same fraction-pinned
    //      config measures 0.2-0.3 — ADC distractor mass grows with
    //      the corpus, the honest fixed-code-budget behavior). Production recall levers
    //      are gated separately: exact rerank of the ADC shortlist
    //      (pqRerankTopK, s12 family) and trained cells
    //      (ivfCentroidsTrained). The oracle composes s17's replay
    //      (parameterized over the query set) with the brute-force
    //      exact side and counts id-set overlap. ----
    Q("s19_ivf_adc_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        // the best MEASURED config of the sweep (m=8, k=16), served as
        // the eval target; s17/s18 keep the coarser config their own
        // oracles replay. nProbe is pinned as a FRACTION of the cell
        // count (1/6, floor 4) rather than a constant: a fixed nProbe
        // probes an ever-thinner corpus slice as the corpus grows and
        // recall silently decays with SF — the fraction keeps the
        // probed share (and so the recall operating point) stable
        // across scales, which is what a production config pins. One
        // bounded driver action (the cell count) prices it.
        val model = graft.operators.Similarity.pqTrain(
          emb, "vec_id", "embedding", m = 8, k = 16, iters = 1)
        val nCells = emb.filter(col("vec_id") % 25 === 0).count()
        graft.operators.Similarity.ivfAdcRecallAtK(emb, Seq(0L, 1L, 2L),
            k = 10, nProbe = math.max(4L, nCells / 6).toInt,
            centEvery = 25, model, recallFloor = 0.2)
          .orderBy(col("q_id"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |qset AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS q_id),
             |cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings WHERE vec_id % 25 = 0),
             |assign AS (
             |  SELECT n_id, c_id FROM (
             |    SELECT e.vec_id AS n_id, c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |qembd AS (
             |  SELECT q.q_id, CAST(e.embedding AS DOUBLE[]) AS qd
             |  FROM qset q JOIN embeddings e ON e.vec_id = q.q_id),
             |qvq AS (
             |  SELECT q.q_id, v.vq AS qv FROM qset q JOIN vq v ON v.id = q.q_id),
             |probe AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT qe.q_id, c.c_id, row_number() OVER (PARTITION BY qe.q_id
             |      ORDER BY round(list_cosine_similarity(qe.qd, c.c_emb), 5) DESC,
             |      c.c_id) AS prn
             |    FROM qembd qe CROSS JOIN cent c)
             |  WHERE prn <= greatest(4, (SELECT count(*) FROM cent) // 6)),
             |allowed AS (
             |  SELECT p.q_id, a.n_id AS id FROM assign a JOIN probe p USING (c_id)),
             |sp AS (SELECT unnest(range(8)) AS sub),
             |subs AS (
             |  SELECT id, sp.sub, vq[sp.sub*8+1 : sp.sub*8+8] AS x
             |  FROM vq, sp),
             |seeds AS (
             |  SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
             |    SELECT sub, x,
             |      row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
             |    FROM subs) WHERE rn <= 16),
             |a1 AS (
             |  SELECT id, sub, x, code, row_number() OVER (
             |      PARTITION BY id, sub ORDER BY ld, code) AS rn
             |  FROM (SELECT s.id, s.sub, s.x, c.code,
             |      CAST(list_sum(list_transform(range(1, 9),
             |        i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT) AS ld
             |    FROM subs s JOIN seeds c USING (sub))),
             |asg AS (SELECT id, sub, x, code FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT sub, code, i.i AS pos,
             |    CAST(floor(CAST(sum(x[i.i + 1]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
             |  FROM asg, (SELECT unnest(range(8)) AS i) i
             |  GROUP BY sub, code, i.i),
             |c1 AS (SELECT sub, code, list(mv ORDER BY pos) AS c
             |  FROM upd GROUP BY sub, code),
             |cents AS (
             |  SELECT s.sub, s.code, coalesce(c1.c, s.c) AS c
             |  FROM seeds s LEFT JOIN c1 ON s.sub = c1.sub AND s.code = c1.code),
             |enc AS (
             |  SELECT id, sub, code FROM (
             |    SELECT s.id, s.sub, c.code, row_number() OVER (
             |        PARTITION BY s.id, s.sub ORDER BY
             |        CAST(list_sum(list_transform(range(1, 9),
             |          i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT),
             |        c.code) AS rn
             |    FROM subs s JOIN cents c USING (sub)) WHERE rn = 1),
             |qsubs AS (
             |  SELECT qv.q_id, sp.sub, qv.qv[sp.sub*8+1 : sp.sub*8+8] AS qx
             |  FROM qvq qv, sp),
             |tab AS (
             |  SELECT qs.q_id, c.sub, c.code,
             |    CAST(list_sum(list_transform(range(1, 9),
             |      i -> (qs.qx[i] - c.c[i]) * (qs.qx[i] - c.c[i]))) AS BIGINT) AS dist
             |  FROM cents c JOIN qsubs qs ON c.sub = qs.sub),
             |adc AS (
             |  SELECT al.q_id, e.id, CAST(sum(t.dist) AS BIGINT) AS adc
             |  FROM enc e JOIN allowed al ON e.id = al.id
             |  JOIN tab t ON t.q_id = al.q_id AND t.sub = e.sub AND t.code = e.code
             |  GROUP BY al.q_id, e.id),
             |approx AS (
             |  SELECT q_id, id FROM (
             |    SELECT q_id, id, row_number() OVER (PARTITION BY q_id
             |      ORDER BY adc, id) AS rn FROM adc)
             |  WHERE rn <= 10),
             |exact AS (
             |  SELECT q_id, id FROM (
             |    SELECT qv.q_id, v.id, row_number() OVER (PARTITION BY qv.q_id
             |      ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |        j -> (v.vq[j] - qv.qv[j]) * (v.vq[j] - qv.qv[j]))) AS BIGINT),
             |      v.id) AS rn
             |    FROM vq v CROSS JOIN qvq qv)
             |  WHERE rn <= 10)
             |SELECT x.q_id, count(*) AS n_exact,
             |  CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_hit,
             |  round(CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall,
             |  round(CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) >= 0.2 AS meets_floor
             |FROM exact x LEFT JOIN approx a ON x.q_id = a.q_id AND x.id = a.id
             |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin)),

    // ---- IVFADC recall with the PRODUCTION DIALS composed (s20,
    //      round-17 verdict #1): s19's measured curve sits AT the 0.2
    //      floor at sf0.1 — zero margin, organically declining with
    //      scale. The directive proposed composing exact rerank alone
    //      at the same cells/6 probe fraction; MEASURED, that cannot
    //      reach 0.4 — the rerank-only CEILING (shortlist = all probed
    //      members) for query 2 at sf0.1 is 0.2 because CELL PRUNING,
    //      not code distortion, binds it (only 2 of its exact top-10
    //      live in its cells/6 probe set). So this gate composes BOTH
    //      standard IVF dials, exactly the FAISS tuning recipe (raise
    //      nprobe until the cell-recall ceiling clears, add exact
    //      refine — IndexRefineFlat / TPAMI'11 §V — to undo code
    //      distortion under it):
    //        nProbe  = max(8, cells/3)  (fraction-pinned, 2x s19)
    //        rerank  = exact quantized-L2 over the ADC top-100
    //      Floor 0.4 per query, with measured margin. The decomposition
    //      is the evidence (sf0.01 | sf0.1 per-query recall@10):
    //        s19 base (cells/6, ADC@10):   .5/.3/.3 | .3/.3/.2
    //        deeper probe alone (cells/3): .3/.3/.3 | .3/.5/.3
    //        rerank alone (cells/6, 50):   .8/.4/.6 | .8/.5/.2  <- q2 capped
    //        BOTH (this gate):             .9/.5/.8 | .9/.7/.6
    //      Neither lever alone clears 0.4 everywhere; composed, min
    //      recall is 0.5 (sf0.01) / 0.6 (sf0.1) — and it RISES with SF.
    //      Serving cost: the probe set doubles (still nProbe/|cells| of
    //      the corpus, scanned through m-byte codes) and the rerank
    //      adds ONE <=100-row exact pass over a broadcast semi-join —
    //      shortlist-bounded, corpus-free. The oracle replays probe +
    //      shortlist + exact rerank in SQL on top of s19's replay. ----
    Q("s20_ivf_adc_rerank_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val model = graft.operators.Similarity.pqTrain(
          emb, "vec_id", "embedding", m = 8, k = 16, iters = 1)
        val nCells = emb.filter(col("vec_id") % 25 === 0).count()
        graft.operators.Similarity.ivfAdcRecallAtK(emb, Seq(0L, 1L, 2L),
            k = 10, nProbe = math.max(8L, nCells / 3).toInt,
            centEvery = 25, model, recallFloor = 0.4,
            rerankCandidates = 100)
          .orderBy(col("q_id"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |qset AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS q_id),
             |cent AS (
             |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
             |  FROM embeddings WHERE vec_id % 25 = 0),
             |assign AS (
             |  SELECT n_id, c_id FROM (
             |    SELECT e.vec_id AS n_id, c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |qembd AS (
             |  SELECT q.q_id, CAST(e.embedding AS DOUBLE[]) AS qd
             |  FROM qset q JOIN embeddings e ON e.vec_id = q.q_id),
             |qvq AS (
             |  SELECT q.q_id, v.vq AS qv FROM qset q JOIN vq v ON v.id = q.q_id),
             |probe AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT qe.q_id, c.c_id, row_number() OVER (PARTITION BY qe.q_id
             |      ORDER BY round(list_cosine_similarity(qe.qd, c.c_emb), 5) DESC,
             |      c.c_id) AS prn
             |    FROM qembd qe CROSS JOIN cent c)
             |  WHERE prn <= greatest(8, (SELECT count(*) FROM cent) // 3)),
             |allowed AS (
             |  SELECT p.q_id, a.n_id AS id FROM assign a JOIN probe p USING (c_id)),
             |sp AS (SELECT unnest(range(8)) AS sub),
             |subs AS (
             |  SELECT id, sp.sub, vq[sp.sub*8+1 : sp.sub*8+8] AS x
             |  FROM vq, sp),
             |seeds AS (
             |  SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
             |    SELECT sub, x,
             |      row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
             |    FROM subs) WHERE rn <= 16),
             |a1 AS (
             |  SELECT id, sub, x, code, row_number() OVER (
             |      PARTITION BY id, sub ORDER BY ld, code) AS rn
             |  FROM (SELECT s.id, s.sub, s.x, c.code,
             |      CAST(list_sum(list_transform(range(1, 9),
             |        i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT) AS ld
             |    FROM subs s JOIN seeds c USING (sub))),
             |asg AS (SELECT id, sub, x, code FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT sub, code, i.i AS pos,
             |    CAST(floor(CAST(sum(x[i.i + 1]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
             |  FROM asg, (SELECT unnest(range(8)) AS i) i
             |  GROUP BY sub, code, i.i),
             |c1 AS (SELECT sub, code, list(mv ORDER BY pos) AS c
             |  FROM upd GROUP BY sub, code),
             |cents AS (
             |  SELECT s.sub, s.code, coalesce(c1.c, s.c) AS c
             |  FROM seeds s LEFT JOIN c1 ON s.sub = c1.sub AND s.code = c1.code),
             |enc AS (
             |  SELECT id, sub, code FROM (
             |    SELECT s.id, s.sub, c.code, row_number() OVER (
             |        PARTITION BY s.id, s.sub ORDER BY
             |        CAST(list_sum(list_transform(range(1, 9),
             |          i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT),
             |        c.code) AS rn
             |    FROM subs s JOIN cents c USING (sub)) WHERE rn = 1),
             |qsubs AS (
             |  SELECT qv.q_id, sp.sub, qv.qv[sp.sub*8+1 : sp.sub*8+8] AS qx
             |  FROM qvq qv, sp),
             |tab AS (
             |  SELECT qs.q_id, c.sub, c.code,
             |    CAST(list_sum(list_transform(range(1, 9),
             |      i -> (qs.qx[i] - c.c[i]) * (qs.qx[i] - c.c[i]))) AS BIGINT) AS dist
             |  FROM cents c JOIN qsubs qs ON c.sub = qs.sub),
             |adc AS (
             |  SELECT al.q_id, e.id, CAST(sum(t.dist) AS BIGINT) AS adc
             |  FROM enc e JOIN allowed al ON e.id = al.id
             |  JOIN tab t ON t.q_id = al.q_id AND t.sub = e.sub AND t.code = e.code
             |  GROUP BY al.q_id, e.id),
             |short AS (
             |  SELECT q_id, id FROM (
             |    SELECT q_id, id, row_number() OVER (PARTITION BY q_id
             |      ORDER BY adc, id) AS rn FROM adc)
             |  WHERE rn <= 100),
             |rr AS (
             |  SELECT s.q_id, s.id,
             |    CAST(list_sum(list_transform(range(1, 65),
             |      j -> (v.vq[j] - qv.qv[j]) * (v.vq[j] - qv.qv[j])))
             |      AS BIGINT) AS dist
             |  FROM short s JOIN vq v ON v.id = s.id
             |  JOIN qvq qv ON qv.q_id = s.q_id),
             |approx AS (
             |  SELECT q_id, id FROM (
             |    SELECT q_id, id, row_number() OVER (PARTITION BY q_id
             |      ORDER BY dist, id) AS rn FROM rr)
             |  WHERE rn <= 10),
             |exact AS (
             |  SELECT q_id, id FROM (
             |    SELECT qv.q_id, v.id, row_number() OVER (PARTITION BY qv.q_id
             |      ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |        j -> (v.vq[j] - qv.qv[j]) * (v.vq[j] - qv.qv[j]))) AS BIGINT),
             |      v.id) AS rn
             |    FROM vq v CROSS JOIN qvq qv)
             |  WHERE rn <= 10)
             |SELECT x.q_id, count(*) AS n_exact,
             |  CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_hit,
             |  round(CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall,
             |  round(CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) >= 0.4 AS meets_floor
             |FROM exact x LEFT JOIN approx a ON x.q_id = a.q_id AND x.id = a.id
             |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin)),

    // ---- Trained-coarse IVFADC + rerank RECALL contract (s26, round
    //      19): s25 hash-gates the trained layout's serving results;
    //      this gate asserts the trained stack's RECALL at the s20
    //      operating point (m=8 k=16 codes, fraction-pinned nProbe =
    //      max(8, cells/3), exact rerank of the ADC top-100, floor
    //      0.4 per query) with the coarse cells swapped from modulo to
    //      the s22 trained table — the composed answer to "what does
    //      the production tier's recall look like ON trained cells".
    //      Everything stays integer-exact / round-5-cosine, so recall
    //      is engine contract; the oracle is s20's replay with its
    //      `cent` CTE swapped for the Lloyd CTEs. ----
    Q("s26_ivf_adc_trained_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val model = graft.operators.Similarity.pqTrain(
          emb, "vec_id", "embedding", m = 8, k = 16, iters = 1)
        val nCells = emb.filter(col("vec_id") % 25 === 0).count()
        val trained = graft.operators.Similarity
          .trainedCentroidsExactDequant(emb, centEvery = 25, iters = 1)
          .localCheckpoint(true)
        graft.operators.Similarity.ivfAdcRecallAtK(emb, Seq(0L, 1L, 2L),
            k = 10, nProbe = math.max(8L, nCells / 3).toInt,
            centEvery = 25, model, recallFloor = 0.4,
            rerankCandidates = 100, centroids = Some(trained))
          .orderBy(col("q_id"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |qset AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS q_id),
             |seeds0 AS (SELECT id AS c_id, vq AS c FROM vq WHERE id % 25 = 0),
             |la1 AS (
             |  SELECT v.id, s.c_id, row_number() OVER (PARTITION BY v.id
             |    ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |      j -> (v.vq[j] - s.c[j]) * (v.vq[j] - s.c[j]))) AS BIGINT),
             |      s.c_id) AS rn
             |  FROM vq v CROSS JOIN seeds0 s),
             |lasg AS (SELECT id, c_id FROM la1 WHERE rn = 1),
             |lupd AS (
             |  SELECT a.c_id, i.i AS pos,
             |    CAST(floor(CAST(sum(v.vq[i.i + 1]) AS DOUBLE) / count(*))
             |      AS BIGINT) AS mv
             |  FROM lasg a JOIN vq v USING (id),
             |       (SELECT unnest(range(64)) AS i) i
             |  GROUP BY a.c_id, i.i),
             |tcent AS (
             |  SELECT s.c_id, coalesce(t.c, s.c) AS c
             |  FROM seeds0 s LEFT JOIN (
             |    SELECT c_id, list(mv ORDER BY pos) AS c
             |    FROM lupd GROUP BY c_id) t USING (c_id)),
             |cent AS (
             |  SELECT c_id,
             |    list_transform(c, v -> CAST(v AS DOUBLE) / 1000.0) AS c_emb
             |  FROM tcent),
             |assign AS (
             |  SELECT n_id, c_id FROM (
             |    SELECT e.vec_id AS n_id, c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |qembd AS (
             |  SELECT q.q_id, CAST(e.embedding AS DOUBLE[]) AS qd
             |  FROM qset q JOIN embeddings e ON e.vec_id = q.q_id),
             |qvq AS (
             |  SELECT q.q_id, v.vq AS qv FROM qset q JOIN vq v ON v.id = q.q_id),
             |probe AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT qe.q_id, c.c_id, row_number() OVER (PARTITION BY qe.q_id
             |      ORDER BY round(list_cosine_similarity(qe.qd, c.c_emb), 5) DESC,
             |      c.c_id) AS prn
             |    FROM qembd qe CROSS JOIN cent c)
             |  WHERE prn <= greatest(8, (SELECT count(*) FROM cent) // 3)),
             |allowed AS (
             |  SELECT p.q_id, a.n_id AS id FROM assign a JOIN probe p USING (c_id)),
             |sp AS (SELECT unnest(range(8)) AS sub),
             |subs AS (
             |  SELECT id, sp.sub, vq[sp.sub*8+1 : sp.sub*8+8] AS x
             |  FROM vq, sp),
             |seeds AS (
             |  SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
             |    SELECT sub, x,
             |      row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
             |    FROM subs) WHERE rn <= 16),
             |a1 AS (
             |  SELECT id, sub, x, code, row_number() OVER (
             |      PARTITION BY id, sub ORDER BY ld, code) AS rn
             |  FROM (SELECT s.id, s.sub, s.x, c.code,
             |      CAST(list_sum(list_transform(range(1, 9),
             |        i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT) AS ld
             |    FROM subs s JOIN seeds c USING (sub))),
             |asg AS (SELECT id, sub, x, code FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT sub, code, i.i AS pos,
             |    CAST(floor(CAST(sum(x[i.i + 1]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
             |  FROM asg, (SELECT unnest(range(8)) AS i) i
             |  GROUP BY sub, code, i.i),
             |c1 AS (SELECT sub, code, list(mv ORDER BY pos) AS c
             |  FROM upd GROUP BY sub, code),
             |cents AS (
             |  SELECT s.sub, s.code, coalesce(c1.c, s.c) AS c
             |  FROM seeds s LEFT JOIN c1 ON s.sub = c1.sub AND s.code = c1.code),
             |enc AS (
             |  SELECT id, sub, code FROM (
             |    SELECT s.id, s.sub, c.code, row_number() OVER (
             |        PARTITION BY s.id, s.sub ORDER BY
             |        CAST(list_sum(list_transform(range(1, 9),
             |          i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT),
             |        c.code) AS rn
             |    FROM subs s JOIN cents c USING (sub)) WHERE rn = 1),
             |qsubs AS (
             |  SELECT qv.q_id, sp.sub, qv.qv[sp.sub*8+1 : sp.sub*8+8] AS qx
             |  FROM qvq qv, sp),
             |tab AS (
             |  SELECT qs.q_id, c.sub, c.code,
             |    CAST(list_sum(list_transform(range(1, 9),
             |      i -> (qs.qx[i] - c.c[i]) * (qs.qx[i] - c.c[i]))) AS BIGINT) AS dist
             |  FROM cents c JOIN qsubs qs ON c.sub = qs.sub),
             |adc AS (
             |  SELECT al.q_id, e.id, CAST(sum(t.dist) AS BIGINT) AS adc
             |  FROM enc e JOIN allowed al ON e.id = al.id
             |  JOIN tab t ON t.q_id = al.q_id AND t.sub = e.sub AND t.code = e.code
             |  GROUP BY al.q_id, e.id),
             |short AS (
             |  SELECT q_id, id FROM (
             |    SELECT q_id, id, row_number() OVER (PARTITION BY q_id
             |      ORDER BY adc, id) AS rn FROM adc)
             |  WHERE rn <= 100),
             |rr AS (
             |  SELECT s.q_id, s.id,
             |    CAST(list_sum(list_transform(range(1, 65),
             |      j -> (v.vq[j] - qv.qv[j]) * (v.vq[j] - qv.qv[j])))
             |      AS BIGINT) AS dist
             |  FROM short s JOIN vq v ON v.id = s.id
             |  JOIN qvq qv ON qv.q_id = s.q_id),
             |approx AS (
             |  SELECT q_id, id FROM (
             |    SELECT q_id, id, row_number() OVER (PARTITION BY q_id
             |      ORDER BY dist, id) AS rn FROM rr)
             |  WHERE rn <= 10),
             |exact AS (
             |  SELECT q_id, id FROM (
             |    SELECT qv.q_id, v.id, row_number() OVER (PARTITION BY qv.q_id
             |      ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |        j -> (v.vq[j] - qv.qv[j]) * (v.vq[j] - qv.qv[j]))) AS BIGINT),
             |      v.id) AS rn
             |    FROM vq v CROSS JOIN qvq qv)
             |  WHERE rn <= 10)
             |SELECT x.q_id, count(*) AS n_exact,
             |  CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_hit,
             |  round(CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall,
             |  round(CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) >= 0.4 AS meets_floor
             |FROM exact x LEFT JOIN approx a ON x.q_id = a.q_id AND x.id = a.id
             |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin)),

    // ---- TRAINED LAYOUT + FROZEN-GEOMETRY APPEND (s27, round 19):
    //      the composition s24 x s25 — the ADC tier's ingest path run
    //      against a TRAINED-coarse layout. The append contract is
    //      quantizer-agnostic BY CONSTRUCTION (ivfAdcAppendToLayout
    //      reads the layout's own _centroids/_pqmodel and never asks
    //      where they came from), and this gate pins it: build on the
    //      base slice with trainedIters = 1 (Lloyd cells trained on
    //      BASE only — frozen geometry means the appended batch must
    //      not move the cells), append the rest, probe. The oracle is
    //      s24's replay with its modulo `cent` CTE swapped for the s22
    //      Lloyd CTEs restricted to the base slice; everything
    //      downstream (frozen-codebook encode of appended rows, probe,
    //      ADC) is s24's verbatim. ----
    Q("s27_ivf_adc_trained_append",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        val key = Tables.contentKey(s"$dir/embeddings.parquet")
        val layout = graft.Scratch.dir(s"graft_ivfadc_trapp_$key")
        val base = emb.filter($"vec_id" < 400)
        graft.operators.Similarity.ivfAdcBuildLayout(
          base, centEvery = 25, layout, "vec_id", "embedding",
          m = 4, k = 4, quantScale = 1000L, trainedIters = 1)(
          graft.operators.Similarity.pqTrain(
            base, "vec_id", "embedding", m = 4, k = 4, iters = 1))
        graft.operators.Similarity.ivfAdcAppendToLayout(
          emb.filter($"vec_id" >= 400), layout)
        val query = emb.filter($"vec_id" === 450L)
          .select($"embedding".cast("array<double>"))
          .head().getSeq[Double](0)
        graft.operators.Similarity.ivfAdcProbeLayout(
            s, layout, query, kNN = 10, nProbe = 2)
          .select(col("id").as("vec_id"), col("adc"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |bvq AS (SELECT * FROM vq WHERE id < 400),
             |seeds0 AS (SELECT id AS c_id, vq AS c FROM bvq WHERE id % 25 = 0),
             |la1 AS (
             |  SELECT v.id, s.c_id, row_number() OVER (PARTITION BY v.id
             |    ORDER BY CAST(list_sum(list_transform(range(1, 65),
             |      j -> (v.vq[j] - s.c[j]) * (v.vq[j] - s.c[j]))) AS BIGINT),
             |      s.c_id) AS rn
             |  FROM bvq v CROSS JOIN seeds0 s),
             |lasg AS (SELECT id, c_id FROM la1 WHERE rn = 1),
             |lupd AS (
             |  SELECT a.c_id, i.i AS pos,
             |    CAST(floor(CAST(sum(v.vq[i.i + 1]) AS DOUBLE) / count(*))
             |      AS BIGINT) AS mv
             |  FROM lasg a JOIN bvq v USING (id),
             |       (SELECT unnest(range(64)) AS i) i
             |  GROUP BY a.c_id, i.i),
             |tcent AS (
             |  SELECT s.c_id, coalesce(t.c, s.c) AS c
             |  FROM seeds0 s LEFT JOIN (
             |    SELECT c_id, list(mv ORDER BY pos) AS c
             |    FROM lupd GROUP BY c_id) t USING (c_id)),
             |cent AS (
             |  SELECT c_id,
             |    list_transform(c, v -> CAST(v AS DOUBLE) / 1000.0) AS c_emb
             |  FROM tcent),
             |assign AS (
             |  SELECT n_id, c_id FROM (
             |    SELECT e.vec_id AS n_id, c_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                     c_emb), 5) DESC, c_id) AS arn
             |    FROM embeddings e CROSS JOIN cent)
             |  WHERE arn = 1),
             |probe AS (
             |  SELECT c_id FROM (
             |    SELECT c_id, row_number() OVER (ORDER BY
             |      round(list_cosine_similarity(
             |        (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
             |         WHERE vec_id = 450), c_emb), 5) DESC, c_id) AS prn
             |    FROM cent)
             |  WHERE prn <= 2),
             |allowed AS (
             |  SELECT n_id AS id FROM assign JOIN probe USING (c_id)),
             |sp AS (SELECT unnest(range(4)) AS sub),
             |subs AS (
             |  SELECT id, sp.sub, vq[sp.sub*16+1 : sp.sub*16+16] AS x
             |  FROM vq, sp),
             |bsubs AS (SELECT * FROM subs WHERE id < 400),
             |seeds AS (
             |  SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
             |    SELECT sub, x,
             |      row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
             |    FROM bsubs) WHERE rn <= 4),
             |a1 AS (
             |  SELECT id, sub, x, code, row_number() OVER (
             |      PARTITION BY id, sub ORDER BY ld, code) AS rn
             |  FROM (SELECT s.id, s.sub, s.x, c.code,
             |      CAST(list_sum(list_transform(range(1, 17),
             |        i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT) AS ld
             |    FROM bsubs s JOIN seeds c USING (sub))),
             |asg AS (SELECT id, sub, x, code FROM a1 WHERE rn = 1),
             |upd AS (
             |  SELECT sub, code, i.i AS pos,
             |    CAST(floor(CAST(sum(x[i.i + 1]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
             |  FROM asg, (SELECT unnest(range(16)) AS i) i
             |  GROUP BY sub, code, i.i),
             |c1 AS (SELECT sub, code, list(mv ORDER BY pos) AS c
             |  FROM upd GROUP BY sub, code),
             |cents AS (
             |  SELECT s.sub, s.code, coalesce(c1.c, s.c) AS c
             |  FROM seeds s LEFT JOIN c1 ON s.sub = c1.sub AND s.code = c1.code),
             |enc AS (
             |  SELECT id, sub, code FROM (
             |    SELECT s.id, s.sub, c.code, row_number() OVER (
             |        PARTITION BY s.id, s.sub ORDER BY
             |        CAST(list_sum(list_transform(range(1, 17),
             |          i -> (s.x[i] - c.c[i]) * (s.x[i] - c.c[i]))) AS BIGINT),
             |        c.code) AS rn
             |    FROM subs s JOIN cents c USING (sub)
             |    WHERE s.id IN (SELECT id FROM allowed)) WHERE rn = 1),
             |qsubs AS (
             |  SELECT sp.sub, q.vq[sp.sub*16+1 : sp.sub*16+16] AS qx
             |  FROM (SELECT vq FROM vq WHERE id = 450) q, sp),
             |tab AS (
             |  SELECT c.sub, c.code,
             |    CAST(list_sum(list_transform(range(1, 17),
             |      i -> (qs.qx[i] - c.c[i]) * (qs.qx[i] - c.c[i]))) AS BIGINT) AS dist
             |  FROM cents c JOIN qsubs qs USING (sub))
             |SELECT e.id AS vec_id, CAST(sum(t.dist) AS BIGINT) AS adc
             |FROM enc e JOIN tab t ON e.sub = t.sub AND e.code = t.code
             |GROUP BY e.id
             |ORDER BY adc, vec_id LIMIT 10""".stripMargin)),

    // Maximal-marginal-relevance selection (s13): greedy diversity
    // re-ranking over the top-8 relevance pool, 3 picks at λ=0.5 — the
    // between-retrieval-and-context-window selector. Integer dot
    // products + micro-unit λ make every argmax an exact integer sort;
    // the oracle unrolls the three greedy rounds as CTEs.
    Q("s13_mmr_select",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val query = emb.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        graft.operators.Similarity.mmrTopK(emb, "vec_id", "embedding",
            query, poolSize = 8, k = 3)
          .select(col("rank"), col("id").as("vec_id"), col("rel"))
      },
      Some("""WITH vq AS (
             |  SELECT vec_id AS id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vq
             |  FROM embeddings),
             |q AS (SELECT vq AS qv FROM vq WHERE id = 0),
             |rel AS (
             |  SELECT id, vq, CAST(list_sum(list_transform(range(1, 65),
             |    j -> vq[j] * qv[j])) AS BIGINT) AS rel
             |  FROM vq, q),
             |pool AS (SELECT * FROM rel ORDER BY rel DESC, id LIMIT 8),
             |s1 AS (SELECT id, vq, rel FROM pool ORDER BY rel DESC, id LIMIT 1),
             |c2 AS (
             |  SELECT p.id, p.vq, p.rel, CAST(list_sum(list_transform(
             |    range(1, 65), j -> p.vq[j] * s.vq[j])) AS BIGINT) AS ms
             |  FROM pool p, s1 s WHERE p.id <> s.id),
             |s2 AS (SELECT id, vq, rel FROM c2
             |  ORDER BY 500000 * rel - 500000 * ms DESC, id LIMIT 1),
             |c3 AS (
             |  SELECT p.id, p.vq, p.rel, greatest(
             |    CAST(list_sum(list_transform(range(1, 65),
             |      j -> p.vq[j] * a.vq[j])) AS BIGINT),
             |    CAST(list_sum(list_transform(range(1, 65),
             |      j -> p.vq[j] * b.vq[j])) AS BIGINT)) AS ms
             |  FROM pool p, s1 a, s2 b WHERE p.id <> a.id AND p.id <> b.id),
             |s3 AS (SELECT id, vq, rel FROM c3
             |  ORDER BY 500000 * rel - 500000 * ms DESC, id LIMIT 1)
             |SELECT CAST(1 AS BIGINT) AS rank, id AS vec_id, rel FROM s1
             |UNION ALL SELECT 2, id, rel FROM s2
             |UNION ALL SELECT 3, id, rel FROM s3
             |ORDER BY rank""".stripMargin)),

    // End-to-end training-data prep: quality gate -> exact-dedup
    // canonical selection -> temperature domain mixing -> per-language
    // corpus stats. One composed job — the full operator-family chain a
    // pipeline user runs, oracled as a single CTE chain (mixing rates are
    // computed on the POST-filter, POST-dedup corpus on both sides).
    Q("p01_training_pipeline",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val gated = docs
          .withColumn("n_toks", size(TextOps.tokens($"text")))
          .filter($"n_chars" >= 100 && $"n_toks" >= 20)
        val canonical = Dedup.exactDedup(gated, "doc_id", "text")
          .filter($"is_canonical")
          .select($"doc_id", $"lang", $"n_toks")
        val keptIds = graft.operators.Mixing.temperatureSample(
            canonical, "lang", "doc_id", alpha = 0.3, targetFrac = 0.5)
          .filter($"keep").select($"doc_id")
        canonical.join(keptIds, Seq("doc_id"), "left_semi")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"))
          .orderBy($"lang")
      },
      Some(s"""WITH gated AS (
             |  SELECT doc_id, lang, len($toksSql) AS n_toks,
             |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
             |  FROM documents WHERE n_chars >= 100 AND len($toksSql) >= 20),
             |canonical AS (
             |  SELECT doc_id, lang, n_toks FROM (
             |    SELECT doc_id, lang, n_toks,
             |      doc_id = min(doc_id) OVER (PARTITION BY fp) AS keep
             |    FROM gated) WHERE keep),
             |c AS (SELECT lang, count(*) AS n_d FROM canonical GROUP BY lang),
             |t AS (SELECT sum(n_d) AS n_tot, sum(pow(n_d, 0.3)) AS z FROM c),
             |r AS (SELECT lang,
             |    round(least(1.0, 0.5 * n_tot * (pow(n_d, 0.3) / z) / n_d), 6)
             |      AS rate
             |  FROM c CROSS JOIN t)
             |SELECT d.lang, count(*) AS n_docs,
             |  CAST(sum(d.n_toks) AS BIGINT) AS n_tokens
             |FROM canonical d JOIN r USING (lang)
             |WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
             |         % 1000000) / 1000000.0 < r.rate
             |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),

    // ---- RAG retrieval pipeline: sliding-window chunking (t19's layout
    //      contract) feeding BM25 chunk scoring against a query — the
    //      retrieval half of a RAG data pipeline, end to end. Same
    //      zero-full-shuffle shape as t22: chunking is a map-side
    //      explode, tf/df/stats collapse into one global agg, top-k is
    //      TakeOrderedAndProject ----
    Q("p02_rag_retrieval",
      (s, dir) => {
        graft.operators.Retrieval.bm25TopKChunks(
          Tables(s, dir, "documents"), "doc_id", "text",
          queryTerms = Seq("spark", "vector", "merge"),
          chunkSize = 64, stride = 48, k = 10)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents
             |), n AS (
             |  SELECT doc_id, toks, len(toks) AS n_tok,
             |    CASE WHEN len(toks) = 0 THEN 0
             |         WHEN len(toks) <= 64 THEN 1
             |         ELSE 1 + CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT)
             |    END AS n_chunks
             |  FROM t
             |), c AS (
             |  SELECT doc_id, i AS chunk_id, i*48 + 1 AS tok_start,
             |    toks[(i*48+1):(i*48+64)] AS ctoks
             |  FROM n, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) g
             |), u AS (
             |  SELECT doc_id, chunk_id, tok_start, CAST(len(ctoks) AS DOUBLE) AS dl,
             |    CAST(len(list_filter(ctoks, x -> x = 'spark')) AS DOUBLE) AS tf_0,
             |    CAST(len(list_filter(ctoks, x -> x = 'vector')) AS DOUBLE) AS tf_1,
             |    CAST(len(list_filter(ctoks, x -> x = 'merge')) AS DOUBLE) AS tf_2
             |  FROM c
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |    sum(CASE WHEN tf_0 > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
             |    sum(CASE WHEN tf_1 > 0 THEN 1.0 ELSE 0.0 END) AS df_1,
             |    sum(CASE WHEN tf_2 > 0 THEN 1.0 ELSE 0.0 END) AS df_2
             |  FROM u
             |), sc AS (
             |  SELECT doc_id, chunk_id, tok_start, round(
             |    (CASE WHEN tf_0 > 0 THEN ln(1.0 + (n - df_0 + 0.5) / (df_0 + 0.5))
             |       * (tf_0 * 2.2) / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             |     ELSE 0.0 END)
             |    + (CASE WHEN tf_1 > 0 THEN ln(1.0 + (n - df_1 + 0.5) / (df_1 + 0.5))
             |       * (tf_1 * 2.2) / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             |     ELSE 0.0 END)
             |    + (CASE WHEN tf_2 > 0 THEN ln(1.0 + (n - df_2 + 0.5) / (df_2 + 0.5))
             |       * (tf_2 * 2.2) / (tf_2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             |     ELSE 0.0 END), 4) AS score
             |  FROM u, st
             |)
             |SELECT doc_id, chunk_id, tok_start, score FROM sc WHERE score > 0.0
             |ORDER BY score DESC, doc_id, chunk_id LIMIT 10""".stripMargin)),

    // ---- n-gram novelty (t54): HOW MUCH of each ingest doc's distinct
    //      3-gram set the existing corpus already covers — d09's
    //      contamination flag upgraded to a per-doc coverage fraction
    //      (novelty 0 = restates the corpus, 1 = genuinely new text);
    //      the memorization-risk signal a training-data pipeline
    //      thresholds before admitting a crawl batch. ----
    Q("t54_ngram_novelty",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        TextOps.ngramNovelty(docs.filter($"doc_id" >= 400), "doc_id", "text",
            docs.filter($"doc_id" < 400), "text")
          .orderBy($"id")
      },
      Some(s"""WITH refg AS (
             |  SELECT DISTINCT unnest($shinglesSql) AS g
             |  FROM documents WHERE doc_id < 400),
             |dg AS (
             |  SELECT doc_id, unnest($shinglesSql) AS g
             |  FROM documents WHERE doc_id >= 400),
             |sc AS (
             |  SELECT dg.doc_id, count(*) AS n_grams,
             |    CAST(sum(CASE WHEN refg.g IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_known
             |  FROM dg LEFT JOIN refg ON dg.g = refg.g
             |  GROUP BY dg.doc_id)
             |SELECT d.doc_id AS id,
             |  coalesce(sc.n_grams, 0) AS n_grams,
             |  coalesce(sc.n_known, 0) AS n_known,
             |  CASE WHEN sc.n_grams IS NOT NULL THEN
             |    round(1.0 - CAST(sc.n_known AS DOUBLE)
             |      / CAST(sc.n_grams AS DOUBLE), 4) END AS novelty
             |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             |WHERE d.doc_id >= 400 ORDER BY id""".stripMargin)),

    // ---- Heaps'-law vocabulary growth (t55): V(N) ≈ k·N^β fitted over
    //      ingest-ordered buckets — the growth-side companion to t37's
    //      Zipf frequency fit; β collapsing toward 0 flags template
    //      floods, β near 1 token soup. First-seen-bucket per word =
    //      the distributed cumulative-distinct construction; quantized
    //      logs + integer moments = the zipfFit determinism. ----
    Q("t55_heaps_law",
      (s, dir) => {
        import s.implicits._
        TextOps.heapsLaw(Tables(s, dir, "documents"), "doc_id", "text")
      },
      Some(s"""WITH tok AS (
             |  SELECT doc_id // 100 AS b, unnest($toksSql) AS w
             |  FROM documents),
             |nt AS (SELECT b, count(*) AS nt FROM tok GROUP BY b),
             |nv AS (SELECT b, count(*) AS nv FROM (
             |    SELECT w, min(b) AS b FROM tok GROUP BY w) GROUP BY b),
             |per AS (
             |  SELECT coalesce(nt.b, nv.b) AS b,
             |    coalesce(nt.nt, 0) AS nt, coalesce(nv.nv, 0) AS nv
             |  FROM nt FULL JOIN nv ON nt.b = nv.b),
             |cum AS (
             |  SELECT b,
             |    sum(nt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS n_cum,
             |    sum(nv) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS v_cum
             |  FROM per),
             |pts AS (
             |  SELECT b, CAST(n_cum AS BIGINT) AS n_cum,
             |    CAST(v_cum AS BIGINT) AS v_cum,
             |    CAST(round(ln(CAST(n_cum AS DOUBLE)) * 1e6) AS BIGINT) AS xq,
             |    CAST(round(ln(CAST(v_cum AS DOUBLE)) * 1e6) AS BIGINT) AS yq
             |  FROM cum WHERE n_cum > 0 AND v_cum > 0),
             |m AS (
             |  SELECT count(*) AS k, sum(xq) AS sx, sum(yq) AS sy,
             |    sum(CAST(xq AS HUGEINT) * CAST(yq AS HUGEINT)) AS sxy,
             |    sum(CAST(xq AS HUGEINT) * CAST(xq AS HUGEINT)) AS sxx
             |  FROM pts)
             |SELECT CAST(pts.b AS BIGINT) AS b, pts.n_cum, pts.v_cum,
             |  round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS beta,
             |  round((CAST(sy AS DOUBLE) / 1e6
             |    - ((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
             |      * (CAST(sx AS DOUBLE) / 1e6)) / CAST(k AS DOUBLE), 4)
             |    AS k_ln
             |FROM pts, m ORDER BY b""".stripMargin)),

    // ---- incremental (batch-over-corpus) dedup: a new ingestion batch
    //      checks its fingerprints against the existing corpus only —
    //      the daily-ingest shape, where the corpus side is a bloom/
    //      fingerprint store and no corpus self-join happens ----
    Q("d10_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val corpusFp = docs.filter($"doc_id" < 400)
          .select(TextOps.fingerprint($"text").as("fp")).distinct()
        docs.filter($"doc_id" >= 400)
          .select($"doc_id", TextOps.fingerprint($"text").as("fp"))
          .join(corpusFp.withColumn("hit", lit(1L)), Seq("fp"), "left_outer")
          .select($"doc_id", $"hit".isNotNull.as("dup_of_corpus"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) IN
             |    (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             |     FROM documents WHERE doc_id < 400) AS dup_of_corpus
             |FROM documents WHERE doc_id >= 400 ORDER BY doc_id""".stripMargin)),

    // ---- PERSISTED LSH band-bucket index (d17): the d10 ingest check
    //      upgraded from exact fingerprints to NEAR-dup similarity —
    //      lshIndexWrite persists the corpus band buckets once
    //      (content-keyed ident, partition-pruned serving), the probe
    //      batch reads only its touched bucket partitions with no
    //      corpus scan/shuffle. Oracle = the d02 discipline: exact
    //      all-CROSS-pairs Jaccard ≥ 0.8 (candidates verify exactly,
    //      so only an LSH band miss could diverge — p ≈ 5e-8/pair). ----
    Q("d17_lsh_index",
      (s, dir) => {
        import s.implicits._
        val key = Tables.contentKey(s"$dir/documents.parquet")
        val layout = graft.Scratch.dir(s"graft_lsh_idx_$key")
        val docs = Tables(s, dir, "documents")
        Dedup.lshIndexWrite(docs.filter($"doc_id" < 400),
          "doc_id", "text", layout)
        Dedup.lshProbeIndex(s, layout, docs.filter($"doc_id" >= 400),
            "doc_id", "text", threshold = 0.8)
          .orderBy($"probe_id", $"corpus_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
             |c AS (SELECT * FROM sh WHERE doc_id < 400),
             |p AS (SELECT * FROM sh WHERE doc_id >= 400)
             |SELECT p.doc_id AS probe_id, c.doc_id AS corpus_id,
             |  round(len(list_intersect(p.sh, c.sh))::DOUBLE
             |    / (len(p.sh) + len(c.sh) - len(list_intersect(p.sh, c.sh))), 3) AS jaccard
             |FROM p JOIN c ON true
             |WHERE round(len(list_intersect(p.sh, c.sh))::DOUBLE
             |    / (len(p.sh) + len(c.sh) - len(list_intersect(p.sh, c.sh))), 3) >= 0.8
             |ORDER BY probe_id, corpus_id""".stripMargin)),

    // the hyperplanes come from a seeded PRNG, but they are CONSTANTS —
    // embedding them as literals into generated oracle SQL makes even
    // seeded LSH hash-verifiable (signature, bucket join, ranking all
    // replicated; double arithmetic is sequential in both engines)
    Q("s02_ann_srp_lsh",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        Similarity.srpTopK(emb, emb.filter($"vec_id" < 10), k = 5,
            nBits = 6, dim = 64)
          .orderBy(col("q_id"), col("rn"))
      },
      Some {
        val planes = Similarity.hyperplanes(6, 64)
        val sigSql = planes.zipWithIndex.map { case (p, i) =>
          val lst = p.map(_.toString).mkString("[", ", ", "]")
          s"""(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
             |    $lst) > 0 THEN ${1L << i} ELSE 0 END)""".stripMargin
        }.mkString("\n  + ")
        s"""WITH sig AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
           |    CAST($sigSql AS BIGINT) AS bucket
           |  FROM embeddings)
           |SELECT q_id, n_id, cos, rn FROM (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |    round(list_cosine_similarity(q.emb, c.emb), 5) AS cos,
           |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |      round(list_cosine_similarity(q.emb, c.emb), 5) DESC,
           |      c.vec_id) AS rn
           |  FROM sig q JOIN sig c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
           |  WHERE q.vec_id < 10)
           |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
      }),

    // ----------------------------------------------------- multimodal
    Q("m01_binary_meta",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .select($"doc_id",
            length(encode($"text", "UTF-8")).cast("long").as("n_bytes"),
            ascii(substring($"text", 1, 1)).cast("long").as("first_byte"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("m02_decode_meta",
      (s, dir) => {
        val meta = Multimodal.decodePipeline(s, Tables(s, dir, "documents"))
        meta.select(col("media_id"), col("width"), col("height"), col("n_payload"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(n_chars % 1024 AS INT) AS width,
             |  CAST(doc_id % 768 AS INT) AS height,
             |  octet_length(encode(text)) AS n_payload
             |FROM documents ORDER BY media_id""".stripMargin)),

    // frame sampling: payload → fixed 64-byte frames, digest per frame
    // (documents text is ASCII, so byte stride == char stride and the
    // DuckDB substr/md5 formulation is byte-identical)
    Q("m03_frame_sample",
      (s, dir) => {
        import s.implicits._
        Multimodal.frameSample(
            Tables(s, dir, "documents").filter($"doc_id" < 200), 64)
          .orderBy($"media_id", $"frame_idx")
      },
      Some("""WITH p AS (
             |  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n
             |  FROM documents WHERE doc_id < 200),
             |f AS (
             |  SELECT media_id, text,
             |    unnest(range(0, CAST(ceil(n::DOUBLE / 64) AS BIGINT))) AS frame_idx
             |  FROM p WHERE n > 0)
             |SELECT media_id, frame_idx,
             |  md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5,
             |  octet_length(encode(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)))
             |    AS frame_len
             |FROM f ORDER BY media_id, frame_idx""".stripMargin)),

    // binary ingestion: text sink → whole-file binaryFile source (the
    // path raw image/audio payloads take into the engine: one row per
    // file, content as bytes). Digest + size checked against the
    // byte-exact reconstruction of what the sink wrote.
    Q("m04_binaryfile_source",
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft_bin").toString
        Tables(s, dir, "documents").filter($"doc_id" < 100)
          .orderBy($"doc_id").select($"text")
          .coalesce(1)
          .write.mode("overwrite").text(s"$tmp/corpus")
        s.read.format("binaryFile")
          .option("pathGlobFilter", "part-*")
          .load(s"$tmp/corpus")
          .select(md5($"content").as("content_md5"),
            length($"content").cast("long").as("n_bytes"))
      },
      // the written file is exactly the doc texts in doc_id order, each
      // line '\n'-terminated (ASCII ⇒ byte-identical reconstruction)
      Some("""SELECT
             |  md5(string_agg(text || chr(10), '' ORDER BY doc_id)) AS content_md5,
             |  octet_length(encode(string_agg(text || chr(10), '' ORDER BY doc_id)))
             |    AS n_bytes
             |FROM documents WHERE doc_id < 100""".stripMargin)),

    // ---- size-aware bin packing: variable-size binary rows packed into
    //      byte-budget buckets via a distributed prefix sum (the oracle
    //      recomputes the identical sequential cumsum), next-fit bound
    //      asserted per bucket ----
    // ---- duplicated-span stats: exact-substring dedup signal over
    // fixed 20-token windows (Lee et al. 2022, Spark-shaped) ----
    Q("d11_span_dedup",
      (s, dir) => {
        import s.implicits._
        graft.operators.Dedup
          .spanDupStats(Tables(s, dir, "documents"), "doc_id", "text", window = 20)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents
             |), segs AS (
             |  SELECT doc_id, md5(array_to_string(toks[(i*20+1):(i*20+20)], ' ')) AS fp
             |  FROM t, LATERAL (SELECT unnest(generate_series(0,
             |    CAST(len(toks) // 20 AS BIGINT) - 1)) AS i) g
             |  WHERE len(toks) >= 20
             |), dup AS (
             |  SELECT fp FROM segs GROUP BY fp HAVING count(DISTINCT doc_id) > 1
             |)
             |SELECT s.doc_id,
             |  count(*) AS n_segments,
             |  count(d.fp) AS dup_segments,
             |  round(count(d.fp) * 1.0 / count(*), 6) AS dup_fraction
             |FROM segs s LEFT JOIN dup d ON s.fp = d.fp
             |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // ---- span-level scrub: REMOVE the cross-doc duplicated windows d11
    // measures and reassemble the text (Lee et al. delete spans, not
    // documents); trailing partial windows are always kept ----
    Q("d12_span_scrub",
      (s, dir) => {
        import s.implicits._
        graft.operators.Dedup
          .spanScrub(Tables(s, dir, "documents"), "doc_id", "text", window = 20)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents
             |), base AS (
             |  SELECT doc_id, toks, len(toks) AS n, len(toks) // 20 AS nf
             |  FROM t WHERE len(toks) > 0
             |), segs AS (
             |  SELECT doc_id, i,
             |    array_to_string(toks[(i*20+1):(i*20+20)], ' ') AS txt,
             |    CASE WHEN i = nf THEN 'tail:' || doc_id
             |         ELSE md5(array_to_string(toks[(i*20+1):(i*20+20)], ' ')) END AS fp,
             |    (i = nf) AS is_tail
             |  FROM base, LATERAL (SELECT unnest(generate_series(0,
             |    CAST((n + 19) // 20 AS BIGINT) - 1)) AS i) g
             |), dup AS (
             |  SELECT fp FROM segs WHERE NOT is_tail
             |  GROUP BY fp HAVING count(DISTINCT doc_id) > 1
             |), marked AS (
             |  SELECT s.doc_id, s.i, s.txt,
             |    (d.fp IS NOT NULL AND NOT s.is_tail) AS removed
             |  FROM segs s LEFT JOIN dup d ON s.fp = d.fp
             |)
             |SELECT doc_id,
             |  CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |  nullif(string_agg(CASE WHEN NOT removed THEN txt END, ' ' ORDER BY i), '')
             |    AS clean_text
             |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("m05_pack_by_size",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val sized = Tables(s, dir, "documents")
          .select($"doc_id",
            length(encode($"text", "UTF-8")).cast("long").as("n_bytes"))
        Multimodal.packBySize(sized, "doc_id", "n_bytes", budgetBytes = 65536L)
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_rows"), sum($"n_bytes").as("total_bytes"),
            max($"n_bytes").as("max_bytes"))
          .select($"bucket", $"n_rows", $"total_bytes",
            ($"total_bytes" <= lit(65536L) + $"max_bytes").as("within_budget"))
          .orderBy($"bucket")
      },
      Some("""WITH s AS (SELECT doc_id,
             |    octet_length(encode(text))::BIGINT AS n_bytes FROM documents),
             |c AS (SELECT doc_id, n_bytes,
             |    sum(n_bytes) OVER (ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum FROM s)
             |SELECT CAST((cum - n_bytes) // 65536 AS BIGINT) AS bucket,
             |  count(*) AS n_rows,
             |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
             |  true AS within_budget
             |FROM c GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // WebDataset-style shard export: m05's contiguous packing MATERIALIZED
    // — each shard written as one binary file (payloads concatenated in
    // id order) plus the manifest a training loader consumes. disk_match
    // folds the read-back check (manifest bytes == bytes on disk, via the
    // binaryFile source's length column — content never read) into a
    // boolean the oracle asserts true, so a write/concat bug breaks the
    // gate hash
    Q("m07_shard_export",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val outDir = graft.Scratch.dir(s"graft_shards_$key")
        val media = Multimodal.fabricate(Tables(s, dir, "documents"))
        val manifest = Multimodal.writeShards(
          media, "media_id", "content", budgetBytes = 65536L, outDir = outDir)
        // pathGlobFilter on the dir, not a glob path: zero written files
        // (the regression disk_match exists to catch) must yield an empty
        // frame and disk_match=false rows, not a path-does-not-exist error
        val onDisk = s.read.format("binaryFile")
          .option("pathGlobFilter", "shard-*.bin").load(outDir)
          .select(
            regexp_extract(input_file_name(), "shard-(\\d+)\\.bin", 1)
              .cast("long").as("shard_id"),
            col("length"))
        manifest.join(onDisk, Seq("shard_id"), "left_outer")
          .select($"shard_id", $"n_samples", $"bytes", $"first_id", $"last_id",
            ($"length".isNotNull && $"length" === $"bytes").as("disk_match"))
          .orderBy($"shard_id")
      },
      Some("""WITH s AS (SELECT doc_id,
             |    8 + octet_length(encode(text))::BIGINT AS n_bytes FROM documents),
             |c AS (SELECT doc_id, n_bytes,
             |    sum(n_bytes) OVER (ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum FROM s)
             |SELECT CAST((cum - n_bytes) // 65536 AS BIGINT) AS shard_id,
             |  count(*) AS n_samples,
             |  CAST(sum(n_bytes) AS BIGINT) AS bytes,
             |  min(doc_id) AS first_id, max(doc_id) AS last_id,
             |  true AS disk_match
             |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin)),

    // binary near-dup at INGEST (m08): SimHash over overlapping byte
    // 4-grams of the opaque media payload (hex-encoded, 1-byte stride —
    // alignment-free), 63-bit portable md5 gram hashes (full-width
    // bands). The gate runs the STEADY-STATE shape (the round-14
    // verdict's m08 directive): every near-dup pair involving the
    // 400-payload ingest batch — within-batch banding PLUS a
    // partition-pruned probe of the persisted corpus layout (built once
    // per corpus, shared with m09; the whole-corpus re-hash that made
    // the old pairwise gate the suite's slowest row is gone — the
    // pairwise path stays spec-covered in PipelineOpsSpec).
    Q("m08_binary_near_dup",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val key = Tables.contentKey(s"$dir/documents.parquet")
        val layout = graft.Scratch.dir(s"graft_binsimhash_idx_$key")
        val media = Multimodal.fabricate(Tables(s, dir, "documents"))
        Multimodal.binarySimhashIndexWrite(
          media.filter($"media_id" >= 400), "media_id", "content", layout)
        Multimodal.binarySimhashIngestPairs(s, layout,
            media.filter($"media_id" < 400), "media_id", "content")
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH hx AS (
             |  SELECT doc_id AS media_id,
             |    lpad(upper(to_hex(n_chars % 1024)), 8, '0')
             |    || lpad(upper(to_hex(doc_id % 768)), 8, '0')
             |    || upper(hex(encode(text))) AS h
             |  FROM documents),
             |g AS (
             |  SELECT media_id,
             |    unnest(list_transform(range(1, len(h) - 6, 2),
             |      i -> substr(h, CAST(i AS INT), 8))) AS gm,
             |    (len(h) - 6) // 2 AS n
             |  FROM hx),
             |t AS (
             |  SELECT media_id,
             |    (((('0x' || substr(md5(gm), 1, 8))::BIGINT & 2147483647)
             |      << 32) | ('0x' || substr(md5(gm), 9, 8))::BIGINT) AS hsh,
             |    n
             |  FROM g),
             |bits AS (
             |  SELECT media_id, b,
             |    CASE WHEN 2 * sum((hsh >> b) & 1) > any_value(n)
             |      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
             |  FROM t CROSS JOIN (SELECT unnest(range(0, 63)) AS b)
             |  GROUP BY media_id, b),
             |sig AS (
             |  SELECT media_id, CAST(sum(bit << b) AS BIGINT) AS sig
             |  FROM bits GROUP BY media_id)
             |SELECT a.media_id AS id_a, b.media_id AS id_b,
             |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
             |FROM sig a JOIN sig b ON a.media_id < b.media_id
             |WHERE a.media_id < 400
             |  AND bit_count(xor(a.sig, b.sig)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- PERSISTED binary-SimHash index (m09): m08's near-dup check
    //      upgraded to the d17/t52 build-once discipline — the corpus
    //      payloads hash ONCE into a bucket-partitioned signature
    //      layout (content-keyed ident written last), and each ingest
    //      batch probes only its touched bucket partitions; the
    //      corpus is never re-hashed and never shuffles per batch.
    //      Split direction is the SERVING shape: the BULK of the table
    //      (media_id >= 400 — grows with SF) is the indexed corpus,
    //      the FIXED 400-payload head is the ingest batch, so the
    //      timed cost is batch hashing + pruned bucket reads and stays
    //      put as the corpus grows (the sf1 probe measures this
    //      directly; d17 demonstrates the complementary
    //      batch-growth direction). Oracle = exact all-CROSS-pairs
    //      hamming ≤ 3 over the same portable signatures (banding at
    //      maxHamming ≤ 3 is exact by pigeonhole while no bucket
    //      saturates). ----
    Q("m09_binary_simhash_index",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val key = Tables.contentKey(s"$dir/documents.parquet")
        val layout = graft.Scratch.dir(s"graft_binsimhash_idx_$key")
        val media = Multimodal.fabricate(Tables(s, dir, "documents"))
        Multimodal.binarySimhashIndexWrite(
          media.filter($"media_id" >= 400), "media_id", "content", layout)
        Multimodal.binarySimhashProbeIndex(s, layout,
            media.filter($"media_id" < 400), "media_id", "content")
          .orderBy($"probe_id", $"corpus_id")
      },
      Some("""WITH hx AS (
             |  SELECT doc_id AS media_id,
             |    lpad(upper(to_hex(n_chars % 1024)), 8, '0')
             |    || lpad(upper(to_hex(doc_id % 768)), 8, '0')
             |    || upper(hex(encode(text))) AS h
             |  FROM documents),
             |g AS (
             |  SELECT media_id,
             |    unnest(list_transform(range(1, len(h) - 6, 2),
             |      i -> substr(h, CAST(i AS INT), 8))) AS gm,
             |    (len(h) - 6) // 2 AS n
             |  FROM hx),
             |t AS (
             |  SELECT media_id,
             |    (((('0x' || substr(md5(gm), 1, 8))::BIGINT & 2147483647)
             |      << 32) | ('0x' || substr(md5(gm), 9, 8))::BIGINT) AS hsh,
             |    n
             |  FROM g),
             |bits AS (
             |  SELECT media_id, b,
             |    CASE WHEN 2 * sum((hsh >> b) & 1) > any_value(n)
             |      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
             |  FROM t CROSS JOIN (SELECT unnest(range(0, 63)) AS b)
             |  GROUP BY media_id, b),
             |sig AS (
             |  SELECT media_id, CAST(sum(bit << b) AS BIGINT) AS sig
             |  FROM bits GROUP BY media_id)
             |SELECT p.media_id AS probe_id, c.media_id AS corpus_id,
             |  CAST(bit_count(xor(p.sig, c.sig)) AS BIGINT) AS hamming
             |FROM sig p JOIN sig c ON c.media_id >= 400
             |WHERE p.media_id < 400
             |  AND bit_count(xor(p.sig, c.sig)) <= 3
             |ORDER BY probe_id, corpus_id""".stripMargin)),

    // ---- binary dHash near-dup (m10): the GRADIENT perceptual-hash
    //      signal next to m08's gram-majority SimHash — bit_i =
    //      [byte_{i+1} > byte_i] over the payload's first 64 bytes,
    //      63-bit signature (ANSI-safe fold), banding + hamming verify
    //      shared with m08. O(1) per row: 63 fixed hex-pair compares,
    //      independent of payload size. ----
    Q("m10_binary_dhash",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val media = Multimodal.fabricate(Tables(s, dir, "documents"))
        Multimodal.binaryDhashPairs(media, "media_id", "content")
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH hx AS (
             |  SELECT doc_id AS media_id,
             |    lpad(upper(to_hex(n_chars % 1024)), 8, '0')
             |    || lpad(upper(to_hex(doc_id % 768)), 8, '0')
             |    || upper(hex(encode(text))) AS h
             |  FROM documents),
             |ok AS (SELECT media_id, h FROM hx WHERE len(h) >= 128),
             |bits AS (
             |  SELECT media_id, i,
             |    CASE WHEN ('0x' || substr(h, CAST(2*i+3 AS INT), 2))::BIGINT
             |           > ('0x' || substr(h, CAST(2*i+1 AS INT), 2))::BIGINT
             |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS b
             |  FROM ok CROSS JOIN (SELECT unnest(range(0, 63)) AS i)),
             |sig AS (
             |  SELECT media_id, CAST(sum(b << i) AS BIGINT) AS sig
             |  FROM bits GROUP BY media_id)
             |SELECT a.media_id AS id_a, b.media_id AS id_b,
             |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
             |FROM sig a JOIN sig b ON a.media_id < b.media_id
             |WHERE bit_count(xor(a.sig, b.sig)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- PERSISTED dHash index (m11): m10's gradient signatures
    //      under the generic signature-index discipline (the m09
    //      machinery's second instantiation) — bulk corpus indexed
    //      once, the fixed 400-payload head probes only its touched
    //      bucket partitions. Oracle = exact all-CROSS-pairs dHash
    //      hamming ≤ 3 (banding exact by pigeonhole below
    //      saturation). ----
    Q("m11_binary_dhash_index",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val key = Tables.contentKey(s"$dir/documents.parquet")
        val layout = graft.Scratch.dir(s"graft_bindhash_idx_$key")
        val media = Multimodal.fabricate(Tables(s, dir, "documents"))
        Multimodal.binaryDhashIndexWrite(
          media.filter($"media_id" >= 400), "media_id", "content", layout)
        Multimodal.binaryDhashProbeIndex(s, layout,
            media.filter($"media_id" < 400), "media_id", "content")
          .orderBy($"probe_id", $"corpus_id")
      },
      Some("""WITH hx AS (
             |  SELECT doc_id AS media_id,
             |    lpad(upper(to_hex(n_chars % 1024)), 8, '0')
             |    || lpad(upper(to_hex(doc_id % 768)), 8, '0')
             |    || upper(hex(encode(text))) AS h
             |  FROM documents),
             |ok AS (SELECT media_id, h FROM hx WHERE len(h) >= 128),
             |bits AS (
             |  SELECT media_id, i,
             |    CASE WHEN ('0x' || substr(h, CAST(2*i+3 AS INT), 2))::BIGINT
             |           > ('0x' || substr(h, CAST(2*i+1 AS INT), 2))::BIGINT
             |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS b
             |  FROM ok CROSS JOIN (SELECT unnest(range(0, 63)) AS i)),
             |sig AS (
             |  SELECT media_id, CAST(sum(b << i) AS BIGINT) AS sig
             |  FROM bits GROUP BY media_id)
             |SELECT p.media_id AS probe_id, c.media_id AS corpus_id,
             |  CAST(bit_count(xor(p.sig, c.sig)) AS BIGINT) AS hamming
             |FROM sig p JOIN sig c ON c.media_id >= 400
             |WHERE p.media_id < 400
             |  AND bit_count(xor(p.sig, c.sig)) <= 3
             |ORDER BY probe_id, corpus_id""".stripMargin)),

    // GPT-style sequence layout: concatenate docs in id order, cut every
    // 512 tokens; each doc's (seq_id, offset) start position plus
    // whether it straddles a cut — the pretraining packing shape, where
    // m05 bins whole items and this SPLITS the stream at exact budgets
    Q("m06_sequence_layout",
      (s, dir) => {
        import s.implicits._
        import graft.operators.{Multimodal, TextOps}
        val docs = Tables(s, dir, "documents")
          .select($"doc_id",
            size(TextOps.tokens($"text")).cast("long").as("n_tok"))
        Multimodal.sequenceLayout(docs, "doc_id", "n_tok", seqLen = 512L)
          .select($"doc_id", $"n_tok", $"seq_id", $"offset", $"spans_boundary")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id,
             |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
             |      AS n_tok
             |  FROM documents),
             |c AS (SELECT doc_id, n_tok,
             |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
             |  FROM d)
             |SELECT doc_id, n_tok,
             |  CAST(st // 512 AS BIGINT) AS seq_id,
             |  CAST(st % 512 AS BIGINT) AS offset,
             |  (st % 512) + n_tok > 512 AS spans_boundary
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- p03: hybrid retrieval — reciprocal-rank fusion of the BM25
    //      sparse ranking (t22's terms) and the dense cosine ranking
    //      (embedding 0 as the query vector, s01's construction). Only
    //      RANKS enter the fusion (1/(60+r)), so no cross-family score
    //      normalization, and the fused doubles replay exactly in SQL.
    //      Both inputs are top-20 bounded, fusion is list-grain ----
    Q("p03_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        graft.operators.Retrieval.hybridTopKRrf(
          Tables(s, dir, "documents"), "doc_id", "text",
          queryTerms = Seq("hash", "join", "vector"),
          emb = Tables(s, dir, "embeddings"),
          queryVec = Tables(s, dir, "embeddings").filter($"vec_id" === 0),
          k = 10, kEach = 20)
      },
      Some(s"""WITH base AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents
             |), u AS (
             |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             |    CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf_0,
             |    CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf_1,
             |    CAST(len(list_filter(toks, x -> x = 'vector')) AS DOUBLE) AS tf_2
             |  FROM base
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |    sum(CASE WHEN tf_0 > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
             |    sum(CASE WHEN tf_1 > 0 THEN 1.0 ELSE 0.0 END) AS df_1,
             |    sum(CASE WHEN tf_2 > 0 THEN 1.0 ELSE 0.0 END) AS df_2
             |  FROM u
             |), sc AS (
             |  SELECT doc_id, round(
             |    (CASE WHEN tf_0 > 0 THEN ln(1.0 + (n - df_0 + 0.5) / (df_0 + 0.5))
             |       * (tf_0 * 2.2) / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             |     ELSE 0.0 END)
             |    + (CASE WHEN tf_1 > 0 THEN ln(1.0 + (n - df_1 + 0.5) / (df_1 + 0.5))
             |       * (tf_1 * 2.2) / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             |     ELSE 0.0 END)
             |    + (CASE WHEN tf_2 > 0 THEN ln(1.0 + (n - df_2 + 0.5) / (df_2 + 0.5))
             |       * (tf_2 * 2.2) / (tf_2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             |     ELSE 0.0 END), 4) AS score
             |  FROM u, st
             |), sparse_hits AS (
             |  SELECT doc_id, score FROM sc WHERE score > 0.0
             |  ORDER BY score DESC, doc_id LIMIT 20
             |), sparse AS (
             |  SELECT doc_id,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS r_s
             |  FROM sparse_hits
             |), dense AS (
             |  SELECT e.vec_id AS doc_id,
             |    row_number() OVER (ORDER BY
             |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                   CAST(e.embedding AS DOUBLE[])), 5) DESC,
             |      e.vec_id) AS r_d
             |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
             |  WHERE q.vec_id = 0
             |  QUALIFY r_d <= 20
             |)
             |SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
             |  round(coalesce(1.0 / (60 + r_s), 0.0)
             |      + coalesce(1.0 / (60 + r_d), 0.0), 6) AS rrf
             |FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
             |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // End-to-end retrieval evaluation (p05): BM25 retrieval feeding the
    // trec_eval metrics in ONE DAG — three 2-term queries retrieve
    // top-20 (t22's scorer), ranks assigned on the round-4 score (the
    // established float contract), and Retrieval.irMetrics judges them
    // against deterministic qrels (docs with >= 3 occurrences of EVERY
    // query term — graded strictly enough that recall/nDCG are
    // non-degenerate). The integration proof that retrieval and
    // evaluation compose; the oracle replays all three BM25 runs and
    // the metric chain.
    Q("p05_retrieval_eval",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
        val qs = Seq("qa" -> Seq("merge", "scan"),
          "qb" -> Seq("hash", "join"), "qc" -> Seq("sort", "window"))
        val runs = qs.map { case (qid, terms) =>
          graft.operators.Retrieval.bm25TopK(docs, "doc_id", "text",
              terms, k = 20)
            .select(lit(qid).as("qid"), col("doc_id"),
              row_number().over(
                Window.orderBy(col("score").desc, col("doc_id")))
                .as("rank"))
        }.reduce(_ unionByName _)
        val toks = filter(split($"text", " "), t => t =!= "")
        val qrels = qs.map { case (qid, terms) =>
          docs.filter(terms.map(t =>
              size(filter(toks, x => x === lit(t))) >= 3).reduce(_ && _))
            .select(lit(qid).as("qid"), $"doc_id")
        }.reduce(_ unionByName _)
        graft.operators.Retrieval.irMetrics(runs, "qid", "doc_id", "rank",
            qrels, "qid", "doc_id", k = 10)
          .orderBy($"query")
      },
      Some("""             |WITH base AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |run_qa AS (
             |  SELECT 'qa' AS qid, doc_id,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM (
             |    SELECT doc_id, round(
             |    (CASE WHEN tf_0 > 0 THEN ln(1.0 + (n - df_0 + 0.5) / (df_0 + 0.5)) * (tf_0 * 2.2) / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END)
             |    + (CASE WHEN tf_1 > 0 THEN ln(1.0 + (n - df_1 + 0.5) / (df_1 + 0.5)) * (tf_1 * 2.2) / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END), 4) AS score
             |    FROM (
             |      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             |      CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) AS tf_0,
             |      CAST(len(list_filter(toks, x -> x = 'scan')) AS DOUBLE) AS tf_1
             |      FROM base) u, (
             |      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |      sum(CASE WHEN tf_0 > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
             |      sum(CASE WHEN tf_1 > 0 THEN 1.0 ELSE 0.0 END) AS df_1
             |      FROM (SELECT CAST(len(toks) AS DOUBLE) AS dl,
             |      CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) AS tf_0,
             |      CAST(len(list_filter(toks, x -> x = 'scan')) AS DOUBLE) AS tf_1
             |        FROM base) u0) st
             |    WHERE (
             |    (CASE WHEN tf_0 > 0 THEN ln(1.0 + (n - df_0 + 0.5) / (df_0 + 0.5)) * (tf_0 * 2.2) / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END)
             |    + (CASE WHEN tf_1 > 0 THEN ln(1.0 + (n - df_1 + 0.5) / (df_1 + 0.5)) * (tf_1 * 2.2) / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END)) > 0.0
             |    ORDER BY score DESC, doc_id LIMIT 20)),
             |run_qb AS (
             |  SELECT 'qb' AS qid, doc_id,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM (
             |    SELECT doc_id, round(
             |    (CASE WHEN tf_0 > 0 THEN ln(1.0 + (n - df_0 + 0.5) / (df_0 + 0.5)) * (tf_0 * 2.2) / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END)
             |    + (CASE WHEN tf_1 > 0 THEN ln(1.0 + (n - df_1 + 0.5) / (df_1 + 0.5)) * (tf_1 * 2.2) / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END), 4) AS score
             |    FROM (
             |      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             |      CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf_0,
             |      CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf_1
             |      FROM base) u, (
             |      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |      sum(CASE WHEN tf_0 > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
             |      sum(CASE WHEN tf_1 > 0 THEN 1.0 ELSE 0.0 END) AS df_1
             |      FROM (SELECT CAST(len(toks) AS DOUBLE) AS dl,
             |      CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf_0,
             |      CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf_1
             |        FROM base) u0) st
             |    WHERE (
             |    (CASE WHEN tf_0 > 0 THEN ln(1.0 + (n - df_0 + 0.5) / (df_0 + 0.5)) * (tf_0 * 2.2) / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END)
             |    + (CASE WHEN tf_1 > 0 THEN ln(1.0 + (n - df_1 + 0.5) / (df_1 + 0.5)) * (tf_1 * 2.2) / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END)) > 0.0
             |    ORDER BY score DESC, doc_id LIMIT 20)),
             |run_qc AS (
             |  SELECT 'qc' AS qid, doc_id,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM (
             |    SELECT doc_id, round(
             |    (CASE WHEN tf_0 > 0 THEN ln(1.0 + (n - df_0 + 0.5) / (df_0 + 0.5)) * (tf_0 * 2.2) / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END)
             |    + (CASE WHEN tf_1 > 0 THEN ln(1.0 + (n - df_1 + 0.5) / (df_1 + 0.5)) * (tf_1 * 2.2) / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END), 4) AS score
             |    FROM (
             |      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             |      CAST(len(list_filter(toks, x -> x = 'sort')) AS DOUBLE) AS tf_0,
             |      CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf_1
             |      FROM base) u, (
             |      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |      sum(CASE WHEN tf_0 > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
             |      sum(CASE WHEN tf_1 > 0 THEN 1.0 ELSE 0.0 END) AS df_1
             |      FROM (SELECT CAST(len(toks) AS DOUBLE) AS dl,
             |      CAST(len(list_filter(toks, x -> x = 'sort')) AS DOUBLE) AS tf_0,
             |      CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf_1
             |        FROM base) u0) st
             |    WHERE (
             |    (CASE WHEN tf_0 > 0 THEN ln(1.0 + (n - df_0 + 0.5) / (df_0 + 0.5)) * (tf_0 * 2.2) / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END)
             |    + (CASE WHEN tf_1 > 0 THEN ln(1.0 + (n - df_1 + 0.5) / (df_1 + 0.5)) * (tf_1 * 2.2) / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END)) > 0.0
             |    ORDER BY score DESC, doc_id LIMIT 20)),
             |runs AS (SELECT * FROM run_qa UNION ALL SELECT * FROM run_qb
             |  UNION ALL SELECT * FROM run_qc),
             |qrels AS (
             |  SELECT 'qa' AS qid, doc_id FROM base WHERE len(list_filter(toks, x -> x = 'merge')) >= 3 AND len(list_filter(toks, x -> x = 'scan')) >= 3
             |  UNION ALL SELECT 'qb' AS qid, doc_id FROM base WHERE len(list_filter(toks, x -> x = 'hash')) >= 3 AND len(list_filter(toks, x -> x = 'join')) >= 3
             |  UNION ALL SELECT 'qc' AS qid, doc_id FROM base WHERE len(list_filter(toks, x -> x = 'sort')) >= 3 AND len(list_filter(toks, x -> x = 'window')) >= 3),
             |perq AS (SELECT qid, count(*) AS n_rel FROM qrels GROUP BY 1),
             |hits AS (
             |  SELECT r.qid, min(r.rank) AS first_rel_rank,
             |    sum(CASE WHEN r.rank <= 10 THEN 1 ELSE 0 END) AS hits_at_k,
             |    sum(CASE WHEN r.rank <= 10 THEN
             |      CAST(round(1e6 / (ln(r.rank + 1.0) / ln(2.0)), 0) AS BIGINT)
             |      ELSE 0 END) AS dcg_micro
             |  FROM runs r JOIN qrels q ON r.qid = q.qid AND r.doc_id = q.doc_id
             |  GROUP BY r.qid),
             |idcg AS (
             |  SELECT qid, n_rel,
             |    CAST(list_sum(list_transform(range(1, least(n_rel, 10) + 1),
             |      rk -> CAST(round(1e6 / (ln(rk + 1.0) / ln(2.0)), 0)
             |        AS BIGINT))) AS BIGINT) AS idcg_micro
             |  FROM perq)
             |SELECT i.qid AS query, CAST(i.n_rel AS BIGINT) AS n_rel,
             |  CAST(h.first_rel_rank AS BIGINT) AS first_rel_rank,
             |  coalesce(CAST(round(1e6 / h.first_rel_rank, 0) AS BIGINT), 0)
             |    AS rr_micro,
             |  CAST(coalesce(h.hits_at_k, 0) AS BIGINT) AS hits_at_k,
             |  round(CAST(coalesce(h.hits_at_k, 0) AS DOUBLE)
             |    / CAST(i.n_rel AS DOUBLE), 6) AS recall_at_k,
             |  CAST(coalesce(h.dcg_micro, 0) AS BIGINT) AS dcg_micro,
             |  i.idcg_micro,
             |  round(CAST(coalesce(h.dcg_micro, 0) AS DOUBLE)
             |    / CAST(i.idcg_micro AS DOUBLE), 6) AS ndcg
             |FROM idcg i LEFT JOIN hits h ON i.qid = h.qid
             |ORDER BY i.qid""".stripMargin)),

    // End-to-end curation pipeline (p04): the three data-curation
    // stages composed in ONE DAG — (1) hard quality gates (the t44
    // funnel's survivor semantics), (2) per-language length calibration
    // keeping the central u∈[0.05, 0.95] band (t46 — a fixed length cut
    // would bite each language differently), (3) temperature-mixed keep
    // draw over the SURVIVORS' counts (t15 — rates computed after
    // filtering, the order that matters). Per-language survivor counts
    // as the compact deterministic output; the oracle restates every
    // stage as a CTE chain over the same md5 draw.
    Q("p04_curation_pipeline",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val gated = docs
          .filter($"n_chars" >= 100 && $"n_chars" <= 20000)
          .filter(size(graft.operators.TextOps.tokens($"text")) >= 10)
        val cal = graft.operators.TextOps.quantileNormalize(
            gated, $"lang", $"n_chars".cast("long"))
          .select($"grp".as("lang"), $"score", $"u")
        // the calibration table is bounded BY CONSTRUCTION (langs ×
        // ≤20k distinct gated lengths) — broadcast it so the row-grain
        // corpus never shuffles for the band cut
        val banded = gated
          .select($"doc_id", $"lang", $"n_chars".cast("long").as("score"))
          .join(broadcast(cal), Seq("lang", "score"))
          .filter($"u" >= 0.05 && $"u" <= 0.95)
        graft.operators.Mixing.temperatureSample(banded, "lang", "doc_id",
            alpha = 0.3, targetFrac = 0.5)
          .filter($"keep")
          .groupBy($"lang").agg(count(lit(1)).as("n_kept"))
          .orderBy($"lang")
      },
      Some("""WITH gated AS (
             |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS score
             |  FROM documents
             |  WHERE n_chars BETWEEN 100 AND 20000
             |    AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 10),
             |g AS (SELECT lang, score, count(*) AS c FROM gated GROUP BY 1, 2),
             |r AS (
             |  SELECT lang, score,
             |    2 * coalesce(sum(c) OVER (PARTITION BY lang ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      + c + 1 AS u_num2,
             |    2 * (sum(c) OVER (PARTITION BY lang) + 1) AS u_den2
             |  FROM g),
             |cal AS (
             |  SELECT lang, score,
             |    round(CAST(u_num2 AS DOUBLE) / CAST(u_den2 AS DOUBLE), 6) AS u
             |  FROM r),
             |banded AS (
             |  SELECT ga.doc_id, ga.lang
             |  FROM gated ga JOIN cal USING (lang, score)
             |  WHERE u >= 0.05 AND u <= 0.95),
             |c AS (SELECT lang, count(*) AS n_d FROM banded GROUP BY lang),
             |t AS (SELECT sum(n_d) AS n_tot, sum(pow(n_d, 0.3)) AS z FROM c),
             |rt AS (
             |  SELECT lang, round(least(1.0,
             |    0.5 * n_tot * (pow(n_d, 0.3) / z) / n_d), 6) AS rate
             |  FROM c CROSS JOIN t),
             |kept AS (
             |  SELECT b.doc_id, b.lang
             |  FROM banded b JOIN rt USING (lang)
             |  WHERE (('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 8))::BIGINT
             |    % 1000000) / 1000000.0 < rate)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
             |FROM kept GROUP BY lang ORDER BY lang""".stripMargin))
  )
}
