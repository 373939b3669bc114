package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Retrieval, TextOps}

/** BM25 retrieval: the index surface and the map-side scoring surface
  * must agree (same tokenizer, same df/N/avgdl), and the chunk-level
  * scoring must sit on t19's chunk layout contract. End-to-end score
  * values are oracled by the t22/p02 gates; these tests pin the
  * internal consistency that the gates cannot see.
  */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("bm25Index df and stats agree with the scoring path's derivation") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents")
    val (postings, doclens, termdf, stats) =
      Retrieval.bm25Index(docs, "doc_id", "text")
    val row = stats.collect().head
    assert(row.getLong(0) == docs.count(), "index N != corpus size")
    // avgdl from the index equals the direct token-length average
    val direct = docs.select(avg(size(TextOps.tokens($"text"))))
      .collect().head.getDouble(0)
    assert(math.abs(row.getDouble(1) - direct) < 1e-9)
    // per-term df from the rolled-up table equals a direct contains-count
    for (term <- Seq("hash", "join", "vector")) {
      val fromIndex = termdf.filter($"term" === term)
        .collect().headOption.map(_.getLong(1)).getOrElse(0L)
      val directDf = docs
        .filter(array_contains(TextOps.tokens($"text"), term)).count()
      assert(fromIndex == directDf, s"df mismatch for '$term'")
    }
    // postings tf sums to the doc length over all terms
    val tfSum = postings.agg(sum($"tf")).collect().head.getLong(0)
    val dlSum = doclens.agg(sum($"dl")).collect().head.getLong(0)
    assert(tfSum == dlSum, "sum(tf) over postings != sum(dl)")
    spark.catalog.clearCache()
  }

  test("persisted-index serving reproduces map-side scoring bit-for-bit") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_spec")
      .resolve("idx").toString
    Retrieval.bm25IndexWrite(docs, "doc_id", "text", dir)
    val terms = Seq("hash", "join", "vector")
    val viaIndex = Retrieval.bm25TopKFromIndex(spark, dir, terms, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    spark.catalog.clearCache()
    val mapSide = Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    spark.catalog.clearCache()
    // exact equality INCLUDING scores and rank order — the layout stores
    // integer-valued doubles and serving mirrors the weight arithmetic,
    // so there is no summation-order caveat to tolerate here
    assert(viaIndex == mapSide,
      s"index serving diverged: ${viaIndex.diff(mapSide)} vs ${mapSide.diff(viaIndex)}")
    // rebuild with the same corpus is a no-op (ident match)
    val p = graft.operators.PersistedLayout.identPath(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val t1 = fs.getFileStatus(p).getModificationTime
    Retrieval.bm25IndexWrite(docs, "doc_id", "text", dir)
    assert(fs.getFileStatus(p).getModificationTime == t1,
      "matching-ident rebuild was not skipped")
  }

  test("append maintenance: crashed append cannot serve; extended ident forces rebuild") {
    import spark.implicits._
    val dir = graft.Scratch.dir("retr_spec_bm25_append")
    val docs = Tables(spark, sf, "documents").filter($"doc_id" < 80)
    val basePart = docs.filter($"doc_id" % 4 === 1 || $"doc_id" % 4 === 2)
    Retrieval.bm25IndexWrite(basePart, "doc_id", "text", dir)
    // CHAINED appends (the daily-ingest shape): two disjoint batches land
    // one after the other; serving must equal map-side scoring over the
    // full union, bit-for-bit (exact integer-sum stats carry through
    // every append)
    Retrieval.bm25IndexAppend(
      docs.filter($"doc_id" % 4 === 3), "doc_id", "text", dir)
    Retrieval.bm25IndexAppend(
      docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dir)
    val viaIndex = Retrieval.bm25TopKFromIndex(spark, dir, Seq("table"), k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mapSide = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("table"), k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    spark.catalog.clearCache()
    assert(viaIndex == mapSide,
      s"appended index diverged: ${viaIndex.diff(mapSide)} vs ${mapSide.diff(viaIndex)}")
    // a crashed append leaves the sentinel: serving must refuse
    LayoutCrash.writeIdent(dir, "graft-bm25-appending! whatever")
    val e2 = intercept[IllegalArgumentException] {
      Retrieval.bm25TopKFromIndex(spark, dir, Seq("table"), k = 5)
    }
    assert(e2.getMessage.contains("not servable"))
    // rebuild heals (sentinel ident never matches → full rebuild)
    Retrieval.bm25IndexWrite(basePart, "doc_id", "text", dir)
    assert(Retrieval.bm25TopKFromIndex(spark, dir, Seq("table"), k = 5)
      .collect().nonEmpty)
  }

  test("append recomputes df only for the buckets the batch's postings " +
      "touch; untouched termdf buckets keep their files") {
    import spark.implicits._
    val dir = graft.Scratch.dir("retr_spec_bm25_touch")
    val docs = Tables(spark, sf, "documents").filter($"doc_id" < 80)
    Retrieval.bm25IndexWrite(
      docs.filter($"doc_id" % 4 =!= 0), "doc_id", "text", dir)
    // batch with ONE distinct term: exactly one bucket may be touched.
    // The touched set is derived from the batch's exploded terms (not
    // from a recompute of the (term, doc) aggregate) — this pins that
    // the cheap derivation still covers every bucket the batch's
    // postings landed in, and no more.
    val batch = Seq((1000L, "vector"), (1001L, "vector vector"))
      .toDF("doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def termdfFiles: Map[String, Long] = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$dir/termdf"), true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          b += f.getPath.toString -> f.getModificationTime
      }
      b.result()
    }
    val before = termdfFiles
    Retrieval.bm25IndexAppend(batch, "doc_id", "text", dir)
    val after = termdfFiles
    val touchedBucket = spark.range(1).select(
      pmod(xxhash64(lit("vector")), lit(64L))).as[Long].collect().head
    // every pre-append file outside the touched bucket survives untouched
    val untouchedLost = before.keys.filter(p =>
      !p.contains(s"bucket=$touchedBucket") && !after.contains(p))
    assert(untouchedLost.isEmpty,
      s"append rewrote untouched termdf buckets: $untouchedLost")
    // the touched bucket WAS rewritten (its old files are gone)
    assert(before.keys.filter(_.contains(s"bucket=$touchedBucket"))
      .forall(p => !after.contains(p)),
      "touched bucket's termdf was not recomputed")
    // and df for the appended term reflects the batch: serving equality
    // over the union corpus (would fail if the touched set missed the
    // bucket and served a stale df)
    val union = docs.filter($"doc_id" % 4 =!= 0)
      .select($"doc_id", $"text").unionByName(batch)
    val viaIndex = Retrieval.bm25TopKFromIndex(spark, dir, Seq("vector"), k = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mapSide = Retrieval.bm25TopK(union, "doc_id", "text", Seq("vector"), k = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    spark.catalog.clearCache()
    assert(viaIndex == mapSide,
      s"post-append df stale: ${viaIndex.diff(mapSide)} vs ${mapSide.diff(viaIndex)}")
  }

  test("phrase index: 3-term and repeated-term phrases match a direct scan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b"),   // "a b c" x2, "a b" x3
      (2L, "a a a b c"),         // "a a" x2 (overlapping), "a b c" x1
      (3L, "c b a"),             // none
      (4L, "a b")                // "a b" x1
    ).toDF("doc_id", "text")
    val layout = graft.Scratch.dir("retrievalspec_pos_idx")
    Retrieval.positionalIndexWrite(docs, "doc_id", "text", layout)
    def matches(phrase: Seq[String]): Map[Long, Long] =
      Retrieval.phraseMatchesFromIndex(spark, layout, phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(matches(Seq("a", "b", "c")) == Map(1L -> 2L, 2L -> 1L))
    assert(matches(Seq("a", "b")) == Map(1L -> 3L, 2L -> 1L, 4L -> 1L))
    // repeated term: overlapping occurrences both count (positions walk,
    // not non-overlapping scan)
    assert(matches(Seq("a", "a")) == Map(2L -> 2L))
    // single-term degenerate case: plain term frequency
    assert(matches(Seq("c")) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    // absent term -> empty, not an error
    assert(matches(Seq("a", "zz")).isEmpty)
  }

  test("chunk scoring units align with TextOps.chunk's layout") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents").filter($"doc_id" < 50)
    val scored = Retrieval.bm25TopKChunks(docs, "doc_id", "text",
      queryTerms = Seq("table"), k = 10000)
    val layout = TextOps.chunk(docs, "doc_id", "text", 64, 48)
      .select($"doc_id", $"chunk_id", $"tok_start".as("expected_start"))
    // every scored chunk exists in the t19 layout at the same tok_start
    val mismatched = scored.join(layout, Seq("doc_id", "chunk_id"), "left_outer")
      .filter($"expected_start".isNull || $"expected_start" =!= $"tok_start")
    assert(mismatched.isEmpty, "scored chunk ids diverge from chunk layout")
    spark.catalog.clearCache()
  }

  test("rm3TopK: expansion retrieves vocabulary-mismatch docs plain BM25 cannot") {
    import spark.implicits._
    // docs 1-2 match the query and carry 'cherry'; doc 3 shares ONLY
    // 'cherry' (zero query terms); doc 4 shares nothing
    val docs = Seq(
      (1L, "apple cherry"), (2L, "apple cherry"),
      (3L, "cherry date"), (4L, "fig grape")).toDF("doc_id", "text")
    val plain = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("apple"), k = 4)
      .as[(Long, Double)].collect().map(_._1).toSet
    spark.catalog.clearCache()
    val rm3 = Retrieval.rm3TopK(docs, "doc_id", "text", Seq("apple"),
        fbDocs = 2, fbTerms = 2, alpha = 0.5, k = 4)
      .as[(Long, Double)].collect().map(_._1).toSet
    spark.catalog.clearCache()
    assert(plain == Set(1L, 2L), s"plain BM25 must miss doc 3: $plain")
    assert(rm3.contains(3L), s"RM3 must expand to 'cherry' and reach doc 3: $rm3")
    assert(!rm3.contains(4L), s"doc 4 shares no term with the expanded query: $rm3")
    // original-query docs still outrank the expansion-only doc (alpha
    // keeps the original terms dominant)
    val ranked = Retrieval.rm3TopK(docs, "doc_id", "text", Seq("apple"),
        fbDocs = 2, fbTerms = 2, alpha = 0.5, k = 4)
      .as[(Long, Double)].collect()
    assert(ranked.take(2).map(_._1).toSet == Set(1L, 2L), ranked.mkString(","))
    spark.catalog.clearCache()
  }

  test("rm3TopK: original-term weights come from the FULL feedback model, any id type") {
    import spark.implicits._
    // string ids (the id path must be type-generic), and a query term
    // 'q' that ranks BELOW the top-fbTerms in the feedback model: with
    // alpha=0 its entire weight is its feedback-model weight, so a doc
    // sharing ONLY 'q' is retrieved iff the interpolation reads the
    // full model (a top-fbTerms-truncated lookup would zero it out)
    val docs = Seq(
      ("d1", "q e1 e1 e1"),            // feedback doc: e1 dominates
      ("d2", "q e2 e2 e2"),            // feedback doc: e2 dominates
      ("d4", "q x1 x2 x3 x4 x5 x6 x7 x8") // long; shares ONLY 'q'
    ).toDF("doc_id", "text")
    val got = Retrieval.rm3TopK(docs, "doc_id", "text", Seq("q"),
        fbDocs = 2, fbTerms = 2, alpha = 0.0, k = 5)
      .as[(String, Double)].collect().map(_._1).toSet
    spark.catalog.clearCache()
    // model over {d1, d2}: top-2 terms are e1, e2; q is third with
    // nonzero weight — d4 must surface through it
    assert(got.contains("d4"),
      s"query term outside top-fbTerms lost its full-model weight: $got")
  }

  test("rm3TopK releases only the caches it owns") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents").filter($"doc_id" < 200)
    val bystander = spark.range(10).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      bystander.count()
      Retrieval.rm3TopK(docs, "doc_id", "text", Seq("hash", "join"),
        fbDocs = 5, fbTerms = 4, k = 5).collect()
      assert(bystander.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE,
        "rm3TopK dropped a cache it does not own")
    } finally {
      bystander.unpersist(false)
      spark.catalog.clearCache() // the returned rescore frame's cache (caller-owned)
    }
  }

  test("qlDirichlet: hand-computed scores, background mass, unseen-term drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b"),   // tf(a)=2, tf(b)=1, dl=3
      (2L, "b c"),     // matches only c
      (3L, "c c c"),   // matches only c, higher tf
      (4L, "d d"),     // matches nothing -> not retrieved
      (5L, "")         // dl=0 -> excluded
    ).toDF("doc_id", "text")
    val mu = 10L
    def got(terms: Seq[String]): Seq[(Long, Long)] = {
      val r = Retrieval.qlDirichletTopK(docs, "doc_id", "text", terms, mu, k = 10)
        .as[(Long, Long)].collect().toSeq
      spark.catalog.clearCache()
      r
    }
    // clen = 3 + 2 + 3 + 2 + 0 = 10; cf(a)=2, cf(c)=4
    def micro(tf: Long, cf: Long, dl: Long): Long =
      math.round(math.log((tf.toDouble + (cf * mu).toDouble / 10.0) /
        (dl + mu).toDouble) * 1e6)
    val expected = Seq(
      1L -> (micro(2, 2, 3) + micro(0, 4, 3)),  // a present, c background
      2L -> (micro(0, 2, 2) + micro(1, 4, 2)),
      3L -> (micro(0, 2, 3) + micro(3, 4, 3)))
      .sortBy { case (id, s) => (-s, id) }
    assert(got(Seq("a", "c")) == expected, got(Seq("a", "c")).toString)
    // a term absent from the whole collection contributes 0 to every doc:
    // adding it must not change scores or ranking
    assert(got(Seq("a", "c", "zebra")) == expected)
    // doc 4 (no query term) and doc 5 (dl = 0) never retrieved
    assert(!got(Seq("a", "c")).exists(r => r._1 == 4L || r._1 == 5L))
  }

  test("bm25f: title weight breaks body ties; single field ranks like BM25") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", "gamma delta gamma"),
      (2L, "zeta beta", "gamma delta alpha"), // alpha only in body
      (3L, "zeta eta", "delta delta delta")   // no query term
    ).toDF("doc_id", "title", "body")
    val fields = Seq(
      (TextOps.tokens($"title"), 2.0, 0.75),
      (TextOps.tokens($"body"), 1.0, 0.4))
    val got = Retrieval.bm25fTopK(docs, "doc_id", fields, Seq("alpha"))
      .as[(Long, Double)].collect().toSeq
    spark.catalog.clearCache()
    // both docs have one 'alpha'; doc 1's is in the weighted title field
    assert(got.map(_._1) == Seq(1L, 2L), got.toString)
    assert(got.head._2 > got(1)._2)
    // single-field BM25F is a monotone transform of BM25
    // (tf/B/(k1+tf/B) = tf/(tf+k1·B)) — rankings must coincide
    val corpus = Tables(spark, sf, "documents").filter($"doc_id" < 300)
    val f1 = Retrieval.bm25fTopK(corpus, "doc_id",
        Seq((TextOps.tokens($"text"), 1.0, 0.75)), Seq("merge", "scan"), k = 15)
      .as[(Long, Double)].collect().map(_._1).toSeq
    spark.catalog.clearCache()
    val classic = Retrieval.bm25TopK(corpus, "doc_id", "text",
        Seq("merge", "scan"), k = 15)
      .as[(Long, Double)].collect().map(_._1).toSeq
    spark.catalog.clearCache()
    assert(f1 == classic, s"bm25f=$f1 bm25=$classic")
    // a doc with an empty field scores finitely (no NaN poisoning)
    val short = Seq((1L, "alpha", ""), (2L, "", "alpha beta"))
      .toDF("doc_id", "title", "body")
    val s2 = Retrieval.bm25fTopK(short, "doc_id",
        Seq((TextOps.tokens($"title"), 2.0, 0.75),
          (TextOps.tokens($"body"), 1.0, 0.4)), Seq("alpha"))
      .as[(Long, Double)].collect().toSeq
    spark.catalog.clearCache()
    assert(s2.size == 2 && s2.forall(r => !r._2.isNaN && r._2 > 0), s2.toString)
    intercept[IllegalArgumentException] {
      Retrieval.bm25fTopK(docs, "doc_id", Seq.empty, Seq("alpha"))
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25fTopK(docs, "doc_id", fields, Seq("a", "a"))
    }
  }

  test("irMetrics: hand MRR/recall/nDCG with micro gains; zero-retrieval queries") {
    import spark.implicits._
    val runs = Seq(("q1", "x", 1L), ("q1", "a", 2L), ("q1", "y", 3L),
      ("q1", "b", 4L), ("q2", "z", 1L)).toDF("query", "doc", "rank")
    val qrels = Seq(("q1", "a"), ("q1", "b"), ("q1", "c"), ("q2", "w"))
      .toDF("query", "doc")
    val got = Retrieval.irMetrics(runs, "query", "doc", "rank",
        qrels, "query", "doc", k = 3)
      .orderBy($"query")
      .as[(String, Long, Option[Long], Long, Long, Double, Long, Long, Double)]
      .collect().toSeq
    def g(rank: Long): Long =
      math.round(1e6 / (math.log(rank + 1.0) / math.log(2.0)))
    // q1: first relevant at rank 2 (rr 500000); within k=3 only 'a'
    // counts (b sits at rank 4) -> recall 1/3; dcg = gain(2);
    // idcg = gain(1)+gain(2)+gain(3) for min(n_rel=3, k=3) ideal slots
    val idcg1 = g(1) + g(2) + g(3)
    val nd1 = BigDecimal(g(2).toDouble / idcg1.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      ("q1", 3L, Some(2L), 500000L, 1L, 0.333333, g(2), idcg1, nd1),
      // q2 retrieved nothing relevant: zeros, not nulls (trec_eval)
      ("q2", 1L, None, 0L, 0L, 0.0, 0L, g(1), 0.0)), got.toString)
    intercept[IllegalArgumentException] {
      Retrieval.irMetrics(runs, "query", "doc", "rank",
        qrels, "query", "doc", k = 0)
    }
  }

  test("qlDirichlet: guards — empty/duplicate terms, non-positive mu") {
    import spark.implicits._
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Retrieval.qlDirichletTopK(docs, "doc_id", "text", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Retrieval.qlDirichletTopK(docs, "doc_id", "text", Seq("a", "a"))
    }
    intercept[IllegalArgumentException] {
      Retrieval.qlDirichletTopK(docs, "doc_id", "text", Seq("a"), mu = 0L)
    }
  }
}
