package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("shingles: short docs get empty sets, no descending-sequence blowup") {
    import spark.implicits._
    val df = Seq((1L, "one two"), (2L, "one two three four")).toDF("id", "text")
    val rows = df.select($"id", TextOps.shingles($"text", 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(rows(1L).isEmpty)
    assert(rows(2L) == Seq("one two three", "two three four"))
  }

  test("ngramNovelty: hand fractions, all-known 0, all-new 1, short doc null") {
    import spark.implicits._
    val ref = Seq(Tuple1("a b c d")).toDF("text") // grams: "a b c", "b c d"
    val docs = Seq(
      (1L, "a b c d e"), // {"a b c","b c d","c d e"}: 2 of 3 known
      (2L, "x y z w"),   // nothing known -> novelty 1
      (3L, "a b"),       // no full 3-gram -> (0, 0, null)
      (4L, "a b c")      // fully known -> novelty 0
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps
      .ngramNovelty(docs, "doc_id", "text", ref, "text")
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((3L, 2L, Some(0.3333))),
      2L -> ((2L, 0L, Some(1.0))),
      3L -> ((0L, 0L, None)),
      4L -> ((1L, 1L, Some(0.0)))), got.toString)
  }

  test("heapsLaw: hand-fit beta over growing vocab, flat vocab fits ~0") {
    import spark.implicits._
    // bucketSize=1: each doc is a bucket. Cumulative points:
    // (N,V) = (2,2), (4,3), (7,5) — vocabulary still growing
    val docs = Seq((0L, "a b"), (1L, "a c"), (2L, "a d e"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.heapsLaw(docs, "doc_id", "text", 1L)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    // replicate the quantize-then-moments chain exactly
    val pts = Seq((2L, 2L), (4L, 3L), (7L, 5L)).map { case (n, v) =>
      (math.round(math.log(n.toDouble) * 1e6),
        math.round(math.log(v.toDouble) * 1e6))
    }
    val k = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val beta = (k.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
      (k.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val kLn = r4((sy.toDouble / 1e6 - beta * (sx.toDouble / 1e6)) / k.toDouble)
    assert(got == Seq((0L, 2L, 2L, r4(beta), kLn), (1L, 4L, 3L, r4(beta), kLn),
      (2L, 7L, 5L, r4(beta), kLn)), got.toString)
    // sublinear growth: 0 < beta < 1 on this corpus
    assert(r4(beta) > 0.5 && r4(beta) < 1.0, beta.toString)
    // saturated vocabulary: V flat after bucket 0 -> beta fits ~0
    val flat = Seq((0L, "a b c"), (1L, "a b c"), (2L, "b c a"))
      .toDF("doc_id", "text")
    val fGot = graft.operators.TextOps.heapsLaw(flat, "doc_id", "text", 1L)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(fGot.forall(r => r._4 == 0.0), fGot.mkString(","))
    Caches.sweep(spark)
  }

  test("fingerprint is whitespace/case insensitive") {
    import spark.implicits._
    val df = Seq(Tuple1("A  b\tC"), Tuple1("a b c")).toDF("text")
      .select(TextOps.fingerprint($"text").as("fp"))
    assert(df.distinct().count() == 1)
  }

  test("winnow: shared substring >= w+k-1 chars guarantees a shared fingerprint") {
    import spark.implicits._
    // k=8, w=4: the paper's guarantee threshold is 11 shared chars.
    // Docs 1/2 share a 24-char run; doc 3 is disjoint text.
    val common = "the quick brown fox jump"
    val df = Seq(
      (1L, s"AAAA $common BBBB"),
      (2L, s"XXXXXXX $common YYY"),
      (3L, "completely different words here entirely")).toDF("id", "text")
    val fps = TextOps.winnow(df, "id", "text", k = 8, w = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared run must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty, "disjoint text must not collide")
  }

  test("winnow: short docs get empty sets; density obeys the 2/w bound loosely") {
    import spark.implicits._
    val df = Seq(
      (1L, "tiny"),                       // < k chars: zero grams
      (2L, "exactly10!"),                 // 3 grams < w windows: empty
      (3L, "a" * 100)).toDF("id", "text") // 1 distinct gram → 1 fingerprint
    val fps = TextOps.winnow(df, "id", "text", k = 8, w = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(fps(1L).isEmpty && fps(2L).isEmpty)
    assert(fps(3L).size == 1, "uniform text has one gram hash → one fingerprint")
  }

  test("winnow is position-local: an unrelated prefix never changes later fingerprints") {
    import spark.implicits._
    val tail = "shared suffix of plenty length for selection"
    val df = Seq((1L, s"one $tail"), (2L, s"totally different opening $tail"))
      .toDF("id", "text")
    val fps = TextOps.winnow(df, "id", "text", k = 8, w = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    // the winnowing property under any hash: selection depends only on a
    // w+k-1 neighborhood, so the long shared suffix overlaps heavily
    assert((fps(1L) & fps(2L)).size >= 3, s"expected heavy suffix overlap: $fps")
  }

  test("minhash LSH recall: finds exactly the exact-Jaccard pairs at sf0.001") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents")
    val got = Dedup.minhashLsh(docs, "doc_id", "text", 3, 128, 32, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact all-pairs ground truth (feasible at this SF)
    val sh = docs.select($"doc_id", TextOps.shingles($"text", 3).as("sh"))
    val a = sh.select($"doc_id".as("id_a"), $"sh".as("sh_a"))
    val b = sh.select($"doc_id".as("id_b"), $"sh".as("sh_b"))
    val exact = a.join(b, $"id_a" < $"id_b")
      .withColumn("inter", size(array_intersect($"sh_a", $"sh_b")).cast("double"))
      .withColumn("j", round($"inter" / (size($"sh_a") + size($"sh_b") - $"inter"), 3))
      .filter($"j" >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    assert(got == exact, s"LSH missed ${exact -- got}, extra ${got -- exact}")
  }

  test("prefix-filter join: exactly the exact-Jaccard pairs, no misses") {
    import spark.implicits._
    // the prefix-overlap theorem promises ZERO false negatives — unlike
    // LSH there is no probability in it, so the match must be exact
    val docs = Tables(spark, sf, "documents")
    val got = Dedup.prefixJaccardJoin(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = docs.select($"doc_id", TextOps.shingles($"text", 3).as("sh"))
    val a = sh.select($"doc_id".as("id_a"), $"sh".as("sh_a"))
    val b = sh.select($"doc_id".as("id_b"), $"sh".as("sh_b"))
    val exact = a.join(b, $"id_a" < $"id_b")
      .withColumn("inter", size(array_intersect($"sh_a", $"sh_b")).cast("double"))
      .withColumn("j", round($"inter" / (size($"sh_a") + size($"sh_b") - $"inter"), 3))
      .filter($"j" >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    assert(got == exact, s"prefix filter missed ${exact -- got}, extra ${got -- exact}")
  }

  test("prefix join threshold boundary: j == t kept, j just below dropped") {
    import spark.implicits._
    // a doc of k tokens has k-2 tri-shingles; appending one token to its
    // copy gives intersection m over union m+1 → j = m/(m+1) exactly.
    def doc(pfx: String, n: Int, extra: Boolean) =
      ((1 to n).map(i => s"$pfx$i") ++ (if (extra) Seq(s"${pfx}X") else Nil))
        .mkString(" ")
    val docs = Seq(
      (1L, doc("a", 6, extra = false)), (2L, doc("a", 6, extra = true)),  // j=4/5=0.8
      (3L, doc("b", 10, extra = false)), (4L, doc("b", 10, extra = true)), // j=8/9≈0.889
      (5L, doc("c", 5, extra = false)), (6L, doc("c", 5, extra = true)))  // j=3/4=0.75
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardJoin(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 0.8), (3L, 4L, 0.889)), got.toString)
  }

  test("simhash: identical text → identical signature; near-dup → small hamming") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark join filter scan merge sort window batch stream"),
      (2L, "spark join filter scan merge sort window batch stream"),
      (3L, "spark join filter scan merge sort window batch streaming"))
      .toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "id", "text", maxHamming = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.get((1L, 3L)).forall(_ <= 10))
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine($"a", $"b").as("same"),
      Similarity.cosine($"a", $"c").as("orth")).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("cosine codegen path: equals interpreted loop, null contract holds") {
    import spark.implicits._
    // round 17: CosineSim grew doGenCode (the last hot-path
    // CodegenFallback); both paths share one static loop so results
    // must be bit-identical, and the null contract (length mismatch,
    // zero-norm side) must survive codegen's isNull wiring
    val rows = (0 until 200).map { i =>
      val d = 8 + i % 5
      (i.toLong,
        Array.tabulate(d)(j => ((i * 31 + j * 17) % 13 - 6) / 3.0f),
        Array.tabulate(d)(j => ((i * 7 + j * 23) % 11 - 5) / 2.0f))
    }
    val df = rows.toDF("id", "a", "b")
    // codegen (whole-stage) result
    val gen = df.select($"id", Similarity.cosine($"a", $"b").as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1)))).toMap
    // interpreted result through the same shared loop
    rows.foreach { case (id, a, b) =>
      val exp = graft.functions.HashExprs.cosineSimEval(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b), 0, 0)
      assert(gen(id) == exp, s"id=$id got ${gen(id)} expected $exp")
    }
    // null contract: zero-norm side and length mismatch are NULL
    val edge = Seq(
      (1L, Array(0.0f, 0.0f), Array(1.0f, 2.0f)),   // zero norm -> null
      (2L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)) // len mismatch -> null
    ).toDF("id", "a", "b")
      .select($"id", Similarity.cosine($"a", $"b").as("c")).collect()
    assert(edge.forall(_.isNullAt(1)), edge.mkString(","))
    // mixed element types route through the generic loop
    val mixed = Seq((Array(1.0f, 2.0f), Array(1.0, 2.0)))
      .toDF("a", "b")
      .select(Similarity.cosine($"a", $"b")).collect().head.getDouble(0)
    assert(math.abs(mixed - 1.0) < 1e-12)
  }

  test("sq_dist_ll / dot_ll / dot_num equal their HOF encodings") {
    import spark.implicits._
    import graft.functions.HashExprs
    // the codegen'd kernels replaced aggregate(zip_with(...)) folds in
    // the PQ/SRP/MMR paths — pin value-equality against the HOF
    // encodings on random data, plus the null contract (length
    // mismatch; zip_with pads the shorter side with null and poisons)
    val rows = (0 until 100).map { i =>
      val d = 8
      (i.toLong,
        Array.tabulate(d)(j => ((i * 13 + j * 7) % 19 - 9).toLong),
        Array.tabulate(d)(j => ((i * 11 + j * 3) % 17 - 8).toLong),
        Array.tabulate(d)(j => ((i * 5 + j * 29) % 23 - 11) / 4.0f),
        Array.tabulate(d)(j => ((i * 3 + j * 31) % 13 - 6) / 3.0))
    }
    val df = rows.toDF("id", "la", "lb", "fa", "db")
    val got = df.select($"id",
        HashExprs.sq_dist_ll($"la", $"lb").as("sq"),
        HashExprs.dot_ll($"la", $"lb").as("dl"),
        HashExprs.dot_num($"fa", $"db").as("dn"),
        aggregate(zip_with($"la", $"lb", (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v).as("sq_hof"),
        aggregate(zip_with($"la", $"lb", (x, y) => x * y),
          lit(0L), (a, v) => a + v).as("dl_hof"),
        aggregate(zip_with($"fa", $"db", (x, y) => x.cast("double") * y),
          lit(0.0), (a, v) => a + v).as("dn_hof"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(4), s"sq_dist id=${r.getLong(0)}")
      assert(r.getLong(2) == r.getLong(5), s"dot_ll id=${r.getLong(0)}")
      assert(r.getDouble(3) == r.getDouble(6), s"dot_num id=${r.getLong(0)}")
    }
    // null contract: length mismatch -> null, matching the HOF pad/poison
    val mism = Seq((Array(1L, 2L, 3L), Array(1L, 2L)))
      .toDF("a", "b")
      .select(HashExprs.sq_dist_ll($"a", $"b"), HashExprs.dot_ll($"a", $"b"))
      .collect().head
    assert(mism.isNullAt(0) && mism.isNullAt(1))
    // ADVICE r17: dot_num accepts int/long elements like the HOF it
    // replaced (an integer embedding previously threw at plan time)
    val intDot = Seq((Array(1, 2, 3), Array(2L, 3L, 4L)))
      .toDF("ia", "lb")
      .select(HashExprs.dot_num($"ia", $"lb").as("dn"),
        aggregate(zip_with($"ia", $"lb",
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (a, v) => a + v).as("hof"))
      .collect().head
    assert(intDot.getDouble(0) == 20.0 && intDot.getDouble(1) == 20.0)
  }

  test("eq_count_ll / center_scale equal their HOF encodings") {
    import spark.implicits._
    import graft.functions.HashExprs
    // round-18 sweep: the LAST interpreted aggregate(zip_with(...)) fold
    // (minhash_est_jaccard's agreement count) and the standardize map —
    // pin value-equality vs the HOF encodings, INCLUDING the pad
    // semantics on mismatched lengths.
    val sig = Seq(
      (1L, Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 4L)), // 3 agree
      (2L, Array(1L, 2L, 3L), Array(1L, 2L, 3L, 4L)),     // pad: min-len
      (3L, Array.empty[Long], Array.empty[Long]))          // empty -> 0
      .toDF("id", "a", "b")
    sig.select($"id", HashExprs.eq_count_ll($"a", $"b").as("k"),
        aggregate(zip_with($"a", $"b",
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (s, x) => s + x).as("hof"))
      .collect().foreach { r =>
        assert(r.getLong(1) == r.getLong(2), s"eq_count id=${r.getLong(0)}")
      }
    // center_scale: σ=0 dim -> 0.0; ragged rows exercise the pad paths
    // (shorter vq -> null element unless σ==0 at that position; longer
    // vq -> null element past μ/σ)
    val mu = Array(0.5, -1.25, 3.0, 0.0, 2.5, -0.75)
    val sd = Array(1.5, 2.0, 0.0, 1.0, 0.25, 3.5)
    val sdZ = Array(1.5, 2.0, 0.0, 1.0, 0.0, 0.0) // zeros in the pad zone
    val rows = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(6)(j => ((i * 7 + j * 13) % 21 - 10).toLong))) ++
      Seq((100L, Array(1L, 2L, 3L, 4L)),             // shorter than d
        (101L, Array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))) // longer than d
    val df = rows.toDF("id", "vq")
    def hof(sdArr: Array[Double]) =
      zip_with(
        zip_with($"vq", array(mu.map(lit): _*), (x, m) => x.cast("double") - m),
        array(sdArr.map(lit): _*), (t, s) =>
          when(s === 0.0, lit(0.0)).otherwise(t / s))
    Seq(sd, sdZ).foreach { sdArr =>
      df.select($"id",
          HashExprs.center_scale($"vq", array(mu.map(lit): _*),
            array(sdArr.map(lit): _*)).as("k"),
          hof(sdArr).as("hof"))
        .collect().foreach { r =>
          assert(r.getSeq[Any](1) == r.getSeq[Any](2),
            s"center_scale id=${r.getLong(0)}: ${r.getSeq[Any](1)} vs ${r.getSeq[Any](2)}")
        }
    }
  }

  test("brute-force ANN: k rows per query, valid ranks, descending cos") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings")
    val res = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3), 5).collect()
    val byQ = res.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 3)
    byQ.values.foreach { rows =>
      assert(rows.length == 5)
      val sorted = rows.sortBy(_.getAs[Long]("rn"))
      assert(sorted.map(_.getAs[Long]("rn")).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("SRP ANN results are a subset of brute-force candidate space") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings")
    val res = Similarity.srpTopK(emb, emb.filter($"vec_id" < 10), 5, 6, 64).collect()
    assert(res.nonEmpty)
    res.foreach(r => assert(r.getAs[Double]("cos") <= 1.0 + 1e-9))
  }

  test("multimodal decode: header roundtrip + payload stats") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents").limit(50)
    val meta = Multimodal.decodePipeline(spark, docs)
    val joined = meta.join(docs, meta("media_id") === docs("doc_id"))
    val bad = joined.filter(
      col("width") =!= (col("n_chars") % 1024).cast("int") ||
        col("height") =!= (col("doc_id") % 768).cast("int") ||
        col("mean_byte") < 0 || col("mean_byte") > 255).count()
    assert(bad == 0)
    assert(meta.count() == 50)
  }

  test("pmiPhrases ranks the planted collocation first, hand-checked value") {
    import spark.implicits._
    // corpus: 11 token slots, 8 bigram slots; "new york" occurs 3 times,
    // c(new)=c(york)=3 → pmi = ln((3/8)/((3/11)^2)) = ln(5.041666…) ≈ 1.618
    val docs = Seq("new york is big", "i love new york", "new york city")
      .toDF("text")
    val top = TextOps.pmiPhrases(docs, "text", minCount = 2L, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(top.head == (("new", "york", 3L, 1.618)), top.mkString(";"))
    // hapax pairs (minCount=2) never appear despite their higher raw PMI
    assert(top.forall(_._3 >= 2))
  }

  test("langId emits only known languages, deterministic") {
    import spark.implicits._
    val preds = Tables(spark, sf, "documents")
      .select(TextOps.langId($"text").as("p")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "de", "es", "fr", "zh")))
  }

  test("connected components: chain forces multi-round label propagation") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4), triangle 10-11-12, isolated pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: label direction independent of edge order") {
    import spark.implicits._
    // edges listed high-to-low: min label must still win
    val edges = Seq((9L, 7L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("connected components: 300-node chain converges (star contraction)") {
    import spark.implicits._
    // diameter 299 ≫ maxIter: per-round propagation would mislabel; the
    // large-star/small-star alternation must close it in O(log n) rounds
    val edges = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 300 && got.forall(_._2 == 1L))
  }

  test("packBySize: next-fit bound holds, including under duplicate ids") {
    import spark.implicits._
    import graft.operators.Multimodal
    // duplicate ids: a RANGE-framed cumsum would give all three rows the
    // tie-group total and blow the bound (regression for the ROWS frame)
    val dup = Seq((1L, 40000L), (1L, 40000L), (1L, 40000L))
      .toDF("id", "n_bytes")
    val packed = Multimodal.packBySize(dup, "id", "n_bytes", 64000L)
      .groupBy($"bucket")
      .agg(sum($"n_bytes").as("total"), max($"n_bytes").as("mx"))
      .collect()
    assert(packed.nonEmpty)
    packed.foreach(r => assert(r.getLong(1) <= 64000L + r.getLong(2), r))
    // reserved-name collision is rejected up front
    val bad = Seq((1L, 2L, 3L)).toDF("id", "n_bytes", "bucket")
    intercept[IllegalArgumentException] {
      Multimodal.packBySize(bad, "id", "n_bytes", 100L)
    }
  }

  test("connected components: self-loop-only nodes still get a label row") {
    import spark.implicits._
    // contract: one row per node in `edges` — including a node whose only
    // edge is (a, a), e.g. identity edges a caller unions in to guarantee
    // every doc is labeled
    val edges = Seq((1L, 2L), (5L, 5L), (2L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
    // degenerate: ONLY self-loops (zero contraction rounds)
    val onlySelf = Seq((7L, 7L)).toDF("id_a", "id_b")
    val got2 = Dedup.connectedComponents(onlySelf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(7L -> 7L))
  }

  test("connected components: dense components contract the edge set") {
    import spark.implicits._
    // two 20-cliques (190 edges each) + duplicate/reversed noise edges:
    // after contraction the working set must be ~2×19 star edges, and the
    // per-round trace must be non-increasing after its first entry
    val clique = (off: Long) =>
      for (i <- 0L until 20L; j <- 0L until i) yield (off + i, off + j)
    val edges = (clique(0L) ++ clique(100L) ++ Seq((1L, 0L), (0L, 1L)))
      .toDF("id_a", "id_b")
    val (labels, trace) = Dedup.connectedComponentsStats(edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 40)
    assert(got.forall { case (id, l) => l == (if (id < 100) 0L else 100L) })
    assert(trace.head <= 40, s"first round should contract cliques: $trace")
    assert(trace.zip(trace.tail).forall { case (a, b) => b <= a }, trace)
  }

  test("sequenceLayout: exact stream positions, partitioning-independent") {
    import spark.implicits._
    import graft.operators.Multimodal
    val docs = Seq((1L, 300L), (2L, 300L), (3L, 100L), (4L, 600L), (5L, 50L))
      .toDF("id", "len")
    def layout(df: org.apache.spark.sql.DataFrame) =
      Multimodal.sequenceLayout(df, "id", "len", seqLen = 512L)
        .select("id", "seq_id", "offset", "spans_boundary")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val got = layout(docs.repartition(1))
    // stream: 1@0, 2@300 (spans the 512 cut), 3@600, 4@700 (spans 1024),
    // 5@1300
    assert(got == Set(
      (1L, 0L, 0L, false), (2L, 0L, 300L, true), (3L, 1L, 88L, false),
      (4L, 1L, 188L, true), (5L, 2L, 276L, false)), got.toString)
    assert(layout(docs.repartition(7)) == got,
      "layout must not depend on input partitioning")
  }

  test("connected components: labels independent of input partitioning") {
    import spark.implicits._
    // the local-contraction pre-pass emits different intermediate edges
    // per partitioning; the LABELS must not change — one partition (all
    // components solved map-side) vs many (stars must stitch fragments)
    val edges = ((1L until 50L).map(i => (i, i + 1)) ++
      (for (i <- 100L until 110L; j <- 100L until i) yield (i, j)))
      .toDF("id_a", "id_b")
    val one = Dedup.connectedComponents(edges.repartition(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val many = Dedup.connectedComponents(edges.repartition(13))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one == many)
    assert(one.collect { case (id, l) if id >= 100 => l } == Set(100L))
    assert(one.collect { case (id, l) if id < 100 => l } == Set(1L))
  }

  test("temperature sampling: alpha < 1 upweights low-resource domains") {
    import spark.implicits._
    // 900 docs of domain "big", 100 of "small" — at alpha=0.3 the small
    // domain's keep RATE must exceed the big one's (that's the point of
    // temperature sampling), and every rate must be a valid probability
    val docs = (0 until 1000)
      .map(i => (i.toLong, if (i < 900) "big" else "small"))
      .toDF("doc_id", "dom")
    val rates = Mixing.temperatureSample(docs, "dom", "doc_id",
        alpha = 0.3, targetFrac = 0.5)
      .select($"dom", $"rate").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("small") > rates("big"),
      s"small-domain rate must exceed big-domain rate: $rates")
    assert(rates.values.forall(r => r > 0.0 && r <= 1.0), rates.toString)
    // kept fraction tracks the target loosely (hash draw is uniform)
    val kept = Mixing.temperatureSample(docs, "dom", "doc_id", 0.3, 0.5)
      .filter($"keep").count()
    assert(kept > 300 && kept < 700, s"kept $kept of 1000 at target 0.5")
  }

  test("semantic dedup: every dropped doc has a kept lower-id witness in its cell") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings")
    val res = Similarity.semanticDedup(emb, threshold = 0.2, centEvery = 25)
    val keep = res.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keep.size == emb.count(), "one decision per vector")
    assert(keep.values.exists(identity) && keep.values.exists(!_),
      "threshold 0.2 should split the corpus into kept and dropped")
    // the lowest id in any cell has no lower-id witness, so it is always
    // kept — in particular the globally lowest id
    val minId = keep.keys.min
    assert(keep(minId), "the globally lowest id can have no lower-id witness")
    // trained centroids ride the same machinery: one decision per vector
    // and the invariants hold under a different cell construction
    val trained = Similarity.ivfCentroidsTrained(emb, centEvery = 25, iters = 1)
    val res2 = Similarity.semanticDedup(emb, threshold = 0.2, centEvery = 25,
      centroids = Some(trained))
    val keep2 = res2.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keep2.size == keep.size, "one decision per vector (trained cells)")
    assert(keep2(minId), "lowest id must stay kept under trained cells")
  }

  test("DSIR: target-aligned docs outscore off-target docs") {
    import spark.implicits._
    import graft.operators.Mixing
    // target domain speaks {aa..dd}, the rest speaks {ee..hh}; a scoring
    // doc in the target vocabulary must carry a higher importance weight
    // than one in the off-target vocabulary, with mixed in between
    val docs = (
      (1L to 20L).map(i => (i, "aa bb cc dd aa bb cc dd", true)) ++
      (21L to 80L).map(i => (i, "ee ff gg hh ee ff gg hh", false)) ++
      Seq((100L, "aa bb cc dd aa bb cc dd", false),   // target-aligned
        (101L, "ee ff gg hh ee ff gg hh", false),     // off-target
        (102L, "aa bb ee ff aa bb ee ff", false))     // mixed
      ).toDF("doc_id", "text", "is_t")
    val w = Mixing.dsirWeights(docs, "doc_id", "text", isTarget = $"is_t")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    spark.catalog.clearCache() // release the persisted bigram stream
    assert(w(100L) > w(102L) && w(102L) > w(101L),
      s"expected target > mixed > off-target, got ${w(100L)}, ${w(102L)}, ${w(101L)}")
  }

  test("packSequences: exact piece rows, full coverage, partitioning-independent") {
    import spark.implicits._
    // token counts 5, 3, 4 with 1 separator after each doc; budget 4.
    // stream positions: d1 [0,5), d2 [6,9), d3 [10,14)
    val docs = Seq(
      (1L, "a b c d e"), (2L, "f g h"), (3L, "i j k l"), (4L, "")
    ).toDF("doc_id", "text")
    def pack(df: org.apache.spark.sql.DataFrame) =
      TextOps.packSequences(df, "doc_id", "text", budget = 4, sepTokens = 1)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    val got = pack(docs.repartition(1))
    assert(got == Set(
      (0L, 1L, 1L, 4L, 0L), (1L, 1L, 5L, 1L, 0L),   // d1 spans the 4-cut
      (1L, 2L, 1L, 2L, 2L), (2L, 2L, 3L, 1L, 0L),   // d2 starts at 6
      (2L, 3L, 1L, 2L, 2L), (3L, 3L, 3L, 2L, 0L)),  // d3 starts at 10
      got.toString)
    // empty doc 4 emits nothing; pieces of each doc tile it exactly
    assert(got.groupBy(_._2).forall { case (_, ps0) =>
      val ps = ps0.toSeq
      ps.map(_._4).sum == ps.map(p => p._3 + p._4 - 1).max &&
        ps.map(_._3).min == 1L
    })
    assert(pack(docs.repartition(5)) == got,
      "packing must not depend on input partitioning")
  }

  test("lengthBatches: longest-first grouping, exact padding accounting") {
    import spark.implicits._
    // lengths: 6, 5, 4, 2, 1 → batches of 2: [6,5] [4,2] [1]
    val docs = Seq(
      (1L, "a a a a a a"), (2L, "b b b b b"), (3L, "c c c c"),
      (4L, "d d"), (5L, "e")).toDF("doc_id", "text")
    val rows = TextOps.lengthBatches(docs, "doc_id", "text", batchSize = 2)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(rows(0L) == ((2L, 6L, 11L, round4(1 - 11.0 / 12))))
    assert(rows(1L) == ((2L, 4L, 6L, 0.25)))
    assert(rows(2L) == ((1L, 1L, 1L, 0.0)))
    // padding waste of length-sorted batching must not exceed the
    // arrival-order (doc_id) baseline on a skewed corpus
    val skewed = (1L to 40L)
      .map(i => (i, Seq.fill(if (i % 4 == 0) 40 else 2)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val sorted = TextOps.lengthBatches(skewed, "doc_id", "text", 4)
      .agg(sum($"width" * $"n_docs")).collect()(0).getLong(0)
    val arrival = skewed
      .select($"doc_id", TextOps.tokenCount($"text").as("n_tok"))
      .withColumn("batch_id", expr("(doc_id - 1) div 4"))
      .groupBy($"batch_id")
      .agg(max($"n_tok").as("w"), count(lit(1)).as("k"))
      .agg(sum($"w" * $"k")).collect()(0).getLong(0)
    assert(sorted < arrival,
      s"length-sorted padded volume $sorted should beat arrival order $arrival")
  }

  private def round4(x: Double): Double = math.round(x * 10000).toDouble / 10000

  test("bpeTrain: classic corpus learns (e,s)(es,t)(l,o)(lo,w), ties lexicographic") {
    import spark.implicits._
    // Sennrich-style: low*5 lower*2 newest*6 widest*3. (e,s) and (s,t)
    // tie at 9 -> 'e' < 's'; (l,o) and (o,w) tie at 7 -> 'l' < 'o'
    val docs = Seq(Tuple1((
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
      .toDF("text")
    val got = TextOps.bpeTrain(docs, "text", nMerges = 4)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(got == Seq((1, "e", "s", 9L), (2, "es", "t", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L)), got.toString)
  }

  test("bpeTrain: greedy left-to-right merge and overlap counting; early stop") {
    import spark.implicits._
    // 'aaa': (a,a) counts BOTH overlapping positions (2 per word x 3);
    // application is non-overlapping left-to-right: [a,a,a] -> [aa,a],
    // so merge 2 is (aa,a) at count 3
    val docs = Seq(Tuple1("aaa aaa aaa")).toDF("text")
    val got = TextOps.bpeTrain(docs, "text", nMerges = 5)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    // after (aa,a) every word is one symbol -> loop stops early at 2 rows
    assert(got == Seq((1, "a", "a", 6L), (2, "aa", "a", 3L)), got.toString)
    assert(TextOps.bpeTrain(docs, "text", nMerges = 5, minCount = 7L)
      .count() == 0L, "minCount above every pair count must learn nothing")
  }

  test("bpeSegment: 201-merge table chunks to constant plan depth, same result") {
    import spark.implicits._
    // 8 words over DISJOINT 26-char alphabets; each word's 25 chaining
    // merges collapse it to one symbol. 8*25+1=201 merges total — far past
    // the 50-merge chunk bound, and chains CROSS chunk boundaries (word
    // 2's chain spans merges 26..51), so a chunk-cut bug shows as a
    // half-merged word, not a crash.
    val words = (0 until 8).map(w =>
      new String((0 until 26).map(i => (0x100 + 26 * w + i).toChar).toArray))
    val merges = words.flatMap { wd =>
      (1 until wd.length).map(i => (wd.substring(0, i), wd.substring(i, i + 1)))
    } ++ Seq(("no", "pe")) // a merge that matches nothing
    assert(merges.size == 201)
    val docs = Seq(words.mkString(" ")).toDF("text")
    def segs(chunkEvery: Int): Map[String, Seq[String]] =
      TextOps.bpeSegment(docs, "text", merges, chunkEvery)
        .select($"word", $"syms").as[(String, Seq[String])]
        .collect().toMap
    val chunked = segs(50)
    assert(words.forall(wd => chunked(wd) == Seq(wd)),
      s"every word must collapse to one symbol: $chunked")
    // chunked result == the single-projection lazy path (chunkEvery >=
    // table size) — chunk cuts are semantically invisible
    assert(chunked == segs(merges.size))
    // constant plan depth: past the bound the result is a materialized
    // relation whose plan does not grow with the merge-table size
    val big = TextOps.bpeSegment(docs, "text", merges, chunkEvery = 50)
    val bigger = TextOps.bpeSegment(docs, "text",
      merges ++ Seq(("xx", "yy"), ("yy", "zz")), chunkEvery = 50)
    def nodes(df: org.apache.spark.sql.DataFrame): Int = {
      var n = 0
      df.queryExecution.optimizedPlan.foreach(_ => n += 1)
      n
    }
    assert(nodes(big) == nodes(bigger),
      s"chunked bpeSegment plan must not grow with merges: ${nodes(big)} vs ${nodes(bigger)}")
    Caches.sweep(spark)
  }

  test("bpeTrainLayout: build-once ident, apply matches training, config re-keys") {
    import spark.implicits._
    val docs = Seq(Tuple1((
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
      .toDF("text")
    val layout = graft.Scratch.dir("spec_bpe_layout")
    TextOps.bpeTrainLayout(docs, "text", nMerges = 4, minCount = 2L, layout)
    // the stored merges reproduce training's segmentation exactly
    val direct = TextOps.bpeSegment(docs, "text",
        TextOps.bpeTrain(docs, "text", nMerges = 4).orderBy($"merge_rank")
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq)
      .select($"word", $"syms").as[(String, Seq[String])].collect().toMap
    val viaLayout = TextOps.bpeSegmentFromLayout(docs, "text", layout)
      .select($"word", $"syms").as[(String, Seq[String])].collect().toMap
    assert(viaLayout == direct, viaLayout.toString)
    // a second build with the same corpus+config is a no-op (ident hit):
    // the merges file's mtime must not change
    val mergesFile = new java.io.File(s"$layout/merges")
    val before = mergesFile.lastModified()
    TextOps.bpeTrainLayout(docs, "text", nMerges = 4, minCount = 2L, layout)
    assert(mergesFile.lastModified() == before, "ident hit must skip rebuild")
    // a different config re-keys and rebuilds
    TextOps.bpeTrainLayout(docs, "text", nMerges = 2, minCount = 2L, layout)
    assert(spark.read.parquet(s"$layout/merges").count() == 2L)
    // serving an absent layout fails loudly, not with an empty segment
    intercept[IllegalArgumentException] {
      TextOps.bpeSegmentFromLayout(docs, "text",
        graft.Scratch.dir("spec_bpe_nothere"))
    }
  }

  test("bpeEncode: document order preserved, duplicate words, empty doc") {
    import spark.implicits._
    // merges (e,s)(es,t) learned on the classic corpus; encode a corpus
    // with repeated words and an empty doc — the piece stream must be
    // the per-token segmentations concatenated IN TOKEN ORDER
    val docs = Seq(
      (1L, "newest low newest"), // duplicate word, order matters
      (2L, ""),                  // empty doc -> empty array, row kept
      (3L, "widest")
    ).toDF("doc_id", "text")
    val merges = Seq(("e", "s"), ("es", "t"))
    val got = TextOps.bpeEncode(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("n", "e", "w", "est", "l", "o", "w",
      "n", "e", "w", "est"), got(1L).mkString(","))
    assert(got(2L) == Seq.empty, got(2L).mkString(","))
    assert(got(3L) == Seq("w", "i", "d", "est"), got(3L).mkString(","))
  }

  test("lshIndex: append equals full build for probing; guards hold") {
    import spark.implicits._
    val docs = Tables(spark, TestSpark.sf, "documents")
    val corpus1 = docs.filter($"doc_id" < 200)
    val corpus2 = docs.filter($"doc_id" >= 200 && $"doc_id" < 400)
    val probes = docs.filter($"doc_id" >= 400)
    def pairs(layout: String): Set[(Long, Long, Double)] =
      Dedup.lshProbeIndex(spark, layout, probes, "doc_id", "text",
          threshold = 0.8)
        .as[(Long, Long, Double)].collect().toSet
    // full build vs build-then-append must serve identical results
    val full = graft.Scratch.dir("spec_lsh_full")
    Dedup.lshIndexWrite(docs.filter($"doc_id" < 400), "doc_id", "text", full)
    val appended = graft.Scratch.dir("spec_lsh_appended")
    Dedup.lshIndexWrite(corpus1, "doc_id", "text", appended)
    Dedup.lshIndexAppend(corpus2, "doc_id", "text", appended)
    val (a, b) = (pairs(full), pairs(appended))
    assert(a == b, s"append diverged: only-full=${a.diff(b)} only-app=${b.diff(a)}")
    assert(a.nonEmpty, "vacuous spec: no cross near-dup pairs in the corpus")
    // parameter drift is refused, not silently served
    intercept[IllegalArgumentException] {
      Dedup.lshIndexAppend(corpus2, "doc_id", "text", appended, bands = 16)
    }
    intercept[IllegalArgumentException] {
      Dedup.lshProbeIndex(spark, appended, probes, "doc_id", "text", k = 64)
    }
    // probing an absent layout fails loudly
    intercept[IllegalArgumentException] {
      Dedup.lshProbeIndex(spark, graft.Scratch.dir("spec_lsh_nothere"),
        probes, "doc_id", "text")
    }
    // maxBucket is part of the build identity: a re-run with a different
    // skew cap must REBUILD (ident changes), never serve the old layout
    val before = LayoutCrash.ident(full)
    assert(before.contains("maxBucket=1000"), before)
    Dedup.lshIndexWrite(docs.filter($"doc_id" < 400), "doc_id", "text", full,
      maxBucket = 7)
    val after = LayoutCrash.ident(full)
    assert(after != before && after.contains("maxBucket=7"), after)
    // the rebuilt (tighter-cap) layout still probes without error, and
    // append/probe (no maxBucket in their signature) accept the ident
    Dedup.lshProbeIndex(spark, full, probes, "doc_id", "text").count()
    Caches.sweep(spark)
  }

  test("lshProbeIndex: divergent re-ingest still yields one row per pair") {
    import spark.implicits._
    // lshIndexAppend does not guard against re-ingesting an EXISTING id
    // with different text — the layout then stores two sketch versions
    // for that id, and both can collide with a probe. The probe contract
    // is one row per (probe_id, corpus_id), verified once: the pair-grain
    // max(jaccard) dedup (ADVICE r16) must collapse the versions to
    // "the best matching stored version".
    val docs = Tables(spark, TestSpark.sf, "documents")
    val base = docs.filter($"doc_id" < 200)
    val reId = 7L
    val origText = base.filter($"doc_id" === reId)
      .select($"text").head().getString(0)
    val layout = graft.Scratch.dir("spec_lsh_reingest")
    Dedup.lshIndexWrite(base, "doc_id", "text", layout)
    // same id, slightly different text: near-identical shingle set, so
    // the divergent version still lands in the probe's buckets
    Dedup.lshIndexAppend(
      Seq((reId, origText + " trailing divergence marker"))
        .toDF("doc_id", "text"),
      "doc_id", "text", layout)
    // fixture is NOT vacuous: the layout holds two distinct sketch
    // versions for the id, and they share at least one (band, bucket) —
    // i.e. a probe matching one version really does see both
    val buckets = spark.read.parquet(s"$layout/buckets")
      .filter($"id" === reId)
    assert(buckets.select(hash($"shh")).distinct().count() == 2L,
      "re-ingest did not store a second sketch version")
    val collide = buckets.alias("x").join(buckets.alias("y"),
      col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
        hash(col("x.shh")) =!= hash(col("y.shh"))).count()
    assert(collide > 0,
      "fixture vacuous: divergent versions never share a band bucket")
    val probe = Seq((999999L, origText)).toDF("doc_id", "text")
    val got = Dedup.lshProbeIndex(spark, layout, probe, "doc_id", "text",
        threshold = 0.8)
      .as[(Long, Long, Double)].collect().filter(_._2 == reId)
    assert(got.length == 1,
      s"expected ONE row for the re-ingested pair, got ${got.toSeq}")
    // max over the stored versions: the probe text equals the original
    // version exactly, so the surviving jaccard is 1.0
    assert(got.head._3 == 1.0, s"expected max jaccard 1.0, got ${got.head._3}")
    Caches.sweep(spark)
  }

  test("binarySimhashIndex: probe equals pairwise; append equals full build; guards") {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = Multimodal.fabricate(Tables(spark, TestSpark.sf, "documents"))
    val corpus1 = media.filter($"media_id" < 200)
    val corpus2 = media.filter($"media_id" >= 200 && $"media_id" < 400)
    val batch = media.filter($"media_id" >= 400)
    def pairs(layout: String): Set[(Long, Long, Long)] =
      Multimodal.binarySimhashProbeIndex(spark, layout, batch,
          "media_id", "content")
        .as[(Long, Long, Long)].collect().toSet
    // full build vs build-then-append must serve identical results
    val full = graft.Scratch.dir("spec_binsh_full")
    Multimodal.binarySimhashIndexWrite(media.filter($"media_id" < 400),
      "media_id", "content", full)
    val appended = graft.Scratch.dir("spec_binsh_appended")
    Multimodal.binarySimhashIndexWrite(corpus1, "media_id", "content", appended)
    Multimodal.binarySimhashIndexAppend(corpus2, "media_id", "content", appended)
    val (a, b) = (pairs(full), pairs(appended))
    assert(a == b, s"append diverged: only-full=${a.diff(b)} only-app=${b.diff(a)}")
    // r15 ADVICE fix: re-running the ORIGINAL build job after appends is
    // an ident HIT (the stored ident differs only by '+append=' suffixes)
    // — the appended batches' signatures must SURVIVE; the old
    // any-mismatch-rebuilds rule silently deleted them and probes missed
    // their pairs from then on
    Multimodal.binarySimhashIndexWrite(corpus1, "media_id", "content", appended)
    assert(pairs(appended) == a,
      "idempotent-looking rebuild dropped appended signatures")
    // probe result equals the batch-vs-corpus slice of the pairwise op
    // (binarySimhashPairs is the all-pairs-exact reference at hamming<=3)
    val reference = Multimodal.binarySimhashPairs(
        media.filter($"media_id" < 400).unionAll(batch),
        "media_id", "content")
      .as[(Long, Long, Long)].collect().toSet
      .filter(t => (t._1 >= 400) != (t._2 >= 400))
      .map(t => if (t._1 >= 400) t else (t._2, t._1, t._3))
    assert(a == reference,
      s"probe diverged from pairwise: only-probe=${a.diff(reference)} " +
        s"only-pairwise=${reference.diff(a)}")
    // parameter drift refused, never silently served
    intercept[IllegalArgumentException] {
      Multimodal.binarySimhashIndexAppend(corpus2, "media_id", "content",
        appended, gramBytes = 8)
    }
    intercept[IllegalArgumentException] {
      Multimodal.binarySimhashProbeIndex(spark, appended, batch,
        "media_id", "content", nParts = 32)
    }
    // probing an absent layout fails loudly
    intercept[IllegalArgumentException] {
      Multimodal.binarySimhashProbeIndex(spark,
        graft.Scratch.dir("spec_binsh_nothere"), batch, "media_id", "content")
    }
    // maxBucket is build identity: a different cap re-keys and rebuilds
    val before = LayoutCrash.ident(full)
    assert(before.contains("maxBucket=1000"), before)
    Multimodal.binarySimhashIndexWrite(media.filter($"media_id" < 400),
      "media_id", "content", full, maxBucket = 7)
    val after = LayoutCrash.ident(full)
    assert(after != before && after.contains("maxBucket=7"), after)
    Multimodal.binarySimhashProbeIndex(spark, full, batch,
      "media_id", "content").count()
    Caches.sweep(spark)
  }

  test("ivfAdcTopK: equals ADC restricted to exactly the probed cells' members") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val model = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 4, k = 4, iters = 1)
    val query = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val got = Similarity.ivfAdcTopK(emb, "vec_id", "embedding", model, query,
      kNN = 10, nProbe = 2, centEvery = 25).as[(Long, Long)].collect().toSeq
    // independent replay of the coarse quantizer with plain DataFrame ops
    val cent = emb.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
    val qLit = array(query.map(lit): _*)
    val cells = cent
      .withColumn("ccos", round(Similarity.cosine(qLit, $"c_emb"), 5))
      .orderBy($"ccos".desc, $"c_id").limit(2)
      .select($"c_id").as[Long].collect().toSet
    val members = emb.select($"vec_id".as("n_id"), $"embedding".as("n_emb"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos", round(Similarity.cosine($"n_emb", $"c_emb"), 5))
      .groupBy($"n_id")
      .agg(max(struct($"ccos", (-$"c_id").as("neg"))).as("m"))
      .select($"n_id", (-$"m.neg").as("c_id"))
      .filter($"c_id".isin(cells.toSeq: _*))
      .select($"n_id").as[Long].collect().toSet
    // the composition contract: IVFADC == pqTopKAdc over the members only
    val ref = Similarity.pqTopKAdc(
        emb.filter($"vec_id".isin(members.toSeq: _*)),
        "vec_id", "embedding", model, query, kNN = 10)
      .as[(Long, Long)].collect().toSeq
    assert(got == ref, s"got=$got ref=$ref")
    assert(got.nonEmpty && got.map(_._1).forall(members),
      s"result escaped the probed cells: $got vs $members")
    // pruning is REAL on this fixture: the probed cells hold a strict
    // subset of the corpus
    assert(members.size < emb.count())
    Caches.sweep(spark)
  }

  test("ivfAdc layout: probe equals the inline composition; ident discipline; " +
      "lazy codebook") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    def model = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 4, k = 4, iters = 1)
    val query = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val layout = graft.Scratch.dir("spec_ivfadc")
    Similarity.ivfAdcBuildLayout(emb, 25, layout, "vec_id", "embedding",
      m = 4, k = 4, quantScale = 1000L)(model)
    val probe = Similarity.ivfAdcProbeLayout(spark, layout, query,
      kNN = 10, nProbe = 2).as[(Long, Long)].collect().toSeq
    val inline = Similarity.ivfAdcTopK(emb, "vec_id", "embedding", model,
      query, kNN = 10, nProbe = 2, centEvery = 25)
      .as[(Long, Long)].collect().toSeq
    assert(probe == inline, s"probe=$probe inline=$inline")
    // steady state: a repeat build is an ident HIT — the by-name model
    // must NOT be evaluated (training again would be the whole cost)
    var trained = false
    Similarity.ivfAdcBuildLayout(emb, 25, layout, "vec_id", "embedding",
      m = 4, k = 4, quantScale = 1000L)({ trained = true; model })
    assert(!trained, "ident hit must not evaluate the codebook")
    // changed parameters mismatch the ident and rebuild (k=4 -> k=2)
    Similarity.ivfAdcBuildLayout(emb, 25, layout, "vec_id", "embedding",
      m = 4, k = 2, quantScale = 1000L)(
      Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, k = 2, iters = 1))
    val probe2 = Similarity.ivfAdcProbeLayout(spark, layout, query,
      kNN = 10, nProbe = 2).as[(Long, Long)].collect().toSeq
    assert(probe2.nonEmpty && probe2.map(_._1) != probe.map(_._1) ||
      probe2.map(_._2) != probe.map(_._2) || probe2 != probe,
      "k=2 rebuild must change the codes/ADC")
    // a changed embedding COLUMN over the same corpus plan must
    // mismatch the ident and rebuild (ADVICE r15: idCol/embCol are
    // code-affecting but invisible to the corpus plan's semanticHash —
    // pre-fix this was a silent ident hit serving the old column's
    // codes)
    val emb2 = emb.withColumn("embedding2",
      transform($"embedding", x => -x))
    val layout2 = graft.Scratch.dir("spec_ivfadc_col")
    Similarity.ivfAdcBuildLayout(emb2, 25, layout2, "vec_id", "embedding",
      m = 4, k = 4, quantScale = 1000L)(
      Similarity.pqTrain(emb2, "vec_id", "embedding", m = 4, k = 4, iters = 1))
    var retrained = false
    Similarity.ivfAdcBuildLayout(emb2, 25, layout2, "vec_id", "embedding2",
      m = 4, k = 4, quantScale = 1000L)({
      retrained = true
      Similarity.pqTrain(emb2, "vec_id", "embedding2", m = 4, k = 4, iters = 1)
    })
    assert(retrained, "an embCol change must rebuild, not ident-hit")
    // a mismatched-model build is refused loudly
    intercept[IllegalArgumentException] {
      Similarity.ivfAdcBuildLayout(emb, 25,
        graft.Scratch.dir("spec_ivfadc_bad"), "vec_id", "embedding",
        m = 4, k = 8, quantScale = 1000L)(model) // model has k=4
    }
    // probing an absent layout fails loudly
    intercept[IllegalArgumentException] {
      Similarity.ivfAdcProbeLayout(spark,
        graft.Scratch.dir("spec_ivfadc_nothere"), query)
    }
    Caches.sweep(spark)
  }

  test("ivfAdcRecallAtK: deterministic per-query contract, floor consistent") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val model = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 1)
    def run() = Similarity.ivfAdcRecallAtK(emb, Seq(0L, 1L, 2L), k = 10,
        nProbe = 4, centEvery = 25, model, recallFloor = 0.2)
      .orderBy($"q_id")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    val got = run()
    assert(got.map(_._1) == Seq(0L, 1L, 2L))
    // ground truth is the full-corpus quantized top-k: n_exact == k here
    assert(got.forall(_._2 == 10L), got.toString)
    // the query's own vector is exact rank 1 (dist 0) and always
    // survives the approx path (its assigned cell IS the probe's
    // top-ranked cell — same cosine ranking, same tiebreak — and its
    // own-code ADC is the global MINIMUM: sum of per-subspace argmin
    // distances), so recall is never 0; and recall is the round-4 hit
    // share with meets_floor EXACTLY recall >= floor
    got.foreach { case (q, ne, nh, rec, floor) =>
      assert(nh >= 1 && nh <= ne, s"q$q hits=$nh")
      assert(rec == BigDecimal(nh.toDouble / ne)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, s"q$q rec=$rec")
      assert(floor == (rec >= 0.2), s"q$q floor=$floor rec=$rec")
    }
    // both paths are deterministic: recall is contract, not noise
    assert(run() == got)
    // bounded eval batch is a contract, not a suggestion
    intercept[IllegalArgumentException] {
      Similarity.ivfAdcRecallAtK(emb, Seq.empty, k = 10, nProbe = 4,
        centEvery = 25, model)
    }
    // a query id absent from the corpus is a contract-level error named
    // in ONE upfront resolve action (ADVICE r16) — not a bare
    // NoSuchElementException halfway through per-id driver loops
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfAdcRecallAtK(emb, Seq(0L, -12345L), k = 10, nProbe = 4,
        centEvery = 25, model)
    }
    assert(e.getMessage.contains("-12345"), e.getMessage)
    Caches.sweep(spark)
  }

  test("layout idents carry the build columns: a column switch rebuilds") {
    // the r15 ivfadc ADVICE class, swept across every persisted layout
    // round 16: id/text/bin/emb column names are code-affecting but
    // invisible to the corpus PLAN's semanticHash — without them in the
    // ident, rebuilding over the same corpus with a different column is
    // a silent ident hit serving stale data
    import graft.operators.{Dedup, Multimodal}
    val media = Multimodal.fabricate(Tables(spark, TestSpark.sf, "documents"))
      .withColumn("content2", col("content"))
    val simhashDir = graft.Scratch.dir("spec_ident_cols_simhash")
    Multimodal.binarySimhashIndexWrite(media, "media_id", "content", simhashDir)
    val s1 = LayoutCrash.ident(simhashDir)
    assert(s1.contains("cols=media_id/content"), s1)
    Multimodal.binarySimhashIndexWrite(media, "media_id", "content2", simhashDir)
    val s2 = LayoutCrash.ident(simhashDir)
    assert(s2.contains("cols=media_id/content2") && s1 != s2,
      s"binCol switch must rebuild, ident stayed '$s2'")
    val docs = Tables(spark, TestSpark.sf, "documents")
      .withColumn("text2", col("text"))
    val lshDir = graft.Scratch.dir("spec_ident_cols_lsh")
    Dedup.lshIndexWrite(docs, "doc_id", "text", lshDir)
    val l1 = LayoutCrash.ident(lshDir)
    assert(l1.contains("cols=doc_id/text "), l1)
    Dedup.lshIndexWrite(docs, "doc_id", "text2", lshDir)
    val l2 = LayoutCrash.ident(lshDir)
    assert(l2.contains("cols=doc_id/text2") && l1 != l2,
      s"textCol switch must rebuild, ident stayed '$l2'")
    Caches.sweep(spark)
  }

  test("binarySimhashIngestPairs: exactly the batch-involving slice of pairwise") {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = Multimodal.fabricate(Tables(spark, TestSpark.sf, "documents"))
    val corpus = media.filter($"media_id" >= 400)
    val batch = media.filter($"media_id" < 400)
    val layout = graft.Scratch.dir("spec_binsh_ingest")
    Multimodal.binarySimhashIndexWrite(corpus, "media_id", "content", layout)
    val got = Multimodal.binarySimhashIngestPairs(spark, layout, batch,
        "media_id", "content")
      .as[(Long, Long, Long)].collect().toSet
    // reference: the all-pairs-exact pairwise sweep (hamming<=3),
    // restricted to pairs with at least one side in the batch — the
    // ingest report must equal it exactly (within-batch pairs AND
    // batch-vs-corpus pairs, nothing corpus-internal)
    val ref = Multimodal.binarySimhashPairs(media, "media_id", "content")
      .as[(Long, Long, Long)].collect().toSet
      .filter(t => t._1 < 400 || t._2 < 400)
    assert(got == ref,
      s"only-ingest=${got.diff(ref)} only-pairwise=${ref.diff(got)}")
    assert(got.exists(t => t._1 < 400 && t._2 < 400) &&
      got.exists(t => t._2 >= 400),
      s"fixture must exercise BOTH sources (within=${got.count(t => t._2 < 400)}, " +
        s"cross=${got.count(t => t._2 >= 400)})")
    Caches.sweep(spark)
  }

  test("binarySimhashIngestPairs: divergent re-ingest dedups to MIN hamming") {
    import spark.implicits._
    import graft.operators.Multimodal
    // an id living in BOTH batch and corpus with DIFFERENT payload bytes
    // makes the within/cross copies of a pair disagree on hamming —
    // ADVICE r15: dropDuplicates kept whichever copy won the shuffle
    // race; the contract is the deterministic MIN. Fixture: corpus holds
    // payloads A (id 400) and B (id 401) with 0 < ham(sig A, sig B) <= 3;
    // the batch re-ingests id 401 with payload A, so pair (400, 401)
    // arrives as within=0, cross(400A vs 401B)=h>0, cross(401A vs 400A)=0
    // — min is 0, a race could report h.
    val media = Multimodal.fabricate(Tables(spark, TestSpark.sf, "documents"))
    val seed = Multimodal.binarySimhashPairs(media, "media_id", "content")
      .filter($"hamming" > 0).orderBy($"id_a", $"id_b").limit(1)
      .as[(Long, Long, Long)].head()
    def payload(id: Long): Array[Byte] = media
      .filter($"media_id" === id).select($"content")
      .head().getAs[Array[Byte]](0)
    val (pa, pb) = (payload(seed._1), payload(seed._2))
    val corpus = Seq((400L, pa), (401L, pb)).toDF("media_id", "content")
    val batch = Seq((400L, pa), (401L, pa)).toDF("media_id", "content")
    val layout = graft.Scratch.dir("spec_binsh_divergent")
    Multimodal.binarySimhashIndexWrite(corpus, "media_id", "content", layout)
    val got = Multimodal.binarySimhashIngestPairs(spark, layout, batch,
        "media_id", "content")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((400L, 401L, 0L)),
      s"expected the MIN-hamming copy (0), got $got (divergent copy was " +
        s"hamming ${seed._3})")
    Caches.sweep(spark)
  }

  test("binaryDhash: hand signatures, short payload excluded, pairs verify") {
    import spark.implicits._
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    // ascending bytes: every adjacent pair rises -> all 63 bits set;
    // descending: none; nearUp flips ONLY bit 62 (byte 63 dropped to 0);
    // a 32-byte payload has no full signature and is excluded
    val up = Array.tabulate(64)(i => i.toByte)
    val down = Array.tabulate(64)(i => (63 - i).toByte)
    val nearUp = up.clone(); nearUp(63) = 0
    val short = Array.tabulate(32)(i => i.toByte)
    val media = Seq((1L, up), (2L, down), (3L, nearUp), (4L, short))
      .toDF("media_id", "content")
    val sigs = Multimodal.binaryDhash(media, "media_id", "content")
      .as[(Long, Long)].collect().toMap
    assert(sigs == Map(1L -> Long.MaxValue, 2L -> 0L,
      3L -> (Long.MaxValue - (1L << 62))), sigs.toString)
    val pairs = Multimodal.binaryDhashPairs(media, "media_id", "content")
      .withColumn("hamming", col("hamming").cast("long"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 3L, 1L)), pairs.toString)
    Caches.sweep(spark)
  }

  test("binaryDhashIndex: probe equals pairwise slice; append equals full; guards") {
    import spark.implicits._
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    val media = Multimodal.fabricate(Tables(spark, TestSpark.sf, "documents"))
    val batch = media.filter($"media_id" < 400)
    def pairs(layout: String): Set[(Long, Long, Long)] =
      Multimodal.binaryDhashProbeIndex(spark, layout, batch,
          "media_id", "content")
        .as[(Long, Long, Long)].collect().toSet
    val full = graft.Scratch.dir("spec_dhash_full")
    Multimodal.binaryDhashIndexWrite(media.filter($"media_id" >= 400),
      "media_id", "content", full)
    val appended = graft.Scratch.dir("spec_dhash_appended")
    Multimodal.binaryDhashIndexWrite(
      media.filter($"media_id" >= 400 && $"media_id" < 500),
      "media_id", "content", appended)
    Multimodal.binaryDhashIndexAppend(media.filter($"media_id" >= 500),
      "media_id", "content", appended)
    val (a, b) = (pairs(full), pairs(appended))
    assert(a == b, s"append diverged: only-full=${a.diff(b)} only-app=${b.diff(a)}")
    // probe result = the batch-vs-corpus slice of the exact pairwise op
    val reference = Multimodal.binaryDhashPairs(media, "media_id", "content")
      .withColumn("hamming", col("hamming").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
      .filter(t => (t._1 < 400) != (t._2 < 400))
      .map(t => if (t._1 < 400) t else (t._2, t._1, t._3))
    assert(a == reference,
      s"probe diverged from pairwise: only-probe=${a.diff(reference)} " +
        s"only-pairwise=${reference.diff(a)}")
    // a SimHash layout refuses dHash probes (param ident mismatch) and
    // vice versa — the cross-family guard the shared machinery must keep
    val sim = graft.Scratch.dir("spec_dhash_simlayout")
    Multimodal.binarySimhashIndexWrite(media.filter($"media_id" >= 400),
      "media_id", "content", sim)
    intercept[IllegalArgumentException] {
      Multimodal.binaryDhashProbeIndex(spark, sim, batch,
        "media_id", "content")
    }
    intercept[IllegalArgumentException] {
      Multimodal.binaryDhashIndexAppend(batch, "media_id", "content", sim)
    }
    Caches.sweep(spark)
  }

  test("unigramTrain: EM concentrates mass on whole-word pieces, hand-traced") {
    import spark.implicits._
    // corpus: xyz x3, q x1. Seed: all 6 substrings of xyz tie at n=3
    // (ln(3/19)), q at 1. Viterbi prefers ONE piece [xyz] over any
    // multi-piece split (fewer negative-logp terms), so iteration-1
    // counts collapse to {xyz: 3, q: 1}; iteration 2 re-segments with
    // only those pieces alive (missing pieces cost the -20 floor, still
    // losing to the whole-word piece) — a fixed point.
    val docs = Seq(Tuple1("xyz xyz xyz q")).toDF("text")
    Caches.sweep(spark)
    val out = TextOps.unigramTrain(docs, "text", maxPieceLen = 3, emIters = 2)
    val got = out.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(
      ("xyz", 3L, round4(math.log(3.0 / 4))),
      ("q", 1L, round4(math.log(1.0 / 4)))), got.toString)
    // zero-residue contract: ONLY the result's own checkpoint survives
    val own = org.apache.spark.sql.graftbridge.Bridge.checkpointRdds(out)
      .map(_.id).toSet
    val held = spark.sparkContext.getPersistentRDDs.keySet.toSet -- own
    assert(held.isEmpty, s"unigramTrain held non-result blocks: $held")
    Caches.sweep(spark)
  }

  test("unigramTrain: plan depth constant in EM iterations (IterativeLoop contract)") {
    import spark.implicits._
    val docs = Seq(Tuple1("alpha beta alpha gamma beta alpha")).toDF("text")
    def nodes(iters: Int): Int = {
      val df = TextOps.unigramTrain(docs, "text", emIters = iters)
      var n = 0
      df.queryExecution.optimizedPlan.foreach(_ => n += 1)
      Caches.sweep(spark)
      n
    }
    assert(nodes(1) == nodes(3),
      s"unigramTrain plan grows with EM iterations: ${nodes(1)} vs ${nodes(3)}")
  }

  test("leakageSafeSplit: no near-dup cluster straddles the split boundary") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents")
    val split = Dedup.leakageSafeSplit(docs, "doc_id", "text",
      shingleSize = 3, k = 128, bands = 32, threshold = 0.8)
    // the leakage invariant: one split value per cluster, always
    val straddling = split.groupBy($"cluster_id")
      .agg(countDistinct($"split").as("ns"))
      .filter($"ns" > 1)
    assert(straddling.isEmpty, "a cluster spans train and test")
    // every doc assigned exactly once; both splits non-empty at this SF
    val total = docs.count()
    assert(split.count() == total)
    val bySplit = split.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(bySplit.keySet == Set("train", "test"), bySplit.toString)
    // the planted near-dups land TOGETHER: every LSH pair shares a split
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", 3, 128, 32, 0.8)
      .select($"id_a", $"id_b")
    val sa = split.select($"id".as("id_a"), $"split".as("sp_a"))
    val sb = split.select($"id".as("id_b"), $"split".as("sp_b"))
    assert(pairs.join(sa, "id_a").join(sb, "id_b")
      .filter($"sp_a" =!= $"sp_b").isEmpty,
      "near-dup pair split across train/test — the leak this operator exists to prevent")
    Caches.sweep(spark)
  }

  test("piiScrub: ordered redaction, no double counting, exact rewrite") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b-c%d@x.co.uk now"),            // dotted local+domain email
      (2L, "host 192.168.0.1"),                    // IP at end of string
      (3L, "id 123-45-6789 ok"),                   // SSN shape
      (4L, "u@10.0.0.1.com and 10.0.0.2"),         // quad inside email is EMAIL only
      (5L, "nothing to see 1234-56-7890 1.2.3"))   // near-misses must not match
      .toDF("doc_id", "text")
    val got = TextOps.piiScrub(docs, "text")
      .select($"doc_id", $"n_emails", $"n_ips", $"n_ids", $"scrubbed")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got(1L) == ((1L, 0L, 0L, "mail [PII] now")))
    assert(got(2L) == ((0L, 1L, 0L, "host [PII]")))
    assert(got(3L) == ((0L, 0L, 1L, "id [PII] ok")))
    // the email pattern consumes its embedded dotted quad FIRST; only
    // the free-standing quad counts as an IP
    assert(got(4L) == ((1L, 1L, 0L, "[PII] and [PII]")))
    // 4-digit first group breaks \b\d{3}-...; 3-part dots are no IPv4.
    // (\b sees only the 3-digit tail "234-56-7890" boundary-free? no:
    // digit runs glue, so the 4-digit group kills the match entirely)
    assert(got(5L)._3 == 0L && got(5L)._2 == 0L, got(5L).toString)
  }

  test("sortedNeighborhoodEr: transitive closure links variants, window bounds recall") {
    import spark.implicits._
    // sort order under lower(nm) with id tie-break:
    //   acme corp(1), Acme corp(3), acme corpo(2), beta inc(10), ...
    // pair jw values: 1-3 = 0.9259 (case flip kills the Winkler prefix
    // boost), 1-2 = 0.98, 3-2 = 0.8963 (BELOW threshold — 3 and 2 can
    // only land in one entity through record 1)
    val recs = Seq(
      (1L, "acme corp"), (2L, "acme corpo"), (3L, "Acme corp"),
      (10L, "beta inc"), (20L, "gamma gmbh"), (30L, "zeta ag"))
      .toDF("rid", "nm")
    val got = Dedup.sortedNeighborhoodEr(recs, "rid", "nm",
        lower(col("nm")), window = 2, threshold = 0.92)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L,
      s"acme variants must resolve to one entity: $got")
    assert(got(10L) == 10L && got(20L) == 20L && got(30L) == 30L,
      s"distinct names stay singleton entities: $got")
    spark.catalog.clearCache()
    // window=1 proposes only adjacent pairs: 1-3 (0.9259, links) and
    // 3-2 (0.8963, no link) — the 1-2 pair (0.98) is out of window, so
    // entity {1,3} splits from {2}: the documented recall trade of a
    // too-small window
    val w1 = Dedup.sortedNeighborhoodEr(recs, "rid", "nm",
        lower(col("nm")), window = 1, threshold = 0.92)
      .as[(Long, Long)].collect().toMap
    assert(w1(1L) == 1L && w1(3L) == 1L && w1(2L) == 2L,
      s"window=1 must miss the out-of-window variant: $w1")
    spark.catalog.clearCache()
  }

  test("stratifiedSample: exact k per stratum, small strata kept whole, stable") {
    import spark.implicits._
    val df = ((1L to 50L).map(i => (i, "big")) ++
      Seq((101L, "tiny"), (102L, "tiny"), (103L, "tiny")))
      .toDF("id", "grp")
    def run() = Mixing.stratifiedSample(df, "grp", "id", k = 5)
      .as[(Long, String)].collect().toSet
    val got = run()
    assert(got.count(_._2 == "big") == 5, got.toString)
    assert(got.count(_._2 == "tiny") == 3, "under-k stratum keeps all rows")
    assert(got == run(), "hash-ranked sample must be deterministic")
  }

  test("zipfFit: an exact power law fits slope -1") {
    import spark.implicits._
    // counts 12/rank: a x12, b x6, c x4, d x3 -> ln-ln collinear, slope -1
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")).mkString(" ")
    val r = TextOps.zipfFit(Seq((1L, text)).toDF("id", "text"), "text",
      topRanks = 4).collect().head
    assert(r.getAs[Long]("n_ranks") == 4L)
    assert(r.getAs[Double]("slope") == -1.0, r.toString)
    // intercept = ln(12) at rank 1 (round-6 ln, round-4 output)
    assert(math.abs(r.getAs[Double]("intercept") - math.log(12.0)) < 1e-3,
      r.toString)
  }

  test("urlNormalize: scheme/host case, www, fragments, utm params, empty paths") {
    import spark.implicits._
    val cases = Seq(
      // host+scheme lowercase, path case preserved
      ("HTTP://ExAmPle.COM/KeepCase", "http://example.com/KeepCase"),
      // www strip + fragment drop + empty path -> /
      ("https://WWW.site.org#frag", "https://site.org/"),
      // utm-only query disappears entirely (no dangling '?')
      ("https://a.io/p?utm_source=x&utm_medium=y", "https://a.io/p"),
      // params sort, utm dropped mid-list, empties ignored
      ("https://a.io/p?z=9&utm_c=1&a=2&&m=5", "https://a.io/p?a=2&m=5&z=9"),
      // www in the PATH is not a host prefix; query untouched case
      ("https://b.co/www.x?Q=UP", "https://b.co/www.x?Q=UP"))
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.urlNormalize($"url").as("n"))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2), got.mkString("\n"))
  }

  test("logisticTrain: exp-free first epoch matches hand math; separable data classifies") {
    import spark.implicits._
    val df = Seq((1.0, 2.0), (1.0, 1.0), (0.0, -1.0), (0.0, -2.0))
      .toDF("y", "x")
    // epoch 1 from w=0: sigma = 0.5 exactly, so g = ((y-0.5) dot (1, x))
    // = (0, 3)/4 -> w = (0.0, 0.75)
    val w1 = Learn.logisticTrain(df, col("y"), Seq(col("x")),
      epochs = 1, lr = 1.0)
    assert(w1.toSeq == Seq(0.0, 0.75), w1.mkString(","))
    // two epochs: still separating sign(x)
    val w2 = Learn.logisticTrain(df, col("y"), Seq(col("x")),
      epochs = 2, lr = 1.0)
    val (_, pred) = Learn.score(w2, Seq(col("x")))
    val got = df.select(col("y"), pred.as("p"))
      .as[(Double, Boolean)].collect()
    assert(got.forall { case (y, p) => (y == 1.0) == p }, got.mkString(","))
  }

  test("logisticTrain: empty input fails with the contract error, not an NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Double, Double)].toDF("y", "x")
    val e = intercept[IllegalArgumentException] {
      Learn.logisticTrain(empty, col("y"), Seq(col("x")), epochs = 1, lr = 1.0)
    }
    assert(e.getMessage.contains("no rows"))
  }

  test("ridgeTrain: exact OLS on exact data; lambda shrinks; guards fire") {
    import spark.implicits._
    val df = Seq((5.0, 1.0), (8.0, 2.0), (11.0, 3.0)).toDF("y", "x")
    // y = 2 + 3x exactly: XtX = [[3,6],[6,14]], Xty = [24,54], det 6
    val w = Learn.ridgeTrain(df, col("y"), Seq(col("x")))
    assert(w.toSeq == Seq(2.0, 3.0), w.mkString(","))
    // ridge at lambda=1: A = [[3,6],[6,15]], det 9 -> w = (4, 2): the
    // slope shrinks toward zero, the free intercept compensates
    val wr = Learn.ridgeTrain(df, col("y"), Seq(col("x")), lambda = 1.0)
    assert(wr.toSeq == Seq(4.0, 2.0), wr.mkString(","))
    // collinear features are singular AT THE LATTICE
    val e1 = intercept[IllegalArgumentException] {
      Learn.ridgeTrain(df.withColumn("x2", col("x") * 2), col("y"),
        Seq(col("x"), col("x2")))
    }
    assert(e1.getMessage.contains("singular"))
    val e2 = intercept[IllegalArgumentException] {
      Learn.ridgeTrain(Seq.empty[(Double, Double)].toDF("y", "x"),
        col("y"), Seq(col("x")))
    }
    assert(e2.getMessage.contains("no rows"))
    val e3 = intercept[IllegalArgumentException] {
      Learn.ridgeTrain(df.withColumn("x",
          when(col("x") > 2, lit(null)).otherwise(col("x"))),
        col("y"), Seq(col("x")))
    }
    assert(e3.getMessage.contains("null feature"))
    // under ANSI (the session default) the moment sum itself throws on
    // long overflow before the post-hoc max-magnitude guard can; either
    // way the fit REFUSES loudly instead of wrapping
    val e4 = intercept[Exception] {
      Learn.ridgeTrain(df.withColumn("x", col("x") * 1e9), col("y"),
        Seq(col("x")))
    }
    assert(e4.getMessage.toLowerCase.contains("overflow"))
  }

  test("aucRoc: midrank ties match hand math; separation pins 1 and 0") {
    import spark.implicits._
    val df = Seq((1L, 3.0), (0L, 1.0), (1L, 2.0), (0L, 2.0)).toDF("y", "s")
    // ascending: s=1 rank 1 (neg); s=2 ranks {2,3} midrank 2.5 (one
    // each); s=3 rank 4 (pos). AUC = (2.5+4 - 3)/(2*2) = 0.875
    val got = Learn.aucRoc(df, col("y"), col("s"))
      .as[(Long, Long, Option[Double])].collect().head
    assert(got == ((2L, 2L, Some(0.875))), got.toString)
    val perfect = Seq((1L, 9.0), (1L, 8.0), (0L, 2.0), (0L, 1.0)).toDF("y", "s")
    assert(Learn.aucRoc(perfect, col("y"), col("s"))
      .as[(Long, Long, Option[Double])].collect().head._3 == Some(1.0))
    val inverted = Seq((0L, 9.0), (0L, 8.0), (1L, 2.0), (1L, 1.0)).toDF("y", "s")
    assert(Learn.aucRoc(inverted, col("y"), col("s"))
      .as[(Long, Long, Option[Double])].collect().head._3 == Some(0.0))
    // one-sided labels have no ROC: auc is null, not NaN
    val oneSided = Seq((1L, 9.0), (1L, 8.0)).toDF("y", "s")
    assert(Learn.aucRoc(oneSided, col("y"), col("s"))
      .as[(Long, Long, Option[Double])].collect().head._3.isEmpty)
  }

  test("classificationReport: hand confusion table, never-predicted " +
      "class nulls precision, macro counts it as 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq.fill(3)(("a", "a")) ++ Seq(("a", "b")) ++
      Seq.fill(2)(("b", "b")) ++ Seq(("b", "a"), ("c", "a"))
    val got = graft.operators.Learn.classificationReport(
        rows.toDF("l", "p"), col("l"), col("p"))
      .as[(String, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // a: tp 3, fp 2 (b->a, c->a), fn 1 -> P .6, R .75, F1 6/9
    assert(got("a") == (("a", 3L, 2L, 1L, Some(0.6), Some(0.75),
      Some(0.666667))), got.toString)
    // b: tp 2, fp 1, fn 1 -> all 2/3
    assert(got("b") == (("b", 2L, 1L, 1L, Some(0.666667), Some(0.666667),
      Some(0.666667))))
    // c never predicted: precision undefined (null), recall 0, F1 0
    assert(got("c") == (("c", 0L, 0L, 1L, None, Some(0.0), Some(0.0))))
    // overall: accuracy 5/8; macro-F1 = (666667+666667+0)/3e6
    assert(got("(overall)") == (("(overall)", 5L, 3L, 3L, Some(0.625),
      Some(0.625), Some(0.444445))), got.toString)
  }

  test("spearman: monotone pins ±1, midrank ties match hand math, " +
      "constant column null, nulls excluded") {
    import spark.implicits._
    def rho(rows: Seq[(Long, Long)]) =
      Learn.spearman(rows.toDF("x", "y"), col("x"), col("y"))
        .as[(Long, Long, Long, Long, Option[Double])].collect().head
    // any strictly monotone map is rank-perfect
    assert(rho(Seq((1L, 10L), (2L, 20L), (3L, 90L)))._5 == Some(1.0))
    assert(rho(Seq((1L, 90L), (2L, 20L), (3L, 10L)))._5 == Some(-1.0))
    // ties on x: doubled midranks dx = 2,5,5,8 vs dy = 2,4,6,8
    // -> num 72, den_x 72, den_y 80, rho = 72/(√72·√80) = 0.948683
    val tied = rho(Seq((1L, 1L), (2L, 2L), (2L, 3L), (3L, 4L)))
    val expect = BigDecimal(72.0 / (math.sqrt(72.0) * math.sqrt(80.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(tied == ((4L, 72L, 72L, 80L, Some(expect))), tied.toString)
    // a constant column has no ranking: null, never NaN
    assert(rho(Seq((1L, 7L), (2L, 7L), (3L, 7L)))._5.isEmpty)
    // null pairs are excluded before ranking
    val withNull = Seq((Some(1L), Some(10L)), (Some(2L), Some(20L)),
      (None, Some(99L)), (Some(3L), None)).toDF("x", "y")
    val gn = Learn.spearman(withNull, col("x"), col("y"))
      .as[(Long, Long, Long, Long, Option[Double])].collect().head
    assert(gn._1 == 2L && gn._5 == Some(1.0), gn.toString)
  }

  test("quantileNormalize: midrank quantiles per group, ties share, scales comparable") {
    import spark.implicits._
    // group a: scores 10,10,20 (n=3); group b: 5 (n=1)
    val df = Seq(("a", 10L), ("a", 10L), ("a", 20L), ("b", 5L))
      .toDF("g", "s")
    val got = TextOps.quantileNormalize(df, col("g"), col("s"))
      .orderBy(col("grp"), col("score"))
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    // a/10: r=0,c=2 -> num 3, den 8 -> 0.375; a/20: r=2,c=1 -> num 6
    // -> 0.75; b/5: num 2, den 4 -> 0.5
    assert(got == Seq(
      ("a", 10L, 2L, 3L, 8L, 0.375),
      ("a", 20L, 1L, 6L, 8L, 0.75),
      ("b", 5L, 1L, 2L, 4L, 0.5)), got.toString)
    // calibrated u is group-size-free: the max score of ANY group of
    // the same shape lands on the same u — a global cut is fair
    assert(got.filter(_._2 == 20L).map(_._6) == Seq(0.75))
  }

  test("wordpieceSegment: greedy longest match, continuations, UNK, caps") {
    import spark.implicits._
    val docs = Seq(
      Tuple1("unaffable unaffable abc abd a " + "x" * 101)
    ).toDF("text")
    val vocab = Seq("un", "##aff", "##able", "a", "ab", "abc", "##b",
      "##c", "x", "##x")
    val got = TextOps.wordpieceSegment(docs, "text", vocab)
      .as[(String, Seq[String], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // the BERT-paper example: un + ##aff + ##able, counted twice
    assert(got("unaffable") == ((Seq("un", "##aff", "##able"), 2L)))
    // longest-first: whole-word "abc" beats "ab"+"##c" and "a"+...
    assert(got("abc") == ((Seq("abc"), 1L)))
    // dead end mid-word -> the WHOLE word is one [UNK]
    assert(got("abd") == ((Seq("[UNK]"), 1L)))
    assert(got("a") == ((Seq("a"), 1L)))
    // over maxWordLen (101 x's) -> [UNK] without running the fold
    assert(got("x" * 101) == ((Seq("[UNK]"), 1L)))
    // a 100-char word still segments
    val got100 = TextOps.wordpieceSegment(
        Seq(Tuple1("x" * 100)).toDF("text"), "text", vocab)
      .as[(String, Seq[String], Long)].collect().head
    assert(got100._2 == "x" +: Seq.fill(99)("##x"))
    intercept[IllegalArgumentException] {
      TextOps.wordpieceSegment(docs, "text", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextOps.wordpieceSegment(docs, "text", Seq("a", "a"))
    }
    Caches.sweep(spark)
  }

  test("filterFunnel: first-fail charging, zero-drop rules, null = fail") {
    import spark.implicits._
    // len: fails r1 (<2); cap: fails r2 (>4); null text: fails r1 via
    // the null-is-fail coalesce; two keepers; one fails only r3
    val docs = Seq(
      (1L, "a"),            // r1
      (2L, "abcdef"),       // r2
      (3L, null: String),   // r1 (null predicate = fail)
      (4L, "abc"),          // kept
      (5L, "abcd"),         // kept
      (6L, "xyz")           // r3 (no 'a')
    ).toDF("id", "text")
    val got = TextOps.filterFunnel(docs, Seq(
        "min_len" -> (length($"text") >= 2),
        "max_len" -> (length($"text") <= 4),
        "has_a" -> $"text".contains("a"),
        "never_drops" -> lit(true)))
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "min_len", 6L, 2L, 4L),
      (2L, "max_len", 4L, 1L, 3L),
      (3L, "has_a", 3L, 1L, 2L),
      (4L, "never_drops", 2L, 0L, 2L),
      (5L, "kept", 2L, 0L, 2L)), got.toString)
    // funnel invariants: drops sum to total − kept; stage outputs chain
    assert(got.map(_._4).sum == 6L - got.last._3)
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a._5 == b._3, s"stage ${a._1} n_out != stage ${b._1} n_in")
    }
    // survivors equal chained .filter
    val chained = docs.filter(length($"text") >= 2)
      .filter(length($"text") <= 4).filter($"text".contains("a")).count()
    assert(got.last._3 == chained)
    intercept[IllegalArgumentException] { TextOps.filterFunnel(docs, Seq.empty) }
    intercept[IllegalArgumentException] {
      TextOps.filterFunnel(docs, Seq("r" -> lit(true), "r" -> lit(false)))
    }
  }

  test("burstiness: bursty term outranks spread term, uniform VMR from " +
      "hand moments, minCount floor") {
    import spark.implicits._
    def run(rows: Seq[(Long, String)], minCount: Long = 1L) = TextOps
      .burstiness(rows.toDF("doc_id", "text"), "doc_id", "text",
        minCount, k = 50)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 4 docs; 'burst' clumps (4 in one doc), 'flat' spreads (1 each)
    val got = run(Seq(
      (1L, "burst burst burst burst flat"),
      (2L, "flat x"), (3L, "flat x"), (4L, "flat x")))
    // burst: N=4, sums over PRESENT docs only (absent carry 0):
    // total 4, s2 16 -> VMR = (4*16 - 16)/(4*4) = 3.0
    assert(got("burst") == ((1L, 4L, 3.0)), got.toString)
    // flat: total 4, s2 4 -> VMR = (16-16)/16 = 0.0 (sub-Poisson:
    // exactly one per doc is MORE even than random)
    assert(got("flat") == ((4L, 4L, 0.0)), got.toString)
    assert(got("burst")._3 > got("x")._3)
    // the count floor drops rare terms entirely
    assert(!run(Seq((1L, "rare common common")), minCount = 2L)
      .contains("rare"))
  }

  test("lmIndex: layout scores match the hand formula, unseen bigrams " +
      "take the smoothing floor, matching ident reuses the build") {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_lm_spec")
    // corpus: "a b a b" + "b c" -> bigrams ab:2, ba:1, bc:1; c1: a->2,
    // b->2; vocab v=3
    val corpus = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    TextOps.lmIndexWrite(corpus, "text", dir, nBuckets = 4)
    def score(rows: Seq[(Long, String)]) = TextOps
      .lmScoreFromIndex(spark, dir, rows.toDF("doc_id", "text"),
        "doc_id", "text", nBuckets = 4)
      .as[(Long, Double)].collect().toMap
    def lg(c: Long, c1: Long): Double =
      math.log((c + 1.0) / (c1 + 3.0)) / math.log(2.0)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // corpus member doc 1: bigrams ab, ba, ab -> mean of lg(2,2)x2, lg(1,2)
    val member = score(Seq(1L -> "a b a b"))
    assert(member(1L) == r4((2 * lg(2, 2) + lg(1, 2)) / 3.0), member.toString)
    // a NEW doc: "a c" unseen bigram with KNOWN head (c=0, c1=2); "z a"
    // unseen head entirely (c=0, c1=0 -> the 1/v floor)
    val fresh = score(Seq(9L -> "a c", 8L -> "z a"))
    assert(fresh(9L) == r4(lg(0, 2)), fresh.toString)
    assert(fresh(8L) == r4(lg(0, 0)), fresh.toString)
    // sub-2-token docs are excluded (no bigrams to score)
    assert(!score(Seq(7L -> "solo")).contains(7L))
    // same corpus + params: the ident matches and the build is reused
    // (idempotent — scores unchanged)
    TextOps.lmIndexWrite(corpus, "text", dir, nBuckets = 4)
    assert(score(Seq(1L -> "a b a b"))(1L) == member(1L))
    Caches.sweep(spark)
  }

  test("llrCollocations: hand 2x2, zero cells contribute 0, minCount " +
      "floor, independence scores 0") {
    import spark.implicits._
    def run(texts: Seq[String], minCount: Long = 1L) = TextOps
      .llrCollocations(texts.toDF("text"), "text", minCount, k = 50)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // corpus "a b a b a c": bigram slots (a,b)x2 (b,a)x2 (a,c)x1 over
    // TWO docs "a b a b a" + "c" won't chain; use one doc
    val got = run(Seq("a b a b a c"))
    // N=5; (a,b): O=2, R(a,·)=3, C(·,b)=2 — hand G² via the quantized
    // chain replicated here
    def lnq(x: Double): Double = math.round(math.log(x) * 1e6) / 1e6
    def cell(o: Long, r: Long, c: Long, n: Long): Long =
      if (o <= 0) 0L
      else math.round(2.0 * o * lnq(o.toDouble * n / (r.toDouble * c)) * 1e9)
    def g2(o: Long, r: Long, c: Long, n: Long): Long =
      cell(o, r, c, n) + cell(r - o, r, n - c, n) +
        cell(c - o, n - r, c, n) + cell(n - r - c + o, n - r, n - c, n)
    // margins: R(a)=3 (ab,ab,ac), R(b)=2, C(a)=2, C(b)=2, C(c)=1
    assert(got(("a", "b"))._2 == g2(2, 3, 2, 5), got.toString)
    assert(got(("b", "a"))._2 == g2(2, 2, 2, 5))
    assert(got(("a", "c"))._2 == g2(1, 3, 1, 5))
    // a perfectly independent 2x2 (every cell at expectation) scores 0
    // exactly: corpus with bigrams (x,y) (x,z) (w,y) (w,z) equally
    val ind = run(Seq("x y", "x z", "w y", "w z"))
    assert(ind(("x", "y")) == ((1L, 0L)), ind.toString)
    // the count floor drops rare pairs entirely
    assert(!run(Seq("a b a b a c"), minCount = 2L).contains(("a", "c")))
  }

  test("lexicalRichness: all-distinct K 0, pure repetition extremes, " +
      "hand spectrum, degenerate nulls") {
    import spark.implicits._
    def run(rows: Seq[(Long, String)]) = TextOps
      .lexicalRichness(rows.toDF("id", "text"), "id", "text")
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val got = run(Seq(
      (1L, "a b c d"),      // all distinct: s2 = n -> K = 0, D = 0
      (2L, "x x x x"),      // one type: s2 = 16 -> K = 1e4·12/16, D = 1
      (3L, "a a b"),        // spectrum: s2 = 5 -> K = 1e4·2/9, D = 2/6
      (4L, "only"),         // single token: D null (no pair)
      (5L, " ")))           // token-less: zero counts, both null
    assert(got(1L) == ((1L, 4L, 4L, Some(0.0), Some(0.0))))
    assert(got(2L) == ((2L, 4L, 16L, Some(7500.0), Some(1.0))))
    assert(got(3L) == ((3L, 3L, 5L, Some(2222.222222), Some(0.333333))))
    assert(got(4L) == ((4L, 1L, 1L, Some(0.0), None)))
    assert(got(5L) == ((5L, 0L, 0L, None, None)))
  }

  test("rougeN: clipped matches, identity 1, disjoint 0, repetition " +
      "clipped, short sides null, unigram mode") {
    import spark.implicits._
    def run(rows: Seq[(Long, String, String)], n: Int = 2) = TextOps
      .rougeN(rows.toDF("id", "ref", "hyp"), "id", "ref", "hyp", n)
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val got = run(Seq(
      // identical: P = R = F1 = 1
      (1L, "a b c d", "a b c d"),
      // hyp "a b c" shares bigrams {ab, bc} of ref's 3 -> P=1, R=2/3,
      // F1 = 2·2/(3+2) = 0.8
      (2L, "a b c d", "a b c"),
      // disjoint: all zero scores, not null
      (3L, "a b c", "x y z"),
      // repetition clips: hyp repeats "a b" three times (bigrams
      // ab,ba,ab,ba,ab) but ref has ONE ab -> match 1
      (4L, "a b", "a b a b a b"),
      // one-token hyp: no bigram -> P null, R 0, F1 0
      (5L, "a b c", "a"),
      // both sides under n: everything null
      (6L, "a", "b")))
    assert(got(1L) == ((1L, 3L, 3L, 3L, Some(1.0), Some(1.0), Some(1.0))))
    assert(got(2L) == ((2L, 3L, 2L, 2L, Some(1.0), Some(0.666667),
      Some(0.8))))
    assert(got(3L) == ((3L, 2L, 2L, 0L, Some(0.0), Some(0.0), Some(0.0))))
    assert(got(4L) == ((4L, 1L, 5L, 1L, Some(0.2), Some(1.0),
      Some(0.333333))))
    assert(got(5L) == ((5L, 2L, 0L, 0L, None, Some(0.0), Some(0.0))))
    assert(got(6L) == ((6L, 0L, 0L, 0L, None, None, None)))
    // ROUGE-1: unigram multiset overlap
    val uni = run(Seq((1L, "a a b", "a b b")), n = 1)
    assert(uni(1L) == ((1L, 3L, 3L, 2L, Some(0.666667), Some(0.666667),
      Some(0.666667))))
    intercept[IllegalArgumentException] {
      TextOps.rougeN(Seq((1L, "a", "b")).toDF("id", "ref", "hyp"),
        "id", "ref", "hyp", 0)
    }
  }

  test("binarySimhashPairs: identical payloads at hamming 0, one flipped " +
      "byte stays near, disjoint payloads far, short payloads excluded") {
    import spark.implicits._
    import graft.operators.Multimodal
    def pairs(rows: Seq[(Long, Array[Byte])], maxHamming: Int = 3) = {
      val got = Multimodal.binarySimhashPairs(
          rows.toDF("media_id", "content"), "media_id", "content",
          maxHamming = maxHamming)
        .as[(Long, Long, Int)].collect()
        .map(r => (r._1, r._2) -> r._3.toLong).toMap
      Caches.sweep(spark)
      got
    }
    // 128-byte payload; flipping the LAST byte changes only the 4 grams
    // covering it, shifting exactly ONE signature bit (pinned by the
    // portable hash — replayed in python while writing this test), so
    // the pair sits inside the banding guarantee (hamming <= 3)
    val base = Array.tabulate[Byte](128)(i => (i % 251).toByte)
    val flipped = base.clone(); flipped(127) = (flipped(127) ^ 0x01).toByte
    val noise = Array.tabulate[Byte](128)(i => ((i * 37 + 11) % 241).toByte)
    val all = pairs(Seq(1L -> base, 2L -> base, 3L -> flipped, 4L -> noise))
    assert(all((1L, 2L)) == 0L, all.toString)
    assert(all((1L, 3L)) == 1L, all.toString)
    // the unrelated payload is far from everything: no pair involves 4
    assert(all.keys.forall(k => k._1 != 4L && k._2 != 4L), all.toString)
    // payloads under one gram have no signature to compare
    assert(pairs(Seq(1L -> Array[Byte](1, 2), 2L -> Array[Byte](1, 2)))
      .isEmpty)
  }

  test("textrankKeywords: hub outranks leaves, symmetric pair is 0.5, " +
      "self-pairs and short docs drop") {
    import spark.implicits._
    def rank(texts: String*) = {
      val got = TextOps.textrankKeywords(texts.toDF("text"), "text")
        .orderBy(col("pr").desc, col("word"))
        .as[(String, Double)].collect().toSeq
      Caches.sweep(spark)
      got
    }
    // star: 'c' co-occurs with three leaves — centrality puts it first
    // even though every word has the same corpus frequency
    val star = rank("c a", "c b", "c d")
    assert(star.head._1 == "c" && star.size == 4, star.toString)
    assert(star.tail.map(_._2).distinct.size == 1) // leaves tie exactly
    assert(star.head._2 > star(1)._2)
    // a single symmetric pair sits at the uniform fixed point 0.5
    // ("a b a" contributes (a,b) twice; the canonical set keeps one)
    assert(rank("a b a") == Seq(("a", 0.5), ("b", 0.5)))
    // repeated-token self-pairs and sub-2-token docs contribute nothing
    assert(rank("x x", "y").isEmpty)
  }
}
