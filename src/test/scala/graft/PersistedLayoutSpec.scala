package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, PersistedLayout, Retrieval,
  Similarity, TextOps}

/** Helpers that put a layout into a crashed state by hand. */
object LayoutCrash {
  /** Overwrite a layout's ident with `ident`, as a crash would leave it. */
  def writeIdent(dir: String, ident: String): Unit = {
    val p = PersistedLayout.identPath(dir)
    val fs = p.getFileSystem(TestSpark.spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(ident.getBytes("UTF-8")) finally out.close()
  }

  def ident(dir: String): String =
    PersistedLayout.readIdent(TestSpark.spark, dir)
      .getOrElse(throw new AssertionError(s"no ident at $dir"))
}

/** Crash injection against every persisted layout family, all through
  * the one [[PersistedLayout]] protocol: a build that died before its
  * ident, an append that died mid-write (in every sentinel format ever
  * written), a retried append, and a matching rebuild.
  */
class PersistedLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One layout family: how to build it, serve it and append to it. */
  private case class Family(name: String, build: String => Unit,
      serve: String => Unit, append: Option[String => Unit])

  private lazy val families: Seq[Family] = {
    import spark.implicits._
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val docs = Tables(spark, TestSpark.sf, "documents")
    val media = Multimodal.fabricate(docs)
    val embBase = emb.filter($"vec_id" < 400)
    val embBatch = emb.filter($"vec_id" >= 400)
    val docBase = docs.filter($"doc_id" % 5 =!= 0)
    val docBatch = docs.filter($"doc_id" % 5 === 0)
    val mediaBase = media.filter($"media_id" % 5 =!= 0)
    val mediaBatch = media.filter($"media_id" % 5 === 0)
    val q = emb.filter($"vec_id" === 450L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    def run(df: DataFrame): Unit = df.collect()
    Seq(
      Family("ivf",
        dir => Similarity.ivfBuildLayout(embBase, centEvery = 25,
          layoutDir = dir),
        dir => run(Similarity.ivfTopKServing(spark,
          emb.filter($"vec_id" < 3), k = 3, nProbe = 2, layoutDir = dir)),
        Some(dir => Similarity.ivfAppendToLayout(embBatch, dir))),
      Family("ivfadc",
        dir => Similarity.ivfAdcBuildLayout(embBase, centEvery = 25, dir,
          m = 4, k = 4)(Similarity.pqTrain(embBase, "vec_id", "embedding",
          m = 4, k = 4, iters = 1)),
        dir => run(Similarity.ivfAdcProbeLayout(spark, dir, q, kNN = 5)),
        Some(dir => Similarity.ivfAdcAppendToLayout(embBatch, dir))),
      Family("bm25",
        dir => Retrieval.bm25IndexWrite(docBase, "doc_id", "text", dir,
          nBuckets = 8),
        dir => run(Retrieval.bm25TopKFromIndex(spark, dir, Seq("hash"),
          nBuckets = 8)),
        Some(dir => Retrieval.bm25IndexAppend(docBatch, "doc_id", "text",
          dir, nBuckets = 8))),
      Family("positional",
        dir => Retrieval.positionalIndexWrite(docs, "doc_id", "text", dir,
          nBuckets = 8),
        dir => run(Retrieval.phraseMatchesFromIndex(spark, dir,
          Seq("hash", "join"), nBuckets = 8)),
        None),
      Family("lm",
        dir => TextOps.lmIndexWrite(docs, "text", dir, nBuckets = 8),
        dir => run(TextOps.lmScoreFromIndex(spark, dir, docBatch, "doc_id",
          "text", nBuckets = 8)),
        None),
      Family("bpe",
        dir => TextOps.bpeTrainLayout(docs, "text", nMerges = 3,
          minCount = 2L, dir),
        dir => run(TextOps.bpeSegmentFromLayout(docBatch, "text", dir)),
        None),
      Family("lsh",
        dir => Dedup.lshIndexWrite(docBase, "doc_id", "text", dir,
          nParts = 8),
        dir => run(Dedup.lshProbeIndex(spark, dir, docBatch, "doc_id",
          "text", nParts = 8)),
        Some(dir => Dedup.lshIndexAppend(docBatch, "doc_id", "text", dir,
          nParts = 8))),
      Family("binsimhash",
        dir => Multimodal.binarySimhashIndexWrite(mediaBase, "media_id",
          "content", dir, nParts = 8),
        dir => run(Multimodal.binarySimhashProbeIndex(spark, dir,
          mediaBatch, "media_id", "content", nParts = 8)),
        Some(dir => Multimodal.binarySimhashIndexAppend(mediaBatch,
          "media_id", "content", dir, nParts = 8))),
      Family("bindhash",
        dir => Multimodal.binaryDhashIndexWrite(mediaBase, "media_id",
          "content", dir, nParts = 8),
        dir => run(Multimodal.binaryDhashProbeIndex(spark, dir,
          mediaBatch, "media_id", "content", nParts = 8)),
        Some(dir => Multimodal.binaryDhashIndexAppend(mediaBatch,
          "media_id", "content", dir, nParts = 8))))
  }

  private def freshDir(family: Family): String =
    java.nio.file.Files.createTempDirectory(s"graft_pl_${family.name}")
      .resolve("layout").toString

  private def refuses(what: String)(body: => Unit): IllegalArgumentException =
    try { body; fail(s"$what was not refused") }
    catch { case e: IllegalArgumentException => e }

  test("data written but ident missing: serving refuses, build rebuilds") {
    families.foreach { f =>
      val dir = freshDir(f)
      f.build(dir)
      val valid = LayoutCrash.ident(dir)
      val p = PersistedLayout.identPath(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)
      val e = refuses(s"${f.name}: serving without an ident")(f.serve(dir))
      assert(e.getMessage.contains("not servable"), s"${f.name}: $e")
      f.build(dir)
      assert(LayoutCrash.ident(dir) == valid, f.name)
      f.serve(dir)
    }
    Caches.sweep(spark)
  }

  test("a sentinel in any format ever written: serving and append " +
      "refuse, build rebuilds") {
    val legacy = Seq("graft-ivf-appending! ", "graft-ivfadc-appending! ",
      "graft-bm25-appending! ", "APPENDING ")
    families.foreach { f =>
      val dir = freshDir(f)
      f.build(dir)
      val valid = LayoutCrash.ident(dir)
      // the current format, left by an append whose write crashed
      val crashed = crashAppend(f, dir, valid)
      assert(!crashed.startsWith(valid), s"${f.name}: '$crashed'")
      (legacy.map(_ + valid) :+ crashed).foreach { sentinel =>
        LayoutCrash.writeIdent(dir, sentinel)
        refuses(s"${f.name}: serving '$sentinel'")(f.serve(dir))
        f.append.foreach(a =>
          refuses(s"${f.name}: appending to '$sentinel'")(a(dir)))
        f.build(dir)
        assert(LayoutCrash.ident(dir) == valid, s"${f.name} after '$sentinel'")
        f.serve(dir)
      }
    }
    Caches.sweep(spark)
  }

  /** Crash an append of a family through the protocol and return the
    * ident it left behind. */
  private def crashAppend(f: Family, dir: String, valid: String): String = {
    val prefix = valid.takeWhile(_ != ' ')
    intercept[IllegalStateException] {
      PersistedLayout.append(spark, dir, prefix, "crash") {
        throw new IllegalStateException("crash mid-append")
      }
    }
    LayoutCrash.ident(dir)
  }

  test("the same batch appended twice: the second append is refused") {
    families.filter(_.append.nonEmpty).foreach { f =>
      val dir = freshDir(f)
      f.build(dir)
      f.append.get(dir)
      val once = LayoutCrash.ident(dir)
      assert(once.contains(" +append="), s"${f.name}: '$once'")
      val e = refuses(s"${f.name}: a retried batch")(f.append.get(dir))
      assert(e.getMessage.contains("already appended"), s"${f.name}: $e")
      assert(LayoutCrash.ident(dir) == once, s"${f.name}: refusal wrote")
      f.serve(dir)
    }
    Caches.sweep(spark)
  }

  test("a matching build is a no-op: the ident is not rewritten") {
    families.foreach { f =>
      val dir = freshDir(f)
      f.build(dir)
      val p = PersistedLayout.identPath(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val old = 1000000000000L // a time no rewrite can produce
      fs.setTimes(p, old, -1)
      f.build(dir)
      assert(fs.getFileStatus(p).getModificationTime == old,
        s"${f.name}: matching build rewrote the layout")
    }
    Caches.sweep(spark)
  }

  test("no ident or appending sentinel is handled outside PersistedLayout") {
    import scala.jdk.CollectionConverters._
    // the main sources sit above the compiled test classes
    val classes = java.nio.file.Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val root = Iterator.iterate(classes)(_.getParent)
      .takeWhile(_ != null).map(_.resolve("src/main/scala"))
      .find(java.nio.file.Files.isDirectory(_))
      .getOrElse(fail(s"no src/main/scala above $classes"))
    val banned = Seq("_graft_ident", "appending!", "APPENDING ")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "PersistedLayout.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(line.contains) => s"$p:${i + 1}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"hand-rolled ident handling: ${offenders.mkString(", ")}")
  }
}
