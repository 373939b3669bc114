package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The build, append and serve protocol every persisted layout shares:
  * the IVF, IVFADC, BM25, positional, LM, BPE, LSH and binary-signature
  * indexes, and the scale-probe tables.
  *
  * Invariant: a layout directory is valid only when its ident was
  * written LAST and names the layout's family and parameters. A build
  * writes its data while no ident exists; an append writes its data
  * while the ident holds the appending sentinel. A crash at any point
  * therefore leaves either no ident or one that no family's accepted
  * prefix admits: [[requireServable]] refuses the layout and the next
  * [[build]] starts over. Nothing is staged or renamed, so the written
  * data paths are the layout's final paths.
  *
  * [[build]] has two hit rules:
  *  - exact (the default): the stored ident equals the build ident. An
  *    appended layout carries ` +append=<batch>` tags and so rebuilds;
  *    a build-then-append maintenance cycle relies on this to redo the
  *    whole cycle on every call.
  *  - `keepAppended`: the stored ident may also extend the build ident
  *    with ` +append=` tags, so re-running the original build after
  *    appends keeps the appended batches (the signature layouts).
  *
  * [[append]] records each batch's tag in the ident and refuses a tag
  * that is already recorded, before it writes anything: a retried batch
  * would otherwise duplicate its rows. One writer per directory at a
  * time; readers get fail-fast refusal during maintenance, not
  * isolation.
  */
object PersistedLayout {

  private val IdentFile = "_graft_ident"
  private val AppendingSentinel = "graft-appending! "

  /** Where a layout keeps its ident. */
  def identPath(dir: String): Path = new Path(dir, IdentFile)

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** The stored ident, or None when the layout has none. */
  def readIdent(spark: SparkSession, dir: String): Option[String] = {
    val fs = fileSystem(spark, dir)
    val p = identPath(dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  private def writeIdent(spark: SparkSession, dir: String,
      ident: String): Unit = {
    val out = fileSystem(spark, dir).create(identPath(dir), true)
    try out.write(ident.getBytes("UTF-8")) finally out.close()
  }

  /** Skip `write` when the stored ident is a hit for `ident`; otherwise
    * delete `dir`, run `write` and write `ident` last. */
  def build(spark: SparkSession, dir: String, ident: String,
      keepAppended: Boolean = false)(write: => Unit): Unit = {
    val hit = readIdent(spark, dir).exists(stored =>
      stored == ident ||
        keepAppended && stored.startsWith(ident + " +append="))
    if (!hit) {
      val fs = fileSystem(spark, dir)
      val path = new Path(dir)
      if (fs.exists(path)) fs.delete(path, true)
      write
      writeIdent(spark, dir, ident)
    }
  }

  /** Append one batch to a servable layout: refuse a batch whose tag is
    * already recorded (unless `force`), then write the sentinel, run
    * `write` and write the ident extended by ` +append=<batchTag>`. */
  def append(spark: SparkSession, dir: String, acceptedPrefix: String,
      batchTag: String, force: Boolean = false)(write: => Unit): Unit = {
    val ident = requireServable(spark, dir, acceptedPrefix)
    val tag = s"+append=$batchTag"
    require(force || !ident.split(' ').contains(tag),
      s"batch already appended to $dir ($tag is recorded in the ident): " +
        "a retried append would duplicate its rows")
    writeIdent(spark, dir, AppendingSentinel + ident)
    write
    writeIdent(spark, dir, s"$ident $tag")
  }

  /** The ident of a layout that may be served, or an
    * IllegalArgumentException when it has no ident or one that does not
    * start with the family's `acceptedPrefix` (a crashed or in-progress
    * append, another family, or other parameters). */
  def requireServable(spark: SparkSession, dir: String,
      acceptedPrefix: String): String = {
    val ident = readIdent(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"layout at $dir is not " +
        "servable: it has no ident (never built, or its build crashed)"))
    require(ident.startsWith(acceptedPrefix),
      s"layout at $dir is not servable as '$acceptedPrefix': its ident " +
        s"is '$ident' (a crashed or in-progress append, or other " +
        "parameters); rebuild it")
    ident
  }

  /** The tag an append records for `batch`: its analyzed plan hash. */
  def batchTag(batch: DataFrame): String =
    batch.queryExecution.analyzed.semanticHash().toString
}
