package graft

import graft.streaming.StateStore
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Derived artifacts (persisted indexes, scaled corpora, id lists)
  * cached under the JVM temp dir as `<family>-<dataset>-<mtime>`:
  * `dataset` is the data dir's basename and `mtime` the newest source
  * table's modification time, so a regenerated fixture gets a fresh
  * directory instead of silently reusing a stale one.
  *
  * Reuse is gated on a marker the build writes last (a parquet
  * `_SUCCESS`), so a crash mid-build leaves no marker and the next
  * call rebuilds in place (builds write in Overwrite mode). Every
  * build first sweeps its own family's stale siblings — only names of
  * the exact shape `<family>-<dataset>-<digits>` — so the cache keeps
  * one entry per family and dataset, and no family deletes another's.
  */
object IndexCache {

  /** One family per build recipe: two recipes under one name would
    * serve each other's index.
    */
  val Bm25Index = "graft-bm25idx2"
  /** nlist 16, md5-sampled codebook (iters 0): the registry's recipe. */
  val IvfIndex = "graft-ivfidx"
  val IvfFilteredIndex = "graft-ivffidx"
  val IvfPqIndex = "graft-ivfpq"
  /** Trained codebook (iters 2, nlist from the corpus size). */
  val IvfTrainedIndex = "graft-ivftrained"
  val BloomIds = "graft-bloomids"

  private def root = Paths.get(System.getProperty("java.io.tmpdir"))

  /** The cache directory for `tables` of `dataDir` under `family`,
    * built by `build(dir)` unless `dir/marker` already exists.
    */
  def getOrBuild(family: String, dataDir: String, tables: Seq[String],
      marker: String)(build: String => Unit): String = {
    val dataset = Paths.get(dataDir).getFileName.toString
    val mtime = tables.map(t => Files.getLastModifiedTime(
      Paths.get(s"$dataDir/$t.parquet")).toMillis).max
    val name = s"$family-$dataset-$mtime"
    val dir = root.resolve(name).toString
    if (!Files.exists(Paths.get(dir, marker))) {
      sweepStale(family, dataset, keep = name)
      build(dir)
    }
    dir
  }

  /** Delete every `<family>-<dataset>-<digits>` entry but `keep`.
    * Best effort: a sibling another process is deleting, or cannot be
    * deleted, is left for the next build.
    */
  private def sweepStale(family: String, dataset: String,
      keep: String): Unit =
    try StateStore.sweep(root.toString)(name => name != keep &&
      StateStore.versionOf(name, s"$family-$dataset-").isDefined)
    catch { case NonFatal(_) => () }
}
