package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The ONE write-then-pointer store protocol every streaming store in
  * this package follows, and the only code that touches a store's
  * pointer file or deletes its versions. A store is a directory of
  * immutable `<prefix><version>/` parquet snapshots under an
  * atomically-moved `_CURRENT` pointer holding
  * "<version> <lastAppliedBatchId> [payload…]" — the payload is a
  * store's own trailing longs (a watermark, corpus stats, a
  * compaction watermark), decoded by that store's typed `readPointer`:
  *
  *  - COMMIT = write the next version's snapshot(s), THEN move the
  *    pointer. A crash between the two leaves an orphan directory the
  *    replayed batch overwrites (Overwrite mode) — readers never see
  *    it because they resolve through the pointer.
  *  - REPLAY GUARD = a batchId at or below the pointer's is a no-op;
  *    foreachBatch redelivery therefore cannot double-fold.
  *  - CLEANUP = retain version and version−1 (a concurrent reader may
  *    still hold the predecessor); list the directory once and delete
  *    every `<prefix><n>` with n ≤ version−2. Gaps left by a crash
  *    during an earlier multi-directory delete are swept too, so no
  *    version is ever orphaned.
  *
  * Stores supply ONLY their state algebra (partial/merge/read faces);
  * multi-directory stores pass their extra prefixes to the same
  * cleanup, and sweep their own sub-layouts through [[sweep]].
  */
object StateStore {

  /** A store's commit pointer. */
  final case class Pointer(version: Long, batchId: Long,
      payload: Seq[Long] = Nil) {
    override def toString: String =
      (version +: batchId +: payload).mkString(" ")
  }

  private def pointerPath(stateDir: String) = Paths.get(stateDir, "_CURRENT")

  /** The committed pointer; `Pointer(0, -1, initial)` before the first
    * commit. `initial` is the payload a store starts from.
    */
  def pointer(stateDir: String, initial: Seq[Long] = Nil): Pointer = {
    val p = pointerPath(stateDir)
    if (!Files.exists(p)) Pointer(0L, -1L, initial)
    else {
      val f = Files.readString(p).trim.split(" ").map(_.toLong).toSeq
      Pointer(f(0), f(1), f.drop(2))
    }
  }

  /** (version, lastAppliedBatchId) of a plain store; (0, -1) before
    * the first commit.
    */
  def readPointer(stateDir: String): (Long, Long) = {
    val p = pointer(stateDir)
    (p.version, p.batchId)
  }

  /** Replace `path`'s content atomically (write a sibling, then move). */
  def writeAtomic(path: Path, text: String): Unit = {
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, path,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Move the pointer — the commit point — then drop every
    * `<prefix><n>` with n ≤ version−2. Maintenance ops that rewrite a
    * committed view (compactions, retrains) publish through this too.
    */
  def publish(stateDir: String, ptr: Pointer,
      prefixes: Seq[String] = Seq("state-")): Unit = {
    writeAtomic(pointerPath(stateDir), ptr.toString)
    sweep(stateDir)(name =>
      prefixes.exists(versionOf(name, _).exists(_ <= ptr.version - 2L)))
  }

  /** Recursive delete of one snapshot directory, walk stream closed. */
  def deleteTree(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** List `dir` once and delete every subdirectory whose name is
    * `stale`. A missing `dir` is a no-op.
    */
  def sweep(dir: String)(stale: String => Boolean): Unit =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && stale(d.getName))
      .foreach(d => deleteTree(d.toPath))

  /** n when `name` is exactly `<prefix><n>` (n all digits). */
  def versionOf(name: String, prefix: String): Option[Long] =
    if (!name.startsWith(prefix)) None
    else {
      val n = name.substring(prefix.length)
      if (n.nonEmpty && n.forall(_.isDigit)) n.toLongOption else None
    }

  /** The commit skeleton shared by every store's applyBatch: replay
    * guard → caller writes snapshot(s) for the next version → pointer
    * move → cleanup. Returns false on a replayed (skipped) batch.
    * `write` receives (current pointer, next version), must only
    * create next-version directories in Overwrite mode, and returns
    * the next pointer's payload.
    */
  def commit(stateDir: String, batchId: Long,
      prefixes: Seq[String] = Seq("state-"), initial: Seq[Long] = Nil)(
      write: (Pointer, Long) => Seq[Long]): Boolean = {
    Files.createDirectories(Paths.get(stateDir))
    val cur = pointer(stateDir, initial)
    if (batchId <= cur.batchId) return false
    val next = cur.version + 1
    val payload = write(cur, next)
    publish(stateDir, Pointer(next, batchId, payload), prefixes)
    true
  }

  /** The commutative-fold commit: state-<next> = merge(committed ∪
    * partial). `partial` is only built for a batch that is not a
    * replay; it also serves as the empty-store schema.
    */
  def fold(stateDir: String, batchId: Long, partial: => DataFrame)(
      merge: DataFrame => DataFrame): Boolean =
    commit(stateDir, batchId) { (_, next) =>
      val p = partial
      merge(readVersioned(p.sparkSession, stateDir, p).unionByName(p))
        .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/state-$next")
      Nil
    }

  /** The streaming sink every store rides: a store's
    * `applyBatch(batch, batchId)` inside foreachBatch, so each
    * micro-batch commits exactly once.
    */
  def maintain(stream: DataFrame, checkpoint: String)(
      applyBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId)
      }

  /** The committed snapshot under `prefix` (empty-safe via template —
    * the schema-only frame every read face passes before the first
    * commit).
    */
  def readVersioned(spark: SparkSession, stateDir: String,
      template: DataFrame, prefix: String = "state-"): DataFrame = {
    val (v, _) = readPointer(stateDir)
    if (v == 0L) spark.createDataFrame(
      java.util.Collections.emptyList[Row](), template.schema)
    else spark.read.parquet(s"$stateDir/$prefix$v")
  }
}
