package graft.streaming

import graft.operators.VersionedDedup
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** ST13: streaming maintenance of the W1c SCD Type-2 history — the
  * warehouse table a CDC feed like the reference's
  * (internal/ingestion/cdc.go) lands as, kept current per micro-batch
  * instead of rebuilt nightly (what dbt snapshots do in batch, done
  * on the stream).
  *
  * Store layout under `stateDir`:
  *
  *   closed/delta-<version>/   append-only: intervals CLOSED by batch
  *                             <version> — immutable once committed
  *   open-<version>/           the current open interval per live key
  *                             (current-state sized, rewritten per
  *                             batch like the MatView state)
  *   tomb-<version>/           keys whose LATEST committed change was
  *                             a delete, with the delete's version —
  *                             the at-least-once guard's memory for
  *                             keys the open table can't see
  *
  * Per batch: only the AFFECTED keys' open rows are re-derived — the
  * open row re-enters [[VersionedDedup.scd2History]] as a change row
  * alongside the batch's changes, so a new change closes it with
  * exactly the batch operator's semantics; every other key's open row
  * is carried over untouched, and closed history is never read, let
  * alone rewritten. Exactly-once via the [[StateStore]] protocol:
  * `closed/delta-<v+1>`, `open-<v+1>` and `tomb-<v+1>` are written
  * before the pointer moves, so a crash leaves orphans the replay
  * overwrites (same version names).
  *
  * Contract: per-key versions are STRICTLY increasing for new
  * changes across batches (the CDC log order a keyed Kafka topic
  * delivers); disorder WITHIN a batch is handled by the operator's
  * sort. An at-least-once feed may REDELIVER an already-applied
  * change in a later batchId — [[applyBatch]] drops batch rows whose
  * version is ≤ the key's committed version (open row, or the
  * tombstoned delete version for a key whose latest change was a
  * delete) before the re-derivation, so a redelivery can neither
  * emit a spurious zero-length closed interval, duplicate the open
  * row, nor resurrect a deleted key. The
  * read face [[history]] = all closed deltas ∪ the open table, and
  * equals the batch `scd2History` over every change ever ingested —
  * the parity law the spec asserts, replay and crash windows
  * included.
  *
  * Scale shape: per batch the work is |batch| + |affected open rows|
  * for the re-derivation plus an open-table-sized rewrite — never
  * O(history); closed history grows append-only, one delta dir per
  * batch (compact offline by concatenating deltas).
  */
object StreamingScd2 {

  import StateStore.readPointer

  private def emptyLike(spark: SparkSession, template: DataFrame): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[Row](), template.schema)

  /** The committed open-interval table (one row per live key). */
  def readOpen(spark: SparkSession, stateDir: String,
      template: DataFrame): DataFrame =
    StateStore.readVersioned(spark, stateDir, template, prefix = "open-")

  private def basePath(stateDir: String) = Paths.get(stateDir, "closed", "_BASE")

  /** Compaction floor: deltas ≤ base are superseded by
    * `closed/compact-<base>`; 0 = no compaction yet.
    */
  def readBase(stateDir: String): Long = {
    val p = basePath(stateDir)
    if (!Files.exists(p)) 0L else Files.readString(p).trim.toLong
  }

  /** All committed closed intervals (≤ pointer version: an orphan
    * delta from a crash window is invisible until its commit).
    * Reads the compacted run (if any) plus the deltas past it.
    */
  def readClosed(spark: SparkSession, stateDir: String,
      template: DataFrame): DataFrame = {
    val (v, _) = readPointer(stateDir)
    val base = readBase(stateDir)
    val compact = Seq(s"$stateDir/closed/compact-$base")
      .filter(_ => base > 0L)
    val dirs = compact ++ (base + 1 to v).map(i => s"$stateDir/closed/delta-$i")
      .filter(d => Files.isDirectory(Paths.get(d)))
    if (dirs.isEmpty) emptyLike(spark, template)
    else spark.read.parquet(dirs: _*)
  }

  /** Fold the per-batch delta directories into one compacted run —
    * the offline maintenance pass that keeps the closed-history file
    * count O(1) instead of O(batches). Crash-safe by the same
    * write-then-pointer discipline as the commit protocol: the new
    * `compact-<v>` is written FULLY, then `closed/_BASE` moves
    * atomically, and only then are the superseded delta/compact dirs
    * deleted — a crash at any point leaves a readable store (orphan
    * compact dirs beyond _BASE are invisible; stale deltas ≤ _BASE
    * are ignored by [[readClosed]]).
    */
  def compactClosed(spark: SparkSession, stateDir: String,
      template: DataFrame): Unit = {
    val (v, _) = readPointer(stateDir)
    val prevBase = readBase(stateDir)
    if (v <= prevBase) return
    readClosed(spark, stateDir, template)
      .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/closed/compact-$v")
    StateStore.writeAtomic(basePath(stateDir), v.toString)
    StateStore.sweep(s"$stateDir/closed")(name =>
      StateStore.versionOf(name, "delta-").exists(_ <= v) ||
        StateStore.versionOf(name, "compact-").exists(_ < v))
  }

  /** The full SCD2 history at the current commit point — closed
    * intervals plus the open row per live key.
    */
  def history(spark: SparkSession, stateDir: String,
      template: DataFrame): DataFrame =
    readClosed(spark, stateDir, template)
      .unionByName(readOpen(spark, stateDir, template))

  /** Materialize the committed read face as a time-bucket-partitioned
    * snapshot ([[VersionedDedup.writeHistoryPartitioned]]) — the
    * serving layout for point-in-time queries: an AS OF read via
    * [[VersionedDedup.asOfPartitioned]] then prunes every bucket the
    * instant can't touch instead of scanning the whole store.
    */
  def writePartitionedSnapshot(spark: SparkSession, stateDir: String,
      template: DataFrame, outPath: String, bucketSeconds: Long): Unit =
    VersionedDedup.writeHistoryPartitioned(
      history(spark, stateDir, template), outPath, bucketSeconds)

  /** The committed tombstone table (one row per key whose LATEST
    * committed change was a delete: keys + the delete's version).
    * Missing dir (pre-tombstone stores, or version 0) reads as empty
    * — the guard then degrades to open-row-only, the old behavior.
    */
  def readTombs(spark: SparkSession, stateDir: String,
      template: DataFrame): DataFrame = {
    val (v, _) = readPointer(stateDir)
    val dir = s"$stateDir/tomb-$v"
    if (v == 0L || !Files.isDirectory(Paths.get(dir))) {
      // a PRE-tombstone store (nonzero version, no tomb dir) degrades
      // to the open-row-only guard — correct for live keys but the
      // deleted-key resurrection window is open again until the next
      // batch writes tomb-<v+1>. Warn once so the degradation is
      // visible instead of silent.
      if (v > 0L && preTombWarned.compareAndSet(false, true))
        System.err.println(
          s"StreamingScd2: no tombstone table at $dir (pre-tombstone " +
            "store?) — redelivery guard degraded to open-row-only for " +
            "this batch; deleted-key redeliveries may resurrect")
      emptyLike(spark, template)
    } else spark.read.parquet(dir)
  }

  private val preTombWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Fold ONE batch of change rows into the store. `batch` columns:
    * `keys` ++ (versionCol, tsCol, deleteCol) ++ payload. Pure
    * function of (committed state, batch, batchId); replays are
    * no-ops. The produced rows carry the scd2History schema
    * (batch columns + valid_from, valid_to, is_current).
    */
  def applyBatch(batch: DataFrame, keys: Seq[String],
      versionCol: String, tsCol: String, deleteCol: String,
      stateDir: String, batchId: Long,
      redeliveryHorizon: Option[Long] = None): Unit = {
    Files.createDirectories(Paths.get(stateDir, "closed"))
    StateStore.commit(stateDir, batchId, prefixes = Seq("open-", "tomb-")) {
        (_, next) =>
      val spark = batch.sparkSession
      val hist = VersionedDedup.scd2History(
        batch, keys, col(versionCol), col(tsCol).cast("long"),
        col(deleteCol))
      val open = readOpen(spark, stateDir, hist)
      // at-least-once guard: a redelivered change (version ≤ the key's
      // committed version) would tie the open row in the re-derivation
      // window — nondeterministic order, a spurious zero-length closed
      // interval, and a duplicated row — or, for a key whose latest
      // committed change was a DELETE, resurrect the deleted key. The
      // open table can't see deleted keys, so deletes leave a TOMBSTONE
      // (keys + delete version) the guard unions in; only rows STRICTLY
      // newer than the committed version are new changes, and a key
      // whose batch rows are all stale stays untouched.
      val tombTemplate = batch.select(
        (keys.map(col) :+ col(versionCol)): _*).limit(0)
      val tombs = readTombs(spark, stateDir, tombTemplate)
        .localCheckpoint()
      val openVer = open.select(
        (keys.map(col) :+ col(versionCol).as("__open_ver")): _*)
        .unionByName(tombs.select(
          (keys.map(col) :+ col(versionCol).as("__open_ver")): _*))
      val fresh = batch.join(openVer, keys, "left")
        .where(col("__open_ver").isNull || col(versionCol) > col("__open_ver"))
        .drop("__open_ver")
      // open rows of AFFECTED keys re-enter the derivation as change
      // rows — scd2History KEEPS the original change columns, so
      // dropping its three derived columns restores the exact change
      // row (same version, same ts); a batch change with a higher
      // version then closes it exactly as the batch operator would.
      // localCheckpoint: both the closed and the open write consume
      // `redone` — without it the union + window runs twice.
      val batchKeys = fresh.select(keys.map(col): _*).distinct()
      val affectedOpen = open.join(batchKeys, keys, "left_semi")
        .drop("valid_from", "valid_to", "is_current")
      val carried = open.join(batchKeys, keys, "left_anti")
      val redone = VersionedDedup.scd2History(
        fresh.unionByName(
          affectedOpen.select(fresh.columns.map(col): _*)),
        keys, col(versionCol), col(tsCol).cast("long"), col(deleteCol))
        .localCheckpoint()
      // overwrite-tolerant: a crash after the writes but before the
      // pointer move leaves these exact dirs as orphans the replay
      // must be able to rewrite
      redone.where(!col("is_current")).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/closed/delta-$next")
      carried.unionByName(redone.where(col("is_current")))
        .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/open-$next")
      // tombstone maintenance: a touched key with no surviving current
      // row was killed by this batch's (max-version) delete — record it
      // so a later redelivery below that version can't resurrect it; a
      // touched key that IS live again sheds any previous tombstone
      // (revival); untouched tombstones carry over. Sized by the
      // deleted-key population, not history; prune with a redelivery
      // horizon offline if deletes dominate a workload.
      val touchedLatest = fresh
        .unionByName(affectedOpen.select(fresh.columns.map(col): _*))
        .groupBy(keys.map(col): _*)
        .agg(max(col(versionCol)).as("__maxv"))
      val liveKeys = redone.where(col("is_current"))
        .select(keys.map(col): _*).distinct()
      // redelivery-horizon pruning (optional): tombstones exist only to
      // block redelivered changes with version ≤ the tombstoned delete;
      // if the source guarantees redelivery within `h` version units of
      // the head, a tombstone more than `h` below this batch's max
      // version can never be hit again — drop it during the rewrite so
      // the table is sized by the RECENT deleted-key population, not
      // the cumulative one. No horizon (None) keeps every tombstone
      // (the safe default for unbounded redelivery).
      val carriedTombs = tombs.join(batchKeys, keys, "left_anti")
      val prunedTombs = redeliveryHorizon match {
        case Some(h) =>
          val headRow = batch.agg(max(col(versionCol).cast("long"))).head()
          if (headRow.isNullAt(0)) carriedTombs
          else carriedTombs.where(
            col(versionCol).cast("long") >= lit(headRow.getLong(0) - h))
        case None => carriedTombs
      }
      prunedTombs
        .unionByName(touchedLatest.join(liveKeys, keys, "left_anti")
          .select((keys.map(col) :+ col("__maxv").as(versionCol)): _*))
        .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/tomb-$next")
      // the commit prunes open/tomb tables older than the crash-window
      // predecessor (closed deltas are immutable history — never pruned)
      Nil
    }
  }
}
