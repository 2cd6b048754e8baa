package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** ST15: streaming maintenance of the X3e persisted IVF index — the
  * vector-tier sibling of [[StreamingPostings]] (ST14): keep
  * [[graft.operators.Similarity.buildIvfIndex]]'s cell-partitioned
  * corpus fresh as vectors stream in, under the same exactly-once
  * [[StateStore]] protocol every graft streaming store rides.
  *
  * Layout under `storeDir`:
  *   centroids-<cv>/        the FROZEN codebook, version cv — trained
  *       once from the first batch (deterministic
  *       [[Similarity.trainCentroids]]), replaced only by [[retrain]]
  *   cells/batch-<id>/cell=N/   immutable per-batch assigned vectors
  *       (neighbor_id, cv), cell-partitioned exactly like the batch
  *       index — vectors are append-only, so a batch's assignment
  *       under a frozen codebook never needs rewriting
  *   cells/base-<through>-<centVer>/cell=N/   the compacted form
  *       ([[compact]]/[[retrain]]) — centVer in the name keeps every
  *       rewrite version-distinct from the dirs it reads
  *   pointer payload  (nCorpus, compactedThrough, centVer)
  *
  * A commit writes the batch's cell dirs (and, on the first batch,
  * the codebook) before the pointer moves; the replay after a crash
  * rewrites both (training is deterministic, so even a half-written
  * codebook heals to identical bytes) and readers never see
  * uncommitted dirs.
  *
  * Query face [[ivfTopKFromStore]]: the IDENTICAL assignment and
  * score trees as `ivfTopKIndexed` over the committed cell dirs —
  * results are bit-equal to a fresh batch [[Similarity.buildIvfIndex]]
  * built with the store's codebook over everything ingested
  * (spec-pinned, replay and crash included).
  *
  * RE-TRAIN / DRIFT POLICY — the codebook is FROZEN between
  * [[retrain]] calls, and that is a deliberate exactness/recall
  * trade: every query remains EXACT with respect to the frozen
  * quantizer (parity with the batch index holds at every instant —
  * correctness never drifts), but if the incoming vector distribution
  * drifts away from the codebook's clusters, cells stop matching the
  * data's true neighborhoods and a fixed nProbe covers a shrinking
  * fraction of each query's neighbors — RECALL at fixed probe width
  * decays, which is the operational signal to retrain. [[retrain]]
  * rebuilds the codebook over everything ingested and reassigns the
  * corpus into one new base (a compaction with new cell boundaries),
  * atomically: readers see the old view until the pointer moves.
  *
  * SINGLE WRITER — like [[StreamingPostings]], the store assumes ONE
  * writer at a time across [[applyBatch]]/[[compact]]/[[retrain]]
  * (the streaming query's foreachBatch is naturally serial;
  * maintenance ops run between batches, never concurrently with
  * one). Each maintenance op reads the pointer ONCE and derives its
  * whole view (dir list + written-back pointer) from that snapshot,
  * so it can never sweep a batch it didn't fold; CONCURRENT writers
  * would still race at the pointer move itself and are out of
  * contract. Readers are always safe — they see whichever committed
  * pointer the atomic move exposes.
  */
object StreamingIvf {

  private val Initial = Seq(0L, -1L, 0L)

  /** (version, lastBatchId, nCorpus, compactedThrough, centroidVer);
    * (0, -1, 0, -1, 0) initially.
    */
  def readPointer(storeDir: String): (Long, Long, Long, Long, Long) = {
    val p = StateStore.pointer(storeDir, Initial)
    (p.version, p.batchId, p.payload(0), p.payload(1), p.payload(2))
  }

  /** Committed cell directories under a pointer SNAPSHOT — the
    * [[StreamingPostings]] rule: the compacted base (if any) +
    * per-batch dirs above the watermark. Takes the pointer as an
    * argument (never re-reads it) so one maintenance op derives its
    * whole view from a single read — see the single-writer note in
    * the object scaladoc. Base dirs are named
    * `base-<through>-<centVer>`: version-distinct, so [[retrain]]
    * never overwrites a path it is lazily reading from.
    */
  private def committedCellDirs(storeDir: String,
      ptr: (Long, Long, Long, Long, Long)): Seq[String] = {
    val (_, lastBatch, _, compactedThrough, centVer) = ptr
    val root = new java.io.File(storeDir, "cells")
    if (!root.isDirectory || lastBatch < 0) Seq.empty
    else {
      val base =
        if (compactedThrough < 0) Seq.empty
        else Seq(new java.io.File(root,
          s"base-$compactedThrough-$centVer").getPath)
      val batches = root.listFiles().toSeq
        .filter { d =>
          d.isDirectory && StateStore.versionOf(d.getName, "batch-")
            .exists(b => b > compactedThrough && b <= lastBatch)
        }
        .map(_.getPath).sorted
      base ++ batches
    }
  }

  private def centroids(spark: SparkSession, storeDir: String,
      centVer: Long): DataFrame =
    spark.read.parquet(s"$storeDir/centroids-$centVer")

  /** Fold ONE vector batch (id, vec) into the store — pure function
    * of (committed store, batch, batchId); replays are no-ops.
    * Vectors are append-only (upstream CDC-dedup stores own mutation).
    * The FIRST batch trains the codebook (deterministic, so the
    * crash-replay rewrite is byte-identical); every later batch is
    * assigned under the frozen codebook — one broadcast-codebook
    * argmax scan over the batch, nothing corpus-sized.
    */
  def applyBatch(batch: DataFrame, id: String, vec: String,
      storeDir: String, batchId: Long, nlist: Int = 0,
      iters: Int = 2): Unit =
    StateStore.commit(storeDir, batchId, initial = Initial) { (cur, _) =>
      val Seq(nCorpus, compactedThrough, centVer) = cur.payload
      val spark = batch.sparkSession
      val cv =
        if (centVer > 0L) centVer
        else {
          val n = batch.count()
          val nl =
            if (nlist > 0) nlist else Similarity.ivfConfigFor(n)._1
          val cents =
            if (iters <= 0) // deterministic md5-rank sample, oracle-able
              Similarity.trainCentroids(batch, id, vec, nl, 0, n)
            else Similarity.trainCentroids(batch, id, vec, nl, iters, n)
          cents.write.mode(SaveMode.Overwrite)
            .parquet(s"$storeDir/centroids-1")
          1L
        }
      val cents = broadcast(centroids(spark, storeDir, cv))
      Similarity.assignCells(batch, id, vec, cents,
          "neighbor_id", "cv", keep = 1)
        .repartition(col("cell"))
        .write.mode(SaveMode.Overwrite).partitionBy("cell")
        .parquet(s"$storeDir/cells/batch-$batchId")
      Seq(nCorpus + batch.count(), compactedThrough, cv)
    }

  /** Retrieval against the streamed store — the `ivfTopKIndexed`
    * plan over committed cell dirs: broadcast codebook assignment of
    * the query batch, static partition pruning to the probed cells
    * (the filter pushes through the union into every per-batch scan),
    * the shared per-cell-prune + rounded-cosine score tree. nProbe
    * resolution follows the serving tier: pin > recall target >
    * nlist/2.
    */
  def ivfTopKFromStore(spark: SparkSession, storeDir: String,
      queries: DataFrame, id: String, vec: String, k: Int,
      nProbe: Int = 0, targetRecall: Double = 0.0): DataFrame = {
    val ptr = readPointer(storeDir)
    val (ver, _, _, _, centVer) = ptr
    val dirs = committedCellDirs(storeDir, ptr)
    if (ver == 0L || dirs.isEmpty || centVer == 0L) {
      // degenerate schema matches the non-empty path: neighbor_id
      // carries the ingested vector-id type — witnessed by any cell
      // dir on disk, else the query side's own id type (the natural
      // default: corpus and query ids share a universe)
      val nidType = {
        val root = new java.io.File(storeDir, "cells")
        Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.isDirectory).sortBy(_.getName).headOption
          .flatMap(d => scala.util.Try(
            spark.read.parquet(d.getPath).schema("neighbor_id").dataType)
            .toOption)
          .getOrElse(queries.schema(id).dataType)
      }
      return queries.where(lit(false))
        .select(col(id).as("query_id"),
          lit(null).cast(nidType).as("neighbor_id"),
          lit(null).cast("double").as("cosine"),
          lit(null).cast("long").as("rank"))
    }
    val cents = broadcast(centroids(spark, storeDir, centVer))
    val nl = cents.count().toInt
    val np =
      if (nProbe > 0) nProbe
      else if (targetRecall > 0.0) Similarity.servingConfigFor(nl, targetRecall)
      else math.max(1, nl / 2)
    val queryCells = Similarity.assignCells(queries, id, vec, cents,
      "query_id", "qv", keep = np)
    val probed = queryCells.select(col("cell")).distinct()
      .collect().map(_.get(0)).toSeq
    val cells = dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .where(if (probed.isEmpty) lit(false)
        else col("cell").isin(probed: _*))
    Similarity.ivfScorePipeline(cells, queryCells, k, perCellPrune = true)
  }

  /** Fold the committed cell dirs into ONE compacted base (keeping
    * the cell partitioning and the frozen codebook) — answers
    * unchanged, the per-retrieval read stops paying a directory per
    * batch. Crash-safe like [[StreamingPostings.compact]]: base
    * written fully, pointer moved atomically, THEN superseded dirs
    * swept (a crashed sweep's leftovers sit below the watermark and
    * are ignored + re-swept).
    */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    // ONE pointer read per maintenance op: the dir list and the
    // written-back pointer both derive from this snapshot (see the
    // single-writer note in the object scaladoc)
    val ptr = readPointer(storeDir)
    val (ver, lastBatch, nCorpus, _, centVer) = ptr
    val dirs = committedCellDirs(storeDir, ptr)
    if (dirs.size > 1) {
      dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
        .repartition(col("cell"))
        .write.mode(SaveMode.Overwrite).partitionBy("cell")
        .parquet(s"$storeDir/cells/base-$lastBatch-$centVer")
      StateStore.publish(storeDir, StateStore.Pointer(ver, lastBatch,
        Seq(nCorpus, lastBatch, centVer)))
    }
    sweep(storeDir)
  }

  /** Re-train the codebook over EVERYTHING ingested and reassign the
    * corpus into one new base under the new cells — the drift
    * response (see the object scaladoc). Atomic: the new codebook
    * version and base are fully written before the pointer moves, so
    * readers see the old (still-correct) view until the cutover
    * instant; a crash before the move changes nothing visible.
    */
  def retrain(spark: SparkSession, storeDir: String, nlist: Int = 0,
      iters: Int = 2): Unit = {
    // ONE pointer read per maintenance op (single-writer contract)
    val ptr = readPointer(storeDir)
    val (ver, lastBatch, nCorpus, _, centVer) = ptr
    val dirs = committedCellDirs(storeDir, ptr)
    if (dirs.isEmpty) return
    val all = dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .select(col("neighbor_id"), col("cv"))
    val nl = if (nlist > 0) nlist else Similarity.ivfConfigFor(nCorpus)._1
    val cents = Similarity.trainCentroids(
      all, "neighbor_id", "cv", nl, iters, nCorpus)
    val newCv = centVer + 1
    cents.write.mode(SaveMode.Overwrite)
      .parquet(s"$storeDir/centroids-$newCv")
    // the new base is written under the NEW codebook version —
    // base-<through>-<centVer> naming keeps the output path distinct
    // from every input dir, so retraining a store that is already
    // compacted through lastBatch (the natural compact-then-retrain
    // drift response) never overwrites the path it lazily reads from
    Similarity.assignCells(all, "neighbor_id", "cv",
        broadcast(centroids(spark, storeDir, newCv)),
        "neighbor_id", "cv", keep = 1)
      .repartition(col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$storeDir/cells/base-$lastBatch-$newCv")
    StateStore.publish(storeDir, StateStore.Pointer(ver + 1, lastBatch,
      Seq(nCorpus, lastBatch, newCv)))
    sweep(storeDir)
  }

  /** Post-commit cleanup shared by [[compact]]/[[retrain]]: drop cell
    * dirs at or below the watermark, bases below it, and codebook
    * versions behind the pointer's.
    */
  private def sweep(storeDir: String): Unit = {
    val (_, _, _, through, centVer) = readPointer(storeDir)
    if (through >= 0)
      StateStore.sweep(s"$storeDir/cells") { name =>
        StateStore.versionOf(name, "batch-").exists(_ <= through) ||
          (name.startsWith("base-") && {
            // base-<through>-<centVer>: superseded when its watermark
            // is behind the pointer's, or same watermark under an
            // OLD codebook version (a completed retrain's input base)
            val parts = name.stripPrefix("base-").split("-")
            val t = parts.headOption.flatMap(_.toLongOption)
            val c = parts.lift(1).flatMap(_.toLongOption)
            t.exists(tv => tv < through ||
              (tv == through && !c.contains(centVer)))
          })
      }
    StateStore.sweep(storeDir)(
      StateStore.versionOf(_, "centroids-").exists(_ < centVer))
  }

}
