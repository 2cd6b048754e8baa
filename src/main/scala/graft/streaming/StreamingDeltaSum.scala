package graft.streaming

import graft.operators.TimeSeries
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming maintenance of W4d counter analytics
  * ([[TimeSeries.deltaSum]] — ClickHouse `deltaSum`, Prometheus
  * `increase`/`rate`): serve per-key counter increase, reset count
  * and rate live over a sampled counter stream, without rescanning
  * sample history. The reference's own observability plane is the
  * motivating feed — its Prometheus metrics
  * (`/root/reference/internal/metrics/metrics.go:11-38`) are monotone
  * counters, and this is the query a metrics backend answers about
  * them.
  *
  * Unlike the OHLC/matview/collapse states, deltaSum's state is NOT
  * order-free: [[TimeSeries.mergeDeltaSumStates]] is exact only for
  * ord-DISJOINT slices (deltas are adjacency facts — the merge
  * stitches the one boundary delta per slice pair). Micro-batches
  * overlap in event time, so batches cannot be slices. The fold
  * therefore buffers raw samples per OPEN time slice and converts a
  * slice to its one-row-per-key state exactly once, when the
  * WATERMARK closes it:
  *
  *   slice    = floor(ts / sliceSeconds)        (event-time bucket)
  *   wm       = max(wm_prev, max ts seen − delaySeconds)  (monotone)
  *   closed   = slices with end ≤ wm  → folded via deltaSumState,
  *              appended to the closed-state table, rows discarded
  *   open     = later slices          → raw rows kept pending
  *
  * Closed slices are bucket-disjoint by construction, so the merge
  * precondition HOLDS BY CONSTRUCTION, and all pending rows sit
  * strictly above every closed slice (a slice only closes when every
  * earlier slice is closed), so the read face may fold the pending
  * rows as one final open slice and merge it in — the live answer
  * equals the batch [[TimeSeries.deltaSum]] over every sample
  * retained. Rows arriving for an already-closed slice (late beyond
  * the watermark delay) are DROPPED — the standard streaming
  * watermark contract, spec-pinned.
  *
  * Store layout: `state-<version>/closed` (one mergeable state row
  * per (keys, slice)) + `state-<version>/pending` (raw rows of open
  * slices) under the [[StateStore]] protocol, with the watermark as
  * the pointer's one payload field.
  * Scale shape per batch: one partial fold of (pending ∪ batch) —
  * pending is bounded by delay × arrival rate, never history — plus
  * a closed-table append of |closing slices × keys| rows. The
  * closed table grows one row per (key, slice); [[compactClosed]]
  * folds it back to one row per key (merges compose hierarchically),
  * keeping the read-face merge slice-count-bounded forever.
  */
object StreamingDeltaSum {

  private val Initial = Seq(Long.MinValue)

  /** (version, lastAppliedBatchId, watermark); (0, -1, Long.MinValue)
    * before the first commit.
    */
  def readPointer(stateDir: String): (Long, Long, Long) = {
    val p = StateStore.pointer(stateDir, Initial)
    (p.version, p.batchId, p.payload(0))
  }

  /** Samples normalized to the store schema: keys ++ (__ts, __tie,
    * __v, __slice). `tie` totally orders same-second samples per key
    * (the W1 tiebreak discipline — it is the ord's second component).
    */
  private def normalize(df: DataFrame, keys: Seq[String], ts: Column,
      tie: Column, value: Column, sliceSeconds: Long): DataFrame = {
    val t = ts.cast("long")
    df.select(keys.map(col) ++ Seq(
      t.as("__ts"), tie.cast("long").as("__tie"),
      value.cast("double").as("__v"),
      ((t - pmod(t, lit(sliceSeconds))) / sliceSeconds).cast("long")
        .as("__slice")): _*)
  }

  private def readDir(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Fold ONE micro-batch of counter samples into the store; replays
    * (batchId <= pointer's) are no-ops. Pure function of (committed
    * state, batch, batchId) — unit-testable without a stream.
    */
  def applyBatch(batch: DataFrame, keys: Seq[String], ts: Column,
      tie: Column, value: Column, sliceSeconds: Long, delaySeconds: Long,
      stateDir: String, batchId: Long): Unit = {
    require(sliceSeconds > 0, s"sliceSeconds must be positive: $sliceSeconds")
    require(delaySeconds >= 0, s"delaySeconds must be >= 0: $delaySeconds")
    val spark = batch.sparkSession
    StateStore.commit(stateDir, batchId, initial = Initial) { (cur, next) =>
      val (curVer, wmOld) = (cur.version, cur.payload(0))
      val norm = normalize(batch, keys, ts, tie, value, sliceSeconds)
      val pending =
        if (curVer == 0L) spark.createDataFrame(
          java.util.Collections.emptyList[Row](), norm.schema)
        else readDir(spark, s"$stateDir/state-$curVer/pending")
      // late-beyond-watermark rows target an already-closed slice and
      // must be dropped — folding them would break slice disjointness
      val sliceEnd = (col("__slice") + 1) * sliceSeconds
      val rows = pending.unionByName(norm.where(sliceEnd > wmOld))
        .localCheckpoint(true)
      // the watermark is a pointer-file fact, so the 1-row max is an
      // inherent bounded driver fetch (O(1), not a hot-path collect)
      val maxTs = rows.agg(max(col("__ts"))).head.get(0)
      val wm =
        if (maxTs == null) wmOld
        else math.max(wmOld, maxTs.asInstanceOf[Long] - delaySeconds)
      val closing = rows.where(sliceEnd <= wm)
      val staying = rows.where(sliceEnd > wm)
      val newClosed = TimeSeries.deltaSumState(
        closing, keys :+ "__slice",
        ord = Seq(col("__ts"), col("__tie")), ts = col("__ts"),
        value = col("__v"))
      val closed =
        if (curVer == 0L) newClosed
        else readDir(spark, s"$stateDir/state-$curVer/closed")
          .unionByName(newClosed)
      // Overwrite: a crash between the two writes and the pointer move
      // leaves orphan dirs the replay must be able to rewrite
      closed.write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/state-$next/closed")
      staying.write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/state-$next/pending")
      Seq(wm)
    }
  }

  /** The read face: per-key (n_samples, n_resets, delta_sum, span_s,
    * rate_per_s) over every retained sample — closed-slice states
    * merged with (by default) the open pending rows folded as one
    * final slice. `includeOpen = false` answers from closed slices
    * only (the Prometheus staleness posture).
    */
  def currentTotals(spark: SparkSession, stateDir: String,
      keys: Seq[String], includeOpen: Boolean = true): DataFrame = {
    val (v, _, _) = readPointer(stateDir)
    require(v > 0L, s"no committed deltaSum state under $stateDir")
    val closed = readDir(spark, s"$stateDir/state-$v/closed")
      .drop("__slice")
    val states =
      if (!includeOpen) closed
      else closed.unionByName(TimeSeries.deltaSumState(
        readDir(spark, s"$stateDir/state-$v/pending"), keys,
        ord = Seq(col("__ts"), col("__tie")), ts = col("__ts"),
        value = col("__v")))
    TimeSeries.finalizeDeltaSum(
      TimeSeries.mergeDeltaSumStates(states, keys), keys)
  }

  /** Maintenance compaction: fold the per-slice closed states down to
    * ONE state row per key (merges compose hierarchically — the
    * merged row is itself a state, disjoint from and below every
    * future slice). The read face is invariant under compaction
    * (spec law); the closed table stops growing with stream age.
    * Published as a new version under the same pointer protocol.
    */
  def compactClosed(spark: SparkSession, stateDir: String,
      keys: Seq[String]): Unit = {
    val (v, batchId, wm) = readPointer(stateDir)
    require(v > 0L, s"no committed deltaSum state under $stateDir")
    val closed = readDir(spark, s"$stateDir/state-$v/closed")
    val maxSlice = closed.groupBy(keys.map(col): _*)
      .agg(max(col("__slice")).as("__slice"))
    val merged = TimeSeries.mergeDeltaSumStates(
        closed.drop("__slice"), keys)
      .join(maxSlice, keys)
    val next = v + 1
    merged.select(closed.columns.map(col): _*).write
      .mode(SaveMode.Overwrite).parquet(s"$stateDir/state-$next/closed")
    readDir(spark, s"$stateDir/state-$v/pending").write
      .mode(SaveMode.Overwrite).parquet(s"$stateDir/state-$next/pending")
    StateStore.publish(stateDir, StateStore.Pointer(next, batchId, Seq(wm)))
  }
}
