package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming maintenance of the W9 OHLC bars table
  * ([[graft.operators.TimeSeries.ohlcResample]]) — the live
  * time-bucket dashboard the reference's metrics feed draws, kept
  * current per micro-batch instead of recomputed from raw history.
  *
  * The batch operator's four aggregates are all commutative folds
  * once "first"/"last" carry their ordering key: the per-(keys,
  * bucket) state is
  *
  *   open_s  = min over rows of struct(t, tie, value)
  *   close_s = max over rows of struct(t, tie, value)
  *   high / low / n = max / min / count of value
  *
  * and struct min/max is associative, so ANY slicing of the rows —
  * in particular out-of-order arrival across micro-batches — merges
  * to the batch answer EXACTLY (no watermark needed: late rows fold
  * into their bar whenever they arrive; the state is bar-count
  * sized, the MatView posture, not open-ended event state). The
  * lexicographic struct min over (t, tie, value) picks the same row
  * as `min_by(value, struct(t, tie))` because (t, tie) totally
  * orders rows within a group — the W1 tiebreak discipline.
  *
  * State is one `state-<version>/` bar table per applied batch under
  * the [[StateStore]] commit protocol. Scale shape per batch: one
  * partial aggregate of the batch (map-side combine) + a merge over
  * |bars| state rows — never raw history.
  */
object StreamingOhlc {

  /** One mergeable bar-state row per (keys, bucket) over a slice. */
  def partialBars(df: DataFrame, keys: Seq[String], ts: Column,
      tie: Column, value: Column, bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be positive: $bucketSeconds")
    val t = ts.cast("long")
    val bucket = ((t - pmod(t, lit(bucketSeconds))) / bucketSeconds)
      .cast("long")
    val tagged = struct(t.as("t"), tie.as("k"), value.as("v"))
    df.withColumn("bucket", bucket)
      .groupBy((keys.map(col) :+ col("bucket")): _*)
      .agg(
        min(tagged).as("open_s"),
        max(value).as("high"),
        min(value).as("low"),
        max(tagged).as("close_s"),
        count(lit(1)).as("n"))
  }

  /** Merge any union of bar-state frames to one row per bar. */
  def mergeBars(states: DataFrame, keys: Seq[String]): DataFrame =
    states.groupBy((keys.map(col) :+ col("bucket")): _*)
      .agg(
        min(col("open_s")).as("open_s"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max(col("close_s")).as("close_s"),
        sum(col("n")).as("n"))

  /** The read face: exactly [[graft.operators.TimeSeries.ohlcResample]]'s
    * output columns.
    */
  def finalizeBars(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select((keys.map(col) ++ Seq(col("bucket"),
      col("open_s.v").as("open"), col("high"), col("low"),
      col("close_s.v").as("close"), col("n"))): _*)

  /** Fold ONE micro-batch of rows into the bars store; replays
    * (batchId <= pointer's) are no-ops.
    */
  def applyBatch(batch: DataFrame, keys: Seq[String], ts: Column,
      tie: Column, value: Column, bucketSeconds: Long,
      stateDir: String, batchId: Long): Unit =
    StateStore.fold(stateDir, batchId,
      partialBars(batch, keys, ts, tie, value, bucketSeconds))(
      mergeBars(_, keys))
}
