package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming maintenance of the W1f CollapsingMergeTree `FINAL` view
  * ([[graft.operators.Collapsing.collapseFinal]]) — the CDC
  * sign-stream fold kept current per micro-batch: a state writer
  * cancels its previous row with a `sign = -1` copy and writes the
  * replacement `+1`; readers get, per key, the latest uncancelled
  * state — without ever rescanning the sign history.
  *
  * The batch operator's aggregate is a commutative mergeable state
  * (the OHLC shape, not the deltaSum shape — no ordering
  * precondition, so no watermark is needed and cancels may arrive in
  * any batch relative to their states):
  *
  *   net  = sum of sign                 (additive)
  *   cand = max over `+1` rows of struct(ordCols..., payload...)
  *
  * Lexicographic struct max picks the same row as the batch
  * `max_by(payload, ord)` because `ordCols` totally orders the `+1`
  * rows of a key (the caller contract, same as
  * VersionedDedup.latestByVersionAgg; on violated ties the struct
  * max falls through to the payload columns — deterministic, where
  * the batch pick is arbitrary). A fully-cancelled key keeps its
  * state row (net ≤ 0) rather than being deleted: a late or future
  * `+1` must be able to resurrect it, and a late cancel must find
  * the net it decrements — the state is |keys ever seen| rows, the
  * same posture as the ClickHouse engine's own sorting-key space.
  *
  * State is one `state-<version>/` table per applied batch under the
  * [[StateStore]] protocol. Scale shape per batch: one partial
  * aggregate of the batch (map-side combine — the sign pairs collapse
  * before the shuffle) + a merge over |keys| state rows, never the
  * sign history.
  */
object StreamingCollapse {

  private def payloadCols(df: DataFrame, keys: Seq[String],
      signCol: String): Seq[String] =
    df.columns.filterNot(c => keys.contains(c) || c == signCol).toSeq

  /** One mergeable collapse-state row per key over a slice of the
    * sign stream. `ordCols` lead the candidate struct so its
    * lexicographic max IS the ord-latest `+1` row.
    */
  def partialState(df: DataFrame, keys: Seq[String],
      signCol: String, ordCols: Seq[String]): DataFrame = {
    val payload = payloadCols(df, keys, signCol)
    val ordered = ordCols ++ payload.filterNot(ordCols.contains)
    val cand = struct(ordered.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(
        sum(col(signCol)).cast("long").as("net"),
        max(when(col(signCol) === 1, cand)).as("cand"))
  }

  /** Merge any union of collapse-state frames to one row per key. */
  def mergeStates(states: DataFrame, keys: Seq[String]): DataFrame =
    states.groupBy(keys.map(col): _*)
      .agg(sum(col("net")).cast("long").as("net"), max(col("cand")).as("cand"))

  /** The read face: exactly [[graft.operators.Collapsing.collapseFinal]]'s
    * output — keys + the winning payload, only for keys whose net sign
    * is positive and that have at least one `+1` state.
    */
  def finalizeState(state: DataFrame, keys: Seq[String]): DataFrame = {
    val fields = state.schema("cand").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    val live = state.where(col("net") > 0 && col("cand").isNotNull)
    fields.foldLeft(live)((d, c) => d.withColumn(c, col(s"cand.$c")))
      .drop("net", "cand")
  }

  /** Fold ONE micro-batch of signed rows into the store; replays
    * (batchId <= pointer's) are no-ops.
    */
  def applyBatch(batch: DataFrame, keys: Seq[String], signCol: String,
      ordCols: Seq[String], stateDir: String, batchId: Long): Unit =
    StateStore.fold(stateDir, batchId,
      partialState(batch, keys, signCol, ordCols))(mergeStates(_, keys))
}
