package graft.streaming

import graft.functions.BitmapAgg
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming maintenance of A41 exact-bitmap segment states — the
  * EXACT complement of [[StreamingTheta]], completing the segment-
  * store pairing the batch side already has (A18 theta ↔ A41
  * groupBitmap): theta serves the sampling regime with O(2^lgK)
  * state; this store serves integer-id audiences where the answer
  * must be exact (billing, suppression lists, holdout membership)
  * and the state is the COMPRESSED id set itself.
  *
  * Summability is native: Roaring bitmaps are a commutative monoid
  * under OR, so each micro-batch folds as
  * `committed OR bitmapAgg(batch)` per key and the committed state
  * after batch k is bit-identical to the batch aggregate over
  * everything ingested through k — the ST16/ST17/ST20 argument,
  * asserted structurally by the spec. Replayed ids are absorbed by
  * OR within one batch; across batches the pointer's batchId guard
  * does the exactness work (same protocol as every store in the
  * family).
  *
  * State is one `state-<version>/` table per applied batch under the
  * [[StateStore]] protocol.
  *
  * Scale shape: the merge reads |keys| state rows + one batch's
  * partials; raw volume reaches one (keys) aggregate per batch and
  * never again. State growth is bounded by the distinct-id set's
  * compressed size per key — the same reason ClickHouse materializes
  * `groupBitmapState` views. Read faces answer EXACT cardinalities
  * and exact set algebra between any two maintained segments at the
  * current commit point without touching raw history.
  */
object StreamingBitmap {

  /** One serialized bitmap per key over this batch's ids. */
  def partialState(batch: DataFrame, keys: Seq[String],
      id: Column): DataFrame =
    batch.groupBy(keys.map(col): _*)
      .agg(BitmapAgg.bitmapAgg(id).as("bitmap_state"))

  /** OR partial/committed states down to one bitmap per key. */
  def mergeStates(states: DataFrame, keys: Seq[String]): DataFrame =
    states.groupBy(keys.map(col): _*)
      .agg(BitmapAgg.bitmapOrAgg(col("bitmap_state")).as("bitmap_state"))

  /** Read face: EXACT per-key distinct counts at the commit point. */
  def currentCardinalities(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    StateStore.readVersioned(spark, stateDir, template)
      .select((keys.map(col) :+
        BitmapAgg.bitmapCardinality(col("bitmap_state"))
          .as("n_distinct")): _*)

  /** Read face: exact set algebra between two maintained segments
    * (single key column) — |A|, |B|, |A∩B|, |A\B|, |A∪B|, |AΔB|.
    * Empty when either segment has no committed state yet.
    */
  def segmentAlgebra(spark: SparkSession, stateDir: String,
      keyCol: String, a: String, b: String,
      template: DataFrame): DataFrame = {
    val state = StateStore.readVersioned(spark, stateDir, template)
    val sa = state.where(col(keyCol) === a)
      .select(col("bitmap_state").as("__sa"))
    val sb = state.where(col(keyCol) === b)
      .select(col("bitmap_state").as("__sb"))
    sa.crossJoin(sb).select(
      BitmapAgg.bitmapCardinality(col("__sa")).as("n_a"),
      BitmapAgg.bitmapCardinality(col("__sb")).as("n_b"),
      BitmapAgg.bitmapAndCardinality(col("__sa"), col("__sb")).as("n_both"),
      BitmapAgg.bitmapAndnotCardinality(col("__sa"), col("__sb")).as("n_a_only"),
      BitmapAgg.bitmapOrCardinality(col("__sa"), col("__sb")).as("n_either"),
      BitmapAgg.bitmapXorCardinality(col("__sa"), col("__sb")).as("n_sym"))
  }

  /** Read face: exact membership probe against one segment's
    * committed state — the suppression-list check.
    */
  def contains(spark: SparkSession, stateDir: String, keyCol: String,
      segment: String, id: Long, template: DataFrame): DataFrame =
    StateStore.readVersioned(spark, stateDir, template)
      .where(col(keyCol) === segment)
      .select(BitmapAgg.bitmapContains(col("bitmap_state"), lit(id))
        .as("is_member"))

  /** Fold ONE ingest batch into the store — pure function of
    * (committed state, batch, batchId), unit-testable without a
    * stream. Replays (batchId <= pointer's) are no-ops.
    */
  def applyBatch(batch: DataFrame, keys: Seq[String], id: Column,
      stateDir: String, batchId: Long): Unit =
    StateStore.fold(stateDir, batchId, partialState(batch, keys, id))(
      mergeStates(_, keys))
}
