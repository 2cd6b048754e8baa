package graft.streaming

import graft.operators.MatView
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Streaming maintenance of a [[MatView]] aggregate state — the
  * ingest half of the Summing/AggregatingMergeTree semantics: every
  * micro-batch folds into a per-key state table on disk, and readers
  * get [[currentState]] — exactly the aggregate over ALL rows ever
  * ingested, at any point between batches.
  *
  * State is one `state-<version>/` parquet table per applied batch
  * under the [[StateStore]] commit protocol (exactly-once state, not
  * just at-least-once): a crash mid-commit is healed by the replayed
  * batch re-merging from the old state, so no batch is ever
  * double-counted — the failure mode a plain "append partials,
  * aggregate at read" store has under replay.
  *
  * Scale shape: the merge reads |keys| state rows + one batch's
  * partials — never historical raw data; the state write is one
  * key-partitioned aggregate of state-row-count size.
  */
object StreamingMatView {

  /** The read face at the current commit point. */
  def currentState(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    MatView.finalizeState(
      StateStore.readVersioned(spark, stateDir, template), keys)

  /** Fold ONE ingest batch into the store. Pure function of
    * (committed state, batch, batchId) — unit-testable without a
    * stream; [[StateStore.maintain]] runs it inside foreachBatch.
    * Replays (batchId <= pointer's) are no-ops.
    */
  def applyBatch(batch: DataFrame, keys: Seq[String], value: Column,
      distinctOn: Column, stateDir: String, batchId: Long): Unit =
    StateStore.fold(stateDir, batchId,
      MatView.partialState(batch, keys, value, distinctOn))(
      MatView.mergeStates(_, keys))
}
