package graft.streaming

import graft.operators.Curation
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** ST23 — streaming maintenance of the X30 collocation counts: the
  * phrase table served live. A crawl-ingest pipeline wants "what are
  * the corpus' multi-word units / boilerplate phrases RIGHT NOW"
  * without rescanning everything ingested; the X30 state — one
  * integer count per (kind, a, b) where kind 'u' is unigrams and 'b'
  * adjacent bigrams — is trivially SUMMABLE, so each micro-batch
  * folds by addition and the committed counts after batch k are
  * bit-identical to one batch pass over batches 0..k (asserted per
  * batch by the spec). The read face runs
  * [[Curation.collocationsFromCounts]] UNCHANGED on the committed
  * state, so PMI/NPMI parity with the batch operator is STRUCTURAL
  * (totals N and M are derived sums of the state, never separate
  * state that could drift).
  *
  * Scale shape: each batch pays one explode + two hash aggregates
  * over its own rows; the merge touches vocabulary + pair-table
  * sized state, bounded by the corpus' DISTINCT token/bigram sets,
  * not ingest volume. State is one `state-<version>/` table per
  * applied batch under the [[StateStore]] protocol.
  */
object StreamingCollocations {

  /** Read face: the live phrase table — PMI/NPMI at the current
    * commit point, [[Curation.collocationsFromCounts]] verbatim.
    */
  def currentCollocations(spark: SparkSession, stateDir: String,
      minCount: Int, template: DataFrame): DataFrame =
    Curation.collocationsFromCounts(
      StateStore.readVersioned(spark, stateDir, template), minCount)

  /** Fold ONE ingest batch into the store; replays are no-ops. */
  def applyBatch(batch: DataFrame, text: Column, stateDir: String,
      batchId: Long): Unit =
    StateStore.fold(stateDir, batchId,
      Curation.collocationCounts(batch, text))(
      Curation.mergeCollocationCounts)
}
