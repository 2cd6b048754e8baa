package graft.streaming

import graft.operators.Regression
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** ST22 — streaming maintenance of A42 regression sufficient
  * statistics: the OLS fit served live. The state is the
  * [[Regression.sums2]] table — (keys, n, 9 exact DECIMAL sums) — and
  * exact DECIMAL addition is associative/commutative, so the store
  * fold `merge(committed, partial(batch))` is BIT-IDENTICAL to the
  * batch aggregate over everything ingested so far (the
  * ST16/ST17/ST20/ST21 summability argument, asserted per batch by
  * the spec). The read face runs [[Regression.fit2FromSums]]
  * UNCHANGED on the committed state, so fit parity with the batch
  * operator is STRUCTURAL, not approximate: the live fit after batch
  * k equals `linearFit2` over the concatenation of batches 0..k to
  * the bit.
  *
  * Why this matters at scale: a model that recalibrates continuously
  * ("value vs hour and user-bucket, refit every minute") must not
  * rescan history — here each micro-batch pays ONE aggregate over its
  * own rows, the merge touches |keys| state rows, and the O(p²)
  * state per key is independent of ingest volume. This is the same
  * reason ClickHouse ships simpleLinearRegression as an
  * AggregateFunction with a mergeable state.
  *
  * State is one `state-<version>/` table per applied batch under the
  * [[StateStore]] protocol.
  */
object StreamingRegression {

  /** Read face: the exact OLS fit at the current commit point —
    * [[Regression.fit2FromSums]] verbatim on the committed sums.
    */
  def currentFit(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    Regression.fit2FromSums(
      StateStore.readVersioned(spark, stateDir, template), keys)

  /** Fold ONE ingest batch into the store — pure function of
    * (committed state, batch, batchId). Replays are no-ops.
    */
  def applyBatch(batch: DataFrame, keys: Seq[String], x1: Column,
      x2: Column, y: Column, stateDir: String, batchId: Long): Unit =
    StateStore.fold(stateDir, batchId,
      Regression.sums2(batch, keys, x1, x2, y))(
      Regression.mergeSums2(_, keys))
}
