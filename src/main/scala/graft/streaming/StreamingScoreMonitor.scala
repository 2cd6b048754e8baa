package graft.streaming

import graft.operators.StatsAgg
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Live model-score monitoring — the A27/A27b statistics (ROC AUC,
  * two-sample KS drift) maintained over a score stream instead of
  * recomputed from raw history: the read every filtering-model
  * deployment wants live ("is the quality score still separating
  * kept from dropped", "has the score distribution drifted between
  * cohorts") as scored events arrive.
  *
  * The state is [[StatsAgg.scoreCells]] — (keys, distinct score) →
  * (n_pos, n_neg) — which is a commutative SUMMABLE state: counts of
  * disjoint row slices add cell-wise to exactly the whole-input
  * cells, so out-of-order arrival across micro-batches needs no
  * watermark (a late row increments its cell whenever it arrives;
  * the OHLC posture). Reads fold [[StatsAgg.aucFromCells]] /
  * [[StatsAgg.ksFromCells]] over CELL-cardinality state rows, never
  * raw score volume.
  *
  * State is one `state-<version>/` table per applied batch under the
  * [[StateStore]] protocol. Scale shape per batch: one partial cell
  * aggregate of the batch (map-side combine) + a merge over |cells|
  * state rows.
  * Cell cardinality is bounded by |keys| × |distinct scores| — for
  * the bounded-precision scores a model emits (round-4 doubles,
  * integer logits) that is dashboard-sized; an unbounded-precision
  * score column should be quantized by the caller first (the same
  * contract ClickHouse's histogram-state tables carry).
  */
object StreamingScoreMonitor {

  import StateStore.readVersioned

  /** Current AUC served from the maintained cells. */
  def currentAuc(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    StatsAgg.aucFromCells(readVersioned(spark, stateDir, template), keys)

  /** Current PR-AUC (average precision) served from the maintained
    * cells — the same state, no extra maintenance cost.
    */
  def currentPrAuc(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    StatsAgg.prAucFromCells(
      readVersioned(spark, stateDir, template), keys)

  /** Current KS D statistic served from the maintained cells. */
  def currentKs(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    StatsAgg.ksFromCells(readVersioned(spark, stateDir, template), keys)

  /** Current Brier score served from the maintained cells. */
  def currentBrier(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    StatsAgg.brierFromCells(
      readVersioned(spark, stateDir, template), keys)

  /** Current calibration table served from the maintained cells. */
  def currentCalibration(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame, bins: Int = 10): DataFrame =
    StatsAgg.calibrationFromCells(
      readVersioned(spark, stateDir, template), keys, bins)

  /** Current expected calibration error served from the cells. */
  def currentEce(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame, bins: Int = 10): DataFrame =
    StatsAgg.eceFromCells(
      readVersioned(spark, stateDir, template), keys, bins)

  /** Current full ROC curve served from the maintained cells. */
  def currentRocCurve(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    StatsAgg.rocCurveFromCells(
      readVersioned(spark, stateDir, template), keys)

  /** Fold ONE micro-batch of scored rows into the cell store;
    * replays (batchId <= pointer's) are no-ops.
    */
  def applyBatch(batch: DataFrame, keys: Seq[String], score: Column,
      label: Column, stateDir: String, batchId: Long): Unit =
    StateStore.fold(stateDir, batchId,
      StatsAgg.scoreCells(batch, keys, score, label))(
      StatsAgg.mergeScoreCells(_, keys))
}
