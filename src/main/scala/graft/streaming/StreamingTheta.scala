package graft.streaming

import graft.functions.ThetaSketch
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming maintenance of A18 theta-sketch segment states — the
  * last sketch-state family ([[graft.functions.ThetaSketch]]) brought
  * under the exactly-once [[StateStore]] protocol the HLL/KLL
  * matview states already ride ([[StreamingMatView]]).
  *
  * Each micro-batch folds into one theta binary per key on disk
  * (`thetaAgg` partial per batch, `thetaUnionAgg` merge with the
  * committed state — union is the sketch's native merge, so state
  * size is O(2^lgK) per key at ANY ingest volume), and readers get
  * set-algebra answers (distinct estimates, intersections,
  * differences) between ANY two maintained segments at the current
  * commit point without touching raw history.
  *
  * State is one `state-<version>/` table per applied batch under the
  * [[StateStore]] protocol. The union would silently absorb a replay
  * of the SAME rows, but a replayed batch after a successful commit
  * would re-union a different merged lineage, so the batchId guard
  * still does the exactness work.
  *
  * Scale shape: the merge reads |keys| state rows + one batch's
  * partials; raw volume reaches one (keys) aggregate per batch and
  * never again.
  */
object StreamingTheta {

  /** One theta binary per key over this batch's values. */
  def partialState(batch: DataFrame, keys: Seq[String],
      value: Column): DataFrame =
    batch.groupBy(keys.map(col): _*)
      .agg(ThetaSketch.thetaAgg(value).as("theta_state"))

  /** Union partial/committed states down to one binary per key. */
  def mergeStates(states: DataFrame, keys: Seq[String]): DataFrame =
    states.groupBy(keys.map(col): _*)
      .agg(ThetaSketch.thetaUnionAgg(col("theta_state")).as("theta_state"))

  /** Read face: per-key distinct estimates at the commit point. */
  def currentEstimates(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    StateStore.readVersioned(spark, stateDir, template)
      .select((keys.map(col) :+
        round(ThetaSketch.thetaEstimate(col("theta_state")))
          .cast("long").as("n_distinct")): _*)

  /** Read face: the q_theta_segments set algebra between two
    * maintained segments (single key column). Returns one row
    * (n_a, n_b, n_both, n_a_only); empty when either segment has no
    * committed state yet.
    */
  def segmentAlgebra(spark: SparkSession, stateDir: String,
      keyCol: String, a: String, b: String,
      template: DataFrame): DataFrame = {
    val state = StateStore.readVersioned(spark, stateDir, template)
    val sa = state.where(col(keyCol) === a)
      .select(col("theta_state").as("__sa"))
    val sb = state.where(col(keyCol) === b)
      .select(col("theta_state").as("__sb"))
    sa.crossJoin(sb).select(
      round(ThetaSketch.thetaEstimate(col("__sa"))).cast("long").as("n_a"),
      round(ThetaSketch.thetaEstimate(col("__sb"))).cast("long").as("n_b"),
      round(ThetaSketch.thetaIntersect(col("__sa"), col("__sb")))
        .cast("long").as("n_both"),
      round(ThetaSketch.thetaDiff(col("__sa"), col("__sb")))
        .cast("long").as("n_a_only"))
  }

  /** Fold ONE ingest batch into the store — pure function of
    * (committed state, batch, batchId), unit-testable without a
    * stream. Replays (batchId <= pointer's) are no-ops.
    */
  def applyBatch(batch: DataFrame, keys: Seq[String], value: Column,
      stateDir: String, batchId: Long): Unit =
    StateStore.fold(stateDir, batchId, partialState(batch, keys, value))(
      mergeStates(_, keys))
}
