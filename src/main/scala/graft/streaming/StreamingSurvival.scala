package graft.streaming

import graft.operators.StatsAgg
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ST24 — streaming maintenance of the A44/A45 survival family: the
  * retention curve (and its two-cohort verdict) served live over an
  * event stream, without rescanning history.
  *
  * The state is the per-(keys, subject) lifetime table
  * (first_day, last_day): min and max are IDEMPOTENT commutative
  * monoids, so the store fold `merge(committed, partial(batch))` is
  * bit-identical to the aggregate over everything ingested — even
  * under at-least-once replays WITHIN a batch (min/max absorb
  * duplicates outright; across batches the pointer's batchId guard
  * applies as in the rest of the family). State is bounded by the
  * distinct (keys, subject) set, never ingest volume.
  *
  * Read faces derive the censored-subject table from the committed
  * state (duration = last − first; subjects still active inside the
  * `censorDays` horizon of the committed max day are CENSORED) and
  * run the batch operators UNCHANGED — [[StatsAgg.kaplanMeier]] for
  * the curve, [[StatsAgg.logRankTest]] for the two-cohort verdict —
  * so parity with the batch computation is STRUCTURAL.
  *
  * State is one `state-<version>/` table per applied batch under the
  * [[StateStore]] protocol.
  */
object StreamingSurvival {

  /** One (keys, subject, t0, t1) lifetime row per subject in this
    * batch (`day` any monotone long time unit).
    */
  def partialState(batch: DataFrame, keys: Seq[String], subject: Column,
      day: Column): DataFrame =
    batch.groupBy((keys.map(col) :+ subject.as("__subj")): _*)
      .agg(min(day).as("t0"), max(day).as("t1"))

  /** Merge lifetime tables — min/max per (keys, subject); idempotent. */
  def mergeStates(states: DataFrame, keys: Seq[String]): DataFrame =
    states.groupBy((keys.map(col) :+ col("__subj")): _*)
      .agg(min(col("t0")).as("t0"), max(col("t1")).as("t1"))

  /** The censored subject table at the commit point: duration and the
    * event indicator under a `censorDays` horizon off the committed
    * max day. Shared by both read faces; runs the SAME derivation a
    * batch caller would write.
    */
  def subjects(spark: SparkSession, stateDir: String, keys: Seq[String],
      censorDays: Long, template: DataFrame): DataFrame = {
    val st = StateStore.readVersioned(spark, stateDir, template)
    val md = st.agg(max(col("t1")).as("__md"))
    st.crossJoin(broadcast(md)).select(
      (keys.map(col) ++ Seq(col("__subj"),
        (col("t1") - col("t0")).as("dur"),
        when(col("t1") < col("__md") - lit(censorDays), 1).otherwise(0)
          .as("ev"))): _*)
  }

  /** Read face: the live KM curve ([[StatsAgg.kaplanMeier]] verbatim
    * on the derived subjects).
    */
  def currentSurvival(spark: SparkSession, stateDir: String,
      keys: Seq[String], censorDays: Long, template: DataFrame): DataFrame =
    StatsAgg.kaplanMeier(
      subjects(spark, stateDir, keys, censorDays, template),
      keys, col("dur"), col("ev"))

  /** Read face: the live KM curve WITH Greenwood 95% bands
    * ([[StatsAgg.kaplanMeierCi]] verbatim — the r20 A44b face on the
    * same derived subjects; batch parity is structural).
    */
  def currentSurvivalCi(spark: SparkSession, stateDir: String,
      keys: Seq[String], censorDays: Long, template: DataFrame): DataFrame =
    StatsAgg.kaplanMeierCi(
      subjects(spark, stateDir, keys, censorDays, template),
      keys, col("dur"), col("ev"))

  /** Read face: the live log-rank verdict between two cohorts given
    * by `group(subjectCol)` (e.g. even/odd subject ids).
    */
  def currentLogRank(spark: SparkSession, stateDir: String,
      keys: Seq[String], censorDays: Long, group: Column => Column,
      template: DataFrame): DataFrame =
    StatsAgg.logRankTest(
      subjects(spark, stateDir, keys, censorDays, template)
        .withColumn("__grp", group(col("__subj"))),
      keys, col("dur"), col("ev"), col("__grp"))

  /** Fold ONE ingest batch into the store; replays are no-ops. */
  def applyBatch(batch: DataFrame, keys: Seq[String], subject: Column,
      day: Column, stateDir: String, batchId: Long): Unit =
    StateStore.fold(stateDir, batchId,
      partialState(batch, keys, subject, day))(mergeStates(_, keys))
}
