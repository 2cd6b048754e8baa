package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ST20: streaming DAILY-GRID trend store — a per-key (day, count)
  * grid maintained under the store protocol, serving the whole
  * aggregated-series trend family (Mann–Kendall, CUSUM changepoint,
  * Theil–Sen slope, the forecast backtest) over *everything ingested
  * so far* without rescanning history.
  *
  * The state is the W12-convention daily grid itself: (keys, day,
  * cnt) with cnt SUMMABLE over append-only batches — the merged state
  * is exactly the grid of the union (the ST16/ST17 argument), bounded
  * by keys × active days, never raw volume. Every batch trend
  * operator in [[graft.operators.TimeSeries]] is DESIGNED for exactly
  * this grid (their scaladocs: "raw volume pays one upstream
  * pre-aggregation" — here that pre-aggregation is the store fold),
  * so the read faces run the batch operators UNCHANGED on the
  * committed grid and batch parity is STRUCTURAL, spec-pinned.
  *
  * State is one `state-<version>/` grid per applied batch under the
  * [[StateStore]] protocol. SINGLE-WRITER per stateDir; readers safe
  * at any point.
  *
  * The monitoring deployment shape this closes: production events
  * stream in; between any two batches the monitor asks "is there a
  * trend?" (MK z + p), "where did the level shift?" (CUSUM + its
  * Brownian-bridge p), "how steep, robustly?" (Theil–Sen) — each at
  * grid cost, feeding [[graft.operators.StatsAgg.fdrAdjust]] across
  * keys before anyone acts on a per-key alarm.
  */
object StreamingTrend {

  /** One batch's grid partial: (keys, __day, cnt). `ts` is epoch
    * seconds (the library-wide long contract — callers derive it with
    * [[graft.Tables.epochSeconds]]); null ts drops (the batch
    * operators' ord filter, applied at the store edge).
    */
  def partial(batch: DataFrame, keys: Seq[String], ts: Column,
      bucketSeconds: Long): DataFrame =
    batch
      .where(ts.isNotNull)
      .select((keys.map(col) :+
        floor(ts.cast("long") / lit(bucketSeconds)).cast("long")
          .as("__day")): _*)
      .groupBy((keys.map(col) :+ col("__day")): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Fold ONE batch into the store; replays are no-ops. */
  def applyBatch(batch: DataFrame, keys: Seq[String], ts: Column,
      stateDir: String, batchId: Long,
      bucketSeconds: Long = 86400L): Unit =
    StateStore.fold(stateDir, batchId,
      partial(batch, keys, ts, bucketSeconds))(
      _.groupBy((keys.map(col) :+ col("__day")): _*)
        .agg(sum(col("cnt")).cast("long").as("cnt")))

  /** The committed grid (keys, __day, __cnt as double). */
  private def gridSeries(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    StateStore.readVersioned(spark, stateDir, template)
      .select((keys.map(col) :+ col("__day")) :+
        col("cnt").cast("double").as("__cnt"): _*)

  /** Mann–Kendall over the committed grid — the batch operator
    * verbatim (keys :+ n_rows, s_stat, tau, z_stat, p_value).
    */
  def mannKendall(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    graft.operators.TimeSeries.mannKendall(
      gridSeries(spark, stateDir, keys, template), keys,
      ord = col("__day"), value = col("__cnt"))

  /** CUSUM changepoint over the committed grid — the batch operator
    * verbatim (keys :+ n_rows, cp_ord, cusum_abs, p_approx).
    */
  def cusum(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    graft.operators.TimeSeries.cusumChangepoint(
      gridSeries(spark, stateDir, keys, template), keys,
      ord = col("__day"), value = col("__cnt"))

  /** Theil–Sen robust slope over the committed grid — the batch
    * operator verbatim (keys :+ n_pairs, slope).
    */
  def theilSen(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame =
    graft.operators.TimeSeries.theilSen(
      gridSeries(spark, stateDir, keys, template), keys,
      ord = col("__day"), value = col("__cnt"))

  /** One-step persistence backtest over the committed grid — the
    * batch operator fed by the store's own lag-1 forecast (keys :+
    * n_scored, mae, rmse, mase).
    */
  def forecastAccuracy(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame,
      period: Int = 7): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("__day"))
    graft.operators.TimeSeries.forecastAccuracy(
      gridSeries(spark, stateDir, keys, template)
        .withColumn("__fc", lag(col("__cnt"), 1).over(w)),
      keys, ord = col("__day"), actual = col("__cnt"),
      forecast = col("__fc"), period = period)
  }
}
