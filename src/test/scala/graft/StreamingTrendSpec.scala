package graft

import graft.operators.TimeSeries
import graft.streaming.{StateStore, StreamingTrend}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST20: streaming daily-grid trend store — read-face parity with the
  * batch trend family after every commit, replay no-ops, crash
  * healing, and the MemoryStream end-to-end path. The state is the
  * SUMMABLE (keys, day, cnt) grid, so the merged store equals the
  * grid of the union of batches and the batch operators run on it
  * unchanged — every parity here is structural, asserted bit-level.
  */
class StreamingTrendSpec extends SparkSpec {
  import spark.implicits._

  // two keys: one with a planted monotone trend (rising daily volume),
  // one flat-noisy; epoch seconds across ~40 "days" of 100 s (the
  // bucketSeconds knob keeps the fixture small)
  private val bucket = 100L
  private val rows: Seq[(String, Long)] = {
    val rising = for {
      d <- 0 until 40
      i <- 0 until (3 + d / 2)
    } yield ("up", d * bucket + 7L + i % 13)
    val rnd = new scala.util.Random(7)
    val flat = for {
      d <- 0 until 40
      i <- 0 until (5 + rnd.nextInt(3))
    } yield ("flat", d * bucket + 11L + i % 17)
    rising ++ flat
  }

  private def df(rs: Seq[(String, Long)]): DataFrame =
    rs.toDF("k", "ep")

  private def batchGrid(rs: Seq[(String, Long)]): DataFrame =
    df(rs).where(col("ep").isNotNull)
      .select(col("k"),
        floor(col("ep").cast("long") / lit(bucket)).cast("long")
          .as("__day"))
      .groupBy(col("k"), col("__day"))
      .agg(count(lit(1)).cast("double").as("__cnt"))

  private def collectMk(d: DataFrame) = d
    .select("k", "n_rows", "s_stat", "tau", "z_stat", "p_value")
    .as[(String, Long, Long, Option[Double], Option[Double], Option[Double])]
    .collect().toSet

  test("ST20: all four trend reads are bit-equal to the batch operators after every commit; replay/crash heal") {
    val store = tempDir("graft-strend")
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val template = StreamingTrend.partial(df(b1), Seq("k"), col("ep"), bucket)

    StreamingTrend.applyBatch(df(b1), Seq("k"), col("ep"), store, 0L, bucket)
    assert(collectMk(StreamingTrend.mannKendall(spark, store, Seq("k"),
      template)) ==
      collectMk(TimeSeries.mannKendall(batchGrid(b1), Seq("k"),
        ord = col("__day"), value = col("__cnt"))))

    StreamingTrend.applyBatch(df(b2), Seq("k"), col("ep"), store, 1L, bucket)
    val full = collectMk(StreamingTrend.mannKendall(spark, store, Seq("k"),
      template))
    assert(full == collectMk(TimeSeries.mannKendall(batchGrid(rows),
      Seq("k"), ord = col("__day"), value = col("__cnt"))))
    // the planted trend is detected with a tiny p; the flat key is not
    val up = full.find(_._1 == "up").get
    assert(up._4.get > 0.8 && up._6.get < 1e-6, s"trend not found: $up")
    val flat = full.find(_._1 == "flat").get
    assert(flat._6.get > 0.05, s"flat key alarmed: $flat")

    // CUSUM / Theil–Sen / forecast parity on the committed grid
    val cuGot = StreamingTrend.cusum(spark, store, Seq("k"), template)
      .select("k", "n_rows", "cp_ord", "cusum_abs", "p_approx")
      .as[(String, Long, Long, Double, Option[Double])].collect().toSet
    val cuWant = TimeSeries.cusumChangepoint(batchGrid(rows), Seq("k"),
      ord = col("__day"), value = col("__cnt"))
      .select("k", "n_rows", "cp_ord", "cusum_abs", "p_approx")
      .as[(String, Long, Long, Double, Option[Double])].collect().toSet
    assert(cuGot == cuWant)
    val tsGot = StreamingTrend.theilSen(spark, store, Seq("k"), template)
      .select("k", "n_pairs", "slope")
      .as[(String, Long, Double)].collect().toSet
    val tsWant = TimeSeries.theilSen(batchGrid(rows), Seq("k"),
      ord = col("__day"), value = col("__cnt"))
      .select("k", "n_pairs", "slope")
      .as[(String, Long, Double)].collect().toSet
    assert(tsGot == tsWant)
    assert(tsGot.find(_._1 == "up").get._3 > 0.4) // ~+0.5 docs/day
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("__day"))
    val faGot = StreamingTrend.forecastAccuracy(spark, store, Seq("k"),
      template)
      .select("k", "n_scored", "mae", "rmse", "mase")
      .as[(String, Long, Double, Double, Option[Double])].collect().toSet
    val faWant = TimeSeries.forecastAccuracy(
      batchGrid(rows).withColumn("__fc", lag(col("__cnt"), 1).over(w)),
      Seq("k"), ord = col("__day"), actual = col("__cnt"),
      forecast = col("__fc"), period = 7)
      .select("k", "n_scored", "mae", "rmse", "mase")
      .as[(String, Long, Double, Double, Option[Double])].collect().toSet
    assert(faGot == faWant)

    // replay of a committed batch changes nothing
    StreamingTrend.applyBatch(df(b1), Seq("k"), col("ep"), store, 1L, bucket)
    assert(collectMk(StreamingTrend.mannKendall(spark, store, Seq("k"),
      template)) == full)
    // crash window: an orphan state dir is invisible and overwritten
    new java.io.File(s"$store/state-4").mkdirs()
    assert(collectMk(StreamingTrend.mannKendall(spark, store, Seq("k"),
      template)) == full)
    assert(StateStore.readPointer(store) == ((2L, 1L)))
  }

  test("ST20: MemoryStream end-to-end — maintain folds micro-batches; trend reads match batch over everything ingested") {
    val store = tempDir("graft-strend-e2e")
    val ckpt = tempDir("graft-strend-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = StateStore.maintain(mem.toDF().toDF("k", "ep"), ckpt)(
      StreamingTrend.applyBatch(_, Seq("k"), col("ep"), store, _,
        bucketSeconds = bucket)).start()
    try {
      mem.addData(rows.take(300): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(300): _*)
      q.processAllAvailable()
    } finally q.stop()
    val template = StreamingTrend.partial(df(rows), Seq("k"), col("ep"),
      bucket)
    assert(collectMk(StreamingTrend.mannKendall(spark, store, Seq("k"),
      template)) ==
      collectMk(TimeSeries.mannKendall(batchGrid(rows), Seq("k"),
        ord = col("__day"), value = col("__cnt"))))
  }
}
