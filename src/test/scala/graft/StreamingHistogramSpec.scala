package graft

import java.nio.file.Files
import graft.operators.TimeSeries
import graft.streaming.{StateStore, StreamingHistogram}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST17: streaming exact-percentile histogram store — scoring parity
  * with the batch madZScore after every commit, exact percentile
  * reconstruction vs Spark's `percentile`, replay no-ops, crash
  * healing, and the MemoryStream end-to-end path.
  */
class StreamingHistogramSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(41)
  private val rows: Seq[(String, Long, Double)] =
    (1 to 300).map(i => (if (i % 3 == 0) "a" else "b", i.toLong,
      math.rint(rnd.nextDouble() * 2000 - 1000) / 100.0)) ++
      // a far outlier each key, and a MAD-degenerate key
      Seq(("a", 1001L, 400.0), ("b", 1002L, -400.0)) ++
      (1 to 7).map(i => ("d", 2000L + i, if (i <= 6) 5.0 else 9.0))

  private def df(rs: Seq[(String, Long, Double)]): DataFrame =
    rs.toDF("k", "id", "v")

  private def batchRef(rs: Seq[(String, Long, Double)]) =
    TimeSeries.madZScore(df(rs), Seq("k"), tie = col("id"),
      value = col("v"))
      .select("k", "tie", "robust_z", "is_outlier")
      .as[(String, Long, Option[Double], Option[Boolean])].collect().toSet

  private def fromStore(store: String, rs: Seq[(String, Long, Double)]) =
    StreamingHistogram.scoreBatch(df(rs), Seq("k"), tie = col("id"),
      value = col("v"), spark, store)
      .select("k", "tie", "robust_z", "is_outlier")
      .as[(String, Long, Option[Double], Option[Boolean])].collect().toSet

  test("ST17: store scoring is bit-equal to batch madZScore after every commit; replay no-op; crash heal") {
    val store = tempDir("graft-shist")
    val (b1, b2, b3) = (rows.take(100), rows.slice(100, 220),
      rows.drop(220))
    StreamingHistogram.applyBatch(df(b1), Seq("k"), col("v"), store, 0L)
    assert(fromStore(store, b1) == batchRef(b1))
    StreamingHistogram.applyBatch(df(b2), Seq("k"), col("v"), store, 1L)
    assert(fromStore(store, b1 ++ b2) == batchRef(b1 ++ b2))
    StreamingHistogram.applyBatch(df(b3), Seq("k"), col("v"), store, 2L)
    val full = fromStore(store, rows)
    assert(full.nonEmpty && full == batchRef(rows))
    // the planted extremes actually flag, and the degenerate key nulls
    assert(full.exists(r => r._2 == 1001L && r._4 == Some(true)))
    assert(full.exists(r => r._1 == "d" && r._3.isEmpty && r._4.isEmpty))
    // replay of committed work changes nothing
    StreamingHistogram.applyBatch(df(b1), Seq("k"), col("v"), store, 1L)
    assert(fromStore(store, rows) == full)
    // crash window: an orphan state dir (written, never committed) is
    // invisible, and the re-applied batch overwrites it
    new java.io.File(s"$store/state-4").mkdirs()
    assert(fromStore(store, rows) == full)
    val extra = Seq(("a", 5000L, 12.34))
    StreamingHistogram.applyBatch(df(extra), Seq("k"), col("v"), store, 3L)
    assert(fromStore(store, rows ++ extra) == batchRef(rows ++ extra))
    assert(StateStore.readPointer(store) == ((4L, 3L)))
    // crash between writePointer and the delete: state-(v-2) survives
    // one commit. The downward-walking cleanup must pick up BOTH
    // expired versions at the next commit, not just the newest (r18
    // ADVICE — the old single-version delete orphaned it forever).
    new java.io.File(s"$store/state-1").mkdirs()
    new java.io.File(s"$store/state-2").mkdirs()
    StreamingHistogram.applyBatch(
      df(Seq(("b", 6000L, 1.0))), Seq("k"), col("v"), store, 4L)
    assert(StateStore.readPointer(store)._1 == 5L)
    assert(!Files.isDirectory(java.nio.file.Paths.get(s"$store/state-1")))
    assert(!Files.isDirectory(java.nio.file.Paths.get(s"$store/state-2")))
    assert(!Files.isDirectory(java.nio.file.Paths.get(s"$store/state-3")))
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$store/state-4")))
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$store/state-5")))
  }

  test("ST17d: winsorizedFromStore is bit-equal to batch winsorizedStats after every commit; replay/crash-safe") {
    import graft.operators.StatsAgg
    val store = tempDir("graft-swin")
    // the store's state is the floor-quantized histogram (the ST17
    // contract, same as madZScore's own __w grid) — the batch
    // reference therefore runs on the identical quantized values,
    // produced by the same floor(v·100)/100 Spark tree
    def batchWin(rs: Seq[(String, Long, Double)]) =
      StatsAgg.winsorizedStats(
        df(rs).withColumn("v", floor(col("v") * 100) / 100.0),
        Seq("k"), col("v"), lo = 0.05, hi = 0.95)
        .as[(String, Long, Long, Long, Option[Double], Option[Double],
          Option[Double])].collect().toSet
    def storeWin() = {
      val template = StreamingHistogram.partial(
        df(rows.take(1)), Seq("k"), col("v"), scale = 2)
      StreamingHistogram.winsorizedFromStore(spark, store, Seq("k"),
        lo = 0.05, hi = 0.95, template)
        .as[(String, Long, Long, Long, Option[Double], Option[Double],
          Option[Double])].collect().toSet
    }
    val (b1, b2) = (rows.take(150), rows.drop(150))
    StreamingHistogram.applyBatch(df(b1), Seq("k"), col("v"), store, 0L)
    assert(storeWin() == batchWin(b1))
    StreamingHistogram.applyBatch(df(b2), Seq("k"), col("v"), store, 1L)
    val full = storeWin()
    assert(full.nonEmpty && full == batchWin(rows))
    // the planted ±400 extremes are clipped, so the winsorized std is
    // far below the raw-tail std and the clip counters fired
    val a = full.find(_._1 == "a").get
    assert(a._3 >= 1L && a._4 >= 1L) // n_lo, n_hi
    // replay no-op + crash-orphan invisibility
    StreamingHistogram.applyBatch(df(b1), Seq("k"), col("v"), store, 0L)
    new java.io.File(s"$store/state-9").mkdirs()
    assert(storeWin() == full)
  }

  test("ST17: percentileOf reconstructs Spark percentile exactly at every tested p") {
    val store = tempDir("graft-shist-pct")
    StreamingHistogram.applyBatch(df(rows), Seq("k"), col("v"), store, 0L)
    val template = StreamingHistogram.partial(df(rows).limit(0),
      Seq("k"), col("v"), 2)
    val hist = StateStore.readVersioned(spark, store, template)
    for (p <- Seq(0.0, 0.1, 0.25, 0.5, 0.77, 0.9, 1.0)) {
      val got = StreamingHistogram.percentileOf(hist, Seq("k"), p)
        .select("k", "pct").as[(String, Double)].collect().toMap
      val want = df(rows)
        .withColumn("__w", floor(col("v") * 100.0))
        .groupBy("k").agg(expr(s"percentile(__w, ${p}D)").as("pct"))
        .select("k", "pct").as[(String, Double)].collect().toMap
      assert(got == want, s"p=$p")
    }
  }

  test("ST18: psiFromStore is bit-equal to batch psi(reference ∪ ingested); drifted ingest screams, identical ingest is 0") {
    import graft.operators.StatsAgg
    val store = tempDir("graft-shist-psi")
    // reference: uniform over 10 values; ingest two batches — one
    // identical in distribution, one fully shifted
    val ref = (1 to 200).map(i => ("k", i.toLong, (i % 10) * 1.0))
    val sameIngest = (1 to 100).map(i =>
      ("k", 10000L + i, (i % 10) * 1.0))
    val driftIngest = (1 to 100).map(i => ("k", 20000L + i, 50.0))
    def fromStore() = StreamingHistogram.psiFromStore(
      df(ref), Seq("k"), col("v"), spark, store, bins = 10)
      .select("k", "n_ref", "n_cur", "psi")
      .as[(String, Long, Long, Option[Double])].collect().head
    def batch(ingested: Seq[(String, Long, Double)]) = StatsAgg.psi(
      df(ref).withColumn("ref", lit(true))
        .unionByName(df(ingested).withColumn("ref", lit(false))),
      Seq("k"), col("v"), isReference = col("ref"), bins = 10)
      .select("k", "n_ref", "n_cur", "psi")
      .as[(String, Long, Long, Option[Double])].collect().head
    StreamingHistogram.applyBatch(df(sameIngest), Seq("k"), col("v"),
      store, 0L)
    val stable = fromStore()
    assert(stable == batch(sameIngest))
    assert(stable._4 === Some(0.0), "identical distribution → PSI 0")
    StreamingHistogram.applyBatch(df(driftIngest), Seq("k"), col("v"),
      store, 1L)
    val drifted = fromStore()
    assert(drifted == batch(sameIngest ++ driftIngest))
    assert(drifted._4.get > 0.25, "a half-shifted stream must alarm")
  }

  test("ST19: fdrScores equals the batch madZScore → p → fdrAdjust composition; degenerate keys drop as hypotheses") {
    import graft.operators.StatsAgg
    val store = tempDir("graft-shist-fdr")
    StreamingHistogram.applyBatch(df(rows), Seq("k"), col("v"), store, 0L)
    val got = StreamingHistogram.fdrScores(df(rows), Seq("k"),
      tie = col("id"), value = col("v"), spark, store)
      .select("k", "tie", "p_value", "bh_rank", "q_value")
      .as[(String, Long, Double, Long, Double)].collect().toSet
    val want = StatsAgg.fdrAdjust(
      TimeSeries.madZScore(df(rows), Seq("k"), tie = col("id"),
        value = col("v"))
        .withColumn("__p",
          graft.functions.NormalDist.twoSidedP(col("robust_z"))),
      Seq("k"), p = col("__p"), tie = col("tie"))
      .select("k", "tie", "p_value", "bh_rank", "q_value")
      .as[(String, Long, Double, Long, Double)].collect().toSet
    assert(got.nonEmpty && got == want)
    // the MAD-degenerate key contributes NO hypotheses
    assert(!got.exists(_._1 == "d"))
    // the planted extremes carry the family's smallest q
    for (k <- Seq("a", "b")) {
      val fam = got.filter(_._1 == k)
      val top = fam.minBy(_._4)
      assert(Set(1001L, 1002L).contains(top._2),
        s"family $k top alarm: $top")
      assert(fam.forall(r => r._5 >= top._5))
    }
  }

  test("ST17: MemoryStream end-to-end — maintain folds micro-batches; scoring matches batch over everything ingested") {
    val store = tempDir("graft-shist-e2e")
    val ckpt = tempDir("graft-shist-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val q = StateStore.maintain(mem.toDF().toDF("k", "id", "v"), ckpt)(
      StreamingHistogram.applyBatch(_, Seq("k"), col("v"), store, _))
      .start()
    try {
      mem.addData(rows.take(150): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(150): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(fromStore(store, rows) == batchRef(rows))
  }
}
