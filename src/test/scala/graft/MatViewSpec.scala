package graft

import graft.operators.MatView
import graft.streaming.{StateStore, StreamingMatView}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Incremental materialized aggregates (Summing/AggregatingMergeTree
  * semantics): the merge algebra's slice-invariance law, and the
  * streaming store's batch parity under replay. `q_matview` carries
  * the value-level DuckDB oracle for the algebra's exact columns.
  */
class MatViewSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, s"k${rnd.nextInt(4)}", rnd.nextInt(1000) / 10.0,
        s"u${rnd.nextInt(25)}")
    }
  }

  private def direct(data: Seq[(Long, String, Double, String)]) =
    MatView.partialState(
      data.toDF("id", "k", "v", "u"), Seq("k"), col("v"), col("u"))

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    MatView.finalizeState(df, Seq("k"))
      .select(col("k"), col("n_rows"), col("sum_v").cast("string"),
        col("min_v"), col("max_v"), col("avg_v"), col("approx_distinct"))
      .as[(String, Long, String, Double, Double, Double, Long)]
      .collect().map(r => r._1 -> r).toMap

  private def quantiles(df: org.apache.spark.sql.DataFrame) =
    MatView.finalizeState(df, Seq("k"))
      .select(col("k"), col("p50_v"), col("p95_v"), col("p99_v"))
      .as[(String, Double, Double, Double)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap

  /** Rank of `est` within the exact sorted values — the KLL contract
    * is a RANK error bound, so that is what the law asserts.
    */
  private def rankOf(sorted: Seq[Double], est: Double): Double =
    sorted.count(_ <= est).toDouble / sorted.size

  private def assertRank(sorted: Seq[Double], est: Double, q: Double,
      tol: Double, ctx: String): Unit = {
    val r = rankOf(sorted, est)
    assert(math.abs(r - q) <= tol,
      s"$ctx: estimate $est sits at rank $r, wanted $q +- $tol")
  }

  test("merge algebra: any slicing of the rows merges to the direct aggregate") {
    val data = rows(400, seed = 5)
    val whole = asMap(direct(data))
    for (nSlices <- Seq(2, 3, 7)) {
      val partials = data.groupBy(_._1 % nSlices).values.toSeq.map(direct)
      val merged = MatView.mergeStates(
        partials.reduce(_ unionByName _), Seq("k"))
      val got = asMap(merged)
      assert(got.keySet === whole.keySet, s"nSlices=$nSlices")
      for ((k, w) <- whole; g = got(k)) {
        // exact columns: EXACT equality (decimal sums cannot drift)
        assert((g._2, g._3, g._4, g._5, g._6) ===
          ((w._2, w._3, w._4, w._5, w._6)), s"nSlices=$nSlices key=$k")
        // the HLL union estimate is sketch-close to the direct sketch
        assert(math.abs(g._7 - w._7) <= math.max(2L, w._7 / 10),
          s"nSlices=$nSlices key=$k hll ${g._7} vs ${w._7}")
      }
      // KLL slice-invariance: the merged quantile state lands within
      // the sketch's rank tolerance of the TRUE quantiles — and in
      // this regime (~100 values per key < k=200, no compaction) the
      // sketch is exact, so the tight tolerance only covers the
      // inclusive-rank convention at ties
      val exact = data.groupBy(_._2)
        .map { case (k2, rs) => k2 -> rs.map(_._3).sorted }
      val qs = quantiles(MatView.mergeStates(
        data.groupBy(_._1 % nSlices).values.toSeq.map(direct)
          .reduce(_ unionByName _), Seq("k")))
      for ((k2, sorted) <- exact; (p50, p95, p99) = qs(k2)) {
        assertRank(sorted, p50, 0.50, 0.03, s"nSlices=$nSlices $k2 p50")
        assertRank(sorted, p95, 0.95, 0.03, s"nSlices=$nSlices $k2 p95")
        assertRank(sorted, p99, 0.99, 0.03, s"nSlices=$nSlices $k2 p99")
      }
    }
  }

  test("KLL quantile state: compaction regime stays within rank error across merges") {
    // one key, 20k values: far past k=200, so every slice compacts
    // and the merge exercises the real sketch algebra, not the exact
    // small-n path. k=200 bounds rank error at ~1.65% (99% conf);
    // 5% is the generous spec floor.
    val rnd = new scala.util.Random(31)
    val data = (0 until 20000).map(i =>
      (i.toLong, "k0", math.pow(rnd.nextDouble(), 3) * 1000.0, s"u${i % 50}"))
    val sorted = data.map(_._3).sorted
    val direct20k = direct(data)
    val merged = MatView.mergeStates(
      data.groupBy(_._1 % 7).values.toSeq.map(direct)
        .reduce(_ unionByName _), Seq("k"))
    for (st <- Seq("direct" -> direct20k, "merged" -> merged)) {
      val (p50, p95, p99) = quantiles(st._2)("k0")
      assertRank(sorted, p50, 0.50, 0.05, s"${st._1} p50")
      assertRank(sorted, p95, 0.95, 0.05, s"${st._1} p95")
      assertRank(sorted, p99, 0.99, 0.05, s"${st._1} p99")
    }
  }

  test("streaming store: per-batch folds equal the batch aggregate; replay is a no-op; versions pruned") {
    val dir = tempDir("matview")
    val all = rows(300, seed = 9)
    val batches = all.grouped(100).toSeq
    def state() = asMap(StateStore.readVersioned(
      spark, dir, direct(all.take(1))))
    // fold three batches, checking parity after each commit
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingMatView.applyBatch(b.toDF("id", "k", "v", "u"),
        Seq("k"), col("v"), col("u"), dir, batchId = i.toLong)
      val expect = asMap(direct(all.take((i + 1) * 100)))
      val got = state()
      assert(got.keySet === expect.keySet)
      for ((k, w) <- expect; g = got(k)) {
        assert((g._2, g._3, g._4, g._5, g._6) ===
          ((w._2, w._3, w._4, w._5, w._6)), s"batch $i key=$k")
        assert(math.abs(g._7 - w._7) <= math.max(2L, w._7 / 10))
      }
    }
    // REPLAY of an already-committed batch must change nothing — the
    // at-least-once source meets exactly-once state
    val before = state()
    StreamingMatView.applyBatch(batches(1).toDF("id", "k", "v", "u"),
      Seq("k"), col("v"), col("u"), dir, batchId = 1L)
    assert(state() === before)
    assert(StateStore.readPointer(dir) === ((3L, 2L)))
    // crash-window recovery: an orphan next-version directory (state
    // written, pointer move lost) is overwritten by the re-applied
    // batch, not double-counted
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "state-4"))
    StreamingMatView.applyBatch(
      rows(50, seed = 21).toDF("id", "k", "v", "u"),
      Seq("k"), col("v"), col("u"), dir, batchId = 3L)
    assert(StateStore.readPointer(dir) === ((4L, 3L)))
    // pruning: only current + predecessor versions remain on disk
    val versions = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("state-")).sorted.toSeq
    assert(versions === Seq("state-3", "state-4"))
  }

  test("streaming store: end-to-end through foreachBatch on a MemoryStream") {
    implicit val sq = spark.sqlContext
    val dir = tempDir("matview-ms")
    val ckpt = tempDir("matview-ck")
    val in = MemoryStream[(Long, String, Double, String)]
    val q = StateStore.maintain(in.toDF().toDF("id", "k", "v", "u"), ckpt)(
      StreamingMatView.applyBatch(_, Seq("k"), col("v"), col("u"), dir, _))
      .start()
    val all = rows(200, seed = 13)
    try {
      in.addData(all.take(120): _*)
      q.processAllAvailable()
      in.addData(all.drop(120): _*)
      q.processAllAvailable()
    } finally q.stop()
    val state = StateStore.readVersioned(spark, dir, direct(all.take(1)))
    val got = asMap(state)
    val expect = asMap(direct(all))
    assert(got.keySet === expect.keySet)
    for ((k, w) <- expect; g = got(k)) {
      assert((g._2, g._3, g._4, g._5, g._6) ===
        ((w._2, w._3, w._4, w._5, w._6)), s"key=$k")
      assert(math.abs(g._7 - w._7) <= math.max(2L, w._7 / 10))
    }
    // the quantile state folded through the streaming store too:
    // per-key p50/p95 of the maintained view sit at the right rank
    // of ALL the data ever streamed
    val qs = quantiles(state)
    for ((k, sorted) <- all.groupBy(_._2)
           .map { case (k2, rs) => k2 -> rs.map(_._3).sorted }) {
      val (p50, p95, _) = qs(k)
      assertRank(sorted, p50, 0.50, 0.05, s"stream $k p50")
      assertRank(sorted, p95, 0.95, 0.05, s"stream $k p95")
    }
  }
}
