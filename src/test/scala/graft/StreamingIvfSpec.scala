package graft

import java.nio.file.Files
import graft.operators.Similarity
import graft.streaming.{StateStore, StreamingIvf}
import org.apache.spark.sql.functions._

/** ST15: streaming maintenance of the persisted IVF index — parity
  * with a fresh batch index on the store's frozen codebook, replay
  * no-ops, crash healing, compaction/retrain invariants, and the
  * MemoryStream end-to-end path.
  */
class StreamingIvfSpec extends SparkSpec {
  import spark.implicits._

  private def vecsSlice(from: Long, until: Long) =
    (from until until).map(i =>
      (i, Seq.tabulate(16)(d => math.sin(i * 0.53 + d * 0.77).toFloat)))

  private def queriesDf = vecsSlice(0L, 150L)
    .toDF("vec_id", "embedding").filter(col("vec_id") % 15 === 0)

  private def fromStore(store: String, k: Int = 5, np: Int = 4) =
    StreamingIvf.ivfTopKFromStore(spark, store, queriesDf,
      "vec_id", "embedding", k = k, nProbe = np)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet

  /** A fresh batch index over `upto` vectors, built with the STORE's
    * frozen codebook — the parity reference.
    */
  private def freshIndex(store: String, upto: Long, k: Int = 5,
      np: Int = 4): Set[(Long, Long, Double, Long)] = {
    val (_, _, _, _, centVer) = StreamingIvf.readPointer(store)
    val cents = spark.read.parquet(s"$store/centroids-$centVer")
    val idx = tempDir("graft-sivf-fresh")
    Similarity.buildIvfIndex(
      vecsSlice(0L, upto).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, centroids = cents)
    Similarity.ivfTopKIndexed(spark, idx, queriesDf,
      "vec_id", "embedding", k = k, nProbe = np)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
  }

  test("ST15: per-batch folds equal a fresh batch index on the frozen codebook bit-for-bit; replay no-op; crash heal; compact invariant") {
    val store = tempDir("graft-sivf")
    // empty store: well-formed empty result
    assert(fromStore(store).isEmpty)
    // batch 0 trains the codebook and commits; parity after EACH commit
    StreamingIvf.applyBatch(
      vecsSlice(0L, 80L).toDF("vec_id", "embedding"),
      "vec_id", "embedding", store, batchId = 0L, nlist = 8, iters = 2)
    assert(fromStore(store) == freshIndex(store, 80L))
    StreamingIvf.applyBatch(
      vecsSlice(80L, 150L).toDF("vec_id", "embedding"),
      "vec_id", "embedding", store, batchId = 1L)
    val full = fromStore(store)
    assert(full.nonEmpty && full == freshIndex(store, 150L))
    // replay of a committed batch changes nothing
    StreamingIvf.applyBatch(
      vecsSlice(0L, 80L).toDF("vec_id", "embedding"),
      "vec_id", "embedding", store, batchId = 1L)
    assert(fromStore(store) == full)
    // crash window: a cell dir written but never committed is
    // invisible to readers and healed by the re-apply
    new java.io.File(s"$store/cells/batch-2").mkdirs()
    assert(fromStore(store) == full)
    StreamingIvf.applyBatch(
      vecsSlice(150L, 170L).toDF("vec_id", "embedding"),
      "vec_id", "embedding", store, batchId = 2L)
    val withExtra = fromStore(store)
    assert(withExtra == freshIndex(store, 170L))
    // compact: one base dir, identical answers, watermark advanced
    StreamingIvf.compact(spark, store)
    assert(fromStore(store) == withExtra)
    val (_, _, n, through, _) = StreamingIvf.readPointer(store)
    assert(through == 2L && n == 170L)
    val dirs = new java.io.File(s"$store/cells").listFiles()
      .map(_.getName).filter(d => d.startsWith("batch-") ||
        d.startsWith("base-")).sorted.toSeq
    assert(dirs == Seq("base-2-1"), s"dirs=$dirs")
    // ingest continues after compaction, parity preserved
    StreamingIvf.applyBatch(
      vecsSlice(170L, 180L).toDF("vec_id", "embedding"),
      "vec_id", "embedding", store, batchId = 3L)
    assert(fromStore(store) == freshIndex(store, 180L))
  }

  test("ST15: retrain rebuilds the codebook over everything ingested, atomically; answers equal a fresh index on the NEW codebook") {
    val store = tempDir("graft-sivf-rt")
    StreamingIvf.applyBatch(
      vecsSlice(0L, 60L).toDF("vec_id", "embedding"),
      "vec_id", "embedding", store, batchId = 0L, nlist = 4, iters = 1)
    StreamingIvf.applyBatch(
      vecsSlice(60L, 150L).toDF("vec_id", "embedding"),
      "vec_id", "embedding", store, batchId = 1L)
    val (_, _, _, _, cvBefore) = StreamingIvf.readPointer(store)
    StreamingIvf.retrain(spark, store, nlist = 8, iters = 2)
    val (_, _, n, through, cvAfter) = StreamingIvf.readPointer(store)
    assert(cvAfter == cvBefore + 1 && through == 1L && n == 150L)
    // the new view equals a fresh batch index built with the NEW
    // codebook — retrain is a full, exact re-quantization
    assert(fromStore(store) == freshIndex(store, 150L))
    // the superseded codebook version is swept
    assert(!new java.io.File(s"$store/centroids-$cvBefore").exists())
    // and the store keeps ingesting under the new codebook
    StreamingIvf.applyBatch(
      vecsSlice(150L, 160L).toDF("vec_id", "embedding"),
      "vec_id", "embedding", store, batchId = 2L)
    assert(fromStore(store) == freshIndex(store, 160L))
    // compact-THEN-retrain (the natural drift response): the retrain
    // input IS the compacted base — the version-distinct base naming
    // (base-<through>-<centVer>) keeps the rewrite off the path it is
    // lazily reading from, so this must succeed and stay exact
    StreamingIvf.compact(spark, store)
    StreamingIvf.retrain(spark, store, nlist = 8, iters = 2)
    val (_, _, n2, through2, cv3) = StreamingIvf.readPointer(store)
    assert(cv3 == cvAfter + 1 && through2 == 2L && n2 == 160L)
    assert(fromStore(store) == freshIndex(store, 160L))
    // exactly one base survives, named under the NEW codebook version
    val dirs2 = new java.io.File(s"$store/cells").listFiles()
      .map(_.getName).filter(d => d.startsWith("batch-") ||
        d.startsWith("base-")).sorted.toSeq
    assert(dirs2 == Seq(s"base-2-$cv3"), s"dirs=$dirs2")
  }

  test("ST15: the degenerate empty-store schema follows the ingested id type; virgin store takes the query side's") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val sQueries = Seq(("q-1", Seq(1.0f, 0.0f)))
      .toDF("vid", "embedding")
    def read(store: String) = StreamingIvf.ivfTopKFromStore(
      spark, store, sQueries, "vid", "embedding", k = 3)
    // a STRING-id corpus: the pre-commit (crash-window) read carries
    // the string neighbor type, not a hardcoded one
    val store = tempDir("graft-sivf-sid")
    StreamingIvf.applyBatch(
      Seq(("d-1", Seq(1.0f, 0.0f)), ("d-2", Seq(0.0f, 1.0f)))
        .toDF("vid", "embedding"),
      "vid", "embedding", store, batchId = 0L, nlist = 2, iters = 0)
    val committed = read(store)
    assert(committed.schema("neighbor_id").dataType === StringType)
    Files.delete(java.nio.file.Paths.get(store, "_CURRENT"))
    val degenerate = read(store)
    assert(degenerate.count() == 0L)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(degenerate) === shape(committed))
    assert(degenerate.unionByName(committed).count() == committed.count())
    // a virgin store falls back to the QUERY side's id type
    val virgin = tempDir("graft-sivf-virgin")
    assert(read(virgin).schema("neighbor_id").dataType === StringType)
    val lQueries = Seq((1L, Seq(1.0f, 0.0f))).toDF("vid", "embedding")
    assert(StreamingIvf.ivfTopKFromStore(spark, virgin, lQueries,
      "vid", "embedding", k = 3)
      .schema("neighbor_id").dataType === LongType)
  }

  test("ST15: end-to-end through foreachBatch on a MemoryStream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val store = tempDir("graft-sivf-ms")
    val ckpt = tempDir("graft-sivf-ck")
    val rows = vecsSlice(0L, 120L)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StateStore.maintain(in.toDF().toDF("vec_id", "embedding"), ckpt)(
      StreamingIvf.applyBatch(_, "vec_id", "embedding", store, _,
        nlist = 8, iters = 2)).start()
    try {
      in.addData(rows.take(70): _*)
      q.processAllAvailable()
      in.addData(rows.drop(70): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = fromStore(store)
    assert(got.nonEmpty && got == freshIndex(store, 120L))
  }
}
