package graft

import java.nio.file.Files
import java.sql.Timestamp
import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming semantics via MemoryStream (SURVEY.md §5.2#4):
  * ST5 windowed counts, ST7 replay dedup + stateful current state,
  * S5 foreachBatch sink tolerance, ST9 listener.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  /** Parquet files actually READ by `df` (post-partition-pruning):
    * the FileSourceScan numFiles metric after execution.
    * `df.inputFiles` can't assert pruning — it lists the relation's
    * unpruned FileIndex; pruning happens during physical planning.
    */
  private def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
    }.sum
  }

  test("ST5: tumbling windowed counts with watermark") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val counts = EventAnalytics.windowedCounts(
      in.toDF().toDF("ts", "action"), "ts", "action", "10 seconds")
    val q = counts.writeStream.format("memory").queryName("st5")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((ts(1), "click"), (ts(3), "click"), (ts(11), "login"))
      q.processAllAvailable()
      val out = spark.table("st5")
        .select(col("win_start").cast("long"), col("action"), col("n"))
        .as[(Long, String, Long)].collect().toSet
      assert(out === Set((0L, "click", 2L), (10L, "login", 1L)))
    } finally q.stop()
  }

  test("ST7a: dropDuplicatesWithinWatermark drops CDC replays") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Timestamp)]
    val rows = in.toDF().toDF("id", "_lsn", "_ts")
    val q = CdcStreaming.dedupReplays(rows, "10 seconds")
      .writeStream.format("memory").queryName("st7a")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, 100L, ts(1)), (1L, 100L, ts(2)), (1L, 101L, ts(3)))
      q.processAllAvailable()
      in.addData((1L, 100L, ts(4))) // replay within watermark → dropped
      q.processAllAvailable()
      assert(spark.table("st7a").count() === 2)
    } finally q.stop()
  }

  test("ST7b: flatMapGroupsWithState maintains max-lsn current state") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[CdcStreaming.CdcRow]
    // explicit trigger interval: with ProcessingTimeTimeout the engine
    // fires a batch EVERY trigger to evaluate timeouts; the default
    // as-fast-as-possible trigger would spin thousands of empty
    // batches while the test polls
    val q = CdcStreaming.currentStateStream(spark, in.toDF())
      .writeStream.format("memory").queryName("st7b")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .outputMode(OutputMode.Update()).start()
    // processAllAvailable never returns here: with ProcessingTimeTimeout
    // the engine runs timeout-evaluation batches on every trigger, so
    // the "idle" signal it waits for never fires — poll the sink with a
    // deadline instead.
    def await(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(cond, "condition not reached within deadline")
    }
    try {
      in.addData(
        CdcStreaming.CdcRow(1L, "a", "a@x", 0, 1, 100L, ts(1)),
        CdcStreaming.CdcRow(1L, "b", "b@x", 0, 2, 200L, ts(2)))
      await(spark.table("st7b").count() >= 1)
      in.addData(CdcStreaming.CdcRow(1L, "stale", "s@x", 0, 2, 150L, ts(3)))
      in.addData(CdcStreaming.CdcRow(2L, "marker", "m@x", 0, 1, 1L, ts(4)))
      await(spark.table("st7b").filter(col("id") === 2).count() >= 1)
      val names = spark.table("st7b").filter(col("id") === 1)
        .select("name").as[String].collect().toSeq
      // the winner "b" is emitted once; the stale lsn=150 update emits nothing
      assert(names === Seq("b"))
    } finally q.stop()
  }

  test("ST6: session windows close after the gap, within watermark") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val sessions = EventAnalytics.sessionCounts(
      in.toDF().toDF("ts", "user_id"), "ts", "user_id",
      gap = "10 seconds", watermark = "5 seconds")
    val q = sessions.writeStream.format("memory").queryName("st6")
      .outputMode(OutputMode.Append()).start()
    try {
      // u1: two events 3s apart (one session), then 100s later another
      // event → advances watermark past the first session's close
      in.addData((ts(1), "u1"), (ts(4), "u1"))
      q.processAllAvailable()
      in.addData((ts(200), "u1"))
      q.processAllAvailable()
      val out = spark.table("st6")
        .select(col("sess_start").cast("long"), col("sess_end").cast("long"), col("n_events"))
        .as[(Long, Long, Long)].collect().toSet
      assert(out === Set((1L, 14L, 2L))) // [1, 4+10) with 2 events
    } finally q.stop()
  }

  test("S5: foreachBatch parquet sink filters invalid rows instead of failing the batch") {
    implicit val sq = spark.sqlContext
    val dir = tempDir("graft-sink")
    val in = MemoryStream[(java.lang.Long, java.lang.Long, String)]
    val rows = in.toDF().toDF("id", "_lsn", "name")
    val w = Sinks.append(rows, s"$dir/ckpt", Sinks.Parquet(s"$dir/out"))
    in.addData((1L, 10L, "ok"), (null, 11L, "bad-id"), (2L, null, "bad-lsn"))
    drain(w)
    val out = spark.read.parquet(s"$dir/out").select("name").as[String].collect().toSet
    assert(out === Set("ok"))
  }

  test("S5: jsonEachRowPost ships one body per non-empty partition, executor-side") {
    val rows = Seq(
      (1L, "a", "a@x", 0, 1, 10L, ts(0)),
      (2L, "b", "b@x", 0, 1, 11L, ts(0)),
      (3L, null, null, 1, 3, 12L, ts(0)))
      .toDF("id", "name", "email", "is_deleted", "_op", "_lsn", "_ts")
      .repartition(2)
    JsonPostCapture.bodies.clear()
    Sinks.jsonEachRowPost(rows, JsonPostCapture.add)
    val bodies = JsonPostCapture.snapshot()
    assert(bodies.nonEmpty && bodies.size <= 2) // never more than partitions
    val lines = bodies.flatMap(_.split('\n')).toSet
    assert(lines.size === 3)
    assert(lines.exists(_.contains(""""id":3,"name":"","email":"""")))
  }

  test("X1-streaming: dedupBatch drops store-known and batch-internal duplicate docs") {
    val store = Seq(Tuple1("seen before")).toDF("text")
      .select(graft.functions.TextFns.fingerprint(col("text")).as("fp"))
    val batch = Seq(
      (1L, "seen before"),        // duplicate of the store
      (2L, "brand new text"),
      (3L, "brand new text"),     // batch-internal dup: min id 2 wins
      (4L, "another new one")
    ).toDF("doc_id", "text")
    val out = StreamingDedup.dedupBatch(batch, store, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(2L, 4L))
  }

  test("X1-streaming: cross-batch dedup against the persistent fingerprint store") {
    implicit val sq = spark.sqlContext
    val dir = tempDir("graft-sdedup")
    val in = MemoryStream[(Long, String)]
    val w = StreamingDedup.dedupAgainstStore(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/store", s"$dir/out", s"$dir/ckpt")
    val q = w.start()
    try {
      in.addData((1L, "alpha doc"), (2L, "beta doc"))
      q.processAllAvailable()
      // second batch: one replay of doc 1's CONTENT (new id), one new
      in.addData((10L, "alpha doc"), (3L, "gamma doc"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out").select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L, 2L, 3L), s"store must drop the cross-batch dup, got $out")
    val fps = StreamingDedup.existingStore(spark, s"$dir/store").as[String].collect()
    assert(fps.length === 3 && fps.distinct.length === 3)

    // O(batch) probe contract: a probe for a SINGLE prefix must READ a
    // strict subset of the store's files (partition pruning on pfx=XX)
    val allScanned = filesScanned(
      spark.read.schema(StreamingDedup.FpStoreSchema).parquet(s"$dir/store/v2"))
    val prefixes = StreamingDedup.existingStore(spark, s"$dir/store")
      .select(substring(col("fp"), 1, 2)).distinct().as[String].collect()
    assert(prefixes.length > 1, "fixture must span >1 fingerprint prefix")
    val probeScanned = filesScanned(
      StreamingDedup.prunedFpStore(spark, s"$dir/store", Seq(prefixes.head)))
    assert(probeScanned > 0 && probeScanned < allScanned,
      s"probe must prune: read $probeScanned of $allScanned store files")
  }

  test("X2-streaming: cross-batch NEAR-dup dedup against the SimHash signature store") {
    implicit val sq = spark.sqlContext
    val dir = tempDir("graft-sneardup")
    val in = MemoryStream[(Long, String)]
    val w = StreamingDedup.nearDupAgainstStore(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", maxHamming = 12,
      s"$dir/store", s"$dir/out", s"$dir/ckpt")
    val q = w.start()
    try {
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2L, "completely different content about spark engines and shuffles"))
      q.processAllAvailable()
      in.addData(
        // near-dup of doc 1 (one word changed) → must be dropped
        (10L, "the quick brown fox jumps over the lazy cat and runs away fast"),
        // batch-internal near-dup pair → min id 20 survives, 21 dropped
        (20L, "fresh document about training data pipelines at scale today"),
        (21L, "fresh document about training data pipelines at scale tonight"),
        (22L, "yet another unrelated text mentioning benchmarks and joins"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out").select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L, 2L, 20L, 22L), s"got $out")

    // O(batch) probe contract for the signature store: one (band,
    // bpfx) pair must READ a strict subset of band=N/bpfx=XXXX files
    val sigStore = spark.read.schema(StreamingDedup.SigStoreSchema)
      .parquet(s"$dir/store/v2")
    val allScanned = filesScanned(sigStore)
    val keys = sigStore.select(col("band"), col("bpfx")).distinct()
      .as[(Int, String)].collect()
    assert(keys.length > 1, "fixture must span >1 (band, bpfx) partition")
    val probeScanned = filesScanned(
      StreamingDedup.prunedSigStore(spark, s"$dir/store", Seq(keys.head)))
    assert(probeScanned > 0 && probeScanned < allScanned,
      s"sig probe must prune: read $probeScanned of $allScanned store files")
  }

  test("X1-streaming: store compaction collapses micro-batch appends to one file per partition") {
    val dir = tempDir("graft-compact")
    val store = s"$dir/store"
    // three "micro-batch" appends into the same two prefixes
    (1 to 3).foreach { i =>
      Seq(s"00a$i", s"ffb$i").toDF("fp")
        .select(col("fp"), substring(col("fp"), 1, 2).as("pfx"))
        .repartition(2)
        .write.partitionBy("pfx").mode("append").parquet(s"$store/v2")
    }
    def dataFiles(pfx: String) =
      new java.io.File(s"$store/v2/pfx=$pfx").listFiles()
        .map(_.getName).filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(dataFiles("00").length >= 3, "fixture must have per-batch files")
    StreamingDedup.compactFpStore(spark, store)
    assert(dataFiles("00").length === 1 && dataFiles("ff").length === 1)
    val fps = StreamingDedup.existingStore(spark, store).as[String].collect().toSet
    assert(fps === Set("00a1", "00a2", "00a3", "ffb1", "ffb2", "ffb3"))
    // probe still prunes after compaction
    val pruned = StreamingDedup.prunedFpStore(spark, store, Seq("ff")).as[String].collect()
    assert(pruned.toSet === Set("ffb1", "ffb2", "ffb3"))
  }

  test("X3-streaming: cross-batch embedding near-dup dedup against the LSH vector store") {
    implicit val sq = spark.sqlContext
    def v(f: Int => Double): Seq[Float] = (0 until 64).map(i => f(i).toFloat)
    val u = v(i => math.sin(i + 1))
    val uNear = v(i => math.sin(i + 1) + (if (i == 0) 0.1 else 0.0)) // cos≈0.999 to u
    val x = v(i => math.cos(2 * i + 1))
    val xNear = v(i => math.cos(2 * i + 1) + (if (i == 1) 0.1 else 0.0))
    val y = v(i => math.sin(3 * i + 2) * (if (i % 2 == 0) 1 else -1))
    val dir = tempDir("graft-svecdedup")
    val in = MemoryStream[(Long, Seq[Float])]
    val w = StreamingDedup.embedDedupAgainstStore(
      in.toDF().toDF("doc_id", "embedding"), "doc_id", "embedding", minCos = 0.9,
      s"$dir/store", s"$dir/out", s"$dir/ckpt")
    val q = w.start()
    try {
      in.addData((1L, u), (2L, x))
      q.processAllAvailable()
      in.addData(
        (10L, uNear), // near-dup of stored doc 1 → dropped
        (20L, y), (21L, y), // batch-internal exact pair → min id 20 wins
        (22L, xNear)) // near-dup of stored doc 2 → dropped
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out").select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L, 2L, 20L), s"got $out")

    // O(batch) probe contract: one (t, blk) key reads a strict subset
    val full = spark.read.schema(StreamingDedup.VecStoreSchema)
      .parquet(s"$dir/store/v2")
    val allScanned = filesScanned(full)
    val keys = full.select(col("t"), col("blk")).distinct()
      .as[(Int, String)].collect()
    assert(keys.length > 1, "fixture must span >1 (t, blk) partition")
    val probeScanned = filesScanned(
      StreamingDedup.prunedVecStore(spark, s"$dir/store", Seq(keys.head)))
    assert(probeScanned > 0 && probeScanned < allScanned,
      s"vec probe must prune: read $probeScanned of $allScanned store files")

    // compaction keeps contents intact (fresh read: the swap replaces
    // the files, so pre-compaction DataFrames hold a stale FileIndex)
    val preCompactRows = full.count()
    StreamingDedup.compactVecStore(spark, s"$dir/store")
    assert(spark.read.schema(StreamingDedup.VecStoreSchema)
      .parquet(s"$dir/store/v2").count() === preCompactRows)
  }

  test("X3-streaming: ANN serving answers a query stream from the cached static corpus") {
    implicit val sq = spark.sqlContext
    def v(f: Int => Double): Seq[Float] = (0 until 64).map(i => f(i).toFloat)
    val corpus = Seq(
      (100L, v(i => math.sin(i + 1))),
      (101L, v(i => math.sin(i + 1) + (if (i == 0) 0.1 else 0.0))), // near 100
      (102L, v(i => math.cos(2 * i + 1))),
      (103L, v(i => math.sin(3 * i + 2) * (if (i % 2 == 0) 1 else -1))))
      .toDF("vec_id", "embedding")
    val dir = tempDir("graft-sann")
    val in = MemoryStream[(Long, Seq[Float])]
    val w = StreamingAnn.serveTopK(
      in.toDF().toDF("vec_id", "embedding"), corpus, "vec_id", "embedding",
      k = 2, planes = 4, dim = 64, tables = 2,
      outDir = s"$dir/out", checkpoint = s"$dir/ckpt")
    val q = w.start()
    try {
      in.addData((1L, v(i => math.sin(i + 1) + (if (i == 2) 0.05 else 0.0))))
      q.processAllAvailable()
      in.addData((2L, v(i => math.cos(2 * i + 1) + (if (i == 3) 0.05 else 0.0))))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)]
      .collect().groupBy(_._1)
    // each query's rank-1 answer is its true nearest corpus vector
    assert(out(1L).find(_._3 == 1L).map(_._2) === Some(100L))
    assert(out(2L).find(_._3 == 1L).map(_._2) === Some(102L))
  }

  test("S2→P1→S5 end-to-end: envelope JSON stream → translate → parquet sink") {
    implicit val sq = spark.sqlContext
    val dir = tempDir("graft-cdc-e2e")
    val in = MemoryStream[(String, String)]
    val rows = CdcStreaming.translate(in.toDF().toDF("value", "key"))
    val w = Sinks.append(rows, s"$dir/ckpt", Sinks.Parquet(s"$dir/out"))
    in.addData(
      ("""{"before":null,"after":{"id":1,"name":"a","email":"a@x"},"source":{"lsn":10,"ts_us":1},"op":"c","ts_us":1}""", """{"id":1}"""),
      ("not json", null),
      ("""{"before":{"id":1,"name":"a","email":"a@x"},"after":null,"source":{"lsn":11,"ts_us":2},"op":"d","ts_us":2}""", """{"id":1}"""))
    drain(w)
    val out = spark.read.parquet(s"$dir/out")
      .select("id", "is_deleted", "_op", "_lsn")
      .as[(Long, Int, Int, Long)].collect().toSet
    // bad row skipped; create + delete both landed, batched
    assert(out === Set((1L, 0, 1, 10L), (1L, 1, 3, 11L)))
  }

  test("ST9: listener accumulates rows/batches and emits a span log line per batch") {
    implicit val sq = spark.sqlContext
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val m = new IngestionMetrics(spanSink = spans.add(_))
    spark.streams.addListener(m)
    try {
      val in = MemoryStream[Long]
      val q = in.toDF().writeStream.format("noop").start()
      in.addData(1L, 2L, 3L)
      q.processAllAvailable()
      q.stop()
      q.awaitTermination(10000)
      // listener events are async — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (m.rowsTotal.get < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(m.rowsTotal.get >= 3)
      assert(m.batchesTotal.get >= 1)
      assert(m.render().contains("ingest_rows_total"))
      // trace analogue (reference tracing.go:19-51): one structured
      // line per batch with the span-identifying fields
      assert(!spans.isEmpty)
      val line = spans.peek()
      Seq("\"span\":\"ingest_batch\"", "\"query_id\":", "\"batch_id\":",
        "\"rows\":", "\"duration_ms\":").foreach(f => assert(line.contains(f), line))
    } finally spark.streams.removeListener(m)
  }

  /** Most recent progress that carries state-operator metrics: the
    * very last progress can be a no-data housekeeping batch on some
    * paths, so scan recentProgress newest-first.
    */
  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.reverse.collectFirst {
      case p if p.stateOperators.nonEmpty => p.stateOperators.map(_.numRowsTotal).sum
    }.getOrElse(-1L)

  test("ST7 state audit: replay-dedup state is watermark-bounded across batches") {
    // SURVEY §7's 100 TB streaming risk is unbounded keyed state: feed
    // 6 batches of 50 fresh (id,_lsn) keys each, event time jumping
    // 1000s per batch against a 10s watermark. Append-only state would
    // end at 300 rows; watermark-bounded state holds the current
    // batch (+ the one awaiting the next watermark advance) only.
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Timestamp)]
    val rows = in.toDF().toDF("id", "_lsn", "_ts")
    val q = CdcStreaming.dedupReplays(rows, "10 seconds")
      .writeStream.format("memory").queryName("st7state")
      .outputMode(OutputMode.Append()).start()
    try {
      val perBatch = 50
      val totals = (0 until 6).map { b =>
        // start at 1000s, not epoch 0: the initial watermark is 0 and
        // an event AT the watermark is dropped as late
        val base = (b + 1) * 1000L
        in.addData((0 until perBatch).map(i =>
          (base * 100 + i, 100L, ts(base + i))): _*)
        q.processAllAvailable()
        stateRows(q)
      }
      assert(spark.table("st7state").count() === 6L * perBatch) // nothing lost
      assert(totals.last <= 2L * perBatch,
        s"dedup state grew with history instead of the watermark: $totals")
    } finally q.stop()
  }

  test("ST4/ST5 state audit: windowed-agg state evicts closed windows, late rows don't resurrect them") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val counts = EventAnalytics.windowedCounts(
      in.toDF().toDF("ts", "action"), "ts", "action", "10 seconds",
      watermark = "10 seconds")
    val q = counts.writeStream.format("memory").queryName("st45state")
      .outputMode(OutputMode.Update()).start()
    try {
      val totals = (0 until 6).map { b =>
        val base = b * 1000L
        // 20 windows per batch (2s apart in a 10s window), 5 actions
        in.addData((0 until 40).map(i =>
          (ts(base + i * 2), s"act${i % 5}")): _*)
        q.processAllAvailable()
        stateRows(q)
      }
      // replay far BEFORE the watermark: must neither fail the query
      // nor re-open evicted windows
      in.addData((ts(1), "act0"))
      q.processAllAvailable()
      val after = stateRows(q)
      // 6 batches × ~40 (window, action) cells ≈ 240 append-only rows;
      // eviction keeps only the batches the watermark hasn't passed
      assert(totals.last <= 100L,
        s"window state grew with history instead of the watermark: $totals")
      assert(after <= totals.last, s"late replay re-opened state: $after > ${totals.last}")
    } finally q.stop()
  }

  test("ST7b state audit: idle keys expire via processing-time timeout, state returns to zero") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[CdcStreaming.CdcRow]
    val q = CdcStreaming.currentStateStream(spark, in.toDF(), idleTimeout = "1 second")
      .writeStream.format("memory").queryName("st7bstate")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .outputMode(OutputMode.Update()).start()
    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(cond, s"$what not reached within deadline")
    }
    try {
      in.addData((1L to 5L).map(i =>
        CdcStreaming.CdcRow(i, s"n$i", s"n$i@x", 0, 1, i * 100L, ts(i))): _*)
      await("all 5 keys emitted")(spark.table("st7bstate").count() >= 5)
      assert(stateRows(q) >= 5L, "all live keys should be in state")
      // no further input: every key goes idle, the 1s timeout fires on
      // subsequent triggers, and state drains to ZERO — the scaladoc's
      // bounded-state claim for an evolving keyspace, now measured
      await("idle state drained")(stateRows(q) === 0L)
    } finally q.stop()
  }

  test("ST8: stream-static join enriches events with the dimension, broadcast") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val dim = Seq((1L, "alice"), (2L, "bob")).toDF("id", "name")
    val joined = EventAnalytics.enrich(
      in.toDF().toDF("ts", "user_id"), dim, col("user_id"), col("id"))
    val q = joined.writeStream.format("memory").queryName("st8").start()
    try {
      in.addData((ts(1), 1L), (ts(2), 3L))
      q.processAllAvailable()
      val out = spark.table("st8").select("user_id", "name")
        .as[(Long, Option[String])].collect().toSet
      assert(out === Set((1L, Some("alice")), (3L, None))) // left join keeps unmatched
    } finally q.stop()
  }

  test("ST8b: stream-stream interval join matches in-window pairs; state drains") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val purch = MemoryStream[(Timestamp, Long, Long)]
    val joined = EventAnalytics.joinStreamsWithin(
      clicks.toDF().toDF("cts", "cuser", "cid"),
      purch.toDF().toDF("pts", "puser", "pid"),
      "cuser", "puser", "cts", "pts",
      horizon = "10 minutes", watermark = "5 minutes")
      .select(col("cid"), col("pid"))
    val q = joined.writeStream.format("memory").queryName("st8b")
      .outputMode(OutputMode.Append()).start()
    try {
      // realistic event times: timestamps near epoch 0 sit on the
      // initial-watermark boundary and the interval-condition state
      // math silently discards them (verified empirically)
      val b = 1700000000L
      clicks.addData((ts(b), 1L, 100L), (ts(b + 60), 2L, 101L), (ts(b), 3L, 102L))
      purch.addData(
        (ts(b + 300), 1L, 200L),   // user 1: 5 min after the click — match
        (ts(b + 5000), 2L, 201L),  // user 2: 83 min after — outside horizon
        (ts(b + 3), 4L, 202L))     // user 4: no click at all
      q.processAllAvailable()
      val out = spark.table("st8b").as[(Long, Long)].collect().toSet
      assert(out === Set((100L, 200L)),
        "only the within-horizon same-user pair may join")
      val before = stateRows(q)
      assert(before >= 4L, s"unmatched rows buffer in join state, got $before")
      // advance BOTH watermarks far past every buffered interval end
      // (disjoint users so no new matches) and tick twice: eviction
      // happens on the trigger after the watermark moves
      clicks.addData((ts(b + 100000), 8L, 998L))
      purch.addData((ts(b + 100000), 9L, 999L))
      q.processAllAvailable()
      clicks.addData((ts(b + 110000), 8L, 997L))
      purch.addData((ts(b + 110000), 9L, 996L))
      q.processAllAvailable()
      val after = stateRows(q)
      assert(after < before, s"join state must evict expired rows: $after >= $before")
      assert(after <= 4L, s"only the recent rows may remain buffered, got $after")
    } finally q.stop()
  }

  test("F2/F3: uuid and random uniform choice expressions (shape and domain)") {
    val df = spark.range(200).select(
      expr("uuid()").as("u"),
      element_at(array(SyntheticSource.actions.map(lit): _*),
        (floor(rand(42) * SyntheticSource.actions.size) + 1).cast("int")).as("a"))
    val rows = df.as[(String, String)].collect()
    val uuidRe = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    assert(rows.map(_._1).distinct.length === 200)
    rows.foreach { case (u, a) =>
      assert(uuidRe.matches(u), s"bad uuid $u")
      assert(SyntheticSource.actions.contains(a))
    }
    // uniform-ish: every action appears in 200 draws
    assert(rows.map(_._2).distinct.sorted === SyntheticSource.actions.sorted)
  }

  test("ST9: /metrics HTTP endpoint serves the listener's counters") {
    val m = new IngestionMetrics
    m.rowsTotal.set(42L)
    val srv = new MetricsServer(m, port = 0).start() // ephemeral port
    try {
      val url = new java.net.URI(s"http://localhost:${srv.boundPort}/metrics").toURL
      val body = scala.io.Source.fromInputStream(url.openStream()).mkString
      assert(body.contains("ingest_rows_total 42"))
      assert(body.contains("""ingest_batch_ms_bucket{le="+Inf"}"""))
      // the sink's series share the one scrape surface (metrics.go:40-57)
      Seq("clickhouse_insert_errors_total", "rows_inserted", "clickhouse_insert_latency_seconds_count")
        .foreach(series => assert(body.linesIterator.exists(_.startsWith(s"$series ")), body))
      assert(body === MetricsServer.render(m))
    } finally srv.stop()
  }

  test("S1: deterministic synthetic source shape") {
    val q = SyntheticSource.eventsDeterministic(spark, rate = 100)
      .writeStream.format("memory").queryName("s1").start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (spark.table("s1").isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      val rows = spark.table("s1")
        .select("user_id", "action", "payload").collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getString(0).startsWith("user-"))
        assert(SyntheticSource.actions.contains(r.getString(1)))
        assert(r.getString(2) === "example-payload")
      }
    } finally q.stop()
  }

  test("ST10: streaming funnel matches the batch operator on out-of-order input; state drains to zero") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // fixture: same corner-case users the batch spec pins, delivered
    // OUT OF ORDER and split across two micro-batches
    val fixture = Seq(
      ("A", 1030L, "purchase"), ("A", 1010L, "view"), ("A", 1020L, "click"),
      ("B", 1020L, "view"), ("B", 1010L, "click"), // wrong order
      ("C", 1010L, "view"), ("C", 99999L, "click"), // window expired
      ("D", 1010L, "view")) // enters, never converts
    val steps = Seq(col("event_type") === "view",
      col("event_type") === "click", col("event_type") === "purchase")
    val in = MemoryStream[(String, Timestamp, String)]
    val out = StreamingFunnel.funnelLevels(
      in.toDF().toDF("user_id", "ts", "event_type"), "user_id", "ts",
      // the watermark horizon must cover the fixture's disorder: batch
      // 2 carries events 20 s older than batch 1's max — a 600 s
      // horizon admits them; anything older would be dropped as late
      // (the documented contract, same as every watermarked operator)
      window = 86400L, steps = steps,
      watermark = "600 seconds", hold = 10L)
    val q = out.toDF().toDF("user_id", "level")
      .writeStream.format("memory").queryName("st10funnel")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = fixture.splitAt(4)
      in.addData(b1.map { case (u, t, a) => (u, ts(t), a) }: _*)
      q.processAllAvailable()
      in.addData(b2.map { case (u, t, a) => (u, ts(t), a) }: _*)
      q.processAllAvailable()
      // advance the watermark far past every user's last-activity+hold
      // (two batches: one to carry the new max event time, one so the
      // updated watermark fires the timeouts)
      in.addData(("zz", ts(500000L), "view"))
      q.processAllAvailable()
      in.addData(("zz2", ts(900000L), "view"))
      q.processAllAvailable()
      val streamed = spark.table("st10funnel")
        .where(!col("user_id").startsWith("zz"))
        .as[(String, Int)].collect().toMap
      val batch = graft.operators.EventFunnels.windowFunnel(
        fixture.toDF("u", "t", "a"), "u", col("t"), 86400L,
        steps = Seq(col("a") === "view", col("a") === "click",
          col("a") === "purchase"))
        .as[(String, Int)].collect().toMap
      assert(batch === Map("A" -> 3, "B" -> 1, "C" -> 1, "D" -> 1))
      assert(streamed === batch)
      // eviction audit: every fixture user timed out and was removed;
      // only the watermark-advancing sentinels may remain
      assert(stateRows(q) <= 2L,
        s"funnel state not drained: ${stateRows(q)} rows")
    } finally q.stop()
  }

  test("ST10 state audit: an anchor-less user's buffer is watermark-pruned, not history-sized") {
    // a user that clicks forever but never views has no step-1 anchor,
    // so the anchor+window prune can't fire — the watermark prune must
    // bound the buffer instead of letting it grow with history
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Timestamp, String)]
    val out = StreamingFunnel.funnelLevels(
      in.toDF().toDF("user_id", "ts", "event_type"), "user_id", "ts",
      window = 86400L,
      steps = Seq(col("event_type") === "view",
        col("event_type") === "click"),
      watermark = "10 seconds", hold = 1000000L) // hold >> test span: never times out
    val q = out.toDF().toDF("user_id", "level")
      .writeStream.format("memory").queryName("st10anchorless")
      .outputMode(OutputMode.Append()).start()
    def stateBytes(): Long =
      q.recentProgress.reverse.collectFirst {
        case p if p.stateOperators.nonEmpty =>
          p.stateOperators.map(_.memoryUsedBytes).sum
      }.getOrElse(-1L)
    try {
      // 12 batches × 200 clicks, event time advancing 1000 s per batch
      // against a 10 s watermark: an unpruned buffer ends at 2 400
      // events; the watermark prune holds ~1–2 batches' worth
      val bytes = (0 until 12).map { b =>
        val base = (b + 1) * 1000L
        in.addData((0 until 200).map(i => ("u", ts(base + i), "click")): _*)
        q.processAllAvailable()
        (stateRows(q), stateBytes())
      }
      assert(bytes.last._1 === 1L, s"unexpected state rows: $bytes")
      // growth check: if the buffer accumulated history, state memory
      // at batch 12 would be ~6× batch 2's (2400 vs 400 events);
      // pruned, both hold the same ~1–2-batch buffer
      val early = bytes(1)._2
      val late = bytes.last._2
      assert(late <= early * 3,
        s"anchor-less buffer grew with history: $bytes")
    } finally q.stop()
  }

  test("ST10b: streaming sequenceCount matches the batch operator; state drains") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val fixture = Seq(
      // A: v p v p out of order -> 2; B: v v p -> 1; C: p only -> 0
      ("A", 1030L, 3L, "view"), ("A", 1010L, 1L, "view"),
      ("A", 1020L, 2L, "purchase"), ("A", 1040L, 4L, "purchase"),
      ("B", 1010L, 5L, "view"), ("B", 1020L, 6L, "view"),
      ("B", 1030L, 7L, "purchase"),
      ("C", 1010L, 8L, "purchase"))
    val conds = Seq(col("event_type") === "view",
      col("event_type") === "purchase")
    val in = MemoryStream[(String, Timestamp, Long, String)]
    val out = StreamingFunnel.sequenceCounts(
      in.toDF().toDF("user_id", "ts", "eid", "event_type"),
      "user_id", "ts", tie = col("eid"), conds = conds,
      pattern = "1.*?2", watermark = "600 seconds", hold = 10L)
    val q = out.toDF().toDF("user_id", "n")
      .writeStream.format("memory").queryName("st10bseq")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = fixture.splitAt(3)
      in.addData(b1.map { case (u, t, i, a) => (u, ts(t), i, a) }: _*)
      q.processAllAvailable()
      in.addData(b2.map { case (u, t, i, a) => (u, ts(t), i, a) }: _*)
      q.processAllAvailable()
      in.addData(("zz", ts(500000L), 99L, "view"))
      q.processAllAvailable()
      in.addData(("zz2", ts(900000L), 100L, "view"))
      q.processAllAvailable()
      val streamed = spark.table("st10bseq")
        .where(!col("user_id").startsWith("zz"))
        .as[(String, Long)].collect().toMap
      val batch = graft.operators.EventFunnels.sequenceCount(
        fixture.toDF("u", "t", "eid", "a"), "u", col("t"), col("eid"),
        conds = Seq(col("a") === "view", col("a") === "purchase"),
        pattern = "1.*?2")
        .as[(String, Long)].collect().toMap
      assert(batch === Map("A" -> 2L, "B" -> 1L, "C" -> 0L))
      assert(streamed === batch)
      assert(stateRows(q) <= 2L,
        s"sequence state not drained: ${stateRows(q)} rows")
    } finally q.stop()
  }

  test("ST10c: streaming cohort retention matches the batch flag algebra; windows evict") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // epoch-aligned 7-day cohort starting at day 0; users active on
    // in-window days 1/3 (A), 2/3 (B, not day 1 -> all zeros), 1..3 (C)
    def at(dayIdx: Long, hour: Long) = ts(dayIdx * 86400L + hour * 3600L)
    val fixture = Seq(
      ("A", at(0, 1)), ("A", at(2, 1)),
      ("B", at(1, 1)), ("B", at(2, 1)),
      ("C", at(0, 1)), ("C", at(1, 1)), ("C", at(2, 1)))
    val in = MemoryStream[(String, Timestamp)]
    val out = EventAnalytics.cohortRetention(
      in.toDF().toDF("user_id", "ts"), "ts", "user_id",
      spanDays = 7, watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("st10cret")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(fixture.map { case (u, t) => (u, t) }: _*)
      q.processAllAvailable()
      // close the cohort window: advance the watermark past day 7
      in.addData(("zz", at(40, 1)))
      q.processAllAvailable()
      in.addData(("zz2", at(80, 1)))
      q.processAllAvailable()
      val streamed = spark.table("st10cret")
        .where(!col("user_id").startsWith("zz"))
        .select(col("user_id"), col("r1"), col("r2"), col("r3"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // the batch operator on the same in-window day indexes
      val batch = graft.operators.EventFunnels.retention(
        fixture.map { case (u, t) =>
          (u, t.getTime / 1000L / 86400L % 7 + 1) }.toDF("u", "dk"),
        "u", conds = (1 to 3).map(k => col("dk") === k))
        .select(col("u"), col("r1"), col("r2"), col("r3"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(batch === Map(
        "A" -> ((1L, 0L, 1L)), "B" -> ((0L, 0L, 0L)), "C" -> ((1L, 1L, 1L))))
      assert(streamed === batch)
      // closed cohort windows evict: only the sentinels' open windows
      // may hold state
      assert(stateRows(q) <= 2L,
        s"closed cohort state not evicted: ${stateRows(q)} rows")
    } finally q.stop()
  }

  test("ST10c unit: the cohort day index is timezone-independent, matching window() alignment") {
    import spark.implicits._
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // in a non-UTC session a date-cast day index would disagree with
      // window()'s UTC-epoch alignment: 1970-01-08 01:00 UTC is day 1
      // of cohort [day7, day14) but casts to 1970-01-07 New York local
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val df = Seq(("u", ts(7L * 86400L + 3600L))).toDF("user_id", "ts")
      val out = EventAnalytics.cohortRetention(
        df, "ts", "user_id", spanDays = 7, watermark = "1 hour")
        .select(col("user_id"), col("r1")).as[(String, Long)].collect().toMap
      assert(out === Map("u" -> 1L),
        "day-1 activity must set r1 regardless of session timezone")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("ST10 unit: watermark prune keeps anchor-less buffers bounded and levels correct") {
    // pure-function check of the prune invariant via levelOf: events
    // below the watermark can never join a chain once an anchor must
    // pass the late filter — dropping them never changes the level
    val events = (0 until 100).map(i => (1000L + i, 2)) // clicks only
    val wm = 1080L
    val kept = events.filter(_._1 >= wm)
    val lateAnchor = (wm, 1) // earliest anchor that can still arrive
    val full = graft.operators.EventFunnels.levelOf(
      events :+ lateAnchor, nSteps = 2, window = 86400L)
    val pruned = graft.operators.EventFunnels.levelOf(
      kept :+ lateAnchor, nSteps = 2, window = 86400L)
    assert(full === pruned)
    assert(kept.size < events.size) // the prune actually removed rows
  }

  test("ST12: streaming z-score alerts match batch rollingZScore on out-of-order input") {
    implicit val sq = spark.sqlContext
    // 100-second buckets 10..25, jittered baseline 3/4/5 with a
    // 40-count spike at bucket 20; events spread inside each bucket
    def cntOf(b: Long): Int = if (b == 20L) 40 else 3 + (b % 3).toInt
    val fixture = for {
      b <- 10L to 25L
      i <- 0 until cntOf(b)
    } yield ("click", b * 100L + i)
    val in = MemoryStream[(String, Timestamp)]
    val alerts = StreamingAnomaly.zScoreAlerts(
      in.toDF().toDF("event_type", "ts"), "event_type", "ts",
      bucketSeconds = 100L, lookback = 7, watermark = "300 seconds")
    val q = alerts.toDF()
      .writeStream.format("memory").queryName("st12z")
      .outputMode(OutputMode.Append()).start()
    try {
      // three micro-batches; 3 events of bucket 15 are held back into
      // batch 2 (disorder within the 300 s horizon) — bucket counts
      // must land identically
      val (b15Late, rest) = fixture.partition {
        case (_, t) => t >= 1597L && t < 1600L }
      val (chunk1, rest2) = rest.partition(_._2 < 1600L)
      val (chunk2, chunk3) = rest2.partition(_._2 < 2100L)
      in.addData(chunk1.map { case (k, t) => (k, ts(t)) }: _*)
      q.processAllAvailable()
      in.addData((chunk2 ++ b15Late).map { case (k, t) => (k, ts(t)) }: _*)
      q.processAllAvailable()
      in.addData(chunk3.map { case (k, t) => (k, ts(t)) }: _*)
      q.processAllAvailable()
      // two sentinel batches: carry the watermark forward, then fire
      // the event-time timeouts that close the tail buckets
      in.addData(("zz", ts(1000000L)))
      q.processAllAvailable()
      in.addData(("zz", ts(2000000L)))
      q.processAllAvailable()
      val streamed = spark.table("st12z")
        .where(col("key") === "click")
        .collect().map(r => (r.getLong(1), (r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getBoolean(4))))).toMap
      // batch twin on the identical events
      val daily = fixture.toDF("k", "ep")
        .select(col("k"), floor(col("ep") / lit(100.0)).cast("long").as("b"))
        .groupBy("k", "b").agg(count(lit(1)).as("cnt"))
      val batch = graft.operators.TimeSeries.rollingZScore(
        daily, Seq("k"), col("b"), col("cnt"), lookback = 7)
        .select("k", "b", "cnt", "z", "is_anomaly")
        .collect().map(r => (r.getLong(1), (r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getBoolean(4))))).toMap
      assert(streamed === batch, s"streamed=$streamed\nbatch=$batch")
      // the spike is flagged, warm-up rows are null verdicts
      assert(streamed(20L)._3 === Some(true))
      assert(streamed(10L)._2.isEmpty && streamed(11L)._2.isEmpty)
      assert(streamed.count(_._2._3.contains(true)) === 1)
    } finally q.stop()
  }

  test("ST13: streaming SCD2 equals the batch operator across batches; replay + crash windows") {
    val dir = tempDir("scd2st")
    val all = Seq(
      (1L, 1L, 100L, false, "a"),
      (1L, 2L, 200L, false, "b"),
      (2L, 3L, 300L, false, "c"),
      (1L, 4L, 400L, true, "d"),  // delete closes key 1
      (3L, 5L, 500L, false, "e"),
      (1L, 6L, 600L, false, "f"), // re-insert opens key 1 again
      (2L, 7L, 700L, false, "g"))
    def df(rows: Seq[(Long, Long, Long, Boolean, String)]) =
      rows.toDF("id", "lsn", "ts", "del", "v")
    def norm(d: org.apache.spark.sql.DataFrame) = d
      .select("id", "lsn", "v", "valid_from", "valid_to", "is_current")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getBoolean(5))).toSet
    val expect = norm(graft.operators.VersionedDedup.scd2History(
      df(all), Seq("id"), col("lsn"), col("ts"), col("del")))
    val batches = Seq(all.take(3), all.slice(3, 5), all.drop(5))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingScd2.applyBatch(df(b), Seq("id"), "lsn", "ts", "del",
        dir, i.toLong)
    }
    val tmpl = graft.operators.VersionedDedup.scd2History(
      df(all), Seq("id"), col("lsn"), col("ts"), col("del"))
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect)
    assert(StateStore.readPointer(dir) === ((3L, 2L)))
    // replaying the last batch is a no-op (pointer and rows stable)
    StreamingScd2.applyBatch(df(batches.last), Seq("id"), "lsn", "ts",
      "del", dir, 2L)
    assert(StateStore.readPointer(dir) === ((3L, 2L)))
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect)
    // crash window: version-4 dirs were written but the pointer never
    // moved — garbage orphans must be invisible now and fully
    // overwritten by the replayed batch
    val orphanRows = Seq((99L, 99L, 9900L, false, "zz"))
    graft.operators.VersionedDedup.scd2History(df(orphanRows),
      Seq("id"), col("lsn"), col("ts"), col("del"))
      .write.parquet(s"$dir/closed/delta-4")
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect,
      "orphan delta beyond the pointer must be invisible")
    val b4 = Seq((3L, 8L, 800L, false, "h"))
    StreamingScd2.applyBatch(df(b4), Seq("id"), "lsn", "ts", "del",
      dir, 3L)
    val expect2 = norm(graft.operators.VersionedDedup.scd2History(
      df(all ++ b4), Seq("id"), col("lsn"), col("ts"), col("del")))
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect2)
    // compaction: same rows, delta dirs folded into one compacted run
    StreamingScd2.compactClosed(spark, dir, tmpl)
    assert(StreamingScd2.readBase(dir) === 4L)
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect2)
    assert(!Files.isDirectory(java.nio.file.Paths.get(s"$dir/closed/delta-1")))
    // an orphan compact dir beyond _BASE (crash before the pointer
    // move) must be invisible
    graft.operators.VersionedDedup.scd2History(df(orphanRows),
      Seq("id"), col("lsn"), col("ts"), col("del"))
      .write.parquet(s"$dir/closed/compact-9")
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect2)
    // the store keeps absorbing batches after compaction
    val b5 = Seq((1L, 9L, 900L, false, "i"))
    StreamingScd2.applyBatch(df(b5), Seq("id"), "lsn", "ts", "del", dir, 4L)
    val expect3 = norm(graft.operators.VersionedDedup.scd2History(
      df(all ++ b4 ++ b5), Seq("id"), col("lsn"), col("ts"), col("del")))
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect3)
    // at-least-once redelivery under a NEW batchId: the same change
    // (key 1, lsn 9 — equal to the committed open-row version) must
    // be dropped before the re-derivation, not tie the open row into
    // a spurious zero-length closed interval + duplicate open row
    StreamingScd2.applyBatch(df(b5), Seq("id"), "lsn", "ts", "del", dir, 5L)
    assert(StateStore.readPointer(dir) === ((6L, 5L)))
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect3,
      "equal-version redelivery in a later batch must be a no-op on rows")
    // ...and a stale mix (one redelivered, one genuinely new) applies
    // only the new change
    val b6 = Seq((1L, 9L, 900L, false, "i"), (2L, 10L, 1000L, false, "j"))
    StreamingScd2.applyBatch(df(b6), Seq("id"), "lsn", "ts", "del", dir, 6L)
    val applied6 = all ++ b4 ++ b5 ++ Seq((2L, 10L, 1000L, false, "j"))
    val expect4 = norm(graft.operators.VersionedDedup.scd2History(
      df(applied6), Seq("id"), col("lsn"), col("ts"), col("del")))
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect4)
    // tombstone arm: delete key 2, then redeliver an OLDER upsert for
    // it under a new batchId — the open table no longer sees key 2,
    // so only the tombstoned delete version can block resurrection
    val b7 = Seq((2L, 11L, 1100L, true, "k"))
    StreamingScd2.applyBatch(df(b7), Seq("id"), "lsn", "ts", "del", dir, 7L)
    val expect5 = norm(graft.operators.VersionedDedup.scd2History(
      df(applied6 ++ b7), Seq("id"), col("lsn"), col("ts"), col("del")))
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect5)
    StreamingScd2.applyBatch(
      df(Seq((2L, 10L, 1000L, false, "j"))), // stale redelivery
      Seq("id"), "lsn", "ts", "del", dir, 8L)
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect5,
      "a stale redelivery must not resurrect a deleted key")
    // ...while a genuinely NEWER change does revive it (and sheds the
    // tombstone: a later redelivery check must compare against the
    // revived open row, exercised by the no-op replay after)
    val b9 = Seq((2L, 12L, 1200L, false, "m"))
    StreamingScd2.applyBatch(df(b9), Seq("id"), "lsn", "ts", "del", dir, 9L)
    val expect6 = norm(graft.operators.VersionedDedup.scd2History(
      df(applied6 ++ b7 ++ b9), Seq("id"), col("lsn"), col("ts"), col("del")))
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect6)
    StreamingScd2.applyBatch(df(b9), Seq("id"), "lsn", "ts", "del", dir, 10L)
    assert(norm(StreamingScd2.history(spark, dir, tmpl)) === expect6)
  }

  test("ST-W9: streaming OHLC bars equal the batch resample over out-of-order input") {
    implicit val sq = spark.sqlContext
    val dir = tempDir("ohlcst")
    val ckpt = tempDir("ohlcck")
    // 240 rows, 3 symbols, 10 one-minute buckets, SHUFFLED — so every
    // micro-batch carries late rows for bars earlier batches opened,
    // and the merge's out-of-order claim is actually exercised
    val rnd = new scala.util.Random(47)
    val all = rnd.shuffle((0 until 240).map { i =>
      (s"s${i % 3}", rnd.nextInt(600).toLong, i.toLong,
        math.round(rnd.nextDouble() * 10000.0) / 100.0)
    })
    def bars(d: org.apache.spark.sql.DataFrame) = d
      .select("sym", "bucket", "open", "high", "low", "close", "n")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6))).toMap
    val expect = bars(graft.operators.TimeSeries.ohlcResample(
      all.toDF("sym", "ts", "id", "price"), Seq("sym"),
      col("ts"), col("id"), col("price"), 60L))
    val in = MemoryStream[(String, Long, Long, Double)]
    val q = StateStore.maintain(
      in.toDF().toDF("sym", "ts", "id", "price"), ckpt)(
      StreamingOhlc.applyBatch(_, Seq("sym"), col("ts"), col("id"),
        col("price"), 60L, dir, _)).start()
    try {
      for (b <- all.grouped(80)) {
        in.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val tmpl = StreamingOhlc.partialBars(all.take(1).toDF("sym", "ts", "id", "price"),
      Seq("sym"), col("ts"), col("id"), col("price"), 60L)
    def state() = bars(StreamingOhlc.finalizeBars(
      StateStore.readVersioned(spark, dir, tmpl), Seq("sym")))
    assert(state() === expect,
      "streamed bars must equal the batch ohlcResample over all rows")
    // replay of a committed batch is a no-op on rows and pointer
    val ptr = StateStore.readPointer(dir)
    StreamingOhlc.applyBatch(all.take(80).toDF("sym", "ts", "id", "price"),
      Seq("sym"), col("ts"), col("id"), col("price"), 60L, dir, 0L)
    assert(StateStore.readPointer(dir) === ptr)
    assert(state() === expect)
    // crash window: an orphan next-version dir is overwritten, not
    // double-counted
    Files.createDirectories(java.nio.file.Paths.get(dir, s"state-${ptr._1 + 1}"))
    val late = Seq(("s0", 599L, 999L, 123.45))
    StreamingOhlc.applyBatch(late.toDF("sym", "ts", "id", "price"),
      Seq("sym"), col("ts"), col("id"), col("price"), 60L, dir, ptr._2 + 1)
    val expect2 = bars(graft.operators.TimeSeries.ohlcResample(
      (all ++ late).toDF("sym", "ts", "id", "price"), Seq("sym"),
      col("ts"), col("id"), col("price"), 60L))
    assert(state() === expect2)
  }

  test("ST-W1f: streaming collapse FINAL equals the batch operator over shuffled sign batches") {
    implicit val sq = spark.sqlContext
    val dir = tempDir("collst")
    val ckpt = tempDir("collck")
    // 40 keys × up to 5 states each: every state +1 is cancelled by a
    // -1 copy when its successor exists; keys ≡ 0 (mod 5) end deleted
    // (final cancel, no replacement). The whole stream is SHUFFLED so
    // cancels routinely arrive batches before/after their states —
    // the commutative-state claim under test
    val rnd = new scala.util.Random(31)
    val all = rnd.shuffle((0 until 40).flatMap { k =>
      val nStates = k % 5 + 1
      val states = (1 to nStates).map(v =>
        (k.toLong, v.toLong, s"p$k-$v", 1))
      val cancels = (1 until nStates).map(v =>
        (k.toLong, v.toLong, s"p$k-$v", -1))
      val del = if (k % 5 == 0)
        Seq((k.toLong, nStates.toLong, s"p$k-$nStates", -1)) else Seq.empty
      states ++ cancels ++ del
    })
    def df(rows: Seq[(Long, Long, String, Int)]) =
      rows.toDF("k", "ver", "payload", "sign")
    def viewOf(d: org.apache.spark.sql.DataFrame) =
      d.select("k", "ver", "payload")
        .as[(Long, Long, String)].collect().toSet
    val expect = viewOf(graft.operators.Collapsing.collapseFinal(
      df(all), Seq("k"), col("sign"), Seq("ver")))
    assert(expect.nonEmpty && expect.size < 40) // deletions really occurred
    val in = MemoryStream[(Long, Long, String, Int)]
    val q = StateStore.maintain(
      in.toDF().toDF("k", "ver", "payload", "sign"), ckpt)(
      StreamingCollapse.applyBatch(_, Seq("k"), "sign", Seq("ver"), dir, _))
      .start()
    try {
      for (b <- all.grouped(45)) {
        in.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val tmpl = StreamingCollapse.partialState(
      df(all.take(1)), Seq("k"), "sign", Seq("ver"))
    def state() = viewOf(StreamingCollapse.finalizeState(
      StateStore.readVersioned(spark, dir, tmpl), Seq("k")))
    assert(state() === expect,
      "streamed FINAL view must equal batch collapseFinal over all rows")
    // replay of a committed batch is a no-op on rows and pointer
    val ptr = StateStore.readPointer(dir)
    StreamingCollapse.applyBatch(df(all.take(45)), Seq("k"), "sign",
      Seq("ver"), dir, 0L)
    assert(StateStore.readPointer(dir) === ptr)
    assert(state() === expect)
    // crash window: an orphan next-version dir is overwritten; a late
    // +1 resurrects a fully-deleted key (net climbs back above 0)
    Files.createDirectories(java.nio.file.Paths.get(dir, s"state-${ptr._1 + 1}"))
    val resurrect = Seq((0L, 9L, "p0-reborn", 1))
    StreamingCollapse.applyBatch(df(resurrect), Seq("k"), "sign",
      Seq("ver"), dir, ptr._2 + 1)
    val expect2 = viewOf(graft.operators.Collapsing.collapseFinal(
      df(all ++ resurrect), Seq("k"), col("sign"), Seq("ver")))
    assert(state() === expect2)
    assert(state().exists(r => r._1 == 0L && r._3 == "p0-reborn"))
  }

  test("ST-W4d: streaming deltaSum equals batch over in-watermark disorder; closes slices, drops beyond-horizon rows, compacts") {
    implicit val sq = spark.sqlContext
    val dir = tempDir("dsumst")
    val ckpt = tempDir("dsumck")
    // two counters sampled every 10 s over 600 s; c1 resets twice.
    // Rows are shuffled WITHIN each micro-batch (disorder inside the
    // 120 s watermark delay) while batches advance in time — the
    // contract under which no row is late beyond the horizon
    val samples = (0 until 60).map { i =>
      val t = i * 10L
      Seq(("c1", t, 1000L + i, (i % 25) * 3.0),      // resets at i=25,50
        ("c2", t, 2000L + i, i * 7.0))
    }
    val rnd = new scala.util.Random(53)
    val batches = samples.grouped(12).map(g => rnd.shuffle(g.flatten)).toSeq
    val all = batches.flatten
    def df(rows: Seq[(String, Long, Long, Double)]) =
      rows.toDF("k", "t", "id", "v")
    def totalsOf(d: org.apache.spark.sql.DataFrame) = d
      .select(col("k"), col("n_samples"), col("n_resets"),
        col("delta_sum").cast("double"), col("span_s"), col("rate_per_s"))
      .as[(String, Long, Long, Double, Long, Option[Double])]
      .collect().toSet
    val expect = totalsOf(graft.operators.TimeSeries.deltaSum(
      df(all), Seq("k"), ord = Seq(col("t"), col("id")),
      ts = col("t"), value = col("v")))
    val in = MemoryStream[(String, Long, Long, Double)]
    val q = StateStore.maintain(in.toDF().toDF("k", "t", "id", "v"), ckpt)(
      StreamingDeltaSum.applyBatch(_, Seq("k"), col("t"), col("id"), col("v"),
        sliceSeconds = 60L, delaySeconds = 120L, dir, _)).start()
    try {
      for (b <- batches) {
        in.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    def totals() = totalsOf(
      StreamingDeltaSum.currentTotals(spark, dir, Seq("k")))
    assert(totals() === expect,
      "streamed totals must equal batch deltaSum over all samples")
    // slices really closed (the fold is not just one big pending blob):
    // max ts 590, wm = 470 → slices 0..6 (ends 60..420) are closed
    val (ver, lastBatch, wm) = StreamingDeltaSum.readPointer(dir)
    assert(wm === 470L, s"watermark drifted: $wm")
    val closedRows = spark.read.parquet(s"$dir/state-$ver/closed").count()
    assert(closedRows === 14L, s"expected 7 closed slices x 2 keys: $closedRows")
    // replay of a committed batch is a no-op on state and pointer
    StreamingDeltaSum.applyBatch(df(batches.head), Seq("k"), col("t"),
      col("id"), col("v"), 60L, 120L, dir, 0L)
    assert(StreamingDeltaSum.readPointer(dir) === ((ver, lastBatch, wm)))
    assert(totals() === expect)
    // a row beyond the watermark horizon (slice already closed) is
    // DROPPED: totals unchanged, pointer advances
    StreamingDeltaSum.applyBatch(df(Seq(("c1", 30L, 9999L, 1e6))),
      Seq("k"), col("t"), col("id"), col("v"), 60L, 120L, dir,
      lastBatch + 1)
    assert(totals() === expect, "late-beyond-horizon row must be dropped")
    // crash window: an orphan next-version dir is overwritten, and an
    // in-horizon sample folds in (extends c2 above its last value)
    val ptr2 = StreamingDeltaSum.readPointer(dir)
    Files.createDirectories(
      java.nio.file.Paths.get(dir, s"state-${ptr2._1 + 1}"))
    val fresh = Seq(("c2", 600L, 3000L, 500.0))
    StreamingDeltaSum.applyBatch(df(fresh), Seq("k"), col("t"),
      col("id"), col("v"), 60L, 120L, dir, ptr2._2 + 1)
    val expect2 = totalsOf(graft.operators.TimeSeries.deltaSum(
      df(all ++ fresh), Seq("k"), ord = Seq(col("t"), col("id")),
      ts = col("t"), value = col("v")))
    assert(totals() === expect2)
    // compaction: read face invariant, closed table folds to 1 row/key
    StreamingDeltaSum.compactClosed(spark, dir, Seq("k"))
    assert(totals() === expect2, "compaction must not change the read face")
    val (ver3, _, _) = StreamingDeltaSum.readPointer(dir)
    assert(spark.read.parquet(s"$dir/state-$ver3/closed").count() === 2L)
    // closed-only read face: the Prometheus staleness posture — equals
    // the batch fold over samples in closed slices only
    val wmNow = StreamingDeltaSum.readPointer(dir)._3
    val closedOnly = totalsOf(StreamingDeltaSum.currentTotals(
      spark, dir, Seq("k"), includeOpen = false))
    val expectClosed = totalsOf(graft.operators.TimeSeries.deltaSum(
      df((all ++ fresh).filter { case (_, t, _, _) =>
        (t / 60L + 1L) * 60L <= wmNow }),
      Seq("k"), ord = Seq(col("t"), col("id")),
      ts = col("t"), value = col("v")))
    assert(closedOnly === expectClosed)
  }

  test("ST13: redelivery-horizon prunes dead tombstones, keeps live ones blocking") {
    val dir = tempDir("scd2hz")
    def df(rows: Seq[(Long, Long, Long, Boolean, String)]) =
      rows.toDF("id", "lsn", "ts", "del", "v")
    val tmpl = graft.operators.VersionedDedup.scd2History(
      df(Seq((1L, 1L, 1L, false, "x"))), Seq("id"),
      col("lsn"), col("ts"), col("del"))
    val h = Some(5L)
    // b0: insert keys 1,2; b1: delete both (tombstones at lsn 3,4)
    StreamingScd2.applyBatch(df(Seq((1L, 1L, 100L, false, "a"),
      (2L, 2L, 200L, false, "b"))), Seq("id"), "lsn", "ts", "del", dir, 0L, h)
    StreamingScd2.applyBatch(df(Seq((1L, 3L, 300L, true, "c"),
      (2L, 4L, 400L, true, "d"))), Seq("id"), "lsn", "ts", "del", dir, 1L, h)
    def tombIds(): Set[Long] = StreamingScd2.readTombs(spark, dir,
      df(Nil).select(col("id"), col("lsn")).limit(0))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(tombIds() === Set(1L, 2L))
    // b2 at head lsn 8: key 1's tombstone (lsn 3) falls below
    // head − horizon = 3 (strict <) — kept; head 9 would drop it
    StreamingScd2.applyBatch(df(Seq((3L, 8L, 800L, false, "e"))),
      Seq("id"), "lsn", "ts", "del", dir, 2L, h)
    assert(tombIds() === Set(1L, 2L))
    // b3 at head lsn 10: horizon floor is 5 — key 1 (lsn 3) and
    // key 2 (lsn 4) both age out
    StreamingScd2.applyBatch(df(Seq((3L, 10L, 1000L, false, "f"))),
      Seq("id"), "lsn", "ts", "del", dir, 3L, h)
    assert(tombIds() === Set(), "aged-out tombstones must be pruned")
    // a WITHIN-horizon stale redelivery is still blocked: delete key 3
    // at lsn 11, then redeliver its lsn-10 upsert — tombstone (11) is
    // within horizon of head 10? head=10 < 11 so kept; resurrection blocked
    StreamingScd2.applyBatch(df(Seq((3L, 11L, 1100L, true, "g"))),
      Seq("id"), "lsn", "ts", "del", dir, 4L, h)
    val expect = StreamingScd2.history(spark, dir, tmpl)
      .select("id", "lsn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    StreamingScd2.applyBatch(df(Seq((3L, 10L, 1000L, false, "f"))),
      Seq("id"), "lsn", "ts", "del", dir, 5L, h)
    val got = StreamingScd2.history(spark, dir, tmpl)
      .select("id", "lsn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expect,
      "a within-horizon stale redelivery must not resurrect the deleted key")
  }

  test("ST-A27: streaming score monitor serves the batch AUC/KS over out-of-order batches") {
    import graft.operators.StatsAgg
    implicit val sq = spark.sqlContext
    val dir = tempDir("scorest")
    val ckpt = tempDir("scoreck")
    // quantized (round-2) scores so the cell table is bounded — the
    // operator's documented contract; SHUFFLED so micro-batches carry
    // late rows for cells earlier batches opened
    val rnd = new scala.util.Random(11)
    val all = rnd.shuffle((0 until 300).map { i =>
      (s"m${i % 2}", math.round(rnd.nextDouble() * 100) / 100.0, i % 3 == 0)
    })
    def df(rows: Seq[(String, Double, Boolean)]) = rows.toDF("k", "s", "l")
    def aucOf(d: org.apache.spark.sql.DataFrame) =
      d.select("k", "auc").as[(String, Double)].collect().toMap
    def ksOf(d: org.apache.spark.sql.DataFrame) =
      d.select("k", "d_stat").as[(String, Double)].collect().toMap
    val expectAuc = aucOf(StatsAgg.auc(df(all), Seq("k"), col("s"), col("l")))
    val expectKs = ksOf(StatsAgg.ksTest(df(all), Seq("k"), col("s"), col("l")))
    val in = MemoryStream[(String, Double, Boolean)]
    val q = StateStore.maintain(in.toDF().toDF("k", "s", "l"), ckpt)(
      StreamingScoreMonitor.applyBatch(_, Seq("k"), col("s"), col("l"),
        dir, _)).start()
    try {
      for (b <- all.grouped(100)) {
        in.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val tmpl = StatsAgg.scoreCells(df(all.take(1)), Seq("k"), col("s"), col("l"))
    assert(aucOf(StreamingScoreMonitor.currentAuc(spark, dir, Seq("k"), tmpl))
      === expectAuc,
      "streamed cells must serve the batch AUC over all rows")
    assert(ksOf(StreamingScoreMonitor.currentKs(spark, dir, Seq("k"), tmpl))
      === expectKs)
    val expectPr = StatsAgg.prAuc(df(all), Seq("k"), col("s"), col("l"))
      .select("k", "pr_auc").as[(String, Double)].collect().toMap
    assert(StreamingScoreMonitor.currentPrAuc(spark, dir, Seq("k"), tmpl)
      .select("k", "pr_auc").as[(String, Double)].collect().toMap
      === expectPr,
      "the same cell state must serve PR-AUC with no extra maintenance")
    val expectRoc = StatsAgg.rocCurve(df(all), Seq("k"), col("s"), col("l"))
      .collect().map(_.toSeq).toSet
    assert(StreamingScoreMonitor.currentRocCurve(spark, dir, Seq("k"), tmpl)
      .collect().map(_.toSeq).toSet === expectRoc)
    val expectBr = StatsAgg.brierScore(df(all), Seq("k"), col("s"), col("l"))
      .select("k", "brier").as[(String, Double)].collect().toMap
    assert(StreamingScoreMonitor.currentBrier(spark, dir, Seq("k"), tmpl)
      .select("k", "brier").as[(String, Double)].collect().toMap
      === expectBr)
    val expectCal = StatsAgg.calibrationCurve(df(all), Seq("k"),
      col("s"), col("l")).collect().map(_.toSeq).toSet
    assert(StreamingScoreMonitor.currentCalibration(spark, dir, Seq("k"),
      tmpl).collect().map(_.toSeq).toSet === expectCal)
    val expectEce = StatsAgg.expectedCalibrationError(df(all), Seq("k"),
      col("s"), col("l")).select("k", "ece")
      .as[(String, Double)].collect().toMap
    assert(StreamingScoreMonitor.currentEce(spark, dir, Seq("k"), tmpl)
      .select("k", "ece").as[(String, Double)].collect().toMap
      === expectEce)
    // replay of a committed batch is a no-op on cells and pointer
    val ptr = StateStore.readPointer(dir)
    StreamingScoreMonitor.applyBatch(df(all.take(100)), Seq("k"),
      col("s"), col("l"), dir, 0L)
    assert(StateStore.readPointer(dir) === ptr)
    assert(aucOf(StreamingScoreMonitor.currentAuc(spark, dir, Seq("k"), tmpl))
      === expectAuc)
    // crash window: an orphan next-version dir is overwritten, not
    // double-counted
    Files.createDirectories(java.nio.file.Paths.get(dir, s"state-${ptr._1 + 1}"))
    val late = Seq(("m0", 0.5, true), ("m0", 0.5, false), ("m0", 0.99, true))
    StreamingScoreMonitor.applyBatch(df(late), Seq("k"), col("s"), col("l"),
      dir, ptr._2 + 1)
    val expect2 = aucOf(StatsAgg.auc(df(all ++ late), Seq("k"),
      col("s"), col("l")))
    assert(aucOf(StreamingScoreMonitor.currentAuc(spark, dir, Seq("k"), tmpl))
      === expect2)
  }
}

/** Executor-side capture for the per-partition POST spec: statics
  * resolve per-JVM, so local-mode tasks and the test share the queue
  * (a closure-captured queue would be task-serialized into a copy).
  */
object JsonPostCapture {
  val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def add(b: String): Unit = bodies.add(b)
  def snapshot(): Seq[String] = {
    val it = bodies.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) buf += it.next()
    buf.toSeq
  }
}
