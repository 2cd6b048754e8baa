package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.IngestorCli
import graft.pipeline.Debezium
import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One `IngestorCli.run` against the stub: the call's start and end, the
  * posts it produced, the program's own sink-counter deltas, the rows its
  * source read and (traced runs) what the listeners saw.
  */
final case class IngestRun(
    startUs: Long, endUs: Long, posts: Seq[Post], counters: SinkCounters,
    inputRows: Long, seg: Option[Segment]) {
  val rows: Long = StubClickHouse.receivedRows(posts)
  def lastUs: Long = posts.lastOption.map(_.receiptUs).getOrElse(endUs)
  def rowsPerS: Double = rows / math.max(1e-6, (lastUs - startUs) / 1e6)
}

/** The two ingest workloads. Both drive `IngestorCli.run` exactly as the
  * CLI would (`--sink clickhouse:<stub>`), so the translate pipeline, the
  * micro-batch engine and the HTTP sink all run unmodified.
  */
object Ingest {
  private val mapper = new ObjectMapper()
  private val tsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  private var runs = 0
  private def ingest(
      spark: SparkSession, ctx: Ctx, stub: StubClickHouse, probe: Option[Probe],
      args: String*): IngestRun = {
    runs += 1
    val argv = args ++ Seq("--sink", s"clickhouse:127.0.0.1:${stub.port}",
      "--checkpoint", Paths.get(ctx.dir("checkpoints"), s"run-$runs").toString,
      "--metrics-port", "0")
    probe.foreach(_.take())
    stub.take()
    val c0 = SinkCounters.read()
    val t0 = Clock.nowUs
    val m = IngestorCli.run(spark, IngestorCli.parse(argv.toArray))
    val t1 = Clock.nowUs
    IngestRun(t0, t1, stub.take(), SinkCounters.read().minus(c0), m.rowsTotal.get,
      probe.map(_.take()))
  }

  /** Checks shared by both workloads: sink counters agree with the stub,
    * every POST is the reference's insert, and nothing failed.
    */
  private def sinkChecks(r: IngestRun, tag: String): Seq[String] = {
    val c = r.counters
    Seq(
      (c.rows != r.rows) -> s"$tag: ClickHouseHttp.rowsInserted delta ${c.rows} != stub rows ${r.rows}",
      (c.posts != r.posts.size) -> s"$tag: ClickHouseHttp.postsTotal delta ${c.posts} != stub posts ${r.posts.size}",
      (c.errors != 0) -> s"$tag: ${c.errors} sink insert errors",
      r.posts.exists(p => !StubClickHouse.insertQueryOk(p.query)) -> s"$tag: POST without an INSERT ... FORMAT JSONEachRow query")
      .collect { case (true, msg) => msg }
  }

  // ---------------------------------------------------------------- CDC

  private final case class CdcFixture(dir: String, expected: Seq[String], expectedFinal: Set[String], inputLines: Long)
  private def fixture(root: String, name: String): CdcFixture = {
    def lines(f: String) = Files.readAllLines(Paths.get(root, f)).asScala.toVector.filter(_.nonEmpty)
    CdcFixture(Paths.get(root, name).toString, lines(s"$name.expected"),
      lines(s"$name.final").toSet, lines(s"$name.count").head.trim.toLong)
  }

  /** Received rows against the fixture's model: the multiset of wire
    * lines, the `FINAL` state (highest `_lsn` per id, deletes dropped) and
    * the number of input lines the source read. Returns (failed rows, errors).
    */
  private def checkCdc(r: IngestRun, fx: CdcFixture, tag: String): (Long, Seq[String]) = {
    val received = Posts.lines(r.posts)
    val (missing, dup, extra) = RowDiff(received, fx.expected)
    val latest = scala.collection.mutable.HashMap.empty[Long, (Long, Boolean, String)]
    received.foreach { l =>
      val n = mapper.readTree(l)
      val id = n.get("id").asLong
      val lsn = n.get("_lsn").asLong
      if (latest.get(id).forall(_._1 < lsn)) latest(id) = (lsn, n.get("is_deleted").asInt == 1, l)
    }
    val fin = latest.valuesIterator.collect { case (_, false, l) => l }.toSet
    val finalBad = (fin diff fx.expectedFinal).size + (fx.expectedFinal diff fin).size
    val errs = Seq(
      (missing + dup + extra > 0) -> s"$tag: $missing missing, $dup duplicated, $extra unexpected rows",
      (finalBad > 0) -> s"$tag: FINAL state differs from the model in $finalBad ids",
      (r.inputRows != fx.inputLines) -> s"$tag: source read ${r.inputRows} lines, fixture has ${fx.inputLines}") ++
      sinkChecks(r, tag).map(true -> _)
    (missing + dup + extra + finalBad, errs.collect { case (true, m) => m })
  }

  def cdc(spark: SparkSession, ctx: Ctx, tracer: Tracer): Outcome = {
    val stub = new StubClickHouse()
    try {
      val root = ctx.opt("cdc")
      val main = fixture(root, "main")
      def drain(s: SparkSession, fx: CdcFixture, probe: Option[Probe]) =
        ingest(s, ctx, stub, probe, "--mode", "cdc", "--brokers", s"file:${fx.dir}")
      // drains keep speeding up while the JIT compiles (over 14 drains in
      // one session, from 31k to 45-48k rows/s); four drains warm up
      val warmRuns = Seq.fill(4)(drain(spark, main, None))
      val setupS = (Clock.nowUs - ctx.sessionStartUs) / 1e6

      val probe = if (ctx.trace) Some(new Probe(spark)) else None
      val (plain, traced) = timedLoop(ctx, probe)(p => drain(spark, main, p))
      val single = if (!ctx.trace) None else {
        val pipe = pipelineCdc(spark, main.dir)
        // single-thread baseline: the same drain on a local[1] session
        spark.stop()
        Some((drain(Main.session(ctx.work, "local[1]"), main, None), pipe))
      }
      val checks = (warmRuns.zipWithIndex.map { case (r, i) => s"warm$i" -> r } ++ single.map("local1" -> _._1) ++
        (plain ++ traced).zipWithIndex.map { case (r, i) => s"drain$i" -> r })
        .map { case (tag, r) => checkCdc(r, main, tag) }
      // all of a drain's rows were due when the stream started; each
      // figure is the median over the drains of the window, so one drain
      // slowed by the host does not move it
      val perDrain = plain.map(r => freshness(r.posts.map(p => (p.receiptUs, Array.fill(p.lines.length)(r.startUs)))))
      val (f50, f99) = (Stats.median(perDrain.map(_._1)), Stats.median(perDrain.map(_._2)))
      val rowsPerS = Stats.median(plain.map(_.rowsPerS))
      val e2e = Map("setup_s" -> setupS, "latency_p50_ms" -> f50, "latency_tail_ms" -> f99,
        "throughput_per_s" -> rowsPerS)
      val (layers, layerErrors) = single.fold((Map.empty[String, Double], Seq.empty[String])) {
        case (one, pipe) =>
          val (ls, errs) = streamLayers(traced, plain, tracer, r => Array.fill(r.rows.toInt)(r.startUs))
          (ls ++ pipe ++ Map("baseline.local1_rows_per_s" -> one.rowsPerS), errs)
      }
      Outcome(
        attempted = checks.size * main.inputLines,
        failed = checks.map(_._1).sum + checks.map(_._2.size.toLong).sum + layerErrors.size,
        errors = checks.flatMap(_._2) ++ layerErrors, e2e = e2e, layers = layers,
        detail = Map("drains" -> plain.size, "traced_drains" -> traced.size,
          "rows_per_drain" -> main.expected.size, "input_lines_per_drain" -> main.inputLines,
          "ingest_rows_per_s" -> rowsPerS, "drain_rows_per_s" -> plain.map(_.rowsPerS),
          "freshness_p50_ms" -> f50, "freshness_p99_ms" -> f99))
    } finally stub.stop()
  }

  /** Runs `once` back to back, a fixed number of times so that every
    * commit does the same work: one drain per 3 s of --seconds, rounded
    * up, at least two. A traced run alternates plain and traced calls,
    * so the pairs give the tracing overhead.
    */
  private def timedLoop(ctx: Ctx, probe: Option[Probe])(once: Option[Probe] => IngestRun)
      : (Seq[IngestRun], Seq[IngestRun]) = {
    val plain, traced = ArrayBuffer.empty[IngestRun]
    val runs = math.max(2, (ctx.seconds + 2) / 3)
    var i = 0
    while (i < runs) {
      probe match {
        case Some(p) if i % 2 == 1 =>
          p.attach(); try traced += once(Some(p)) finally p.detach()
        case _ => plain += once(None)
      }
      i += 1
    }
    (plain.toSeq, traced.toSeq)
  }

  /** (p50, p99) of receipt minus due time over all rows, in ms. Each post
    * carries its receipt time and its rows' due times (epoch µs).
    */
  private def freshness(posts: Seq[(Long, Array[Long])]): (Double, Double) = {
    val ms = posts.flatMap { case (rcv, due) => due.map(d => (rcv - d) / 1000.0) }
    (Stats.quantile(ms, 0.5), Stats.quantile(ms, 0.99))
  }

  // ---------------------------------------------------------- synthetic

  private def formatTs(lsnUs: Long): String =
    tsFormat.format(Instant.ofEpochSecond(Math.floorDiv(lsnUs, 1000000L)))

  /** Due time (`_lsn`, epoch µs) of each row of each post, checking every
    * row on the way: unique user, id = pmod(xxhash64(name)), derived
    * email and `_ts`, insert op. Returns (due times, failed rows, errors).
    */
  private def checkSynthetic(r: IngestRun, rate: Long, tag: String)
      : (Seq[(Long, Array[Long])], Long, Seq[String]) = {
    val seen = new java.util.HashSet[String]()
    var bad, dups = 0L
    var firstBad = ""
    val due = r.posts.map { p =>
      p.receiptUs -> p.lines.map { l =>
        val n = mapper.readTree(l)
        val name = n.get("name").asText
        val lsn = n.get("_lsn").asLong
        val h = XxHash64Function.hash(UTF8String.fromString(name), StringType, 42L)
        val id = { val m = h % Long.MaxValue; if (m < 0) m + Long.MaxValue else m }
        if (!seen.add(name)) dups += 1
        val ok = n.get("id").asLong == id && n.get("email").asText == s"$name@example.com" &&
          n.get("is_deleted").asInt == 0 && n.get("_op").asInt == 1 &&
          n.get("_ts").asText == formatTs(lsn) && name.startsWith("user-") &&
          lsn >= r.startUs - 1000000L && lsn <= p.receiptUs
        if (!ok) { bad += 1; if (firstBad.isEmpty) firstBad = s" (first: $l)" }
        lsn
      }
    }
    val missing = math.max(0L, r.inputRows - r.rows)
    val errs = Seq(
      (bad > 0) -> s"$tag: $bad rows with wrong field values$firstBad",
      (dups > 0) -> s"$tag: $dups duplicated rows",
      (r.rows != r.inputRows) -> s"$tag: stub got ${r.rows} rows, source produced ${r.inputRows}",
      (r.inputRows % rate != 0) -> s"$tag: source rows ${r.inputRows} are not whole seconds at $rate/s") ++
      sinkChecks(r, tag).map(true -> _)
    (due, bad + dups + missing, errs.collect { case (true, m) => m })
  }

  def synthetic(spark: SparkSession, ctx: Ctx, tracer: Tracer): Outcome = {
    val stub = new StubClickHouse()
    try {
      val rate = ctx.opt("rate").toLong
      def stream(d: Int, probe: Option[Probe]) = ingest(spark, ctx, stub, probe,
        "--mode", "synthetic", "--rate", rate.toString, "--duration", d.toString)
      val warm = stream(2, None)
      val setupS = (Clock.nowUs - ctx.sessionStartUs) / 1e6
      // one open-loop run fills the window; a traced run splits it into a
      // plain half and a traced half
      val probe = if (ctx.trace) Some(new Probe(spark)) else None
      val half = math.max(2, ctx.seconds / 2)
      val plain = if (ctx.trace) stream(half, None) else stream(ctx.seconds, None)
      val traced = probe.map { p => p.attach(); try stream(half, Some(p)) finally p.detach() }
      val checked = (Seq("warm" -> warm, "run" -> plain) ++ traced.map("traced" -> _))
        .map { case (tag, r) => tag -> checkSynthetic(r, rate, tag) }.toMap
      val (f50, f99) = freshness(checked("run")._1)
      val e2e = Map("setup_s" -> setupS, "latency_p50_ms" -> f50, "latency_tail_ms" -> f99,
        "throughput_per_s" -> plain.rowsPerS)
      val (layers, layerErrors) = traced.map { t =>
        val dueOf = checked("traced")._1.flatMap(_._2).sorted.toArray
        val (ls, errs) = streamLayers(Seq(t), Seq(plain), tracer, _ => dueOf)
        (ls ++ pipelineSynthetic(spark) ++
          Map("trace.overhead_pct" -> (freshness(checked("traced")._1)._1 / f50 - 1.0) * 100.0), errs)
      }.getOrElse((Map.empty[String, Double], Seq.empty[String]))
      val all = Seq(warm, plain) ++ traced
      Outcome(
        attempted = all.map(_.inputRows).sum,
        failed = checked.values.map(c => c._2 + c._3.size).sum + layerErrors.size,
        errors = checked.values.flatMap(_._3).toSeq ++ layerErrors, e2e = e2e, layers = layers,
        detail = Map("rate" -> rate, "rows" -> plain.rows, "ingest_rows_per_s" -> plain.rowsPerS,
          "freshness_p50_ms" -> f50, "freshness_p99_ms" -> f99))
    } finally stub.stop()
  }

  // ------------------------------------------------------ layer metrics

  private val phases = Seq(
    "latestOffset" -> "stream.latest_offset_ms", "walCommit" -> "stream.wal_commit_ms",
    "getBatch" -> "stream.get_batch_ms", "queryPlanning" -> "stream.query_planning_ms",
    "addBatch" -> "stream.add_batch_ms", "commitOffsets" -> "stream.commit_offsets_ms")

  /** Per-micro-batch layer means over the traced runs, plus sink figures
    * and the largest backlog (rows due minus rows acknowledged, at each
    * POST receipt). `dueOf` gives a run's row due times (epoch µs). Also
    * returns one error per batch whose phases do not sum to its
    * `triggerExecution` within [[LayerSum]].
    */
  private def streamLayers(
      traced: Seq[IngestRun], plain: Seq[IngestRun], tracer: Tracer,
      dueOf: IngestRun => Array[Long]): (Map[String, Double], Seq[String]) = {
    val root = tracer.add(0, "run", traced.head.startUs, traced.last.endUs)
    val batches = traced.flatMap(_.seg.get.progress).filter(_.rows > 0)
    traced.foreach { r =>
      val run = tracer.add(root, "ingest.run", r.startUs, r.endUs)
      // phase spans are laid out in execution order from their durations;
      // a job is parented to the phase span it started in
      val phaseSpans = r.seg.get.progress.filter(_.rows > 0).flatMap { b =>
        val t0 = b.startMs * 1000
        val bs = tracer.add(run, "stream.batch", t0, t0 + b.durations.getOrElse("triggerExecution", 0L) * 1000)
        phases.scanLeft((t0, t0, bs)) { case ((_, at, _), (k, _)) =>
          val end = at + b.durations.getOrElse(k, 0L) * 1000
          (at, end, tracer.add(bs, s"stream.$k", at, end))
        }.tail
      }
      r.seg.get.jobs.foreach { j =>
        val parent = phaseSpans.find { case (s, e, _) => s <= j.startMs * 1000 && j.startMs * 1000 < e }
        tracer.add(parent.fold(run)(_._3), "exec.job", j.startMs * 1000, j.endMs * 1000)
      }
    }
    val nb = math.max(1, batches.size).toDouble
    val segs = traced.map(_.seg.get)
    val stages = segs.flatMap(_.stages)
    def triggerMs(b: Progress) = b.durations.getOrElse("triggerExecution", 0L).toDouble
    def residualMs(b: Progress) = triggerMs(b) - phases.map(p => b.durations.getOrElse(p._1, 0L)).sum
    val trigger = batches.map(triggerMs).sum
    val outside = batches.filterNot(b => LayerSum.within(residualMs(b), triggerMs(b))).map { b =>
      f"layer sum: batch ${b.batchId} trigger ${triggerMs(b)}%.0f ms, residual ${residualMs(b)}%.0f ms outside ${LayerSum.statement}"
    }
    val posts = traced.flatMap(_.posts)
    val rows = traced.map(_.rows).sum.toDouble
    val backlog = traced.map { r =>
      val due = dueOf(r).sorted
      var acked = 0L
      r.posts.map { p =>
        acked += p.lines.length
        val dueNow = upperBound(due, p.receiptUs)
        math.max(0L, dueNow - acked + p.lines.length)
      }.maxOption.getOrElse(0L)
    }
    val counters = traced.map(_.counters)
    val layers = phases.map { case (k, name) =>
      name -> batches.map(_.durations.getOrElse(k, 0L)).sum / nb
    } ++ Map(
      "tables.load_ms" -> segs.map(_.loadJobs.map(_.ms).sum).sum / nb,
      "tables.load_jobs" -> segs.map(_.loadJobs.size).sum / nb,
      "catalyst.analysis_ms" -> segs.map(_.catalystMs("analysis")).sum / nb,
      "catalyst.optimization_ms" -> segs.map(_.catalystMs("optimization")).sum / nb,
      "catalyst.planning_ms" -> segs.map(_.catalystMs("planning")).sum / nb,
      "exec.ms" -> segs.map(_.execMs).sum / nb,
      "exec.jobs" -> segs.map(_.otherJobs.size).sum / nb,
      "exec.stages" -> stages.size / nb,
      "exec.tasks" -> stages.map(_.tasks).sum / nb,
      "exec.task_run_ms" -> stages.map(_.runMs).sum / nb,
      "exec.driver_gap_ms" -> math.max(0.0, trigger - segs.map(_.taskUnionMs).sum) / nb,
      "exec.shuffle_bytes" -> stages.map(_.shuffleBytes).sum / nb,
      "exec.spill_bytes" -> stages.map(_.spillBytes).sum / nb,
      "stream.batches" -> batches.size.toDouble / traced.size,
      "stream.rows_per_batch" -> batches.map(_.rows).sum / nb,
      "stream.backlog_rows_max" -> backlog.max.toDouble,
      "sink.posts" -> posts.size.toDouble / traced.size,
      "sink.rows_per_post" -> rows / math.max(1, posts.size),
      "sink.bytes_per_row" -> posts.map(_.body.length.toLong).sum / math.max(1.0, rows),
      "sink.post_ms" -> counters.map(_.latencyNanos).sum / 1e6 / math.max(1L, counters.map(_.posts).sum),
      "sink.post_errors" -> counters.map(_.errors).sum.toDouble,
      "trace.overhead_pct" -> (Stats.median(plain.map(_.rowsPerS)) / Stats.median(traced.map(_.rowsPerS)) - 1.0) * 100.0,
      "trace.layer_residual_pct" -> (if (trigger > 0) 100.0 * batches.map(residualMs).sum / trigger else 0.0))
    (layers.toMap, outside)
  }

  /** Number of entries of sorted `xs` that are <= x. */
  private def upperBound(xs: Array[Long], x: Long): Long = {
    var lo = 0
    var hi = xs.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (xs(mid) <= x) lo = mid + 1 else hi = mid }
    lo.toLong
  }

  private def noopMs(df: DataFrame): Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  })

  /** `from_json` nodes in an optimized plan, whether kept as
    * JsonToStructs or rewritten to an invoke of its evaluator.
    */
  private def parseExprs(df: DataFrame): Int = df.queryExecution.optimizedPlan
    .collectWithSubqueries { case p => p.expressions.map(countJson).sum }.sum
  private def countJson(e: Expression): Int = e.collect {
    case x if x.getClass.getSimpleName == "JsonToStructs" ||
      x.toString.startsWith("invoke(JsonToStructsEvaluator") => 1
  }.size

  /** Batch replay of the CDC fixture through the translate and the sink
    * serialization, each over cached input, per row in µs.
    */
  private def pipelineCdc(spark: SparkSession, dir: String): Map[String, Double] = {
    val rec = from_json(col("value"), "key STRING, value STRING", Map.empty[String, String])
    val raw = spark.read.text(dir)
      .select(rec.getField("key").as("key"), coalesce(rec.getField("value"), col("value")).as("value"))
      .cache()
    val nIn = raw.count()
    val translated = Debezium.translateRows(raw, col("value"), col("key"))
    val translateMs = noopMs(translated)
    val parse = parseExprs(translated)
    val rows = translated.cache()
    val nOut = rows.count()
    val serializeMs = noopMs(Debezium.toJsonEachRow(rows))
    rows.unpersist(); raw.unpersist()
    Map("pipeline.translate_us_per_row" -> translateMs * 1000 / nIn,
      "pipeline.parse_exprs" -> parse.toDouble,
      "pipeline.serialize_us_per_row" -> serializeMs * 1000 / nOut)
  }

  /** Sink serialization of synthetic-shaped rows (no translate step). */
  private def pipelineSynthetic(spark: SparkSession): Map[String, Double] = {
    val n = 200000L
    val rows = spark.range(n)
      .select(timestamp_micros(lit(Clock.nowUs) + col("id") * 50).as("_ts"),
        concat(lit("user-"), expr("uuid()")).as("name"))
      .select(col("_ts"), pmod(xxhash64(col("name")), lit(Long.MaxValue)).as("id"),
        unix_micros(col("_ts")).as("_lsn"), col("name"),
        concat(col("name"), lit("@example.com")).as("email"),
        lit(0).as("is_deleted"), lit(1).as("_op"))
      .cache()
    rows.count()
    val ser = Debezium.toJsonEachRow(rows)
    val ms = noopMs(ser)
    val parse = parseExprs(ser)
    rows.unpersist()
    Map("pipeline.serialize_us_per_row" -> ms * 1000 / n, "pipeline.parse_exprs" -> parse.toDouble)
  }
}
