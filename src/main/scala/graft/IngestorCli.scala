package graft

import graft.pipeline.IngestConfig
import graft.streaming._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference's CLI surface, re-expressed (dual-mode ingestor —
  * /root/reference/cmd/root.go:39-60): `--mode synthetic` generates
  * rate-limited mock events for `--duration` seconds; `--mode cdc`
  * consumes Debezium envelopes from Kafka; `--mode curate` (engine
  * extension, no reference counterpart) runs the batch 4-stage
  * curation pipeline over a documents directory. Flags fall back to the
  * same environment variables the reference reads (EVENT_RATE,
  * INGESTION_DURATION, KAFKA_BROKERS, KAFKA_TOPIC, KAFKA_GROUP,
  * CLICKHOUSE_HOST/DATABASE/TABLE — cmd/root.go:62-97).
  *
  * Sinks: `--sink clickhouse[:<host[:port]>]` speaks the reference's
  * native transport — ClickHouse HTTP JSONEachRow inserts, one POST
  * per partition per micro-batch (clickhouse.go:26-70 semantics via
  * [[ClickHouseHttp]]); `--sink jdbc` is ClickHouse-over-JDBC batched
  * per micro-batch; `--sink parquet:<dir>` is a database-free run; any
  * other value is rejected by [[parse]]. `/metrics` on `--metrics-port`
  * serves the reference's Prometheus quantities (listener + sink,
  * [[MetricsServer.render]]), and the same text is printed at
  * shutdown (ST9). `--otlp [endpoint]`
  * turns on real OTLP/HTTP span export per micro-batch, defaulting
  * the endpoint from OTEL_EXPORTER_OTLP_ENDPOINT else localhost:4318
  * — the reference runs both by default (cmd/root.go:99-148,
  * internal/tracing/tracing.go:19-51).
  *
  * Usage:
  *   runMain graft.IngestorCli --mode synthetic --rate 1000 \
  *     --duration 30 --sink clickhouse:ch.example.com --otlp \
  *     --checkpoint /tmp/ckpt
  */
object IngestorCli {

  case class Args(
      mode: String = "synthetic",
      rate: Long = 5L,              // cmd/root.go:65 default
      durationS: Long = 60L,        // cmd/root.go:66 default
      cfg: IngestConfig = IngestConfig(),
      sink: String = "parquet:/tmp/graft-ingest",
      checkpoint: String = "/tmp/graft-ingest-ckpt",
      master: String = "local[*]",
      // batch curate mode: documents parquet directory to read
      input: String = "/root/testdata/sf0.001",
      // None = tracing off; Some("") = on with the exporter's env/
      // localhost default; Some(ep) = on against ep
      otlp: Option[String] = None)

  def parse(argv: Array[String]): Args = {
    // exact env-var names and defaults of the reference
    // (cmd/root.go:62-78): MODE, EVENT_RATE, INGESTION_DURATION,
    // REDPANDA_BROKERS, TOPIC, GROUP_ID, CLICKHOUSE_HOST/DB/TABLE
    def envOr(k: String, d: String) = sys.env.getOrElse(k, d)
    var a = Args(
      mode = envOr("MODE", "synthetic"),
      rate = positive("--rate", "EVENT_RATE", envOr("EVENT_RATE", "5")),
      durationS = positive("--duration", "INGESTION_DURATION", envOr("INGESTION_DURATION", "60")),
      cfg = IngestConfig(
        host = envOr("CLICKHOUSE_HOST", "localhost"),
        database = envOr("CLICKHOUSE_DB", "appdb"),
        table = envOr("CLICKHOUSE_TABLE", "app.users_cur"),
        brokers = IngestConfig.splitCsv(
          envOr("REDPANDA_BROKERS", "redpanda.redpanda.svc.cluster.local:9093")),
        topic = envOr("TOPIC", "dbserver1.app.users"),
        groupId = envOr("GROUP_ID", "wal-cdc-ingestor"),
        user = envOr("CLICKHOUSE_USER", ""),
        password = envOr("CLICKHOUSE_PASSWORD", ""),
        metricsPort = envOr("METRICS_PORT", "8080").toInt))
    var i = 0
    while (i < argv.length - 1) {
      val (k, v) = (argv(i), argv(i + 1))
      k match {
        case "--mode" => a = a.copy(mode = v.toLowerCase)
        case "--rate" => a = a.copy(rate = positive(k, "EVENT_RATE", v))
        case "--duration" => a = a.copy(durationS = positive(k, "INGESTION_DURATION", v))
        case "--brokers" => a = a.copy(cfg = a.cfg.copy(brokers = IngestConfig.splitCsv(v)))
        case "--topic" => a = a.copy(cfg = a.cfg.copy(topic = v))
        case "--group" => a = a.copy(cfg = a.cfg.copy(groupId = v))
        case "--clickhouse-host" | "--ch-host" => a = a.copy(cfg = a.cfg.copy(host = v))
        case "--clickhouse-db" | "--database" => a = a.copy(cfg = a.cfg.copy(database = v))
        case "--clickhouse-table" | "--table" => a = a.copy(cfg = a.cfg.copy(table = v))
        case "--clickhouse-user" => a = a.copy(cfg = a.cfg.copy(user = v))
        case "--clickhouse-password" => a = a.copy(cfg = a.cfg.copy(password = v))
        case "--metrics-port" => a = a.copy(cfg = a.cfg.copy(metricsPort = v.toInt))
        case "--sink" => a = a.copy(sink = v)
        case "--checkpoint" => a = a.copy(checkpoint = v)
        case "--master" => a = a.copy(master = v)
        case "--input" => a = a.copy(input = v)
        case "--otlp" => // optional value: next token may be another flag
          if (v.startsWith("--")) { a = a.copy(otlp = Some("")); i -= 1 }
          else a = a.copy(otlp = Some(v))
        case _ => i -= 1 // unknown token: advance by one only
      }
      i += 2
    }
    if (argv.lastOption.contains("--otlp")) a = a.copy(otlp = Some(""))
    Sinks.parse(a.sink, a.cfg) // an unknown --sink fails here, not at the first batch
    a
  }

  /** `v` as a count > 0, else an error naming the flag and its env var:
    * the rate source and `awaitTermination` would reject it only after
    * the listener and `/metrics` are up.
    */
  private def positive(flag: String, env: String, v: String): Long =
    v.toLongOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$flag ($env) must be a whole number > 0, got: $v"))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(a.master)
      .appName(s"graft-ingestor-${a.mode}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, a) finally spark.stop()
  }

  /** Batch curation arm: `--mode curate --input <docsDir> --sink
    * parquet:<out>` runs the registered 4-stage pipeline (PII scrub →
    * repetition filter → deterministic split → sequence packing, one
    * Catalyst plan) over a documents directory and writes the packed
    * corpus — the north-star layer exposed through the same CLI as
    * the reference's ingest modes. Returns (docs in, docs out).
    */
  def curate(spark: SparkSession, inputDir: String, outDir: String): (Long, Long) = {
    val in = Tables.table(spark, inputDir, "documents").count()
    val packed = graft.queries.CurationQueries.defs("q_curation_pipeline")(spark, inputDir)
    packed.write.mode("overwrite").parquet(outDir)
    val out = spark.read.parquet(outDir).count()
    // the summary line is machine-readable: paths must be JSON-escaped
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    println(s"""{"mode":"curate","input":"${esc(inputDir)}","output":"${esc(outDir)}","docs_in":$in,"docs_out":$out}""")
    (in, out)
  }

  /** The file transport is a single-broker configuration by
    * definition: one decision shared by source selection AND the
    * trigger, so a `file:` entry mixed into a multi-broker list fails
    * loudly instead of half-taking each path.
    */
  private def fileBroker(a: Args): Option[String] = a.cfg.brokers match {
    case Seq(f) if f.startsWith("file:") => Some(f)
    case bs if bs.exists(_.startsWith("file:")) =>
      sys.error(s"file: transport takes exactly one broker entry, got: ${bs.mkString(",")}")
    case _ => None
  }

  /** The whole ingest flow minus session lifecycle — the testable
    * seam (specs drive it against stub HTTP servers on a shared
    * session that must survive the run). Returns the run's metrics so
    * callers/specs can assert the four reference quantities (ST9).
    *
    * Every stream mode ends in `awaitTermination`, which rethrows a
    * failed stream's `StreamingQueryException`: a synthetic run is
    * stopped by [[SyntheticSource.runBounded]] after `--duration`, a
    * `file:` drain stops itself once the files present at its start are
    * sunk (`Trigger.AvailableNow`), and a Kafka stream runs until it is
    * stopped or fails. Whatever the outcome, the listener is removed
    * and `/metrics` is closed before `run` returns or throws.
    */
  def run(spark: SparkSession, a: Args): IngestionMetrics = {
    val sink = Sinks.parse(a.sink, a.cfg)
    if (a.mode == "curate") {
      // batch job — no stream, no listener; the summary line is the
      // observability surface. --otlp has no effect here (span export
      // is wired to the streaming listener) — say so rather than
      // silently ignoring the flag
      if (a.otlp.isDefined) System.err.println(
        "[ingestor] --otlp is ignored in curate mode (no streaming spans)")
      val outDir = sink match {
        case Sinks.Parquet(dir) => dir
        case _ => sys.error(s"curate mode writes parquet only, got: ${a.sink}")
      }
      curate(spark, a.input, outDir)
      // placeholder for the batch arm: never registered as a listener,
      // all counters zero — NOT a measured-empty streaming run
      return new IngestionMetrics()
    }
    val rows = a.mode match {
      case "synthetic" =>
        // reference event shape {ts, user_id, action, payload}
        // (internal/generator/generator.go:10-23); sink-compatible
        // versioned columns stamped for the idempotent upsert contract
        SyntheticSource.events(spark, a.rate)
          .select(col("ts").as("_ts"),
            // pmod, not abs: abs(hash) overflows on Int.MinValue and
            // ANSI mode would kill the stream on that 2^-32 event
            pmod(xxhash64(col("user_id")), lit(Long.MaxValue)).as("id"),
            unix_micros(col("ts")).as("_lsn"),
            col("user_id").as("name"),
            concat(col("user_id"), lit("@example.com")).as("email"),
            lit(0).as("is_deleted"), lit(1).as("_op"))
      case "cdc" =>
        val src = fileBroker(a) match {
          // broker-free transport: a Debezium-envelope JSON directory
          // stands in for the topic (raw list, before the force-local
          // shim — `file:` is not a host to rewrite)
          case Some(f) =>
            CdcStreaming.fileSource(spark, f.stripPrefix("file:"))
          case None =>
            // effectiveBrokers, not the raw list: honours the
            // reference's KAFKA_FORCE_LOCAL=1 local-dev shim (cdc.go:19-34)
            CdcStreaming.kafkaSource(spark, a.cfg.effectiveBrokers().mkString(","),
              a.cfg.topic, groupId = Some(a.cfg.groupId))
        }
        CdcStreaming.translate(src)
      case other => sys.error(s"unknown mode: $other (synthetic|cdc|curate)")
    }
    // a `file:` topic is a finite fixture, not an endless one: drain
    // the files present at start, then stop; files added meanwhile
    // wait for the next run. ProcessingTime(0) is Spark's default
    val trigger =
      if (a.mode == "cdc" && fileBroker(a).isDefined) Trigger.AvailableNow()
      else Trigger.ProcessingTime(0L)
    // real OTLP/HTTP span export when --otlp is given (reference runs
    // its otlptracehttp exporter unconditionally, tracing.go:19-51;
    // here it is opt-in so a database-free local run needs no collector)
    val otlpExporter = a.otlp.map {
      case "" => new OtlpSpanExporter()
      case ep => new OtlpSpanExporter(endpoint = ep)
    }
    val metrics = new IngestionMetrics(spanExporter = otlpExporter)
    spark.streams.addListener(metrics)
    // /metrics scrape surface (reference: metrics.go:40-57)
    val metricsServer =
      try Some(new MetricsServer(metrics, a.cfg.metricsPort).start())
      catch { case e: Exception =>
        System.err.println(s"[ingestor] metrics server failed to bind: ${e.getMessage}")
        None
      }
    try {
      // fork-free checkpoint log writes on `file:` checkpoints for the
      // query's whole life, unless the session already names its own
      // checkpoint file manager
      val query = LocalCheckpointFileManager.registeredFor(spark) {
        val q = Sinks.append(rows, a.checkpoint, sink).trigger(trigger).start()
        // bounded run then park (reference semantics, cmd/root.go:143-146):
        // here "park" = clean stop after the duration
        if (a.mode == "synthetic") SyntheticSource.runBounded(q, a.durationS * 1000L)
        q.awaitTermination()
        q
      }
      // the listener bus delivers asynchronously: without this barrier
      // the final micro-batches may be missing from the rendered counts
      // (and gone for good — the listener is removed below). A false
      // return (bus delayed past the timeout) is surfaced, not swallowed
      if (!metrics.awaitTerminated(query.id, 10000L))
        System.err.println(
          s"[ingestor] WARN: listener bus did not deliver query ${query.id} " +
            "termination within 10s — rendered counts may be incomplete")
      println(MetricsServer.render(metrics))
      metrics
    } finally {
      otlpExporter.foreach(_.flush(5000)) // drain the async span queue
      metricsServer.foreach(_.stop())
      spark.streams.removeListener(metrics)
    }
  }
}
