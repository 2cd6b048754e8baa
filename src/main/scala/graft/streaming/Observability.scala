package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** ST9: ingestion observability — the reference's four Prometheus
  * quantities (/root/reference/internal/metrics/metrics.go:11-38):
  *   events_generated_total, clickhouse_insert_errors_total,
  *   clickhouse_insert_latency_seconds (histogram), rows_inserted.
  * mapped onto Structured Streaming's progress events (SURVEY.md §3.3):
  *   rows ingested   ← progress.numInputRows (cumulative counter)
  *   insert latency  ← batch durationMs (histogram buckets below)
  *   errors          ← onQueryTerminated with exception
  *   rate            ← processedRowsPerSecond (gauge)
  * Attach with `spark.streams.addListener(new IngestionMetrics)`. The
  * scrape surface is [[MetricsServer]]'s `/metrics`, which serves these
  * series next to the [[ClickHouseHttp]] sink's.
  *
  * Traces (reference: internal/tracing/tracing.go:19-51 — an OTel
  * span per insert): every micro-batch emits ONE span. Two sinks:
  * `spanSink` gets a structured JSON log line (query id = trace id
  * analogue, batchId = span id analogue, rows, duration; default
  * stderr like the reference's `log.Printf`), and `spanExporter`
  * optionally receives the typed [[IngestSpan]] — pass an
  * [[OtlpSpanExporter]] for real OTLP/HTTP export to a collector.
  */
class IngestionMetrics(
    spanSink: String => Unit = line => System.err.println(line),
    spanExporter: Option[IngestSpan => Unit] = None)
    extends StreamingQueryListener {

  val rowsTotal = new AtomicLong(0L)
  val batchesTotal = new AtomicLong(0L)
  val errorsTotal = new AtomicLong(0L)
  val lastRowsPerSecond = new AtomicReference[Double](0.0)

  /** Micro-batch `triggerExecution` time in ms, on the reference's
    * insert-latency buckets (internal/metrics/metrics.go:18-24).
    */
  val latency = new PromHistogram("ingest_batch_ms", PromHistogram.defBuckets(1000L))

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    rowsTotal.addAndGet(p.numInputRows)
    batchesTotal.incrementAndGet()
    lastRowsPerSecond.set(p.processedRowsPerSecond)
    val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    latency.observe(ms)
    val span = IngestSpan(
      p.id.toString, p.runId.toString, p.batchId, p.numInputRows, ms, p.timestamp)
    spanSink(
      s"""{"span":"ingest_batch","query_id":"${span.queryId}","run_id":"${span.runId}",""" +
        s""""batch_id":${span.batchId},"rows":${span.rows},"duration_ms":${span.durationMs},""" +
        s""""timestamp":"${span.timestamp}"}""")
    spanExporter.foreach(_(span))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    if (e.exception.isDefined) errorsTotal.incrementAndGet()
    terminated += e.id
    notifyAll()
  }

  // ids whose termination this listener has seen: one listener serves
  // one CLI run, so the set stays as small as the session's query count
  private val terminated = scala.collection.mutable.Set.empty[java.util.UUID]

  /** Block until `queryId`'s termination event has been DELIVERED to
    * this listener (not merely posted). The listener bus is FIFO per
    * listener, so once it has arrived every progress event of that
    * query has too. Id-addressed because on a shared session an
    * unrelated query's termination may still be queued on the bus.
    */
  def awaitTerminated(queryId: java.util.UUID, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis + timeoutMs
    while (!terminated(queryId) && System.currentTimeMillis < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis))
    terminated(queryId)
  }

  /** Prometheus text-format 0.0.4 dump of the listener's series;
    * [[MetricsServer.render]] adds the sink's.
    */
  def render(): String =
    s"""ingest_rows_total ${rowsTotal.get}
       |ingest_batches_total ${batchesTotal.get}
       |ingest_errors_total ${errorsTotal.get}
       |ingest_rows_per_second ${lastRowsPerSecond.get}
       |${latency.render()}""".stripMargin
}
