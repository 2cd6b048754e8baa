package graft.streaming

import graft.pipeline.IngestConfig
import java.io.IOException
import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.Base64
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame

/** S5 concrete transport: the reference's ClickHouse HTTP JSONEachRow
  * insert (/root/reference/internal/ingestion/clickhouse.go:26-70 —
  * build endpoint, optional basic auth, POST, non-200 → error, latency
  * + error metrics), restructured for Spark's execution model:
  *
  *  - ONE pooled `java.net.http.HttpClient` per executor JVM
  *    ([[ClickHouseHttp.client]]) instead of the reference's
  *    `&http.Client{}` per request (clickhouse.go:52) — connection
  *    reuse is the first thing a 1000-executor fan-in needs, or the
  *    ClickHouse front-end drowns in TCP handshakes.
  *  - one POST per PARTITION of a micro-batch (via
  *    [[Sinks.jsonEachRowPost]]), not per row — the reference's
  *    one-row-per-POST loop is its throughput ceiling (SURVEY.md §6).
  *  - failure → exception, which fails the task. Under the CLI default
  *    `local[*]` a task is never retried (`spark.task.maxFailures` is 1
  *    in local mode), so one failed POST ends the stream. The batch is
  *    replayed only when the query restarts from its checkpoint, and
  *    the replay re-POSTs partitions that had already landed. `_lsn`
  *    versioning (ST3) makes that harmless for `app.users_cur`; the
  *    append-only `events_db.events` counts them twice. Same contract
  *    as the JDBC path.
  *
  * The case class is a plain serializable `String => Unit`, so it
  * ships to executors as a closure; the client and metrics live in the
  * companion (per-JVM statics, never serialized). As a [[Sinks.Target]]
  * it is the `--sink clickhouse[:<host[:port]>]` writer.
  *
  * Endpoint shape matches clickhouse.go:109-110 exactly:
  * `http://host:port/?database=<db>&query=INSERT%20INTO%20<table>%20FORMAT%20JSONEachRow`.
  */
final case class ClickHouseHttp(
    host: String,
    database: String = "",
    table: String = "",
    user: String = "",
    password: String = "",
    requestTimeoutMs: Long = 30000) extends (String => Unit) with Sinks.Target {

  private def cfg = IngestConfig(host = host, database = database, table = table)

  /** clickhouse.go:109-110: db defaulting appdb, table app.users_cur,
    * query URL-encoded (Go's url.QueryEscape encodes space as '+';
    * URLEncoder matches).
    */
  def endpoint: String = {
    val q = URLEncoder.encode(s"INSERT INTO ${cfg.tableOrDefault} FORMAT JSONEachRow", "UTF-8")
    val db = URLEncoder.encode(cfg.databaseOrDefault, "UTF-8")
    s"http://${cfg.hostPort}/?database=$db&query=$q"
  }

  /** POST one JSONEachRow body (newline-joined objects). Mirrors
    * doJSONEachRowPOST: Content-Type header, basic auth only when BOTH
    * user and password are set (clickhouse.go:48-50), latency observed
    * on every attempt, errors counted then rethrown, non-200 → error.
    */
  override def apply(body: String): Unit = {
    // [[Sinks.jsonEachRowPost]] never posts empty partitions, but a
    // direct caller might: an empty body is zero rows, not one — skip
    // the round-trip entirely rather than miscounting newline+1
    if (body.isEmpty) return
    val b = HttpRequest.newBuilder(URI.create(endpoint))
      .timeout(Duration.ofMillis(requestTimeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
    if (user.nonEmpty && password.nonEmpty)
      b.header("Authorization", "Basic " + Base64.getEncoder.encodeToString(
        s"$user:$password".getBytes(StandardCharsets.UTF_8)))
    val t0 = System.nanoTime()
    val resp =
      try ClickHouseHttp.client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      catch { case e: Exception =>
        ClickHouseHttp.latency.observe(System.nanoTime() - t0)
        ClickHouseHttp.insertErrors.incrementAndGet()
        throw new IOException(s"http post error: ${e.getMessage}", e)
      }
    ClickHouseHttp.latency.observe(System.nanoTime() - t0)
    if (resp.statusCode() != 200) {
      ClickHouseHttp.insertErrors.incrementAndGet()
      throw new IOException(
        s"clickhouse returned status: ${resp.statusCode()} ${resp.body().take(200)}")
    }
    ClickHouseHttp.postsTotal.incrementAndGet()
    // reference RowsInserted.Inc() is per-POST == per-row there; here a
    // POST carries a whole partition, so count actual JSON lines
    val rows = body.count(_ == '\n') + 1L
    ClickHouseHttp.rowsInserted.addAndGet(rows)
  }

  /** The full S5 streaming path over this transport: JSONEachRow wire
    * bytes → one POST per non-empty partition per micro-batch. A failed
    * POST fails the batch, and under `local[*]` the query with it (no
    * task retries). Restarting from the checkpoint replays the whole
    * batch, re-POSTing partitions that had already landed. The
    * versioned engine (`_lsn`) absorbs the replay for `app.users_cur`,
    * the reference's contract; an append-only table counts it twice.
    */
  override def write(valid: DataFrame): Unit = Sinks.jsonEachRowPost(valid, this)
}

object ClickHouseHttp {

  /** Per-JVM pooled client: HTTP/1.1 keep-alive connections are reused
    * across requests and partitions. Executors each build exactly one.
    */
  lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .version(HttpClient.Version.HTTP_1_1)
    .build()

  // the reference's three sink metrics (internal/metrics/metrics.go:11-38):
  // clickhouse_insert_errors_total, rows_inserted, insert latency histogram.
  // SCOPE: per-JVM statics incremented where the POST runs (executors).
  // In local mode driver == executor, so the driver's /metrics sees
  // them; in a multi-executor deployment the driver's copies stay zero
  // and each executor's statics are per-executor detail.
  val insertErrors = new AtomicLong(0L)
  val rowsInserted = new AtomicLong(0L)
  val postsTotal = new AtomicLong(0L)

  /** POST latency (every attempt) in ns, rendered in seconds on
    * Prometheus DefBuckets (metrics.go uses the default buckets).
    */
  val latency = new PromHistogram(
    "clickhouse_insert_latency_seconds", PromHistogram.defBuckets(1000000000L), 1e9)
  val latencySumNanos: AtomicLong = latency.sum

  private[graft] def resetMetrics(): Unit = { // test isolation
    insertErrors.set(0); rowsInserted.set(0); postsTotal.set(0); latency.reset()
  }

  /** Prometheus text form of the sink counters, same 0.0.4 shape as
    * [[IngestionMetrics.render]]; [[MetricsServer]] serves both.
    */
  def render(): String =
    s"""clickhouse_insert_errors_total ${insertErrors.get}
       |rows_inserted ${rowsInserted.get}
       |clickhouse_posts_total ${postsTotal.get}
       |${latency.render()}""".stripMargin
}
