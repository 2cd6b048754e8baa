package graft.streaming

import java.net.InetSocketAddress
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** ST9: the reference's `/metrics` scrape surface
  * (internal/metrics/metrics.go:40-57 — one HTTP server goroutine
  * serving every collector in Prometheus text format). JDK-builtin
  * HttpServer serving [[MetricsServer.render]]; its dispatcher thread
  * is not a daemon, so the JVM exits only after [[stop]].
  */
final class MetricsServer(metrics: IngestionMetrics, port: Int) {

  private val server: HttpServer = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/metrics", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val body = MetricsServer.render(metrics).getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "text/plain; version=0.0.4")
      ex.sendResponseHeaders(200, body.length.toLong)
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
    }
  })
  server.setExecutor(null) // serve on the dispatcher thread, like promhttp's default

  /** Bound port (useful when constructed with port 0 in tests). */
  def boundPort: Int = server.getAddress.getPort

  def start(): MetricsServer = { server.start(); this }
  def stop(): Unit = server.stop(0)
}

object MetricsServer {

  /** Every series the ingest service exports: the listener's and the
    * ClickHouse sink's. `/metrics` serves it; the CLI prints it at exit.
    */
  def render(metrics: IngestionMetrics): String =
    metrics.render() + "\n" + ClickHouseHttp.render()
}
