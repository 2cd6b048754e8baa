package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

/** One POST as the stub saw it: receipt time (epoch µs, after the whole
  * body was read), request query string and raw body.
  */
final case class Post(receiptUs: Long, query: String, body: Array[Byte]) {
  def lines: Array[String] = new String(body, "UTF-8").split('\n')
}

/** Stand-in for ClickHouse's HTTP interface: accepts every
  * `INSERT ... FORMAT JSONEachRow` POST with 200 and keeps only the raw
  * body and its receipt time, so the timed window pays no parsing.
  * Checks run on the stored posts after the window.
  */
final class StubClickHouse(threads: Int = 4) {
  private val posts = new ConcurrentLinkedQueue[Post]()
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.createContext("/", (ex: HttpExchange) => {
    try {
      val body = ex.getRequestBody.readAllBytes()
      posts.add(Post(Clock.nowUs, ex.getRequestURI.getRawQuery, body))
      ex.sendResponseHeaders(200, -1)
    } finally ex.close()
  })
  server.setExecutor(pool)
  server.start()

  def port: Int = server.getAddress.getPort

  /** Removes and returns everything received so far, in receipt order. */
  def take(): Seq[Post] = {
    val out = Iterator.continually(posts.poll()).takeWhile(_ != null).toVector
    out.sortBy(_.receiptUs)
  }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

object StubClickHouse {
  /** Query string the program must send: the reference's insert form. */
  def insertQueryOk(rawQuery: String): Boolean = {
    val q = java.net.URLDecoder.decode(Option(rawQuery).getOrElse(""), "UTF-8")
    q.contains("INSERT INTO ") && q.contains(" FORMAT JSONEachRow")
  }
  def receivedRows(posts: Seq[Post]): Long = posts.map(_.lines.length.toLong).sum
}

/** Deltas of the program's own sink counters over one run, to be
  * cross-checked against what the stub received.
  */
final case class SinkCounters(rows: Long, posts: Long, errors: Long, latencyNanos: Long) {
  def minus(o: SinkCounters): SinkCounters =
    SinkCounters(rows - o.rows, posts - o.posts, errors - o.errors, latencyNanos - o.latencyNanos)
}

object SinkCounters {
  import graft.streaming.ClickHouseHttp
  def read(): SinkCounters = SinkCounters(ClickHouseHttp.rowsInserted.get,
    ClickHouseHttp.postsTotal.get, ClickHouseHttp.insertErrors.get,
    ClickHouseHttp.latencySumNanos.get)
}

/** A received-vs-expected row comparison as multisets of wire lines. */
object RowDiff {
  /** (missing, duplicated, unexpected) row counts. */
  def apply(received: Iterable[String], expected: Iterable[String]): (Long, Long, Long) = {
    val want = scala.collection.mutable.HashMap.empty[String, Long]
    expected.foreach(l => want(l) = want.getOrElse(l, 0L) + 1)
    val got = scala.collection.mutable.HashMap.empty[String, Long]
    received.foreach(l => got(l) = got.getOrElse(l, 0L) + 1)
    var missing, dup, extra = 0L
    want.foreach { case (l, n) =>
      val g = got.getOrElse(l, 0L)
      if (g < n) missing += n - g else if (g > n) dup += g - n
    }
    got.foreach { case (l, g) => if (!want.contains(l)) extra += g }
    (missing, dup, extra)
  }
}

object Posts {
  def lines(ps: Seq[Post]): Seq[String] = ps.flatMap(_.lines)
}
