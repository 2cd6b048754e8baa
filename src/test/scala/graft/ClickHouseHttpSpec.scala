package graft

import java.io.IOException
import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.streaming.{ClickHouseHttp, Sinks}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** S5 transport against a local HTTP stub: asserts the exact wire
  * behavior of /root/reference/internal/ingestion/clickhouse.go:26-70
  * — endpoint shape, body bytes, basic-auth header, Content-Type,
  * non-200 → error + counter.
  */
class ClickHouseHttpSpec extends SparkSpec {
  import spark.implicits._

  private final case class Captured(path: String, query: String, body: String,
      auth: Option[String], contentType: Option[String])

  /** Start a stub that records every request and answers `status`. */
  private def withStub(status: Int)(f: (Int, ConcurrentLinkedQueue[Captured]) => Unit): Unit = {
    val reqs = new ConcurrentLinkedQueue[Captured]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        reqs.add(Captured(
          ex.getRequestURI.getPath, ex.getRequestURI.getRawQuery, body,
          Option(ex.getRequestHeaders.getFirst("Authorization")),
          Option(ex.getRequestHeaders.getFirst("Content-Type"))))
        val resp = "ok".getBytes("UTF-8")
        ex.sendResponseHeaders(status, resp.length.toLong)
        val os = ex.getResponseBody
        try os.write(resp) finally os.close()
      }
    })
    server.start()
    try f(server.getAddress.getPort, reqs) finally server.stop(0)
  }

  test("endpoint applies host:8123, db/table defaulting and query escaping (clickhouse.go:98-110)") {
    val s = ClickHouseHttp(host = "ch.internal")
    assert(s.endpoint ===
      "http://ch.internal:8123/?database=appdb&query=INSERT+INTO+app.users_cur+FORMAT+JSONEachRow")
    val t = ClickHouseHttp(host = "ch:9000", database = "mydb", table = "my.tbl")
    assert(t.endpoint ===
      "http://ch:9000/?database=mydb&query=INSERT+INTO+my.tbl+FORMAT+JSONEachRow")
  }

  test("POST carries exact body bytes, Content-Type, and basic auth only when user+pass set") {
    ClickHouseHttp.resetMetrics()
    withStub(200) { (port, reqs) =>
      val body = """{"id":1,"name":"a"}""" + "\n" + """{"id":2,"name":"b"}"""
      ClickHouseHttp(host = s"127.0.0.1:$port", user = "svc", password = "sekrit")(body)
      val r = reqs.asScala.head
      assert(r.body === body)
      assert(r.contentType === Some("application/json"))
      // RFC 7617 for svc:sekrit — the exact header Go's SetBasicAuth sends
      assert(r.auth === Some("Basic c3ZjOnNla3JpdA=="))
      assert(r.query === "database=appdb&query=INSERT+INTO+app.users_cur+FORMAT+JSONEachRow")

      // no-auth variant: header absent (clickhouse.go:48-50 guards on both)
      ClickHouseHttp(host = s"127.0.0.1:$port", user = "svc")(body)
      assert(reqs.asScala.last.auth === None)
      assert(ClickHouseHttp.rowsInserted.get === 4L)
      assert(ClickHouseHttp.postsTotal.get === 2L)
      assert(ClickHouseHttp.insertErrors.get === 0L)
      // every attempt lands one latency observation
      assert(ClickHouseHttp.latency.count === 2L)
    }
  }

  test("non-200 raises and counts an insert error (clickhouse.go:62-66)") {
    ClickHouseHttp.resetMetrics()
    withStub(500) { (port, _) =>
      val e = intercept[IOException] {
        ClickHouseHttp(host = s"127.0.0.1:$port")("{}")
      }
      assert(e.getMessage.contains("clickhouse returned status: 500"))
    }
    // connection refused (dead port) is also a counted error
    intercept[IOException] { ClickHouseHttp(host = "127.0.0.1:1")("{}") }
    assert(ClickHouseHttp.insertErrors.get === 2L)
    assert(ClickHouseHttp.rowsInserted.get === 0L)
    assert(ClickHouseHttp.latency.count === 2L)
  }

  test("streaming append POSTs every micro-batch as JSONEachRow partitions (S5 end-to-end)") {
    ClickHouseHttp.resetMetrics()
    withStub(200) { (port, reqs) =>
      implicit val sq = spark.sqlContext
      val in = MemoryStream[(Long, String, String, Int, Int, Long, java.sql.Timestamp)]
      val rows = in.toDF().toDF("id", "name", "email", "is_deleted", "_op", "_lsn", "_ts")
      val ckpt = tempDir("ch-ckpt")
      val ts = java.sql.Timestamp.valueOf("2024-01-02 03:04:05")
      in.addData((1L, "n1", "e1", 0, 1, 10L, ts), (2L, "n2", "e2", 1, 3, 20L, ts))
      drain(Sinks.append(rows, ckpt, ClickHouseHttp(s"127.0.0.1:$port")))
      val lines = reqs.asScala.flatMap(_.body.split('\n')).toSet
      assert(lines === Set(
        """{"id":1,"name":"n1","email":"e1","is_deleted":0,"_op":1,"_lsn":10,"_ts":"2024-01-02 03:04:05"}""",
        """{"id":2,"name":"n2","email":"e2","is_deleted":1,"_op":3,"_lsn":20,"_ts":"2024-01-02 03:04:05"}"""))
      assert(ClickHouseHttp.rowsInserted.get === 2L)
    }
  }

  test("empty body is zero rows: no POST, no count (direct-caller guard)") {
    ClickHouseHttp.resetMetrics()
    withStub(200) { (port, reqs) =>
      ClickHouseHttp(host = s"127.0.0.1:$port")("")
      assert(reqs.isEmpty, "empty body must not POST")
      assert(ClickHouseHttp.rowsInserted.get === 0L)
      assert(ClickHouseHttp.postsTotal.get === 0L)
    }
  }

  test("one pooled client per JVM under concurrent partition posts") {
    ClickHouseHttp.resetMetrics()
    withStub(200) { (port, reqs) =>
      val sink = ClickHouseHttp(host = s"127.0.0.1:$port")
      ClientIdentityCapture.ids.clear()
      val df = spark.range(0, 64, 1, numPartitions = 8).selectExpr(
        "id", "concat('n', id) as name", "concat('e', id) as email",
        "cast(0 as int) as is_deleted", "cast(1 as int) as _op", "id as _lsn",
        "timestamp'2024-01-02 03:04:05' as _ts")
      Sinks.jsonEachRowPost(df, (body: String) => {
        // record which client THIS task's JVM resolved, then POST
        ClientIdentityCapture.ids.add(System.identityHashCode(ClickHouseHttp.client))
        sink(body)
      })
      assert(reqs.size === 8, "one POST per partition")
      assert(ClientIdentityCapture.ids.asScala.toSet.size === 1,
        "all partitions must share the one per-JVM pooled client")
      assert(ClickHouseHttp.rowsInserted.get === 64L)
    }
  }

  test("render() emits cumulative le buckets and the reference counter names") {
    ClickHouseHttp.resetMetrics()
    ClickHouseHttp.latency.observe(7L * 1000 * 1000) // 7ms → le=0.01 bucket
    ClickHouseHttp.insertErrors.incrementAndGet()
    val r = ClickHouseHttp.render()
    assert(r.linesIterator.exists(_ == "clickhouse_insert_errors_total 1"))
    assert(r.linesIterator.exists(_ == """clickhouse_insert_latency_seconds_bucket{le="0.005"} 0"""))
    assert(r.linesIterator.exists(_ == """clickhouse_insert_latency_seconds_bucket{le="0.01"} 1"""))
    assert(r.linesIterator.exists(_ == """clickhouse_insert_latency_seconds_bucket{le="+Inf"} 1"""))
    assert(r.linesIterator.exists(_ == "clickhouse_insert_latency_seconds_count 1"))
  }
}

/** Executor-side capture of which pooled client each partition saw
  * (local mode: executors share the test JVM).
  */
object ClientIdentityCapture {
  val ids = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}
