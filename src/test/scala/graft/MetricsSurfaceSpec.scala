package graft

import java.nio.file.{Files, Path, Paths}
import graft.streaming.{ClickHouseHttp, IngestionMetrics, MetricsServer}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The ingest service's one metrics surface: every histogram is a
  * `PromHistogram`, and `/metrics` text is the listener's series
  * followed by the sink's.
  */
class MetricsSurfaceSpec extends AnyFunSuite {

  test("Prometheus bucket lines are rendered only by PromHistogram") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "PromHistogram.scala")
      .filter(p => Files.readString(p).contains("_bucket{le="))
      .map(root.relativize(_: Path).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"render histograms through graft.streaming.PromHistogram: ${offenders.mkString(", ")}")
  }

  test("rendered text of both families, byte for byte") {
    val m = new IngestionMetrics
    m.rowsTotal.set(7L); m.batchesTotal.set(3L); m.lastRowsPerSecond.set(12.5)
    Seq(0L, 5L, 6L, 2500L, 60000L).foreach(m.latency.observe)
    ClickHouseHttp.resetMetrics()
    Seq(5000000L, 5000001L, 7000000L, 1000000000L, 4200000000L, 12000000000L)
      .foreach(ClickHouseHttp.latency.observe)
    ClickHouseHttp.insertErrors.set(1L); ClickHouseHttp.rowsInserted.set(5L); ClickHouseHttp.postsTotal.set(2L)
    try assert(MetricsServer.render(m) === MetricsSurfaceSpec.Golden)
    finally ClickHouseHttp.resetMetrics()
  }
}

object MetricsSurfaceSpec {

  /** The same observations rendered by the two hand-written histograms
    * this type replaced.
    */
  val Golden: String =
    """ingest_rows_total 7
       |ingest_batches_total 3
       |ingest_errors_total 0
       |ingest_rows_per_second 12.5
       |ingest_batch_ms_bucket{le="5"} 2
       |ingest_batch_ms_bucket{le="10"} 3
       |ingest_batch_ms_bucket{le="25"} 3
       |ingest_batch_ms_bucket{le="50"} 3
       |ingest_batch_ms_bucket{le="100"} 3
       |ingest_batch_ms_bucket{le="250"} 3
       |ingest_batch_ms_bucket{le="500"} 3
       |ingest_batch_ms_bucket{le="1000"} 3
       |ingest_batch_ms_bucket{le="2500"} 4
       |ingest_batch_ms_bucket{le="5000"} 4
       |ingest_batch_ms_bucket{le="10000"} 4
       |ingest_batch_ms_bucket{le="+Inf"} 5
       |ingest_batch_ms_count 5
       |ingest_batch_ms_sum 62511
       |clickhouse_insert_errors_total 1
       |rows_inserted 5
       |clickhouse_posts_total 2
       |clickhouse_insert_latency_seconds_bucket{le="0.005"} 1
       |clickhouse_insert_latency_seconds_bucket{le="0.01"} 3
       |clickhouse_insert_latency_seconds_bucket{le="0.025"} 3
       |clickhouse_insert_latency_seconds_bucket{le="0.05"} 3
       |clickhouse_insert_latency_seconds_bucket{le="0.1"} 3
       |clickhouse_insert_latency_seconds_bucket{le="0.25"} 3
       |clickhouse_insert_latency_seconds_bucket{le="0.5"} 3
       |clickhouse_insert_latency_seconds_bucket{le="1.0"} 4
       |clickhouse_insert_latency_seconds_bucket{le="2.5"} 4
       |clickhouse_insert_latency_seconds_bucket{le="5.0"} 5
       |clickhouse_insert_latency_seconds_bucket{le="10.0"} 5
       |clickhouse_insert_latency_seconds_bucket{le="+Inf"} 6
       |clickhouse_insert_latency_seconds_count 6
       |clickhouse_insert_latency_seconds_sum 17.217000001""".stripMargin
}
