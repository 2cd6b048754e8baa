package graft.streaming

import graft.pipeline.Debezium
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

/** S5/ST3: the reference's ClickHouse sink re-expressed as
  * `foreachBatch` (SURVEY.md §2.1 S5, §4.3).
  *
  * The reference POSTs ONE ROW per HTTP request with a new client each
  * time (internal/ingestion/clickhouse.go:33,52) — its throughput
  * ceiling is 1/RTT. Here each micro-batch lands as one batched write
  * (JDBC `batchsize` or a parquet append), the headline architectural
  * win (SURVEY.md §6).
  *
  * Failure granularity (SURVEY.md §4.3#1): the reference drops
  * individual bad rows and continues (cdc.go:63-80). Batching must not
  * turn one bad row into a failed batch, so invalid rows are filtered
  * BEFORE the sink (the translate pipeline already emits only valid
  * rows; [[validRows]] is the extra guard for sink-level constraints).
  */
object Sinks {

  /** Sink-level validity guard: non-null key and version — the two
    * fields the idempotent upsert contract depends on.
    */
  def validRows(df: DataFrame): DataFrame =
    df.filter(col("id").isNotNull && col("_lsn").isNotNull)

  /** JSONEachRow HTTP-POST path — the exact wire format the reference
    * sends (clickhouse.go:78-88,113-124), one JSON object per line,
    * restructured for scale: the batch is NEVER collected to the
    * driver. Each partition serializes its own body executor-side and
    * hands it to `post` (a serializable closure, e.g. an HTTP POST to
    * `/?query=INSERT...FORMAT JSONEachRow` with a per-executor pooled
    * client). One POST per non-empty partition — batched like the JDBC
    * path, unlike the reference's one-row-per-request ceiling.
    */
  def jsonEachRowPost(batch: DataFrame, post: String => Unit): Unit =
    Debezium.toJsonEachRow(batch).foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) post(it.map(_.getString(0)).mkString("\n"))
    }

  /** S5: foreachBatch append to a JDBC table (ClickHouse in the
    * reference deployment; any JDBC URL works — BASELINE.json's
    * "Structured Streaming + JDBC sink"). Batched, connection-pooled
    * by the JDBC driver. A failed write fails the batch; under the CLI
    * default `local[*]` a task is never retried, so the query stops.
    * The batch is replayed only on restart from the checkpoint, and
    * rows that had already landed land again: idempotent downstream
    * only where `_lsn` versioning (ST3) applies, as on `app.users_cur`,
    * never on an append-only table such as `events_db.events`.
    */
  def jdbcAppend(
      writer: DataFrame, checkpoint: String,
      url: String, table: String, batchSize: Int = 10000,
      extraOptions: Map[String, String] = Map.empty): DataStreamWriter[Row] =
    writer.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        validRows(batch).write
          .format("jdbc")
          .option("url", url)
          .option("dbtable", table)
          .option("batchsize", batchSize)
          .options(extraOptions) // e.g. basic-auth user/password
          .mode(SaveMode.Append)
          .save()
      }

  /** Test/local stand-in: foreachBatch append to parquet — identical
    * batch semantics without a database (SURVEY.md §5.2#4).
    */
  def parquetAppend(writer: DataFrame, checkpoint: String, outDir: String): DataStreamWriter[Row] =
    writer.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        validRows(batch).write.mode(SaveMode.Append).parquet(outDir)
      }

  /** Start + await helper for bounded test runs: waits for all
    * currently-available data, but never longer than `ms` (a
    * continuous source would make processAllAvailable wait forever —
    * the bound is the point of this helper).
    */
  def runFor(w: DataStreamWriter[Row], ms: Long): Unit = {
    val q: StreamingQuery = w.start()
    try {
      val waiter = new Thread(() => try q.processAllAvailable() catch { case _: Throwable => () })
      waiter.setDaemon(true)
      waiter.start()
      waiter.join(ms)
    } finally if (q.isActive) q.stop()
  }
}
