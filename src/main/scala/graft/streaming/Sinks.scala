package graft.streaming

import graft.pipeline.{Debezium, IngestConfig}
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

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

  /** Where a micro-batch's valid rows land: one of the three `--sink`
    * targets ([[Parquet]], [[Jdbc]], [[ClickHouseHttp]]).
    */
  trait Target extends Serializable {
    def write(valid: DataFrame): Unit
  }

  /** Test/local stand-in: parquet append — identical batch semantics
    * without a database (SURVEY.md §5.2#4).
    */
  final case class Parquet(dir: String) extends Target {
    override def write(valid: DataFrame): Unit = valid.write.mode(SaveMode.Append).parquet(dir)
  }

  /** S5: append to a JDBC table (ClickHouse in the reference
    * deployment; any JDBC URL works — BASELINE.json's "Structured
    * Streaming + JDBC sink"). Batched, connection-pooled by the JDBC
    * driver. A failed write fails the batch; under the CLI default
    * `local[*]` a task is never retried, so the query stops. The batch
    * is replayed only on restart from the checkpoint, and rows that had
    * already landed land again: idempotent downstream only where `_lsn`
    * versioning (ST3) applies, as on `app.users_cur`, never on an
    * append-only table such as `events_db.events`.
    */
  final case class Jdbc(
      url: String, table: String, batchSize: Int = 10000,
      extraOptions: Map[String, String] = Map.empty) extends Target {
    override def write(valid: DataFrame): Unit =
      valid.write
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batchSize)
        .options(extraOptions) // e.g. basic-auth user/password
        .mode(SaveMode.Append)
        .save()
  }

  /** The `--sink` value as a [[Target]]: `parquet:<dir>`,
    * `clickhouse[:<host[:port]>]` (no host: `cfg.host`) or `jdbc`
    * (`cfg.jdbcUrl`). Anything else is rejected here rather than at the
    * first micro-batch.
    */
  def parse(sink: String, cfg: IngestConfig): Target = sink match {
    case s if s.startsWith("parquet:") => Parquet(s.stripPrefix("parquet:"))
    case s if s == "clickhouse" || s.startsWith("clickhouse:") =>
      // the reference's native transport: HTTP JSONEachRow inserts
      val argHost = s.stripPrefix("clickhouse").stripPrefix(":")
      ClickHouseHttp(if (argHost.isEmpty) cfg.host else argHost,
        cfg.database, cfg.table, cfg.user, cfg.password)
    case "jdbc" => Jdbc(cfg.jdbcUrl, cfg.tableOrDefault, extraOptions = cfg.jdbcAuthOptions)
    case other => throw new IllegalArgumentException(
      s"unknown --sink '$other': expected parquet:<dir>, clickhouse[:<host[:port]>] or jdbc")
  }

  /** The one streaming writer every target shares: checkpointed
    * `foreachBatch` of the batch's [[validRows]] into `target`.
    */
  def append(rows: DataFrame, checkpoint: String, target: Target): DataStreamWriter[Row] =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) => target.write(validRows(batch)) }
}
