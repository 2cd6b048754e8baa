package graft

import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.streaming.{ClickHouseHttp, LocalCheckpointFileManager, Sinks}
import org.apache.spark.sql.streaming.StreamingQueryException
import scala.jdk.CollectionConverters._

/** CLI flag/env parsing mirrors the reference's cobra surface
  * (/root/reference/cmd/root.go:62-97), plus the end-to-end synthetic
  * run against stub ClickHouse + OTLP collectors — the reference's
  * default deployment shape (cmd/root.go:99-148) without a database.
  */
class IngestorCliSpec extends SparkSpec {

  test("defaults match the reference (rate 5, duration 60, synthetic, reference topic/group)") {
    val a = IngestorCli.parse(Array.empty)
    assert(a.mode === "synthetic")
    assert(a.rate === 5L)
    assert(a.durationS === 60L)
    assert(a.cfg.hostPort === "localhost:8123")
    assert(a.cfg.tableOrDefault === "app.users_cur")
    assert(a.cfg.databaseOrDefault === "appdb")
    // cmd/root.go:69-71 defaults
    assert(a.cfg.topic === "dbserver1.app.users")
    assert(a.cfg.groupId === "wal-cdc-ingestor")
    assert(a.cfg.brokers === Seq("redpanda.redpanda.svc.cluster.local:9093"))
  }

  test("flags override: mode, rate, brokers CSV, sink (reference flag names + short aliases)") {
    val a = IngestorCli.parse(Array(
      "--mode", "CDC", "--rate", "100", "--duration", "5",
      "--brokers", " b1:9092 ,, b2:9092 ", "--topic", "t",
      "--clickhouse-host", "ch.prod", "--clickhouse-db", "db",
      "--clickhouse-table", "t2", "--sink", "parquet:/tmp/x"))
    assert(a.mode === "cdc")
    assert(a.rate === 100L)
    assert(a.cfg.brokers === Seq("b1:9092", "b2:9092"))
    assert(a.cfg.jdbcUrl === "jdbc:clickhouse://ch.prod:8123/db")
    assert(a.sink === "parquet:/tmp/x")
  }

  test("--otlp is optional-valued and --sink clickhouse:<host> parses") {
    val a = IngestorCli.parse(Array("--otlp", "col:4318", "--sink", "clickhouse:ch1:8123"))
    assert(a.otlp === Some("col:4318"))
    assert(a.sink === "clickhouse:ch1:8123")
    // flag-only mid-args: next token is another flag
    val b = IngestorCli.parse(Array("--otlp", "--rate", "9"))
    assert(b.otlp === Some("") && b.rate === 9L)
    // flag-only as the last token
    val c = IngestorCli.parse(Array("--rate", "9", "--otlp"))
    assert(c.otlp === Some(""))
    // absent → tracing off
    assert(IngestorCli.parse(Array.empty).otlp === None)
  }

  test("an unknown --sink is rejected at parse, naming the accepted forms") {
    val e = intercept[IllegalArgumentException](IngestorCli.parse(Array("--sink", "clikhouse:ch1")))
    Seq("clikhouse:ch1", "parquet:<dir>", "clickhouse[:<host[:port]>]", "jdbc")
      .foreach(f => assert(e.getMessage.contains(f), e.getMessage))
    // each accepted form parses to its one writer
    val a = IngestorCli.parse(Array("--sink", "jdbc", "--clickhouse-host", "ch.prod",
      "--clickhouse-db", "db", "--clickhouse-table", "t"))
    assert(Sinks.parse(a.sink, a.cfg) === Sinks.Jdbc("jdbc:clickhouse://ch.prod:8123/db", "t"))
    assert(Sinks.parse("clickhouse", a.cfg) === ClickHouseHttp("ch.prod", "db", "t"))
    assert(Sinks.parse("clickhouse:ch1:9000", a.cfg) === ClickHouseHttp("ch1:9000", "db", "t"))
    assert(Sinks.parse("parquet:/tmp/x", a.cfg) === Sinks.Parquet("/tmp/x"))
  }

  test("--rate and --duration take whole numbers > 0, rejected at parse naming the flag") {
    for (flag <- Seq("--rate", "--duration"); v <- Seq("0", "-5", "x", "1.5")) {
      val e = intercept[IllegalArgumentException](IngestorCli.parse(Array(flag, v)))
      assert(e.getMessage.contains(flag) && e.getMessage.contains(v), e.getMessage)
    }
  }

  /** Runs `a` against a sink that refuses connections, with `/metrics`
    * on a known port: the run fails with the stream's exception, and
    * leaves no listener registered and the port closed.
    */
  private def failsAndTearsDown(a: IngestorCli.Args): Unit = {
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val listeners = spark.streams.listListeners().toSet
    intercept[StreamingQueryException](IngestorCli.run(spark, a.copy(
      cfg = a.cfg.copy(metricsPort = port), sink = "clickhouse:127.0.0.1:1")))
    assert(spark.streams.listListeners().toSet === listeners, "the run's listener is still registered")
    intercept[java.net.ConnectException](new java.net.Socket("127.0.0.1", port).close())
  }

  test("a failed file: drain throws and tears the run down") {
    val dir = tempDir("graft-cli-cdc-fail")
    val topic = java.nio.file.Paths.get(dir, "topic")
    Files.createDirectories(topic)
    Files.writeString(topic.resolve("part-0.jsonl"),
      """{"before":null,"after":{"id":1,"name":"n","email":"e"},"source":{"lsn":1,"ts_us":1},"op":"c","ts_us":1}""" + "\n")
    failsAndTearsDown(IngestorCli.Args(mode = "cdc",
      cfg = graft.pipeline.IngestConfig(brokers = Seq(s"file:$topic")), checkpoint = s"$dir/ckpt"))
  }

  test("a synthetic run that fails before its deadline throws and tears the run down") {
    val dir = tempDir("graft-cli-synthetic-fail")
    failsAndTearsDown(IngestorCli.Args(rate = 100L, durationS = 30L, checkpoint = s"$dir/ckpt"))
  }

  test("synthetic run end-to-end: rows POST to stub ClickHouse, spans to stub OTLP collector") {
    val chBodies = new ConcurrentLinkedQueue[String]()
    val ch = HttpServer.create(new InetSocketAddress(0), 0)
    ch.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        chBodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        ex.sendResponseHeaders(200, -1); ex.close()
      }
    })
    ch.start()
    val otlpBodies = new ConcurrentLinkedQueue[String]()
    val otlp = HttpServer.create(new InetSocketAddress(0), 0)
    otlp.createContext("/v1/traces", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        otlpBodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        ex.sendResponseHeaders(200, -1); ex.close()
      }
    })
    otlp.start()
    try {
      ClickHouseHttp.resetMetrics()
      val dir = tempDir("graft-cli-e2e")
      IngestorCli.run(spark, IngestorCli.Args(
        mode = "synthetic", rate = 50L, durationS = 3L,
        cfg = graft.pipeline.IngestConfig(metricsPort = 0),
        sink = s"clickhouse:127.0.0.1:${ch.getAddress.getPort}",
        checkpoint = s"$dir/ckpt",
        otlp = Some(s"127.0.0.1:${otlp.getAddress.getPort}")))
      // rows reached the ClickHouse endpoint as JSONEachRow inserts
      val lines = chBodies.asScala.flatMap(_.split('\n')).toSeq
      assert(lines.nonEmpty, "no JSONEachRow rows reached the stub")
      assert(lines.head.contains("\"id\":") && lines.head.contains("\"_lsn\":"))
      assert(ClickHouseHttp.rowsInserted.get === lines.size.toLong)
      assert(ClickHouseHttp.insertErrors.get === 0L)
      // at least one micro-batch span reached the collector
      assert(otlpBodies.asScala.exists(_.contains("\"name\":\"ingest_batch\"")),
        s"no ingest_batch span among ${otlpBodies.size} POSTs")
    } finally { ch.stop(0); otlp.stop(0) }
  }

  test("cdc run end-to-end via file transport: envelope dir → translate → parquet, metrics counted") {
    val dir = tempDir("graft-cli-cdc")
    val topicDir = s"$dir/topic"
    Files.createDirectories(java.nio.file.Paths.get(topicDir))
    // a mixed fixture exercising every translate arm (cdc.go:100-143):
    // create, update, delete via before.id, delete via KEY fallback
    // (keyed-record line), double-encoded envelope (F11), bad payload
    // (P2 skip), unknown op (P4 skip)
    val lines = Seq(
      """{"before":null,"after":{"id":7,"name":"n7","email":"e7"},"source":{"lsn":100,"ts_us":1},"op":"c","ts_us":1}""",
      """{"before":{"id":7,"name":"n7","email":"e7"},"after":{"id":7,"name":"n7b","email":"e7b"},"source":{"lsn":101,"ts_us":2},"op":"u","ts_us":2}""",
      """{"before":{"id":9,"name":"gone","email":"g"},"after":null,"source":{"lsn":200,"ts_us":3},"op":"d","ts_us":3}""",
      """{"key":"{\"id\":42}","value":"{\"before\":null,\"after\":null,\"source\":{\"lsn\":201,\"ts_us\":4},\"op\":\"d\",\"ts_us\":4}"}""",
      "\"{\\\"before\\\":null,\\\"after\\\":{\\\"id\\\":8,\\\"name\\\":\\\"n8\\\",\\\"email\\\":\\\"e8\\\"},\\\"source\\\":{\\\"lsn\\\":300,\\\"ts_us\\\":5},\\\"op\\\":\\\"c\\\",\\\"ts_us\\\":5}\"",
      "not json at all",
      """{"after":{"id":1,"name":"a","email":"b"},"source":{"lsn":5},"op":"r"}""")
    Files.writeString(java.nio.file.Paths.get(s"$topicDir/part-0.jsonl"),
      lines.mkString("\n") + "\n")

    val out = s"$dir/out"
    val m = IngestorCli.run(spark, IngestorCli.Args(
      mode = "cdc",
      cfg = graft.pipeline.IngestConfig(
        brokers = Seq(s"file:$topicDir"), metricsPort = 0),
      sink = s"parquet:$out",
      checkpoint = s"$dir/ckpt"))

    val rows = spark.read.parquet(out)
      .select("id", "name", "email", "is_deleted", "_op", "_lsn")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getInt(4), r.getLong(5))).toSet
    assert(rows === Set(
      (7L, "n7", "e7", 0, 1, 100L),
      (7L, "n7b", "e7b", 0, 2, 101L),
      (9L, null, null, 1, 3, 200L),
      (42L, null, null, 1, 3, 201L), // id from the Kafka KEY fallback
      (8L, "n8", "e8", 0, 1, 300L))) // double-encoded value survives
    // ST9: the listener saw the drained micro-batches; numInputRows
    // counts SOURCE lines (7, bad rows included — they exit at the
    // P2/P4 filters downstream of the source, cdc.go:63-73)
    assert(m.rowsTotal.get === 7L, m.render())
    assert(m.batchesTotal.get >= 1L)
    assert(m.errorsTotal.get === 0L)
  }

  /** Drains file set A, adds set B, restarts on the same checkpoint:
    * the second run must read only B, so every row lands exactly once.
    * `firstManager` names the checkpoint file manager of run 1 (None =
    * the one `IngestorCli.run` registers); run 2 always uses the
    * registered one.
    */
  private def restartDrainsOnlyNewFiles(firstManager: Option[String]): Unit = {
    val dir = tempDir("graft-cli-restart")
    val topic = java.nio.file.Paths.get(dir, "topic")
    Files.createDirectories(topic)
    def addFiles(tag: String, ids: Seq[Range]): Unit = ids.zipWithIndex.foreach { case (r, i) =>
      Files.writeString(topic.resolve(s"$tag-$i.jsonl"), r.map { id =>
        s"""{"before":null,"after":{"id":$id,"name":"n$id","email":"e$id"},"source":{"lsn":$id,"ts_us":$id},"op":"c","ts_us":$id}"""
      }.mkString("", "\n", "\n"))
    }
    val out = s"$dir/out"
    def drain() = IngestorCli.run(spark, IngestorCli.Args(
      mode = "cdc",
      cfg = graft.pipeline.IngestConfig(brokers = Seq(s"file:$topic"), metricsPort = 0),
      sink = s"parquet:$out",
      checkpoint = s"$dir/ckpt"))
    val key = LocalCheckpointFileManager.ConfKey

    addFiles("a", Seq(1 to 10, 11 to 25, 26 to 30))
    val m1 = firstManager match {
      case Some(cls) =>
        spark.conf.set(key, cls)
        try {
          val m = drain()
          assert(spark.conf.getOption(key) === Some(cls), "a session's own manager is kept")
          m
        } finally spark.conf.unset(key)
      case None => drain()
    }
    assert(spark.conf.getOption(key).isEmpty, "the run leaves the session's conf as it was")
    assert(m1.rowsTotal.get === 30L, m1.render())
    // offset WAL, commit log and file-source log: batch ids on disk
    val logs = Seq("offsets", "commits", "sources/0").map(java.nio.file.Paths.get(dir, "ckpt", _))
    def batches() = logs.map(l => Files.list(l).iterator.asScala
      .map(_.getFileName.toString).flatMap(_.toLongOption).toSet)
    val batchesAfterA = batches()

    addFiles("b", Seq(31 to 40, 41 to 50))
    val m2 = drain()
    assert(m2.rowsTotal.get === 20L, s"the restart re-read set A: ${m2.render()}")
    val ids = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted === (1L to 50L), "every input row lands exactly once")

    // the restart's log entries went through the fork-free manager:
    // Spark's default writes a .crc sidecar beside each entry, it does not
    logs.zip(batchesAfterA).zip(batches()).foreach { case ((log, before), after) =>
      assert((after -- before).nonEmpty, log)
      (after -- before).foreach(b => assert(!Files.exists(log.resolve(s".$b.crc")), s"$log/$b"))
      before.foreach(b => assert(
        Files.exists(log.resolve(s".$b.crc")) === firstManager.isDefined, s"$log/$b"))
    }
  }

  test("cdc restart from the checkpoint drains only the new files") {
    restartDrainsOnlyNewFiles(firstManager = None)
  }

  test("cdc restart: a checkpoint written by Spark's default manager keeps working") {
    restartDrainsOnlyNewFiles(firstManager = Some(
      classOf[org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager].getName))
  }

  test("S2 contract: kafka source options pin delivery semantics without a broker") {
    val opts = graft.streaming.CdcStreaming.kafkaSourceOptions(
      "b1:9092,b2:9092", "dbserver1.app.users", maxOffsetsPerTrigger = 5000L,
      groupId = Some("wal-cdc-ingestor"))
    assert(opts("kafka.bootstrap.servers") === "b1:9092,b2:9092")
    assert(opts("subscribe") === "dbserver1.app.users")
    assert(opts("startingOffsets") === "earliest")
    assert(opts("failOnDataLoss") === "false")
    assert(opts("maxOffsetsPerTrigger") === "5000")
    assert(opts("kafka.group.id") === "wal-cdc-ingestor")
    // no group → no group option, rest identical
    val anon = graft.streaming.CdcStreaming.kafkaSourceOptions("b", "t")
    assert(!anon.contains("kafka.group.id") && anon("maxOffsetsPerTrigger") === "10000")
  }

  test("curate mode: documents dir → 4-stage pipeline → packed parquet") {
    requireTestdata()
    val dir = tempDir("graft-cli-curate")
    val out = s"$dir/packed"
    val (docsIn, docsOut) = {
      val a = IngestorCli.parse(Array(
        "--mode", "curate", "--input", "/root/testdata/sf0.001",
        "--sink", s"parquet:$out"))
      assert(a.mode == "curate" && a.input == "/root/testdata/sf0.001")
      IngestorCli.run(spark, a)
      (spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count(),
        spark.read.parquet(out).count())
    }
    assert(docsOut > 0 && docsOut <= docsIn,
      s"packed corpus must be the repetition-filtered subset: $docsOut of $docsIn")
    val cols = spark.read.parquet(out).columns.toSet
    // the pipeline's contract columns all survive the write
    assert(Set("doc_id", "source", "split", "n_redactions", "n_tokens",
      "pack_id", "pack_pos").subsetOf(cols), cols.toString)
    // scrub ran: every doc's synthetic contact line was redacted
    assert(spark.read.parquet(out)
      .where(org.apache.spark.sql.functions.col("n_redactions") < 3).count() == 0)
  }

  test("S2: KAFKA_FORCE_LOCAL=1 rewrites broker hosts to 127.0.0.1, keeping ports (cdc.go:19-34)") {
    val cfg = graft.pipeline.IngestConfig(
      host = "ch", brokers = Seq("redpanda.redpanda.svc.cluster.local:9093", "b2:9092", "noport"))
    assert(cfg.effectiveBrokers(Map("KAFKA_FORCE_LOCAL" -> "1")) ===
      Seq("127.0.0.1:9093", "127.0.0.1:9092", "127.0.0.1"))
    // unset or any other value → brokers untouched
    assert(cfg.effectiveBrokers(Map.empty) === cfg.brokers)
    assert(cfg.effectiveBrokers(Map("KAFKA_FORCE_LOCAL" -> "0")) === cfg.brokers)
  }
}
