package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one workload run hands back to `run.py`. `e2e` holds the
  * end-to-end metrics (untraced), `layers` the per-layer metrics (traced
  * runs only), `detail` named figures for the log and the baseline file.
  */
final case class Outcome(
    attempted: Long, failed: Long, errors: Seq[String],
    e2e: Map[String, Double], layers: Map[String, Double], detail: Map[String, Any])

final case class Ctx(
    seed: Long, seconds: Int, trace: Boolean, work: String, opts: Map[String, String],
    sessionStartUs: Long) {
  def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
  def dir(name: String): String = {
    val p = Paths.get(work, name); Files.createDirectories(p); p.toString
  }
}

/** JVM side of the benchmark. `run.py` builds the inputs, starts this with
  * `--workload <query_mix|cdc_backlog|synthetic_stream> --seed --seconds
  * --trace --work <dir> --out <file>` plus the workload's inputs, then
  * runs the oracle checks and prints the result line.
  */
object Main {
  val cores = 4

  def session(work: String, master: String = s"local[$cores]"): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val ctx = Ctx(opts("seed").toLong, opts("seconds").toInt, opts("trace") == "1",
      opts("work"), opts, Clock.nowUs)
    val tracer = new Tracer(s"$workload-${ctx.seed}-${if (ctx.trace) "traced" else "plain"}")
    val spark = session(ctx.work)
    val out = try workload match {
      case "query_mix" => QueryMix.run(spark, ctx, tracer)
      case "cdc_backlog" => Ingest.cdc(spark, ctx, tracer)
      case "synthetic_stream" => Ingest.synthetic(spark, ctx, tracer)
      case other => sys.error(s"unknown workload $other")
    } finally SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    val e2e = out.e2e + ("peak_rss_mb" -> peakRssMb())
    val result = mutable.LinkedHashMap[String, Any](
      "attempted" -> out.attempted, "failed" -> out.failed, "errors" -> out.errors.take(50),
      "e2e" -> e2e, "layers" -> out.layers, "detail" -> out.detail)
    if (ctx.trace) {
      val path = Paths.get(ctx.work, "trace.json")
      Files.writeString(path, tracer.toJson(Map("workload" -> workload, "seed" -> ctx.seed)))
      result("trace_file") = path.toString
      result("self_ms") = tracer.selfMs
    }
    Files.writeString(Paths.get(ctx.opt("out")), Json.encode(result))
  }
}
