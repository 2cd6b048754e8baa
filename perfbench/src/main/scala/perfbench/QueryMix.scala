package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Layer split of one traced query execution, all times in ms. */
final case class QueryLayers(
    name: String, wall: Double, loadMs: Double, loadJobs: Int, relations: Int, thunkMs: Double,
    thunkJobs: Int, analysis: Double, optimization: Double, planning: Double,
    execMs: Double, jobs: Int, stages: Int, tasks: Int, taskRunMs: Double,
    driverGapMs: Double, shuffleBytes: Double, spillBytes: Double) {
  /** Wall not covered by any layer: the action minus its Catalyst phases
    * and its SQL execution.
    */
  def residual: Double = wall - loadMs - thunkMs - analysis - optimization - planning - execMs
}

/** `query_mix`: a closed loop with one client over a fixed sample of the
  * registry queries that have a DuckDB oracle, in seed order. Set-up is
  * session start, one pass that writes each result as parquet for the
  * oracle check and two untimed `noop` passes; the timed passes materialize
  * each query through the `noop` writer so Catalyst cannot prune
  * projected columns.
  */
object QueryMix {
  def run(spark: SparkSession, ctx: Ctx, tracer: Tracer): Outcome = {
    val tables = ctx.opt("tables")
    val results = ctx.dir("results")
    val names = ctx.opt("queries") match {
      case "ALL" => SparkEntry.oracleSql.keys.toSeq.sorted
      case qs => qs.split(',').toSeq
    }
    val registry = SparkEntry.queries
    Files.writeString(Paths.get(results, "oracle_sql.json"),
      Json.encode(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    val errors = ArrayBuffer.empty[String]
    var attempted = 0L

    def attempt[T](name: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch { case e: Throwable =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
      } finally spark.catalog.clearCache()
    }

    names.foreach { n =>
      attempt(n)(registry(n)(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(s"$results/$n"))
    }
    // walls keep falling over the first noop passes (generated code is
    // compiled, then JIT-compiled): after one warm pass each of the next
    // three still ran 6-8 % faster than the one before it (median of ten
    // runs). Two warm passes are set-up; the per-query medians below
    // absorb the rest.
    for (_ <- 1 to 2; n <- names) attempt(n)(timePlain(registry(n), spark, tables))
    val setupS = (Clock.nowUs - ctx.sessionStartUs) / 1e6

    val plain = mutable.Map.empty[String, ArrayBuffer[Double]]
    val traced = mutable.Map.empty[String, ArrayBuffer[Double]]
    val layers = ArrayBuffer.empty[QueryLayers]
    val probe = if (ctx.trace) Some(new Probe(spark)) else None
    val root = tracer.add(0, "run", ctx.sessionStartUs, Clock.nowUs)
    val rng = new scala.util.Random(ctx.seed)
    // a fixed amount of work per run, so a faster commit is not also a
    // warmer one: one pass per 2 s of --seconds, at least two (a traced
    // run, which times each query twice per pass, makes two)
    val passes = if (ctx.trace) 2 else math.max(2, ctx.seconds / 2)
    var pass = 0
    // a traced run times every query twice per pass, plain and traced,
    // swapping the order each pass, so the pairs give the tracing overhead
    while (pass < passes) {
      rng.shuffle(names).foreach { n =>
        def runPlain(): Unit = attempt(n)(timePlain(registry(n), spark, tables))
          .foreach(w => plain.getOrElseUpdate(n, ArrayBuffer.empty) += w)
        def runTraced(): Unit = probe.foreach { p =>
          p.attach()
          try attempt(n)(timeTraced(spark, n, registry(n), tables, p, tracer, root))
            .foreach { l => layers += l; traced.getOrElseUpdate(n, ArrayBuffer.empty) += l.wall }
          finally p.detach()
        }
        if (pass % 2 == 0) { runPlain(); runTraced() } else { runTraced(); runPlain() }
      }
      pass += 1
    }

    // each query's wall is the median over the passes, which drops the
    // single slow executions host noise makes; latency is taken across the
    // sample's queries and a pass is one of each
    val perQuery = plain.map { case (n, ws) => n -> Stats.median(ws.toSeq) }.toMap
    val walls = perQuery.values.toSeq
    val passS = walls.sum / 1000.0
    val e2e = if (walls.isEmpty) Map.empty[String, Double] else Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(walls),
      "latency_tail_ms" -> Stats.quantile(walls, 0.9),
      "throughput_per_s" -> walls.size / passS)
    val detail = Map[String, Any](
      "sample" -> names, "passes" -> pass, "query_p50_ms" -> e2e.get("latency_p50_ms"),
      "query_p90_ms" -> e2e.get("latency_tail_ms"), "pass_s" -> passS,
      "query_median_ms" -> perQuery, "query_walls_ms" -> plain.map { case (n, ws) => n -> ws.toSeq },
      "results_dir" -> results, "tables" -> tables)
    val layerMetrics = if (!ctx.trace || layers.isEmpty) Map.empty[String, Double] else
      layerSummary(layers.toSeq, perQuery, traced.map { case (n, ws) => n -> Stats.median(ws.toSeq) }.toMap)
    // a traced execution whose layers do not sum to its wall fails the run
    val outside = layers.filterNot(l => LayerSum.within(l.residual, l.wall))
    errors ++= outside.map(l => f"layer sum: ${l.name} wall ${l.wall}%.1f ms, residual ${l.residual}%.1f ms outside ${LayerSum.statement}")
    Outcome(attempted, errors.size, errors.toSeq, e2e, layerMetrics,
      detail ++ (if (ctx.trace) Map(
        "layer_sum_tolerance" -> LayerSum.statement,
        "layer_residual_ms" -> layers.map(l => l.name -> l.residual)) else Map.empty))
  }

  private def timePlain(fn: (SparkSession, String) => DataFrame, spark: SparkSession, tables: String): Double = {
    val t0 = System.nanoTime()
    fn(spark, tables).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  private def timeTraced(
      spark: SparkSession, name: String, fn: (SparkSession, String) => DataFrame, tables: String,
      probe: Probe, tracer: Tracer, root: Int): QueryLayers = {
    probe.take()
    val s0 = Clock.nowUs
    val df = fn(spark, tables)
    val s1 = Clock.nowUs
    val thunk = probe.take()
    val a0 = Clock.nowUs
    df.write.format("noop").mode("overwrite").save()
    val a1 = Clock.nowUs
    val act = probe.take()

    val q = tracer.add(root, s"query:$name", s0, a1)
    val th = tracer.add(q, "queries.thunk", s0, s1)
    thunk.loadJobs.foreach(j => tracer.add(th, "tables.load", j.startMs * 1000, j.endMs * 1000))
    thunk.otherJobs.foreach(j => tracer.add(th, "queries.eager_job", j.startMs * 1000, j.endMs * 1000))
    tracer.add(q, "trace.drain", s1, a0)
    val ac = tracer.add(q, "action", a0, a1)
    for (qe <- act.qes; (phase, (b, e)) <- qe.phases)
      tracer.add(ac, s"catalyst.$phase", b * 1000, e * 1000)
    val execSpans = act.sqlExecs.map { case (b, e) => (b, e, tracer.add(ac, "exec.sql", b * 1000, e * 1000)) }
    act.jobs.foreach { j =>
      val parent = execSpans.find { case (b, e, _) => b <= j.startMs && j.startMs <= e }.fold(ac)(_._3)
      tracer.add(parent, "exec.job", j.startMs * 1000, j.endMs * 1000)
    }

    val thunkMs = (s1 - s0) / 1000.0
    val actionMs = (a1 - a0) / 1000.0
    val loadMs = thunk.loadJobs.map(_.ms).sum.toDouble
    QueryLayers(
      name = name, wall = thunkMs + actionMs, loadMs = loadMs, loadJobs = thunk.loadJobs.size,
      relations = df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRelation => r }.size,
      thunkMs = math.max(0.0, thunkMs - loadMs), thunkJobs = thunk.otherJobs.size,
      analysis = act.catalystMs("analysis").toDouble,
      optimization = act.catalystMs("optimization").toDouble,
      planning = act.catalystMs("planning").toDouble,
      execMs = act.execMs.toDouble, jobs = act.jobs.size, stages = act.stages.size,
      tasks = act.stages.map(_.tasks).sum, taskRunMs = act.stages.map(_.runMs).sum.toDouble,
      driverGapMs = math.max(0.0, act.execMs - act.taskUnionMs),
      shuffleBytes = act.stages.map(_.shuffleBytes).sum.toDouble,
      spillBytes = act.stages.map(_.spillBytes).sum.toDouble)
  }

  private def layerSummary(
      ls: Seq[QueryLayers], plainWall: Map[String, Double],
      tracedWall: Map[String, Double]): Map[String, Double] = {
    def m(f: QueryLayers => Double) = Stats.mean(ls.map(f))
    val overhead = tracedWall.keys.filter(plainWall.contains).toSeq
      .map(n => (tracedWall(n) / plainWall(n) - 1.0) * 100.0)
    Map(
      "tables.load_ms" -> m(_.loadMs),
      "tables.load_jobs" -> m(_.loadJobs),
      "tables.loads_per_query" -> m(_.relations),
      "queries.thunk_ms" -> m(_.thunkMs),
      "queries.thunk_jobs" -> m(_.thunkJobs),
      "catalyst.analysis_ms" -> m(_.analysis),
      "catalyst.optimization_ms" -> m(_.optimization),
      "catalyst.planning_ms" -> m(_.planning),
      "exec.ms" -> m(_.execMs),
      "exec.jobs" -> m(_.jobs),
      "exec.stages" -> m(_.stages),
      "exec.tasks" -> m(_.tasks),
      "exec.task_run_ms" -> m(_.taskRunMs),
      "exec.driver_gap_ms" -> m(_.driverGapMs),
      "exec.shuffle_bytes" -> m(_.shuffleBytes),
      "exec.spill_bytes" -> m(_.spillBytes),
      "trace.overhead_pct" -> (if (overhead.isEmpty) 0.0 else Stats.median(overhead)),
      "trace.layer_residual_pct" -> Stats.median(ls.map(l => 100.0 * l.residual / l.wall)))
  }
}
