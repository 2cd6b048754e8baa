package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: times every registered query at
  * SPARK_GRAFT_SF_DIR and emits ONE machine-readable JSON line to
  * stdout, stderr AND ./BENCH_OUT.json (sbt prefixes stdout with
  * "[info] ", which breaks naive parsers — the file/stderr copies are
  * the robust channels).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // Warmup: run the FULL suite once at a small-but-not-tiny scale
    // factor. JIT + whole-stage-codegen compilation cost is per plan
    // shape, not per data size; sf0.01 (not sf0.001) keeps AQE's
    // runtime re-plans (broadcast-vs-SMJ choices) closer to the timed
    // SF's shapes. Residual risk: where AQE still picks a different
    // physical plan at sfDir, that plan's first-touch codegen lands in
    // the timed run — accepted, noted, and bounded (one plan compile,
    // tens of ms).
    val warmDir = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.001", sfDir)
      .find(d => Files.isDirectory(Paths.get(d))).getOrElse(sfDir)
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    // Timed protocol: P full passes over all queries (deterministic
    // name order), per-query time = MIN across passes. This host has
    // external noisy-neighbor windows that inflate arbitrary queries
    // 2-12x for tens of seconds (measured 2026-08-12: two back-to-back
    // identical runs totalled 50.0s and 126.6s, with DIFFERENT queries
    // elevated each time — q_ngram_jaccard 5.6→39.1s, q_topk 0.5→6.4s).
    // min-of-P measures engine capability rather than background load;
    // a window long enough to hit the same query in every pass still
    // shows up, as does any real plan regression. Per-pass totals are
    // reported alongside so load windows stay visible.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    var errors = Set.empty[String]
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // 1-min system loadavg sampled before each pass and after the
    // last: makes the noise adjudication the per-pass totals enable
    // (quiet band vs loaded window) machine-readable in the same JSON
    // — r17's by-hand 269.6/199.7-vs-quiet-130 call, made a field
    def loadavg(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perPass = (1 to passes).map { _ =>
      loads += loadavg()
      ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // a failed query must be VISIBLE, not a fast fake success:
        // record it in "errors" so the driver can distinguish failure
        // from speed
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => errors += name; false }
        val dt = (System.nanoTime() - t0) / 1e9
        // operator-scoped caches (e.g. LSH signature tables) must not
        // leak blocks into the next query's timing or memory budget
        spark.catalog.clearCache()
        name -> (dt, ok)
      }
    }
    val results = ordered.map { case (name, _) =>
      // min over SUCCESSFUL passes only: a fast-failing pass must not
      // masquerade as the query's best time (if every pass failed the
      // raw min stands — the name is in "errors" either way)
      val times = perPass.map(_.toMap.apply(name))
      val good = times.filter(_._2).map(_._1)
      name -> (if (good.nonEmpty) good.min else times.map(_._1).min)
    }
    // per-query cross-pass spread (max/min over successful passes,
    // 2 dp): a noisy-neighbor window inflates SOME passes, so spread
    // >> 1 flags a min taken during external load — machine-readable,
    // where before only the BASELINE.md prose protocol (per-pass
    // totals in the 40-50s quiet band) could catch it
    val spreads = ordered.map { case (name, _) =>
      val good = perPass.map(_.toMap.apply(name)).filter(_._2).map(_._1)
      name -> (if (good.size >= 2 && good.min > 0) good.max / good.min else 1.0)
    }
    // Locale.ROOT: f"" uses the JVM default locale, which under a
    // comma-decimal locale (de_DE) would emit "1,23" — invalid JSON
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val sp = spreads.map { case (k, v) => s"\"" + k + "\":" + f2(v) }
      .mkString("{", ",", "}")
    val maxSpread = f2(spreads.map(_._2).max)
    val errs = errors.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val passTotals = perPass.map(_.map(_._2._1).sum).mkString("[", ",", "]")
    loads += loadavg()
    val loadArr = loads.map(f2).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,""" +
        s""""passes":$passTotals,"load":$loadArr,"spread":$sp,"max_spread":$maxSpread,""" +
        s""""protocol":"min-of-$passes","sf":"$sfDir"}"""
    // The full line is long (per-query time + spread maps for ~100
    // queries) and the driver's stdout capture has truncated it
    // mid-JSON two rounds running — r11's ~2 KB tail kept only the
    // trailing fields. Emit SHORT, complete lines both before and
    // after the full line: the headline (totals) and a top-10-by-wall
    // line (the plan-audit evidence). Whichever end the capture
    // keeps, both survive; the file copy always holds the full
    // record.
    val headline =
      s"""{"metric":"total","value":$total,"unit":"sec","nqueries":${results.size},""" +
        s""""errors":$errs,"passes":$passTotals,"load":$loadArr,"max_spread":$maxSpread,""" +
        s""""protocol":"min-of-$passes","sf":"$sfDir"}"""
    val top10 = results.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + f2(v) }
      .mkString("""{"metric":"top10_by_wall","queries":{""", ",", "}}")
    println(headline)
    println(top10)
    println(line)
    println(top10)
    println(headline)
    System.err.println(line)
    Files.writeString(Paths.get("BENCH_OUT.json"), line + "\n")
    spark.stop()
  }
}
