package graft.tools

import graft.{LocalSession, SparkEntry}

/** Optimization-round survey: rank every registered query by
  * formatted-plan size and planning wall — plan size is the proxy for
  * driver-side analysis/optimizer cost (guide §7.3), which the r22
  * Cox fusion showed can dominate small-SF wall. Prints one line per
  * query: planMillis, planChars, exchanges, scans.
  */
object PlanSizes {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(shufflePartitions = Some(32))
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (q <- names) {
      try {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val ms = (System.nanoTime() - t0) / 1e6
        val ex = "Exchange".r.findAllIn(txt).size
        val sc = "Scan parquet".r.findAllIn(txt).size
        println(f"PLANSIZE $q%-28s ${ms}%8.0f ms ${txt.length}%9d ch ex=$ex%-4d scan=$sc")
      } catch {
        case e: Throwable => println(s"PLANSIZE $q FAILED ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
