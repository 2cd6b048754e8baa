package graft.tools

import graft.{LocalSession, SparkEntry}

/** Local iteration helper: time a comma-separated subset of the
  * registry (SPARK_GRAFT_ONLY, same contract as Verify's filter) at
  * SPARK_GRAFT_SF_DIR with the Bench warm-then-min-of-2 protocol.
  * Bench stays the round's official number; this exists so a plan
  * change can be costed on its own queries without a full 110-query
  * pass.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = LocalSession()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (name, _) => only.forall(_.contains(name))
    }
    val passes = sys.env.getOrElse("SPARK_GRAFT_TIME_PASSES", "2").toInt
    selected.foreach { case (_, fn) => fn(spark, sfDir).count() } // warm
    spark.catalog.clearCache()
    val timed = selected.map { case (name, fn) =>
      val best = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }.min
      name -> best
    }
    timed.foreach { case (n, t) => println(f"$n%-24s $t%.2fs") }
    println(f"TOTAL ${timed.map(_._2).sum}%.2fs")
    spark.stop()
  }
}
