package graft

import org.apache.spark.sql.SparkSession

/** The one in-process session every local main runs on (Bench, Verify,
  * ScaleBench, tools/): `local[n]` with n = SPARK_GRAFT_CPUS, or the
  * JVM's available processors when unset, n shuffle partitions, UTC
  * session time zone, no UI, WARN logging. `IngestorCli` and the test
  * session build their own: their master and confs differ.
  */
object LocalSession {
  private def cpus(env: collection.Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Session confs; `shufflePartitions` defaults to the core count. */
  def conf(env: collection.Map[String, String],
           shufflePartitions: Option[Int] = None): Seq[(String, String)] = {
    val n = cpus(env)
    Seq(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> shufflePartitions.getOrElse(n).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
  }

  def apply(shufflePartitions: Option[Int] = None): SparkSession = {
    val spark = conf(sys.env, shufflePartitions)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
