package graft.tools

import graft.{LocalSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

/** Steady-state job/stage breakdown for one registered query: warm
  * run first (codegen), clear cache, then a timed run with a listener
  * printing every job's wall and every stage's name + task time.
  * Usage: runMain graft.tools.JobProfile <query> [sfDir]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val q = args.head
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession()
    val fn = SparkEntry.queries(q)
    fn(spark, sfDir).count() // warm
    spark.catalog.clearCache()
    val jobStart = mutable.Map.empty[Int, (Long, String)]
    val lines = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart(e.jobId) = (System.nanoTime(),
          Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.get(e.jobId).foreach { case (t0, desc) =>
          lines += f"job ${e.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.2fs  $desc"
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield (a - b) / 1e3).getOrElse(-1.0)
        val rdds = si.rddInfos.map(_.name).filter(_ != null).distinct
          .mkString(",").take(120)
        lines += f"    stage ${si.stageId}%3d ${wall}%6.2fs tasks=${si.numTasks}%3d  ${si.name.take(60)} rdds=[$rdds]"
        if (wall > 0.4) {
          val scopes = si.rddInfos.flatMap(_.scope)
            .map(_.name).distinct.mkString(" | ")
          lines += s"        scopes: ${scopes.take(300)}"
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val dt = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500)
    lines.foreach(l => System.err.println("[jobprofile] " + l))
    System.err.println(f"[jobprofile] TOTAL $dt%.2fs for $q")
    spark.stop()
  }
}
