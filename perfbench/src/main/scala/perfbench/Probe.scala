package perfbench

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

final case class JobEv(id: Int, startMs: Long, endMs: Long, callSite: String) {
  def ms: Long = endMs - startMs
  def isTableLoad: Boolean = callSite.contains("Tables.scala")
}
final case class StageEv(tasks: Int, runMs: Long, shuffleBytes: Long, spillBytes: Long)
/** Catalyst phase name -> (start, end) in epoch ms, from `qe.tracker`. */
final case class QeEv(func: String, phases: Map[String, (Long, Long)]) {
  def phaseMs(p: String): Long = phases.get(p).map { case (s, e) => e - s }.getOrElse(0L)
}
final case class Progress(batchId: Long, startMs: Long, rows: Long, durations: Map[String, Long])

/** Everything the listeners saw between two [[Probe.take]] calls. */
final case class Segment(
    jobs: Seq[JobEv], stages: Seq[StageEv], tasks: Seq[(Long, Long)], sqlExecs: Seq[(Long, Long)],
    qes: Seq[QeEv], progress: Seq[Progress]) {
  def loadJobs: Seq[JobEv] = jobs.filter(_.isTableLoad)
  def otherJobs: Seq[JobEv] = jobs.filterNot(_.isTableLoad)
  /** Wall covered by SQL executions but not by a Catalyst phase: jobs
    * plus the driver work between them (adaptive re-planning, codegen,
    * broadcast builds). A command's optimization and planning run inside
    * its SQL execution, so they are taken out to keep the layers disjoint.
    */
  def execMs: Long = {
    val catalyst = qes.flatMap(_.phases.values)
    Stats.unionLength(sqlExecs ++ catalyst) - Stats.unionLength(catalyst)
  }
  def taskUnionMs: Long = Stats.unionLength(tasks)
  def catalystMs(p: String): Long = qes.map(_.phaseMs(p)).sum
}

/** Layer probe built only from Spark's public listener callbacks: the
  * scheduler (jobs, stages, tasks), Catalyst (`qe.tracker` phases via a
  * QueryExecutionListener) and Structured Streaming progress
  * (`durationMs`). Registered only for traced runs.
  */
final class Probe(spark: SparkSession) {
  private val lock = new Object
  private val jobs = ArrayBuffer.empty[JobEv]
  private val open = scala.collection.mutable.HashMap.empty[Int, (Long, String)]
  private val stages = ArrayBuffer.empty[StageEv]
  private val tasks = ArrayBuffer.empty[(Long, Long)]
  private val openSql = scala.collection.mutable.HashMap.empty[Long, Long]
  private val sqlExecs = ArrayBuffer.empty[(Long, Long)]
  private val qes = ArrayBuffer.empty[QeEv]
  private val progress = ArrayBuffer.empty[Progress]

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
      open(e.jobId) = (e.time, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      open.remove(e.jobId).foreach { case (t0, site) => jobs += JobEv(e.jobId, t0, e.time, site) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages += StageEv(i.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => openSql(s.executionId) = s.time
        case s: SparkListenerSQLExecutionEnd =>
          openSql.remove(s.executionId).foreach(t0 => sqlExecs += ((t0, s.time)))
        case _ =>
      }
    }
  }

  private val catalyst = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.map { case (k, s) => k -> (s.startTimeMs, s.endTimeMs) }
      lock.synchronized { qes += QeEv(func, ph) }
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streaming = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val durations = d.keySet().toArray.map(_.toString).map(k => k -> d.get(k).longValue).toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      lock.synchronized { progress += Progress(p.batchId, start, p.numInputRows, durations) }
    }
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streaming)
    this
  }

  def detach(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streaming)
  }

  /** Waits for the listener bus to deliver everything posted so far,
    * then returns and clears what was collected.
    */
  def take(): Segment = {
    ListenerBusDrain(spark.sparkContext)
    lock.synchronized {
      val s = Segment(jobs.toVector, stages.toVector, tasks.toVector, sqlExecs.toVector,
        qes.toVector, progress.toVector)
      jobs.clear(); stages.clear(); tasks.clear(); sqlExecs.clear(); qes.clear(); progress.clear()
      s
    }
  }
}

/** In-memory span log: name, start, end, parent and run id, written as
  * JSON when the run ends. Self time of a span is its duration minus the
  * part of it covered by its children.
  */
final class Tracer(val runId: String) {
  final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)
  private val spans = ArrayBuffer.empty[Span]

  def add(parent: Int, name: String, startUs: Long, endUs: Long): Int = synchronized {
    val id = spans.size + 1
    spans += Span(id, parent, name, startUs, math.max(startUs, endUs))
    id
  }

  /** Self time per span name, in ms, summed over all spans. */
  def selfMs: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Stats.unionLength(kids.get(s.id).fold(Seq.empty[Span])(_.toSeq)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
        (s.endUs - s.startUs - covered) / 1000.0
      }.sum
    }
  }

  def toJson(extra: Map[String, Any]): String = synchronized {
    Json.encode(extra ++ Map(
      "run_id" -> runId,
      "self_ms" -> selfMs,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "run_id" -> runId))))
  }
}
