package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** S1/ST1: the reference's synthetic event generator re-expressed as a
  * Structured Streaming rate source (SURVEY.md §2.1 S1, §2.9 ST1).
  *
  * Reference semantics (/root/reference, cited by file:line):
  *  - one event per `1s/rate` tick for `duration` seconds
  *    (cmd/root.go:119-147): ticker → rate source `rowsPerSecond`;
  *    the bounded run is the caller stopping the query after the
  *    duration (runBounded), the Spark analogue of the reference's
  *    timeout-then-park loop.
  *  - event shape {now, "user-"+uuid, one-of-4 action,
  *    "example-payload"} (internal/generator/generator.go:10-23):
  *    `current_timestamp` is replaced by the rate source's per-row
  *    `timestamp` (event-time friendly), uuid() for the user id,
  *    uniform action choice via rand-indexed element_at.
  *
  * Scale posture: the rate source parallelizes across `numPartitions`;
  * generation is a narrow map — no shuffle, no state.
  */
object SyntheticSource {

  val actions: Seq[String] = Seq("login", "click", "purchase", "logout")

  /** Unbounded synthetic event stream at `rate` events/sec. */
  def events(spark: SparkSession, rate: Long, numPartitions: Int = 1): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rate)
      .option("numPartitions", numPartitions)
      .load()
      .select(
        col("timestamp").as("ts"),
        concat(lit("user-"), expr("uuid()")).as("user_id"),
        element_at(
          array(actions.map(lit): _*),
          (floor(rand() * actions.size) + 1).cast("int")).as("action"),
        lit("example-payload").as("payload"))

  /** Deterministic variant for tests/oracles: user and action derive
    * from the rate-source row value instead of uuid()/rand().
    */
  def eventsDeterministic(spark: SparkSession, rate: Long): DataFrame =
    spark.readStream
      .format("rate").option("rowsPerSecond", rate).load()
      .select(
        col("timestamp").as("ts"),
        concat(lit("user-"), pmod(col("value"), lit(10))).as("user_id"),
        element_at(array(actions.map(lit): _*),
          pmod(col("value"), lit(actions.size)).cast("int") + 1).as("action"),
        lit("example-payload").as("payload"))

  /** ST1 bounded run: let the started query generate for
    * `durationMs` (> 0), drain, stop — the reference's `--duration`
    * contract (cmd/root.go:143-146); "park forever" maps to the driver
    * process staying alive after stop(). A stream that fails first
    * rethrows its `StreamingQueryException` here.
    */
  def runBounded(query: StreamingQuery, durationMs: Long): Unit = {
    val drainGraceMs = 10000L
    if (!query.awaitTermination(durationMs)) {
      // drain what the source generated inside the window before
      // stopping: the reference inserts each generated event inline
      // before its loop exits (cmd/root.go:126-147), so a bounded run
      // never ends with generated-but-uninserted rows — without this,
      // a slow first micro-batch (JVM warmup, loaded host) can make a
      // short run sink nothing at all. Two honest caveats: (a) the
      // drain may also sink rows the rate source generated AFTER the
      // deadline (generation is wall-clock-driven and cannot be
      // frozen), so bounded-run row counts are >= rate*duration, not
      // ==; (b) the drain is WATCHDOG-bounded by `drainGraceMs` —
      // against a source whose micro-batches run slower than
      // generation, processAllAvailable never sees noNewData and an
      // unbounded drain would block forever while compounding (a).
      // When the watchdog fires it WARNS: rows generated but not yet
      // sunk at that moment are dropped, a truncation the caller
      // should be able to see in the logs rather than infer.
      val watchdog = new Thread(() => {
        try {
          Thread.sleep(drainGraceMs)
          if (query.isActive) {
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"runBounded: drain exceeded ${drainGraceMs}ms grace; " +
                "stopping mid-drain — generated-but-unsunk rows are dropped")
            query.stop()
          }
        } catch { case _: InterruptedException => () }
      }, "runBounded-watchdog")
      watchdog.setDaemon(true)
      watchdog.start()
      // returns normally if the watchdog stops the query mid-drain
      try query.processAllAvailable()
      finally watchdog.interrupt()
      query.stop()
    }
  }
}
