package graft

import java.nio.file.{Files, Path}
import graft.streaming.StateStore
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (SURVEY.md §5.2#2). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  // the session is shared across suites; the suite's temp dirs are not
  private var tempRoot: Option[Path] = None
  override def afterAll(): Unit = tempRoot.foreach(StateStore.deleteTree)

  /** A fresh directory under this suite's temp root, deleted with the
    * root after the suite's last test.
    */
  protected def tempDir(prefix: String): String = synchronized {
    val root = tempRoot.getOrElse {
      val r = Files.createTempDirectory(s"graft-${getClass.getSimpleName}")
      tempRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix).toString
  }

  /** Start `w`, sink what its source holds now and wait for the query
    * to stop itself, as a `file:` drain does.
    */
  protected def drain(w: DataStreamWriter[Row]): Unit =
    w.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Driver-generated parquet fixtures live outside the repo and are
    * absent on CI runners. Call as the first statement of any test
    * that reads them: the test CANCELS (visible in the report as
    * canceled, not silently green) instead of failing on a machine
    * without the fixtures.
    */
  protected def requireTestdata(): Unit =
    assume(SparkSpec.testdataPresent,
      "driver-generated /root/testdata not present — fixture-bound test skipped")
}

/** Mixin for suites where EVERY test reads the driver fixtures:
  * cancels the whole suite's tests on machines without them.
  */
trait NeedsTestdata extends SparkSpec {
  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome =
    if (SparkSpec.testdataPresent) super.withFixture(test)
    else org.scalatest.Canceled(new org.scalatest.exceptions.TestCanceledException(
      "driver-generated /root/testdata not present — fixture-bound suite skipped", 0))
}

object SparkSpec {
  lazy val testdataPresent: Boolean =
    new java.io.File("/root/testdata/sf0.001").isDirectory

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    // the engine's SparkSessionExtensions hook — exercised in LayoutSpec
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // Spark 4.1's async checkpoint-file checksum writer deadlocks its
    // close() future under rapid stateful micro-batches (all executor
    // task threads park in ChecksumCancellableFSDataOutputStream.close
    // awaiting a result that never arrives); corruption detection on
    // local-disk test checkpoints is not worth a hung suite.
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    .getOrCreate()
}
