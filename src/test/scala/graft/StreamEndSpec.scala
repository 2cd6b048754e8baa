package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One way to end an ingest run: a stream ends in `awaitTermination`,
  * and only the synthetic `--duration` drain waits for "all available".
  */
class StreamEndSpec extends AnyFunSuite {

  test("processAllAvailable appears in src/main only in SyntheticSource.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "SyntheticSource.scala")
      .filter(p => Files.readString(p).contains("processAllAvailable"))
      .map(root.relativize(_: Path).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"end streams in awaitTermination (Trigger.AvailableNow for a finite drain): ${offenders.mkString(", ")}")
  }
}
