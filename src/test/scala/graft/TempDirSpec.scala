package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Spec temp dirs come from `SparkSpec.tempDir`, which deletes them
  * after the suite; a spec that makes its own says why in a comment
  * starting `own temp dir:` on the call's line or one of the two above.
  */
class TempDirSpec extends AnyFunSuite {

  test("createTempDirectory appears in src/test only in SparkSpec.scala or with a reason") {
    val root = Paths.get("src/test/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val call = raw"createTempDirectory\s*\(".r
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "SparkSpec.scala")
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.collect {
          case i if call.findFirstIn(lines(i)).isDefined &&
              !(lines(i) +: lines.slice(i - 2, i)).exists(_.contains("own temp dir:")) =>
            s"${root.relativize(p: Path)}:${i + 1}"
        }
      }.toSeq.sorted
    assert(offenders.isEmpty,
      s"make spec temp dirs with SparkSpec.tempDir: ${offenders.mkString(", ")}")
  }
}
