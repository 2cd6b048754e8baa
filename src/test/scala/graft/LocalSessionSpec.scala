package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `LocalSession`'s confs, read from the pure `conf` function: a
  * `getOrCreate` here would hand back the shared test session and
  * prove nothing. */
class LocalSessionSpec extends AnyFunSuite {
  private val cores = Runtime.getRuntime.availableProcessors

  test("SPARK_GRAFT_CPUS sets the master and the shuffle partition count") {
    val c = LocalSession.conf(Map("SPARK_GRAFT_CPUS" -> "8")).toMap
    assert(c("spark.master") == "local[8]")
    assert(c("spark.sql.shuffle.partitions") == "8")
  }

  test("unset SPARK_GRAFT_CPUS defaults to the available processors") {
    val c = LocalSession.conf(Map.empty[String, String]).toMap
    assert(c("spark.master") == s"local[$cores]")
    assert(c("spark.sql.shuffle.partitions") == cores.toString)
  }

  test("an explicit partition count overrides the core count, not the master") {
    val c = LocalSession.conf(Map("SPARK_GRAFT_CPUS" -> "2"), Some(32)).toMap
    assert(c("spark.master") == "local[2]")
    assert(c("spark.sql.shuffle.partitions") == "32")
  }

  test("UTC session time zone and no UI") {
    val c = LocalSession.conf(Map.empty[String, String]).toMap
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.ui.enabled") == "false")
  }

  test("SparkSession.builder appears only in LocalSession and IngestorCli") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val builder = raw"SparkSession\s*\.\s*builder\b".r
    val allowed = Set("LocalSession.scala", "IngestorCli.scala")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed(p.getFileName.toString))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_: Path).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"build local sessions through graft.LocalSession: ${offenders.mkString(", ")}")
  }
}
