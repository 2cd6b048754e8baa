package graft

import graft.streaming.StateStore
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class IndexCacheSpec extends AnyFunSuite {

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  /** A dataset dir with a unique basename holding one "embeddings"
    * table; only its mtime matters to the cache key.
    */
  private def dataset(): Path = {
    // own temp dir: no Spark session here, and `cleanup` deletes the
    // dataset together with the cache entries named after it
    val d = Files.createTempDirectory("idxcache-ds")
    Files.createDirectories(d.resolve("embeddings.parquet"))
    d
  }

  private def build(family: String, d: Path): (String, Boolean) = {
    var built = false
    val dir = IndexCache.getOrBuild(family, d.toString, Seq("embeddings"),
        "stats/_SUCCESS") { out =>
      built = true
      Files.createDirectories(Paths.get(out, "stats"))
      Files.writeString(Paths.get(out, "stats/_SUCCESS"), "")
    }
    (dir, built)
  }

  /** Every cache entry of dataset `d`, whatever its family. */
  private def entries(d: Path): Seq[Path] =
    tmp.toFile.listFiles().toSeq.map(_.toPath)
      .filter(_.getFileName.toString.contains(s"-${d.getFileName}-"))

  private def cleanup(d: Path): Unit =
    (entries(d) :+ d).foreach(StateStore.deleteTree)

  test("the sampled and the trained IVF index of one dataset get distinct directories") {
    val d = dataset()
    try {
      assert(IndexCache.IvfIndex != IndexCache.IvfTrainedIndex)
      val (sampled, b1) = build(IndexCache.IvfIndex, d)
      val (trained, b2) = build(IndexCache.IvfTrainedIndex, d)
      assert(b1 && b2, "each family builds its own index")
      assert(sampled != trained)
      // a second lookup is a hit in both families
      assert(build(IndexCache.IvfIndex, d) === ((sampled, false)))
      assert(build(IndexCache.IvfTrainedIndex, d) === ((trained, false)))
      assert(Paths.get(sampled).getFileName.toString ===
        s"${IndexCache.IvfIndex}-${d.getFileName}-" +
          Files.getLastModifiedTime(d.resolve("embeddings.parquet")).toMillis)
    } finally cleanup(d)
  }

  test("a regenerated source rebuilds and sweeps only its own family's stale entry") {
    val d = dataset()
    try {
      val (oldIvf, _) = build(IndexCache.IvfIndex, d)
      val (trained, _) = build(IndexCache.IvfTrainedIndex, d)
      // same family and dataset, but not the <digits> cache-key shape
      val decoy = tmp.resolve(s"${IndexCache.IvfIndex}-${d.getFileName}-v2")
      Files.createDirectories(decoy)
      val src = d.resolve("embeddings.parquet")
      Files.setLastModifiedTime(src, FileTime.fromMillis(
        Files.getLastModifiedTime(src).toMillis + 60000L))
      val (newIvf, built) = build(IndexCache.IvfIndex, d)
      assert(built && newIvf != oldIvf)
      assert(!Files.exists(Paths.get(oldIvf)), "stale entry of the rebuilt family")
      assert(Files.isDirectory(Paths.get(trained)), "another family's entry")
      assert(Files.isDirectory(decoy), "a name outside the cache-key shape")
    } finally cleanup(d)
  }

  test("java.io.tmpdir is read only in IndexCache.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "IndexCache.scala")
      .filter(p => Files.readString(p).contains("java.io.tmpdir"))
      .map(root.relativize(_: Path).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"cache temp-dir artifacts through graft.IndexCache: ${offenders.mkString(", ")}")
  }
}
