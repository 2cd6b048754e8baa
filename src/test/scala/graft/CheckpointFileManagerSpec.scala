package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath, Paths => NioPaths}
import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import scala.jdk.CollectionConverters._

/** The atomic-publish contract Structured Streaming's logs rely on
  * (HDFSMetadataLog, CompactibleFileStreamLog, state-store deltas),
  * held by [[LocalCheckpointFileManager]] on `file:` checkpoints.
  */
class CheckpointFileManagerSpec extends SparkSpec {

  private val conf = new Configuration()

  private def fixture(): (NioPath, LocalCheckpointFileManager) = {
    val dir = NioPaths.get(tempDir("graft-ckpt-fm"))
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }
  private def names(dir: NioPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }
  private def write(m: LocalCheckpointFileManager, p: Path, body: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }
  private def read(m: LocalCheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a file is visible only after close(), and no temp file is left behind") {
    val (dir, m) = fixture()
    val target = new Path(new Path(dir.toUri), "0")
    val out = m.createAtomic(target, overwriteIfPossible = false)
    out.write("v1\n{}".getBytes(UTF_8))
    out.flush()
    assert(!m.exists(target))
    assert(!m.list(new Path(dir.toUri)).exists(_.getPath.getName == "0"))
    out.close()
    assert(m.exists(target))
    assert(read(m, target) === "v1\n{}")
    assert(names(dir) === Set("0"))
    out.close() // a second close publishes nothing new and does not throw
    assert(names(dir) === Set("0"))
  }

  test("cancel() leaves neither the target nor a temp file") {
    val (dir, m) = fixture()
    for (overwrite <- Seq(false, true)) {
      val out = m.createAtomic(new Path(new Path(dir.toUri), "1"), overwrite)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.cancel()
      assert(names(dir).isEmpty, s"overwrite=$overwrite")
    }
  }

  test("overwriteIfPossible = false on an existing target throws Hadoop's exception and keeps the old bytes") {
    val (dir, m) = fixture()
    val target = new Path(new Path(dir.toUri), "2")
    write(m, target, "old", overwrite = false)
    val out = m.createAtomic(target, overwriteIfPossible = false)
    out.write("new".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // what HDFSMetadataLog does after a failed close
    assert(read(m, target) === "old")
    assert(names(dir) === Set("2"))
    // and overwriting is allowed when asked for
    write(m, target, "newer", overwrite = true)
    assert(read(m, target) === "newer")
    assert(names(dir) === Set("2"))
  }

  test("overwriting a Hadoop-written file drops its stale .crc: checksummed reads see the new bytes") {
    val (dir, m) = fixture()
    val target = new Path(new Path(dir.toUri), "3")
    val hadoop = FileSystem.getLocal(conf)
    val o = hadoop.create(target)
    o.write("written by the checksummed local file system".getBytes(UTF_8))
    o.close()
    assert(names(dir).contains(".3.crc"))
    write(m, target, "short", overwrite = true)
    assert(read(m, target) === "short")
    val in = hadoop.open(target) // verifies against a .crc when one exists
    try assert(new String(in.readAllBytes(), UTF_8) === "short") finally in.close()
    assert(names(dir) === Set("3"))
    // the sidecar never shows in a listing
    assert(m.list(new Path(dir.toUri)).map(_.getPath.getName).toSet === Set("3"))
  }

  test("temp names never parse as batch ids, plain or compacted") {
    val (dir, m) = fixture()
    val root = new Path(dir.toUri)
    val open = Seq("4", "5.compact").map(n => m.createAtomic(new Path(root, n), overwriteIfPossible = false))
    try {
      val temps = names(dir)
      assert(temps.size === 2)
      temps.foreach { n =>
        // HDFSMetadataLog and CompactibleFileStreamLog batch-id parsers
        assert(n.toLongOption.isEmpty && n.stripSuffix(".compact").toLongOption.isEmpty, n)
      }
    } finally open.foreach(_.cancel())
    assert(names(dir).isEmpty)
  }

  test("delete: a missing path is a no-op; a file goes with its sidecar; a directory goes whole") {
    val (dir, m) = fixture()
    val root = new Path(dir.toUri)
    m.delete(new Path(root, "absent"))
    m.delete(new Path(root, "absent/child"))
    val hadoop = FileSystem.getLocal(conf)
    hadoop.create(new Path(root, "6")).close()
    assert(names(dir) === Set("6", ".6.crc"))
    m.delete(new Path(root, "6"))
    assert(names(dir).isEmpty)
    write(m, new Path(root, "state/0/1.delta"), "d", overwrite = true)
    m.delete(new Path(root, "state"))
    assert(names(dir).isEmpty)
  }

  test("list of a missing directory throws FileNotFoundException; mkdirs makes it listable") {
    val (dir, m) = fixture()
    val sub = new Path(new Path(dir.toUri), "offsets")
    intercept[java.io.FileNotFoundException](m.list(sub))
    m.mkdirs(sub)
    assert(m.list(sub).isEmpty && m.exists(sub))
  }

  test("createCheckpointDirectory returns the qualified file: root and creates it") {
    val dir = NioPaths.get(tempDir("graft-ckpt-root"))
    val root = dir.resolve("ckpt")
    val m = new LocalCheckpointFileManager(new Path(root.toString), conf)
    val q = m.createCheckpointDirectory()
    assert(q.toUri.getScheme === "file" && q.toUri.getPath === root.toString)
    assert(Files.isDirectory(root))
    assert(m.isLocal)
  }

  test("only file: paths take the java.nio route") {
    assert(LocalCheckpointFileManager.isLocal(new Path("file:/tmp/c"), conf))
    assert(LocalCheckpointFileManager.isLocal(new Path("/tmp/c"), conf))
    assert(!LocalCheckpointFileManager.isLocal(new Path("hdfs://nn:8020/c"), conf))
    val remoteDefault = new Configuration(conf)
    remoteDefault.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!LocalCheckpointFileManager.isLocal(new Path("/tmp/c"), remoteDefault))
  }
}
