package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Structured Streaming checkpoint files (offset WAL, commit log,
  * file-source log, state-store deltas) written through `java.nio` for
  * `file:` checkpoints; every other scheme gets Spark's default manager
  * unchanged.
  *
  * Why: without libhadoop, Hadoop's local file system sets each new
  * file's permission by forking `chmod`, and Spark's default
  * `createAtomic` pays that on every log entry — ~35 ms per file, three
  * files per CDC micro-batch. Here a log entry is a hidden temp file
  * in the target directory, published on `close()`:
  *
  *  - `overwriteIfPossible = true`: `Files.move(…, ATOMIC_MOVE)`;
  *  - otherwise `Files.createLink` then drop the temp, so an existing
  *    target fails atomically with Hadoop's `FileAlreadyExistsException`
  *    and keeps its bytes — what `HDFSMetadataLog` relies on to detect
  *    a second query on the same checkpoint.
  *
  * No `.crc` sidecars are written. Reads go through
  * `RawLocalFileSystem`, which skips checksums, and a replaced or
  * deleted file loses its old sidecar, so checkpoints written by
  * Spark's default manager stay readable either way.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocal(path, hadoopConf)) new NioCheckpointFiles(path, hadoopConf)
    else {
      // Spark's own choice for the scheme, minus this override
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private[graft] def isLocal(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Runs `body` with this manager registered on the session, unless
    * the session already names a manager; the session is left as it
    * was. `body` must span the query's whole life, not just its start:
    * the offset and commit logs read the conf of the session clone
    * taken at start, but a file source builds its log later, from the
    * conf of the session it was defined on.
    */
  def registeredFor[T](spark: SparkSession)(body: => T): T =
    if (spark.conf.getOption(ConfKey).isDefined) body
    else {
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
      try body finally spark.conf.unset(ConfKey)
    }
}

/** The `file:` half of [[LocalCheckpointFileManager]]. */
private final class NioCheckpointFiles(root: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val raw = {
    val fs = new RawLocalFileSystem()
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def local(p: Path) = Paths.get(p.toUri.getPath)
  private def sidecar(f: java.nio.file.Path) = f.resolveSibling(s".${f.getFileName}.crc")
  private def isSidecar(name: String) = name.startsWith(".") && name.endsWith(".crc")

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = local(p)
    Files.createDirectories(target.getParent)
    // leading dot and `.tmp` suffix: never a batch id to Spark's log parsers
    val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    new CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
      private var finished = false

      override def close(): Unit = if (!finished) {
        finished = true
        try {
          super.close()
          if (overwriteIfPossible) {
            // sidecar first: new bytes must never meet the old checksum
            Files.deleteIfExists(sidecar(target))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else
            try Files.createLink(target, temp)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$p already exists")
            }
        } finally Files.deleteIfExists(temp)
      }

      // after close() the temp is already gone, published or not
      override def cancel(): Unit = if (!finished) {
        finished = true
        try super.close() catch { case NonFatal(_) => () }
        finally Files.deleteIfExists(temp)
      }
    }
  }

  override def open(p: Path): FSDataInputStream = raw.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    val entries =
      try Files.list(local(p))
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist") }
    try entries.iterator.asScala
      .map(f => (f, new Path(p, f.getFileName.toString)))
      // sidecars are hidden, as Hadoop's checksummed local file system hides them
      .filter { case (f, child) => !isSidecar(f.getFileName.toString) && filter.accept(child) }
      .flatMap { case (f, child) =>
        // an entry deleted since the listing is simply not listed
        try {
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, raw.getDefaultBlockSize(child),
            a.lastModifiedTime.toMillis, child))
        } catch { case _: NoSuchFileException => None }
      }
      .toArray
    finally entries.close()
  }

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def exists(p: Path): Boolean = Files.exists(local(p))

  override def delete(p: Path): Unit = {
    val f = local(p)
    if (Files.isDirectory(f)) StateStore.deleteTree(f)
    else {
      Files.deleteIfExists(f)
      Files.deleteIfExists(sidecar(f))
    }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val qualified = raw.makeQualified(root)
    mkdirs(qualified)
    qualified
  }
}
