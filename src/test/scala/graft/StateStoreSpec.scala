package graft

import graft.streaming.{StateStore, StreamingDeltaSum, StreamingIvf,
  StreamingNgramLm, StreamingPostings}
import graft.streaming.StateStore.Pointer
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class StateStoreSpec extends SparkSpec {
  import spark.implicits._

  private def store(): String = tempDir("s")
  private def pointerFile(dir: String) = Paths.get(dir, "_CURRENT")
  private def writePointerText(dir: String, text: String): Unit =
    Files.writeString(pointerFile(dir), text)
  private def versions(dir: String, prefix: String = "state-"): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith(prefix)).sorted.toSeq

  test("every pointer format written so far reads back and rewrites byte-identically") {
    val formats = Seq(
      "3 7" -> Pointer(3L, 7L),
      "3 7 -9223372036854775808" -> Pointer(3L, 7L, Seq(Long.MinValue)),
      "3 7 120" -> Pointer(3L, 7L, Seq(120L)),
      "3 7 40 812 5" -> Pointer(3L, 7L, Seq(40L, 812L, 5L)),
      "3 7 300 -1 2" -> Pointer(3L, 7L, Seq(300L, -1L, 2L)))
    for ((text, ptr) <- formats) {
      val dir = store()
      writePointerText(dir, text)
      assert(StateStore.pointer(dir) === ptr, text)
      assert(StateStore.readPointer(dir) === ((3L, 7L)), text)
      StateStore.publish(dir, StateStore.pointer(dir))
      assert(Files.readString(pointerFile(dir)) === text)
    }
  }

  test("each payload store decodes its own pointer fields") {
    val dir = store()
    writePointerText(dir, "3 7 -9223372036854775808")
    assert(StreamingDeltaSum.readPointer(dir) === ((3L, 7L, Long.MinValue)))
    writePointerText(dir, "3 7 120")
    assert(StreamingNgramLm.readPointer(dir) === ((3L, 7L, 120L)))
    writePointerText(dir, "3 7 40 812 5")
    assert(StreamingPostings.readPointer(dir) === ((3L, 7L, 40L, 812L, 5L)))
    writePointerText(dir, "3 7 300 -1 2")
    assert(StreamingIvf.readPointer(dir) === ((3L, 7L, 300L, -1L, 2L)))
    // before the first commit: (0, -1) and each store's initial payload
    val empty = store()
    assert(StateStore.readPointer(empty) === ((0L, -1L)))
    assert(StreamingDeltaSum.readPointer(empty) === ((0L, -1L, Long.MinValue)))
    assert(StreamingNgramLm.readPointer(empty) === ((0L, -1L, 0L)))
    assert(StreamingPostings.readPointer(empty) === ((0L, -1L, 0L, 0L, -1L)))
    assert(StreamingIvf.readPointer(empty) === ((0L, -1L, 0L, -1L, 0L)))
  }

  test("a commit hands the write the current pointer and stores its payload") {
    val dir = store()
    writePointerText(dir, "3 7 -9223372036854775808")
    var seen: Option[(Pointer, Long)] = None
    assert(StateStore.commit(dir, 8L, initial = Seq(Long.MinValue)) {
      (cur, next) => seen = Some((cur, next)); Seq(42L)
    })
    assert(seen === Some((Pointer(3L, 7L, Seq(Long.MinValue)), 4L)))
    assert(Files.readString(pointerFile(dir)) === "4 8 42")
  }

  test("a replayed batchId is a no-op: no write, pointer unchanged") {
    val dir = store()
    assert(StateStore.commit(dir, 5L)((_, next) => {
      Files.createDirectories(Paths.get(dir, s"state-$next")); Nil
    }))
    assert(StateStore.readPointer(dir) === ((1L, 5L)))
    for (replay <- Seq(5L, 4L, 0L)) {
      var wrote = false
      assert(!StateStore.commit(dir, replay)((_, _) => { wrote = true; Nil }))
      assert(!wrote, s"batch $replay was re-applied")
    }
    assert(StateStore.readPointer(dir) === ((1L, 5L)))
    assert(Files.readString(pointerFile(dir)) === "1 5")
  }

  test("an orphaned state-<next> from a lost pointer move is overwritten") {
    val dir = store()
    def fold(batchId: Long, rows: Seq[(String, Long)]): Boolean =
      StateStore.fold(dir, batchId, rows.toDF("k", "n"))(
        _.groupBy("k").sum("n").withColumnRenamed("sum(n)", "n"))
    assert(fold(0L, Seq("a" -> 1L, "b" -> 2L)))
    // the crash window: state-2 written with junk, pointer still at 1
    Seq("z" -> 99L).toDF("k", "n").write.parquet(s"$dir/state-2")
    assert(StateStore.readPointer(dir) === ((1L, 0L)))
    assert(fold(1L, Seq("a" -> 10L)))
    val got = StateStore.readVersioned(spark, dir, Seq("" -> 0L).toDF("k", "n"))
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 11L, "b" -> 2L))
    assert(StateStore.readPointer(dir) === ((2L, 1L)))
  }

  test("cleanup deletes every version at or below next-2, across gaps") {
    val dir = store()
    // a crash mid-cleanup left state-1 behind a gap at state-2
    Seq("state-1", "state-3", "state-4")
      .foreach(v => Files.createDirectories(Paths.get(dir, v)))
    writePointerText(dir, "4 3")
    // names that only look like versions are never touched
    val decoys = Seq("state-1-tmp", "state-x", "stateful-1")
    decoys.foreach(v => Files.createDirectories(Paths.get(dir, v)))
    assert(StateStore.commit(dir, 4L)((_, next) => {
      Files.createDirectories(Paths.get(dir, s"state-$next")); Nil
    }))
    assert(versions(dir).filterNot(decoys.contains) === Seq("state-4", "state-5"))
    assert(decoys.forall(d => Files.isDirectory(Paths.get(dir, d))))
  }

  test("every listed prefix follows the same cleanup rule") {
    val dir = store()
    for (v <- 1 to 4; p <- Seq("open-", "tomb-"))
      Files.createDirectories(Paths.get(dir, s"$p$v"))
    writePointerText(dir, "4 9")
    StateStore.commit(dir, 10L, prefixes = Seq("open-", "tomb-")) {
      (_, next) =>
        Seq("open-", "tomb-")
          .foreach(p => Files.createDirectories(Paths.get(dir, s"$p$next")))
        Nil
    }
    assert(versions(dir, "open-") === Seq("open-4", "open-5"))
    assert(versions(dir, "tomb-") === Seq("tomb-4", "tomb-5"))
  }

  test("the pointer file is named only in StateStore.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "StateStore.scala")
      .filter(p => Files.readString(p).contains("_CURRENT"))
      .map(root.relativize(_: Path).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"read and move store pointers through StateStore: ${offenders.mkString(", ")}")
  }
}
