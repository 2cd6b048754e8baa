package graft

import graft.functions.BitmapAgg
import graft.functions.BitmapAgg._
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** A41 exact bitmap set algebra: every face equals plain Set
  * arithmetic on the same ids, state building is slice/repartition
  * stable (the merge path is exercised, not just reduce), and the
  * 64-bit container boundaries (negative longs, > 2^32 ids) survive
  * the portable serialization roundtrip.
  */
class BitmapAggSpec extends SparkSpec {
  import spark.implicits._

  private def rnd = new scala.util.Random(41)

  // deterministic overlapping id sets, including ids beyond 2^32 and
  // negative longs (distinct Roaring64 high-part containers)
  private val idsA: Seq[Long] =
    (1L to 400L) ++ Seq(1L << 33, (1L << 41) + 7, -5L, -1L << 40) ++ (10_000L to 10_050L)
  private val idsB: Seq[Long] =
    (200L to 600L) ++ Seq(1L << 33, -5L) ++ (10_025L to 10_100L)

  private def setA = idsA.toSet
  private def setB = idsB.toSet

  test("A41: build + every read face equals Set arithmetic, including 64-bit container ids") {
    val df = idsA.map(v => ("a", v)).union(idsB.map(v => ("b", v)))
      .toDF("seg", "id")
      // duplicate every row: bitmaps must be idempotent on repeats
      .union(idsA.map(v => ("a", v)).toDF("seg", "id"))
      .repartition(7)
    val st = df.groupBy("seg").agg(bitmapAgg(col("id")).as("st"))
    val wide = st.groupBy().pivot("seg", Seq("a", "b")).agg(first(col("st")))
    val row = wide.select(
      bitmapCardinality(col("a")),
      bitmapAndCardinality(col("a"), col("b")),
      bitmapOrCardinality(col("a"), col("b")),
      bitmapAndnotCardinality(col("a"), col("b")),
      bitmapXorCardinality(col("a"), col("b")),
      bitmapMin(col("a")), bitmapMax(col("a")),
      bitmapContains(col("a"), lit(1L << 33)),
      bitmapContains(col("a"), lit(999_999L)))
      .as[(Long, Long, Long, Long, Long, Long, Long, Boolean, Boolean)]
      .collect().head
    assert(row == ((
      setA.size.toLong, (setA & setB).size.toLong,
      (setA | setB).size.toLong, (setA -- setB).size.toLong,
      ((setA | setB) -- (setA & setB)).size.toLong,
      setA.min, setA.max, true, false)))

    val members = wide.select(bitmapToArray(bitmapAndnot(col("a"), col("b"))))
      .as[Array[Long]].collect().head
    assert(members.toSeq == (setA -- setB).toSeq.sorted)
    val inter = wide.select(bitmapToArray(bitmapAnd(col("a"), col("b"))))
      .as[Array[Long]].collect().head
    assert(inter.toSeq == (setA & setB).toSeq.sorted)
    val union = wide.select(bitmapToArray(bitmapOr(col("a"), col("b"))))
      .as[Array[Long]].collect().head
    assert(union.toSeq == (setA | setB).toSeq.sorted)
  }

  test("A41: slice-wise partial build + OrAgg merge is bit-identical to the direct state") {
    val df = idsA.map(v => Tuple1(v)).toDF("id")
    val direct = df.agg(bitmapAgg(col("id"))).as[Array[Byte]].collect().head
    // 5 disjoint slices, each its own partial state, then OR over states
    val partials = (0 until 5).map(i =>
      df.where(pmod(col("id"), lit(5)) === i).agg(bitmapAgg(col("id")).as("st")))
    val merged = partials.reduce(_ union _)
      .agg(bitmapOrAgg(col("st"))).as[Array[Byte]].collect().head
    assert(java.util.Arrays.equals(direct, merged),
      "sliced OR-merge must be byte-identical to the direct build")
    assert(BitmapAgg.fromBytes(merged).getLongCardinality == setA.size.toLong)
  }

  test("A41: AndAgg / XorAgg over a state table equal all-members / odd-membership sets") {
    val rows = Seq(
      ("s1", Seq(1L, 2L, 3L, 4L, 1L << 35)),
      ("s2", Seq(2L, 3L, 4L, 5L, 1L << 35)),
      ("s3", Seq(3L, 4L, 5L, 6L, 1L << 35)))
    val st = rows.flatMap { case (s, ids) => ids.map((s, _)) }
      .toDF("seg", "id").repartition(4)
      .groupBy("seg").agg(bitmapAgg(col("id")).as("st"))
    val (andM, xorM) = st
      .agg(bitmapAndAgg(col("st")).as("a"), bitmapXorAgg(col("st")).as("x"))
      .select(bitmapToArray(col("a")), bitmapToArray(col("x")))
      .as[(Array[Long], Array[Long])].collect().head
    val sets = rows.map(_._2.toSet)
    val expectAnd = sets.reduce(_ & _)
    val expectXor = (sets.flatMap(_.toSeq)
      .groupBy(identity).collect { case (v, occ) if occ.size % 2 == 1 => v }).toSet
    assert(andM.toSeq == expectAnd.toSeq.sorted)
    assert(xorM.toSeq == expectXor.toSeq.sorted)
  }

  test("A41: nulls are skipped, the empty state is exact-zero on every face") {
    val df = Seq[(String, Option[Long])](("g", None), ("g", None))
      .toDF("seg", "id")
    val row = df.groupBy("seg").agg(bitmapAgg(col("id")).as("st"))
      .select(bitmapCardinality(col("st")), bitmapMin(col("st")),
        bitmapMax(col("st")), bitmapToArray(col("st")))
      .as[(Long, Option[Long], Option[Long], Array[Long])].collect().head
    assert(row._1 == 0L && row._2.isEmpty && row._3.isEmpty && row._4.isEmpty)
    // AndAgg over zero non-null states finishes empty (the CH posture)
    val empty = df.limit(0).agg(bitmapAndAgg(lit(null).cast("binary")))
      .as[Array[Byte]].collect().head
    assert(BitmapAgg.fromBytes(empty).isEmpty)
  }

  test("ST21 streaming bitmap store: per-batch folds EXACTLY equal the batch aggregate; replay no-op; crash heal incl. planted orphans; exact set algebra + contains live") {
    import graft.streaming.{StateStore, StreamingBitmap}
    val rnd = new scala.util.Random(31)
    // (row_id, segment, member_id) — overlapping member sets per
    // segment, with repeats across batches (OR must absorb them) and
    // ids spanning signed/unsigned container boundaries
    val pool = (0 until 260).map(_.toLong) ++
      Seq(1L << 33, (1L << 41) + 7, -5L, -99L)
    val all = (0 until 900).map { i =>
      (i.toLong, if (rnd.nextInt(2) == 0) "buy" else "err",
        pool(rnd.nextInt(pool.size)))
    }
    val dir = tempDir("bm-store")
    def template = StreamingBitmap.partialState(
      all.take(1).toDF("id", "seg", "m"), Seq("seg"), col("m"))
    def counts() = StreamingBitmap.currentCardinalities(
      spark, dir, Seq("seg"), template)
      .as[(String, Long)].collect().toMap
    val batches = all.grouped(300).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingBitmap.applyBatch(b.toDF("id", "seg", "m"),
        Seq("seg"), col("m"), dir, batchId = i.toLong)
      val seen = all.take((i + 1) * 300)
      val expect = seen.groupBy(_._2).map { case (s, rs) =>
        s -> rs.map(_._3).distinct.size.toLong }
      assert(counts() === expect, s"batch $i") // EXACT, not estimate
    }
    // replay of a committed batch must change nothing
    val before = counts()
    StreamingBitmap.applyBatch(batches(1).toDF("id", "seg", "m"),
      Seq("seg"), col("m"), dir, batchId = 1L)
    assert(counts() === before)
    assert(StateStore.readPointer(dir) === ((3L, 2L)))
    // crash-window: plant TWO orphaned versions (a crash between
    // writePointer and the cleanup loop on consecutive commits);
    // the downward walk must remove both on the next apply
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "state-1"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "state-4"))
    StreamingBitmap.applyBatch(
      Seq((9000L, "buy", 777_000L)).toDF("id", "seg", "m"),
      Seq("seg"), col("m"), dir, batchId = 3L)
    assert(StateStore.readPointer(dir) === ((4L, 3L)))
    val versions = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("state-")).sorted.toSeq
    assert(versions === Seq("state-3", "state-4"))
    // exact set algebra between segments, answered from state alone
    val ext = all :+ ((9000L, "buy", 777_000L))
    val aSet = ext.filter(_._2 == "buy").map(_._3).toSet
    val bSet = ext.filter(_._2 == "err").map(_._3).toSet
    val alg = StreamingBitmap.segmentAlgebra(
      spark, dir, "seg", "buy", "err", template)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(alg === ((aSet.size.toLong, bSet.size.toLong,
      (aSet intersect bSet).size.toLong, (aSet diff bSet).size.toLong,
      (aSet union bSet).size.toLong,
      ((aSet diff bSet) union (bSet diff aSet)).size.toLong)))
    // suppression-list membership probe
    assert(StreamingBitmap.contains(spark, dir, "seg", "buy",
      777_000L, template).as[Boolean].collect().head)
    assert(!StreamingBitmap.contains(spark, dir, "seg", "err",
      777_000L, template).as[Boolean].collect().head)
  }

  test("ST21 streaming bitmap store: end-to-end through foreachBatch on a MemoryStream") {
    import graft.streaming.{StateStore, StreamingBitmap}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = tempDir("bm-ms")
    val ckpt = tempDir("bm-ck")
    val in = MemoryStream[(Long, String, Long)]
    val q = StateStore.maintain(in.toDF().toDF("id", "seg", "m"), ckpt)(
      StreamingBitmap.applyBatch(_, Seq("seg"), col("m"), dir, _)).start()
    val rnd = new scala.util.Random(37)
    val all = (0 until 400).map(i =>
      (i.toLong, if (i % 3 == 0) "buy" else "err", rnd.nextInt(120).toLong))
    try {
      in.addData(all.take(250): _*)
      q.processAllAvailable()
      in.addData(all.drop(250): _*)
      q.processAllAvailable()
    } finally q.stop()
    val template = StreamingBitmap.partialState(
      all.take(1).toDF("id", "seg", "m"), Seq("seg"), col("m"))
    val got = StreamingBitmap.currentCardinalities(
      spark, dir, Seq("seg"), template)
      .as[(String, Long)].collect().toMap
    val expect = all.groupBy(_._2).map { case (s, rs) =>
      s -> rs.map(_._3).distinct.size.toLong }
    assert(got === expect)
  }

  test("A41: portable serialization roundtrips the container zoo (array/run/bitset, multi-high)") {
    val m = new Roaring64NavigableMap()
    // run container (dense range), array container (sparse), bitmap
    // container (alternating), spread across three high-32 words
    (0L until 8192L).foreach(m.addLong)                 // run
    (1L << 33 to (1L << 33) + 100L by 7L).foreach(m.addLong) // array
    (2L << 33 until (2L << 33) + 16384L by 2L).foreach(m.addLong) // bitset
    m.addLong(-42L)
    val rt = BitmapAgg.fromBytes(BitmapAgg.toBytes(m))
    assert(rt.equals(m))
    assert(rt.getLongCardinality == m.getLongCardinality)
  }
}
