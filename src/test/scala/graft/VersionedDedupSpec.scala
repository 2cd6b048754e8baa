package graft

import graft.operators.VersionedDedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** W1 invariants (SURVEY.md §5.2#3): unique keys, max version kept,
  * replay idempotence, window ≡ max_by formulations. Property-style
  * over seeded ScalaCheck generators (scalatestplus bridge not
  * available offline — fixed seeds keep runs reproducible).
  */
class VersionedDedupSpec extends SparkSpec {
  import spark.implicits._

  private val rowsGen = Gen.listOfN(60,
    for {
      id <- Gen.choose(0L, 9L)
      lsn <- Gen.choose(0L, 20L)
      op <- Gen.choose(1, 3)
      del <- Gen.oneOf(0, 0, 0, 1)
    } yield (id, lsn, op, del))

  private def samples(n: Int): Seq[List[(Long, Long, Int, Int)]] =
    (1 to n).flatMap(i => rowsGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("latestByVersion: one row per key, and it carries the max version") {
    samples(10).foreach { rows =>
      val df = rows.toDF("id", "_lsn", "_op", "is_deleted")
      val out = VersionedDedup.latestByVersion(df, Seq("id"), col("_lsn"), Seq(col("_op")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val expect = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      assert(out.map(_._1).distinct.size === out.size)
      assert(out.toMap === expect)
    }
  }

  test("replay idempotence: dedup(df union df) == dedup(df)") {
    samples(6).foreach { rows =>
      val df = rows.toDF("id", "_lsn", "_op", "is_deleted")
      def norm(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(
        norm(VersionedDedup.latestByVersion(df.union(df), Seq("id"), col("_lsn"), Seq(col("_op")))) ===
        norm(VersionedDedup.latestByVersion(df, Seq("id"), col("_lsn"), Seq(col("_op")))))
    }
  }

  test("window and max_by formulations agree") {
    samples(6).foreach { rows =>
      val df = rows.toDF("id", "_lsn", "_op", "is_deleted")
      // collapse duplicate version vectors first: beyond (_lsn, _op)
      // both formulations tiebreak arbitrarily
      val uniq = df.dropDuplicates("id", "_lsn", "_op")
      val win = VersionedDedup.latestByVersion(uniq, Seq("id"), col("_lsn"), Seq(col("_op")))
        .select("id", "_lsn", "_op").collect().map(_.toSeq).sortBy(_.toString).toSeq
      val agg = VersionedDedup.latestByVersionAgg(uniq, Seq("id"), Seq("_lsn", "_op"))
        .select("id", "_lsn", "_op").collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(win === agg)
    }
  }

  test("currentState drops rows whose surviving version is a delete") {
    val df = Seq(
      (1L, 1L, 0), (1L, 2L, 1),           // id 1: latest is delete → gone
      (2L, 5L, 1), (2L, 9L, 0)            // id 2: latest is live → kept
    ).toDF("id", "_lsn", "is_deleted")
    val out = VersionedDedup.currentState(df, Seq("id"), col("_lsn"),
      col("is_deleted") === 1).select("id").as[Long].collect().toSeq
    assert(out === Seq(2L))
  }

  test("scd2History: intervals chain per key and match an in-memory reference") {
    samples(8).foreach { rows =>
      // version must totally order changes within a key
      val uniq = rows.groupBy(r => (r._1, r._2, r._3)).map(_._2.head).toList
      val df = uniq.toDF("id", "_lsn", "_op", "is_deleted")
      val out = VersionedDedup.scd2History(df, Seq("id"),
        version = col("_lsn") * 10 + col("_op"),
        effectiveTs = (col("_lsn") * 100 + col("_op")).cast("long"),
        isDelete = col("is_deleted") === 1)
        .select(col("id"), col("_lsn"), col("_op"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
        .toSet
      val expect = uniq.groupBy(_._1).flatMap { case (id, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._3))
        sorted.zipWithIndex.collect {
          case ((_, lsn, op, del), i) if del == 0 =>
            val vt = if (i + 1 < sorted.size)
              Some(sorted(i + 1)._2 * 100L + sorted(i + 1)._3) else None
            (id, lsn, op, lsn * 100L + op, vt, vt.isEmpty)
        }
      }.toSet
      assert(out === expect)
    }
  }

  test("scd2History: is_current rows reproduce currentState exactly") {
    samples(8).foreach { rows =>
      val uniq = rows.groupBy(r => (r._1, r._2, r._3)).map(_._2.head).toList
      val df = uniq.toDF("id", "_lsn", "_op", "is_deleted")
      val ver = col("_lsn") * 10 + col("_op")
      val hist = VersionedDedup.scd2History(df, Seq("id"), ver,
        effectiveTs = ver.cast("long"), isDelete = col("is_deleted") === 1)
        .filter(col("is_current"))
        .select("id", "_lsn", "_op").collect().map(_.toSeq).toSet
      val cur = VersionedDedup.currentState(df, Seq("id"), col("_lsn"),
        col("is_deleted") === 1, tiebreak = Seq(col("_op")))
        .select("id", "_lsn", "_op").collect().map(_.toSeq).toSet
      assert(hist === cur)
    }
  }

  test("asOf: the +inf slice equals currentState; a mid-span slice picks covering intervals") {
    samples(6).foreach { rows =>
      val uniq = rows.groupBy(r => (r._1, r._2, r._3)).map(_._2.head).toList
      val df = uniq.toDF("id", "_lsn", "_op", "is_deleted")
      val ver = col("_lsn") * 10 + col("_op")
      val hist = VersionedDedup.scd2History(df, Seq("id"), ver,
        effectiveTs = ver.cast("long"), isDelete = col("is_deleted") === 1)
      val atInf = VersionedDedup.asOf(hist, lit(Long.MaxValue))
        .select("id", "_lsn", "_op").collect().map(_.toSeq).toSet
      val cur = VersionedDedup.currentState(df, Seq("id"), col("_lsn"),
        col("is_deleted") === 1, tiebreak = Seq(col("_op")))
        .select("id", "_lsn", "_op").collect().map(_.toSeq).toSet
      assert(atInf === cur)
      // any slice: exactly the rows whose interval covers the instant
      val t = 105L
      val sliced = VersionedDedup.asOf(hist, lit(t)).collect()
      sliced.foreach { r =>
        val vf = r.getLong(r.fieldIndex("valid_from"))
        val vt = if (r.isNullAt(r.fieldIndex("valid_to"))) None
          else Some(r.getLong(r.fieldIndex("valid_to")))
        assert(vf <= t && vt.forall(_ > t))
      }
      // at most one covering interval per key
      val keys = sliced.map(_.getLong(0)).toSeq
      assert(keys.distinct.size === keys.size)
    }
  }

  test("scd2History: a delete closes its predecessor and emits no row") {
    val df = Seq(
      (1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 0), // live, delete, re-insert
      (2L, 4L, 0)                            // single live change
    ).toDF("id", "_lsn", "is_deleted")
    val out = VersionedDedup.scd2History(df, Seq("id"),
      version = col("_lsn"), effectiveTs = col("_lsn") * 100L,
      isDelete = col("is_deleted") === 1)
      .select(col("id"), col("_lsn"), col("valid_from"), col("valid_to"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(out === Set(
      (1L, 1L, 100L, Some(200L)), // closed BY the delete's effective time
      (1L, 3L, 300L, None),       // re-insert opens a fresh current row
      (2L, 4L, 400L, None)))
  }

  test("W1e mergeInto: batch latest wins, delete removes, unmatched delete no-op") {
    val target = Seq((1L, 2L, 0, "a"), (2L, 4L, 0, "b"))
      .toDF("id", "_lsn", "is_deleted", "v")
    val source = Seq(
      (1L, 5L, 1, "x"),  // matched delete → key 1 removed
      (3L, 6L, 0, "c"),  // unmatched upsert → inserted
      (3L, 7L, 0, "d"),  // same key, higher version → wins the batch
      (4L, 8L, 1, "y"),  // unmatched delete → no-op
      (2L, 3L, 0, "e")   // matched, LOWER version: batch is still
                         // authoritative for matched keys (MERGE)
    ).toDF("id", "_lsn", "is_deleted", "v")
    val out = VersionedDedup.mergeInto(target, source, Seq("id"),
      col("_lsn"), col("is_deleted") === 1)
      .select("id", "_lsn", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out === Set((2L, 3L, "e"), (3L, 7L, "d")))
    // schema precondition: a source missing a target column fails
    // with the missing names, not an unresolved-column explosion
    val short = Seq((1L, 9L, 0)).toDF("id", "_lsn", "is_deleted")
    val ex = intercept[IllegalArgumentException] {
      VersionedDedup.mergeInto(target, short, Seq("id"),
        col("_lsn"), col("is_deleted") === 1)
    }
    assert(ex.getMessage.contains("v"), ex.getMessage)
  }

  test("W1e mergeInto chains: batch-monotone versions reproduce currentState of the log") {
    samples(6).foreach { rows =>
      // version-disjoint split (h1 strictly below the pivot): a tied
      // version straddling the boundary would make MERGE's
      // batch-authoritative pick diverge from the flat tiebreak —
      // batch-monotone is exactly the chaining precondition
      val pivot = rows.map(_._2).sorted.apply(rows.length / 2)
      val h1 = rows.filter(_._2 < pivot)
      val h2 = rows.filter(_._2 >= pivot)
      def df(rs: Seq[(Long, Long, Int, Int)]) =
        rs.toDF("id", "_lsn", "_op", "is_deleted")
      // (op, del) tiebreak totalizes duplicate (id, lsn) rows — the
      // generator can emit same-(id, lsn, op) rows differing only in
      // the delete flag, and both sides must pick identically
      val tb = Seq(col("_op"), col("is_deleted"))
      val t0 = VersionedDedup.currentState(df(h1), Seq("id"),
        col("_lsn"), col("is_deleted") === 1, tb)
      val merged = VersionedDedup.mergeInto(t0, df(h2), Seq("id"),
        col("_lsn"), col("is_deleted") === 1, tb)
        .select("id", "_lsn").as[(Long, Long)].collect().toMap
      val expect = VersionedDedup.currentState(df(h1 ++ h2), Seq("id"),
        col("_lsn"), col("is_deleted") === 1, tb)
        .select("id", "_lsn").as[(Long, Long)].collect().toMap
      assert(merged === expect)
    }
  }

  /** Parquet files actually READ by `df` (post-partition-pruning):
    * the FileSourceScan numFiles metric after execution —
    * `df.inputFiles` lists the unpruned FileIndex and can't assert
    * pruning.
    */
  private def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
    }.sum
  }

  test("W1d storage face: bucket-partitioned history prunes files on an AS OF read") {
    val dir = tempDir("scd2part")
    // 10 keys × 10 versions at t = k*100: per key, intervals
    // [k*100, (k+1)*100) for k<9 plus an open row at 900 — interval
    // buckets at bucketSeconds=100 are (k, k+1) and (9, open)
    val changes = (for { id <- 0L until 10L; k <- 0L until 10L }
      yield (id, k, k * 100L, false)).toDF("id", "ver", "ts", "del")
    val hist = VersionedDedup.scd2History(
      changes, Seq("id"), col("ver"), col("ts"), col("del"))
    VersionedDedup.writeHistoryPartitioned(hist, dir, bucketSeconds = 100L)
    // AS OF t=250 (bucket 2): only interval-range dirs straddling
    // bucket 2 survive pruning — (1,2) and (2,3) of the 10 present
    val sliced = VersionedDedup.asOfPartitioned(spark, dir, 250L, 100L)
    val full = spark.read.parquet(dir)
    val fullFiles = filesScanned(full)
    val slicedFiles = filesScanned(sliced)
    assert(fullFiles >= 10L, s"expected >=10 partition dirs, saw $fullFiles")
    assert(slicedFiles * 4 <= fullFiles,
      s"as-of read must prune most files: $slicedFiles of $fullFiles")
    // value parity with the in-memory asOf slice (modulo column order)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(r.fieldIndex("id")),
      r.getLong(r.fieldIndex("ver")), r.getLong(r.fieldIndex("valid_from")))
    val expect = VersionedDedup.asOf(hist, lit(250L)).collect().map(key).toSet
    assert(sliced.collect().map(key).toSet === expect)
    // the open-interval sentinel: an AS OF beyond every closed
    // interval still finds the 10 open rows (vt_bucket = openBucket
    // passes the lower bound for any t)
    val late = VersionedDedup.asOfPartitioned(spark, dir, 5000L, 100L)
    assert(late.count() === 10L)
    assert(filesScanned(late) * 4 <= fullFiles)
  }
}
