package graft

import graft.sources.Layout
import org.apache.spark.sql.functions._

/** Bucketed co-located joins and the SparkSessionExtensions SQL
  * registration of the native expression.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed fact-fact join runs with zero shuffle exchanges") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact1 = (1L to 1000L).map(i => (i % 50, i)).toDF("k", "a")
      val fact2 = (1L to 1000L).map(i => (i % 50, i * 2)).toDF("k", "b")
      Layout.writeBucketed(fact1, "bt1", "k", buckets = 8)
      Layout.writeBucketed(fact2, "bt2", "k", buckets = 8)
      val joined = spark.table("bt1").join(spark.table("bt2"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected no shuffle:\n$plan")
      assert(joined.count() === (1000L / 50) * (1000L / 50) * 50)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS bt1")
      spark.sql("DROP TABLE IF EXISTS bt2")
    }
  }

  test("colocate lets several aggs/joins on one key reuse a single exchange") {
    val df = Layout.colocate((1L to 100L).map(i => (i % 10, i)).toDF("k", "v"), "k", 4)
    val agg = df.groupBy("k").agg(sum("v"))
    // the groupBy should reuse the repartition's hash partitioning:
    // exactly the one user exchange in the plan, none added for the agg
    val plan = agg.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
  }

  test("SparkSessionExtensions registers float_dot for SQL callers") {
    // the shared test session is built with
    // spark.sql.extensions=graft.functions.GraftExtensions (SparkSpec)
    val v = spark.sql(
      "SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))")
      .as[Double].collect().head
    assert(v === 11.0)
  }

  /** Reference Morton interleave: bit i of x → bit 2i, bit i of y →
    * bit 2i+1.
    */
  private def mortonRef(x: Long, y: Long): Long =
    (0 until 16).foldLeft(0L) { (acc, i) =>
      acc | ((x >> i & 1L) << (2 * i)) | ((y >> i & 1L) << (2 * i + 1))
    }

  test("L3 mortonCode matches the bit-by-bit reference on random points") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val out = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.mortonCode(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (x, y, z) =>
      assert(z === mortonRef(x, y), s"morton($x, $y)")
    }
  }

  test("L3 quantize: exact integer floor scaling onto [0, 2^bits)") {
    val d = Seq(0L, 1L, 499L, 500L, 999L, 1000L).toDF("v")
    val q = d.select(Layout.quantize(col("v"), lit(0L), lit(1000L), 4).as("q"))
      .collect().map(_.getLong(0)).toSeq
    // floor(v * 15 / 1000)
    assert(q === Seq(0L, 0L, 7L, 7L, 14L, 15L))
  }

  test("L3 z-order file stats prune on BOTH dimensions; an x-sort can't") {
    // 64×64 grid, 16 "files" (range partitions); per-file min/max of
    // x and y are exactly the stats parquet footers would carry
    val pts = spark.range(0, 4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"),
      col("id").as("pid"))
    def fileStats(df: org.apache.spark.sql.DataFrame): Array[(Long, Long, Long, Long)] =
      df.withColumn("f", org.apache.spark.sql.functions.spark_partition_id())
        .groupBy("f").agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val zStats = fileStats(Layout.zorder(
      pts, col("x"), col("y"), col("pid"), partitions = 16))
    val xStats = fileStats(
      pts.repartitionByRange(16, col("x"), col("pid"))
        .sortWithinPartitions(col("x"), col("pid")))
    assert(zStats.length === 16 && xStats.length === 16)
    // y-only predicate y ∈ [8, 15]: the x-sorted stripes all span the
    // full y range (no pruning); z-order blocks are rectangles, so
    // most files' y-range misses the band
    def hits(st: Array[(Long, Long, Long, Long)],
        xr: (Long, Long), yr: (Long, Long)): Int =
      st.count { case (x0, x1, y0, y1) =>
        x1 >= xr._1 && x0 <= xr._2 && y1 >= yr._1 && y0 <= yr._2 }
    val yBand = ((0L, 63L), (8L, 15L))
    val zY = hits(zStats, yBand._1, yBand._2)
    val xY = hits(xStats, yBand._1, yBand._2)
    assert(xY === 16, s"x-sorted layout cannot prune a y predicate: $xY")
    assert(zY <= 8, s"z-order must skip most files on the y predicate: $zY")
    // box predicate: both layouts prune, z-order at least as well
    val zBox = hits(zStats, (8L, 15L), (8L, 15L))
    assert(zBox <= 8, s"z-order box candidates: $zBox")
  }

  /** Parquet files actually READ (post-partition-pruning): the
    * FileSourceScan numFiles metric after execution.
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

  test("L4 TTL maintenance: rolls only newly-aged partitions, fresh unread; totals invariant; idempotent replay") {
    import graft.operators.Ttl
    val path = tempDir("ttlstore")
    val rnd = new scala.util.Random(29)
    // 600 rows over buckets 0..19 (100 s each), 3 keys
    val rows = (0 until 600).map(i =>
      (i.toLong, s"k${i % 3}", rnd.nextInt(2000).toLong,
        rnd.nextInt(10000) / 100.0))
    Ttl.writeFresh(rows.toDF("id", "k", "ep", "v"), Seq("k"),
      col("id"), col("ep"), col("v"), bucketSeconds = 100L, path = path)
    def totals() = {
      val t = Ttl.readStore(spark, path)
        .agg(sum(col("n_rows")), sum(col("sum_v")).cast("string")).head
      (t.getLong(0), BigDecimal(t.getString(1)))
    }
    val raw = totals()
    assert(raw._1 === 600L)
    // pass 1 at asOf = 2000, ttl = 1000: buckets with (b+1)*100 <=
    // 1000 are fully aged -> b <= 9 rolled, 10..19 untouched
    val (slice1, aged1) = Ttl.agedSlice(spark, path, 1000L, 100L, 2000L)
    assert(aged1 === 9L)
    val allFiles = filesScanned(spark.read.parquet(s"$path/data"))
    val sliceFiles = filesScanned(slice1)
    assert(sliceFiles > 0 && sliceFiles < allFiles,
      s"aged slice must prune fresh partitions: $sliceFiles of $allFiles")
    assert(slice1.select(max(col("p_bucket"))).head.getLong(0) <= 9L)
    Ttl.maintainRollup(spark, path, Seq("k"), 1000L, 100L, asOf = 2000L)
    assert(Ttl.rolledThrough(path) === 9L)
    assert(totals() === raw, "totals must be invariant under the policy")
    // the maintained store == the query-face rollup at the partition-
    // snapped cutoff ((rolledThrough+1)*bucket + ttl), row for row
    def view(d: org.apache.spark.sql.DataFrame) = d
      .select(col("k"), col("row_id"), col("ts"), col("n_rows"),
        col("sum_v").cast("string"), col("min_v"), col("max_v"),
        col("is_rolled"))
      .as[(String, Option[Long], Long, Long, String, Double, Double, Boolean)]
      .collect().toSet
    val snapped = Ttl.rollup(rows.toDF("id", "k", "ep", "v"), Seq("k"),
      col("id"), col("ep"), col("v"), ttlSeconds = 1000L,
      bucketSeconds = 100L, asOf = lit((9L + 1L) * 100L + 1000L))
    assert(view(Ttl.readStore(spark, path)) === view(snapped))
    // replay with the same asOf: nothing newly aged -> no-op
    Ttl.maintainRollup(spark, path, Seq("k"), 1000L, 100L, asOf = 2000L)
    assert(Ttl.rolledThrough(path) === 9L)
    assert(view(Ttl.readStore(spark, path)) === view(snapped))
    // pass 2 at a later asOf reads ONLY the newly-aged band (10..14),
    // never the already-rolled or still-fresh partitions
    val (slice2, aged2) = Ttl.agedSlice(spark, path, 1000L, 100L, 2500L)
    assert(aged2 === 14L)
    val b2 = slice2.select(min(col("p_bucket")), max(col("p_bucket"))).head
    assert(b2.getLong(0) >= 10L && b2.getLong(1) <= 14L)
    assert(filesScanned(slice2) < sliceFiles,
      "pass 2 must read fewer partitions than pass 1's full aged band")
    Ttl.maintainRollup(spark, path, Seq("k"), 1000L, 100L, asOf = 2500L)
    assert(Ttl.rolledThrough(path) === 14L)
    assert(totals() === raw)
    // crash healing: re-rolling an already-rolled band reproduces it
    // bit-identically (the aggregate is closed under re-application)
    val before = view(Ttl.readStore(spark, path))
    // simulate the crashed pass: pointer forced back, then re-run
    val ptr = java.nio.file.Paths.get(path, "_ROLLED")
    java.nio.file.Files.writeString(ptr, "9")
    Ttl.maintainRollup(spark, path, Seq("k"), 1000L, 100L, asOf = 2500L)
    assert(Ttl.rolledThrough(path) === 14L)
    assert(view(Ttl.readStore(spark, path)) === before)
    assert(totals() === raw)
  }

  test("L4 TTL: expire keeps the ClickHouse boundary; rollup preserves totals exactly") {
    import graft.operators.Ttl
    val rnd = new scala.util.Random(23)
    // 500 rows over 20 "days" of 100s each, 3 keys
    val rows = (0 until 500).map(i =>
      (i.toLong, s"k${i % 3}", rnd.nextInt(2000).toLong,
        rnd.nextInt(10000) / 100.0))
    val df = rows.toDF("id", "k", "ep", "v")
    val asOf = lit(2000L)
    // expire: a row expires when ts + ttl < asOf — ts = 1000 at
    // ttl = 1000 is exactly at the boundary and SURVIVES
    val kept = Ttl.expire(df, col("ep"), 1000L, asOf)
      .select("id").as[Long].collect().toSet
    assert(kept === rows.filter(r => r._3 + 1000 >= 2000).map(_._1).toSet)
    assert(Ttl.expire(df.where(col("ep") === 1000L), col("ep"), 1000L, asOf)
      .count() === rows.count(_._3 == 1000L))
    // rollup: Σ n_rows and Σ sum_v invariant under the policy, fresh
    // rows are bit-identical degenerate aggregates, rolled rows
    // aggregate per (key, bucket)
    val out = Ttl.rollup(df, Seq("k"), col("id"), col("ep"), col("v"),
      ttlSeconds = 1000L, bucketSeconds = 100L, asOf = asOf)
    assert(out.agg(sum(col("n_rows"))).head.getLong(0) === 500L)
    val totalGot = out.agg(sum(col("sum_v")).cast("string")).head.getString(0)
    val totalWant = df.agg(sum(col("v").cast("decimal(28,6)"))
      .cast("string")).head.getString(0)
    assert(BigDecimal(totalGot) === BigDecimal(totalWant))
    val freshGot = out.where(!col("is_rolled"))
      .select(col("row_id"), col("ts"), col("min_v"))
      .as[(Long, Long, Double)].collect().toSet
    assert(freshGot === rows.filter(r => r._3 + 1000 >= 2000)
      .map(r => (r._1, r._3, r._4)).toSet)
    // every rolled row sits strictly below the cutoff, one per
    // (key, bucket), with null row ids
    val rolled = out.where(col("is_rolled"))
      .select(col("k"), col("ts"), col("row_id").isNull, col("n_rows"))
      .collect()
    assert(rolled.forall(_.getBoolean(2)))
    assert(rolled.forall(_.getLong(1) < 1000L))
    val perBucket = rows.filter(r => r._3 + 1000 < 2000)
      .groupBy(r => (r._2, r._3 / 100 * 100))
    assert(rolled.map(r => (r.getString(0), r.getLong(1))).toSet ===
      perBucket.keySet)
    assert(rolled.map(r => ((r.getString(0), r.getLong(1)), r.getLong(3))).toMap
      === perBucket.map { case (kb, rs) => kb -> rs.size.toLong })
  }
}
