package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** L4: age-based lifecycle — ClickHouse MergeTree `TTL` semantics
  * for the ingested tables the reference lands
  * (internal/ingestion/clickhouse.go's events table would carry
  * exactly this in production):
  *
  *  - `TTL ts + INTERVAL d DELETE` → [[expire]]: rows older than the
  *    horizon drop;
  *  - `TTL ts + INTERVAL d GROUP BY keys SET v = sum(v), ...` →
  *    [[rollup]]: rows past the horizon COLLAPSE to one aggregate
  *    row per (keys, coarse bucket) while younger rows stay raw —
  *    the "raw for a week, daily beyond" storage policy every
  *    metrics warehouse runs.
  *
  * Both take the reference instant as a COLUMN (`asOf`) rather than
  * wall-clock `now()`: the maintenance job pins one instant for the
  * whole pass (deterministic, replayable, oracle-checkable), exactly
  * how a TTL merge materializes one consistent cutoff.
  *
  * [[rollup]] output schema is uniform across both regimes — keys ++
  * (`row_id` nullable, `ts`, `n_rows`, `sum_v` DECIMAL(38,6)-exact,
  * `min_v`, `max_v`, `is_rolled`): a fresh row is the degenerate
  * aggregate of itself (n_rows = 1, sum = min = max = value, its own
  * row id and timestamp), a rolled row is the bucket aggregate with a
  * null row id and the bucket-start timestamp — so readers aggregate
  * the table uniformly and totals are invariant under the policy
  * (Σ sum_v and Σ n_rows equal the raw table's, the spec law).
  *
  * Scale shape: one age predicate splits the scan — on time-
  * partitioned storage each branch prunes to ITS partitions, so the
  * rollup pass reads old partitions once and rewrites them
  * aggregate-sized; the fresh branch is map-only and the rolled
  * branch is one partial+final aggregate on (keys, bucket). No
  * window, no shuffle of fresh rows.
  */
object Ttl {

  /** TTL DELETE: keep rows within `ttlSeconds` of `asOf` (a row
    * expires when ts + ttl < asOf — the ClickHouse boundary).
    */
  def expire(df: DataFrame, ts: Column, ttlSeconds: Long,
      asOf: Column): DataFrame = {
    require(ttlSeconds > 0, s"ttlSeconds must be positive: $ttlSeconds")
    df.where(ts.cast("long") + ttlSeconds >= asOf.cast("long"))
  }

  /** TTL GROUP BY: rows older than `ttlSeconds` collapse to one
    * aggregate row per (keys, `bucketSeconds` bucket); younger rows
    * pass through as degenerate aggregates of themselves (`rowId`
    * identifies them; rolled rows carry a null id).
    */
  def rollup(df: DataFrame, keys: Seq[String], rowId: Column,
      ts: Column, value: Column, ttlSeconds: Long, bucketSeconds: Long,
      asOf: Column): DataFrame = {
    require(ttlSeconds > 0, s"ttlSeconds must be positive: $ttlSeconds")
    require(bucketSeconds > 0, s"bucketSeconds must be positive: $bucketSeconds")
    val t = ts.cast("long")
    val isOld = t + ttlSeconds < asOf.cast("long")
    val dec = value.cast("decimal(28,6)")
    val fresh = df.where(!isOld).select((keys.map(col) ++ Seq(
      rowId.cast("long").as("row_id"),
      t.as("ts"),
      lit(1L).as("n_rows"),
      dec.cast("decimal(38,6)").as("sum_v"),
      value.cast("double").as("min_v"),
      value.cast("double").as("max_v"),
      lit(false).as("is_rolled"))): _*)
    val rolled = df.where(isOld)
      .groupBy((keys.map(col) :+ (t - pmod(t, lit(bucketSeconds))).as("ts")): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(dec).cast("decimal(38,6)").as("sum_v"),
        min(value.cast("double")).as("min_v"),
        max(value.cast("double")).as("max_v"))
      .select((keys.map(col) ++ Seq(
        lit(null).cast("long").as("row_id"),
        col("ts"), col("n_rows"), col("sum_v"), col("min_v"),
        col("max_v"), lit(true).as("is_rolled"))): _*)
    fresh.unionByName(rolled)
  }

  // ------------------------------------------------------------------
  // L4 storage face: partition-granular TTL maintenance.
  //
  // [[rollup]] is the QUERY face (one logical pass, exact row-level
  // horizon). In a warehouse the policy runs as a MAINTENANCE JOB over
  // a table time-partitioned on `p_bucket = floorDiv(ts,
  // bucketSeconds)`: the pass rewrites ONLY partitions that have fully
  // aged out since the last pass — fresh partitions are never listed,
  // let alone read (partition-column pruning, file-count-asserted in
  // LayoutSpec) — exactly how ClickHouse applies TTL at part
  // granularity, which is why its effective cutoff snaps to the
  // partition boundary: a partition rolls when its LAST row has
  // expired, so the maintained store equals
  // `rollup(raw, asOf = (rolledThrough+1)·bucket + ttl)`.
  //
  // The rewrite aggregate runs over the UNIFORM schema (sum of n_rows
  // / sum_v, min/max of min_v/max_v) and is therefore CLOSED under
  // re-application: re-rolling an already-rolled partition reproduces
  // its rows bit-identically. That makes the crash story trivial — a
  // pass that dies after overwriting some partitions but before the
  // pointer move is simply re-run, re-aggregating a mix of raw and
  // rolled rows to the same result. The `_ROLLED` pointer (atomic
  // move, the StreamingMatView protocol) records the highest rolled
  // bucket; a replay with the same asOf sees nothing newly aged and
  // is a no-op.
  // ------------------------------------------------------------------

  private def pointerPath(path: String) = Paths.get(path, "_ROLLED")

  /** Highest bucket already rolled (inclusive); Long.MinValue before
    * the first maintenance pass.
    */
  def rolledThrough(path: String): Long = {
    val p = pointerPath(path)
    if (!Files.exists(p)) Long.MinValue
    else Files.readString(p).trim.toLong
  }

  /** Ingest face: append raw rows as degenerate aggregates of
    * themselves (the [[rollup]] fresh branch), partitioned on the
    * rollup time bucket — the layout the maintenance pass prunes by.
    */
  def writeFresh(df: DataFrame, keys: Seq[String], rowId: Column,
      ts: Column, value: Column, bucketSeconds: Long, path: String): Unit = {
    require(bucketSeconds > 0, s"bucketSeconds must be positive: $bucketSeconds")
    val t = ts.cast("long")
    df.select((keys.map(col) ++ Seq(
        rowId.cast("long").as("row_id"),
        t.as("ts"),
        lit(1L).as("n_rows"),
        value.cast("decimal(28,6)").cast("decimal(38,6)").as("sum_v"),
        value.cast("double").as("min_v"),
        value.cast("double").as("max_v"),
        lit(false).as("is_rolled"),
        ((t - pmod(t, lit(bucketSeconds))) / lit(bucketSeconds)).cast("long")
          .as("p_bucket"))): _*)
      .write.mode(SaveMode.Append).partitionBy("p_bucket")
      .parquet(s"$path/data")
  }

  /** The partitions a maintenance pass at `asOf` reads: buckets fully
    * aged (every possible row expired: (b+1)·bucket + ttl ≤ asOf) and
    * not yet rolled. Public so the file-count pruning law is
    * assertable on exactly the scan the job runs.
    */
  def agedSlice(spark: SparkSession, path: String, ttlSeconds: Long,
      bucketSeconds: Long, asOf: Long): (DataFrame, Long) = {
    val agedThrough = Math.floorDiv(asOf - ttlSeconds, bucketSeconds) - 1
    val from = rolledThrough(path)
    // partition-dir values infer as int; pin the column to long so
    // every consumer (bucket-start ts arithmetic, spec reads) is stable
    (spark.read.parquet(s"$path/data")
      .where(col("p_bucket") > from && col("p_bucket") <= agedThrough)
      .withColumn("p_bucket", col("p_bucket").cast("long")),
      agedThrough)
  }

  /** One maintenance pass: roll every newly fully-aged partition to
    * its per-(keys, bucket) aggregate rows, touching nothing fresh.
    * Dynamic partition overwrite rewrites exactly the aged partition
    * directories; the pointer then moves atomically. Idempotent:
    * re-running with the same `asOf` is a no-op, and a crash between
    * the overwrite and the pointer move is healed by the re-run
    * (the aggregate is closed under re-application).
    */
  def maintainRollup(spark: SparkSession, path: String, keys: Seq[String],
      ttlSeconds: Long, bucketSeconds: Long, asOf: Long): Unit = {
    require(ttlSeconds > 0, s"ttlSeconds must be positive: $ttlSeconds")
    val (slice, agedThrough) =
      agedSlice(spark, path, ttlSeconds, bucketSeconds, asOf)
    if (agedThrough <= rolledThrough(path)) return
    val rolled = slice
      .groupBy((keys.map(col) :+ col("p_bucket")): _*)
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("sum_v")).cast("decimal(38,6)").as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
      .select((keys.map(col) ++ Seq(
        lit(null).cast("long").as("row_id"),
        (col("p_bucket") * bucketSeconds).as("ts"),
        col("n_rows"), col("sum_v"), col("min_v"), col("max_v"),
        lit(true).as("is_rolled"), col("p_bucket"))): _*)
      // materialize BEFORE the overwrite: the rolled rows are read
      // from the very partitions the write replaces, and they are
      // aggregate-sized — severing the file lineage costs one tiny
      // cache, not a correctness risk
      .localCheckpoint(true)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      rolled.write.mode(SaveMode.Overwrite).partitionBy("p_bucket")
        .parquet(s"$path/data")
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    graft.streaming.StateStore.writeAtomic(pointerPath(path),
      agedThrough.toString)
  }

  /** The read face: the maintained table in [[rollup]]'s uniform
    * schema — readers aggregate fresh and rolled rows identically,
    * and totals are invariant under any number of maintenance passes
    * (the spec law).
    */
  def readStore(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/data").drop("p_bucket")
}
