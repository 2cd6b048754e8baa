package graft.streaming

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** Streaming face of X1/X2 (SURVEY.md §2.10): deduplicate a document
  * stream against EVERYTHING already ingested, not just the current
  * micro-batch — the shape every continuous training-data pipeline
  * needs (a crawler emits documents forever; the corpus must stay
  * deduplicated without re-scanning itself).
  *
  * Two tiers:
  *
  * 1. [[dedupWithinStream]] — bounded exact dedup inside the stream
  *    via `dropDuplicatesWithinWatermark` on the content fingerprint:
  *    state is bounded by the watermark (Spark evicts fingerprints
  *    older than the delay), the right tool when duplicates arrive
  *    close together (retries, double-sends).
  *
  * 2. [[dedupAgainstStore]] — `foreachBatch` anti-join against a
  *    persistent parquet fingerprint store, for duplicates arriving
  *    ARBITRARILY far apart.
  *
  * == Store layout (v2): probe O(batch), not O(corpus) ==
  *
  * Both persistent stores live under `<storeDir>/v2` and are
  * DIRECTORY-PARTITIONED so a micro-batch's probe reads only the
  * partitions its own keys can possibly land in:
  *
  *  - the exact-fingerprint store is partitioned by `pfx` =
  *    `substring(fp, 1, 2)` — 256 hex-prefix directories. md5 is
  *    uniform, so each directory holds ~1/256 of the corpus; at the
  *    10 B-doc / ~500 GB sizing that is ~2 GB per partition.
  *  - the SimHash signature store is partitioned by `(band, bpfx)` —
  *    8 Hamming-LSH bands × 16 four-bit signature prefixes = 128
  *    directories.
  *
  * Each batch collects its DISTINCT partition keys (bounded by 256
  * resp. 128 values — a constant-size driver collect, independent of
  * both batch and corpus size) and pushes them as a partition filter
  * into the store scan, so the probe's `inputFiles` is the matching
  * subset of store files, not the whole store. Without the filter,
  * every micro-batch degenerated to a full-store shuffle join — at
  * 500 GB of fingerprints that is the difference between a probe that
  * reads ≤ (distinct prefixes in batch) × 2 GB and one that rescans
  * half a terabyte per batch. Per-partition files also stay
  * independently compactable.
  */
object StreamingDedup {

  /** Layout version directory: partitioned stores live here. */
  private val V2 = "v2"

  private[streaming] def v2Path(storeDir: String): String = s"$storeDir/$V2"

  /** Tier 1: exact in-stream dedup, state bounded by the watermark. */
  def dedupWithinStream(
      docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, watermarkDelay: String): DataFrame =
    docs
      .withColumn("__fp", TextFns.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** One micro-batch of tier 2: returns the batch rows that are new
    * w.r.t. `store` (any DataFrame with an `fp` column) AND
    * first-within-batch (min `idCol` wins, X1's deterministic-winner
    * rule). Pure batch logic — unit-testable without a stream.
    */
  def dedupBatch(batch: DataFrame, store: DataFrame, idCol: String, textCol: String): DataFrame =
    dedupFingerprinted(
      batch.withColumn("__fp", TextFns.fingerprint(col(textCol))), store, idCol)

  private def dedupFingerprinted(fp: DataFrame, store: DataFrame, idCol: String): DataFrame = {
    val fps = store.select(col("fp"))
    val newDocs = fp.join(fps, fp("__fp") === fps("fp"), "left_anti")
    graft.operators.Dedup.exact(newDocs, Seq("__fp"), col(idCol))
  }

  /** Tier 2: the full streaming sink. Deduplicated rows append to
    * `outDir`; their fingerprints append to the prefix-partitioned
    * store under `storeDir`. The store read happens INSIDE
    * foreachBatch so each batch sees all fingerprints committed by
    * earlier batches, and is pruned to the batch's own fingerprint
    * prefixes (≤256 partition values — see the object scaladoc).
    *
    * Delivery contract (at-least-once, duplicates bounded to ONE
    * batch): `outDir` commits BEFORE `storeDir`. If the job dies
    * between the two writes, the replayed batch anti-joins against a
    * store missing its own fingerprints and re-emits those rows — a
    * duplicate window of at most one micro-batch, downstream's job to
    * absorb (idempotent keys). The order is deliberate: reversing it
    * (store first) turns the same crash into silent DATA LOSS — the
    * replay would see its fingerprints already present and emit
    * nothing for rows that never reached `outDir`. Exactly-once here
    * would need a transactional sink (e.g. a Delta MERGE) spanning
    * both writes.
    */
  def dedupAgainstStore(
      docs: DataFrame, idCol: String, textCol: String,
      storeDir: String, outDir: String, checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fp = batch.withColumn("__fp", TextFns.fingerprint(col(textCol)))
          .persist() // prefix collect + anti-join both consume it; one batch, tiny
        try {
          // bounded driver collect: ≤256 two-hex-char prefixes,
          // independent of batch and corpus size
          val prefixes = fp.select(substring(col("__fp"), 1, 2).as("pfx"))
            .distinct().collect().map(_.getString(0)).toSeq
          val store = prunedFpStore(spark, storeDir, prefixes)
          val fresh = dedupFingerprinted(fp, store, idCol)
            .persist() // two actions below; tiny (one batch's survivors)
          try {
            fresh.drop("__fp").write.mode(SaveMode.Append).parquet(outDir)
            fresh.select(col("__fp").as("fp"), substring(col("__fp"), 1, 2).as("pfx"))
              .write.partitionBy("pfx").mode(SaveMode.Append).parquet(v2Path(storeDir))
          } finally fresh.unpersist(blocking = false)
        } finally fp.unpersist(blocking = false)
      }

  /** The fingerprint store scan PRUNED to the given prefixes: the
    * `pfx` predicate is a partition filter, so `.inputFiles` of the
    * returned frame lists only files under matching `pfx=XX`
    * directories (asserted by StreamingSpec). Empty-safe before the
    * first append.
    */
  def prunedFpStore(spark: SparkSession, storeDir: String, prefixes: Seq[String]): DataFrame = {
    val p = v2Path(storeDir)
    if (pathExists(spark, p))
      // explicit schema: hex prefixes like "47" must stay STRING —
      // partition-type inference would read them as INT and both
      // defeat pruning and blow up on non-numeric values like "4e"
      spark.read.schema(FpStoreSchema).parquet(p)
        .where(col("pfx").isin(prefixes: _*)).select("fp")
    else emptyDf(spark, "fp string")
  }

  /** v2 fingerprint-store schema incl. the `pfx` partition column. */
  val FpStoreSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL("fp string, pfx string")

  /** v2 signature-store schema incl. (band, bpfx) partition columns. */
  val SigStoreSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "bsig string, s1 bigint, s2 bigint, band int, bpfx string")

  /** The full fingerprint store (no pruning) — compaction / audit
    * reads.
    */
  def existingStore(spark: SparkSession, storeDir: String): DataFrame = {
    val p = v2Path(storeDir)
    if (pathExists(spark, p)) spark.read.schema(FpStoreSchema).parquet(p).select("fp")
    else emptyDf(spark, "fp string")
  }

  /** Existence probe through the Hadoop `FileSystem` resolved from the
    * path's own scheme + the session conf — NOT `java.io.File`, which
    * only understands bare local paths: on `hdfs://`, `s3a://` or even
    * a `file:` URI it answers "absent", silently disabling cross-batch
    * dedup in exactly the distributed deployments the store targets.
    */
  private[streaming] def pathExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  // ---------------------------------------------------------------
  // Tier 3: streaming NEAR-dup dedup via a SimHash signature store.
  // ---------------------------------------------------------------

  /** Four-bit signature prefix used as the second partition column of
    * the signature store: 16 values per band → 8×16 = 128 directories.
    */
  private def bpfxOf(bsig: Column): Column = substring(bsig, 1, 4)

  /** One micro-batch of near-dup dedup: compute 64-bit SimHash
    * signatures for the batch, band-join (8×8 Hamming LSH — the same
    * banding as Dedup.simhashNearDup) against the signature store,
    * verify candidates with codegen `bit_count(xor)`, and drop batch
    * docs within `maxHamming` of ANY stored doc. Batch-internal
    * near-dups collapse through the batch form of simhashNearDup
    * (min-id winner). Returns the surviving (id, s1, s2, band, bsig)
    * rows — content dedup state is ~48 bytes/doc, so a 10 B-doc corpus
    * is a ~500 GB store; the (band, bpfx) partitioning keeps each
    * batch's probe to the matching 1/128 slices (see object scaladoc).
    */
  def nearDupBatch(
      batch: DataFrame, store: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame =
    nearDupSigned(batch, signatures(batch, idCol, textCol), store, idCol,
      textCol, maxHamming)

  /** SimHash signatures of a batch split into the two 32-bit halves
    * the Hamming verify needs: (idCol, simhash, s1, s2).
    */
  def signatures(batch: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.Dedup.simhash(batch, idCol, col(textCol))
      .withColumn("s1", conv(substring(col("simhash"), 1, 32), 2, 10).cast("long"))
      .withColumn("s2", conv(substring(col("simhash"), 33, 32), 2, 10).cast("long"))

  private def nearDupSigned(
      batch: DataFrame, sig: DataFrame, store: DataFrame, idCol: String,
      textCol: String, maxHamming: Int): DataFrame = {
    import graft.operators.Dedup
    val bandArr = array((0 until 8).map(b =>
      substring(col("simhash"), b * 8 + 1, 8)): _*)
    val bands = sig.select(col(idCol), col("s1"), col("s2"),
      posexplode(bandArr).as(Seq("band", "bsig")))
    val ham = bit_count(col("s1").bitwiseXOR(col("st_s1"))) +
      bit_count(col("s2").bitwiseXOR(col("st_s2")))
    val hitIds = bands
      .join(store.select(col("band").as("st_band"), col("bsig").as("st_bsig"),
        col("s1").as("st_s1"), col("s2").as("st_s2")),
        col("band") === col("st_band") && col("bsig") === col("st_bsig"))
      .filter(ham <= maxHamming)
      .select(col(idCol)).distinct()
    // drop store-near rows, then collapse batch-internal near-dups:
    // losers of a within-batch near-dup pair (id_a < id_b ⇒ b loses)
    val fresh = sig.join(hitIds, Seq(idCol), "left_anti")
    val innerPairs = Dedup.simhashNearDup(
      batch.join(fresh.select(col(idCol)), Seq(idCol), "left_semi"),
      idCol, col(textCol), maxHamming)
    fresh.join(innerPairs.select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .select(col(idCol), col("s1"), col("s2"),
        posexplode(bandArr).as(Seq("band", "bsig")))
  }

  /** Tier 3 sink: near-dup-deduplicated ids append to `outDir`; the
    * survivors' banded signatures append to the (band, bpfx)-
    * partitioned signature store. Same out-before-store at-least-once
    * contract as [[dedupAgainstStore]]. Each batch's probe reads only
    * the store partitions matching the batch's own ≤128 distinct
    * (band, bpfx) pairs.
    */
  def nearDupAgainstStore(
      docs: DataFrame, idCol: String, textCol: String, maxHamming: Int,
      storeDir: String, outDir: String, checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch.persist() // signature pass + inner-pair verify reuse it
        try {
          val sig = signatures(b, idCol, textCol)
            .persist() // band-key collect + probe join both consume it
          // bounded driver collect: ≤128 (band, 4-bit-prefix) pairs
          val bandKeys = sig
            .select(posexplode(array((0 until 8).map(i =>
              substring(col("simhash"), i * 8 + 1, 4)): _*)).as(Seq("band", "bpfx")))
            .distinct().collect().map(r => (r.getInt(0), r.getString(1))).toSeq
          val store = prunedSigStore(spark, storeDir, bandKeys)
          val fresh = nearDupSigned(b, sig, store, idCol, textCol, maxHamming).persist()
          try {
            // out before store: same at-least-once duplicate-window
            // contract as dedupAgainstStore (see its scaladoc)
            fresh.select(idCol).distinct().write.mode(SaveMode.Append).parquet(outDir)
            fresh.select(col("bsig"), col("s1"), col("s2"), col("band"),
                bpfxOf(col("bsig")).as("bpfx"))
              .write.partitionBy("band", "bpfx")
              .mode(SaveMode.Append).parquet(v2Path(storeDir))
          } finally {
            fresh.unpersist(blocking = false)
            sig.unpersist(blocking = false)
          }
        } finally b.unpersist(blocking = false)
      }

  /** The signature store scan PRUNED to the given (band, bpfx) pairs —
    * both are partition columns, so the disjunction is a pure
    * partition filter and `.inputFiles` lists only matching
    * `band=N/bpfx=XXXX` directories. Empty-safe before first append.
    */
  def prunedSigStore(
      spark: SparkSession, storeDir: String,
      bandKeys: Seq[(Int, String)]): DataFrame = {
    val p = v2Path(storeDir)
    if (pathExists(spark, p) && bandKeys.nonEmpty) {
      val pred = bandKeys.map { case (b, pf) =>
        col("band") === lit(b) && col("bpfx") === lit(pf)
      }.reduce(_ || _)
      // explicit schema for the same partition-type-inference reason
      // as prunedFpStore: bpfx values like "0011" must stay STRING
      spark.read.schema(SigStoreSchema).parquet(p)
        .where(pred).select("bsig", "s1", "s2", "band")
    } else emptyDf(spark, "bsig string, s1 bigint, s2 bigint, band int")
  }

  private[streaming] def emptyDf(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  // ---------------------------------------------------------------
  // Tier 4: streaming EMBEDDING near-dup dedup via an LSH-bucketed
  // vector store — the X3 analogue of tiers 2/3: drop incoming docs
  // whose embedding is within cosine `minCos` of ANYTHING already
  // ingested.
  // ---------------------------------------------------------------

  /** v2 vector-store schema incl. (t, blk) partition columns: each
    * stored vector appears once per LSH table, partitioned by its
    * bucket, with the norm precomputed so probes never recompute the
    * store side. `blk` bit-strings like "01101011" must stay STRING
    * (same partition-type-inference trap as the other stores).
    */
  val VecStoreSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "vec array<float>, nrm double, t int, blk string")

  private def vecBuckets(vec: Column, planes: Int, dim: Int, tables: Int): Column =
    array((0 until tables).map(t =>
      graft.functions.VectorFns.lshBucket(vec, t, planes, dim)): _*)

  /** One micro-batch of embedding near-dup dedup: batch vectors probe
    * the store on (t, blk), candidates verify with the codegen cosine,
    * near-store rows drop, then batch-internal near-dups collapse to
    * the min-id winner (exact all-pairs within the batch — one
    * micro-batch is small by definition). Returns surviving rows of
    * `batch`.
    */
  def embedNearDupBatch(
      batch: DataFrame, store: DataFrame, idCol: String, vecCol: String,
      minCos: Double, planes: Int = 8, dim: Int = 64, tables: Int = 4): DataFrame = {
    import graft.functions.VectorFns
    val keyed = batch.select(col(idCol), col(vecCol),
        VectorFns.norm2(col(vecCol)).as("__n"),
        posexplode(vecBuckets(col(vecCol), planes, dim, tables)).as(Seq("__t", "__blk")))
    val cos = when(col("__n") * col("nrm") === 0.0, 0.0)
      .otherwise(VectorFns.dot(col(vecCol), col("vec")) / (col("__n") * col("nrm")))
    val hitIds = keyed
      .join(store.select(col("t").as("__t"), col("blk").as("__blk"),
        col("vec"), col("nrm")), Seq("__t", "__blk"))
      .filter(cos >= minCos)
      .select(col(idCol)).distinct()
    val fresh = batch.join(hitIds, Seq(idCol), "left_anti")
    val innerLosers = graft.operators.Similarity
      .nearDupPairs(fresh, idCol, vecCol, minCos)
      .select(col("id_b").as(idCol)).distinct()
    fresh.join(innerLosers, Seq(idCol), "left_anti")
  }

  /** Tier 4 sink: near-dup-deduplicated rows append to `outDir`; the
    * survivors' (vec, nrm) rows append once per LSH table to the
    * (t, blk)-partitioned vector store. Each batch's probe pushes its
    * distinct (t, blk) keys — bounded by tables × 2^planes (1024 at
    * the defaults) — as a partition filter, same O(batch) contract as
    * the other tiers, and the same out-before-store at-least-once
    * contract as [[dedupAgainstStore]].
    */
  def embedDedupAgainstStore(
      docs: DataFrame, idCol: String, vecCol: String, minCos: Double,
      storeDir: String, outDir: String, checkpoint: String,
      planes: Int = 8, dim: Int = 64, tables: Int = 4): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch.persist() // bucket-key collect + probe + inner verify
        try {
          val keys = b
            .select(posexplode(vecBuckets(col(vecCol), planes, dim, tables))
              .as(Seq("t", "blk")))
            .distinct().collect().map(r => (r.getInt(0), r.getString(1))).toSeq
          val store = prunedVecStore(spark, storeDir, keys)
          val fresh = embedNearDupBatch(b, store, idCol, vecCol, minCos,
            planes, dim, tables).persist()
          try {
            fresh.write.mode(SaveMode.Append).parquet(outDir)
            fresh.select(col(vecCol).as("vec"),
                graft.functions.VectorFns.norm2(col(vecCol)).as("nrm"),
                posexplode(vecBuckets(col(vecCol), planes, dim, tables))
                  .as(Seq("t", "blk")))
              .write.partitionBy("t", "blk")
              .mode(SaveMode.Append).parquet(v2Path(storeDir))
          } finally fresh.unpersist(blocking = false)
        } finally b.unpersist(blocking = false)
      }

  /** The vector store scan PRUNED to the given (t, blk) pairs —
    * partition filter only. Empty-safe before first append.
    */
  def prunedVecStore(
      spark: SparkSession, storeDir: String,
      keys: Seq[(Int, String)]): DataFrame = {
    val p = v2Path(storeDir)
    if (pathExists(spark, p) && keys.nonEmpty) {
      val pred = keys.map { case (t, blk) =>
        col("t") === lit(t) && col("blk") === lit(blk)
      }.reduce(_ || _)
      spark.read.schema(VecStoreSchema).parquet(p).where(pred)
    } else emptyDf(spark, "vec array<float>, nrm double, t int, blk string")
  }

  /** Compact the v2 vector store — same contract as [[compactFpStore]]. */
  def compactVecStore(spark: SparkSession, storeDir: String): Unit =
    compact(spark, v2Path(storeDir), VecStoreSchema, Seq("t", "blk"))

  // ---------------------------------------------------------------
  // Store compaction: every micro-batch appends one file per written
  // partition, so a long-running stream accretes thousands of tiny
  // files per directory and probe cost shifts from data to file
  // OPENS. Compaction rewrites each partition directory to ~one file.
  // ---------------------------------------------------------------

  /** Compact the v2 fingerprint store in place. OFFLINE maintenance
    * op — run with no concurrent writer (the rewrite-then-swap is not
    * atomic w.r.t. an appending stream; a crash between delete and
    * rename loses the store, so keep the stream's checkpoint and
    * replay, or snapshot first).
    *
    * One file per `pfx` directory: hash-repartitioning on the
    * partition column sends each pfx to exactly one task, and each
    * task writes one file per partition value it holds.
    */
  def compactFpStore(spark: SparkSession, storeDir: String): Unit =
    compact(spark, v2Path(storeDir), FpStoreSchema, Seq("pfx"))

  /** Compact the v2 signature store in place — same contract as
    * [[compactFpStore]], keyed on (band, bpfx).
    */
  def compactSigStore(spark: SparkSession, storeDir: String): Unit =
    compact(spark, v2Path(storeDir), SigStoreSchema, Seq("band", "bpfx"))

  private[streaming] def compact(
      spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String]): Unit = {
    if (!pathExists(spark, path)) return
    val tmp = s"$path.compact"
    spark.read.schema(schema).parquet(path)
      .repartition(partCols.map(col): _*)
      .write.partitionBy(partCols: _*)
      .mode(SaveMode.Overwrite).parquet(tmp)
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val t = new org.apache.hadoop.fs.Path(tmp)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    if (!fs.rename(t, p))
      throw new java.io.IOException(s"compaction swap failed: $tmp -> $path")
  }
}
