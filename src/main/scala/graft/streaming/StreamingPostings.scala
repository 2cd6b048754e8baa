package graft.streaming

import graft.operators.Retrieval
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** ST14: streaming maintenance of the X19e BM25 postings index —
  * the "index stays fresh as the corpus streams in" face of
  * [[graft.operators.Retrieval.buildPostingsIndex]]'s
  * build-once/retrieve-many trade, under the exactly-once
  * [[StateStore]] protocol every graft streaming store rides.
  *
  * Why the batch layout can't just be appended: the batch index
  * DENORMALIZES df onto each posting row, and a new document changes
  * df for every term it contains — appending would leave stale df on
  * all earlier rows. The streaming layout therefore splits the state:
  *
  *   postings/batch-<id>/pb=N/  immutable per-batch posting tables
  *       (tok, __did, tf, dl), term-hash partitioned like the batch
  *       index — documents are append-only, so a doc's postings are
  *       complete within its batch and never rewritten;
  *   state-<version>/            the SUMMABLE side: per-term df
  *       (tok, dfc) — df is a plain sum over batches, the
  *       StreamingMatView merge shape;
  *   pointer payload  (nDocs, sumDl, compactedThrough) — corpus
  *       stats ride the commit pointer as exact longs (sumDl exact ⇒
  *       avgdl identical to the batch arm's `avg`).
  *
  * A commit writes `postings/batch-<b>` and `state-<v+1>` before the
  * pointer moves; a crash in between leaves orphans the replayed
  * batch rewrites, and readers never see uncommitted batch dirs
  * (they list `postings/batch-*` only up to the pointer's batchId).
  *
  * Query face [[bm25TopKFromStore]]: the IDENTICAL score tree to
  * `bm25JoinTopK`/`bm25JoinTopKIndexed` over (pruned postings ⋈
  * broadcast query terms ⋈ broadcast query-vocab df) — results are
  * bit-equal to a fresh batch `bm25JoinTopK` over everything
  * ingested (spec-pinned, replay and crash included). [[compact]]
  * folds committed batch dirs into one (the streaming stores'
  * compaction convention) without changing any answer.
  *
  * SINGLE WRITER — the store assumes ONE writer at a time across
  * [[applyBatch]]/[[compact]] (foreachBatch is naturally serial;
  * maintenance runs between batches). Each maintenance op reads the
  * pointer ONCE and derives its whole view from that snapshot, so it
  * can never sweep a batch it didn't fold; concurrent writers would
  * still race at the pointer move itself and are out of contract.
  * Readers are always safe — the atomic pointer move exposes only
  * committed views.
  */
object StreamingPostings {

  private val Initial = Seq(0L, 0L, -1L)

  /** (version, lastBatchId, nDocs, sumDl, compactedThrough);
    * (0, -1, 0, 0, -1) initially. `compactedThrough` >= 0 means
    * batches up to that id live in `postings/base-<compactedThrough>`
    * and per-batch dirs at or below it are post-commit garbage.
    */
  def readPointer(storeDir: String): (Long, Long, Long, Long, Long) = {
    val p = StateStore.pointer(storeDir, Initial)
    (p.version, p.batchId, p.payload(0), p.payload(1), p.payload(2))
  }

  /** Committed posting directories under a pointer SNAPSHOT: the
    * compacted base (if any) + per-batch dirs ABOVE the compaction
    * watermark — per-batch dirs at or below it are post-commit
    * garbage a crashed cleanup may have left, and are ignored.
    * Takes the pointer as an argument (never re-reads it) so one
    * maintenance op derives its whole view from a single read — a
    * commit landing between two pointer reads could otherwise be
    * swept without being folded (see the single-writer note in the
    * object scaladoc).
    */
  private def committedBatchDirs(storeDir: String,
      ptr: (Long, Long, Long, Long, Long)): Seq[String] = {
    val (_, lastBatch, _, _, compactedThrough) = ptr
    val root = new java.io.File(storeDir, "postings")
    if (!root.isDirectory || lastBatch < 0) Seq.empty
    else {
      val base =
        if (compactedThrough < 0) Seq.empty
        else Seq(new java.io.File(root, s"base-$compactedThrough").getPath)
      val batches = root.listFiles().toSeq
        .filter { d =>
          d.isDirectory && StateStore.versionOf(d.getName, "batch-")
            .exists(b => b > compactedThrough && b <= lastBatch)
        }
        .map(_.getPath).sorted
      base ++ batches
    }
  }

  /** Fold ONE document batch (corpusId, text) into the store — pure
    * function of (committed store, batch, batchId); replays are
    * no-ops. Documents are append-only: a doc_id must appear in at
    * most one batch (the CDC-dedup stores upstream own mutation).
    */
  def applyBatch(batch: DataFrame, corpusId: String, text: Column,
      storeDir: String, batchId: Long, nBuckets: Int = 64): Unit =
    StateStore.commit(storeDir, batchId, initial = Initial) { (cur, next) =>
      val Seq(nDocs, sumDl, compactedThrough) = cur.payload
      val toks = batch.select(col(corpusId).as("__did"),
        explode(split(text, " ")).as("tok"))
      val dl = batch.select(col(corpusId).as("__did"),
        size(split(text, " ")).cast("double").as("dl"))
      val tf = toks.groupBy(col("__did"), col("tok"))
        .agg(count(lit(1)).cast("double").as("tf"))
      tf.join(dl, "__did")
        .withColumn("pb", pmod(xxhash64(col("tok")), lit(nBuckets.toLong)))
        .repartition(col("pb"))
        .sortWithinPartitions(col("tok"), col("__did"))
        .write.mode(SaveMode.Overwrite).partitionBy("pb")
        .parquet(s"$storeDir/postings/batch-$batchId")
      // df is summable: committed state + this batch's per-term df
      val dfBatch = tf.groupBy(col("tok"))
        .agg(count(lit(1)).cast("double").as("dfc"))
      StateStore.readVersioned(batch.sparkSession, storeDir, dfBatch)
        .unionByName(dfBatch)
        .groupBy(col("tok")).agg(sum(col("dfc")).as("dfc"))
        .write.mode(SaveMode.Overwrite).parquet(s"$storeDir/state-$next")
      val batchStats = dl.agg(count(lit(1)), sum(col("dl"))).head
      Seq(nDocs + batchStats.getLong(0),
        sumDl + Option(batchStats.get(1)).map(_
          .asInstanceOf[Double].toLong).getOrElse(0L),
        compactedThrough)
    }

  /** Fold the committed posting dirs into ONE compacted base
    * (keeping the term-hash partitioning), so the per-retrieval read
    * stops paying a directory per batch — answers unchanged (same
    * rows, same trees). Crash-safe at every instant: the new base is
    * written FULLY, then the pointer's compaction watermark moves
    * atomically (readers cut over in one step), and only THEN are the
    * superseded dirs deleted — a crash before the move leaves the old
    * view, a crash after leaves garbage dirs below the watermark that
    * [[committedBatchDirs]] ignores and the next compact sweeps.
    */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    // ONE pointer read per maintenance op: the dir list and the
    // written-back pointer both derive from this snapshot
    val ptr = readPointer(storeDir)
    val dirs = committedBatchDirs(storeDir, ptr)
    val (ver, lastBatch, nDocs, sumDl, compactedThrough) = ptr
    if (dirs.size > 1) {
      val all = dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
      all.repartition(col("pb"))
        .sortWithinPartitions(col("tok"), col("__did"))
        .write.mode(SaveMode.Overwrite).partitionBy("pb")
        .parquet(s"$storeDir/postings/base-$lastBatch")
      StateStore.publish(storeDir, StateStore.Pointer(ver, lastBatch,
        Seq(nDocs, sumDl, lastBatch)))
    }
    // post-commit cleanup (also sweeps leftovers of crashed cleanups);
    // the watermark is lastBatch if we just compacted, else unchanged
    val through = if (dirs.size > 1) lastBatch else compactedThrough
    if (through >= 0)
      StateStore.sweep(s"$storeDir/postings")(name =>
        StateStore.versionOf(name, "batch-").exists(_ <= through) ||
          StateStore.versionOf(name, "base-").exists(_ < through))
  }

  /** Retrieval against the streamed store — the bm25JoinTopK score
    * tree (operand order included) over committed postings, with df
    * joined from the state table (query-vocabulary-sized, broadcast)
    * instead of riding denormalized. Same df-cap contract (AUTO
    * sentinel default).
    */
  def bm25TopKFromStore(spark: SparkSession, storeDir: String,
      corpusId: String, queries: DataFrame, queryId: String,
      queryText: Column, k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDfFraction: Double = -1.0, nBuckets: Int = 64): DataFrame = {
    val (ver, _, nDocsL, sumDl, _) = readPointer(storeDir)
    val qTerms = queries.select(col(queryId).as("__qid"),
      explode(split(queryText, " ")).as("tok")).distinct()
    val dirs = committedBatchDirs(storeDir, readPointer(storeDir))
    if (ver == 0L || dirs.isEmpty) {
      // the degenerate schema must match the non-empty path, where
      // __did carries the INGESTED id type (string corpora exist) —
      // any batch dir on disk witnesses it (the posting schema is
      // stable across batches, committed or not); only a store that
      // has never been written falls back to long
      val didType = {
        val root = new java.io.File(storeDir, "postings")
        Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.isDirectory).sortBy(_.getName).headOption
          .flatMap(d => scala.util.Try(
            spark.read.parquet(d.getPath).schema("__did").dataType).toOption)
          .getOrElse(org.apache.spark.sql.types.LongType)
      }
      return qTerms.where(lit(false))
        .select(col("__qid").as(queryId),
          lit(null).cast(didType).as(corpusId),
          lit(null).cast("double").as("score"),
          lit(null).cast("long").as("n_terms"),
          lit(null).cast("long").as("rnk"))
    }
    val nDocs = nDocsL.toDouble
    val avgdl = sumDl.toDouble / nDocs
    val cap =
      if (maxDfFraction < 0.0) Retrieval.dfCapFor(nDocsL) else maxDfFraction
    val qb = qTerms
      .select(pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).as("pb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val postings = dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .where(if (qb.isEmpty) lit(false) else col("pb").isin(qb: _*))
    val dfState = spark.read.parquet(s"$storeDir/state-$ver")
      .join(broadcast(qTerms.select(col("tok")).distinct()), "tok")
      .where(col("dfc") <= lit(cap) * lit(nDocs))
    val matched = postings
      .join(broadcast(dfState), "tok")
      .join(broadcast(qTerms), "tok")
    val idf = log(lit(1.0) +
      (lit(nDocs) - col("dfc") + 0.5) / (col("dfc") + 0.5))
    val norm = col("tf") + lit(k1) *
      (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))
    val scored = matched
      .withColumn("__s", idf * col("tf") * lit(k1 + 1.0) / norm)
      .groupBy(col("__qid"), col("__did"))
      .agg(round(sum(round(col("__s"), 9).cast("decimal(28,9)"))
        .cast("double"), 6).as("score"),
        count(lit(1)).cast("long").as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qid"))
      .orderBy(col("score").desc, col("__did"))
    scored.withColumn("__rk", row_number().over(w).cast("long"))
      .where(col("__rk") <= k)
      .select(col("__qid").as(queryId), col("__did").as(corpusId),
        col("score"), col("n_terms"), col("__rk").as("rnk"))
  }

}
