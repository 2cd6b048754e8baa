package graft.streaming

import graft.operators.Curation
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** ST16: streaming maintenance of the X13d Kneser–Ney trigram model —
  * keep the corpus-internal LM fresh as documents stream in, so
  * quality scoring ([[graft.operators.Curation.kneserNeyLogProb]])
  * serves from a store instead of re-counting the corpus per batch.
  *
  * Why this streams CLEANLY: the ENTIRE KN model derives from one
  * trigram count table c(w1,w2,w3) — context totals, every
  * continuation-type count (N1+), and the bigram-type marginals are
  * all reaggregations of it. Trigram counts are SUMMABLE over
  * document batches (documents are append-only), so the store's only
  * state is the merged count table — the [[StreamingMatView]] merge
  * shape, exactly like [[StreamingPostings]]' df state.
  *
  * State is one `state-<version>/` table of summable trigram counts
  * (w1, w2, w3, c3) per applied batch under the [[StateStore]]
  * protocol, with the ingested document count as the pointer's one
  * payload field. SINGLE WRITER, like every graft streaming store
  * (foreachBatch is naturally serial).
  *
  * Query face [[knScoreFromStore]]: scores any document batch through
  * the IDENTICAL shared stages as the batch operator
  * ([[Curation.knModelLogProbs]] over the store's counts +
  * [[Curation.knScoreDocs]]) — scores are bit-equal to
  * `kneserNeyLogProb` run over everything ingested (spec-pinned,
  * replay and crash included), because the merged count table is
  * exactly the batch aggregation's count table. Out-of-corpus
  * documents score over their in-model trigram positions (n_trigrams
  * reports how many) — the CCNet deployment shape: train the LM on
  * the reference corpus, score the incoming stream.
  */
object StreamingNgramLm {

  private val Initial = Seq(0L)

  /** (version, lastBatchId, nDocs); (0, -1, 0) initially. */
  def readPointer(storeDir: String): (Long, Long, Long) = {
    val p = StateStore.pointer(storeDir, Initial)
    (p.version, p.batchId, p.payload(0))
  }

  /** Fold ONE document batch (id, text) into the store — pure
    * function of (committed store, batch, batchId); replays are
    * no-ops. One tokenize + trigram aggregation over the BATCH, one
    * type-keyed merge with the committed counts — nothing
    * corpus-sized is rescanned.
    */
  def applyBatch(batch: DataFrame, id: String, text: Column,
      storeDir: String, batchId: Long): Unit =
    StateStore.commit(storeDir, batchId, initial = Initial) { (cur, next) =>
      val batchCounts = Curation.knTrigrams(batch, id, text)
        .groupBy("w1", "w2", "w3")
        .agg(count(lit(1)).cast("double").as("c3"))
      // c3 values are integer-valued doubles — sums exact in any order
      StateStore.readVersioned(batch.sparkSession, storeDir, batchCounts)
        .unionByName(batchCounts)
        .groupBy("w1", "w2", "w3")
        .agg(sum(col("c3")).as("c3"))
        .write.mode(SaveMode.Overwrite).parquet(s"$storeDir/state-$next")
      Seq(cur.payload(0) + batch.count())
    }

  /** Score a document batch against the store's model — the shared
    * KN stages over the committed counts; bit-equal to the batch
    * operator over everything ingested. An empty/virgin store yields
    * a well-formed empty result.
    */
  def knScoreFromStore(spark: SparkSession, storeDir: String,
      docs: DataFrame, id: String, text: Column,
      discount: Double = 0.75): DataFrame = {
    val (ver, _, _) = readPointer(storeDir)
    val tris = Curation.knTrigrams(docs, id, text)
    if (ver == 0L)
      return tris.where(lit(false))
        .groupBy(col(id))
        .agg(count(lit(1)).as("n_trigrams"),
          lit(null).cast("double").as("avg_logprob_kn"))
    val t3 = spark.read.parquet(s"$storeDir/state-$ver")
    Curation.knScoreDocs(tris, Curation.knModelLogProbs(t3, discount), id)
  }

}
