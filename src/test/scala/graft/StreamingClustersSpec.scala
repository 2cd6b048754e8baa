package graft

import graft.streaming.{StreamingClusters, StreamingDedup}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Incremental near-dup clustering against the persistent label store
  * (streaming face of the X2 cluster step): per-batch assignment,
  * cluster-bridge merge logging, read-time exact resolution, and
  * durable compaction.
  */
class StreamingClustersSpec extends SparkSpec {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog and runs away fast"
  private val docA2 = "the quick brown fox jumps over the lazy cat and runs away fast"
  private val docA3 = "the quick brown fox jumps over the lazy rat and runs away fast"
  private val docB = "completely different content about spark engines and shuffles"
  private val docC = "yet another unrelated text mentioning benchmarks and joins"

  private def runBatches(dir: String)(batches: Seq[(Long, String)]*): Unit = {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamingClusters.assignAgainstStore(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", maxHamming = 12,
      s"$dir/store", s"$dir/out", s"$dir/ckpt").start()
    try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
  }

  test("X2-streaming: new docs adopt the stored cluster label across batches") {
    val dir = tempDir("graft-sclusters")
    runBatches(dir)(
      Seq(1L -> docA, 2L -> docB),
      // 10 is a near-dup of stored doc 1 → label 1; 22 is novel → label 22
      Seq(10L -> docA2, 22L -> docC))
    val out = spark.read.parquet(s"$dir/out")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 10L -> 1L, 22L -> 22L), s"got $out")
  }

  test("X2-streaming: batch-internal components cluster before store assignment") {
    val dir = tempDir("graft-sclusters2")
    runBatches(dir)(
      // 20/21 are near-dups of each other within ONE batch: both take
      // the component min 20; 22 is its own singleton
      Seq(20L -> docA, 21L -> docA2, 22L -> docC))
    val out = spark.read.parquet(s"$dir/out").as[(Long, Long)].collect().toMap
    assert(out == Map(20L -> 20L, 21L -> 20L, 22L -> 22L), s"got $out")
  }

  // bridge fixture: seed texts are hamming 18 apart (> maxHamming 12,
  // so they form DISTINCT store clusters — neither matches the other
  // at insert time), while the bridge doc is hamming 11 / 9 from them
  // with band collisions on both sides. Distances verified against
  // this exact md5-bigram simhash.
  private val seedL = "the quick cow blue jumps over the lazy dog and runs away fast"
  private val seedR = "the quick brown fox jumps over the pig green and runs away fast"

  test("X2-streaming: a bridging doc records a merge edge; resolve + compact unify") {
    val dir = tempDir("graft-sclusters3")
    runBatches(dir)(
      // two separate clusters seeded in SEPARATE batches; their mutual
      // hamming exceeds maxHamming so cluster 5 genuinely exists
      Seq(1L -> seedL),
      Seq(5L -> seedR),
      // doc 9 (docA) is near BOTH stored docs → adopts min label 1;
      // the unmatched-but-bridged label 5 must land in the merge log
      Seq(9L -> docA))
    val out = spark.read.parquet(s"$dir/out").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 5L -> 5L, 9L -> 1L),
      s"seeds must form distinct clusters before the bridge: $out")
    // the merge log is the bug surface: a single doc matching two
    // store clusters adopts the min and must still record the bridge
    val merges = spark.read.parquet(s"$dir/store/merges")
      .as[(Long, Long)].collect().toSet
    assert(merges == Set(1L -> 5L), s"bridge must be logged: $merges")
    // the store still holds doc 5 under its stale label 5 (append-only
    // hot path) — but resolveLabels closes the pointer forest exactly
    val resolved = StreamingClusters.resolveLabels(spark, s"$dir/store")
      .as[(Long, Long)].collect().toMap
    assert(resolved == Map(1L -> 1L, 5L -> 1L, 9L -> 1L), s"resolved: $resolved")
    // compaction makes it durable: store labels rewritten, merge log
    // cleared, and resolution still exact afterwards
    StreamingClusters.compactLabels(spark, s"$dir/store")
    val store = spark.read.schema(StreamingClusters.LabelStoreSchema)
      .parquet(s"$dir/store/v2")
    assert(store.select("label").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(!new java.io.File(s"$dir/store/merges").exists())
    val post = StreamingClusters.resolveLabels(spark, s"$dir/store")
      .as[(Long, Long)].collect().toMap
    assert(post == resolved)
  }

  test("X2-streaming property: random batched streams resolve to the batch CC; " +
      "compaction idempotent; crash windows recoverable") {
    import graft.operators.{Dedup, GraphOps}
    val pool = Vector("cat", "rat", "cow", "pig", "hen", "owl", "bee", "ant",
      "elk", "red", "blue", "green", "tall", "wide", "slow", "loud")
    val bases = Vector(
      "the quick brown fox jumps over the lazy dog and runs away fast",
      "a data pipeline shuffles rows across many executors with great care")
    def resolvedMap(store: String): Map[Long, Long] =
      StreamingClusters.resolveLabels(spark, store)
        .as[(Long, Long)].collect().toMap
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // random corpus: template variants at 0-3 substitutions (organic
      // near-dup families) + the deterministic bridge triple so every
      // seed exercises the merge-edge path
      val randomDocs = (1L to 11L).map { i =>
        val toks = bases(rnd.nextInt(bases.length)).split(" ")
        (0 until rnd.nextInt(4)).foreach { _ =>
          toks(rnd.nextInt(toks.length)) = pool(rnd.nextInt(pool.length))
        }
        i -> toks.mkString(" ")
      }
      val docs = randomDocs ++ Seq(20L -> seedL, 21L -> seedR, 22L -> docA)
      // random batching: 1-4 docs per batch, insertion order shuffled
      // inside each batch but seeds-before-bridge is NOT guaranteed —
      // bridges may appear in any batch, which is the point
      val shuffled = rnd.shuffle(docs)
      val batches = scala.collection.mutable.ListBuffer.empty[Seq[(Long, String)]]
      var rest = shuffled
      while (rest.nonEmpty) {
        val k = 1 + rnd.nextInt(4)
        batches += rest.take(k); rest = rest.drop(k)
      }
      val dir = tempDir(s"graft-scprop$seed")
      runBatches(dir)(batches.toSeq: _*)
      val store = s"$dir/store"
      // (a) exact agreement with the batch operator over the full corpus
      val full = docs.toDF("doc_id", "text")
      val ccMap = GraphOps.connectedComponents(
        Dedup.simhashNearDup(full, "doc_id", col("text"), maxHamming = 12),
        "id_a", "id_b").as[(Long, Long)].collect().toMap
      val expected = docs.map { case (id, _) => id -> ccMap.getOrElse(id, id) }.toMap
      assert(resolvedMap(store) == expected,
        s"seed $seed: incremental resolution diverged from batch CC")
      // (b) compaction reaches the same labels and is idempotent
      StreamingClusters.compactLabels(spark, store)
      assert(resolvedMap(store) == expected, s"seed $seed: first compaction")
      assert(!new java.io.File(s"$store/merges").exists(), s"seed $seed: merge log")
      StreamingClusters.compactLabels(spark, store)
      assert(resolvedMap(store) == expected, s"seed $seed: recompaction")
      // (c) crash windows. c1: a stale tmp (died mid-write) is invisible
      // to readers and overwritten by the next compaction
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sessionState.newHadoopConf())
      val v2 = new org.apache.hadoop.fs.Path(s"$store/v2")
      val tmp = new org.apache.hadoop.fs.Path(s"$store/v2.compact")
      fs.mkdirs(tmp)
      assert(resolvedMap(store) == expected, s"seed $seed: stale tmp perturbed reads")
      StreamingClusters.compactLabels(spark, store)
      assert(resolvedMap(store) == expected, s"seed $seed: compaction over stale tmp")
      // c2: died between store delete and tmp rename — the COMPLETE new
      // store sits in tmp; the next compaction finishes the swap
      assert(fs.rename(v2, tmp), "simulated crash setup")
      StreamingClusters.compactLabels(spark, store)
      assert(resolvedMap(store) == expected, s"seed $seed: crashed-swap recovery")
    }
  }

  test("X2-streaming: label-store probe reads a pruned file subset") {
    val dir = tempDir("graft-sclusters4")
    runBatches(dir)(Seq(1L -> docA, 2L -> docB, 3L -> docC))
    val full = spark.read.schema(StreamingClusters.LabelStoreSchema)
      .parquet(s"$dir/store/v2")
    val keys = full.select(col("band"), col("bpfx")).distinct()
      .as[(Int, String)].collect()
    assert(keys.length > 1, "fixture must span >1 (band, bpfx) partition")
    // numFiles from the executed FileSourceScan — inputFiles ignores
    // partition filters
    def filesOf(df: org.apache.spark.sql.DataFrame): Long = {
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
    val probe = StreamingClusters.prunedLabelStore(spark, s"$dir/store", Seq(keys.head))
    val (np, nf) = (filesOf(probe), filesOf(full))
    assert(np > 0 && np < nf, s"probe must prune: $np of $nf")
  }
}
