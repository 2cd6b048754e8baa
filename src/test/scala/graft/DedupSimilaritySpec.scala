package graft

import graft.functions.{TextFns, Udfs, VectorFns}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** X1-X4 operator units (SURVEY.md §2.10). */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog")    // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps the deterministic min winner per group") {
    val df = Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30)).toDF("id", "g", "v")
    val out = Dedup.exact(df, Seq("g"), col("id")).select("id").as[Long].collect().toSet
    assert(out === Set(1L, 3L))
  }

  test("shingles: codegen expression == HOF formulation on the corpus") {
    requireTestdata()
    val docs01 = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    Seq(1, 2, 3).foreach { k =>
      val both = docs01.select(
        TextFns.shingles(split(col("text"), " "), k).as("fast"),
        TextFns.shinglesHof(split(col("text"), " "), k).as("hof"))
      assert(both.filter(col("fast") =!= col("hof")).count() === 0, s"k=$k")
    }
  }

  test("shingles: word bigrams, short docs yield empty") {
    val out = docs.filter(col("doc_id") === 1)
      .select(TextFns.shingles(split(col("text"), " "), 2).as("sh"))
      .as[Seq[String]].collect().head
    assert(out.head === "the quick" && out.size === 8)
    val short = Seq((1L, "word")).toDF("doc_id", "text")
      .select(TextFns.shingles(split(col("text"), " "), 2).as("sh"))
      .as[Seq[String]].collect().head
    assert(short.isEmpty)
  }

  test("ngramJaccard finds the near-dup pair and not the unrelated doc") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", col("text"), k = 2, minJ = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash near-dup verified pairs are a subset of high-Jaccard truth, and exact dups always collide") {
    val out = Dedup.minhashNearDup(docs, "doc_id", col("text"),
      k = 2, bands = 4, rowsPerBand = 3, minJ = 0.8)
      .select("id_a", "id_b", "jaccard").collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))          // identical docs: every band agrees
    out.foreach(r => assert(r.getDouble(2) >= 0.8))
  }

  test("minhash-LSH at 8x2 banding recalls the exact ngram-Jaccard pairs at minJ=0.5") {
    // the registered q_ngram_jaccard is LSH-candidates + exact verify;
    // this keeps its approximation gap MEASURED against the exact
    // inverted-index form on the real corpus (banding theory: 8 bands
    // x 2 rows -> P[candidate] ~ 0.90 at j=0.5, ~1 at j>=0.9)
    requireTestdata()
    val docs01 = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val exact = Dedup.ngramJaccard(docs01, "doc_id", col("text"), k = 2, minJ = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDup(docs01, "doc_id", col("text"),
      k = 2, bands = 8, rowsPerBand = 2, minJ = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // exact verify => perfect precision
    assert(exact.nonEmpty)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall over ${exact.size} true pairs")
  }

  test("operator-scoped caches are released after the consuming action (no block leak)") {
    requireTestdata()
    val docs01 = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    // RDDs the operator persisted that are still persisted. Read from
    // the persistence list, which unpersist updates synchronously: the
    // cached-partition counts of getRDDStorageInfo come from the status
    // store, which the listener bus fills asynchronously, so they can
    // read 0 before the blocks are recorded and 1 a moment later.
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Seq(
      () => Dedup.minhashNearDup(docs01, "doc_id", col("text"),
        k = 2, bands = 4, rowsPerBand = 3, minJ = 0.8),
      () => Dedup.ngramJaccard(docs01, "doc_id", col("text"), k = 2, minJ = 0.5),
      () => Dedup.simhashNearDup(docs01, "doc_id", col("text"), maxHamming = 12)
    ).foreach { op =>
      val before = persisted
      op().count() // consuming action: caches populate, then release
      // QueryExecutionListener callbacks are async — poll with deadline
      val deadline = System.currentTimeMillis() + 10000
      while ((persisted -- before).nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert((persisted -- before).isEmpty,
        "cached signature tables must not outlive the action")
    }
  }

  test("simhash: 64-bit string, identical docs identical signature, near-dups close") {
    val sig = Dedup.simhash(docs, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sig.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    assert(sig(1L) === sig(4L))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)))
  }

  test("cosine: known values, zero-norm guard, udf == native composition") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f), 0.0),
      (Seq(1f, 2f), Seq(2f, 4f), 1.0),
      (Seq(0f, 0f), Seq(1f, 1f), 0.0)
    ).toDF("a", "b", "expect")
    val rows = df.select(
      VectorFns.cosine(col("a"), col("b")).as("native"),
      Udfs.cosineUdf(col("a"), col("b")).as("viaUdf"),
      col("expect")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(2)) < 1e-12)
      assert(r.getDouble(0) === r.getDouble(1)) // identical accumulation order
    }
  }

  test("bruteForceTopK: self excluded, ranked desc, k bounded") {
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f)),
      (3L, Seq(0f, 1f, 0f)), (4L, Seq(1f, 0.01f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 2)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSeq
    assert(out === Seq((4L, 1L), (2L, 2L)))
  }

  test("lshTopK results are a subset of brute-force candidates with matching cosine") {
    val vecs = (0L until 40L).map(i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 10 === 0)
    val bf = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 40)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val lsh = Similarity.lshTopK(vecs, q, "vec_id", "embedding",
      k = 5, planes = 2, dim = 8, tables = 2)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, c) => assert(bf((a, b)) === c) }
  }

  test("lshNearDupPairs: verified subset of exact near-dup pairs, recall measured") {
    requireTestdata()
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = Similarity.nearDupPairs(emb, "vec_id", "embedding", minCos = 0.45)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect().map { case (a, b, c) => (a, b) -> c }.toMap
    val lsh = Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
      minCos = 0.45, planes = 8, dim = 64, tables = 8)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect()
    // this corpus's pairs all sit at the threshold angle where 8-plane
    // buckets recall ~0.2 BY DESIGN (see q_embed_neardup_lsh notes) —
    // lsh may legitimately be small/empty here; the near-dup regime is
    // asserted in the synthetic cos~1 test below
    assert(exact.nonEmpty)
    // precision is perfect by construction (exact verify); cosines match
    lsh.foreach { case (a, b, c) => assert(exact((a, b)) === c, s"($a,$b)") }
    val recall = lsh.size.toDouble / exact.size
    // strong pairs (cos>=0.6) should nearly all survive the bucketing
    val strong = exact.filter(_._2 >= 0.6).keySet
    val strongHit = lsh.count { case (a, b, _) => strong((a, b)) }
    info(s"recall@0.45=$recall strong=${strongHit}/${strong.size} of ${exact.size} pairs")
    if (strong.nonEmpty)
      assert(strongHit.toDouble / strong.size >= 0.8,
        s"strong-pair recall ${strongHit.toDouble / strong.size}")
  }

  test("oracle coupling canary: every oracled embeddings fixture stays under the 8x8 auto band") {
    // q_embed_neardup_lsh registers the AUTO config while its DuckDB
    // oracle hard-codes 8 planes x 8 tables — sound only while every
    // oracled fixture keeps <= 20k vectors (lshConfigFor's first
    // breakpoint). This canary turns that invisible coupling into a
    // named failure: if a larger fixture is ever oracled, pin the
    // registration or regenerate the oracle SQL for the new config.
    requireTestdata()
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(s"$dir/embeddings.parquet").exists()) {
        val n = Tables.table(spark, dir, "embeddings").count()
        assert(Similarity.lshConfigFor(n) === ((8, 8)),
          s"$sf has $n vectors: auto LSH leaves the oracle's pinned 8x8 band — " +
            "update q_embed_neardup_lsh's registration/oracle together")
      }
    }
  }

  test("lshConfigFor pins the measured breakpoints and extrapolates the rule") {
    // measured (BASELINE.md crossover table): 8×8 fastest up to ~20k
    // vectors, 12×16 wins from there through the measured 60k point
    assert(Similarity.lshConfigFor(500L) === ((8, 8)))
    assert(Similarity.lshConfigFor(20000L) === ((8, 8)))
    assert(Similarity.lshConfigFor(20001L) === ((12, 16)))
    assert(Similarity.lshConfigFor(60000L) === ((12, 16)))
    assert(Similarity.lshConfigFor(100000L) === ((12, 16)))
    // extrapolation: each further 4× in |D| adds 2 planes (flat
    // per-bucket occupancy) and doubles tables (recall compensation)
    assert(Similarity.lshConfigFor(400000L) === ((14, 32)))
    assert(Similarity.lshConfigFor(1600000L) === ((16, 64)))
    // capped — past this, IVF is the better tier
    assert(Similarity.lshConfigFor(Long.MaxValue) === ((28, 128)))
  }

  test("lshNearDupPairs auto default equals the pinned 8x8 config below the crossover") {
    requireTestdata()
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    def run(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSet
    val auto = run(Similarity.lshNearDupPairs(
      emb, "vec_id", "embedding", minCos = 0.45, dim = 64))
    val pinned = run(Similarity.lshNearDupPairs(
      emb, "vec_id", "embedding", minCos = 0.45, planes = 8, dim = 64, tables = 8))
    assert(auto === pinned)
    // an explicitly pinned tables survives auto planes (the auto
    // branch must not silently discard a caller's recall dial): with
    // more OR-amplification tables the pair set can only grow
    val moreTables = run(Similarity.lshNearDupPairs(
      emb, "vec_id", "embedding", minCos = 0.45, dim = 64, tables = 16))
    assert(auto.subsetOf(moreTables),
      s"16-table auto-planes run lost pairs the 8-table run found")
  }

  test("nHint: auto-config paths build with zero jobs when the corpus size is hinted") {
    // a range-backed frame (NOT a LocalRelation) so an autosizing
    // count() must launch a real Spark job — the thing nHint removes
    val vecs = spark.range(64).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        d => sin(col("id") * 0.7 + d).cast("float")).as("embedding"))
    val q = vecs.filter(col("vec_id") % 16 === 0)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(js.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // marker protocol: build the plan, then run one marker action.
      // The listener bus delivers JobStart events in submission order,
      // so once the marker's job is visible, any build-time job would
      // be too. Returns the number of non-marker jobs.
      def jobsDuring(build: => Any): Int = {
        jobs.clear()
        build
        // RDD count = exactly ONE job (a DataFrame count is 2+ under
        // AQE: shuffle map stage + result stage each get a job)
        spark.sparkContext.parallelize(Seq(1), 1).count()
        val deadline = System.currentTimeMillis() + 10000
        var last = -1
        while (System.currentTimeMillis() < deadline &&
          (jobs.isEmpty || jobs.size != last)) {
          last = jobs.size; Thread.sleep(50)
        }
        assert(!jobs.isEmpty, "marker job never observed")
        jobs.size - 1
      }
      assert(jobsDuring(Similarity.lshNearDupPairs(
        vecs, "vec_id", "embedding", minCos = 0.9, dim = 16, nHint = 64L)) === 0)
      assert(jobsDuring(Similarity.lshTopK(
        vecs, q, "vec_id", "embedding", k = 3, dim = 16, nHint = 64L)) === 0)
      assert(jobsDuring(Similarity.ivfTopK(
        vecs, q, "vec_id", "embedding", k = 3, nHint = 64L)) === 0)
      // without the hint the auto branch pays exactly the documented
      // plan-build-time count job
      assert(jobsDuring(Similarity.lshNearDupPairs(
        vecs, "vec_id", "embedding", minCos = 0.9, dim = 16)) >= 1)
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the hint changes only WHEN the size is learned, not results
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(
      pairs(Similarity.lshNearDupPairs(
        vecs, "vec_id", "embedding", minCos = 0.9, dim = 16, nHint = 64L)) ===
      pairs(Similarity.lshNearDupPairs(
        vecs, "vec_id", "embedding", minCos = 0.9, dim = 16)))
  }

  test("lshNearDupPairs recalls essentially all TRUE near-dups (cos~1 synthetic pairs)") {
    // the real corpus has no high-cosine pairs, so the operating
    // regime (dedup of genuine near-duplicates) is proven here:
    // perturbed copies at cos ~0.9999 must survive 4-plane x 8-table
    // bucketing with P[miss] ~ 1e-14 per pair
    val base = (0L until 30L).map(i =>
      (i, Seq.tabulate(16)(d => math.sin(i * 1.3 + d * 0.7).toFloat)))
    val dups = base.map { case (i, v) => (i + 1000L, v.map(x => x * 1.02f + 0.01f)) }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val out = Similarity.lshNearDupPairs(df, "vec_id", "embedding",
      minCos = 0.9, planes = 8, dim = 16, tables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = base.map { case (i, _) => (i, i + 1000L) }.toSet
    assert(expected.forall(out.contains),
      s"missed ${expected.diff(out)} of ${expected.size} true near-dup pairs")
  }

  test("ivfConfigFor: sqrt rule snapped to powers of two, clamped, probe = nlist/8") {
    assert(Similarity.ivfConfigFor(1L) === ((16, 2)))          // floor clamp
    assert(Similarity.ivfConfigFor(1000L) === ((32, 4)))       // sqrt≈32
    assert(Similarity.ivfConfigFor(1000000L) === ((1024, 128)))
    assert(Similarity.ivfConfigFor(100000000L) === ((8192, 1024)))
    assert(Similarity.ivfConfigFor(Long.MaxValue) === ((65536, 8192))) // ceiling clamp
    // an explicitly pinned nProbe survives auto nlist: results from
    // the auto form with nProbe pinned equal the fully pinned form
    requireTestdata()
    val vecs = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = vecs.filter(col("vec_id") % 50 === 0)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    val (autoL, _) = Similarity.ivfConfigFor(vecs.count())
    val auto = run(Similarity.ivfTopK(vecs, q, "vec_id", "embedding", k = 3, nProbe = 2))
    val pinned = run(Similarity.ivfTopK(vecs, q, "vec_id", "embedding",
      k = 3, nlist = autoL, nProbe = 2))
    assert(auto === pinned)
  }

  test("servingConfigFor: measured recall curve, monotone, exact-search anchor") {
    // the measured 30x curve points (nlist 256): narrowest fraction
    // whose measured recall@10 clears the target
    assert(Similarity.servingConfigFor(256, 0.55) === 32)   // 1/8 → 0.59
    assert(Similarity.servingConfigFor(256, 0.59) === 32)
    assert(Similarity.servingConfigFor(256, 0.60) === 64)   // 1/4 → 0.78
    assert(Similarity.servingConfigFor(256, 0.85) === 96)   // 3/8 → 0.88
    assert(Similarity.servingConfigFor(256, 0.90) === 128)  // 1/2 → 0.94
    assert(Similarity.servingConfigFor(256, 0.94) === 128)
    // above the measured curve: probe everything (exact, recall 1.0)
    assert(Similarity.servingConfigFor(256, 0.95) === 256)
    assert(Similarity.servingConfigFor(256, 1.0) === 256)
    // monotone in the target, never below 1, for any nlist
    for (nl <- Seq(1, 16, 256, 4096)) {
      val widths = Seq(0.1, 0.5, 0.6, 0.8, 0.9, 0.99)
        .map(Similarity.servingConfigFor(nl, _))
      assert(widths === widths.sorted, s"nlist $nl: $widths not monotone")
      assert(widths.head >= 1 && widths.last <= nl)
    }
    // the rule at the 0.9 contract equals the historical nlist/2
    // default, so ivfTopKServing's behavior is unchanged at the floor
    assert(Similarity.servingConfigFor(256, 0.9) === 256 / 2)
    // the clustered curve (round-16 planted-cluster measurement:
    // recall 1.0 at every fraction down to 1/32): nlist/8 for any
    // reachable target, exact-search anchor above 1.0 never fires
    assert(Similarity.servingConfigFor(256, 0.9, clustered = true) === 32)
    assert(Similarity.servingConfigFor(256, 1.0, clustered = true) === 32)
    // the flag can only NARROW the probe, never widen it
    for (t <- Seq(0.5, 0.8, 0.9, 0.99))
      assert(Similarity.servingConfigFor(256, t, clustered = true) <=
        Similarity.servingConfigFor(256, t))
  }

  test("ivfTopK: exact cosines, high recall vs brute force at nProbe=4/16") {
    val vecs = (0L until 200L).map(i =>
      (i, Seq.tabulate(16)(d => math.sin(i * 0.37 + d * 1.1).toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 20 === 0)
    val bf = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bfCos = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 200)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().map { case (a, b, c) => (a, b) -> c }.toMap
    val ivf = Similarity.ivfTopK(vecs, q, "vec_id", "embedding",
      k = 5, nlist = 16, nProbe = 4)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    // cosines are exact (same arithmetic as brute force)
    ivf.foreach { case (a, b, c) => assert(bfCos((a, b)) === c) }
    // recall@5 over the probed fraction should be well above chance
    val recall = ivf.map { case (a, b, _) => (a, b) }.count(bf.contains).toDouble /
      bf.size.toDouble
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("ivfTopKServing: full probe == brute force exactly (per-cell prune is lossless)") {
    // with nProbe = nlist every cell is probed, so the serving tier
    // must reproduce the exact ranking whatever the centroids look
    // like — this pins both the trained-centroid plumbing and the
    // per-cell prune's identity argument (global top-k takes at most
    // k rows from any one cell)
    val vecs = (0L until 120L).map(i =>
      (i, Seq.tabulate(16)(d => math.sin(i * 0.37 + d * 1.1).toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 12 === 0)
    val bf = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val serve = Similarity.ivfTopKServing(vecs, q, "vec_id", "embedding",
      k = 5, nlist = 8, nProbe = 8, iters = 2)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(serve === bf)
  }

  test("persisted IVF index: indexed retrieval equals a fresh serving call bit-for-bit; probed cells prune the read") {
    val vecs = (0L until 150L).map(i =>
      (i, Seq.tabulate(16)(d => math.sin(i * 0.53 + d * 0.77).toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 15 === 0)
    val idx = tempDir("graft-ivfidx-spec")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", idx,
      nlist = 8, iters = 2)
    val indexed = Similarity.ivfTopKIndexed(spark, idx, q,
      "vec_id", "embedding", k = 5, nProbe = 4)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    // trainCentroids is bit-deterministic, so a FRESH serving call at
    // the same (nlist, nProbe, iters) trains the identical codebook —
    // the index path must reproduce it exactly
    val serve = Similarity.ivfTopKServing(vecs, q, "vec_id", "embedding",
      k = 5, nlist = 8, nProbe = 4, iters = 2)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(indexed.nonEmpty && indexed === serve)
    // the cells read carries a partition filter on the probed cells
    val plan = Similarity.ivfTopKIndexed(spark, idx, q,
      "vec_id", "embedding", k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning on the cells read:\n$plan")
  }

  test("X3h filtered ANN: full-probe filtered retrieval equals brute force over the filtered corpus; the auto face dispatches both arms correctly") {
    val vecs = (0L until 150L).map(i =>
      (i, Seq.tabulate(16)(d => math.sin(i * 0.53 + d * 0.77).toFloat),
        (i % 5).toInt))
      .toDF("vec_id", "embedding", "label")
    val q = vecs.filter(col("vec_id") % 15 === 0)
      .select("vec_id", "embedding")
    val idx = tempDir("graft-ivffidx-spec")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", idx,
      nlist = 8, iters = 2, attrs = Seq("label"))
    val pred = col("label") % 2 === 0
    // nProbe = nlist ⇒ every cell probed ⇒ the filtered-indexed read
    // must equal exact brute force over the filtered corpus
    val filtered = Similarity.ivfTopKFilteredIndexed(spark, idx, q,
      "vec_id", "embedding", k = 5, pred = pred, nProbe = 8)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(
      vecs.where(pred).select("vec_id", "embedding"), q,
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(filtered.nonEmpty && filtered === brute)
    // every neighbor satisfies the predicate
    assert(filtered.forall { case (_, n, _, _) => n % 5 % 2 == 0 })
    // auto face, survivors (90) × |Q| (10) = 900 dots ≤ budget → brute arm
    val autoBrute = Similarity.annFilteredTopK(spark, idx, q,
      "vec_id", "embedding", k = 5, pred = pred, bruteDotBudget = 1000L)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(autoBrute === brute)
    // auto face, survivors > budget → the indexed arm at its nProbe
    val autoIvf = Similarity.annFilteredTopK(spark, idx, q,
      "vec_id", "embedding", k = 5, pred = pred,
      nProbe = 3, bruteDotBudget = 10L)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val ivf3 = Similarity.ivfTopKFilteredIndexed(spark, idx, q,
      "vec_id", "embedding", k = 5, pred = pred, nProbe = 3)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(autoIvf === ivf3)
    // the filtered read pushes the attr predicate into the cells scan
    val plan = Similarity.ivfTopKFilteredIndexed(spark, idx, q,
      "vec_id", "embedding", k = 5, pred = pred, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("label") && plan.contains("DataFilters"),
      s"label predicate not pushed into the cells scan:\n$plan")
  }

  test("PQ index: exhaustive-candidate retrieval equals the flat index bit-for-bit; codes prune the read") {
    val vecs = (0L until 150L).map(i =>
      (i, Seq.tabulate(16)(d => math.sin(i * 0.53 + d * 0.77).toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 15 === 0)
    val flat = tempDir("graft-ivfflat-spec")
    val pq = tempDir("graft-ivfpq-spec")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", flat,
      nlist = 8, iters = 2)
    Similarity.buildIvfPqIndex(vecs, "vec_id", "embedding", pq,
      nlist = 8, iters = 2, m = 4, ks = 8)
    // same deterministic coarse codebook ⇒ same probe; exhaustive
    // candidates (candMult·k ≥ |corpus|) ⇒ the re-rank IS the flat
    // scoring, so the outputs must be identical rows
    val f = Similarity.ivfTopKIndexed(spark, flat, q,
      "vec_id", "embedding", k = 5, nProbe = 4)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val p = Similarity.ivfPqTopK(spark, pq, q,
      "vec_id", "embedding", k = 5, nProbe = 4, candMult = 30)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(p.nonEmpty && p === f)
    // both physical reads are partition-pruned to the probed cells
    val plan = Similarity.ivfPqTopK(spark, pq, q,
      "vec_id", "embedding", k = 5, nProbe = 2, candMult = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning on the pq reads:\n$plan")
    // the compressed scan representation really is bytes-per-vector
    // small: m int codes + 1 float norm vs dim floats
    val codeRow = spark.read.parquet(s"$pq/pqcodes").head
    assert(codeRow.getAs[Seq[Int]]("code").length === 4)
  }

  test("PQ index: a narrow candidate budget reaches retrieval-grade recall on a clustered corpus; scored rows are exact") {
    // the filtering regime PQ exists for: on data with real cluster
    // structure the ADC ordering resolves neighborhoods, so a small
    // candidate budget (candMult·k ≪ probed population) must already
    // recover most of the flat arm's top-k. EXACT equality is not the
    // contract here — within a tight cluster the true cosine gaps
    // (~1e-3) sit below residual-quantization resolution, which is
    // precisely why IVFADC re-ranks — but every row PQ does emit must
    // carry the exact cosine (the re-rank guarantee)
    val rnd = new scala.util.Random(19)
    val vecs = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Seq.tabulate(16) { d =>
        val base = if (d == 2 * c || d == 2 * c + 1) 1.0f else 0.0f
        base + (rnd.nextFloat() - 0.5f) * 0.1f
      })
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 10 === 0)
    val flat = tempDir("graft-ivfflat2-spec")
    val pq = tempDir("graft-ivfpq2-spec")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", flat,
      nlist = 8, iters = 2)
    Similarity.buildIvfPqIndex(vecs, "vec_id", "embedding", pq,
      nlist = 8, iters = 2, m = 8, ks = 32)
    val f = Similarity.ivfTopKIndexed(spark, flat, q,
      "vec_id", "embedding", k = 5, nProbe = 2)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    val p = Similarity.ivfPqTopK(spark, pq, q,
      "vec_id", "embedding", k = 5, nProbe = 2, candMult = 4)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    val fSet = f.map(r => (r._1, r._2)).toSet
    val recall = p.count(r => fSet.contains((r._1, r._2))).toDouble /
      fSet.size.toDouble
    assert(recall >= 0.8, s"PQ recall@5 at candMult=4: $recall")
    // the re-rank guarantee: every emitted (query, neighbor) carries
    // the identical exact cosine the flat arm computes
    val fCos = f.map(r => (r._1, r._2) -> r._3).toMap
    for ((qid, nid, c) <- p if fCos.contains((qid, nid)))
      assert(c === fCos((qid, nid)), s"cosine drift on ($qid, $nid)")
  }

  test("PQ index: empty Lloyd clusters keep their codewords — codes stay dense so the positional LUT lookup stays aligned") {
    // only 4 distinct vectors ⇒ at most 4 distinct residuals per
    // subspace, so most of the ks=8 seed codewords attract ZERO
    // training points in the Lloyd passes (ties assign to the lowest
    // code). Empty codes must be RETAINED (previous vector kept), not
    // dropped: pqcodes stores code VALUES while the serving LUT
    // indexes the code-sorted codebook POSITIONALLY — a dropped code
    // would shift every higher code onto the wrong LUT entry and
    // silently corrupt the ADC candidate ordering
    val vecs = (0L until 120L).map { i =>
      val c = (i % 4).toInt
      (i, Seq.tabulate(16)(d =>
        if (d % 4 == c) 1.0f else 0.1f * c))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 20 === 0)
    val flat = tempDir("graft-ivfflat3-spec")
    val pq = tempDir("graft-ivfpq3-spec")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", flat,
      nlist = 2, iters = 2)
    Similarity.buildIvfPqIndex(vecs, "vec_id", "embedding", pq,
      nlist = 2, iters = 2, m = 4, ks = 8)
    // the codebook stays COMPLETE: m·ks rows, codes dense 0..ks−1
    val cb = spark.read.parquet(s"$pq/pq")
      .select("sub", "code").as[(Int, Int)].collect()
    assert(cb.length === 4 * 8, s"codebook rows: ${cb.length}")
    for (s <- 0 until 4)
      assert(cb.filter(_._1 == s).map(_._2).sorted.toSeq ==
        (0 until 8).toSeq, s"sub $s codes not dense 0..7")
    // and the exhaustive-candidate regime still equals the flat index
    val f = Similarity.ivfTopKIndexed(spark, flat, q,
      "vec_id", "embedding", k = 5, nProbe = 2)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val p = Similarity.ivfPqTopK(spark, pq, q,
      "vec_id", "embedding", k = 5, nProbe = 2, candMult = 40)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(p.nonEmpty && p === f)
  }

  test("X3g annTierFor: the measured crossover decision table") {
    import graft.operators.AnnTier
    // 60k corpus (the 30x artifact scale): nlist 256, weak probe 128
    // (f=1/2), clustered probe 32 (f=1/8)
    // |Q|=100: saved 50 dots/row << the 600 overhead -> brute, exactly
    // the measured regime where brute wins outright (1.6s vs 3.5s)
    assert(Similarity.annTierFor(60000L, 100L, hasIndex = true)
      === AnnTier.Brute)
    assert(Similarity.annTierFor(60000L, 100L, hasIndex = false)
      === AnnTier.Brute)
    // |Q|=3000: saved 1500 > 600 -> indexed (measured 6.4x win on the
    // clustered corpus; wide-probe also wins in the pair-bound regime
    // where brute's top-k window shuffle spills)
    assert(Similarity.annTierFor(60000L, 3000L, hasIndex = true)
      === AnnTier.Indexed(128))
    assert(Similarity.annTierFor(60000L, 3000L, hasIndex = true,
      clustered = true) === AnnTier.Indexed(32))
    // no index: serving must additionally clear training+assignment
    // (~3·nlist = 768, threshold 1368) — |Q|=3000 clears it (the
    // measured thin-margin serving win at the proportional slice),
    // |Q|=1500 does not
    assert(Similarity.annTierFor(60000L, 3000L, hasIndex = false)
      === AnnTier.Serving(256, 128))
    assert(Similarity.annTierFor(60000L, 1500L, hasIndex = false)
      === AnnTier.Brute)
    // clustered narrows the probe, pulling the indexed crossover in:
    // at |Q|=750 the weak curve stays brute (saved 375 < 600) while
    // the clustered curve flips to indexed (saved 656 > 600)
    assert(Similarity.annTierFor(60000L, 750L, hasIndex = true,
      clustered = false) === AnnTier.Brute)
    assert(Similarity.annTierFor(60000L, 750L, hasIndex = true,
      clustered = true) === AnnTier.Indexed(32))
    // the measured bracket itself: brute still ahead at |Q|=1000
    // (saved 500), indexed decisively ahead at |Q|=2000 (saved 1000)
    assert(Similarity.annTierFor(60000L, 1000L, hasIndex = true)
      === AnnTier.Brute)
    assert(Similarity.annTierFor(60000L, 2000L, hasIndex = true)
      === AnnTier.Indexed(128))
  }

  test("X3g estimateClustered: measured margins separate planted structure from the weak lattice") {
    val weak = (0L until 400L).map(i =>
      (i, Seq.tabulate(16)(d => math.sin(i * 0.53 + d * 0.77).toFloat)))
      .toDF("vec_id", "embedding")
    val rnd = new scala.util.Random(19)
    val planted = (0L until 400L).map { i =>
      val c = (i % 8).toInt
      (i, Seq.tabulate(16) { d =>
        val base = if (d == 2 * c || d == 2 * c + 1) 1.0f else 0.0f
        base + (rnd.nextFloat() - 0.5f) * 0.1f
      })
    }.toDF("vec_id", "embedding")
    val mWeak = Similarity.clusterMargin(weak, "vec_id", "embedding")
    val mPlanted = Similarity.clusterMargin(planted, "vec_id", "embedding")
    // pinned measured values: ~0.06 vs ~0.36, threshold 0.15 between
    assert(mWeak < 0.10, s"weak margin drifted: $mWeak")
    assert(mPlanted > 0.25, s"planted margin drifted: $mPlanted")
    assert(!Similarity.estimateClustered(weak, "vec_id", "embedding"))
    assert(Similarity.estimateClustered(planted, "vec_id", "embedding"))
  }

  test("X3g annTopKAuto dispatches to the chosen tier and is bit-equal to calling it directly") {
    import graft.operators.AnnTier
    val vecs = (0L until 150L).map(i =>
      (i, Seq.tabulate(16)(d => math.sin(i * 0.53 + d * 0.77).toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 15 === 0)
    val idx = tempDir("graft-tierauto-spec")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", idx,
      nlist = 16, iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine", "rank")
        .as[(Long, Long, Double, Long)].collect().toSet
    // |Q|=10 at 150 rows: brute (saved 5 dots/row << 200) — equals
    // bruteForceTopK bit-for-bit
    assert(Similarity.annTierAuto(vecs, q, "vec_id", "embedding",
      hasIndex = true) === AnnTier.Brute)
    assert(rows(Similarity.annTopKAuto(vecs, q, "vec_id", "embedding",
      k = 5, indexDir = idx)) ===
      rows(Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)))
    // a qHint above the crossover flips the decision to the index
    // (nlist 16 from the 150-row corpus, weak probe 8) — the dispatch
    // must be bit-equal to the direct indexed call
    assert(Similarity.annTierAuto(vecs, q, "vec_id", "embedding",
      hasIndex = true, qHint = 2000L,
      clustered = Some(false)) === AnnTier.Indexed(8))
    assert(rows(Similarity.annTopKAuto(vecs, q, "vec_id", "embedding",
      k = 5, indexDir = idx, qHint = 2000L, clustered = Some(false))) ===
      rows(Similarity.ivfTopKIndexed(spark, idx, q,
        "vec_id", "embedding", k = 5, nProbe = 8)))
    // without an index the same hint lands on serving (saved 1000 >
    // 600 + 3·16) — bit-equal to the direct serving call
    assert(Similarity.annTierAuto(vecs, q, "vec_id", "embedding",
      hasIndex = false, qHint = 2000L,
      clustered = Some(false)) === AnnTier.Serving(16, 8))
    assert(rows(Similarity.annTopKAuto(vecs, q, "vec_id", "embedding",
      k = 5, qHint = 2000L, clustered = Some(false))) ===
      rows(Similarity.ivfTopKServing(vecs, q, "vec_id", "embedding",
        k = 5, nlist = 16, nProbe = 8)))
  }

  test("X3g annTierAuto probe cost: zero jobs when the curves agree; memoized once per corpus when they disagree") {
    // range-backed frames (NOT LocalRelations), so any eager probe or
    // autosize count must launch a real Spark job the marker protocol
    // counts — the r17 q_ann_auto driver-window finding, encoded
    val vecs = spark.range(64).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        d => sin(col("id") * 1.39 + d).cast("float")).as("embedding"))
    val q = vecs.filter(col("vec_id") % 16 === 0)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(js.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def jobsDuring(build: => Any): Int = {
        jobs.clear()
        build
        spark.sparkContext.parallelize(Seq(1), 1).count()
        val deadline = System.currentTimeMillis() + 10000
        var last = -1
        while (System.currentTimeMillis() < deadline &&
          (jobs.isEmpty || jobs.size != last)) {
          last = jobs.size; Thread.sleep(50)
        }
        assert(!jobs.isEmpty, "marker job never observed")
        jobs.size - 1
      }
      // the bench regime (sf0.1: |D|=2000, |Q|=100): weak and
      // clustered curves BOTH say brute, so with size hints the
      // decision costs zero jobs — no probe, no count, nothing
      assert(jobsDuring(Similarity.annTierAuto(vecs, q, "vec_id",
        "embedding", hasIndex = false, nHint = 2000L, qHint = 100L))
        === 0, "agree regime must not probe")
      // disagree regime (|D|=60k, |Q|=1000, indexed: weak says brute,
      // clustered says indexed): the structure probe pays its bounded
      // sample jobs exactly ONCE...
      val first = jobsDuring(Similarity.annTierAuto(vecs, q, "vec_id",
        "embedding", hasIndex = true, nHint = 60000L, qHint = 1000L))
      assert(first >= 1, "disagree regime must probe")
      // ...and the SAME corpus (canonicalized-plan identity) re-asked
      // serves the memoized margin with zero jobs
      assert(jobsDuring(Similarity.annTierAuto(vecs, q, "vec_id",
        "embedding", hasIndex = true, nHint = 60000L, qHint = 1000L))
        === 0, "second probe of the same corpus must hit the memo")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("trainCentroids: DECIMAL-exact means are bit-deterministic across runs") {
    val vecs = (0L until 150L).map(i =>
      (i, Seq.tabulate(16)(d => math.cos(i * 0.91 + d * 0.53).toFloat)))
      .toDF("vec_id", "embedding").repartition(7)
    def train() = Similarity.trainCentroids(
      vecs, "vec_id", "embedding", nlist = 8, iters = 2)
      .select("cent_id", "cent_vec").as[(Long, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    assert(train() === train())
  }

  test("ivfTopKServing: retrieval-grade recall on a clustered corpus at a narrow probe") {
    // 8 well-separated clusters (one-hot-pair directions + small
    // noise): the serving tier at nProbe = nlist/4 = 2 must recover
    // essentially the whole true neighborhood — the contract the
    // ScaleBench assertion enforces on the real corpus at 30×
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Seq.tabulate(16) { d =>
        val base = if (d == 2 * c || d == 2 * c + 1) 1.0f else 0.0f
        base + (rnd.nextFloat() - 0.5f) * 0.1f
      })
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 10 === 0)
    val bf = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val serve = Similarity.ivfTopKServing(vecs, q, "vec_id", "embedding",
      k = 5, nlist = 8, nProbe = 2, iters = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = serve.count(bf.contains).toDouble / bf.size.toDouble
    assert(recall >= 0.9, s"serving recall@5 = $recall")
  }

  test("semDedup matches a brute-force reference on random corpora, both survivor rules") {
    // plain-Scala replica of the full pipeline: md5-rank sampled
    // centroids, nearest-cell argmax by (cos desc, cent_id asc),
    // within-cell pairs at round(cos, 6) >= minCos, both survivor
    // rules — the same kind of brute-force oracle the funnel DPs use
    def md5Rank(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 1000003L
    }
    def dotD(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cosD(a: Seq[Float], b: Seq[Float]): Double = {
      val n = math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b))
      if (n == 0.0) 0.0 else dotD(a, b) / n
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def reference(vecs: Seq[(Long, Seq[Float])], nlist: Int, minCos: Double,
        keepFarthest: Boolean): Map[Long, (Long, Int)] = {
      val cents = vecs.sortBy { case (i, _) => (md5Rank(i), i) }.take(nlist)
      val cells = vecs.map { case (i, v) =>
        // the +0.0 normalizes -0.0 so the zero-vector tie matches
        // Spark's (-0.0 == 0.0) comparison semantics
        val (cid, d) = cents.map { case (ci, cv) => (ci, cosD(v, cv)) }
          .minBy { case (ci, dd) => (-dd + 0.0, ci) }
        (i, v, cid, d)
      }
      val dups = (for {
        (ia, va, ca, da) <- cells; (ib, vb, cb, db) <- cells
        if ia < ib && ca == cb && round6(cosD(va, vb)) >= minCos
      } yield
        if (!keepFarthest) ib
        else if (da > db) ia else ib).toSet
      cells.map { case (i, _, c, _) => i -> ((c, if (dups(i)) 1 else 0)) }.toMap
    }
    val rnd = new scala.util.Random(7)
    val base = (0L until 60L).map(i =>
      (i, Seq.tabulate(8)(_ => (rnd.nextDouble() * 2 - 1).toFloat)))
    val exactCopies = base.take(6).map { case (i, v) => (i + 500L, v) }
    val nearCopies = base.slice(6, 12).map { case (i, v) =>
      (i + 600L, v.map(x => x * 1.01f + 0.003f)) }
    val corpus = base ++ exactCopies ++ nearCopies :+
      (999L, Seq.fill(8)(0.0f))   // zero vector: cosine-0 everywhere
    val df = corpus.toDF("vec_id", "embedding").repartition(5)
    for (nlist <- Seq(1, 4, 8); kf <- Seq(false, true)) {
      val got = Similarity.semDedup(df, "vec_id", "embedding",
        minCos = 0.8, nlist = nlist, keepFarthest = kf)
        .select("vec_id", "cell", "is_dup").as[(Long, Long, Int)]
        .collect().map { case (i, c, f) => i -> ((c, f)) }.toMap
      assert(got === reference(corpus, nlist, 0.8, kf),
        s"nlist=$nlist keepFarthest=$kf")
    }
    // identical-copy pairs are exact centroid-distance ties: the
    // keepFarthest tie-break must fall back to min-id (flag the copy)
    val kfOut = Similarity.semDedup(df, "vec_id", "embedding",
      minCos = 0.999, nlist = 1, keepFarthest = true)
      .filter(col("is_dup") === 1)
      .select("vec_id").as[Long].collect().toSet
    assert(base.take(6).map(_._1 + 500L).toSet.subsetOf(kfOut))
    assert(base.take(6).map(_._1).toSet.intersect(kfOut).isEmpty)
  }

  test("semDedup with nlist=1 equals the global near-dup rule; trained cells keep the contract") {
    val rnd = new scala.util.Random(3)
    val vecs = ((0L until 80L).map(i =>
      (i, Seq.tabulate(8)(_ => (rnd.nextDouble() * 2 - 1).toFloat))) ++
      (0L until 10L).map { i =>
        (i + 300L, Seq.tabulate(8)(d =>
          (math.sin(i * 0.9 + d).toFloat * 1.005f)))
      } ++ (0L until 10L).map { i =>
        (i + 400L, Seq.tabulate(8)(d => math.sin(i * 0.9 + d).toFloat))
      }).toDF("vec_id", "embedding")
    // one cell == every near-dup pair is in scope: flagged set must be
    // exactly the larger ids of nearDupPairs at the same threshold
    val globalDups = Similarity.nearDupPairs(vecs, "vec_id", "embedding",
      minCos = 0.9).select("id_b").as[Long].collect().toSet
    val oneCell = Similarity.semDedup(vecs, "vec_id", "embedding",
      minCos = 0.9, nlist = 1)
      .filter(col("is_dup") === 1).select("vec_id").as[Long].collect().toSet
    assert(oneCell === globalDups)
    // Lloyd-trained cells (iters=2): same output contract — one row
    // per vector, and every flag is witnessed by a smaller-id
    // cell-mate within the threshold (verified against the raw
    // vectors, not trusting the operator's own cosines)
    val raw = vecs.as[(Long, Seq[Float])].collect().toMap
    def cosD(a: Seq[Float], b: Seq[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      val n = math.sqrt(na) * math.sqrt(nb)
      if (n == 0.0) 0.0 else dp / n
    }
    val trained = Similarity.semDedup(vecs, "vec_id", "embedding",
      minCos = 0.9, nlist = 8, iters = 2)
      .select("vec_id", "cell", "is_dup").as[(Long, Long, Int)].collect()
    assert(trained.length === raw.size)
    val cellsOf = trained.groupBy(_._2)
    trained.filter(_._3 == 1).foreach { case (i, c, _) =>
      val witnesses = cellsOf(c).filter(m => m._1 < i &&
        cosD(raw(m._1), raw(i)) >= 0.9 - 1e-9)
      assert(witnesses.nonEmpty, s"flagged $i in cell $c with no witness")
    }
  }

  test("langId picks the stopword-majority language; 'und' when nothing hits") {
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "der hund ist nicht mit der katze und von da"),
      (3L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextFns.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "en" && out(2L) === "de" && out(3L) === "und")
  }

  test("fingerprint is order- and multiplicity-insensitive on the token bag") {
    val df = Seq((1L, "b a a c"), (2L, "c b a"), (3L, "a b d")).toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), TextFns.fingerprint(col("text")).as("f"))
      .as[(Long, String)].collect().toMap
    assert(fp(1L) === fp(2L) && fp(1L) != fp(3L))
  }

  test("rolling hash: matches reference loop, order-sensitive, SQL-callable") {
    import graft.functions.StringRollingHash
    val df = Seq((1L, "abc def"), (2L, "def abc"), (3L, "abc def"), (4L, "日本語テキスト"))
      .toDF("id", "t")
    val out = df.select(col("id"), StringRollingHash.rollingHash(col("t")).as("h"))
      .as[(Long, Long)].collect().toMap
    // reference loop agreement (incl. multi-byte UTF-8)
    Seq((1L, "abc def"), (2L, "def abc"), (4L, "日本語テキスト")).foreach { case (i, s) =>
      assert(out(i) === StringRollingHash.hash(s.getBytes("UTF-8")))
    }
    assert(out(1L) === out(3L) && out(1L) != out(2L)) // order-sensitive
    // registered through the extensions hook for SQL callers
    val viaSql = spark.sql("SELECT rolling_hash('abc def')").collect().head.getLong(0)
    assert(viaSql === out(1L))
  }

  test("tokenizer UDTF surface: explode yields one row per token") {
    val n = Seq((1L, "Hello, World! 42")).toDF("id", "text")
      .select(Udfs.explodeTokens(col("text")).as("tok")).as[String].collect().toSeq
    assert(n === Seq("hello", "world", "42"))
  }

  test("LatestByLsn Aggregator matches the window formulation") {
    Udfs.register(spark)
    val rows = Seq(
      Udfs.Versioned(1L, 5L, 1, "a"), Udfs.Versioned(1L, 9L, 2, "b"),
      Udfs.Versioned(1L, 9L, 1, "c"), Udfs.Versioned(2L, 1L, 1, "d"))
    val ds = rows.toDS()
    ds.createOrReplaceTempView("versioned")
    // a udaf-registered typed Aggregator takes the case-class fields
    // as flat SQL arguments
    val out = spark.sql(
      "SELECT graft_latest_by_lsn(id, lsn, op, payload) AS r FROM versioned GROUP BY id")
      .select("r.id", "r.payload").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "b", 2L -> "d"))
  }

  test("semanticContamination flags only corpus vectors near a benchmark vector") {
    val bench = Seq((100L, Array(1.0f, 0.0f)), (101L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(0.99f, 0.1f)),   // near bench 100
      (2L, Array(0.7f, 0.7f)),    // cos ~0.707 to BOTH benchmarks
      (3L, Array(-1.0f, -0.1f)))  // near nothing (negative cosine)
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticContamination(corpus, bench, "vec_id", "embedding",
      minCos = 0.9)
      .orderBy("vec_id").as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L))
    val both = Similarity.semanticContamination(corpus, bench, "vec_id", "embedding",
      minCos = 0.5)
      .orderBy("vec_id").as[(Long, Long, Double)].collect()
    // vec 2 is within 0.5 of both benchmarks: n_hits counts each
    assert(both.map(r => (r._1, r._2)).toSeq == Seq((1L, 1L), (2L, 2L)))
  }

  test("editDistanceNearDup: levenshtein ratio accepts the typo twin and rejects the doubled doc; edits match a scalar reference") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away"
    // doc 2: one-character typo (edits 1, ratio ~1.6% → accept);
    // doc 3: the SAME text doubled — the bigram BAG scales uniformly,
    // so its SimHash equals doc 1's (hamming 0, a candidate by
    // construction) while levenshtein = |base|+1 (ratio ~50% → the
    // exact-integer threshold must reject it)
    val docs = Seq(
      (1L, base),
      (2L, base.replace("dog", "dof")),
      (3L, base + " " + base)).toDF("doc_id", "text")
    val out = Dedup.editDistanceNearDup(
      docs, "doc_id", col("text"), maxEditsPerHundred = 20)
      .select("id_a", "id_b", "edits")
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 2L, 1L)), s"got $out")
    // the doubled doc WAS a candidate (same simhash) — prove the
    // rejection happened at the verify, not the banding
    val cand = Dedup.simhashNearDup(
      docs, "doc_id", col("text"), maxHamming = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 3L)), s"candidates $cand")
    // scalar levenshtein reference on the accepted pair
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    assert(lev(base, base.replace("dog", "dof")) === 1)
    assert(lev(base, base + " " + base) === base.length + 1)
  }

  test("stripRepeatedSpans removes a shared span everywhere but the keeper") {
    val d = Seq(
      (1L, "a b c d e unique1 tail1"),   // keeper of span "a b c d e"
      (2L, "pre2 a b c d e unique2"),    // loses the span, keeps remainder
      (3L, "nothing in common here at"), // untouched
      (4L, "short doc"))                 // shorter than w: untouched
      .toDF("doc_id", "text")
    val out = Dedup.stripRepeatedSpans(d, "doc_id", col("text"), w = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_dropped", "clean_text")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) == ((1L, 7L, 0L, "a b c d e unique1 tail1")))
    assert(out(1) == ((2L, 7L, 5L, "pre2 unique2")))
    assert(out(2) == ((3L, 5L, 0L, "nothing in common here at")))
    assert(out(3) == ((4L, 2L, 0L, "short doc")))
  }

  test("stripRepeatedSpans: overlapping duplicated grams drop the union of positions") {
    // docs share a 6-token run => two overlapping 5-grams in doc 2;
    // dropped positions are the union, not double-counted
    val d = Seq(
      (1L, "x1 a b c d e f y1"),
      (2L, "x2 a b c d e f y2"))
      .toDF("doc_id", "text")
    val out = Dedup.stripRepeatedSpans(d, "doc_id", col("text"), w = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_dropped", "clean_text")
      .as[(Long, Long, String)].collect()
    assert(out(0) == ((1L, 0L, "x1 a b c d e f y1")))
    assert(out(1) == ((2L, 6L, "x2 y2")))
  }

  test("stripRepeatedSpans: a within-doc repeat alone is not duplication") {
    val d = Seq(
      (1L, "r s t u v r s t u v"),       // internal repeat only
      (2L, "totally different words here five"))
      .toDF("doc_id", "text")
    val out = Dedup.stripRepeatedSpans(d, "doc_id", col("text"), w = 5)
      .where(col("n_dropped") > 0).count()
    assert(out == 0L)
  }

  test("stripRepeatedSpans matches an in-memory reference on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // small vocabulary forces genuine cross-doc gram collisions
    val docGen = Gen.listOfN(12,
      Gen.choose(5, 14).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))))
    def reference(docs: Seq[(Long, Seq[String])], w: Int): Map[Long, (Long, String)] = {
      val grams = docs.flatMap { case (id, t) =>
        t.sliding(w).filter(_.length == w).zipWithIndex
          .map { case (g, i) => (g.mkString(" "), id, i) }
      }
      val byGram = grams.groupBy(_._1)
      val drops = docs.map { case (id, t) =>
        val dropped = grams.filter(_._2 == id).flatMap { case (g, _, i) =>
          val occ = byGram(g)
          val keeper = occ.map(_._2).min
          if (occ.map(_._2).distinct.size >= 2 && keeper != id) (i until i + w) else Nil
        }.toSet
        id -> (dropped.size.toLong,
          t.zipWithIndex.collect { case (tok, i) if !dropped(i) => tok }.mkString(" "))
      }
      drops.toMap
    }
    (1 to 5).foreach { s =>
      val toks = docGen.apply(Gen.Parameters.default, Seed(s.toLong)).get
      val docs = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      val got = Dedup.stripRepeatedSpans(df, "doc_id", col("text"), w = 4)
        .select("doc_id", "n_dropped", "clean_text")
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got == reference(docs, 4), s"seed $s mismatch")
    }
  }

  test("stripRepeatedSpans: fully-duplicated doc empties to '' with all tokens dropped") {
    val d = Seq(
      (1L, "p q r s t"),
      (2L, "p q r s t"))
      .toDF("doc_id", "text")
    val out = Dedup.stripRepeatedSpans(d, "doc_id", col("text"), w = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_dropped", "clean_text")
      .as[(Long, Long, String)].collect()
    assert(out(0) == ((1L, 0L, "p q r s t")))
    assert(out(1) == ((2L, 5L, "")))
  }
}
