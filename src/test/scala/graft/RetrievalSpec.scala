package graft

import graft.operators.Retrieval
import org.apache.spark.sql.functions._

/** X19 BM25 — scores checked against an independent scalar
  * reimplementation of the Okapi formula (Robertson & Zaragoza 2009),
  * plus contract edges: unmatched docs absent, k cut, tie-break.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b a"),
    (2L, "a c"),
    (3L, "b b b c"),
    (4L, "c c")).toDF("doc_id", "text")

  /** Straight-line reference scorer (no Spark, no shared code). */
  private def ref(tf: Double, df: Double, n: Double, dl: Double,
      avgdl: Double, k1: Double = 1.2, b: Double = 0.75): Double = {
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
  }

  test("bm25TopK matches the scalar reference on a hand-built corpus") {
    val out = Retrieval.bm25TopK(docs, "doc_id", col("text"),
      terms = Seq("a", "b"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // N=4, avgdl=(3+2+4+2)/4=2.75; df(a)=2, df(b)=2
    val expected = Seq(
      1L -> (ref(2, 2, 4, 3, 2.75) + ref(1, 2, 4, 3, 2.75)), // a×2, b×1
      3L -> ref(3, 2, 4, 4, 2.75),                           // b×3
      2L -> ref(1, 2, 4, 2, 2.75))                           // a×1
    val ranked = expected.sortBy { case (id, s) => (-s, id) }
    assert(out.map(_._1).toSeq == ranked.map(_._1),
      s"rank order drifted: ${out.toSeq}")
    for (((id, s), (oid, os, _)) <- ranked.zip(out)) {
      assert(id == oid)
      assert(math.abs(os - s) < 5e-7, s"doc $id: $os vs reference $s")
    }
    // doc 4 matches no query term — absent, not zero-scored
    assert(!out.exists(_._1 == 4L))
    // n_terms = distinct matched terms
    assert(out.find(_._1 == 1L).get._3 == 2L)
    assert(out.find(_._1 == 3L).get._3 == 1L)
  }

  test("k cuts after the deterministic (score desc, id) order") {
    val top1 = Retrieval.bm25TopK(docs, "doc_id", col("text"),
      terms = Seq("a", "b"), k = 1).collect()
    assert(top1.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("tied scores break on doc id") {
    val twins = Seq((7L, "x y"), (3L, "x y"), (5L, "z")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(twins, "doc_id", col("text"),
      terms = Seq("x"), k = 5).collect().map(_.getLong(0))
    assert(out.toSeq == Seq(3L, 7L))
  }

  test("rrfFuse: scores, membership counts, and ranks match the formula") {
    // list A ranks: 10 (r1), 20 (r2), 30 (r3); list B: 20 (r1), 40 (r2)
    val a = Seq((10L, 5.0), (20L, 3.0), (30L, 1.0)).toDF("id", "s")
    val b = Seq((20L, 0.9), (40L, 0.7)).toDF("id", "s")
    val out = graft.operators.Retrieval.rrfFuse(Seq(a, b), "id", "s", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    def t(r: Int) = BigDecimal(1.0 / (60.0 + r))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def s(rs: Int*) = rs.map(t).sum.setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    // doc 20 is in both lists — must fuse above every single-list doc
    val expected = Seq(
      (20L, s(2, 1), 2L, 1L),
      (10L, s(1), 1L, 1L),
      (40L, s(2), 1L, 2L),
      (30L, s(3), 1L, 3L))
    assert(out.toSeq == expected, s"got ${out.toSeq}")
  }

  test("rrfFuse: ties in fused score break on id") {
    // identical single-doc lists at the same rank → equal rrf scores
    val a = Seq((9L, 1.0)).toDF("id", "s")
    val b = Seq((4L, 1.0)).toDF("id", "s")
    val out = graft.operators.Retrieval.rrfFuse(Seq(a, b), "id", "s", k = 5)
      .collect().map(_.getLong(0))
    assert(out.toSeq == Seq(4L, 9L))
  }

  test("rrfFusePerQuery: per-query independence, dup collapse, and the single-query reduction to rrfFuse") {
    // two queries, two lists; q1's doc 20 appears in both lists, q2's
    // lists are disjoint — fusion must never leak ranks across queries
    val a = Seq((1L, 10L, 5.0), (1L, 20L, 3.0), (2L, 50L, 9.0))
      .toDF("q", "id", "s")
    val b = Seq((1L, 20L, 0.9), (2L, 60L, 0.8), (2L, 50L, 0.2))
      .toDF("q", "id", "s")
    val out = graft.operators.Retrieval.rrfFusePerQuery(
      Seq(a, b), "q", "id", "s", k = 10)
      .orderBy(col("q"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    def t(r: Int) = BigDecimal(1.0 / (60.0 + r))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def s(rs: Int*) = rs.map(t).sum.setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    val expected = Seq(
      (1L, 20L, s(2, 1), 2L, 1L, 1L),
      (1L, 10L, s(1), 1L, 1L, 2L),
      (2L, 50L, s(1, 2), 2L, 1L, 1L),
      (2L, 60L, s(1), 1L, 1L, 2L))
    assert(out.toSeq == expected, s"got ${out.toSeq}")
    // a duplicate id WITHIN one query's list collapses to its best rank
    val dup = Seq((1L, 7L, 9.0), (1L, 7L, 1.0)).toDF("q", "id", "s")
    val d = graft.operators.Retrieval.rrfFusePerQuery(
      Seq(dup), "q", "id", "s", k = 5)
      .select("id", "rrf_score", "n_lists").collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(d.toSeq == Seq((7L, s(1), 1L)))
    // single query: fused scores/ranks equal the global rrfFuse's
    val ga = Seq((10L, 5.0), (20L, 3.0)).toDF("id", "s")
    val gb = Seq((20L, 0.9), (40L, 0.7)).toDF("id", "s")
    val g = graft.operators.Retrieval.rrfFuse(Seq(ga, gb), "id", "s", k = 10)
      .select("id", "rrf_score").as[(Long, Double)].collect().toSet
    val pq = graft.operators.Retrieval.rrfFusePerQuery(
      Seq(ga.withColumn("q", lit(1L)), gb.withColumn("q", lit(1L))),
      "q", "id", "s", k = 10)
      .select("id", "rrf_score").as[(Long, Double)].collect().toSet
    assert(pq == g)
  }

  test("bm25JoinTopK: single query reduces exactly to bm25TopK on its distinct terms") {
    val q = Seq((9L, "a b a")).toDF("bench_id", "text")
    val join = graft.operators.Retrieval.bm25JoinTopK(
      docs, "doc_id", col("text"), q, "bench_id", col("text"), k = 10)
      .select("doc_id", "score", "n_terms")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    val single = graft.operators.Retrieval.bm25TopK(
      docs, "doc_id", col("text"), Seq("a", "b"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    assert(join.toSeq == single.toSeq,
      s"join form drifted from the single-query form: $join vs $single")
  }

  test("bm25JoinTopK: a query's rank-1 retrieval is itself when it is in the corpus") {
    val bench = docs.where(col("doc_id").isin(1L, 3L))
      .select(col("doc_id").as("bench_id"), col("text"))
    val out = graft.operators.Retrieval.bm25JoinTopK(
      docs, "doc_id", col("text"), bench, "bench_id", col("text"), k = 2)
      .where(col("rnk") === 1)
      .select("bench_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 3L -> 3L),
      s"self-match must dominate: $out")
  }

  test("bm25TopK df-cap: dense terms drop out, scores equal the rare-term-only query") {
    // df(a)=df(b)=0.5, df(c)=0.75 on the 4-doc corpus — cap at 0.6
    // removes exactly c, so the capped 3-term query must be
    // row-identical to the uncapped 2-term query
    val capped = Retrieval.bm25TopK(docs, "doc_id", col("text"),
      terms = Seq("a", "b", "c"), k = 10, maxDfFraction = 0.6)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val pruned = Retrieval.bm25TopK(docs, "doc_id", col("text"),
      terms = Seq("a", "b"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(capped.toSeq == pruned.toSeq,
      s"capped ${capped.toSeq} vs manually pruned ${pruned.toSeq}")
  }

  test("bm25TopK df-cap default (1.0) changes nothing") {
    val off = Retrieval.bm25TopK(docs, "doc_id", col("text"),
      terms = Seq("a", "b", "c"), k = 10, maxDfFraction = 1.0)
      .collect().toSeq
    val default = Retrieval.bm25TopK(docs, "doc_id", col("text"),
      terms = Seq("a", "b", "c"), k = 10)
      .collect().toSeq
    assert(off == default)
  }

  test("bm25JoinTopK df-cap: capped terms never reach scoring; all-capped queries vanish") {
    // query 9 shares only dense term c (df 0.75) → vanishes at cap
    // 0.6; query 8 keeps its rare terms and must score as if its
    // text had been pruned to them by hand
    val q = Seq((8L, "a b c"), (9L, "c")).toDF("bench_id", "text")
    val capped = Retrieval.bm25JoinTopK(
      docs, "doc_id", col("text"), q, "bench_id", col("text"), k = 10,
      maxDfFraction = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(!capped.exists(_._1 == 9L), s"all-capped query survived: ${capped.toSeq}")
    val handPruned = Retrieval.bm25JoinTopK(
      docs, "doc_id", col("text"),
      Seq((8L, "a b")).toDF("bench_id", "text"), "bench_id", col("text"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(capped.toSeq == handPruned.toSeq,
      s"capped ${capped.toSeq} vs hand-pruned ${handPruned.toSeq}")
  }

  test("fixture df-cap: capped retrieval join equals the rare-term-only join") {
    requireTestdata()
    // measured fixture df profile (sf0.001): 30 of 31 vocabulary terms
    // sit at df 0.75-0.83, only "dup" is rare (0.05) — cap 0.7 prunes
    // scoring to exactly the rare term, so the capped join must be
    // row-identical to querying lit("dup"), restricted to benchmark
    // docs that contain it (the rest vanish per the all-capped rule)
    val docsTbl = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val bench = docsTbl.where(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val capped = Retrieval.bm25JoinTopK(
      docsTbl, "doc_id", col("text"), bench, "bench_id", col("text"),
      k = 5, maxDfFraction = 0.7)
      .orderBy(col("bench_id"), col("rnk")).collect().toSeq
    val dupOnly = Retrieval.bm25JoinTopK(
      docsTbl, "doc_id", col("text"),
      bench.where(array_contains(split(col("text"), " "), "dup"))
        .select(col("bench_id"), lit("dup").as("text")),
      "bench_id", col("text"), k = 5)
      .orderBy(col("bench_id"), col("rnk")).collect().toSeq
    assert(capped.nonEmpty && capped == dupOnly,
      s"capped (${capped.size} rows) drifted from rare-term-only (${dupOnly.size} rows)")
  }

  test("auto df-cap (default): identical to exact below the doc floor, absent query terms inert") {
    // 4-doc corpus << AutoDfCapMinDocs: the in-plan rule must resolve
    // to cap-off, and the auto path's present-terms prune (query terms
    // not in the corpus never match anyway) must not perturb results
    val q = Seq((8L, "a b zzz_not_in_corpus"), (9L, "c")).toDF("bench_id", "text")
    val auto = Retrieval.bm25JoinTopK(
      docs, "doc_id", col("text"), q, "bench_id", col("text"), k = 10)
      .orderBy(col("bench_id"), col("rnk")).collect().toSeq
    val exact = Retrieval.bm25JoinTopK(
      docs, "doc_id", col("text"), q, "bench_id", col("text"), k = 10,
      maxDfFraction = 1.0)
      .orderBy(col("bench_id"), col("rnk")).collect().toSeq
    assert(auto == exact, s"auto drifted below the floor: $auto vs $exact")
  }

  test("auto df-cap: engages above the doc floor and preserves the informative ranking (quality bound)") {
    // Non-degenerate 1200-doc corpus: a 100%-df dense band ("the of
    // and", above the 0.7 cap) over informative topic terms (df 0.25,
    // kept). Constant dl and constant dense tf make the dense band
    // pure score LEVEL, so the quality bound is exact here: capped
    // ranking must equal uncapped ranking bit-for-bit, while n_terms
    // witnesses that the dense terms really were dropped from scoring.
    val topics = Seq("alpha", "beta", "gamma", "delta")
    val corpus = (0 until 1200).map { i =>
      val topic = topics(i % 4)
      val reps = (i / 4) % 3 + 1
      (i.toLong,
        "the of and " + (Seq.fill(reps)(topic) ++
          Seq.fill(3 - reps)("pad")).mkString(" "))
    }.toDF("doc_id", "text")
    val queries = Seq(
      (9000L, "the of and alpha"), (9001L, "the of and gamma"))
      .toDF("bench_id", "text")
    def run(cap: Double) = Retrieval.bm25JoinTopK(
      corpus, "doc_id", col("text"), queries, "bench_id", col("text"),
      k = 5, maxDfFraction = cap)
      .orderBy(col("bench_id"), col("rnk"))
      .select("bench_id", "doc_id", "rnk", "n_terms")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val auto = run(-1.0)   // the default sentinel
    val exact = run(1.0)
    assert(auto.map(t => (t._1, t._2, t._3)) ==
      exact.map(t => (t._1, t._2, t._3)),
      s"auto cap changed the ranking: $auto vs $exact")
    // the cap engaged: top docs score on the topic term alone (1)
    // where the exact arm also counts the 3 dense terms (4)
    assert(auto.forall(_._4 == 1L), s"dense terms survived the cap: $auto")
    assert(exact.forall(_._4 == 4L), s"exact arm lost terms: $exact")
  }

  test("postings index: indexed retrieval equals the direct join bit-for-bit (exact and auto cap)") {
    // the auto-cap fixture shape: a 100%-df dense band over
    // informative topic terms, 1200 docs (above the auto floor so the
    // sentinel arm exercises the cap on BOTH paths)
    val topics = Seq("alpha", "beta", "gamma", "delta")
    val corpus = (0 until 1200).map { i =>
      val topic = topics(i % 4)
      val reps = (i / 4) % 3 + 1
      (i.toLong,
        "the of and " + (Seq.fill(reps)(topic) ++
          Seq.fill(3 - reps)("pad")).mkString(" "))
    }.toDF("doc_id", "text")
    val queries = Seq(
      (9000L, "the of and alpha"), (9001L, "the of and gamma"))
      .toDF("bench_id", "text")
    val idx = tempDir("graft-bm25idx-spec")
    Retrieval.buildPostingsIndex(
      corpus, "doc_id", col("text"), idx, nBuckets = 16)
    def direct(cap: Double) = Retrieval.bm25JoinTopK(
      corpus, "doc_id", col("text"), queries, "bench_id", col("text"),
      k = 5, maxDfFraction = cap)
      .orderBy(col("bench_id"), col("rnk"))
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    def indexed(cap: Double) = Retrieval.bm25JoinTopKIndexed(
      spark, idx, "doc_id", queries, "bench_id", col("text"),
      k = 5, maxDfFraction = cap)
      .orderBy(col("bench_id"), col("rnk"))
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    val (dx, ix) = (direct(1.0), indexed(1.0))
    assert(dx.nonEmpty && ix == dx, s"exact arms diverged: $ix vs $dx")
    val (da, ia) = (direct(-1.0), indexed(-1.0))
    assert(ia == da, s"auto arms diverged: $ia vs $da")
    // the auto arm really capped (n_terms 1 vs the exact arm's 4) —
    // parity above wasn't two uncapped runs agreeing by accident
    assert(da.forall(_._4 == 1L) && dx.forall(_._4 == 4L))
  }

  test("postings index: partition pruning keeps non-query buckets unread; no-vocabulary query is empty") {
    val corpus = (0 until 50).map(i =>
      (i.toLong, s"tok$i shared")).toDF("doc_id", "text")
    val idx = tempDir("graft-bm25idx-prune")
    Retrieval.buildPostingsIndex(
      corpus, "doc_id", col("text"), idx, nBuckets = 16)
    val q = Seq((1L, "tok7")).toDF("bench_id", "text")
    val out = Retrieval.bm25JoinTopKIndexed(
      spark, idx, "doc_id", q, "bench_id", col("text"), k = 5,
      maxDfFraction = 1.0)
    // static partition pruning: the scan carries a PartitionFilters
    // entry on the bucket column — non-matching pb directories are
    // never listed into the scan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pb"),
      s"no partition pruning in plan:\n$plan")
    assert(out.collect().map(_.getLong(1)).toSeq == Seq(7L))
    // a query whose vocabulary misses the index entirely: its bucket
    // is scanned but nothing joins — zero rows
    val none = Retrieval.bm25JoinTopKIndexed(
      spark, idx, "doc_id",
      Seq((2L, "zzz_absent")).toDF("bench_id", "text"),
      "bench_id", col("text"), k = 5, maxDfFraction = 1.0)
    assert(none.count() == 0L)
    // no queries at all: the isin list is empty → lit(false), still a
    // well-formed empty result
    val empty = Retrieval.bm25JoinTopKIndexed(
      spark, idx, "doc_id",
      Seq.empty[(Long, String)].toDF("bench_id", "text"),
      "bench_id", col("text"), k = 5, maxDfFraction = 1.0)
    assert(empty.count() == 0L)
  }

  test("streaming postings store: per-batch folds equal the batch join bit-for-bit; replay no-op; crash heal; compact invariant") {
    import graft.streaming.StreamingPostings
    val topics = Seq("alpha", "beta", "gamma", "delta")
    val corpus = (0 until 400).map { i =>
      (i.toLong, "the of " + topics(i % 4) + " " + topics((i / 4) % 4))
    }
    val queries = Seq((9000L, "alpha gamma"), (9001L, "the beta"))
      .toDF("bench_id", "text")
    val store = tempDir("graft-postings-store")
    def fromStore(cap: Double) = StreamingPostings.bm25TopKFromStore(
      spark, store, "doc_id", queries, "bench_id", col("text"),
      k = 5, maxDfFraction = cap)
      .orderBy(col("bench_id"), col("rnk"))
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    def direct(upto: Int, cap: Double) = Retrieval.bm25JoinTopK(
      corpus.take(upto).toDF("doc_id", "text"), "doc_id", col("text"),
      queries, "bench_id", col("text"), k = 5, maxDfFraction = cap)
      .orderBy(col("bench_id"), col("rnk"))
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    // empty store: well-formed empty result
    assert(fromStore(1.0).isEmpty)
    // two batches, parity after EACH commit (df/stats re-summed)
    StreamingPostings.applyBatch(
      corpus.take(250).toDF("doc_id", "text"), "doc_id", col("text"),
      store, batchId = 0L)
    assert(fromStore(1.0) == direct(250, 1.0))
    StreamingPostings.applyBatch(
      corpus.drop(250).toDF("doc_id", "text"), "doc_id", col("text"),
      store, batchId = 1L)
    val full = fromStore(1.0)
    assert(full.nonEmpty && full == direct(400, 1.0))
    // the df-cap arm agrees too (store caps on the SUMMED df)
    assert(fromStore(0.6) == direct(400, 0.6))
    // replay of a committed batch changes nothing
    StreamingPostings.applyBatch(
      corpus.take(250).toDF("doc_id", "text"), "doc_id", col("text"),
      store, batchId = 1L)
    assert(fromStore(1.0) == full)
    // crash window: a batch dir written but never committed (pointer
    // unmoved) is invisible to readers and healed by the re-apply
    val extra = Seq((9100L, "alpha fresh")).toDF("doc_id", "text")
    val junk = new java.io.File(s"$store/postings/batch-2")
    junk.mkdirs()
    assert(fromStore(1.0) == full)
    StreamingPostings.applyBatch(extra, "doc_id", col("text"),
      store, batchId = 2L)
    val withExtra = fromStore(1.0)
    assert(withExtra != full)
    // compact: one base dir, identical answers, watermark advanced
    StreamingPostings.compact(spark, store)
    assert(fromStore(1.0) == withExtra)
    val (_, _, _, _, through) = StreamingPostings.readPointer(store)
    assert(through == 2L)
    val dirs = new java.io.File(s"$store/postings").listFiles()
      .map(_.getName).filter(n => n.startsWith("batch-") ||
        n.startsWith("base-")).sorted.toSeq
    assert(dirs == Seq("base-2"), s"dirs=$dirs")
    // ingest continues after compaction
    StreamingPostings.applyBatch(
      Seq((9200L, "gamma gamma beta")).toDF("doc_id", "text"),
      "doc_id", col("text"), store, batchId = 3L)
    val expect = Retrieval.bm25JoinTopK(
      (corpus ++ Seq((9100L, "alpha fresh"), (9200L, "gamma gamma beta")))
        .toDF("doc_id", "text"),
      "doc_id", col("text"), queries, "bench_id", col("text"),
      k = 5, maxDfFraction = 1.0)
      .orderBy(col("bench_id"), col("rnk"))
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(fromStore(1.0) == expect)
  }

  test("streaming postings store: the degenerate empty-store schema follows the ingested id type") {
    import graft.streaming.StreamingPostings
    import org.apache.spark.sql.types.{LongType, StringType}
    val queries = Seq((1L, "alpha")).toDF("bench_id", "text")
    def read(store: String) = StreamingPostings.bm25TopKFromStore(
      spark, store, "doc_id", queries, "bench_id", col("text"), k = 5)
    // a STRING-id corpus: the empty-window read (all batch dirs on
    // disk, pointer not yet moved — the crash window) must carry the
    // string id type, not a hardcoded long
    val store = tempDir("graft-postings-sid")
    StreamingPostings.applyBatch(
      Seq(("d-1", "alpha beta")).toDF("doc_id", "text"),
      "doc_id", col("text"), store, batchId = 0L)
    val committed = read(store)
    assert(committed.schema("doc_id").dataType === StringType)
    // simulate the pre-commit view: drop the pointer, keep the dir
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(store, "_CURRENT"))
    val degenerate = read(store)
    assert(degenerate.count() == 0L)
    // names + types must match (nullability legitimately differs:
    // the degenerate path's null literals are nullable)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(degenerate) === shape(committed),
      s"degenerate ${degenerate.schema} != committed ${committed.schema}")
    // union-ability is the point of the contract
    assert(degenerate.unionByName(committed).count() == committed.count())
    // a virgin store (nothing ever written) still returns the
    // documented long default
    val virgin = tempDir("graft-postings-virgin")
    assert(read(virgin).schema("doc_id").dataType === LongType)
  }

  test("streaming postings store: end-to-end through foreachBatch on a MemoryStream") {
    import graft.streaming.{StateStore, StreamingPostings}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val store = tempDir("graft-postings-ms")
    val ckpt = tempDir("graft-postings-ck")
    val docs = (0 until 120).map(i =>
      (i.toLong, s"tok${i % 7} shared tok${i % 3}"))
    val in = MemoryStream[(Long, String)]
    val q = StateStore.maintain(in.toDF().toDF("doc_id", "text"), ckpt)(
      StreamingPostings.applyBatch(_, "doc_id", col("text"), store, _))
      .start()
    try {
      in.addData(docs.take(70): _*)
      q.processAllAvailable()
      in.addData(docs.drop(70): _*)
      q.processAllAvailable()
    } finally q.stop()
    val queries = Seq((1L, "tok1 tok2")).toDF("bench_id", "text")
    val got = StreamingPostings.bm25TopKFromStore(
      spark, store, "doc_id", queries, "bench_id", col("text"),
      k = 5, maxDfFraction = 1.0)
      .orderBy(col("bench_id"), col("rnk"))
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    val want = Retrieval.bm25JoinTopK(
      docs.toDF("doc_id", "text"), "doc_id", col("text"),
      queries, "bench_id", col("text"), k = 5, maxDfFraction = 1.0)
      .orderBy(col("bench_id"), col("rnk"))
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("registered query q_bm25 returns k rows with the rare term on top") {
    requireTestdata()
    val out = SparkEntry.queries("q_bm25")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length == 25)
    // "dup" is the rare high-idf term — every top doc must contain it
    val docsTbl = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val dupDocs = docsTbl.where(array_contains(split(col("text"), " "), "dup"))
      .select("doc_id").as[Long].collect().toSet
    val topIds = out.map(_.getLong(0)).toSet
    assert(topIds.subsetOf(dupDocs),
      s"top-25 contains docs without the rare term: ${topIds -- dupDocs}")
  }
}
