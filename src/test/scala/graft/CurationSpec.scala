package graft

import graft.operators.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Library-level tests for the X6-X11 curation operators (the
  * registered queries are value-checked against DuckDB by the driver;
  * these cover operator semantics on constructed corpora plus the
  * scale-posture plan shape).
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("X6 decontaminate flags exactly the docs sharing a verbatim n-gram") {
    val corpus = docs(
      1L -> "a b c d e f g h",          // contains benchmark 5-gram b..f
      2L -> "z y x w v u t s",          // clean
      3L -> "q b c d e f r")            // same 5-gram, embedded elsewhere
    val bench = docs(100L -> "b c d e f")
    val out = Curation.decontaminate(corpus, bench, "doc_id", col("text"), n = 5)
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 1L), (3L, 1L)))
  }

  test("X6 decontaminate counts DISTINCT shared grams once per doc") {
    // doc repeats the contaminated gram twice: still one distinct hit
    val corpus = docs(1L -> "b c d b c d")
    val bench = docs(100L -> "x b c d y")
    val out = Curation.decontaminate(corpus, bench, "doc_id", col("text"), n = 3)
      .as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 1L)))
  }

  test("X6 decontaminate plan broadcasts the benchmark side") {
    val corpus = docs((1L to 50L).map(i => i -> s"tok$i a b c d e f"): _*)
    val bench = docs(100L -> "a b c d e f")
    val plan = Curation.decontaminate(corpus, bench, "doc_id", col("text"), n = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark n-grams must broadcast — corpus must never shuffle by gram:\n$plan")
  }

  test("X7 repetitionStats separates a degenerate doc from a diverse one") {
    val out = Curation.repetitionStats(
      docs(1L -> "spam spam spam spam spam spam",
           2L -> "one two three four five six seven eight"),
      "doc_id", col("text")).orderBy("doc_id")
      .select("doc_id", "dup_word_frac", "top_bigram_frac", "repetitive")
      .as[(Long, Double, Double, Boolean)].collect()
    val (spam, clean) = (out(0), out(1))
    assert(spam._2 > 0.8 && spam._3 == 1.0 && spam._4)
    assert(clean._2 == 0.0 && clean._3 < 0.3 && !clean._4)
  }

  test("X8 scrubPii redacts email/phone/SSN shapes and counts each") {
    val out = Curation.scrubPii(
      Seq((1L, "mail a.b+c@ex-ample.co.uk then +1-555-0123 then 123-45-6789 end"),
          (2L, "nothing personal here"))
        .toDF("doc_id", "text"), col("text"))
      .orderBy("doc_id")
      .select("scrubbed", "n_redactions").as[(String, Long)].collect()
    assert(out(0)._1 == "mail <EMAIL> then <PHONE> then <SSN> end")
    assert(out(0)._2 == 3L)
    assert(out(1)._1 == "nothing personal here" && out(1)._2 == 0L)
  }

  test("X8 scrubPii SSN-before-phone ordering keeps counts independent") {
    // an SSN alone must NOT also count/replace as a phone
    val out = Curation.scrubPii(Seq((1L, "ssn 987-65-4321 only")).toDF("doc_id", "text"),
      col("text")).select("scrubbed", "n_redactions").as[(String, Long)].head()
    assert(out._1 == "ssn <SSN> only")
    assert(out._2 == 1L)
  }

  test("X8 scrubPii matches common US phone shapes in full") {
    val out = Curation.scrubPii(
      Seq((1L, "call 555-123-4567 now"),
          (2L, "or (555) 123-4567 instead"))
        .toDF("doc_id", "text"), col("text"))
      .orderBy("doc_id").select("scrubbed", "n_redactions")
      .as[(String, Long)].collect()
    // no stray leading digit left outside the placeholder
    assert(out(0)._1 == "call <PHONE> now" && out(0)._2 == 1L)
    assert(out(1)._1 == "or <PHONE> instead" && out(1)._2 == 1L)
  }

  test("X8 scrubPii counts overlapping shapes once — count equals replacements") {
    // SSN-shaped substring inside an email local part: the email
    // replacement consumes it, so exactly ONE redaction is counted
    val out = Curation.scrubPii(
      Seq((1L, "leak 123-45-6789@corp.example.com bye")).toDF("doc_id", "text"),
      col("text")).select("scrubbed", "n_redactions").as[(String, Long)].head()
    assert(out._1 == "leak <EMAIL> bye")
    assert(out._2 == 1L)
  }

  test("X9 assignSplit is deterministic with sane 12/2/2 proportions") {
    val d = spark.range(2000).withColumnRenamed("id", "doc_id")
    val a = Curation.assignSplit(d.toDF(), "doc_id")
    val counts = a.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 1300 && counts("train") < 1700) // 1500 expected
    assert(counts("val") > 150 && counts("val") < 350)       // 250 expected
    // deterministic: re-evaluation never moves a document
    val b = Curation.assignSplit(d.toDF(), "doc_id")
    assert(a.join(b, "doc_id").where(a("split") =!= b("split")).count() == 0)
  }

  test("X11 sampleByRate: rate 1 keeps all, rate 0 keeps none, survivors nest") {
    val d = spark.range(1000).withColumnRenamed("id", "doc_id").toDF()
    assert(Curation.sampleByRate(d, "doc_id", lit(1.0)).count() == 1000)
    assert(Curation.sampleByRate(d, "doc_id", lit(0.0)).count() == 0)
    val half = Curation.sampleByRate(d, "doc_id", lit(0.5))
    val quarter = Curation.sampleByRate(d, "doc_id", lit(0.25))
    val n = half.count()
    assert(n > 400 && n < 600)
    // lower rate selects a SUBSET (same hash, tighter cut) — required
    // for reproducible re-mixes of the same corpus
    assert(quarter.join(half, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("X11 sampleByRate cut is exact for non-binary-representable rates") {
    // 0.07 * 10000 = 7.000000000000001 in doubles; the pre-rounded
    // integer cut must keep exactly the buckets < 700, not < 701
    val d = spark.range(20000).withColumnRenamed("id", "doc_id").toDF()
    val survivors = Curation.sampleByRate(d, "doc_id", lit(0.07))
    val exactCut = d.where(Curation.hashBucket(col("doc_id"), 10000) < 700)
    assert(survivors.count() == exactCut.count())
    assert(survivors.join(exactCut, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("X11b temperatureMix: alpha<1 up-weights small domains; rates clamp at 1") {
    // 900 docs in "big", 100 in "small": alpha=0.5 weights 30 vs 10
    val d = spark.range(1000)
      .selectExpr("id AS doc_id", "CASE WHEN id < 900 THEN 'big' ELSE 'small' END AS source")
    val out = Curation.temperatureMix(d.toDF(), "doc_id", "source",
      alpha = 0.5, budgetDocs = 400L)
    val rates = out.select("source", "rate").distinct()
      .as[(String, Double)].collect().toMap
    // rate_small / rate_big = (s_small/n_small)/(s_big/n_big) = 3x
    assert(math.abs(rates("small") / rates("big") - 3.0) < 1e-9)
    // budget 400, q_big = 0.75 -> rate_big = 300/900 = 1/3
    assert(math.abs(rates("big") - 1.0 / 3.0) < 1e-9)
    // a huge budget clamps every rate at 1.0 and keeps everything
    val all = Curation.temperatureMix(d.toDF(), "doc_id", "source",
      alpha = 0.5, budgetDocs = 100000L)
    assert(all.count() == 1000)
    assert(all.select("rate").distinct().as[Double].collect().toSeq == Seq(1.0))
  }

  test("X13 unigramLogProb ranks typical text above outlier vocabulary") {
    val d = Seq(
      (1L, "the cat sat on the mat"),     // common corpus words
      (2L, "the cat sat on the mat"),
      (3L, "zqx wvu kjh zqx wvu kjh"))    // tokens seen only here
      .toDF("doc_id", "text")
    val out = Curation.unigramLogProb(d, "doc_id", col("text"))
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "avg_logprob")
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._2).toSeq == Seq(6L, 6L, 6L))
    // docs 1-2 identical text => identical score; doc 3's rare tokens
    // score strictly lower
    assert(out(0)._3 == out(1)._3)
    assert(out(2)._3 < out(0)._3)
    // unigram sanity: "the" (corpus count 4/18) twice per doc, the
    // other four tokens (count 2/18) once each
    val expected = (2 * math.log(4.0 / 18.0) + 4 * math.log(2.0 / 18.0)) / 6.0
    assert(math.abs(out(0)._3 - expected) < 1e-9)
  }

  test("X13c bigramLogProb matches the hand-computed MLE bigram model") {
    val d = Seq(
      (1L, "a b a c"),  // bigrams: ab, ba, ac
      (2L, "a b"),      // bigram: ab
      (3L, "z"))        // no bigram — excluded
      .toDF("doc_id", "text")
    val out = Curation.bigramLogProb(d, "doc_id", col("text"))
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "avg_logprob2")
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L), "single-token doc must be absent")
    assert(out.map(_._2).toSeq == Seq(3L, 1L))
    // c(ab)=2, c(ba)=1, c(ac)=1; c(a·)=3, c(b·)=1
    val d1 = (math.log(2.0 / 3.0) + math.log(1.0) + math.log(1.0 / 3.0)) / 3.0
    val d2 = math.log(2.0 / 3.0)
    assert(math.abs(out(0)._3 - d1) < 1e-9)
    assert(math.abs(out(1)._3 - d2) < 1e-9)
  }

  test("X13c bigram score separates scrambled word order from typical order") {
    // same unigram distribution in every doc — the unigram score is
    // blind here; the bigram score must rank the repeated canonical
    // order above the scrambled outlier
    val d = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "the cat sat on the mat"),
      (4L, "mat the on sat cat the"))
      .toDF("doc_id", "text")
    val uni = Curation.unigramLogProb(d, "doc_id", col("text"))
      .orderBy("doc_id").select("avg_logprob").as[Double].collect()
    assert(uni.distinct.length == 1, "unigram score must be blind to order")
    val bi = Curation.bigramLogProb(d, "doc_id", col("text"))
      .orderBy("doc_id").select("avg_logprob2").as[Double].collect()
    assert(bi(3) < bi(0), s"scrambled doc must score lower: ${bi.toSeq}")
    assert(bi(0) == bi(1) && bi(1) == bi(2))
  }

  test("X13d kneserNeyLogProb matches a scalar interpolated-KN reference; p sums to 1 over the vocabulary per context") {
    val docs = Seq(
      (1L, "a b c a b d"),
      (2L, "a b c a b c"),
      (3L, "b a c d a b"),
      (4L, "c c a b c a"))
    val d = docs.toDF("doc_id", "text")
    // scalar interpolated-KN reference (Chen & Goodman 1999, fixed
    // D = 0.75), all counts from the trigram-type table exactly as
    // the operator derives them
    val D = 0.75
    val tris = docs.flatMap { case (id, t) =>
      val w = t.split(" ")
      (0 until w.length - 2).map(i => (id, (w(i), w(i + 1), w(i + 2))))
    }
    val c3 = tris.map(_._2).groupBy(identity)
      .map { case (k, v) => k -> v.size.toDouble }
    val t3types = c3.keySet
    val c2 = t3types.groupBy(t => (t._1, t._2))
      .map { case (k, ts) => k -> ts.toSeq.map(c3).sum }
    val n1p = t3types.groupBy(t => (t._1, t._2))
      .map { case (k, ts) => k -> ts.size.toDouble }
    val nvw = t3types.groupBy(t => (t._2, t._3))
      .map { case (k, ts) => k -> ts.size.toDouble }
    val nvdot = t3types.groupBy(_._2)
      .map { case (k, ts) => k -> ts.size.toDouble }
    val t2types = t3types.map(t => (t._2, t._3))
    val nfol = t2types.groupBy(_._1)
      .map { case (k, ts) => k -> ts.size.toDouble }
    val nend = t2types.groupBy(_._2)
      .map { case (k, ts) => k -> ts.size.toDouble }
    val ntypes = t2types.size.toDouble
    def p1(w: String) = nend.getOrElse(w, 0.0) / ntypes
    def p2(v: String, w: String) =
      math.max(nvw.getOrElse((v, w), 0.0) - D, 0.0) / nvdot(v) +
        D * nfol(v) / nvdot(v) * p1(w)
    def p3(u: String, v: String, w: String) =
      math.max(c3.getOrElse((u, v, w), 0.0) - D, 0.0) / c2((u, v)) +
        D * n1p((u, v)) / c2((u, v)) * p2(v, w)
    val expected = tris.groupBy(_._1).map { case (id, ts) =>
      id -> ts.map(t => math.log(p3(t._2._1, t._2._2, t._2._3))).sum /
        ts.size
    }
    val out = Curation.kneserNeyLogProb(d, "doc_id", col("text"))
      .orderBy("doc_id")
      .select("doc_id", "n_trigrams", "avg_logprob_kn")
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    for ((id, n, s) <- out) {
      assert(n == 4L)
      assert(math.abs(s - expected(id)) < 1e-9,
        s"doc $id: $s vs ${expected(id)}")
    }
    // the distribution law: for every SEEN context (u,v), p(·|u,v)
    // sums to exactly 1 over the whole vocabulary — unseen
    // continuations carry pure backoff mass, which is precisely the
    // mass the discount removed from the seen ones
    val vocab = docs.flatMap(_._2.split(" ")).distinct
    for ((u, v) <- c2.keys) {
      val s = vocab.map(w => p3(u, v, w)).sum
      assert(math.abs(s - 1.0) < 1e-12, s"sum over vocab for ($u,$v): $s")
    }
  }

  test("X13d KN discounts once-seen trigrams strictly below their MLE estimate") {
    // context (a,b) continues three ways: p twice, q and r once each.
    // MLE scores doc2 at mean(ln 1, ln 1/4); KN discounts the
    // singleton head term to (1-0.75)/4 and the redistributed backoff
    // mass cannot make it up in a diverse context — the axis the MLE
    // arms miss on once-seen (typo-like) n-grams
    val docs = Seq(
      (1L, "x a b p"),
      (2L, "x a b q"),
      (3L, "x a b r"),
      (4L, "x a b p"))
    val d = docs.toDF("doc_id", "text")
    val out = Curation.kneserNeyLogProb(d, "doc_id", col("text"))
      .orderBy("doc_id").select("avg_logprob_kn").as[Double].collect()
    // identical docs score identically; the repeated continuation
    // outranks the singletons; q and r are count-symmetric
    assert(out(0) == out(3))
    assert(out(0) > out(1), s"repeated must outrank singleton: ${out.toSeq}")
    assert(out(1) == out(2))
    // strictly below the MLE trigram mean for the singleton doc
    val mleDoc2 = (math.log(1.0) + math.log(1.0 / 4.0)) / 2.0
    assert(out(1) < mleDoc2, s"KN ${out(1)} must discount below MLE $mleDoc2")
  }

  test("X12b weightedSample: k per stratum, weight-dominant, reproducible") {
    val d = (0L until 50L).map { i =>
      // 5 heavy rows (ids 0-4, weight 1000) vs 45 light (weight 0.01):
      // A-Res keys u^(1/1000) ≈ 1 vs u^100 ≈ 0 — heavies must win
      (i, if (i < 5) 1000.0 else 0.01, if (i % 2 == 0) "a" else "b")
    }.toDF("doc_id", "w", "g")
    val sel = Curation.weightedSample(d, "doc_id", Seq.empty, col("w"), k = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(sel.toSeq == Seq(0L, 1L, 2L, 3L, 4L),
      s"heavy-weight rows must dominate selection, got ${sel.toSeq}")
    // exactly k per stratum when strata are larger than k
    val perG = Curation.weightedSample(d, "doc_id", Seq("g"), col("w"), k = 7)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(perG == Map("a" -> 7L, "b" -> 7L))
    // reproducible: same input → same sample (hash draw, not rand())
    val again = Curation.weightedSample(d, "doc_id", Seq("g"), col("w"), k = 7)
      .select("doc_id").as[Long].collect().sorted
    val first = Curation.weightedSample(d, "doc_id", Seq("g"), col("w"), k = 7)
      .select("doc_id").as[Long].collect().sorted
    assert(again.toSeq == first.toSeq)
    // null / non-positive weights are excluded, never sampled
    val withBad = d.union(Seq((100L, 0.0, "a"), (101L, -3.0, "b"))
      .toDF("doc_id", "w", "g"))
    val selBad = Curation.weightedSample(withBad, "doc_id", Seq.empty, col("w"), k = 50)
      .select("doc_id").as[Long].collect().toSet
    assert(!selBad.contains(100L) && !selBad.contains(101L))
  }

  test("X12 stratifiedSample takes exactly k per stratum, deterministically") {
    val d = spark.range(1000)
      .selectExpr("id AS doc_id", "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS g")
    val s1 = Curation.stratifiedSample(d.toDF(), "doc_id", Seq("g"), k = 7)
    val counts = s1.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(counts == Map("a" -> 7L, "b" -> 7L))
    // a smaller stratum than k yields the whole stratum, no padding
    val tiny = Curation.stratifiedSample(
      d.where($"doc_id" < 2).toDF(), "doc_id", Seq("g"), k = 7)
    assert(tiny.count() == 2)
    // deterministic: same ids on re-evaluation
    val s2 = Curation.stratifiedSample(d.toDF(), "doc_id", Seq("g"), k = 7)
    assert(s1.select("doc_id").except(s2.select("doc_id")).count() == 0)
  }

  test("X12c stratifiedSampleBounded: identical winner set to the window form, repartition-stable, small strata whole") {
    val d = spark.range(2000)
      .selectExpr("id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS g")
      .repartition(8)
    val win = Curation.stratifiedSample(d.toDF(), "doc_id", Seq("g"), k = 9)
      .select($"g", $"doc_id".cast("string"))
    val agg = Curation.stratifiedSampleBounded(d.toDF(), "doc_id", Seq("g"), k = 9)
      .select($"g", $"doc_id")
    assert(win.except(agg).count() === 0 && agg.except(win).count() === 0)
    assert(agg.count() === 18)
    // stratum smaller than k: whole stratum, ascending (rank, id)
    val tiny = Curation.stratifiedSampleBounded(
      d.where($"doc_id" < 3).toDF(), "doc_id", Seq("g"), k = 9)
    assert(tiny.count() === 3)
    val ranks = tiny.where($"g" === "b").select("rank").as[String].collect()
    assert(ranks.sorted.toSeq === ranks.toSeq)
  }

  test("X10 packSequences: chunk arithmetic, shard isolation, budget bounds") {
    val d = Seq(
      ("s1", 1L, 100), ("s1", 2L, 100), ("s1", 3L, 100), ("s1", 4L, 30),
      ("s2", 5L, 300))
      .toDF("source", "doc_id", "n")
    val out = Curation.packSequences(d, "source", "doc_id", col("n"), budget = 256)
      .select("source", "doc_id", "start_offset", "pack_id", "pack_pos")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._2)
    // s1: offsets 0,100,200,300 → packs 0,0,0,1; doc 3 STARTS in pack 0
    // (concat-and-chunk: the stream is cut mid-document, like GPT batching)
    assert(out.map(r => (r._3, r._4)).toSeq ==
      Seq((0L, 0L), (100L, 0L), (200L, 0L), (300L, 1L), (0L, 0L)))
    // pack_pos always within budget; shards start independently at 0
    assert(out.forall(r => r._5 >= 0 && r._5 < 256))
  }

  test("X10 packSequences pack_id is integer-exact past 2^53") {
    // start_offset = 2^60 + 255: double arithmetic rounds it to
    // 2^60 + 256 (ulp is 256 at that magnitude) and misplaces the doc
    // into the NEXT pack; integer `div` must keep it in pack 2^52
    val big = (1L << 60) + 255L
    val d = Seq(("s1", 1L, big), ("s1", 2L, 1L)).toDF("source", "doc_id", "n")
    val out = Curation.packSequences(d, "source", "doc_id", col("n"), budget = 256)
      .where(col("doc_id") === 2L)
      .select("start_offset", "pack_id", "pack_pos")
      .as[(Long, Long, Long)].head()
    assert(out._1 == big)
    assert(out._2 == (1L << 52))
    assert(out._3 == 255L)
  }

  test("X10b bestFitPack: matches a scalar BFD reference; packs never overflow; docs never split; over-long docs clamp to a solo pack; repartition-stable") {
    val rnd = new scala.util.Random(19)
    val docs = (0L until 300L).map(i =>
      (i, "w " * (1 + rnd.nextInt(200)))) :+ (300L, "w " * 500)
    val df = docs.toDF("doc_id", "text").repartition(7)
    val budget = 128
    val out = Curation.bestFitPack(df, "doc_id",
      nTokens = size(split(col("text"), " ")), budget = budget, shards = 3)
      .select("shard", "doc_id", "n_tokens", "pack_id", "slot")
      .as[(Long, Long, Long, Long, Long)].collect()
    // every doc assigned exactly once
    assert(out.length == docs.size)
    assert(out.map(_._2).distinct.length == docs.size)
    // packs never exceed the budget; the over-long doc clamps to a
    // budget-sized solo entry
    out.groupBy(r => (r._1, r._4)).foreach { case (_, rs) =>
      assert(rs.map(_._3).sum <= budget)
    }
    val solo = out.find(_._2 == 300L).get
    assert(solo._3 == budget.toLong)
    assert(out.count(r => (r._1, r._4) == ((solo._1, solo._4))) == 1)
    // scalar BFD reference per shard (independent implementation)
    def md5Bucket(id: Long, b: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString, 16) % b
    }
    val lens = docs.map { case (id, t) => (id, math.min(
      t.split(" ", -1).length.toLong, budget.toLong)) }.toMap
    val ref = docs.map(_._1).groupBy(md5Bucket(_, 3)).flatMap {
      case (shard, ids) =>
        val ordered = ids.map(i => (i, lens(i))).sortBy { case (i, l) => (-l, i) }
        val rem = scala.collection.mutable.ArrayBuffer.empty[Long]
        val fill = scala.collection.mutable.ArrayBuffer.empty[Long]
        ordered.map { case (i, l) =>
          val elig = rem.zipWithIndex.filter(_._1 >= l)
          if (elig.isEmpty) {
            rem += budget - l; fill += 1
            (i, (shard, l, (rem.length - 1).toLong, 0L))
          } else {
            val (_, bi) = elig.minBy { case (r, j) => (r, j) }
            val slot = fill(bi); rem(bi) -= l; fill(bi) += 1
            (i, (shard, l, bi.toLong, slot))
          }
        }
    }
    out.foreach { case (sh, id, l, p, sl) =>
      assert(ref(id) == ((sh, l, p, sl)), s"doc $id")
    }
    // repartition stability: a different physical layout, same rows
    val out2 = Curation.bestFitPack(df.repartition(13), "doc_id",
      nTokens = size(split(col("text"), " ")), budget = budget, shards = 3)
      .select("shard", "doc_id", "n_tokens", "pack_id", "slot")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.sortBy(_._2).toSeq == out2.sortBy(_._2).toSeq)
    // stats face: efficiency in (0,1], counts consistent
    val st = Curation.bestFitPackStats(
      Curation.bestFitPack(df, "doc_id",
        nTokens = size(split(col("text"), " ")), budget = budget, shards = 3),
      budget)
      .select("n_packs", "n_docs", "sum_tokens", "efficiency")
      .as[(Long, Long, Long, Double)].head()
    assert(st._2 == docs.size.toLong)
    assert(st._4 > 0.0 && st._4 <= 1.0)
    assert(st._3 == out.map(_._3).sum)
  }

  test("X13b qualityBuckets: per-domain thirds, best third is head, ties by id") {
    val d = Seq(
      // domain a: 7 docs, scores 7..1 → ntile sizes 3/2/2
      (1L, "a", 7L), (2L, "a", 6L), (3L, "a", 5L), (4L, "a", 4L),
      (5L, "a", 3L), (6L, "a", 2L), (7L, "a", 1L),
      // domain b: 3 tied docs → one per bucket, by id
      (8L, "b", 9L), (9L, "b", 9L), (10L, "b", 9L))
      .toDF("doc_id", "source", "sc")
    val out = Curation.qualityBuckets(d, "doc_id", "source", col("sc"))
      .select("doc_id", "q_bucket").as[(Long, String)].collect().toMap
    assert(Seq(1L, 2L, 3L).forall(out(_) == "head"))
    assert(Seq(4L, 5L).forall(out(_) == "middle"))
    assert(Seq(6L, 7L).forall(out(_) == "tail"))
    assert(out(8L) == "head" && out(9L) == "middle" && out(10L) == "tail")
  }

  test("X14 filterLines applies each C4 rule: punct, min words, boilerplate") {
    val page = Seq(
      "good line stays here.",      // kept
      "short.",                     // 1 word < 3
      "lorem ipsum filler text here.", // boilerplate
      "this page needs JavaScript enabled.", // boilerplate, case-blind
      "no terminal punct line",     // no . ! ? "
      "{ cfg: true }",              // curly-brace markup
      "she said \"stop\"",          // ends in a quote — kept
      "another good line stays!").mkString("\n")
    val out = Curation.filterLines(docs(1L -> page), col("text"))
      .select("n_lines", "n_kept", "clean_text")
      .as[(Long, Long, String)].head()
    assert(out._1 == 8L)
    assert(out._2 == 3L)
    assert(out._3 ==
      "good line stays here.\nshe said \"stop\"\nanother good line stays!")
  }

  test("X7b lineRepetitionStats: dup line and dup char fractions") {
    // 4 lines: "ab" ×2, "cdef", "g" → dup_line_frac = 1 - 3/4 = 0.25;
    // dup chars = 2*2 = 4 of 2+2+4+1 = 9 → 0.444444
    val out = Curation.lineRepetitionStats(
      docs(1L -> "ab\ncdef\nab\ng"), "doc_id", col("text"))
      .select("n_lines", "dup_line_frac", "dup_line_char_frac")
      .as[(Long, Double, Double)].head()
    assert(out == ((4L, 0.25, 0.444444)))
    // no duplicate lines → both fractions zero
    val clean = Curation.lineRepetitionStats(
      docs(2L -> "a\nb\nc"), "doc_id", col("text"))
      .select("dup_line_frac", "dup_line_char_frac")
      .as[(Double, Double)].head()
    assert(clean == ((0.0, 0.0)))
  }

  test("X17 chunkTokens: overlap shared, no redundant tail, short docs one chunk") {
    // 10 tokens, chunk 4, overlap 2 (stride 2): starts while
    // start + 2 < 10 → 0,2,4,6 (start 8's window adds no new token
    // beyond... start 8: 8+2 < 10 false → excluded? 8+2=10 not < 10 →
    // excluded; but tokens 9,10 ARE covered by start 6's window (7-10)
    val d = docs(1L -> "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")
    val out = Curation.chunkTokens(d, "doc_id", col("text"), chunkTokens = 4, overlap = 2)
      .select("chunk_id", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (0L, 4L, "t1 t2 t3 t4"),
      (1L, 4L, "t3 t4 t5 t6"),
      (2L, 4L, "t5 t6 t7 t8"),
      (3L, 4L, "t7 t8 t9 t10")))
    // a doc shorter than the overlap still yields exactly one chunk
    val tiny = Curation.chunkTokens(docs(2L -> "only two"), "doc_id",
      col("text"), chunkTokens = 4, overlap = 2)
      .select("chunk_id", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, String)].collect().toSeq
    assert(tiny == Seq((0L, 2L, "only two")))
  }

  test("null text never drops a doc: chunkTokens one empty chunk, line stats zeroed") {
    val nullDoc = Seq((1L, null: String)).toDF("doc_id", "text")
    val chunk = Curation.chunkTokens(nullDoc, "doc_id", col("text"),
      chunkTokens = 4, overlap = 2)
      .select("chunk_id", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, String)].collect().toSeq
    assert(chunk == Seq((0L, 1L, "")))
    val rep = Curation.lineRepetitionStats(nullDoc, "doc_id", col("text"))
      .select("n_lines", "dup_line_frac", "dup_line_char_frac")
      .as[(Long, Double, Double)].collect().toSeq
    assert(rep == Seq((1L, 0.0, 0.0)))
  }

  test("X17 property: chunking covers every token exactly, ids dense, overlap respected") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cfgGen = for {
      n <- Gen.choose(1, 60)
      chunk <- Gen.choose(2, 12)
      overlap <- Gen.choose(0, chunk - 1)
    } yield (n, chunk, overlap)
    for (seed <- 1 to 15) {
      val (n, chunk, overlap) = cfgGen.apply(Gen.Parameters.default, Seed(seed.toLong)).get
      val text = (1 to n).map(i => s"w$i").mkString(" ")
      val out = Curation.chunkTokens(docs(1L -> text), "doc_id", col("text"),
        chunkTokens = chunk, overlap = overlap)
        .select("chunk_id", "n_chunk_tokens", "chunk_text")
        .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
      val stride = chunk - overlap
      // ids dense from 0; each chunk's tokens are the expected window
      out.zipWithIndex.foreach { case ((cid, nt, txt), i) =>
        assert(cid == i.toLong, s"seed $seed ids not dense: $out")
        val start = i * stride
        val want = (start + 1 to math.min(start + chunk, n)).map(i => s"w$i")
        assert(txt == want.mkString(" "), s"seed $seed chunk $i window")
        assert(nt == want.size.toLong)
      }
      // full coverage: union of windows is exactly 1..n
      val covered = out.flatMap(_._3.split(" ")).toSet
      assert(covered == (1 to n).map(i => s"w$i").toSet, s"seed $seed coverage")
      // no fully-redundant window: every chunk past the first adds a
      // token the previous window did not contain
      out.sliding(2).foreach {
        case Seq((_, _, a), (_, _, b)) =>
          assert(b.split(" ").toSet.diff(a.split(" ").toSet).nonEmpty,
            s"seed $seed redundant tail window")
        case _ => ()
      }
    }
  }

  test("X14 filterLines with an empty marker list keeps the other rules") {
    val out = Curation.filterLines(
      docs(1L -> "lorem ipsum stays now.\nshort"), col("text"),
      markers = Seq.empty)
      .select("n_kept", "clean_text").as[(Long, String)].head()
    assert(out == ((1L, "lorem ipsum stays now.")))
  }

  test("X14 filterLines is map-only: no exchange in the plan") {
    val plan = Curation.filterLines(docs(1L -> "a b c."), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"line filtering must not shuffle:\n$plan")
  }

  test("X16 normalizeText: NFC composes, controls stripped, whitespace collapsed") {
    // codepoint-built so composed vs decomposed is unambiguous in
    // source: U+0301 combining acute, U+0007 BEL, U+00E9 composed
    val acute = Character.toString(0x301)
    val bel = Character.toString(0x7)
    val eAcute = Character.toString(0xE9)
    val dirty = s"  cafe$acute has$bel  a\t\ttab  and  runs \r\n end  "
    val out = Curation.normalizeText(docs(1L -> dirty), col("text"))
      .select("clean_text", "changed").as[(String, Boolean)].head()
    // \r is a stripped control; \n survives (line structure is X14's
    // concern, not normalization's)
    assert(out._1 == s"caf$eAcute has a tab and runs \n end")
    assert(out._2)
    // already-clean ASCII is returned unchanged and flagged unchanged
    val clean = Curation.normalizeText(docs(2L -> "plain text."), col("text"))
      .select("clean_text", "changed").as[(String, Boolean)].head()
    assert(clean == (("plain text.", false)))
    // registered through the extensions hook for SQL callers
    val viaSql = spark.sql(s"SELECT nfc_normalize('cafe$acute')")
      .collect().head.getString(0)
    assert(viaSql == s"caf$eAcute")
  }

  test("X14/X7b property: line ops equal in-memory references on random pages") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // line pool spanning every rule: kept, short, no-punct, each
    // boilerplate marker, empty, quote-terminated, duplicates by draw
    val pool = Vector(
      "a good line stays here.", "short.", "tiny", "no terminal punct line",
      "lorem ipsum dolor sit.", "needs JavaScript enabled.", "{ cfg }",
      "she said \"go\"", "", "another keeper stays!", "x y z?")
    val pageGen = for {
      n <- Gen.choose(1, 12)
      idx <- Gen.listOfN(n, Gen.choose(0, pool.size - 1))
    } yield idx.map(pool).mkString("\n")
    def refKeep(l: String): Boolean = {
      val t = l.trim
      t.nonEmpty && "[.!?\"]$".r.findFirstIn(t).isDefined &&
        t.split(" ", -1).length >= 3 &&
        !Curation.BoilerplateMarkers.exists(t.toLowerCase.contains)
    }
    for (seed <- 1 to 12) {
      val page = pageGen.apply(Gen.Parameters.default, Seed(seed.toLong)).get
      val lines = page.split("\n", -1).toSeq
      val kept = lines.filter(refKeep)
      val got = Curation.filterLines(docs(1L -> page), col("text"))
        .select("n_lines", "n_kept", "clean_text")
        .as[(Long, Long, String)].head()
      assert(got == ((lines.size.toLong, kept.size.toLong, kept.mkString("\n"))),
        s"seed $seed page:\n$page")
      // X7b reference: dup-line and dup-char fractions over the page
      val counts = lines.groupBy(identity).view.mapValues(_.size)
      val dupLine = BigDecimal(1.0 - counts.size.toDouble / lines.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val tot = lines.map(_.length).sum
      val dup = counts.collect { case (l, c) if c > 1 => c * l.length }.sum
      val dupChar =
        if (tot > 0) BigDecimal(dup.toDouble / tot)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else 0.0
      val rep = Curation.lineRepetitionStats(docs(1L -> page), "doc_id", col("text"))
        .select("n_lines", "dup_line_frac", "dup_line_char_frac")
        .as[(Long, Double, Double)].head()
      assert(rep == ((lines.size.toLong, dupLine, dupChar)), s"seed $seed page:\n$page")
    }
  }

  private def budgetDocs(rows: (Long, Long, Long)*) =
    rows.toDF("doc_id", "q", "nt")

  /** Naive global-sort reference for X15 (the oracle's form). */
  private def naiveBudget(d: org.apache.spark.sql.DataFrame, budget: Long) = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    d.withColumn("cum", sum(col("nt")).over(w)).where(col("cum") <= budget)
      .select(col("doc_id"), col("cum")).as[(Long, Long)].collect().toSet
  }

  test("X15 selectByBudget equals the global-sort prefix, cut mid-bucket") {
    // scores 3,3,2,2,2,1 — budget 45 cuts inside the score-2 bucket
    val d = budgetDocs(
      (1L, 3L, 10L), (2L, 3L, 10L), (3L, 2L, 10L), (4L, 2L, 10L),
      (5L, 2L, 10L), (6L, 1L, 10L))
    val out = Curation.selectByBudget(d, "doc_id", col("q"), col("nt"), 45L)
      .select(col("doc_id"), col("cum_tokens")).as[(Long, Long)].collect().toSet
    assert(out == naiveBudget(d, 45L))
    assert(out == Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
  }

  test("X15 selectByBudget keeps a zero-token doc whose bucket offset equals the budget") {
    // score-5 bucket totals exactly the budget; the score-4 bucket
    // holds a zero-token doc the naive form keeps (cum == budget) —
    // a `__prev < budget` prune would drop that whole bucket
    val d = budgetDocs((1L, 5L, 10L), (2L, 4L, 0L), (3L, 4L, 7L))
    val out = Curation.selectByBudget(d, "doc_id", col("q"), col("nt"), 10L)
      .select(col("doc_id"), col("cum_tokens")).as[(Long, Long)].collect().toSet
    assert(out == naiveBudget(d, 10L))
    assert(out == Set((1L, 10L), (2L, 10L)))
  }

  test("X15 selectByBudget: exact-budget boundary kept, id breaks score ties") {
    val d = budgetDocs((7L, 5L, 20L), (2L, 5L, 20L), (9L, 5L, 20L))
    // budget exactly two docs: tie broken by doc_id asc → 2 then 7
    val out = Curation.selectByBudget(d, "doc_id", col("q"), col("nt"), 40L)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(out == Set(2L, 7L))
    assert(out == naiveBudget(d, 40L).map(_._1))
  }

  test("X15 property: bucketed plan equals the naive global prefix on random corpora") {
    // seeded ScalaCheck generators (scalatestplus bridge not available
    // offline) — random scores with heavy ties, token counts, budgets
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val corpusGen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        q <- Gen.choose(0L, 6L)    // few buckets → ties + mid-bucket cuts
        nt <- Gen.choose(1L, 30L)
      } yield (q, nt))
    } yield rows.zipWithIndex.map { case ((q, nt), i) => (i.toLong, q, nt) }
    for (seed <- 1 to 12) {
      val rows = corpusGen.apply(Gen.Parameters.default, Seed(seed.toLong)).get
      val d = budgetDocs(rows: _*)
      val budget = rows.map(_._3).sum * seed / 13L max 1L
      val got = Curation.selectByBudget(d, "doc_id", col("q"), col("nt"), budget)
        .select(col("doc_id"), col("cum_tokens")).as[(Long, Long)].collect().toSet
      assert(got == naiveBudget(d, budget), s"seed $seed budget $budget")
    }
  }

  test("X15 selectByBudget windows per score bucket, never globally") {
    val d = budgetDocs((1L to 40L).map(i => (i, i % 4, 10L)): _*)
    val planned = Curation.selectByBudget(d, "doc_id", col("q"), col("nt"), 100L)
    val plan = planned.queryExecution.executedPlan.toString
    // corpus-side window is partitioned by score (parallel), and the
    // tiny per-score offset table broadcasts back
    assert(plan.contains("hashpartitioning(score"),
      s"corpus window must partition by score bucket:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-score offsets must broadcast:\n$plan")
    // the single-partition window exists only on the offsets side —
    // its input is the per-score aggregate, not the corpus
    val results = planned.select(col("doc_id")).as[Long].collect().toSet
    assert(results == naiveBudget(d, 100L).map(_._1))
  }

  test("X20 dropBoilerplateLines drops cross-doc frequent lines, keeps order") {
    // "footer" in 3 of 4 docs (75% >= 50% threshold) → dropped
    // everywhere; unique lines survive in original order
    val d = docs(
      1L -> "alpha one.\nfooter\nbeta two.",
      2L -> "gamma three.\nfooter",
      3L -> "footer\ndelta four.",
      4L -> "epsilon five.\nzeta six.")
    val out = Curation.dropBoilerplateLines(d, "doc_id", col("text"), 0.5)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 2L, "alpha one.\nbeta two."),
      (2L, 2L, 1L, "gamma three."),
      (3L, 2L, 1L, "delta four."),
      (4L, 2L, 2L, "epsilon five.\nzeta six.")))
  }

  test("X20 within-doc duplicate lines count once toward doc frequency") {
    // "rep" occurs twice in doc 1 but in only 1 of 3 docs (33% < 50%):
    // NOT boilerplate, both copies kept
    val d = docs(
      1L -> "rep\nrep\nown line.",
      2L -> "other a.",
      3L -> "other b.")
    val out = Curation.dropBoilerplateLines(d, "doc_id", col("text"), 0.5)
      .orderBy("doc_id").select("n_kept", "clean_text")
      .as[(Long, String)].collect().toSeq
    assert(out.head == ((3L, "rep\nrep\nown line.")))
  }

  test("X20 all-boilerplate doc survives with empty clean_text; null text kept") {
    val d = spark.createDataFrame(Seq(
      (1L, "footer"), (2L, "footer"), (3L, "footer")
    )).toDF("doc_id", "text")
      .union(Seq((4L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val out = Curation.dropBoilerplateLines(d, "doc_id", col("text"), 0.5)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L), "no doc row may drop")
    assert(out.take(3).forall(r => r._3 == 0L && r._4 == ""))
    // the null doc's single empty line is only 1 of 4 docs → kept
    assert(out(3) == ((4L, 1L, 1L, "")))
  }

  test("X20 plan: the frequent set broadcasts into the anti join") {
    val d = docs((1L to 40L).map(i => i -> s"unique $i.\nfooter"): _*)
    val plan = Curation.dropBoilerplateLines(d, "doc_id", col("text"), 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"frequent lines must broadcast into the anti join:\n$plan")
  }

  test("X21 shuffleShard is a permutation: every id once, dense pos per shard") {
    val d = docs((1L to 200L).map(i => i -> s"t$i"): _*)
    val out = Curation.shuffleShard(d, "doc_id", "seed1", nShards = 8)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(out.map(_._1).toSet == (1L to 200L).toSet, "all ids exactly once")
    assert(out.forall(r => r._2 >= 0 && r._2 < 8), "shard in range")
    out.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $sh pos must be dense 1..n")
    }
    // deterministic: an identical second run yields identical addresses
    val again = Curation.shuffleShard(d, "doc_id", "seed1", nShards = 8)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("X21 a different seed yields an independent permutation") {
    val d = docs((1L to 200L).map(i => i -> s"t$i"): _*)
    def addr(seed: String) =
      Curation.shuffleShard(d, "doc_id", seed, nShards = 8)
        .select("doc_id", "shard", "pos").as[(Long, Int, Long)]
        .collect().sortBy(_._1).toSeq
    val a = addr("epoch-1")
    val b = addr("epoch-2")
    assert(a != b, "re-seeding must move documents")
    val moved = a.zip(b).count { case (x, y) => x._2 != y._2 }
    assert(moved > 100, s"most docs should change shard on re-seed, moved=$moved")
  }

  test("X21 plan: the per-shard rank partitions by shard, never globally") {
    val d = docs((1L to 64L).map(i => i -> s"t$i"): _*)
    val plan = Curation.shuffleShard(d, "doc_id", "s", nShards = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(shard"),
      s"window must partition by shard (parallel write path):\n$plan")
  }

  // X22 fixture: target (id % 10 == 0) speaks the "alpha beta ..."
  // dialect; candidate 1 speaks it too, candidates 2-3 don't
  private val dsirDocs = docs(
    10L -> "alpha beta gamma delta alpha beta",
    20L -> "alpha beta gamma delta epsilon",
    1L -> "alpha beta gamma delta zeta",      // target-like candidate
    2L -> "one two three four five six",      // off-target candidate
    3L -> "seven eight nine ten eleven",      // off-target candidate
    4L -> "solo")                             // < 2 tokens: no features

  test("X22 dsirLogWeights: target-like docs outscore off-target docs") {
    val out = Curation.dsirLogWeights(dsirDocs, "doc_id", col("text"),
      isTarget = col("doc_id") % 10 === 0, buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet === Set(1L, 2L, 3L), "targets and featureless docs excluded")
    assert(out(1L) > out(2L) && out(1L) > out(3L),
      s"target-dialect doc must score highest: $out")
  }

  test("X22 dsirLogWeights: n_feats counts bigram occurrences; deterministic") {
    val run = () => Curation.dsirLogWeights(dsirDocs, "doc_id", col("text"),
      isTarget = col("doc_id") % 10 === 0, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = run()
    assert(a.map(x => x._1 -> x._2).toMap === Map(1L -> 4L, 2L -> 5L, 3L -> 4L))
    assert(a === run(), "scores must be bit-identical across runs")
  }

  test("X22 dsirLogWeights property: matches the in-memory reference on random corpora") {
    // brute-force reference: same hashed-bigram / add-one-smoothing /
    // log-ratio arithmetic, computed in plain Scala from first
    // principles (only the md5 bucket is delegated to Spark — it IS
    // the operator's portability contract)
    val words = Vector("a", "b", "c", "dd", "ee", "ff", "gg")
    val rnd = new scala.util.Random(11)
    val corpus = (1L to 40L).map { id =>
      val n = 2 + rnd.nextInt(8)
      (id, Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" "))
    }
    val buckets = 32
    val df = corpus.toDF("doc_id", "text")
    // bucket of every distinct bigram, via the operator's own hash
    val grams = corpus.flatMap { case (_, t) =>
      val w = t.split(" "); w.zip(w.tail).map { case (x, y) => s"$x $y" }
    }.distinct
    val bucketOf = grams.toDF("g")
      .select(col("g"), Curation.hashBucket(col("g"), buckets).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def feats(t: String): Seq[Long] = {
      val w = t.split(" ")
      w.zip(w.tail).map { case (x, y) => bucketOf(s"$x $y") }.toSeq
    }
    val isTgt = (id: Long) => id % 10 == 0
    val raw = corpus.filterNot(c => isTgt(c._1)).flatMap(c => feats(c._2))
    val tgt = corpus.filter(c => isTgt(c._1)).flatMap(c => feats(c._2))
    val cr = raw.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val ct = tgt.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val (tr, tt) = (raw.size.toDouble, tgt.size.toDouble)
    val expect = corpus.filterNot(c => isTgt(c._1)).map { case (id, t) =>
      val lw = feats(t).map { b =>
        math.log((ct.getOrElse(b, 0.0) + 1) / (tt + buckets)) -
          math.log((cr(b) + 1) / (tr + buckets))
      }.sum
      id -> lw
    }.toMap
    val got = Curation.dsirLogWeights(df, "doc_id", col("text"),
      isTarget = col("doc_id") % 10 === 0, buckets = buckets)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (id, lw) =>
      assert(math.abs(lw - expect(id)) < 1e-9, s"doc $id: $lw vs ${expect(id)}")
    }
  }

  test("X22 dsirLogWeights: with no target docs every score uses the smoothed floor") {
    // ct = 0 everywhere → lr(b) = ln(1/B) − ln((cr+1)/(Tr+B)): finite,
    // well-defined; rarer buckets score HIGHER (less negative raw term)
    val out = Curation.dsirLogWeights(dsirDocs.filter(col("doc_id") < 10),
      "doc_id", col("text"), isTarget = lit(false), buckets = 64)
      .collect()
    assert(out.length === 3 && out.forall(r => !r.isNullAt(2)))
  }

  test("X6c contaminationFraction: hit share of distinct grams, clean docs at 0") {
    // bigrams (n=2); doc 1 shares half its grams with the benchmark,
    // doc 2 none, doc 3 all; doc 4 is too short for any bigram
    val corpus = Seq(
      (1L, "a b c x"),   // grams {a b, b c, c x}: hits {a b, b c}
      (2L, "p q r"),     // grams {p q, q r}: 0 hits
      (3L, "a b"),       // gram {a b}: 1 hit
      (4L, "solo")       // no bigram → absent from the result
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c")).toDF("doc_id", "text")
    val out = Curation.contaminationFraction(
      corpus, bench, "doc_id", col("text"), n = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(
      1L -> ((3L, 2L, 0.6667)), 2L -> ((2L, 0L, 0.0)),
      3L -> ((1L, 1L, 1.0))))
  }

  test("X6c within-doc repeated grams count once (distinct-gram basis)") {
    val corpus = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val bench = Seq((9L, "a b")).toDF("doc_id", "text")
    val out = Curation.contaminationFraction(
      corpus, bench, "doc_id", col("text"), n = 2).collect()
    // distinct bigrams of "a b a b a b" = {a b, b a}; one hits
    assert(out.length === 1)
    assert(out.head.getLong(1) === 2L && out.head.getLong(2) === 1L)
    assert(out.head.getDouble(3) === 0.5)
  }

  test("X4b oovRate: occurrence-level coverage against a fixed vocab") {
    val docs = Seq(
      (1L, "a b a z"),  // 4 occurrences, z uncovered → 1/4
      (2L, "a a a a"),  // fully covered
      (3L, "q r")       // fully uncovered
    ).toDF("doc_id", "text")
    val vocab = Seq("a", "b", "c").toDF("token")
    val out = Curation.oovRate(docs, "doc_id", col("text"), vocab, "token")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(
      1L -> ((4L, 1L, 0.25)), 2L -> ((4L, 0L, 0.0)), 3L -> ((2L, 2L, 1.0))))
  }

  test("X24 dedupParagraphs keeps each distinct line only at its first occurrence") {
    val docs = Seq(
      (1L, "alpha\nshared\nbeta"),
      (2L, "shared\ngamma"),       // loses "shared" to doc 1
      (3L, "shared\nshared")       // all-dup doc: empty clean_text
    ).toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(docs, "doc_id", col("text"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq === Seq(
      (1L, 3L, 3L, "alpha\nshared\nbeta"),
      (2L, 2L, 1L, "gamma"),
      (3L, 2L, 0L, "")))
  }

  test("X24 within the keeper doc a repeated line survives once, at its first position") {
    val docs = Seq(
      (5L, "x\ny\nx\nz\nx"),
      (6L, "x\nw")
    ).toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(docs, "doc_id", col("text"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3)))
    assert(out.toSeq === Seq((5L, "x\ny\nz"), (6L, "w")))
  }

  test("X24 null text behaves as one empty line; the empty line dedups corpus-wide") {
    val docs = Seq((1L, null: String), (2L, ""), (3L, "a\n"))
      .toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(docs, "doc_id", col("text"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1 owns the empty line; doc 2's sole (empty) line dedups away;
    // doc 3's trailing empty line (from the split) dedups, "a" survives
    assert(out.toSeq === Seq(
      (1L, 1L, 1L, ""), (2L, 1L, 0L, ""), (3L, 2L, 1L, "a")))
  }

  /** Scalar reference BPE: same </w> convention, same position-level
    * pair counting (overlaps included), same (count desc, a, b)
    * tie-break, same left-to-right non-overlapping merge, same < 2
    * stop rule.
    */
  private def refBpe(words: Seq[(String, Long)],
      k: Int): Seq[(Long, String, String, String, Long)] = {
    var syms = words.map { case (w, c) =>
      (w.map(_.toString).toVector :+ "</w>", c) }
    val out = scala.collection.mutable.ListBuffer
      .empty[(Long, String, String, String, Long)]
    var done = false
    for (r <- 1 to k if !done) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long]
      for ((s, c) <- syms; i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) =
          counts.getOrElse((s(i), s(i + 1)), 0L) + c
      val best = counts.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.headOption
      best match {
        case Some(((a, b), n)) if n >= 2 =>
          out += ((r.toLong, a, b, a + b, n))
          syms = syms.map { case (s, c) =>
            val nb = Vector.newBuilder[String]
            var i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
                nb += (a + b); i += 2
              } else { nb += s(i); i += 1 }
            }
            (nb.result(), c)
          }
        case _ => done = true
      }
    }
    out.toSeq
  }

  test("X25 bpeTrain matches the scalar reference merge-for-merge on the classic corpus; stops when no pair repeats") {
    // the Sennrich et al. walk-through corpus shape: shared stems and
    // suffixes force a deterministic, meaningful merge order
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower newest newest"),
      (3L, "newest newest newest newest widest widest")).toDF("doc_id", "text")
    val got = Curation.bpeTrain(docs, col("text"), merges = 12)
      .orderBy("rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    val words = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 2L)
    val want = refBpe(words, 12)
    assert(got === want, s"\ngot  $got\nwant $want")
    // the learned table is non-trivial: 'est</w>' or a prefix of it
    // must appear among the merges (the corpus's dominant suffix)
    assert(got.exists(m => m._4.contains("es")), s"merges $got")
    // stop rule: an all-unique corpus learns nothing
    val none = Curation.bpeTrain(
      Seq((1L, "ab cd ef")).toDF("doc_id", "text"), col("text"),
      merges = 5)
    assert(none.count() === 0L)
  }

  test("X25b bpeSegment reconstructs every word and counts subword tokens consistently") {
    val docs = Seq(
      (1L, "low lower"),
      (2L, "newest widest newest"),
      (3L, "zzz")).toDF("doc_id", "text")
    val merges = Curation.bpeTrain(docs, col("text"), merges = 8)
      .orderBy("rank")
      .select("left", "right").as[(String, String)].collect().toSeq
    val out = Curation.bpeSegment(docs, "doc_id", col("text"), merges)
      .orderBy("doc_id")
      .select("doc_id", "n_words", "n_tokens", "tokens")
      .as[(Long, Long, Long, Seq[String])].collect()
    assert(out.map(_._2).toSeq === Seq(2L, 3L, 1L))
    for ((id, _, nTok, toks) <- out) {
      assert(nTok === toks.length)
      // concatenating a doc's tokens and stripping the markers
      // reproduces its words in order
      val rebuilt = toks.mkString("").split("</w>").filter(_.nonEmpty)
      val want = Seq("low lower", "newest widest newest", "zzz")(
        id.toInt - 1).split(" ")
      assert(rebuilt.toSeq === want.toSeq, s"doc $id: $toks")
    }
    // an unseen word segments to characters + marker (merges only
    // apply where learned pairs occur)
    val z = out.find(_._1 == 3L).get._4
    assert(z.forall(t => t.length <= "zz".length + 4))
    // X25c: the integer-only stats face agrees with the full segment
    // face on every (n_words, n_tokens) — the flat-at-scale read
    val counts = Curation.bpeTokenCounts(docs, "doc_id", col("text"),
      merges)
      .orderBy("doc_id").select("doc_id", "n_words", "n_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(counts === out.map(r => (r._1, r._2, r._3)).toSeq)
  }

  // ----- X28: unigram-LM (SentencePiece) tokenizer training -----

  /** Independent scalar E-step: BRUTE-FORCE enumeration of every
    * segmentation (pieces ≤ maxLen), P(seg) = Π p(piece); expected
    * count of piece = Σ_seg P(seg)·#occurrences / Σ_seg P(seg).
    * Independent of the forward–backward lattice under test.
    */
  private def bruteExpected(w: String, m: Map[String, Double],
      maxLen: Int): Map[String, Double] = {
    def segs(s: String): Seq[Seq[String]] =
      if (s.isEmpty) Seq(Seq.empty)
      else (1 to math.min(maxLen, s.length)).flatMap { l =>
        val h = s.substring(0, l)
        if (m.contains(h)) segs(s.substring(l)).map(h +: _) else Seq.empty
      }
    val all = segs(w)
    val ps = all.map(seg => math.exp(seg.map(m).sum))
    val z = ps.sum
    val acc = scala.collection.mutable.Map.empty[String, Double]
    for ((seg, p) <- all.zip(ps); piece <- seg)
      acc(piece) = acc.getOrElse(piece, 0.0) + p / z
    acc.toMap
  }

  test("X28 unigramExpectedCounts: forward-backward equals brute-force enumeration; Viterbi equals brute-force argmax") {
    val model = Map("l" -> -3.0, "o" -> -3.2, "w" -> -3.4, "e" -> -3.1,
      "r" -> -3.3, "s" -> -3.5, "t" -> -3.6,
      "low" -> -1.2, "er" -> -1.8, "est" -> -1.9, "lo" -> -2.4,
      "we" -> -2.6, "wer" -> -2.2)
    for (w <- Seq("lower", "lowest", "low", "w", "lowerlowest")) {
      val got = Curation.unigramExpectedCounts(w, model, 4).toMap
      val want = bruteExpected(w, model, 4)
      assert(got.keySet === want.keySet, s"word $w")
      for ((p, e) <- want)
        assert(math.abs(got(p) - e) < 1e-6, s"$w/$p: ${got(p)} vs $e")
      // Viterbi picks the max-probability segmentation of the
      // brute-force enumeration (unique argmax on this model)
      def segs(s: String): Seq[Seq[String]] =
        if (s.isEmpty) Seq(Seq.empty)
        else (1 to math.min(4, s.length)).flatMap { l =>
          val h = s.substring(0, l)
          if (model.contains(h)) segs(s.substring(l)).map(h +: _)
          else Seq.empty
        }
      val best = segs(w).maxBy(seg => seg.map(model).sum)
      assert(Curation.unigramViterbi(w, model, 4, -100.0) === best.toVector,
        s"word $w")
    }
    // unknown single chars take the UNK score; multi-char pieces never
    assert(Curation.unigramViterbi("lqw", model, 4, -50.0)
      === Vector("l", "q", "w"))
  }

  test("X28 unigramLmTrain matches the scalar-reference loop piece-for-piece; learns the planted morphemes; chars survive; vocab bounded") {
    val texts = Seq(
      "low lower lowest low low slow slower",
      "new newer newest news new knew",
      "low new lower newer lowest newest")
    val (vocabSize, maxLen, seedN, emIters, shrink) = (24, 4, 40, 2, 0.75)

    // ---- scalar reference: the same algorithm as straight Scala
    // folds (shared per-word lattice kernel; independent seed,
    // aggregation, M-step, prune, and loop plumbing) ----
    val wordCnt = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val wts = scala.collection.mutable.Map.empty[String, Long]
    for ((w, c) <- wordCnt; i <- 0 until w.length;
         l <- 1 to math.min(maxLen, w.length - i)) {
      val p = w.substring(i, i + l)
      wts(p) = wts.getOrElse(p, 0L) + c
    }
    val charPieces = wts.keys.filter(_.length == 1).toSet
    val quantum = BigDecimal("0.000000001") *
      BigDecimal(wordCnt.values.sum)
    def mStep(counts: Seq[(String, BigDecimal)]): Map[String, Double] = {
      val floored = counts.map { case (p, c) =>
        (p, if (c <= 0 && charPieces(p)) quantum else c) }
        .filter(_._2 > 0)
      val total = floored.map(_._2).sum
      floored.flatMap { case (p, c) =>
        val prob = (c / total).setScale(18, BigDecimal.RoundingMode.HALF_UP)
        if (prob > 0) Some(p -> math.log(prob.toDouble)) else None
      }.toMap
    }
    def eStep(model: Map[String, Double]): Seq[(String, BigDecimal)] = {
      val acc = scala.collection.mutable.Map.empty[String, BigDecimal]
      for ((w, c) <- wordCnt;
           (p, e) <- Curation.unigramExpectedCounts(w, model, maxLen))
        acc(p) = acc.getOrElse(p, BigDecimal(0)) + BigDecimal(e) * c
      val present = acc.keySet.toSet
      acc.toSeq ++ charPieces.diff(present).toSeq.sorted
        .map(p => (p, quantum))
    }
    def viterbiScore(s: String, m: Map[String, Double]): Double = {
      val n = s.length
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      best(0) = 0.0
      for (i <- 1 to n; j <- math.max(0, i - maxLen) until i)
        m.get(s.substring(j, i)).foreach { lp =>
          if (best(j) + lp > best(i)) best(i) = best(j) + lp }
      best(n)
    }
    def prune(counts: Seq[(String, BigDecimal)],
        model: Map[String, Double], target: Int) = {
      val (chars, multis) = counts.partition(p => charPieces(p._1))
      val ranked = multis.map { case (p, c) =>
        val alt = viterbiScore(p, model - p)
        val loss = if (alt == Double.NegativeInfinity) Double.MaxValue
          else c.toDouble * (model.getOrElse(p, alt) - alt)
        (p, c, loss)
      }.sortBy(t => (-t._3, t._1))
      chars ++ ranked.take(math.max(0, target - chars.size))
        .map(t => (t._1, t._2))
    }
    var counts: Seq[(String, BigDecimal)] =
      charPieces.toSeq.sorted.map(p => (p, BigDecimal(wts(p)))) ++
        wts.filter(_._1.length > 1).toSeq
          .sortBy { case (p, c) => (-c, p) }.take(seedN)
          .map { case (p, c) => (p, BigDecimal(c)) }
    var model = mStep(counts)
    var rounds = 0
    while (model.size > vocabSize &&
      model.keysIterator.exists(p => !charPieces(p)) && rounds < 64) {
      for (_ <- 1 to emIters) { counts = eStep(model); model = mStep(counts) }
      val target = math.max(vocabSize,
        math.floor(model.size * shrink).toInt)
      counts = prune(counts, model, target)
      model = mStep(counts)
      rounds += 1
    }
    for (_ <- 1 to emIters) { counts = eStep(model); model = mStep(counts) }
    val ref = counts.filter(c => model.contains(c._1)).sortBy(_._1)
      .map { case (p, c) => (p, model(p), c.toDouble) }

    // ---- the distributed operator (repartitioned input) ----
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(5)
    val got = Curation.unigramLmTrain(df, col("text"), vocabSize,
      maxLen, seedN, emIters, shrink)
      .select("piece", "log_prob", "exp_count")
      .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got === ref, "distributed train != scalar reference")
    // the planted morphology is learned as whole pieces
    val pieces = got.map(_._1).toSet
    for (p <- Seq("low", "new", "er", "est"))
      assert(pieces(p), s"morpheme $p not learned: $pieces")
    // every corpus char survives; vocab within bound
    assert(charPieces.subsetOf(pieces))
    assert(got.size <= math.max(vocabSize, charPieces.size))
    // bit-determinism across a second run
    val again = Curation.unigramLmTrain(df.repartition(3), col("text"),
      vocabSize, maxLen, seedN, emIters, shrink)
      .select("piece", "log_prob", "exp_count")
      .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
    assert(again === got)
  }

  test("X28b/c unigramLmSegment reconstructs every word; token counts face agrees; unseen words fall back to chars") {
    val train = docs(
      (1L, "low lower lowest low low slow slower"),
      (2L, "new newer newest news new knew"))
    val model = Curation.unigramLmTrain(train, col("text"),
      vocabSize = 24, maxPieceLen = 4, seedSize = 40, emIters = 2)
      .select("piece", "log_prob").as[(String, Double)].collect().toSeq
    val target = docs(
      (1L, "low lower"), (2L, "newest lowest newer"), (3L, "zqzq"))
    val out = Curation.unigramLmSegment(
      target, "doc_id", col("text"), model)
      .orderBy("doc_id")
      .select("doc_id", "n_words", "n_tokens", "tokens")
      .as[(Long, Long, Long, Seq[String])].collect()
    assert(out.map(_._2).toSeq === Seq(2L, 3L, 1L))
    for ((id, _, nTok, toks) <- out) {
      assert(nTok === toks.length)
      val want = Seq("low lower", "newest lowest newer", "zqzq")(
        id.toInt - 1).split(" ").mkString("")
      assert(toks.mkString("") === want, s"doc $id: $toks")
    }
    // 'zqzq': z/q unseen → UNK single chars
    assert(out.find(_._1 == 3L).get._4 === Seq("z", "q", "z", "q"))
    val counts = Curation.unigramLmTokenCounts(
      target, "doc_id", col("text"), model)
      .orderBy("doc_id").select("doc_id", "n_words", "n_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(counts === out.map(r => (r._1, r._2, r._3)).toSeq)
  }

  // ---- X29 learned quality classifier --------------------------------

  /** Deterministic 2-feature fixture on the 4-dp grid with a noisy
    * planted rule (y = x2 > x1, flipped every 7th row).
    */
  private def clsFixture: Seq[(Double, Double, Double)] =
    (0 until 60).map { i =>
      val x1 = (i % 10) / 10.0 + 0.0123
      val x2 = ((i * 3) % 10) / 10.0 + 0.0456
      val base = if (x2 > x1) 1.0 else 0.0
      val y = if (i % 7 == 0) 1.0 - base else base
      (x1, x2, y)
    }

  /** The operator's exact arithmetic as a scalar loop: DECIMAL(18,4)
    * features, 9-dp HALF_UP residual quantization, exact decimal
    * gradient sums, double weight updates.
    */
  private def scalarLogistic(rows: Seq[(Double, Double, Double)],
      iters: Int, lr: Double): Seq[Double] = {
    val q = rows.map { case (a, b, y) =>
      (BigDecimal(a).setScale(4, BigDecimal.RoundingMode.HALF_UP),
        BigDecimal(b).setScale(4, BigDecimal.RoundingMode.HALF_UP), y) }
    var w = Array(0.0, 0.0, 0.0)
    for (_ <- 0 until iters) {
      var g0 = BigDecimal(0); var g1 = BigDecimal(0); var g2 = BigDecimal(0)
      for ((x1, x2, y) <- q) {
        val z = (w(0) + w(1) * x1.toDouble) + w(2) * x2.toDouble
        val r = BigDecimal(1.0 / (1.0 + math.exp(-z)) - y)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        g0 += r; g1 += r * x1; g2 += r * x2
      }
      val n = q.size.toDouble
      w = Array(w(0) - lr * (g0.toDouble / n),
        w(1) - lr * (g1.toDouble / n), w(2) - lr * (g2.toDouble / n))
    }
    w.toSeq
  }

  test("X29 logisticTrain matches the scalar-reference GD loop bit-for-bit; repartition-stable") {
    import graft.operators.Curation
    val df = clsFixture.toDF("x1", "x2", "y")
    val expect = scalarLogistic(clsFixture, iters = 4, lr = 1.5)
    val got = Curation.logisticTrain(df.repartition(13),
      Seq(col("x1"), col("x2")), col("y"), iters = 4, lr = 1.5)
    assert(got === expect) // exact double equality — the whole point
    val got1 = Curation.logisticTrain(df.coalesce(1),
      Seq(col("x1"), col("x2")), col("y"), iters = 4, lr = 1.5)
    assert(got1 === expect)
  }

  test("X29b logisticTrain at p=5 matches a generalized scalar GD loop bit-for-bit") {
    import graft.operators.Curation
    // 5 features on the round-4 grid, mixed informative + noise
    val wide = (0 until 80).map { i =>
      val xs = Seq((i % 10) / 10.0 + 0.0123, ((i * 3) % 10) / 10.0 + 0.0456,
        ((i * 7) % 9) / 9.0, ((i / 4) % 5) / 5.0 + 0.02, (i % 3) / 3.0)
      val base = if (xs(1) > xs(0)) 1.0 else 0.0
      (xs, if (i % 11 == 0) 1.0 - base else base)
    }
    def scalarWide(iters: Int, lr: Double): Seq[Double] = {
      val q = wide.map { case (xs, y) =>
        (xs.map(x => BigDecimal(x).setScale(4,
          BigDecimal.RoundingMode.HALF_UP)), y) }
      val p = 5
      var w = Array.fill(p + 1)(0.0)
      for (_ <- 0 until iters) {
        val g = Array.fill(p + 1)(BigDecimal(0))
        for ((xs, y) <- q) {
          val z = xs.zipWithIndex.foldLeft(w(0)) { case (acc, (x, i)) =>
            acc + w(i + 1) * x.toDouble }
          val r = BigDecimal(1.0 / (1.0 + math.exp(-z)) - y)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP)
          g(0) += r
          for (i <- 0 until p) g(i + 1) += r * xs(i)
        }
        val n = q.size.toDouble
        w = w.zipWithIndex.map { case (wi, i) => wi - lr * (g(i).toDouble / n) }
      }
      w.toSeq
    }
    val df = wide.map { case (xs, y) => (xs(0), xs(1), xs(2), xs(3), xs(4), y) }
      .toDF("x1", "x2", "x3", "x4", "x5", "y")
    val feats = (1 to 5).map(i => col(s"x$i"))
    val got = Curation.logisticTrain(df.repartition(9), feats, col("y"),
      iters = 3, lr = 1.0)
    assert(got === scalarWide(3, 1.0))
    assert(got === Curation.logisticTrain(df.coalesce(1), feats, col("y"),
      iters = 3, lr = 1.0))
  }

  test("X29 logisticTrain learns a separable rule; logisticScore classifies it") {
    import graft.operators.Curation
    // cleanly separable: y = 1 iff x > 0.5, single feature
    val rows = (0 until 50).map(i => (i / 50.0 + 0.001, if (i >= 25) 1.0 else 0.0))
    val df = rows.toDF("x", "y")
    val w = Curation.logisticTrain(df, Seq(col("x")), col("y"),
      iters = 200, lr = 4.0)
    val scored = Curation.logisticScore(df, Seq(col("x")), w(0), Seq(w(1)))
    val acc = scored.where((col("keep") === (col("y") === 1.0)))
      .count().toDouble / rows.size
    assert(acc >= 0.96, s"accuracy $acc with weights $w")
    // direction: the feature weight must be positive, bias negative
    assert(w(1) > 0 && w(0) < 0)
  }

  test("X30 collocations: PMI/NPMI match the scalar formula on exact counts; the planted phrase ranks top") {
    import graft.operators.Curation
    // "new york" always adjacent; "of the" frequent but both words
    // common elsewhere; filler tokens dilute
    val docs = Seq(
      "i saw new york today and the city was big",
      "new york is the place of the dreams of many",
      "the history of the old new york runs deep",
      "she left new york for the coast of the bay")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = Curation.collocations(docs, col("text"), minCount = 2)
      .as[(String, String, Long, Long, Long, Double, Double)]
      .collect().map(r => ((r._1, r._2), r)).toMap
    // scalar reference from exact counts
    val toks = Seq(
      "i saw new york today and the city was big",
      "new york is the place of the dreams of many",
      "the history of the old new york runs deep",
      "she left new york for the coast of the bay")
      .map(_.split(" ").toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val n = toks.flatten.size.toDouble
    val bgs = toks.flatMap(t => t.zip(t.tail))
    val m = bgs.size.toDouble
    val bc = bgs.groupBy(identity).view.mapValues(_.size).toMap
    def expect(a: String, b: String) = {
      val pab = bc((a, b)) / m
      val pmi = math.log(pab / ((uni(a) / n) * (uni(b) / n)))
      (BigDecimal(pmi).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(pmi / -math.log(pab))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    for ((a, b) <- Seq(("new", "york"), ("of", "the"))) {
      val r = out((a, b))
      val (epmi, enpmi) = expect(a, b)
      assert(r._3 == bc((a, b)).toLong && r._4 == uni(a).toLong &&
        r._5 == uni(b).toLong, s"counts for ($a,$b)")
      assert(r._6 === epmi && r._7 === enpmi, s"pmi/npmi for ($a,$b)")
    }
    // the always-adjacent pair must outrank the incidental frequent one
    assert(out(("new", "york"))._7 > out(("of", "the"))._7)
    // minCount prunes singleton pairs
    assert(!out.contains(("city", "was")))
  }

  test("ST23 streaming collocation store: live phrase table equals the batch operator per batch; replay no-op; planted-orphan crash heal; MemoryStream e2e") {
    import graft.streaming.{StateStore, StreamingCollocations}
    val phrases = Seq("new york", "hot dog", "data lake")
    val fill = Seq("alpha", "beta", "gamma", "delta", "eps")
    val rnd = new scala.util.Random(47)
    val all = (0 until 240).map { i =>
      val p = phrases(rnd.nextInt(phrases.size))
      val w = Seq.fill(3)(fill(rnd.nextInt(fill.size))).mkString(" ")
      (i.toLong, s"$w $p ${fill(rnd.nextInt(fill.size))}")
    }
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val dir = tempDir("coll-store")
    def template = graft.operators.Curation.collocationCounts(
      df(all.take(1)), col("text"))
    def live(): Seq[(String, String, Long, Long, Long, Double, Double)] =
      StreamingCollocations.currentCollocations(
        spark, dir, minCount = 2, template)
      .as[(String, String, Long, Long, Long, Double, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    def batch(rows: Seq[(Long, String)]): Seq[(String, String, Long, Long, Long, Double, Double)] =
      graft.operators.Curation.collocations(df(rows), col("text"), 2)
        .as[(String, String, Long, Long, Long, Double, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val batches = all.grouped(80).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingCollocations.applyBatch(df(b), col("text"), dir, i.toLong)
      assert(live() === batch(all.take((i + 1) * 80)), s"batch $i")
    }
    // replay no-op + planted-orphan heal
    val before = live()
    StreamingCollocations.applyBatch(df(batches(1)), col("text"), dir, 1L)
    assert(live() === before)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "state-1"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "state-4"))
    StreamingCollocations.applyBatch(
      df(Seq((9000L, "new york new york"))), col("text"), dir, 3L)
    val versions = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("state-")).sorted.toSeq
    assert(versions === Seq("state-3", "state-4"))
    assert(live() === batch(all :+ ((9000L, "new york new york"))))
    // the planted phrases dominate the live npmi ranking
    val top = live().sortBy(-_._7).take(3).map(r => (r._1, r._2)).toSet
    assert(top === Set(("new", "york"), ("hot", "dog"), ("data", "lake")))
    // MemoryStream e2e on a fresh store
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir2 = tempDir("coll-ms")
    val ckpt = tempDir("coll-ck")
    val in = MemoryStream[(Long, String)]
    val q = StateStore.maintain(in.toDF().toDF("doc_id", "text"), ckpt)(
      StreamingCollocations.applyBatch(_, col("text"), dir2, _)).start()
    try {
      in.addData(all.take(120): _*)
      q.processAllAvailable()
      in.addData(all.drop(120): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = StreamingCollocations.currentCollocations(
      spark, dir2, 2, template)
      .as[(String, String, Long, Long, Long, Double, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got === batch(all))
  }

  test("X30 collocations: repartition-stable and empty-safe") {
    import graft.operators.Curation
    val docs = (0 until 40).map(i =>
      (i.toLong, if (i % 2 == 0) "alpha beta gamma" else "beta gamma delta"))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Curation.collocations(d, col("text"), minCount = 3)
        .orderBy(col("a"), col("b"))
        .as[(String, String, Long, Long, Long, Double, Double)]
        .collect().toSeq
    assert(run(docs.repartition(7)) === run(docs.coalesce(1)))
    val empty = Curation.collocations(
      Seq((1L, "solo")).toDF("doc_id", "text"), col("text"), 1)
    assert(empty.count() === 0) // no bigrams in a 1-token corpus
  }

  test("X29 logisticScore: null-feature rows score null, keep law holds on the rest") {
    import graft.operators.Curation
    val df = Seq((1L, Some(0.1), 0.9), (2L, None, 0.2), (3L, Some(0.8), 0.1))
      .toDF("id", "x1", "x2")
    val out = Curation.logisticScore(df,
      Seq(col("x1"), col("x2")), bias = -0.5, weights = Seq(2.0, 1.0))
      .select(col("id"), col("prob"), col("keep"))
      .as[(Long, Option[Double], Option[Boolean])].collect()
      .sortBy(_._1)
    assert(out(1)._2.isEmpty && out(1)._3.isEmpty)
    for (r <- Seq(out(0), out(2)); p <- r._2; k <- r._3)
      assert(k === (p >= 0.5) && p > 0.0 && p < 1.0)
  }
}
