package graft

import java.nio.file.{Files, Paths}
import graft.operators.{Dedup, GraphOps, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crossover measurement main: times the EXACT and LSH forms of the
  * embedding near-dup and n-gram Jaccard paths at a base SF and at an
  * N× derived corpus, emitting one JSON line (stdout, stderr,
  * ./SCALE_OUT.json). This turns the formula-predicted LSH crossover
  * claims (NorthStarQueries q_embed_neardup_lsh / q_ngram_jaccard
  * scaladocs) into measured numbers for BASELINE.md.
  *
  * The derived corpus preserves each replica's INTERNAL similarity
  * structure while decorrelating replicas — naive replication would
  * hand every doc `factor-1` identical twins and measure a dup-soaked
  * corpus no real pipeline sees:
  *  - documents: replica k suffixes every token with "~k". Token
  *    remapping is a bijection, so within-replica shingle sets,
  *    Jaccard values, and shingle frequency spectra are EXACTLY the
  *    original's; across replicas the shingle vocabularies are
  *    disjoint (no cross-replica candidates).
  *  - embeddings: replica k multiplies element-wise by a deterministic
  *    Rademacher ±1 mask m_k. Masks cancel within a replica
  *    ((m∘u)·(m∘v) = Σ m_i² u_i v_i = u·v), so norms and
  *    within-replica cosines are EXACTLY the original's; across
  *    replicas the sign pattern m_j∘m_k decorrelates even strongly
  *    clustered vectors. (A circular shift was tried first and does
  *    NOT decorrelate this corpus — the synthetic vectors are
  *    autocorrelated, shifted replicas stayed cosine-similar, and the
  *    measurement degenerated into a dup-soaked corpus with 12× the
  *    expected true pairs.)
  * So the true-positive pair count scales exactly linearly (factor ×
  * base) by construction, and the interesting quantity — how
  * candidate/verify work grows — is isolated.
  *
  * Usage: runMain graft.ScaleBench [baseDir] [factor]
  * Env: SPARK_GRAFT_CPUS (default: available processors), SPARK_GRAFT_SCALE_PASSES
  * (default 1 — the exact paths at 10× run minutes; min-of-N is
  * available when the host is noisy), SPARK_GRAFT_SCALE_PATHS
  * (substring filter on path names, e.g. "embed" to measure only the
  * embedding paths at large factors).
  */
object ScaleBench {

  def deriveDocuments(docs: DataFrame, factor: Int): DataFrame = {
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    (0 until factor).map { k =>
      docs.select(
        (col("doc_id") + lit(k * maxId)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit(s"~$k")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  /** Deterministic ±1 mask for replica k: bit i of an xorshift-mixed
    * word seeded by (k, i). No randomness source — same mask every run.
    */
  private def mask(k: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { i =>
      var x = k.toLong * 2654435761L + i.toLong * 0x9E3779B97F4A7C15L + 1L
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
      if ((x & 1L) == 0L) 1.0f else -1.0f
    }

  def deriveEmbeddings(emb: DataFrame, factor: Int, dim: Int): DataFrame = {
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    (0 until factor).map { k =>
      val m = mask(k, dim)
      val masked =
        if (k == 0) col("embedding")
        else zip_with(col("embedding"),
          array(m.map(v => lit(v)): _*),
          (a, b) => a * b)
      emb.select(
        (col("vec_id") + lit(k * maxId)).as("vec_id"),
        masked.as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }

  /** factor× events: user population replicated with offset ids, each
    * replica carrying the base table's exact per-user event streams —
    * so every per-user analytic (funnel level, sequence count,
    * retention flag) is IDENTICAL across replicas and scaled totals
    * are exactly factor× the base totals (hard-asserted below).
    */
  def deriveEvents(ev: DataFrame, factor: Int): DataFrame = {
    val maxes = ev.agg(max(col("user_id")), max(col("event_id"))).head
    val maxU = maxes.getLong(0) + 1L
    val maxE = maxes.getLong(1) + 1L
    (0 until factor).map { k =>
      ev.select(
        (col("event_id") + lit(k * maxE)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * maxU)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
  }

  /** Derive-and-cache the factor× corpus ([[IndexCache]], keyed on
    * the newest base table's mtime, so a regenerated base re-derives
    * instead of silently serving a stale corpus to the hard
    * assertions downstream). The three tables are written in order,
    * events last as the cache marker; a table whose own _SUCCESS
    * survived a crash mid-derivation is kept.
    */
  def scaledDir(spark: SparkSession, baseDir: String, factor: Int): String =
    // v2 = Rademacher-mask embedding derivation (see scaladoc)
    IndexCache.getOrBuild(s"graft-scale${factor}x-v2", baseDir,
        Seq("documents", "embeddings", "events"),
        "events.parquet/_SUCCESS") { out =>
      def stale(table: String): Boolean =
        !Files.exists(Paths.get(s"$out/$table.parquet/_SUCCESS"))
      if (stale("documents"))
        deriveDocuments(Tables.table(spark, baseDir, "documents"), factor)
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$out/documents.parquet")
      if (stale("embeddings"))
        deriveEmbeddings(Tables.table(spark, baseDir, "embeddings"), factor, dim = 64)
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      deriveEvents(Tables.table(spark, baseDir, "events"), factor)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val passes = sys.env.getOrElse("SPARK_GRAFT_SCALE_PASSES", "1").toInt.max(1)
    // the serving tier's contract floor; its probe width now DERIVES
    // from this via Similarity.servingConfigFor (the measured
    // recall-vs-probe curve), so the arm below and its assertion are
    // parameterized by one constant
    val servingTarget = 0.9
    val spark = LocalSession()

    val bigDir = scaledDir(spark, baseDir, factor)

    def emb(dir: String) = Tables.table(spark, dir, "embeddings")
    // deterministic 5% query subset — same selection rule as the
    // registered q_ann_* queries, proportional at every factor
    def annQ(dir: String) = emb(dir).filter(col("vec_id") % 20 === 0)
    // corpus sizes once, outside every timed thunk (the auto paths
    // then take them as nHint — the production calling convention)
    val embN: Map[String, Long] =
      Map(baseDir -> emb(baseDir).count(), bigDir -> emb(bigDir).count())

    // X6b decontam pair inputs: the corpus grows with the factor, the
    // benchmark stays FIXED at the replica-0 holdout slice (derived
    // replicas suffix every token, so only replica-0 corpus docs can
    // hit it) — the production regime: benchmark MBs, corpus TBs,
    // hit count constant while clean-gram volume scales
    val baseMaxDoc = Tables.table(spark, baseDir, "documents")
      .agg(max(col("doc_id"))).head.getLong(0)
    def decontamCorpus(dir: String) =
      Tables.table(spark, dir, "documents").where(col("doc_id") % 10 =!= 0)
    def decontamBench(dir: String) =
      Tables.table(spark, dir, "documents")
        .where(col("doc_id") % 10 === 0 && col("doc_id") <= baseMaxDoc)

    // J9 inputs: the selective id list, materialized through a
    // parquet boundary so the join sees an OPAQUE id set — derived
    // inline, constraint inference would clone the defining predicate
    // onto the fact side and defeat the comparison
    def bloomIds(dir: String): DataFrame =
      spark.read.parquet(IndexCache.getOrBuild(IndexCache.BloomIds, dir,
          Seq("events"), "_SUCCESS") { out =>
        Tables.table(spark, dir, "events")
          .where(pmod(col("user_id"), lit(997L)) === 0L)
          .select(col("user_id").as("uid")).distinct()
          .write.mode("overwrite").parquet(out)
      })
    // X19e: partitioned-postings index per corpus — the registry's
    // q_bm25_indexed build, shared through its cache family. Build cost
    // is paid once per corpus version and logged; the timed thunks
    // then measure the amortized retrieval path, which is the
    // operator's whole claim.
    def bm25IndexDir(dir: String): String =
      IndexCache.getOrBuild(IndexCache.Bm25Index, dir, Seq("documents"),
          "stats/_SUCCESS") { out =>
        val t0 = System.nanoTime()
        graft.operators.Retrieval.buildPostingsIndex(
          Tables.table(spark, dir, "documents"), "doc_id", col("text"), out)
        System.err.println(
          f"[scale] $dir bm25 index build: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }

    // X3e: persisted IVF index per corpus — trained codebook (iters 2,
    // auto nlist from the corpus count), a different recipe from the
    // registry's q_ann_ivf_indexed and so its own cache family; build
    // wall logged once per corpus version
    def ivfIndexDir(dir: String): String =
      IndexCache.getOrBuild(IndexCache.IvfTrainedIndex, dir,
          Seq("embeddings"), "stats/_SUCCESS") { out =>
        val t0 = System.nanoTime()
        graft.operators.Similarity.buildIvfIndex(
          Tables.table(spark, dir, "embeddings"), "vec_id", "embedding",
          out, iters = 2, nHint = embN(dir))
        System.err.println(
          f"[scale] $dir ivf index build: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }

    // the J9 regime: no broadcast at either plan or AQE re-plan time
    def withNoBroadcast[A](body: => A): A = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevA = spark.conf.getOption(
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try body
      finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        prevA match {
          case Some(v) => spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", v)
          case None => spark.conf.unset(
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
        }
      }
    }

    // half of the sf0.1 corpus's ~270k tokens, scaled with the factor
    // so the budget cut lands mid-distribution at every size
    def budgetFor(dir: String): Long =
      if (dir == baseDir) 135000L else 135000L * factor

    def pinchRows(dir: String): Long =
      if (dir == baseDir) 1000000L else 1000000L * factor

    // deterministic synthetic (score, tokens) corpus for the pinch
    // pair; budget ≈ half the total token mass (mean nt = 44.5)
    def syntheticBudget(nRows: Long): (DataFrame, Long) = {
      val d = spark.range(nRows).select(
        col("id").as("doc_id"),
        pmod(xxhash64(col("id")), lit(1000L)).as("q"),
        (lit(20L) + pmod(col("id"), lit(50L))).as("nt"))
      (d, nRows * 22L)
    }

    // the four measured paths, identical parameters to the registered
    // queries (q_embed_neardup / q_embed_neardup_lsh / exact
    // Dedup.ngramJaccard / q_ngram_jaccard's MinHash-LSH form)
    def paths(dir: String): Seq[(String, () => Long)] = Seq(
      "embed_exact" -> (() => Similarity.nearDupPairs(
        Tables.table(spark, dir, "embeddings"), "vec_id", "embedding",
        minCos = 0.45).count()),
      "embed_lsh" -> (() => Similarity.lshNearDupPairs(
        Tables.table(spark, dir, "embeddings"), "vec_id", "embedding",
        minCos = 0.45, planes = 8, dim = 64, tables = 8).count()),
      // the scale dial: planes must grow with |D| (2^planes ≳ |D|)
      // or clustered corpora pile into shared buckets and candidate
      // mass degenerates toward Σ(cluster size)² per table. 12 planes
      // × 16 tables keeps true-near-dup (cos≥0.9) recall ≈ 0.93 of
      // the 8×8 config while cutting candidate mass 8×.
      "embed_lsh12" -> (() => Similarity.lshNearDupPairs(
        Tables.table(spark, dir, "embeddings"), "vec_id", "embedding",
        minCos = 0.45, planes = 12, dim = 64, tables = 16).count()),
      // the library default: planes/tables omitted → lshConfigFor
      // sizes them from a corpus count. Must land on 8×8 at the base
      // SF and 12×16 at 30× — i.e. track the winning pinned config on
      // both sides of the measured crossover.
      "embed_lsh_auto" -> (() => Similarity.lshNearDupPairs(
        Tables.table(spark, dir, "embeddings"), "vec_id", "embedding",
        minCos = 0.45, dim = 64).count()),
      // round-10: X18 SemDeDup at scale — same minCos as the exact
      // all-pairs path above, auto √n nlist. The operator's whole
      // claim is tractability: within-cell pair mass ≈ |D|²/nlist
      // instead of |D|² (hard-asserted below at >=30x: must beat the
      // all-pairs form on the clock). Count = flagged duplicates.
      "semdedup_auto" -> (() => Similarity.semDedup(
        Tables.table(spark, dir, "embeddings"), "vec_id", "embedding",
        minCos = 0.45, nHint = embN(dir))
        .where(col("is_dup") === 1).count()),
      "ngram_exact" -> (() => Dedup.ngramJaccard(
        Tables.table(spark, dir, "documents"), "doc_id", col("text"),
        k = 2, minJ = 0.5).count()),
      "ngram_lsh" -> (() => Dedup.minhashNearDup(
        Tables.table(spark, dir, "documents"), "doc_id", col("text"),
        k = 2, bands = 8, rowsPerBand = 2, minJ = 0.5).count()),
      // round-6 additions: span dedup (count = docs losing tokens —
      // linear-by-construction since replica vocabularies are
      // disjoint) and the cluster step over the LSH pair table
      // (count = labeled nodes; rounds grow O(log diameter))
      "strip_spans" -> (() => Dedup.stripRepeatedSpans(
        Tables.table(spark, dir, "documents"), "doc_id", col("text"), w = 8)
        .where(col("n_dropped") > 0).count()),
      "cc_clusters" -> (() => GraphOps.connectedComponents(
        Dedup.minhashNearDup(Tables.table(spark, dir, "documents"),
          "doc_id", col("text"), k = 2, bands = 8, rowsPerBand = 2, minJ = 0.5),
        "id_a", "id_b").count()),
      // round-8: the ClickHouse analytics family at scale — per-user
      // replicated event streams, so the scaled answer is exactly
      // factor× the base answer per level (hard-asserted below);
      // interesting quantity: wall time tracks the ONE user-keyed
      // shuffle each operator performs
      "funnel_levels" -> (() => {
        val ev = Tables.table(spark, dir, "events")
        graft.operators.EventFunnels.windowFunnel(
          ev, "user_id", Tables.epochSeconds(col("ts")), 86400L,
          steps = Seq(col("event_type") === "view",
            col("event_type") === "click",
            col("event_type") === "purchase"))
          .where(col("level") >= 2).count()
      }),
      "sequence_counts" -> (() => {
        val ev = Tables.table(spark, dir, "events")
        graft.operators.EventFunnels.sequenceCount(
          ev, "user_id", Tables.epochSeconds(col("ts")), col("event_id"),
          conds = Seq(col("event_type") === "view",
            col("event_type") === "purchase"),
          pattern = "1.*?2")
          // coalesce: sum over zero matching users is null, not 0
          .agg(coalesce(sum(col("seq_count")), lit(0L))).head.getLong(0)
      }),
      // round-15: W4g/W8b — per-user rows, factor-exact under the
      // replicated streams (hard-asserted below); cost = the ONE
      // user-keyed exchange+sort each carries
      "counter_stats" -> (() => graft.operators.TimeSeries.counterStats(
        Tables.table(spark, dir, "events").where(col("value").isNotNull),
        Seq("user_id"),
        ord = Seq(Tables.epochSeconds(col("ts")), col("event_id")),
        ts = Tables.epochSeconds(col("ts")), value = col("value"))
        .count()),
      "sequence_events" -> (() =>
        graft.operators.EventFunnels.sequenceMatchEvents(
          Tables.table(spark, dir, "events"), "user_id",
          Tables.epochSeconds(col("ts")), 86400L,
          steps = Seq(col("event_type") === "view",
            col("event_type") === "click",
            col("event_type") === "purchase"))
          .where(col("level") >= 2).count()),
      // round-15: W4h/A33 — constant per-type output while raw volume
      // multiplies (hard-asserted below); predict_linear is the
      // window-free one-aggregate shape, gini pays the honest
      // per-key sort of raw volume (the exact-rank cost)
      "predict_linear" -> (() => graft.operators.TimeSeries.predictLinear(
        Tables.table(spark, dir, "events")
          .select(col("event_type"),
            Tables.epochSeconds(col("ts")).as("ep"), col("value")),
        Seq("event_type"), ts = col("ep"), value = col("value"),
        horizonSecs = 3600L).count()),
      "gini" -> (() => graft.operators.StatsAgg.gini(
        Tables.table(spark, dir, "events"), Seq("event_type"),
        col("value")).count()),
      // round-16: W13 — same constant-output contract as W12 (the
      // ACF table is types × lags regardless of raw volume)
      "autocorr" -> (() => {
        val day = floor(Tables.epochSeconds(col("ts")) / 86400L)
          .cast("long").as("day")
        graft.operators.TimeSeries.autocorrelation(
          Tables.table(spark, dir, "events")
            .select(col("event_type"), day)
            .groupBy(col("event_type"), col("day"))
            .agg(count(lit(1)).cast("double").as("cnt")),
          Seq("event_type"), ord = col("day"), value = col("cnt"),
          maxLag = 10).count()
      }),
      // round-16: W12 — the decomposition runs over the (type, day)
      // AGGREGATE grid, so its row count stays CONSTANT as raw volume
      // multiplies (hard-asserted below) and its cost is one pre-agg
      // of the events plus day-grid-sized work
      "series_decompose" -> (() => {
        val day = floor(Tables.epochSeconds(col("ts")) / 86400L)
          .cast("long").as("day")
        graft.operators.TimeSeries.seriesDecompose(
          Tables.table(spark, dir, "events")
            .select(col("event_type"), day)
            .groupBy(col("event_type"), col("day"))
            .agg(count(lit(1)).cast("double").as("cnt")),
          Seq("event_type"), ord = col("day"), value = col("cnt"),
          period = 7).count()
      }),
      // round-17: X13d — one position explode, every model table
      // TYPE-sized, type-keyed score joins; output = scoreable docs
      // (factor-exact on replicated documents, hard-asserted below)
      "kn_trigram" -> (() => graft.operators.Curation.kneserNeyLogProb(
        Tables.table(spark, dir, "documents"), "doc_id",
        col("text")).count()),
      // round-17: W14b — per-user collect + O(series) fold; users are
      // namespaced per replica, so output is factor-exact while each
      // group's series (hence fold depth) stays base-sized
      "holt_winters" -> (() => Tables.table(spark, dir, "events")
        .where(col("value").isNotNull)
        .select(col("user_id"), Tables.epochSeconds(col("ts")).as("ep"),
          col("event_id"), col("value"))
        .groupBy(col("user_id"))
        .agg(graft.operators.AggCombinators.holtWinters(
          col("value"), Seq(col("ep"), col("event_id")),
          alpha = 0.5, beta = 0.5, gamma = 0.5, period = 7).as("h"))
        .count()),
      // round-17: X26 — fit (one dim²-cell moment pass + driver
      // Jacobi) AND the codegen projection, both inside the thunk:
      // the honest fit+transform cost; output = corpus rows
      "pca_project" -> (() => {
        val e = Tables.table(spark, dir, "embeddings")
        val m = graft.operators.Pca.fit(e, "embedding", k = 4)
        graft.operators.Pca.project(e, "embedding", m, whiten = true)
          .count()
      }),
      // round-17b: A36 — one pooled rank window over corpus rows +
      // two aggregates; output = one row per type (constant,
      // hard-asserted). The per-type window sort is the honest cost
      "kruskal" -> (() => graft.operators.StatsAgg.kruskalWallis(
        Tables.table(spark, dir, "events")
          .where(col("user_id").isNotNull),
        Seq("event_type"), col("value"), col("user_id") % 3).count()),
      // round-17b: A37 — one partial+final power-sum aggregate;
      // output constant
      "jarque_bera" -> (() => graft.operators.StatsAgg.jarqueBera(
        Tables.table(spark, dir, "events"), Seq("event_type"),
        col("value")).count()),
      // round-17b: W16 — two bounded percentile aggs broadcast back +
      // a map-only flag; output = corpus rows (factor-exact)
      "mad_zscore" -> (() => graft.operators.TimeSeries.madZScore(
        Tables.table(spark, dir, "events")
          .select(col("event_type"), col("event_id"), col("value")),
        Seq("event_type"), tie = col("event_id"),
        value = col("value")).count()),
      // round-18: A40 — BH q-values over the per-row robust-z panel
      // (the realistic monitoring feed: every scored row is a
      // hypothesis). Cost shape under test: the madZScore feed + one
      // rank window + one tail running-min per family over
      // hypothesis-count rows; output = scored rows (factor-exact)
      "fdr_madz" -> (() => {
        val scored = graft.operators.TimeSeries.madZScore(
          Tables.table(spark, dir, "events")
            .select(col("event_type"), col("event_id"), col("value")),
          Seq("event_type"), tie = col("event_id"), value = col("value"))
        graft.operators.StatsAgg.fdrAdjust(
          scored.withColumn("p",
            graft.functions.NormalDist.twoSidedP(col("robust_z"))),
          Seq("event_type"), p = col("p"), tie = col("tie"))
          .count()
      }),
      // round-17b: W15/X27/W17 — the daily-grid trio: raw volume pays
      // one pre-aggregation, everything after runs grid-sized; output
      // = one row per type (constant, hard-asserted)
      "cusum" -> (() => {
        val day = floor(Tables.epochSeconds(col("ts")) / 86400L)
          .cast("long").as("day")
        graft.operators.TimeSeries.cusumChangepoint(
          Tables.table(spark, dir, "events")
            .select(col("event_type"), day)
            .groupBy(col("event_type"), col("day"))
            .agg(count(lit(1)).cast("double").as("cnt")),
          Seq("event_type"), ord = col("day"), value = col("cnt"))
          .count()
      }),
      "theil_sen" -> (() => {
        val day = floor(Tables.epochSeconds(col("ts")) / 86400L)
          .cast("long").as("day")
        graft.operators.TimeSeries.theilSen(
          Tables.table(spark, dir, "events")
            .select(col("event_type"), day)
            .groupBy(col("event_type"), col("day"))
            .agg(count(lit(1)).cast("double").as("cnt")),
          Seq("event_type"), ord = col("day"), value = col("cnt"))
          .count()
      }),
      "forecast_acc" -> (() => {
        val day = floor(Tables.epochSeconds(col("ts")) / 86400L)
          .cast("long").as("day")
        val daily = Tables.table(spark, dir, "events")
          .filter(col("ts").isNotNull)
          .select(col("event_type"), day)
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).cast("double").as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("day"))
        graft.operators.TimeSeries.forecastAccuracy(
          daily.withColumn("fc", lag(col("cnt"), 1).over(w)),
          Seq("event_type"), ord = col("day"), actual = col("cnt"),
          forecast = col("fc"), period = 7).count()
      }),
      // round-15: A34 — pair-grid aggregate over the embeddings;
      // output constant (labels × 21 upper-triangle pairs)
      "corr_matrix" -> (() => graft.operators.StatsAgg.corrMatrix(
        Tables.table(spark, dir, "embeddings"), Seq("label"),
        col("embedding"), dims = 6).count()),
      // round-11: X20 at scale — a constant appended line gives the
      // frequency pass a 100%-df line to find at every factor while
      // the replica-suffixed text lines stay far under the threshold;
      // count = docs that lost a line == ALL docs (factor-exact,
      // hard-asserted below). Cost shape under test: line-keyed
      // partial agg + broadcast anti join + doc-keyed reassembly, all
      // linear in the corpus
      "boilerplate" -> (() => graft.operators.Curation.dropBoilerplateLines(
        Tables.table(spark, dir, "documents")
          .withColumn("page",
            concat(col("text"), lit("\nsubscribe to our newsletter"))),
        "doc_id", col("page"), minDocFrac = 0.15)
        .where(col("n_kept") < col("n_lines")).count()),
      // round-11: X21 at scale — the write-path shuffle+sort itself;
      // the pos >= 1 filter forces the per-shard rank window (a bare
      // count would let Catalyst prune it). Linear, one exchange
      "shuffle_shard" -> (() => graft.operators.Curation.shuffleShard(
        Tables.table(spark, dir, "documents"), "doc_id", "sb",
        nShards = 64)
        .where(col("pos") >= 1L).count()),
      // round-11: J6d nearest as-of over the replicated event streams —
      // per-user histories are identical across replicas, so matches
      // are factor-exact (hard-asserted); cost = the one |L|+|R|
      // user-keyed shuffle + sort with two window frames
      "asof_near" -> (() => {
        val ev = Tables.table(spark, dir, "events")
          .withColumn("ep", Tables.epochSeconds(col("ts")))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"), col("ep").as("pep"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("cid"), col("user_id"), col("ep").as("cep"))
        graft.operators.AsOfJoin.asofJoinNearest(
          p, c, "user_id", col("pep"), col("cep"),
          col("cid"), Seq("cid", "cep"), "cep")
          .where(col("asof").isNotNull).count()
      }),
      // round-11: J5b KEYED interval overlap join — per-user view
      // windows × purchase windows; replicated user streams keep the
      // per-key pair structure identical across replicas, so the
      // overlap count is factor-exact (hard-asserted). Cost shape:
      // explode to (user, bucket) equi keys, one shuffle, in-join
      // verify — pair mass stays per-user-bounded as users multiply
      "interval_overlap" -> (() => {
        val ev = Tables.table(spark, dir, "events")
          .withColumn("ep", Tables.epochSeconds(col("ts")))
        val v = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("lid"), col("user_id").as("luser"),
            col("ep").as("ls"), (col("ep") + 7200L).as("le"))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("rid"), col("user_id").as("ruser"),
            col("ep").as("rs"), (col("ep") + 10800L).as("re"))
        graft.operators.IntervalJoin.overlapJoin(
          v, p, col("ls"), col("le"), col("rs"), col("re"),
          bucketWidth = 7200L, keys = Seq("luser" -> "ruser")).count()
      }),
      // round-12: W9 at scale — hourly OHLC bars over the replicated
      // event streams: same types and hour span at every factor, so
      // the BAR COUNT stays constant as raw volume multiplies
      // (hard-asserted below, the anomaly_zscore contract) — the
      // whole point of the one-aggregate shape: the shuffle moves
      // candidate rows per (type, bucket) per task, not events
      "ohlc_bars" -> (() => graft.operators.TimeSeries.ohlcResample(
        Tables.table(spark, dir, "events"), Seq("event_type"),
        Tables.epochSeconds(col("ts")), tie = col("event_id"),
        value = col("value"), bucketSeconds = 3600L).count()),
      // round-12: J5c at scale — event values classified into 200
      // overlapping tiers; replica values are identical, so the match
      // count is factor-exact (hard-asserted). Cost shape: map-only
      // point bucketing + one bucket-keyed equi-join against the
      // (tiny, exploded) range side
      "point_range" -> (() => {
        val tiers = spark.range(0, 200).select(col("id").as("tier"),
          (col("id") * 10 - 500).cast("double").as("lo"),
          (col("id") * 10 - 500 + 25).cast("double").as("hi"))
        graft.operators.IntervalJoin.pointInRangeJoin(
          Tables.table(spark, dir, "events")
            .select(col("event_id"), col("value")),
          col("value"), tiers, col("lo"), col("hi"),
          bucketWidth = 25.0).count()
      }),
      // round-11: W1c SCD2 history — replicated user streams ⇒ the
      // history row count (non-delete changes) is factor-exact
      // (hard-asserted); cost = ONE user-keyed window shuffle, the
      // flagship's own shape, linear in change volume
      // round-19: L4 TTL rollup at scale — fresh rows pass through,
      // expired rows collapse to (type, day) aggregates; wall tracks
      // one scan + one bounded-key partial agg (the top-10 artifact's
      // tenth family)
      "ttl_rollup" -> (() => {
        val ev = Tables.table(spark, dir, "events")
          .withColumn("ep", Tables.epochSeconds(col("ts")))
        val mx = ev.agg(max(col("ep")).as("__asof"))
        graft.operators.Ttl.rollup(
          ev.crossJoin(org.apache.spark.sql.functions.broadcast(mx)),
          Seq("event_type"), col("event_id"), col("ep"), col("value"),
          ttlSeconds = 7L * 86400, bucketSeconds = 86400L,
          asOf = col("__asof")).count()
      }),
      "scd2_history" -> (() => {
        val ev = Tables.table(spark, dir, "events")
        graft.operators.VersionedDedup.scd2History(ev, Seq("user_id"),
          version = col("event_id"),
          effectiveTs = Tables.epochSeconds(col("ts")),
          isDelete = col("event_type") === "error").count()
      }),
      // round-11: X22 DSIR — the hashed-feature point at scale: both
      // distribution tables stay ≤ 256 rows at ANY corpus size, so
      // wall tracks the two corpus scans (explode + broadcast join +
      // doc-keyed partial agg), never a growing model
      "dsir_scores" -> (() => graft.operators.Curation.dsirLogWeights(
        Tables.table(spark, dir, "documents"), "doc_id", col("text"),
        isTarget = col("doc_id") % 10 === 0, buckets = 256).count()),
      // round-11: W4c anomaly — raw volume collapses to the
      // (type, day) count table BEFORE any window: output rows are
      // CONSTANT as events multiply (hard-asserted below), the
      // aggregate-sized-window contract
      "anomaly_zscore" -> (() => {
        val daily = Tables.table(spark, dir, "events")
          .select(col("event_type"),
            floor(Tables.epochSeconds(col("ts")) / lit(86400.0))
              .cast("long").as("day_id"))
          .groupBy(col("event_type"), col("day_id"))
          .agg(count(lit(1)).as("cnt"))
        graft.operators.TimeSeries.rollingZScore(daily, Seq("event_type"),
          col("day_id"), col("cnt"), lookback = 7).count()
      }),
      // round-11: J9 bloom-pruned join pair — a ~0.1% id slice joined
      // to the full event stream with broadcast DISABLED (the regime
      // the operator exists for: a small side too big to broadcast ⇒
      // both sides shuffle). The id list is MATERIALIZED through a
      // parquet boundary: derived inline, Catalyst's constraint
      // inference would copy the defining predicate onto the fact
      // side and "plain" would silently prune too (measured — plain
      // shuffled 4.3k rows, not 24M). The plain form exchanges every
      // fact row; the pruned form kills non-members inside the scan.
      // Counts hard-asserted equal (exactness); the contract is the
      // exchange-volume cut measured in bloomJoinVolume
      "bloomjoin_plain" -> (() => withNoBroadcast {
        val ev = Tables.table(spark, dir, "events")
        val ids = bloomIds(dir)
        ev.join(ids, ev("user_id") === ids("uid")).count()
      }),
      "bloomjoin_pruned" -> (() => withNoBroadcast {
        graft.operators.BloomJoin.prunedEquiJoin(
          Tables.table(spark, dir, "events"), bloomIds(dir),
          "user_id", "uid").count()
      }),
      // round-8: X6b decontam pair — identical inputs and n; the join
      // form probes EVERY corpus gram into the broadcast hash table,
      // the bloom form drops clean grams with the map-only bitmap
      // probe first (row counts hard-asserted equal below — the bloom
      // arm's whole claim is exactness)
      // round-10: X19c retrieval join at scale — same fixed replica-0
      // benchmark slice as the decontam pair (derived replicas suffix
      // every token, so only replica-0 postings survive the broadcast
      // term filter): corpus grows with the factor, matched-postings
      // volume stays ~constant, wall should track the map-only
      // scan+explode, not the corpus-squared retrieval surface
      // corpus repartitioned to cluster width before the dense
      // expansion — the SAME fixture-shape mitigation the registered
      // q_bm25_join carries (single parquet file → single scan task
      // → the |Q|·|D| dense stage otherwise runs single-task until
      // the first exchange; a no-op cost-wise on real many-file
      // inputs). Without it the base slot measures the fixture's file
      // count, not the operator (the stale 135-161 s base rows of the
      // r11 artifacts)
      // pinned EXACT (maxDfFraction = 1.0): the base/scaled pair-count
      // parity contract needs uncapped semantics at every size
      "bm25_join" -> (() => graft.operators.Retrieval.bm25JoinTopK(
        Tables.table(spark, dir, "documents")
          .repartition(spark.sparkContext.defaultParallelism),
        "doc_id", col("text"),
        decontamBench(dir).select(col("doc_id").as("bench_id"), col("text")),
        "bench_id", col("text"), k = 5, maxDfFraction = 1.0).count()),
      // round-14: the library DEFAULT (auto df-cap, Retrieval.dfCapFor)
      // on the same inputs. Contract asserted below: at BASE (shared
      // vocabulary — the garbage-dense regime, df 0.75-0.83) the rule
      // engages and must beat the exact arm's wall; at SCALE (replica-
      // namespaced tokens — every match informative, max df fraction
      // ~3%) the rule must be INERT: pair count identical to exact.
      // That pair of checks is the quality bound made executable — the
      // cap fires exactly when what it drops is near-noise score mass
      "bm25_join_auto" -> (() => graft.operators.Retrieval.bm25JoinTopK(
        Tables.table(spark, dir, "documents")
          .repartition(spark.sparkContext.defaultParallelism),
        "doc_id", col("text"),
        decontamBench(dir).select(col("doc_id").as("bench_id"), col("text")),
        "bench_id", col("text"), k = 5).count()),
      // round-15: X19e — the same retrieval against the partitioned-
      // postings index (built once per corpus version OUTSIDE the
      // timed thunk; build walls logged separately). Pinned exact so
      // the pair count must equal bm25_join's at every factor
      // (hard-asserted below); the contract under test is the COST
      // shape — query wall tracks matched postings, not the corpus
      // re-explode the direct arms pay (the r14 21-24 s scale finding)
      "bm25_join_indexed" -> (() =>
        graft.operators.Retrieval.bm25JoinTopKIndexed(
          spark, bm25IndexDir(dir), "doc_id",
          decontamBench(dir).select(col("doc_id").as("bench_id"), col("text")),
          "bench_id", col("text"), k = 5, maxDfFraction = 1.0).count()),
      "decontam_join" -> (() => graft.operators.Curation.decontaminate(
        decontamCorpus(dir), decontamBench(dir), "doc_id", col("text"),
        n = graft.queries.CurationQueries.DecontamN).count()),
      "decontam_bloom" -> (() => graft.operators.Curation.decontaminateBloom(
        decontamCorpus(dir), decontamBench(dir), "doc_id", col("text"),
        n = graft.queries.CurationQueries.DecontamN).count()),
      // round-12: X6c graded decontam — same fixed benchmark slice;
      // hit-doc count must equal the join form's at every factor
      // (hard-asserted below) while the left join keeps every corpus
      // doc in the denominator scan
      "decontam_frac" -> (() => graft.operators.Curation.contaminationFraction(
        decontamCorpus(dir), decontamBench(dir), "doc_id", col("text"),
        n = graft.queries.CurationQueries.DecontamN)
        .where(col("n_hits") > 0).count()),
      // round-12: X24 at scale — the appended constant line is shared
      // by EVERY doc across replicas (one global keeper), each doc's
      // text line is replica-namespaced; count = docs losing a line =
      // N·factor − 1 (law hard-asserted below). Cost shape under
      // test: the 100%-df hot line must collapse in the map-side
      // combine of the line-keyed min agg, never skew the semi join
      "paragraph_dedup" -> (() => graft.operators.Curation.dedupParagraphs(
        Tables.table(spark, dir, "documents")
          .withColumn("page",
            concat(col("text"), lit("\nsubscribe to our newsletter"))),
        "doc_id", col("page"))
        .where(col("n_kept") < col("n_lines")).count()),
      // round-7 addition: the 4-stage composite curation pipeline
      // exactly as registered (scrub → repetition-filter → split →
      // pack in one Catalyst plan) — count = packed corpus rows,
      // linear by construction; the interesting quantity is whether
      // the one plan's three pruned scans and shard-scoped window
      // keep wall time tracking corpus size
      "curation_pipeline" -> (() => graft.queries.CurationQueries.defs(
        "q_curation_pipeline")(spark, dir).count()),
      // X15 both forms, half-the-corpus budget at every factor (token
      // suffixing preserves per-doc scores, so the cut stays
      // mid-distribution). The naive form is the single-partition
      // global window the operator exists to avoid; the bucketed form
      // must return the SAME row count (hard-asserted below) while
      // keeping every corpus-sized window score-partitioned
      "budget_bucketed" -> (() => graft.operators.Curation.selectByBudget(
        Tables.table(spark, dir, "documents"), "doc_id",
        score = size(array_distinct(split(col("text"), " "))),
        nTokens = size(split(col("text"), " ")),
        budgetTokens = budgetFor(dir)).count()),
      "budget_naive" -> (() => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        Tables.table(spark, dir, "documents")
          .select(col("doc_id"),
            size(array_distinct(split(col("text"), " "))).cast("long").as("score"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .where(col("cum") <= budgetFor(dir)).count()
      }),
      // X15 pinch pair: the document corpus is too small to show the
      // single-partition penalty (150k tiny rows sort in one task for
      // free, and the naive form wins on plan simplicity — recorded
      // honestly in BASELINE.md). This pair measures the effect the
      // operator exists for at ROW scale: 1M rows at base, factor×1M
      // scaled, 1000 synthetic score values. The naive form funnels
      // every row through one window task; the bucketed form keeps
      // 1000-way parallel windows after pruning
      "budget_pinch_bucketed" -> (() => {
        val (d, budget) = syntheticBudget(pinchRows(dir))
        graft.operators.Curation.selectByBudget(
          d, "doc_id", col("q"), col("nt"), budget).count()
      }),
      "budget_pinch_naive" -> (() => {
        val (d, budget) = syntheticBudget(pinchRows(dir))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("q").desc, col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        d.withColumn("cum", sum(col("nt")).over(w))
          .where(col("cum") <= budget).count()
      }),
      // round-14 X12c pair: stratified sampling with FEW strata (5
      // event types) — the window form's parallelism floor is the
      // stratum count, so 5 tasks each sort factor×(N/5) rows; the
      // bounded-aggregate form map-combines every partition to ≤ k
      // candidates and never sorts raw volume. Same winner set
      // (CurationSpec law); this pair prices the shapes.
      "sample_window" -> (() => graft.operators.Curation.stratifiedSample(
        Tables.table(spark, dir, "events"), "event_id",
        Seq("event_type"), k = 10).count()),
      "sample_bounded" -> (() =>
        graft.operators.Curation.stratifiedSampleBounded(
          Tables.table(spark, dir, "events"), "event_id",
          Seq("event_type"), k = 10).count()),
      // round-14 X2e: triangles on the LSH near-dup pair graph — the
      // pair derivation dominates (band-bounded, the X2 contract);
      // the degree-oriented wedge join itself runs over |pairs| rows.
      // Output = triangle count. NOTE: unlike Jaccard, simhash
      // signatures are NOT invariant under the replica token remap
      // (md5 bit votes change), so the scaled count is same-order,
      // not exactly factor×, by construction.
      "triangles" -> (() => {
        val pairs = Dedup.simhashNearDup(
          Tables.table(spark, dir, "documents"), "doc_id", col("text"),
          maxHamming = 12)
        graft.operators.GraphOps.triangles(pairs, "id_a", "id_b").count()
      }),
      // round-14: A27 family at scale — the score-cell collapse:
      // raw volume reaches ONE (keys, score) count shuffle; the AUC +
      // KS + Brier + PR folds run over cell-cardinality rows (decile
      // scores → ≤ 5×101 cells at EVERY factor), so wall must track
      // the single scan. Output rows constant (hard contract).
      "score_panel" -> (() => {
        val ev = Tables.table(spark, dir, "events")
          .where(col("user_id").isNotNull)
        val cells = graft.operators.StatsAgg.scoreCells(ev,
          Seq("event_type"), floor(col("value") / 10.0),
          col("user_id") % 2 === 0).cache()
        val n = graft.operators.StatsAgg.aucFromCells(cells, Seq("event_type"))
          .count() +
          graft.operators.StatsAgg.ksFromCells(cells, Seq("event_type"))
            .count() +
          graft.operators.StatsAgg.prAucFromCells(cells, Seq("event_type"))
            .count() +
          graft.operators.StatsAgg.brierFromCells(cells, Seq("event_type"))
            .count()
        cells.unpersist()
        n
      }),
      // round-14: A19 at scale — session intervals per user; user
      // population grows with the factor (offset-id replicas), so the
      // per-key window stays constant-size while key parallelism
      // multiplies: the shape that survives 100 TB. Output = users.
      "interval_union" -> (() => {
        val ev = Tables.table(spark, dir, "events")
          .withColumn("ep", Tables.epochSeconds(col("ts")))
        graft.operators.IntervalAgg.intervalLengthSum(
          ev, Seq("user_id"), col("ep"), col("ep") + 1800L).count()
      }),
      // round-14: A20c — cell-bounded association panel: the cell
      // table is ≤ 7·5·6 rows at EVERY factor, so wall must track the
      // single corpus scan (hard contract: output rows constant)
      "assoc_panel" -> (() => {
        val ep = Tables.epochSeconds(col("ts"))
        val ev = Tables.table(spark, dir, "events").select(
          pmod(floor(ep / 86400L), lit(7)).cast("long").as("dow"),
          col("event_type"),
          when(col("value").isNotNull,
            least(floor(col("value") / 200.0), lit(4.0))).cast("long")
            .as("band"))
        graft.operators.StatsAgg.association(
          ev, Seq("dow"), col("event_type"), col("band")).count()
      }),
      // round-14: A26 — the HONEST wall: 5 event types means 5 window
      // tasks each sorting factor×(N/5) rows; rankCorr's scale bound
      // is per-key series size through one task (any SQL engine's
      // window shares it). Keyed per (event_type, user bucket) the
      // same operator parallelizes; this path pins the worst case.
      "rank_corr" -> (() => graft.operators.StatsAgg.rankCorr(
        Tables.table(spark, dir, "events"), Seq("event_type"),
        x = col("value"), y = col("user_id")).count()),
      // round-14: A24b — per-user decayed series: group size constant
      // across factors (offset-id replicas), the collect-combinator
      // contract; output rows = users
      "time_decay" -> (() => {
        val ev = Tables.table(spark, dir, "events")
          .where(col("value").isNotNull)
          .select(col("user_id"),
            floor(Tables.epochSeconds(col("ts")) / 3600L).as("hr"),
            col("event_id"), col("value"))
        ev.groupBy(col("user_id"))
          .agg(graft.operators.AggCombinators.exponentialTimeDecayedSum(
            col("value"), col("hr"), Seq(col("hr"), col("event_id")), 1.0)
            .as("s"))
          .count()
      })) ++ {
      // round-8: the IVF tier measured (ivfConfigFor was the only
      // auto-scale rule with no measurement behind it). Identical
      // query set and k for all five paths; ann_ivf_auto is the sqrt
      // rule under test, the half/double pins bracket it so a losing
      // auto nlist is VISIBLE in the table rather than asserted away;
      // ann_lsh_auto is the other approximate tier for the crossover
      // row. Counts are |Q|·k for every path — recall is measured
      // separately (untimed) below.
      val (autoNl, _) = Similarity.ivfConfigFor(embN(dir))
      Seq(
        "ann_brute" -> (() => Similarity.bruteForceTopK(
          emb(dir), annQ(dir), "vec_id", "embedding", k = 10).count()),
        "ann_ivf_auto" -> (() => Similarity.ivfTopK(
          emb(dir), annQ(dir), "vec_id", "embedding", k = 10,
          nHint = embN(dir)).count()),
        "ann_ivf_half" -> (() => Similarity.ivfTopK(
          emb(dir), annQ(dir), "vec_id", "embedding", k = 10,
          nlist = math.max(16, autoNl / 2)).count()),
        "ann_ivf_double" -> (() => Similarity.ivfTopK(
          emb(dir), annQ(dir), "vec_id", "embedding", k = 10,
          nlist = autoNl * 2).count()),
        "ann_lsh_auto" -> (() => Similarity.lshTopK(
          emb(dir), annQ(dir), "vec_id", "embedding", k = 10, dim = 64,
          nHint = embN(dir)).count()),
        // round-9: the retrieval tier — Lloyd-trained centroids,
        // probe width from servingConfigFor(servingTarget), per-cell
        // prune. Timed INCLUDING its two training scans (the honest
        // one-shot cost; serving amortizes them across query batches).
        // Contract asserted below: recall@10 >= servingTarget at 30x
        // while still beating brute force.
        "ann_ivf_serving" -> (() => Similarity.ivfTopKServing(
          emb(dir), annQ(dir), "vec_id", "embedding", k = 10,
          nHint = embN(dir), targetRecall = servingTarget).count()),
        // round-15: X3e — the same retrieval against the PERSISTED
        // index (built once per corpus version outside the timed
        // thunk): no per-call training, no full-corpus assignment;
        // the cells read partition-prunes to the batch's probed
        // cells. Contracts asserted below at >= 30x: wall < the
        // serving tier's, recall >= servingTarget (same codebook —
        // trainCentroids is bit-deterministic, so recall is the
        // serving tier's by construction)
        "ann_ivf_indexed" -> (() =>
          graft.operators.Similarity.ivfTopKIndexed(
            spark, ivfIndexDir(dir), annQ(dir), "vec_id", "embedding",
            k = 10, targetRecall = servingTarget).count()))
    }

    // comma-separated alternatives, each a substring match — e.g.
    // "embed_lsh12,embed_lsh_auto" picks exactly those two paths
    val pathFilter = sys.env.get("SPARK_GRAFT_SCALE_PATHS")
    def selected(dir: String): Seq[(String, () => Long)] =
      paths(dir).filter { case (n, _) =>
        pathFilter.forall(_.split(',').exists(n.contains)) }

    // warmup at the small base: codegen/JIT compile per plan shape
    selected(baseDir).foreach { case (_, run) => run() }
    spark.catalog.clearCache()

    // X19e: build both corpora's postings indexes BEFORE the timed
    // passes (cached on disk, so the scaled pass-1 thunk finds them
    // built; build walls logged by the helper)
    if (selected(baseDir).exists(_._1 == "bm25_join_indexed")) {
      bm25IndexDir(baseDir); bm25IndexDir(bigDir)
    }
    if (selected(baseDir).exists(_._1 == "ann_ivf_indexed")) {
      ivfIndexDir(baseDir); ivfIndexDir(bigDir)
    }

    def measure(dir: String): Seq[(String, Double, Long)] =
      selected(dir).map { case (name, run) =>
        var rows = 0L
        val best = (1 to passes).map { _ =>
          // measurement hygiene: each path starts from a clean heap so
          // a memory-heavy predecessor (the all-pairs embed paths at
          // 30×+ allocate tens of GB) can't tax a later path's
          // measurement with its garbage — paths are contracts, not a
          // combined workload, and the cross-path assertion margins
          // (serving-vs-brute) were measurably order-sensitive without
          // this
          System.gc()
          val t0 = System.nanoTime()
          rows = run()
          spark.catalog.clearCache()
          (System.nanoTime() - t0) / 1e9
        }.min
        System.err.println(f"[scale] $dir $name: $best%.2fs, $rows pairs")
        (name, best, rows)
      }

    // round-16 (r15 finding #1): a single noisy window must never be
    // able to withhold the closing regression artifact. Cross-path
    // WALL assertions are thin-margin by nature (serving-IVF vs brute
    // flipped at 30× on a window whose noise was visible in untouched
    // arms), so an inversion triggers an immediate in-assertion
    // retry: both arms re-timed back-to-back min-of-2 on the same
    // window, and only a REPRODUCED inversion throws. Factor-exact
    // and recall-floor contracts stay unconditionally hard — this
    // indulgence is for walls only.
    def retime(dir: String, name: String): Option[Double] =
      selected(dir).find(_._1 == name).map { case (_, run) =>
        (1 to 2).map { _ =>
          System.gc()
          val t0 = System.nanoTime()
          run()
          spark.catalog.clearCache()
          (System.nanoTime() - t0) / 1e9
        }.min
      }
    def assertFaster(dir: String, m: Map[String, Double],
        fast: String, slow: String, label: String): Unit =
      for (f <- m.get(fast); s <- m.get(slow)) {
        System.err.println(
          f"[scale] $label: $fast $f%.2fs vs $slow $s%.2fs at ${factor}x")
        if (factor >= 30 && f >= s) {
          System.err.println(
            s"[scale] $label inverted — re-timing both arms min-of-2")
          val f2 = retime(dir, fast).getOrElse(f)
          val s2 = retime(dir, slow).getOrElse(s)
          System.err.println(
            f"[scale] $label retry: $fast $f2%.2fs vs $slow $s2%.2fs")
          if (f2 >= s2) throw new AssertionError(
            f"$label: $fast must beat $slow at ${factor}x " +
              f"(reproduced on retry): $f2%.2fs >= $s2%.2fs")
        }
      }

    // recall@k of the approximate ANN tiers vs the exact top-k —
    // measured OUTSIDE the timing loop (the timed counts are |Q|·k
    // for every path, so speed alone would reward returning garbage)
    def annRecall(dir: String): Seq[(String, Double)] =
      if (!selected(dir).exists(_._1.startsWith("ann_"))) Seq.empty
      else {
        val brute = Similarity.bruteForceTopK(
          emb(dir), annQ(dir), "vec_id", "embedding", k = 10)
          .select("query_id", "neighbor_id").cache()
        val denom = brute.count().toDouble
        def recall(df: org.apache.spark.sql.DataFrame): Double =
          math.round(df.select("query_id", "neighbor_id")
            .intersect(brute).count() / denom * 10000) / 10000.0
        val out = Seq(
          "ann_ivf_auto" -> recall(Similarity.ivfTopK(
            emb(dir), annQ(dir), "vec_id", "embedding", k = 10,
            nHint = embN(dir))),
          "ann_lsh_auto" -> recall(Similarity.lshTopK(
            emb(dir), annQ(dir), "vec_id", "embedding", k = 10, dim = 64,
            nHint = embN(dir))),
          "ann_ivf_serving" -> recall(Similarity.ivfTopKServing(
            emb(dir), annQ(dir), "vec_id", "embedding", k = 10,
            nHint = embN(dir), targetRecall = servingTarget)),
          "ann_ivf_indexed" -> recall(
            graft.operators.Similarity.ivfTopKIndexed(
              spark, ivfIndexDir(dir), annQ(dir), "vec_id", "embedding",
              k = 10, targetRecall = servingTarget)))
        out.foreach { case (n, r) =>
          System.err.println(f"[scale] $dir $n recall@10 = $r%.4f") }
        brute.unpersist()
        out
      }

    // X18 pair-mass evidence, measured OUTSIDE the timing loop: the
    // |D|²/nlist bound is about cell occupancy, so compute it from the
    // assignment alone (no within-cell pair join). Logs measured
    // Σ n_c·(n_c−1)/2 next to the even-cell prediction and the
    // all-pairs mass — the constants behind the semdedup_auto wall row.
    def semDedupMass(dir: String): Seq[(String, Double)] =
      if (!selected(dir).exists(_._1 == "semdedup_auto")) Seq.empty
      else {
        val n = embN(dir)
        val nl = Similarity.ivfConfigFor(n)._1
        val mass = Similarity.semDedupCells(
          emb(dir), "vec_id", "embedding", nHint = n)
          .groupBy(col("cell")).count()
          // coalesce: sum over zero cells is null (empty embeddings
          // dir would otherwise NPE the getDouble)
          .agg(coalesce(sum(col("count") * (col("count") - 1) / 2),
            lit(0.0))).head.getDouble(0)
        val allPairs = n.toDouble * (n - 1) / 2
        val even = allPairs / nl
        System.err.println(
          f"[scale] $dir semdedup pair mass = $mass%.0f " +
            f"(even-cell |D|^2/nlist = $even%.0f, all-pairs = $allPairs%.0f, nlist = $nl)")
        Seq("semdedup_pair_mass" -> mass,
          "semdedup_even_cell_mass" -> even,
          "semdedup_allpairs_mass" -> allPairs)
      }

    // J9 exchange-volume evidence, measured OUTSIDE the timing loop:
    // the operator's claim is shuffle ROWS, which local[32]'s
    // RAM-speed "network" hides from wall time. Sums shuffle records
    // written across the job from task metrics.
    def bloomJoinVolume(dir: String): Seq[(String, Double)] =
      if (!selected(dir).exists(_._1.startsWith("bloomjoin"))) Seq.empty
      else {
        def shuffleRows(body: => Long): Long = {
          val acc = new java.util.concurrent.atomic.AtomicLong(0L)
          val l = new org.apache.spark.scheduler.SparkListener {
            override def onTaskEnd(
                t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
              if (t.taskMetrics != null)
                acc.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
          }
          spark.sparkContext.addSparkListener(l)
          try {
            body
            // the listener bus is async: poll until the count is
            // stable across two consecutive intervals (a fixed sleep
            // under-counts when task-end events straggle under load)
            var prev = -1L
            var settle = 0
            var waited = 0L
            while (settle < 2 && waited < 30000L) {
              Thread.sleep(250L); waited += 250L
              val cur = acc.get()
              if (cur == prev) settle += 1 else { settle = 0; prev = cur }
            }
          }
          finally spark.sparkContext.removeSparkListener(l)
          acc.get()
        }
        withNoBroadcast {
          val ev = Tables.table(spark, dir, "events")
          val ids = bloomIds(dir)
          val pl = shuffleRows(
            ev.join(ids, ev("user_id") === ids("uid")).count())
          val pr = shuffleRows(graft.operators.BloomJoin.prunedEquiJoin(
            ev, ids, "user_id", "uid").count())
          System.err.println(
            s"[scale] $dir bloom join shuffle rows: plain=$pl pruned=$pr")
          Seq("bloomjoin_plain_shuffle_rows" -> pl.toDouble,
            "bloomjoin_pruned_shuffle_rows" -> pr.toDouble)
        }
      }

    // X19c/X19e: the GENUINELY DENSE scaled corpus — replicas keep the
    // original tokens (doc_id offset only), so the base fixture's
    // dense band (df fraction 0.75-0.83) survives scaling and the auto
    // df-cap must ENGAGE at scale, the arm the r14 measurement could
    // not exercise (the namespaced replicas dilute every df fraction
    // under the 0.7 threshold, so the cap was correctly inert there —
    // this fixture is the other half of the regime map).
    def denseDocsDir(): String =
      IndexCache.getOrBuild(s"graft-dense${factor}x", baseDir,
          Seq("documents"), "documents.parquet/_SUCCESS") { out =>
        val docs = Tables.table(spark, baseDir, "documents")
        val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
        (0 until factor).map(k => docs.select(
            (col("doc_id") + lit(k * maxId)).as("doc_id"),
            col("text"), col("lang"), col("source"), col("n_chars")))
          .reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$out/documents.parquet")
      }
    def bm25Dense(): Seq[(String, Double)] =
      if (!selected(baseDir).exists(_._1.startsWith("bm25_join"))) Seq.empty
      else {
        val dir = denseDocsDir()
        val docs = Tables.table(spark, dir, "documents")
          .repartition(spark.sparkContext.defaultParallelism)
        val bench = decontamBench(dir)
          .select(col("doc_id").as("bench_id"), col("text"))
        // evidence the dense regime is REAL at scale: the max df
        // fraction among query terms must sit above the 0.7 cap
        val qv = bench.select(explode(split(col("text"), " ")).as("tok"))
          .distinct()
        val nD = docs.count().toDouble
        val maxDf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .join(broadcast(qv), "tok").distinct()
          .groupBy(col("tok")).count()
          .agg(max(col("count"))).head.getLong(0) / nD
        if (maxDf <= 0.7) throw new AssertionError(
          f"dense fixture lost its dense band: max query-term df " +
            f"fraction $maxDf%.3f <= 0.7")
        def time(body: => Long): (Double, Long) = {
          System.gc()
          val t0 = System.nanoTime()
          val n = body
          spark.catalog.clearCache()
          ((System.nanoTime() - t0) / 1e9, n)
        }
        val (autoS, autoN) = time(graft.operators.Retrieval.bm25JoinTopK(
          docs, "doc_id", col("text"), bench, "bench_id", col("text"),
          k = 5).count())
        val (pinS, pinN) = time(graft.operators.Retrieval.bm25JoinTopK(
          docs, "doc_id", col("text"), bench, "bench_id", col("text"),
          k = 5, maxDfFraction = 0.7).count())
        // the auto rule must resolve to the pinned cap here (same
        // pairs) — engagement, not coincidence, is what's asserted:
        // the dense band exists (maxDf check above) and the rule caps
        // it exactly as the pinned arm does
        if (autoN != pinN) throw new AssertionError(
          s"auto df-cap diverged from the pinned 0.7 cap on the dense " +
            s"corpus: $autoN pairs != $pinN")
        // index built OUTSIDE the timed thunk (the bm25_join_indexed
        // convention): the metric is the amortized retrieval, not the
        // one-off build — which is logged separately by the helper
        val idxDir = bm25IndexDir(dir)
        val (idxS, idxN) = time(
          graft.operators.Retrieval.bm25JoinTopKIndexed(
            spark, idxDir, "doc_id", bench, "bench_id",
            col("text"), k = 5).count())
        if (idxN != autoN) throw new AssertionError(
          s"indexed auto arm diverged on the dense corpus: $idxN pairs " +
            s"!= direct $autoN")
        System.err.println(
          f"[scale] dense ${factor}x bm25: auto $autoS%.2fs/$autoN pairs, " +
            f"pinned $pinS%.2fs, indexed $idxS%.2fs (max df $maxDf%.3f)")
        Seq("bm25dense_auto_s" -> autoS,
          "bm25dense_auto_pairs" -> autoN.toDouble,
          "bm25dense_pinned_s" -> pinS,
          "bm25dense_indexed_s" -> idxS,
          "bm25dense_max_df_fraction" -> maxDf)
      }

    val baseRes = measure(baseDir)
    val baseRecall = annRecall(baseDir)
    val baseMass = semDedupMass(baseDir) ++ bloomJoinVolume(baseDir)
    val bigRes = measure(bigDir)
    val bigRecall = annRecall(bigDir)
    val bigMass = semDedupMass(bigDir) ++ bloomJoinVolume(bigDir) ++
      bm25Dense()

    // the auto config's reason to exist: past the crossover it must
    // beat the all-pairs form (a pinned 8×8 measurably does NOT at
    // 30×). Hard assertion, not a logged trend — this is the check
    // that the measured scale rule stayed wired to the default path.
    val bigMap = bigRes.map { case (n, s, _) => n -> s }.toMap
    assertFaster(bigDir, bigMap, "embed_lsh_auto", "embed_exact",
      "auto LSH vs all-pairs")
    // X18's tractability contract: clustering-bounded pair mass must
    // translate into wall time — past the crossover semDedup must beat
    // the all-pairs near-dup form on the same corpus at the same
    // threshold (it does strictly less pair work at the same assignment
    // cost shape), or the |D|^1.5 story is just arithmetic
    assertFaster(bigDir, bigMap, "semdedup_auto", "embed_exact",
      "semdedup vs all-pairs")
    // same contract for the IVF tier: the auto nlist/nProbe must beat
    // exact brute-force top-k past the crossover, at useful recall
    // (floor set just under the measured base-corpus recall — a config
    // that "wins" by probing near-empty cells fails here)
    assertFaster(bigDir, bigMap, "ann_ivf_auto", "ann_brute",
      "auto IVF vs brute top-k")
    for ((n, r) <- bigRecall if factor >= 30 && n == "ann_ivf_auto")
      if (r < 0.5) throw new AssertionError(
        f"auto IVF recall@10 collapsed at ${factor}x: $r%.4f < 0.5")
    // the serving tier's whole contract: retrieval-grade recall AND
    // still cheaper than exact brute force, both at scale — a config
    // that buys recall by scanning everything fails the time arm, one
    // that wins the clock with mining-grade recall fails the floor.
    // THE known-thin margin (the r15 flake) — retry-hardened.
    assertFaster(bigDir, bigMap, "ann_ivf_serving", "ann_brute",
      "serving IVF vs brute top-k")
    for ((n, r) <- bigRecall if factor >= 30 && n == "ann_ivf_serving")
      if (r < servingTarget) throw new AssertionError(
        f"serving IVF recall@10 below the retrieval floor at ${factor}x: " +
          f"$r%.4f < $servingTarget%.2f")
    // X3e: the persisted index must beat the per-call serving tier on
    // the clock (it skips training + the full-corpus assignment) while
    // holding the same recall floor (same codebook by determinism)
    assertFaster(bigDir, bigMap, "ann_ivf_indexed", "ann_ivf_serving",
      "indexed IVF vs serving")
    for ((n, r) <- bigRecall if factor >= 30 && n == "ann_ivf_indexed")
      if (r < servingTarget) throw new AssertionError(
        f"indexed IVF recall@10 below the retrieval floor at ${factor}x: " +
          f"$r%.4f < $servingTarget%.2f")

    // X19c auto df-cap, both arms of the quality bound: at BASE the
    // shared-vocabulary dense regime must be CUT (auto beats exact —
    // the rule engaged and removed the |Q|·|corpus| aggregate); at
    // SCALE the namespaced corpus has no above-cap term, so the rule
    // must be INERT (pair counts identical — informative matches are
    // never dropped)
    {
      val baseTime = baseRes.map { case (n, s, _) => n -> s }.toMap
      for (a <- baseTime.get("bm25_join_auto"); e <- baseTime.get("bm25_join")) {
        System.err.println(
          f"[scale] base bm25 auto-cap $a%.2fs vs exact $e%.2fs")
        if (a >= e) {
          // retry-hardened like the scaled wall contracts (this one
          // asserts at EVERY factor, so it can't ride assertFaster's
          // factor >= 30 gate)
          System.err.println(
            "[scale] base bm25 auto-cap inverted — re-timing min-of-2")
          val a2 = retime(baseDir, "bm25_join_auto").getOrElse(a)
          val e2 = retime(baseDir, "bm25_join").getOrElse(e)
          System.err.println(
            f"[scale] base bm25 retry: auto $a2%.2fs vs exact $e2%.2fs")
          if (a2 >= e2) throw new AssertionError(
            f"auto df-cap must beat exact BM25 join on the dense base " +
              f"fixture (reproduced on retry): $a2%.2fs >= $e2%.2fs")
        }
      }
      val bigCnt = bigRes.map { case (n, _, c) => n -> c }.toMap
      for (a <- bigCnt.get("bm25_join_auto"); e <- bigCnt.get("bm25_join")) {
        System.err.println(
          s"[scale] scaled bm25 auto-cap pairs=$a vs exact pairs=$e")
        if (a != e) throw new AssertionError(
          s"auto df-cap dropped informative matches at ${factor}x: " +
            s"$a pairs != exact $e")
      }
      // X19e exactness: the indexed arm is pinned exact, so its pairs
      // must equal the direct exact arm's at every factor
      val baseCnt = baseRes.map { case (n, _, c) => n -> c }.toMap
      for (m <- Seq(baseCnt, bigCnt);
           i <- m.get("bm25_join_indexed"); e <- m.get("bm25_join"))
        if (i != e) throw new AssertionError(
          s"indexed BM25 diverged from the direct join: $i pairs != $e")
      // X19e cost shape: past the crossover the amortized retrieval
      // must beat the direct arm's corpus re-explode — the r14 scale
      // finding this operator exists to close
      assertFaster(bigDir, bigMap, "bm25_join_indexed", "bm25_join",
        "indexed BM25 vs direct join")
    }

    // X15: the bucketed plan must reproduce the naive global-prefix
    // semantics exactly at every measured size
    for (res <- Seq(baseRes, bigRes)) {
      val m = res.map { case (n, _, c) => n -> c }.toMap
      for {
        pair <- Seq("budget", "budget_pinch")
        b <- m.get(s"${pair}_bucketed"); n <- m.get(s"${pair}_naive")
      } if (b != n) throw new AssertionError(
        s"$pair select: bucketed $b rows != naive $n rows")
      // X6b: the Bloom prefilter must be invisible in the result at
      // every measured size — same contaminated-doc count as the join
      for (b <- m.get("decontam_bloom"); j <- m.get("decontam_join"))
        if (b != j) throw new AssertionError(
          s"decontam: bloom $b rows != join $j rows")
      // J9: same exactness contract for the generic bloom-pruned join
      for (b <- m.get("bloomjoin_pruned"); j <- m.get("bloomjoin_plain"))
        if (b != j) throw new AssertionError(
          s"bloom join: pruned $b rows != plain $j rows")
      // X6c: the graded form flags exactly the docs the join form
      // counts (same grams, same benchmark) at every measured size
      for (f <- m.get("decontam_frac"); j <- m.get("decontam_join"))
        if (f != j) throw new AssertionError(
          s"decontam: graded $f hit docs != join $j")
    }
    // X24: one global keeper for the shared line ⇒ docs losing a line
    // = N·factor − 1 exactly (base measures N − 1)
    locally {
      val bm = baseRes.map { case (n, _, c) => n -> c }.toMap
      val sm = bigRes.map { case (n, _, c) => n -> c }.toMap
      for (b <- bm.get("paragraph_dedup"); s <- sm.get("paragraph_dedup"))
        if (s != b * factor + (factor - 1)) throw new AssertionError(
          s"paragraph_dedup: scaled $s != N*factor-1 (base $b, factor $factor)")
    }
    // J9's reason to exist is EXCHANGE VOLUME, asserted below via
    // bloomJoinVolume — on local[32] the "shuffle" is a RAM copy, so
    // wall time cannot see the cut a real cluster's network would
    // (measured: pruned wall ≈ 1.5x plain at 30x while moving 50x
    // fewer exchange rows); walls stay logged, the volume is the
    // contract
    for (pr <- bigMap.get("bloomjoin_pruned"); pl <- bigMap.get("bloomjoin_plain"))
      System.err.println(
        f"[scale] bloom join wall $pr%.2fs vs plain $pl%.2fs at ${factor}x (volume is the contract)")
    // the volume contract, hard-asserted: at scale the pruned form
    // must move at most a tenth of the plain join's exchange rows
    locally {
      val vm = bigMass.toMap
      for (pr <- vm.get("bloomjoin_pruned_shuffle_rows");
           pl <- vm.get("bloomjoin_plain_shuffle_rows")) {
        if (factor >= 30 && pr > pl / 10.0) throw new AssertionError(
          f"bloom-pruned join exchange volume not cut at ${factor}x: " +
            f"pruned $pr%.0f rows vs plain $pl%.0f rows")
      }
    }
    // W6/W8 at scale: replicated per-user streams ⇒ scaled analytics
    // are exactly factor× the base — any drift is an operator bug
    locally {
      val bm = baseRes.map { case (n, _, c) => n -> c }.toMap
      val sm = bigRes.map { case (n, _, c) => n -> c }.toMap
      // asof_near: replicated user streams; boilerplate/shuffle_shard:
      // replicated docs with per-doc-exact counts — all factor-exact
      for (p <- Seq("funnel_levels", "sequence_counts", "asof_near",
             "boilerplate", "shuffle_shard", "interval_overlap",
             "scd2_history", "point_range", "counter_stats",
             "sequence_events",
             // round-17: replicated docs / namespaced users / corpus
             // rows — all factor-exact
             "kn_trigram", "holt_winters", "pca_project",
             // round-17b: W16 scores every replicated event row
             "mad_zscore",
             // round-18: A40 — every scored row is a hypothesis, and
             // MAD degeneracy (the null-p drop) is distribution-shaped
             // so it replicates exactly
             "fdr_madz");
           b <- bm.get(p); s <- sm.get(p))
        if (s != b * factor) throw new AssertionError(
          s"$p: scaled $s != ${factor}x base $b")
      // round-15: constant-output contracts — per-type / per-(label,
      // pair) aggregates must not grow with raw volume
      for (p <- Seq("predict_linear", "gini", "corr_matrix",
             "series_decompose", "autocorr",
             // round-17b: per-type test statistics and the daily-grid
             // trio — one output row per type at every factor
             "kruskal", "jarque_bera", "cusum", "theil_sen",
             "forecast_acc");
           b <- bm.get(p); s <- sm.get(p))
        if (s != b) throw new AssertionError(
          s"$p: scaled rows $s != base rows $b — output must be " +
            "aggregate-sized, not volume-sized")
      // W4c: the anomaly window runs over the (type, day) AGGREGATE
      // table — its row count must stay CONSTANT as raw volume
      // multiplies (same types, same day span at every factor)
      for (b <- bm.get("anomaly_zscore"); s <- sm.get("anomaly_zscore"))
        if (s != b) throw new AssertionError(
          s"anomaly_zscore: scaled rows $s != base rows $b — the window " +
            "input must be aggregate-sized, not volume-sized")
      // W9: same contract — bar count is (types × buckets), constant
      // while the event volume under it multiplies
      for (b <- bm.get("ohlc_bars"); s <- sm.get("ohlc_bars"))
        if (s != b) throw new AssertionError(
          s"ohlc_bars: scaled rows $s != base rows $b — OHLC output " +
            "must be aggregate-sized, not volume-sized")
    }

    def block(res: Seq[(String, Double, Long)], rec: Seq[(String, Double)],
        mass: Seq[(String, Double)]): String =
      (res.map { case (n, s, c) => s""""${n}_s":$s,"${n}_pairs":$c""" } ++
        rec.map { case (n, r) => s""""${n}_recall":$r""" } ++
        mass.map { case (n, m) => s""""$n":$m""" }).mkString(",")
    val line =
      s"""{"metric":"lsh_crossover","factor":$factor,"passes":$passes,""" +
        s""""base":{${block(baseRes, baseRecall, baseMass)}},""" +
        s""""scaled":{${block(bigRes, bigRecall, bigMass)}},""" +
        s""""base_dir":"$baseDir","scaled_dir":"$bigDir"}"""
    println(line)
    System.err.println(line)
    Files.writeString(Paths.get("SCALE_OUT.json"), line + "\n")
    spark.stop()
  }
}
