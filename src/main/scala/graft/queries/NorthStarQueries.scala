package graft.queries

import graft.IndexCache
import graft.Tables.table
import graft.functions.TextFns
import graft.operators.{Dedup, GraphOps, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** North-star training-data-pipeline operators (SURVEY.md §2.10
  * X1-X5): dedup family, similarity search, text analysis. All hash
  * functions are md5-based (engine-portable) so every operator has a
  * real value-level DuckDB oracle — see Dedup scaladoc.
  */
object NorthStarQueries {

  private val stop = TextFns.stopwords

  /** The q_bm25_indexed postings index over `d`'s documents, built
    * once per corpus version ([[graft.IndexCache]]).
    */
  private def bm25Index(s: SparkSession, d: String): String =
    IndexCache.getOrBuild(IndexCache.Bm25Index, d, Seq("documents"),
        "stats/_SUCCESS") { out =>
      graft.operators.Retrieval.buildPostingsIndex(
        table(s, d, "documents"), "doc_id", col("text"), out)
    }

  /** The q_ann_ivf_indexed IVF index (nlist 16, md5-sampled codebook)
    * over the embeddings `e` of `d`, built once per corpus version.
    */
  private def ivfIndex(e: DataFrame, d: String): String =
    IndexCache.getOrBuild(IndexCache.IvfIndex, d, Seq("embeddings"),
        "stats/_SUCCESS") { out =>
      Similarity.buildIvfIndex(e, "vec_id", "embedding", out,
        nlist = 16, iters = 0)
    }

  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")
  private val allStopsSql = sqlList(stop.values.flatten.toSeq.distinct)

  /** The q_bpe_segment literal merge table (rank order). Every pair has
    * a != b — the oracle's fixpoint-replace replay is only equivalent to
    * the operator's single non-overlapping pass under that condition
    * (see the q_bpe_segment registration note).
    */
  private val BpeMergesLit: Seq[(String, String)] = Seq(
    ("t", "a"), ("a", "l"), ("u", "e"), ("ue", "</w>"), ("a", "s"),
    ("s", "t"), ("r", "o"), ("o", "w"), ("ow", "</w>"), ("l", "i"),
    ("n", "e"), ("ne", "</w>"), ("a", "r"), ("d", "a"), ("da", "ta"))

  private val bpeMergesValuesSql: String = BpeMergesLit.zipWithIndex
    .map { case ((a, b), i) => s"(${i + 1}, '$a', '$b')" }
    .mkString(", ")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X1: exact dedup with a deterministic winner (min doc_id per group)
    "q_dedup_exact" -> ((s, d) => {
      Dedup.exact(table(s, d, "documents"), Seq("lang", "source"), col("doc_id"))
        .select(col("lang"), col("source"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("source"))
    }),

    // X2: MinHash-LSH near-dup (4 bands × 3 rows over word bigrams,
    // verify Jaccard >= 0.8). Bigrams, not tokens: measured on this
    // corpus, token-set Jaccard puts 26% of ALL pairs above 0.8 (tiny
    // vocabulary) while bigrams cleanly separate true near-dups
    // (>=0.9) from background (<=0.17).
    "q_dedup_minhash" -> ((s, d) => {
      Dedup.minhashNearDup(table(s, d, "documents"), "doc_id", col("text"),
        k = 2, bands = 4, rowsPerBand = 3, minJ = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X2: SimHash 64-bit signature per document
    "q_dedup_simhash" -> ((s, d) => {
      Dedup.simhash(table(s, d, "documents"), "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),

    // X2: SimHash near-dup pairs (8×8 Hamming bands, distance <= 12)
    "q_simhash_pairs" -> ((s, d) => {
      Dedup.simhashNearDup(table(s, d, "documents"), "doc_id", col("text"), maxHamming = 12)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X2f: edit-distance-verified near-dup — the q_simhash_pairs
    // candidates re-verified with levenshtein under an exact-integer
    // ratio threshold (edits·100 ≤ 20·max(len)); catches character-
    // noise duplicates that shingle Jaccard dilutes
    "q_edit_neardup" -> ((s, d) => {
      graft.operators.Dedup.editDistanceNearDup(
        table(s, d, "documents"), "doc_id", col("text"),
        maxEditsPerHundred = 20)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X5b: the image/audio near-dup pair machinery value-oracled —
    // the decode stays spec-land (DuckDB has no image codec), so the
    // signature fixture is synthesized deterministically from md5
    // nibbles with PLANTED near-dup groups: 4 variants per group at
    // hamming 0/1/2/6 from the group base (variant masks are literal
    // bit flips), and the SHARED Multimodal.hammingNearDup machinery
    // (8×8 Hamming bands + exact bit_count verify, the same code path
    // q_multimodal's real aHash signatures ride) runs unchanged at
    // maxHamming 5 — each complete group contributes exactly the
    // {0-1, 0-2, 1-2} pair triangle, and the 6-bit variant stays out
    "q_image_neardup" -> ((s, d) => {
      val hx = md5(concat(lit("img"),
        floor(col("doc_id") / 4).cast("long").cast("string")))
      val s1 = conv(substring(hx, 1, 8), 16, 10).cast("long")
      val s2 = conv(substring(hx, 9, 8), 16, 10).cast("long")
      val v = pmod(col("doc_id"), lit(4))
      val mask = when(v === 0, lit(0L))
        .when(v === 1, lit(8L))
        .when(v === 2, lit(8L | (1L << 17)))
        .otherwise(lit((1L << 5) | (1L << 21) | (1L << 40) |
          (1L << 52) | (1L << 60) | (1L << 62)))
      val sig = table(s, d, "documents").select(col("doc_id"),
        shiftleft(s1, 32).bitwiseOR(s2).bitwiseXOR(mask).as("hash"))
      graft.operators.Multimodal.hammingNearDup(sig, maxHamming = 5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X2e: triangles in the near-dup pair graph — the cluster-shape
    // read (star vs clique) behind survivor-rule confidence; the
    // degree-ordered forward enumeration, emitted once per triangle
    "q_triangles" -> ((s, d) => {
      val pairs = Dedup.simhashNearDup(table(s, d, "documents"),
        "doc_id", col("text"), maxHamming = 12)
      graft.operators.GraphOps.triangles(pairs, "id_a", "id_b")
        .orderBy(col("a"), col("b"), col("c"))
    }),

    // X2e: local clustering coefficient of the same pair graph —
    // per-node triangles over wedge capacity, the star-vs-clique
    // score per document
    "q_clustering_coeff" -> ((s, d) => {
      val pairs = Dedup.simhashNearDup(table(s, d, "documents"),
        "doc_id", col("text"), maxHamming = 12)
      graft.operators.GraphOps.clusteringCoefficient(pairs, "id_a", "id_b")
        .orderBy(col("node"))
    }),

    // X2: n-gram Jaccard at minJ=0.5, registered as the scale path:
    // EXACT Jaccard verification restricted to MinHash-LSH candidate
    // pairs. Banding is matched to THIS threshold: 8 bands × 2 rows →
    // P[candidate] = 1-(1-j²)⁸ ≈ 0.90 at j=0.5, ≈ 1-3e-8 at j=0.9,
    // ≈ 0.2 for the j≤0.17 background (4×3 tuned for the minJ=0.8
    // dedup would recall only ~0.41 at j=0.5). The residual ~10%
    // at-threshold miss rate is measured, not invisible: a spec
    // compares against the exact inverted-index Dedup.ngramJaccard on
    // the real corpus. The exact form stays in the library for
    // corpora where the maxFreq cap bites — it measured 31 s (43% of
    // the whole bench) at sf0.1, quadratic-in-practice at 100×.
    "q_ngram_jaccard" -> ((s, d) => {
      Dedup.minhashNearDup(table(s, d, "documents"), "doc_id", col("text"),
        k = 2, bands = 8, rowsPerBand = 2, minJ = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X2 cluster step: connected components over the minJ=0.5 near-dup
    // pairs (near-dup similarity is not transitive — a~b~c without a~c
    // must still collapse), cluster_id = min doc_id in the component,
    // keep = the canonical survivor flag. GraphOps scaladoc has the
    // O(log diameter) pointer-jumping argument.
    "q_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.minhashNearDup(table(s, d, "documents"), "doc_id",
        col("text"), k = 2, bands = 8, rowsPerBand = 2, minJ = 0.5)
      GraphOps.connectedComponents(pairs, "id_a", "id_b")
        .select(col("node").as("doc_id"), col("comp").as("cluster_id"),
          (col("comp") === col("node")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // X2 end-to-end near-dup dedup: the corpus minus every non-minimum
    // member of each near-dup cluster — what a pretraining pipeline
    // actually feeds to the next stage. Registered over a 1/3 corpus
    // slice (doc_id % 3): the FULL MinHash+CC derivation is already
    // benchmarked end-to-end by q_dedup_clusters, and re-deriving it
    // at full width here (and in q_dedup_best / q_cluster_stats)
    // measured 21.6 s of a 72.7 s bench for near-zero marginal
    // information — the slice keeps each query a self-contained
    // pipeline (slice → pairs → CC → survivors) at a third of the
    // corpus and ~an order less pair mass, still non-degenerate at
    // every fixture SF (5/3/26 slice-pairs at sf0.001/0.01/0.1)
    "q_dedup_survivors" -> ((s, d) => {
      val docs = table(s, d, "documents").where(col("doc_id") % 3 === 0)
      val pairs = Dedup.minhashNearDup(docs, "doc_id", col("text"),
        k = 2, bands = 8, rowsPerBand = 2, minJ = 0.5)
      GraphOps.dedupByCluster(docs, "doc_id", pairs, "id_a", "id_b")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // X2b quality-weighted survivor: same sliced pipeline as
    // q_dedup_survivors, but each cluster keeps its HIGHEST-n_chars
    // member (tie → min id) — the survivor rule a production pipeline
    // wants (longest copy), vs the oracle-simple min-id rule above
    "q_dedup_best" -> ((s, d) => {
      val docs = table(s, d, "documents").where(col("doc_id") % 3 === 0)
      val pairs = Dedup.minhashNearDup(docs, "doc_id", col("text"),
        k = 2, bands = 8, rowsPerBand = 2, minJ = 0.5)
      GraphOps.dedupByClusterBest(docs, "doc_id", col("n_chars"),
        pairs, "id_a", "id_b")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // X2c dedup diagnostics: cluster-size histogram over the sliced
    // pair table — the "how much mass is duplicated" report read
    // before choosing a survivor rule (Σ (size−1)·n_clusters = docs a
    // min-survivor dedup drops)
    "q_cluster_stats" -> ((s, d) => {
      val pairs = Dedup.minhashNearDup(
        table(s, d, "documents").where(col("doc_id") % 3 === 0), "doc_id",
        col("text"), k = 2, bands = 8, rowsPerBand = 2, minJ = 0.5)
      GraphOps.clusterSizeStats(pairs, "id_a", "id_b")
        .orderBy(col("size"))
    }),

    // X2 span-level dedup: ExactSubstr (Lee et al. 2022) — verbatim
    // cross-doc 8-gram spans removed everywhere but one keeper doc,
    // each doc's unique remainder preserved (see Dedup scaladoc)
    "q_strip_spans" -> ((s, d) => {
      Dedup.stripRepeatedSpans(table(s, d, "documents"), "doc_id", col("text"), w = 8)
        .orderBy(col("doc_id"))
    }),

    // X28: unigram-LM (SentencePiece) tokenizer training over the
    // documents corpus — soft-EM over the distinct-word table with
    // loss-based pruning (Kudo 2018). EM is not SQL-expressible, so
    // this is rows-checked; the value laws (scalar-reference parity,
    // brute-force-lattice parity, Viterbi optimality) live in
    // CurationSpec
    "q_unigram_lm" -> ((s, d) => {
      graft.operators.Curation.unigramLmTrain(
        table(s, d, "documents"), col("text"),
        vocabSize = 150, maxPieceLen = 4, seedSize = 300, emIters = 1)
        .select(col("piece"), round(col("log_prob"), 6).as("log_prob"),
          round(col("exp_count"), 6).as("exp_count"), col("is_char"))
        .orderBy(col("piece"))
    }),

    // X28b under the VALUE gate (r18 verdict task #2): Viterbi
    // segmentation given a model table. Training (EM) stays spec-gated,
    // but segmentation is a DP DuckDB can replay, so this face runs the
    // REAL read path (Curation.unigramLmSegment — per-DISTINCT-word
    // Viterbi, map-side doc assembly) under a model whose derivation is
    // itself SQL-expressible: all substrings (len 1..4) of the corpus'
    // distinct words, singles unconditionally + multi-char pieces seen
    // at >=2 distinct-word positions, score = count - 1e6. The -1e6
    // per-arc penalty makes Viterbi minimize token count with frequency
    // tie-break (the MDL shape of the unigram objective), and integer
    // scores are exact in doubles, so cross-engine argmax parity is
    // bit-level, not epsilon-level. Oracle: recursive-CTE forward DP
    // carrying the best/backpointer arrays as lists + a backtrace walk
    // (the q_funnel_any precedent).
    "q_unigram_segment" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val words = docs.select(explode(filter(split(col("text"), " "),
        w => length(w) > 0)).as("w")).distinct()
      val model = words.select(explode(expr(
        """flatten(transform(sequence(1, length(w)),
             i -> transform(sequence(1, least(4, length(w) - i + 1)),
               l -> substring(w, i, l))))""")).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("cnt"))
        .where(length(col("piece")) === 1 || col("cnt") >= 2)
        // fixture pattern — don't imitate at corpus scale: this
        // collect builds the vocabulary-sized ORACLE model table; the
        // operator itself takes the model as a parameter and never
        // collects (r19 verdict nit, closed)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1).toDouble - 1e6)).toSeq
      graft.operators.Curation.unigramLmSegment(docs, "doc_id", col("text"), model)
        // flat-scalar driver contract: the token stream crosses the
        // gate as ONE space-joined string, not an array column
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          array_join(col("tokens"), " ").as("tokens"))
        .orderBy(col("doc_id"))
    }),

    // X25b under the VALUE gate: BPE segmentation given a merge table.
    // Training (iterated argmax) stays spec-gated; the segment face
    // replays a fixed 15-merge list through the REAL read path
    // (Curation.bpeSegment — per-DISTINCT-word merge fold, map-side
    // assembly). Oracle: recursive CTE replaying each merge rank to
    // FIXPOINT over the space-delimited symbol string — for a != b
    // (true of every merge here) the fixpoint equals the operator's
    // single left-to-right non-overlapping pass, because (a,b)
    // instances cannot overlap in symbol space and the merged symbol
    // 'ab' can never re-create a (a,b) adjacency.
    "q_bpe_segment" -> ((s, d) =>
      graft.operators.Curation.bpeSegment(
        table(s, d, "documents"), "doc_id", col("text"), BpeMergesLit)
        // flat-scalar driver contract, as q_unigram_segment
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          array_join(col("tokens"), " ").as("tokens"))
        .orderBy(col("doc_id"))),

    // X4 tokenizer prep: vocabulary building — top-256 tokens by
    // global frequency with deterministic rank ids (freq desc, token
    // asc tie-break). Scale: explode → partial-agg counts (map-side
    // combine, one shuffle on token), then TakeOrderedAndProject for
    // the top-k — no global sort; the final 256-row window is driver
    // -side trivia
    "q_vocab" -> ((s, d) => {
      val counts = table(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      counts.orderBy(col("freq").desc, col("token")).limit(256)
        .withColumn("token_id",
          (row_number().over(Window.orderBy(col("freq").desc, col("token"))) - 1).cast("long"))
        // explicit output order: the oracle compare is row-order
        // sensitive and the window's single-partition sort must not be
        // relied on as a plan artifact
        .orderBy(col("freq").desc, col("token"))
    }),

    // X4b: OOV rate against the corpus's own top-256 vocabulary —
    // the truncation-policy readout: what fraction of each doc's
    // token OCCURRENCES a 256-token vocab fails to cover
    "q_oov_rate" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val vocab = docs
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(256)
      graft.operators.Curation.oovRate(
        docs, "doc_id", col("text"), vocab, "token")
        .orderBy(col("doc_id"))
    }),

    // X3: brute-force cosine top-10 for a deterministic query subset
    "q_cosine_topk" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      Similarity.bruteForceTopK(
        corpus = e, queries = e.filter(col("vec_id") % 20 === 0),
        id = "vec_id", vec = "embedding", k = 10)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // X3: embedding-cosine near-dup pairs above threshold
    "q_embed_neardup" -> ((s, d) => {
      Similarity.nearDupPairs(table(s, d, "embeddings"), "vec_id", "embedding",
        minCos = 0.45)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X3/X1 scale path: LSH-blocked embedding near-dup — candidates
    // from 8 OR-amplified tables of 8 literal hyperplanes, exact
    // cosine verify; the 100 TB substitute for the all-pairs
    // q_embed_neardup. 8 planes = 256 buckets/table -> candidate mass
    // ~ T*|D|^2/2^P = |D|^2/32 (vs |D|^2 all-pairs); recall 0.94 for
    // true near-dups (cos>=0.9). This synthetic corpus has NO true
    // near-dups (max pair cosine ~0.5-0.6), so at ITS threshold-angle
    // pairs recall is ~0.2 by design — measured by spec against the
    // exact all-pairs form, and the near-dup regime is proven on
    // synthetic cos~1 pairs (fewer planes would recall more here but
    // degenerate to near-quadratic candidates: 4 planes measured
    // SLOWER than brute force at sf0.1).
    //
    // Crossover MEASURED at 10×/30× derived corpora (graft.ScaleBench,
    // BASELINE.md table): parity at 20k vectors; at 60k the scaled
    // config (12 planes × 16 tables) beats all-pairs 2.2× (29.5 s vs
    // 66.2 s) while THIS fixed 8×8 config loses (190 s) — on
    // clustered corpora 2^planes must grow with |D| or same-cluster
    // members flood shared buckets and candidate mass keeps the |D|²
    // constant. That rule is now CODE, not prose: the registration
    // leaves planes/tables at the auto default, so
    // Similarity.lshConfigFor picks 8×8 at the oracled SFs (≤ 20k
    // vectors — identical rows to the previously pinned config) and
    // 12×16 past the measured 20k crossover, with the extrapolation
    // documented in its scaladoc. The other measured precondition:
    // candidate stages must move id-only pairs — carrying vectors
    // through the bucket join/dedup measured 119 s at 20k (fixed in
    // Similarity.lshNearDupPairs).
    "q_embed_neardup_lsh" -> ((s, d) => {
      Similarity.lshNearDupPairs(table(s, d, "embeddings"), "vec_id", "embedding",
        minCos = 0.45, dim = 64)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X18 SemDeDup: clustering-bounded semantic dedup — nearest-of-16
    // sampled centroids (the md5-rank sample the IVF oracle already
    // pins, so cell assignment is engine-portable), then the near-dup
    // pair rule ONLY within a cell. nlist = 16 is pinned to match the
    // oracle's LIMIT 16 (the ivfConfigFor auto value at the oracled
    // SFs); minCos = 0.45 matches q_embed_neardup so the flag set is
    // exactly "global near-dup pairs that share a cell"
    "q_semdedup" -> ((s, d) => {
      Similarity.semDedup(table(s, d, "embeddings"), "vec_id", "embedding",
        minCos = 0.45, nlist = 16)
        .orderBy(col("vec_id"))
    }),

    // X6 semantic decontamination: corpus vectors above 0.40 cosine of
    // any benchmark (vec_id % 20 == 0) vector — catches paraphrased
    // benchmark leakage with no verbatim n-gram overlap (the
    // embedding-space complement of q_decontaminate). 0.40 sits just
    // under this synthetic corpus's max pair cosine band so the flag
    // set is non-empty at every test SF (3 docs at sf0.001, 7 at
    // sf0.01)
    "q_decon_semantic" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      Similarity.semanticContamination(
        corpus = e.filter(col("vec_id") % 20 =!= 0),
        benchmark = e.filter(col("vec_id") % 20 === 0),
        id = "vec_id", vec = "embedding", minCos = 0.40)
        .orderBy(col("vec_id"))
    }),

    // X3 scale path: LSH-bucketed ANN over 2 OR-amplified tables of 4
    // deterministic literal hyperplanes — fully oracle-able (the same
    // ±1 sign arrays are inlined into the DuckDB SQL below). The 4×2
    // pin is the oracle contract (the SQL hard-codes those planes);
    // library callers omitting planes get Similarity.lshConfigFor's
    // corpus-sized default instead
    "q_ann_lsh" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      Similarity.lshTopK(corpus = e, queries = e.filter(col("vec_id") % 20 === 0),
        id = "vec_id", vec = "embedding", k = 5, planes = 4, dim = 64, tables = 2)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // X3 scale path #2: IVF-flat ANN (md5-rank sampled centroids,
    // nProbe cells — fully oracle-able since the centroid selection
    // and cell assignment are engine-portable arithmetic; recall test
    // in DedupSimilaritySpec)
    "q_ann_ivf" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      Similarity.ivfTopK(corpus = e, queries = e.filter(col("vec_id") % 20 === 0),
        id = "vec_id", vec = "embedding", k = 5, nlist = 16, nProbe = 4)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // X3e: the persisted IVF index arm — build once per corpus
    // version (graft.IndexCache), serve from the partition-pruned
    // cells table. iters = 0 pins the md5-sampled codebook, so this
    // is q_ann_ivf's exact result through the index path (per-cell
    // prune is output-identical per the Similarity proof) and the
    // oracle is q_ann_ivf's SQL verbatim
    "q_ann_ivf_indexed" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      val idx = ivfIndex(e, d)
      Similarity.ivfTopKIndexed(s, idx,
        queries = e.filter(col("vec_id") % 20 === 0),
        id = "vec_id", vec = "embedding", k = 5, nProbe = 4)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // X3h: metadata-filtered ANN over the persisted IVF index (r18
    // verdict task #4) — predicate ∧ top-k, the read every production
    // vector store serves: the index is built WITH the label attr
    // colocated in the cells segment, the pre-filter pushes into the
    // same parquet scan as the partition prune, and top-k ranks
    // filtered candidates only (no post-filter candMult gamble).
    // Sampled-centroid codebook (iters = 0) keeps the whole path
    // value-oracle-able like q_ann_ivf_indexed.
    "q_ann_filtered" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      val idx = IndexCache.getOrBuild(IndexCache.IvfFilteredIndex, d,
          Seq("embeddings"), "stats/_SUCCESS") { out =>
        Similarity.buildIvfIndex(e, "vec_id", "embedding", out,
          nlist = 16, iters = 0, attrs = Seq("label"))
      }
      Similarity.ivfTopKFilteredIndexed(s, idx,
        queries = e.filter(col("vec_id") % 20 === 0),
        id = "vec_id", vec = "embedding", k = 5,
        pred = col("label") % 3 === 0, nProbe = 4)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // X3f: the PQ-compressed arm of the SAME probe (md5 coarse
    // codebook, 4 probed cells), exact re-rank on top — candMult is
    // sized to the corpus (candK ≥ |corpus| ≥ probed population), so
    // the gate runs the arm in its exhaustive-candidate regime at ANY
    // SF: candidates = the whole probed set, the re-rank is the flat
    // scoring, and the output is q_ann_ivf's verbatim. The gate thus
    // proves the compressed scan/re-rank PLUMBING is exact; PQ's
    // actual FILTERING quality (candMult ≪ probed) is a recall
    // contract — measured at 30× in ScaleBench and pinned on a
    // clustered fixture in the spec. This synthetic corpus's
    // near-flat cosine spectrum (top-5 gaps ~0.003) is the
    // approximation's worst case, which is exactly why the value gate
    // must not depend on it
    "q_ann_ivf_pq" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      val idx = IndexCache.getOrBuild(IndexCache.IvfPqIndex, d,
          Seq("embeddings"), "stats/_SUCCESS") { out =>
        Similarity.buildIvfPqIndex(e, "vec_id", "embedding", out,
          nlist = 16, iters = 0, m = 8, ks = 16)
      }
      val n = e.count()
      Similarity.ivfPqTopK(s, idx,
        queries = e.filter(col("vec_id") % 20 === 0),
        id = "vec_id", vec = "embedding", k = 5, nProbe = 4,
        candMult = (n / 5L + 1L).toInt)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // X3g: the cost-based tier chooser's dispatch face. At every test
    // SF the decision is the interesting part of the gate: |Q| = |D|/20
    // sits far under the measured indexed crossover (saved dots/row
    // << K_INDEXED), so the chooser MUST pick brute — the value oracle
    // is the exact brute-force SQL, and a wrong tier pick at this
    // regime surfaces as a value/hash mismatch (the IVF tiers probe
    // subsets) or a perf regression, not silence
    "q_ann_auto" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      Similarity.annTopKAuto(e, queries = e.filter(col("vec_id") % 20 === 0),
        id = "vec_id", vec = "embedding", k = 10)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // X26: PCA whitening of the embedding table — fit (one
    // DECIMAL-exact moment pass + driver Jacobi) then the codegen'd
    // projection; not SQL-expressible (the eigendecomposition), so
    // this rides the driver's rows-only check — the value laws live
    // in PcaSpec (planted axes, orthonormality, scalar bit parity,
    // unit whitened variance, bit-determinism). Output is k scalar
    // DOUBLE columns (pca_0..pca_3), never array<double>: the
    // driver's rows-only checker sorts frames in pandas, which can't
    // hash ndarray cells (round-17 err).
    "q_pca_project" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      val m = graft.operators.Pca.fit(e, "embedding", k = 4)
      graft.operators.Pca.project(e, "embedding", m, whiten = true)
        .select(col("vec_id") +: (0 until 4).map(i =>
          round(col("pca").getItem(i), 6).as(s"pca_$i")): _*)
        .orderBy(col("vec_id"))
    }),

    // F20: URL scalar family — protocol/host/path/query/TLD via ONE
    // shared regex table on both engines; the fields domain-level
    // dedup quotas and source-mixing weights key on. The fixture URL
    // is synthesized from document columns with the identical
    // expression on both sides
    "q_url_parse" -> ((s, d) => {
      import graft.functions.UrlFns
      val url = concat(
        lit("http"),
        when(pmod(col("doc_id"), lit(5L)) === 0, lit("")).otherwise(lit("s")),
        lit("://"), col("lang"),
        pmod(col("doc_id"), lit(97L)).cast("string"),
        lit(".example."),
        when(pmod(col("doc_id"), lit(3L)) === 0, lit("com"))
          .when(pmod(col("doc_id"), lit(3L)) === 1, lit("org"))
          .otherwise(lit("net")),
        lit("/docs/"), col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(4L)) === 0,
          concat(lit("?ref="), pmod(col("doc_id"), lit(7L)).cast("string")))
          .otherwise(lit("")))
      table(s, d, "documents")
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          UrlFns.extract(col("url"), "protocol").as("protocol"),
          UrlFns.extract(col("url"), "host").as("host"),
          UrlFns.extract(col("url"), "path").as("path"),
          UrlFns.extract(col("url"), "query").as("query"),
          UrlFns.extract(col("url"), "tld").as("tld"))
        .orderBy(col("doc_id"))
    }),

    // X4: language-ID heuristic (stopword argmax)
    "q_langid" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"), col("lang"), TextFns.langId(col("text")).as("predicted"))
        .orderBy(col("doc_id"))
    }),

    // X4: quality scoring (scan widened before the regex-heavy metric
    // projection — r21, ScanWidth)
    "q_text_quality" -> ((s, d) => {
      val m = TextFns.qualityMetrics(col("text"))
      graft.operators.ScanWidth.ensure(table(s, d, "documents"))
        .select(col("doc_id") +: m.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // X29: learned quality classifier — TRAIN face. Full-batch
    // logistic GD over the X4 round-4 feature grid with 9-dp-quantized
    // gradient residuals: every step an exact DECIMAL sum, so the
    // 3-iteration weight trajectory is engine-deterministic and the
    // oracle replays it as three UNROLLED aggregate stages — the
    // registry's first trained model under the DuckDB VALUE gate
    "q_classifier_train" -> ((s, d) => {
      val m = TextFns.qualityMetrics(col("text")).toMap
      // scan widened BEFORE the metric projection (r22, the
      // q_text_quality pattern): widening inside logisticTrain is too
      // late — the exchange would sit above the already-planned
      // regex-heavy extraction, leaving it in the scan's single task
      // on a one-file fixture corpus
      val docs = graft.operators.ScanWidth.ensure(table(s, d, "documents"))
        .where(length(col("text")) > 0)
        .select(m("punct_ratio").as("x_punct"),
          m("stopword_ratio").as("x_stop"),
          (m("quality_score") >= 0.5).cast("double").as("y"))
      // n rides the gradient aggregate (r21): the separate corpus
      // count pass is gone; the value is the same COUNT(*) the
      // oracle's g-stages compute
      val (n, w) = graft.operators.Curation.logisticTrainWithCount(
        docs, Seq(col("x_punct"), col("x_stop")), col("y"),
        iters = 3, lr = 1.0)
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      Seq((n, r6(w(0)), r6(w(1)), r6(w(2))))
        .toDF("n", "bias", "w_punct", "w_stop")
    }),

    // X29b: the WIDE production feature set — the same 3-iteration
    // full-batch GD over FIVE quality metrics (punct/stopword ratios,
    // mean token length, capped token count, distinct-token ratio),
    // every feature on an exact round-4/3-dp grid so each gradient
    // component stays an exact DECIMAL sum; the oracle's stages are
    // GENERATED for arbitrary p, so widening the model never costs
    // hand-unrolling again
    "q_classifier_train_wide" -> ((s, d) => {
      val m = TextFns.qualityMetrics(col("text")).toMap
      val toks = split(col("text"), " ")
      // scan widened before the metric projection — see q_classifier_train
      val docs = graft.operators.ScanWidth.ensure(table(s, d, "documents"))
        .where(length(col("text")) > 0)
        .select(m("punct_ratio").as("x_punct"),
          m("stopword_ratio").as("x_stop"),
          m("mean_token_len").as("x_mlen"),
          (least(m("n_tokens"), lit(500L)).cast("double") / lit(500.0))
            .as("x_ntok"),
          round(size(array_distinct(toks)).cast("double") /
            size(toks).cast("double"), 4).as("x_dratio"),
          (m("quality_score") >= 0.5).cast("double").as("y"))
      // n rides the gradient aggregate (r21) — see q_classifier_train
      val (n, w) = graft.operators.Curation.logisticTrainWithCount(
        docs, Seq(col("x_punct"), col("x_stop"), col("x_mlen"),
          col("x_ntok"), col("x_dratio")), col("y"),
        iters = 3, lr = 1.0)
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      Seq((n, r6(w(0)), r6(w(1)), r6(w(2)), r6(w(3)), r6(w(4)), r6(w(5))))
        .toDF("n", "bias", "w_punct", "w_stop", "w_mlen", "w_ntok",
          "w_dratio")
    }),

    // X29: learned quality classifier — SCORE face (ship a model,
    // score the corpus): pure codegen sigmoid tree over the same
    // feature grid, keep-decision on the unrounded probability
    "q_classifier_score" -> ((s, d) => {
      val m = TextFns.qualityMetrics(col("text")).toMap
      val docs = table(s, d, "documents")
        .where(length(col("text")) > 0)
        .select(col("doc_id"), m("punct_ratio").as("pr"),
          m("stopword_ratio").as("sr"))
      graft.operators.Curation.logisticScore(
        docs, Seq(col("pr"), col("sr")),
        bias = -1.2, weights = Seq(-6.0, 5.0))
        .select(col("doc_id"), col("logit"), col("prob"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // X30: collocation mining — adjacent-bigram PMI/NPMI (the
    // word2vec-phrases statistic) from exact integer counts through
    // one fixed log tree; minCount prunes the pair table before the
    // vocabulary joins
    "q_collocations" -> ((s, d) => {
      graft.operators.Curation.collocations(
        table(s, d, "documents"), col("text"), minCount = 5)
        .orderBy(col("npmi").desc_nulls_last, col("a"), col("b"))
    }),

    // X4: token counting (whitespace + BPE-ish regex)
    "q_token_stats" -> ((s, d) => {
      val toks = split(col("text"), " ")
      table(s, d, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_ws"),
          TextFns.bpeIshCount(col("text")).as("n_bpe"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        .orderBy(col("doc_id"))
    }),

    // X4: order-sensitive rolling-hash fingerprint (native codegen
    // expression). Java's wrapping 64-bit arithmetic IS oracle-able:
    // DuckDB folds in HUGEINT mod 2^64 and converts to two's
    // complement at the end — also cross-checked against the
    // reference loop in DedupSimilaritySpec.
    "q_rolling_fp" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.StringRollingHash.rollingHash(col("text")).as("fp64"))
        .orderBy(col("doc_id"))
    }),

    // X4: content fingerprint + duplicate-group size
    "q_fingerprint" -> ((s, d) => {
      val w = Window.partitionBy(col("fp"))
      table(s, d, "documents")
        .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
        .withColumn("group_size", count(lit(1)).over(w))
        .orderBy(col("doc_id"))
    }),

    // X4: TF-IDF top-5 terms per document (corpus-level df)
    "q_tfidf" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      val nTok = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      val dfreq = toks.distinct().groupBy(col("tok")).agg(count(lit(1)).as("dfc"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val idf = log((col("n_docs") + 1).cast("double") / (col("dfc") + 1).cast("double")) + 1.0
      val scored = tf.join(nTok, "doc_id").join(dfreq, "tok").crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          round((col("cnt").cast("double") / col("n_tok").cast("double")) * idf, 6))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok").asc)
      scored.filter(col("doc_id") < 50)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("tok"), col("tfidf"), col("rnk"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // X19: BM25 lexical retrieval — rare term ("dup", df≈6% of docs)
    // plus two common terms, top-25. The lexical complement of the
    // q_ann_* embedding tier; the corpus scan filters to the query's
    // terms before any shuffle (see Retrieval scaladoc for the 100 TB
    // shape)
    "q_bm25" -> ((s, d) => {
      graft.operators.Retrieval.bm25TopK(
        table(s, d, "documents"), "doc_id", col("text"),
        terms = Seq("dup", "vector", "spark"), k = 25)
    }),

    // X19c: BM25 retrieval JOIN — every ~97th doc acts as a benchmark
    // query against the whole corpus, top-5 retrieved per query (the
    // retrieval-rank face of decontamination: each query's rank-1 hit
    // is itself, the rest are its lexical near-neighbors)
    "q_bm25_join" -> ((s, d) => {
      // repartition to cluster width BEFORE the dense expansion: the
      // fixture corpus is ONE small parquet file (one row group → one
      // scan task), and on this fully-shared vocabulary the |Q|·|D|
      // explode+join+partial-agg otherwise runs single-task until
      // the first exchange. One cheap corpus-sized exchange buys
      // full parallelism for the dense stage — measured ~2x (7.9 s →
      // 3.7-4.4 s) at sf0.1; a no-op cost-wise on real many-file
      // inputs. defaultParallelism, not a literal, so the same code
      // sizes itself to a real cluster. The MinHash family does NOT
      // get this treatment: measured, its band-key exchange follows
      // the explode so soon that the extra corpus exchange costs more
      // than it buys
      val docs = table(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val bench = docs.where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      // maxDfFraction pinned to 1.0 (exact): this is the UNCAPPED
      // oracle arm — the library default is the auto df-cap rule
      // (Retrieval.dfCapFor), which above 1000 docs would cap this
      // fixture's dense band and diverge from the uncapped SQL oracle
      graft.operators.Retrieval.bm25JoinTopK(
        corpus = docs, corpusId = "doc_id", corpusText = col("text"),
        queries = bench, queryId = "bench_id", queryText = col("text"),
        k = 5, maxDfFraction = 1.0)
        .orderBy(col("bench_id"), col("rnk"))
    }),

    // X19d: the df-cap arm as a first-class value-checked query — the
    // production-bounded form of q_bm25_join, same protocol as the
    // measured Bm25CapBench run (8.2 s → ~1 s at sf0.1): cap 0.7
    // drops ALL of this fixture's dense band (df 0.75–0.83) before
    // the postings join, and the query slice adds the rare-term
    // ('dup', df 5%) docs to the %97 slice so the capped arm scores
    // real matches at every SF — queries whose terms are all capped
    // vanish per the operator contract
    "q_bm25_join_capped" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val bench = docs
        .where(col("doc_id") % 97 === 0 ||
          array_contains(split(col("text"), " "), "dup"))
        .select(col("doc_id").as("bench_id"), col("text"))
      graft.operators.Retrieval.bm25JoinTopK(
        corpus = docs, corpusId = "doc_id", corpusText = col("text"),
        queries = bench, queryId = "bench_id", queryText = col("text"),
        k = 5, maxDfFraction = 0.7)
        .orderBy(col("bench_id"), col("rnk"))
    }),

    // X19e: the partitioned-postings index arm — build once per
    // corpus version (graft.IndexCache), then retrieve with the SAME
    // %97 bench slice and exact scoring as q_bm25_join.
    // Semantics-preserving by construction (identical
    // score trees over identical matched postings), so the oracle is
    // q_bm25_join's SQL verbatim — the value gate proves the index
    // path changes the COST shape, not the answer
    "q_bm25_indexed" -> ((s, d) => {
      val idx = bm25Index(s, d)
      val bench = table(s, d, "documents")
        .where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      graft.operators.Retrieval.bm25JoinTopKIndexed(
        s, idx, "doc_id", bench, "bench_id", col("text"),
        k = 5, maxDfFraction = 1.0)
        .orderBy(col("bench_id"), col("rnk"))
    }),

    // X19b: hybrid retrieval — BM25 top-50 (lexical) fused with the
    // cosine top-50 for one query vector (semantic) by reciprocal-rank
    // fusion; only ranks cross the fusion boundary, so the two score
    // scales never need calibration. Shared id universe: the fixture's
    // doc_id/vec_id ranges overlap, the hybrid-mining join key
    "q_hybrid_rrf" -> ((s, d) => {
      val lex = graft.operators.Retrieval.bm25TopK(
        table(s, d, "documents"), "doc_id", col("text"),
        terms = Seq("dup", "vector", "spark"), k = 50)
        .select(col("doc_id").as("id"), col("score"))
      val emb = table(s, d, "embeddings")
      val sem = Similarity.bruteForceTopK(
        corpus = emb, queries = emb.where(col("vec_id") === 0),
        id = "vec_id", vec = "embedding", k = 50)
        .select(col("neighbor_id").as("id"), col("cosine").as("score"))
      graft.operators.Retrieval.rrfFuse(Seq(lex, sem), "id", "score", k = 25)
    }),

    // X19f: hybrid retrieval over BOTH persisted indexes — the
    // production read a serving deployment actually runs: the %97
    // query slice retrieves top-50 lexically from the q_bm25_indexed
    // postings index and top-50 semantically from the
    // q_ann_ivf_indexed IVF index (shared doc_id/vec_id universe),
    // fused PER QUERY by reciprocal-rank fusion. Both index builds
    // ride the same mtime-keyed caches as their single-arm queries,
    // so the per-run cost is two pruned index reads + a k-bounded
    // fusion
    "q_hybrid_indexed" -> ((s, d) => {
      val bmIdx = bm25Index(s, d)
      val e = table(s, d, "embeddings")
      val ivfIdx = ivfIndex(e, d)
      val bench = table(s, d, "documents")
        .where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      val lex = graft.operators.Retrieval.bm25JoinTopKIndexed(
        s, bmIdx, "doc_id", bench, "bench_id", col("text"),
        k = 50, maxDfFraction = 1.0)
        .select(col("bench_id").as("query_id"), col("doc_id").as("id"),
          col("score"))
      val sem = Similarity.ivfTopKIndexed(s, ivfIdx,
        queries = e.filter(col("vec_id") % 97 === 0),
        id = "vec_id", vec = "embedding", k = 50, nProbe = 4)
        .select(col("query_id"), col("neighbor_id").as("id"),
          col("cosine").as("score"))
      graft.operators.Retrieval.rrfFusePerQuery(
        Seq(lex, sem), "query_id", "id", "score", k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }))

  /** Embeddings cast to double lists — the opening CTE every vector
    * oracle shares (the double cast mirrors FloatDotProduct's
    * float→double promotion, so both engines sum identical doubles).
    */
  private val embedCte =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)"""

  /** Exact-cosine scoring over candidate pairs: expects a CTE `pr`
    * with (query_id, neighbor_id, qv, cv); yields `cs` with the
    * rounded cosine. Sequential list_reduce == FloatDotProduct's
    * index-order double accumulation, bit-identical.
    */
  private val scoreTail =
    """sc AS (SELECT query_id, neighbor_id,
           list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1),
             i -> qv[CAST(i AS INT)] * cv[CAST(i AS INT)])), (x, y) -> x + y) AS dp,
           sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1),
             i -> qv[CAST(i AS INT)] * qv[CAST(i AS INT)])), (x, y) -> x + y)) AS na,
           sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cv)+1),
             i -> cv[CAST(i AS INT)] * cv[CAST(i AS INT)])), (x, y) -> x + y)) AS nb
         FROM pr),
       cs AS (SELECT query_id, neighbor_id,
           round(CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END, 6) AS cosine
         FROM sc)
    """

  /** Per-query top-k rank over `cs` — the closing clause every ANN
    * oracle shares.
    */
  private def topKTail(k: Int): String =
    s""", r AS (SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rnk
         FROM cs)
         SELECT query_id, neighbor_id, cosine, rnk FROM r
         WHERE rnk <= $k ORDER BY query_id, rnk"""

  private val simhashPairsCte =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         toks AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)),
             i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]))) AS tok
           FROM tk WHERE len(t) >= 2),
         h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
         b AS (SELECT doc_id, hx, unnest(range(0, 64)) AS j FROM h),
         v AS (SELECT doc_id, j,
             CASE WHEN CAST(floor((strpos('0123456789abcdef',
                 substr(hx, CAST(j // 4 AS INT) + 1, 1)) - 1)
               / power(2, 3 - (j % 4))) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END AS vote
           FROM b),
         bits AS (SELECT doc_id, j, CASE WHEN SUM(vote) > 0 THEN '1' ELSE '0' END AS bitc
           FROM v GROUP BY doc_id, j),
         sig AS (SELECT doc_id, string_agg(bitc, '' ORDER BY j) AS simhash
           FROM bits GROUP BY doc_id),
         bands AS (SELECT doc_id, simhash, bb AS band, substr(simhash, bb * 8 + 1, 8) AS bsig
           FROM sig CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) t(bb)),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sig_a,
             b2.doc_id AS id_b, b2.simhash AS sig_b
           FROM bands a JOIN bands b2 ON a.band = b2.band AND a.bsig = b2.bsig
             AND a.doc_id < b2.doc_id),
         pairs AS (SELECT id_a, id_b, hamming FROM (
           SELECT id_a, id_b,
             CAST(len(list_filter(range(1, 65),
               i -> substr(sig_a, CAST(i AS INT), 1) <> substr(sig_b, CAST(i AS INT), 1))) AS BIGINT) AS hamming
           FROM cand)
         WHERE hamming <= 12)"""

  private val cosineSql = embedCte +
    """,
       pr AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS qv, c.v AS cv
           FROM e q JOIN e c ON q.vec_id % 20 = 0 AND c.vec_id <> q.vec_id),
    """ + scoreTail

  /** X6 semantic decontamination: corpus (vec_id % 20 != 0) scored
    * against every benchmark (% 20 == 0) vector; hits at >= 0.40.
    */
  private val deconSemanticSql = embedCte +
    """,
       pr AS (SELECT c.vec_id AS query_id, b.vec_id AS neighbor_id, c.v AS qv, b.v AS cv
           FROM e c JOIN e b ON b.vec_id % 20 = 0 AND c.vec_id % 20 <> 0),
    """ + scoreTail + """
       SELECT query_id AS vec_id, CAST(count(*) AS BIGINT) AS n_hits,
         max(cosine) AS max_cos
       FROM cs WHERE cosine >= 0.40 GROUP BY query_id ORDER BY vec_id"""

  /** DuckDB text of VectorFns.lshBucket(v, table, planes, dim): the
    * SAME literal ±1 hyperplane arrays (computed here driver-side from
    * planeSigns and inlined), the same sequential-double projection,
    * the same '1'/'0' concatenation — bucket strings are bit-identical
    * across engines, which is the whole point of literal hyperplanes.
    */
  private def lshBucketSql(v: String, table: Int, planes: Int, dim: Int): String = {
    val bits = (0 until planes).map { p =>
      val signs = graft.functions.VectorFns.planeSigns(table, p, dim)
        .map(s => if (s > 0f) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"""CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}),
           i -> $v[CAST(i AS INT)] * ($signs)[CAST(i AS INT)])), (x, y) -> x + y) >= 0
           THEN '1' ELSE '0' END"""
    }
    bits.mkString("concat(", ",\n         ", ")")
  }

  /** q_ann_lsh oracle: 2 OR-amplified tables × 4 literal hyperplanes,
    * candidates = same (table, bucket), then exact cosine top-5 —
    * the identical candidates-then-verify pipeline as Similarity.lshTopK.
    */
  private val annLshSql = embedCte +
    s""",
       b AS (
         SELECT vec_id, v, 0 AS t, ${lshBucketSql("v", 0, 4, 64)} AS blk FROM e
         UNION ALL
         SELECT vec_id, v, 1 AS t, ${lshBucketSql("v", 1, 4, 64)} AS blk FROM e),
       pr AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           q.v AS qv, c.v AS cv
         FROM b q JOIN b c ON q.t = c.t AND q.blk = c.blk
           AND q.vec_id % 20 = 0 AND c.vec_id <> q.vec_id),
    """ + scoreTail + topKTail(5)

  /** q_embed_neardup_lsh oracle: the identical candidates-then-verify
    * pipeline — 8 tables × 8 literal hyperplanes, same-bucket pairs,
    * exact cosine >= 0.45.
    */
  private val embedLshPairsSql = {
    val bandUnion = (0 until 8).map { t =>
      if (t == 0)
        s"SELECT vec_id, v, 0 AS t, ${lshBucketSql("v", 0, 8, 64)} AS blk FROM e"
      else
        s"SELECT vec_id, v, $t, ${lshBucketSql("v", t, 8, 64)} FROM e"
    }.mkString("\n         UNION ALL\n         ")
    embedCte + s""",
       b AS (
         $bandUnion),
       pr AS (SELECT DISTINCT a.vec_id AS query_id, b2.vec_id AS neighbor_id,
           a.v AS qv, b2.v AS cv
         FROM b a JOIN b b2 ON a.t = b2.t AND a.blk = b2.blk
           AND a.vec_id < b2.vec_id),
    """ + scoreTail + """
       SELECT query_id AS id_a, neighbor_id AS id_b, cosine FROM cs
       WHERE cosine >= 0.45 ORDER BY id_a, id_b"""
  }

  /** q_ann_ivf oracle: same md5-rank sampled centroids, nearest-cell
    * assignment (keep 1 corpus-side, 4 query-side), probe join within
    * cells, exact cosine top-5. The assignment distance `d` is
    * deliberately UNROUNDED — it is computed identically (sequential
    * double sums) in both engines, so the argmax is the same row.
    */
  private val annIvfSql = embedCte +
    """,
       cents AS (SELECT vec_id AS cent_id, v AS cent_vec FROM e
         ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::UBIGINT % 1000003,
           vec_id
         LIMIT 16),
       asg AS (SELECT vec_id, v, cent_id,
           CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END AS d
         FROM (SELECT e.vec_id, e.v, c.cent_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, len(e.v)+1),
               i -> e.v[CAST(i AS INT)] * c.cent_vec[CAST(i AS INT)])), (x, y) -> x + y) AS dp,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(e.v)+1),
               i -> e.v[CAST(i AS INT)] * e.v[CAST(i AS INT)])), (x, y) -> x + y)) AS na,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.cent_vec)+1),
               i -> c.cent_vec[CAST(i AS INT)] * c.cent_vec[CAST(i AS INT)])), (x, y) -> x + y)) AS nb
           FROM e CROSS JOIN cents c) sub),
       corpus_cell AS (SELECT vec_id, v, cent_id AS cell FROM (
           SELECT vec_id, v, cent_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cent_id ASC) AS rn
           FROM asg) WHERE rn = 1),
       query_cell AS (SELECT vec_id, v, cent_id AS cell FROM (
           SELECT vec_id, v, cent_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cent_id ASC) AS rn
           FROM asg WHERE vec_id % 20 = 0) WHERE rn <= 4),
       pr AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS qv, c.v AS cv
         FROM query_cell q JOIN corpus_cell c ON q.cell = c.cell
           AND c.vec_id <> q.vec_id),
    """ + scoreTail + topKTail(5)

  /** q_ann_filtered oracle: annIvfSql with the label attr carried
    * through assignment and the corpus side filtered BEFORE the probe
    * join — per-row nearest-centroid assignment is independent of
    * other rows, so filtering before or after assignment is identical,
    * and the query side stays unfiltered (predicate applies to
    * NEIGHBORS, not queries).
    */
  private val annFilteredSql =
    """WITH e AS (SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings),
       cents AS (SELECT vec_id AS cent_id, v AS cent_vec FROM e
         ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::UBIGINT % 1000003,
           vec_id
         LIMIT 16),
       asg AS (SELECT vec_id, label, v, cent_id,
           CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END AS d
         FROM (SELECT e.vec_id, e.label, e.v, c.cent_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, len(e.v)+1),
               i -> e.v[CAST(i AS INT)] * c.cent_vec[CAST(i AS INT)])), (x, y) -> x + y) AS dp,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(e.v)+1),
               i -> e.v[CAST(i AS INT)] * e.v[CAST(i AS INT)])), (x, y) -> x + y)) AS na,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.cent_vec)+1),
               i -> c.cent_vec[CAST(i AS INT)] * c.cent_vec[CAST(i AS INT)])), (x, y) -> x + y)) AS nb
           FROM e CROSS JOIN cents c) sub),
       corpus_cell AS (SELECT vec_id, v, cell FROM (
           SELECT vec_id, label, v, cent_id AS cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cent_id ASC) AS rn
           FROM asg) WHERE rn = 1 AND label % 3 = 0),
       query_cell AS (SELECT vec_id, v, cent_id AS cell FROM (
           SELECT vec_id, v, cent_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cent_id ASC) AS rn
           FROM asg WHERE vec_id % 20 = 0) WHERE rn <= 4),
       pr AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS qv, c.v AS cv
         FROM query_cell q JOIN corpus_cell c ON q.cell = c.cell
           AND c.vec_id <> q.vec_id),
    """ + scoreTail + topKTail(5)

  /** q_semdedup oracle: the annIvfSql centroid sample + nearest-cell
    * assignment (same unrounded argmax), within-cell pairs scored with
    * the shared exact-cosine tail, min-id survivor rule — a vector is
    * a duplicate iff a smaller-id cell-mate is within the threshold.
    */
  private val semDedupSql = embedCte +
    """,
       cents AS (SELECT vec_id AS cent_id, v AS cent_vec FROM e
         ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::UBIGINT % 1000003,
           vec_id
         LIMIT 16),
       asg AS (SELECT vec_id, v, cent_id,
           CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END AS d
         FROM (SELECT e.vec_id, e.v, c.cent_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, len(e.v)+1),
               i -> e.v[CAST(i AS INT)] * c.cent_vec[CAST(i AS INT)])), (x, y) -> x + y) AS dp,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(e.v)+1),
               i -> e.v[CAST(i AS INT)] * e.v[CAST(i AS INT)])), (x, y) -> x + y)) AS na,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.cent_vec)+1),
               i -> c.cent_vec[CAST(i AS INT)] * c.cent_vec[CAST(i AS INT)])), (x, y) -> x + y)) AS nb
           FROM e CROSS JOIN cents c) sub),
       cell AS (SELECT vec_id, v, cent_id AS cell FROM (
           SELECT vec_id, v, cent_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cent_id ASC) AS rn
           FROM asg) WHERE rn = 1),
       pr AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.v AS qv, b.v AS cv
         FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id),
    """ + scoreTail + """,
       dups AS (SELECT DISTINCT neighbor_id AS vec_id FROM cs WHERE cosine >= 0.45)
       SELECT c.vec_id, c.cell,
         CAST(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup
       FROM cell c LEFT JOIN dups d ON d.vec_id = c.vec_id
       ORDER BY c.vec_id"""

  /** MinHash-LSH candidates + exact-Jaccard-verify oracle, shared by
    * q_dedup_minhash (minJ=0.8, 4×3) and q_ngram_jaccard (minJ=0.5,
    * 8×2) — the registered n-gram Jaccard IS the verify pass over LSH
    * candidates (see the q_ngram_jaccard scaladoc for why). Signature
    * columns and band slices are generated for any (bands, rows),
    * mirroring Dedup.minhashBands' Kirsch-Mitzenmacher permutations.
    */
  /** The 1/3 corpus slice the survivor/diagnostic cluster queries run
    * on (Spark side: doc_id % 3 === 0) — see the q_dedup_survivors
    * registration note for why.
    */
  private val SliceRel = "(SELECT * FROM documents WHERE doc_id % 3 = 0)"

  private def minhashVerifyOracle(minJ: String, bands: Int, rows: Int,
      rel: String = "documents"): String = {
    val sigCols = (0 until bands * rows)
      .map(h => s"MIN((a + $h*b) % 4294967296) AS h$h")
      .grouped(2).map(_.mkString(", ")).mkString(",\n             ")
    val bandRows = (0 until bands).map { bd =>
      val bsig = (0 until rows).map(r => s"h${bd * rows + r}").mkString(" || ',' || ")
      if (bd == 0) s"SELECT doc_id, 0 AS band, $bsig AS bsig FROM sig"
      else s"SELECT doc_id, $bd, $bsig FROM sig"
    }.mkString(" UNION ALL\n           ")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM $rel),
         toks AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)),
             i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]))) AS tok
           FROM tk WHERE len(t) >= 2),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM toks GROUP BY doc_id),
         ab AS (SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::UBIGINT AS a,
             ('0x' || substr(md5(tok), 9, 8))::UBIGINT AS b
           FROM toks),
         sig AS (SELECT doc_id,
             $sigCols
           FROM ab GROUP BY doc_id),
         bands AS (
           $bandRows),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
             AND a.doc_id < b.doc_id),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS ic FROM cand c
           JOIN toks ta ON ta.doc_id = c.id_a
           JOIN toks tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
           GROUP BY c.id_a, c.id_b)
         SELECT id_a, id_b, jaccard FROM (
           SELECT c.id_a, c.id_b,
             round(CAST(COALESCE(i.ic, 0) AS DOUBLE) /
               (sa.n_sh + sb.n_sh - COALESCE(i.ic, 0)), 6) AS jaccard
           FROM cand c
           LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
           JOIN sizes sa ON sa.doc_id = c.id_a
           JOIN sizes sb ON sb.doc_id = c.id_b)
         WHERE jaccard >= """ + minJ + " ORDER BY id_a, id_b"
  }

  /** DuckDB emulation of Java's wrapping 64-bit `h*31 + byte` fold
    * over a text column's UTF-8 bytes: HUGEINT accumulator reduced
    * mod 2^64 every step (HUGEINT never overflows: h < 2^64, h*31+b
    * < 2^69 ≪ 2^127). Shared by q_rolling_fp and q_multimodal.
    */
  private val rollingHashFold =
    """list_reduce(
         list_prepend(CAST(0 AS HUGEINT),
           list_transform(range(1, octet_length(encode(text)) + 1),
             i -> CAST(CAST(('0x' || substr(hex(encode(text)),
               CAST((i-1)*2+1 AS INT), 2)) AS UBIGINT) AS HUGEINT))),
         (acc, b) -> (acc * 31 + b) % CAST('18446744073709551616' AS HUGEINT))"""

  /** Two's-complement conversion of a HUGEINT in [0, 2^64) to BIGINT. */
  private def toSignedLong(h: String): String =
    s"""CAST(CASE WHEN $h >= CAST('9223372036854775808' AS HUGEINT)
         THEN $h - CAST('18446744073709551616' AS HUGEINT) ELSE $h END AS BIGINT)"""

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT lang, source, doc_id, n_chars FROM (
           SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY doc_id ASC) AS rn
           FROM documents)
         WHERE rn = 1 ORDER BY lang, source""",
    "q_dedup_minhash" -> minhashVerifyOracle("0.8", bands = 4, rows = 3),
    "q_ngram_jaccard" -> minhashVerifyOracle("0.5", bands = 8, rows = 2),
    // connected components as a recursive CTE: reach(node, lbl) holds
    // every (node, label-that-reaches-it); min(lbl) per node is the
    // component minimum since edges are symmetrized
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE
         e AS MATERIALIZED (SELECT id_a, id_b FROM (${minhashVerifyOracle("0.5", bands = 8, rows = 2)})),
         sym AS (SELECT id_a AS a, id_b AS b FROM e UNION SELECT id_b, id_a FROM e),
         reach(node, lbl) AS (
           SELECT DISTINCT a, a FROM sym
           UNION
           SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node)
         SELECT node AS doc_id, min(lbl) AS cluster_id,
           (min(lbl) = node) AS keep
         FROM reach GROUP BY node ORDER BY doc_id""",
    // survivors/best/stats run the same CC oracle over the 1/3 corpus
    // slice their Spark registrations use (see q_dedup_survivors note)
    "q_dedup_survivors" ->
      s"""WITH RECURSIVE
         e AS MATERIALIZED (SELECT id_a, id_b FROM (${minhashVerifyOracle("0.5", bands = 8, rows = 2, rel = SliceRel)})),
         sym AS (SELECT id_a AS a, id_b AS b FROM e UNION SELECT id_b, id_a FROM e),
         reach(node, lbl) AS (
           SELECT DISTINCT a, a FROM sym
           UNION
           SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node),
         losers AS (SELECT node FROM reach GROUP BY node HAVING min(lbl) <> node)
         SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 3 = 0
           AND doc_id NOT IN (SELECT node FROM losers) ORDER BY doc_id""",
    "q_cluster_stats" ->
      s"""WITH RECURSIVE
         e AS MATERIALIZED (SELECT id_a, id_b FROM (${minhashVerifyOracle("0.5", bands = 8, rows = 2, rel = SliceRel)})),
         sym AS (SELECT id_a AS a, id_b AS b FROM e UNION SELECT id_b, id_a FROM e),
         reach(node, lbl) AS (
           SELECT DISTINCT a, a FROM sym
           UNION
           SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node),
         memb AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node),
         cs AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS size FROM memb GROUP BY comp)
         SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * size AS BIGINT) AS n_docs
         FROM cs GROUP BY size ORDER BY size""",
    "q_dedup_best" ->
      s"""WITH RECURSIVE
         e AS MATERIALIZED (SELECT id_a, id_b FROM (${minhashVerifyOracle("0.5", bands = 8, rows = 2, rel = SliceRel)})),
         sym AS (SELECT id_a AS a, id_b AS b FROM e UNION SELECT id_b, id_a FROM e),
         reach(node, lbl) AS (
           SELECT DISTINCT a, a FROM sym
           UNION
           SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node),
         memb AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node),
         scored AS (SELECT m.node, m.comp, d.n_chars FROM memb m
           JOIN documents d ON d.doc_id = m.node),
         rk AS (SELECT node, comp, row_number() OVER (PARTITION BY comp
             ORDER BY n_chars DESC, node) AS rn FROM scored),
         losers AS (SELECT node FROM rk WHERE rn > 1)
         SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 3 = 0
           AND doc_id NOT IN (SELECT node FROM losers) ORDER BY doc_id""",
    // X28b: Viterbi DP replayed as a recursive CTE — forward pass
    // carries the best-score and backpointer arrays as lists (BIGINT
    // scores: count - 1e6 per arc, integer-exact in both engines); the
    // list_reduce argmax scans j ascending replacing only on strictly
    // greater, mirroring Curation.unigramViterbi's tie-break (smallest
    // j = longest piece ending at i). Backtrace walks froms from n to 0.
    "q_unigram_segment" ->
      """WITH RECURSIVE
         dw AS (SELECT DISTINCT w FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS w FROM documents)),
         pc AS (SELECT piece, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece
             FROM dw, unnest(range(1, len(w) + 1)) AS u(i),
                  unnest(range(1, 5)) AS v(l)
             WHERE i + l - 1 <= len(w)) GROUP BY piece),
         model AS (SELECT piece, cnt - 1000000 AS score FROM pc
           WHERE len(piece) = 1 OR cnt >= 2),
         mm AS (SELECT map(list(piece ORDER BY piece), list(score ORDER BY piece)) AS m FROM model),
         dp AS (
           SELECT w, 0 AS i, [CAST(0 AS BIGINT)] AS bests, [CAST(-1 AS INT)] AS froms FROM dw
           UNION ALL
           SELECT w, i + 1,
             list_append(bests, pick.c),
             list_append(froms, pick.j)
           FROM (
             SELECT w, i, bests, froms,
               list_reduce(
                 list_prepend(struct_pack(c := CAST(NULL AS BIGINT), j := CAST(-1 AS INT)),
                   list_transform(range(greatest(0, i + 1 - 4), i + 1),
                     j -> struct_pack(
                       c := bests[CAST(j AS INT) + 1]
                         + map_extract(m, substr(w, CAST(j AS INT) + 1, i + 1 - CAST(j AS INT)))[1],
                       j := CAST(j AS INT)))),
                 (a, b) -> CASE WHEN b.c IS NOT NULL AND (a.c IS NULL OR b.c > a.c) THEN b ELSE a END) AS pick
             FROM dp, mm WHERE i < len(w))),
         fin AS (SELECT w, bests, froms FROM dp WHERE i = len(w)),
         bt AS (
           SELECT w, froms, len(froms) - 1 AS k, CAST([] AS VARCHAR[]) AS pieces FROM fin
           UNION ALL
           SELECT w, froms, froms[k + 1],
             list_prepend(substr(w, froms[k + 1] + 1, k - froms[k + 1]), pieces)
           FROM bt WHERE k > 0),
         seg AS (SELECT w, pieces FROM bt WHERE k = 0),
         docw AS (SELECT doc_id, ws FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws FROM documents) WHERE len(ws) > 0),
         occ AS (SELECT doc_id, CAST(i AS INT) AS pos, ws[CAST(i AS INT)] AS w, len(ws) AS n_words
           FROM docw, unnest(range(1, len(ws) + 1)) AS u(i)),
         toks AS (SELECT o.doc_id, CAST(max(o.n_words) AS BIGINT) AS n_words,
             flatten(list(s.pieces ORDER BY o.pos)) AS tokens
           FROM occ o JOIN seg s ON s.w = o.w GROUP BY o.doc_id)
         SELECT doc_id, n_words, CAST(len(tokens) AS BIGINT) AS n_tokens,
           array_to_string(tokens, ' ') AS tokens
         FROM toks ORDER BY doc_id""",
    // X25b: merge-table replay — each rank applied to fixpoint over the
    // space-delimited symbol string (equivalent to the operator's single
    // non-overlapping pass since every merge has a != b)
    "q_bpe_segment" ->
      s"""WITH RECURSIVE
         merges(rank, a, b) AS (
           SELECT * FROM (VALUES $bpeMergesValuesSql) AS t(rank, a, b)),
         dw AS (SELECT DISTINCT w FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS w FROM documents)),
         init AS (SELECT w,
             ' ' || array_to_string(list_append(
               list_transform(range(1, len(w) + 1), i -> w[CAST(i AS INT)]), '</w>'), ' ') || ' ' AS s
           FROM dw),
         rep AS (
           SELECT w, s, 1 AS r FROM init
           UNION ALL
           SELECT w,
             CASE WHEN rs <> s THEN rs ELSE s END,
             CASE WHEN rs <> s THEN r ELSE r + 1 END
           FROM (SELECT rep.w, rep.s, rep.r,
               replace(rep.s, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS rs
             FROM rep JOIN merges m ON m.rank = rep.r)
           WHERE r <= (SELECT max(rank) FROM merges)),
         seg AS (SELECT w, list_filter(string_split(trim(s), ' '), x -> len(x) > 0) AS pieces
           FROM rep WHERE r = (SELECT max(rank) FROM merges) + 1),
         docw AS (SELECT doc_id, ws FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws FROM documents) WHERE len(ws) > 0),
         occ AS (SELECT doc_id, CAST(i AS INT) AS pos, ws[CAST(i AS INT)] AS w, len(ws) AS n_words
           FROM docw, unnest(range(1, len(ws) + 1)) AS u(i)),
         toks AS (SELECT o.doc_id, CAST(max(o.n_words) AS BIGINT) AS n_words,
             flatten(list(s.pieces ORDER BY o.pos)) AS tokens
           FROM occ o JOIN seg s ON s.w = o.w GROUP BY o.doc_id)
         SELECT doc_id, n_words, CAST(len(tokens) AS BIGINT) AS n_tokens,
           array_to_string(tokens, ' ') AS tokens
         FROM toks ORDER BY doc_id""",
    "q_vocab" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         c AS (SELECT token, count(*) AS freq FROM tok GROUP BY token)
         SELECT token, freq,
           CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) - 1 AS token_id
         FROM c ORDER BY freq DESC, token LIMIT 256""",
    // X4b: same vocab construction; occurrence-level left join, sums
    // cast to BIGINT, 4-dp rounded exact-integer division
    "q_oov_rate" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         vc AS (SELECT token FROM (SELECT token, count(*) AS freq FROM tok
                GROUP BY token ORDER BY freq DESC, token LIMIT 256)),
         j AS (SELECT t.doc_id, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
               FROM tok t LEFT JOIN vc v ON t.token = v.token)
         SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
           round(CAST(sum(oov) AS DOUBLE) / count(*), 4) AS oov_frac
         FROM j GROUP BY doc_id ORDER BY doc_id""",
    // ExactSubstr span dedup; 1-based list positions (Spark side is
    // 0-based internally — positions never cross the engine boundary).
    // coalesce on array_to_string: DuckDB returns NULL for an empty
    // list where Spark's concat_ws returns '' (fully-duplicated docs)
    "q_strip_spans" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
                 i -> {'spos': i, 'gh': md5(array_to_string(t[CAST(i AS INT):CAST(i + 7 AS INT)], ' '))})) AS sg
               FROM tk WHERE len(t) >= 8),
         g2 AS (SELECT doc_id, CAST(sg.spos AS BIGINT) AS spos, sg.gh AS gh FROM g),
         stats AS (SELECT gh, min(doc_id) AS keeper FROM g2
           GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
         spans AS (SELECT g2.doc_id, g2.spos FROM g2 JOIN stats USING (gh)
           WHERE stats.keeper <> g2.doc_id),
         dp AS (SELECT doc_id, unnest(range(spos, spos + 8)) AS pos FROM spans),
         d AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS drops FROM dp GROUP BY doc_id)
         SELECT tk.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(drops), 0) AS BIGINT) AS n_dropped,
           coalesce(array_to_string(list_transform(
             list_filter(range(1, len(t) + 1), i -> drops IS NULL OR NOT list_contains(drops, i)),
             i -> t[CAST(i AS INT)]), ' '), '') AS clean_text
         FROM tk LEFT JOIN d USING (doc_id) ORDER BY doc_id""",
    "q_dedup_simhash" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         toks AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)),
             i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]))) AS tok
           FROM tk WHERE len(t) >= 2),
         h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
         b AS (SELECT doc_id, hx, unnest(range(0, 64)) AS j FROM h),
         v AS (SELECT doc_id, j,
             CASE WHEN CAST(floor((strpos('0123456789abcdef',
                 substr(hx, CAST(j // 4 AS INT) + 1, 1)) - 1)
               / power(2, 3 - (j % 4))) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END AS vote
           FROM b),
         bits AS (SELECT doc_id, j, CASE WHEN SUM(vote) > 0 THEN '1' ELSE '0' END AS bitc
           FROM v GROUP BY doc_id, j)
         SELECT doc_id, string_agg(bitc, '' ORDER BY j) AS simhash
         FROM bits GROUP BY doc_id ORDER BY doc_id""",
    "q_simhash_pairs" ->
      (simhashPairsCte + """
         SELECT id_a, id_b, hamming FROM pairs ORDER BY id_a, id_b"""),
    // X2f: the same candidate CTE, re-verified with levenshtein under
    // the exact-integer ratio threshold (both engines' levenshtein is
    // unit-cost insert/delete/substitute)
    "q_edit_neardup" ->
      (simhashPairsCte + """
         SELECT p.id_a, p.id_b, p.hamming,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edits
         FROM pairs p
         JOIN documents a ON a.doc_id = p.id_a
         JOIN documents b ON b.doc_id = p.id_b
         WHERE levenshtein(a.text, b.text) * 100
           <= 20 * greatest(len(a.text), len(b.text))
         ORDER BY p.id_a, p.id_b"""),
    // X5b: the engine's 64-bit long signature mirrored as a 64-char
    // bit string (bitstring position j = long bit 63-j, so the
    // variant masks' long bits {3}, {3,17}, {5,21,40,52,60,62} flip
    // positions {60}, {60,46}, {58,42,23,11,3,1}); the engine's band
    // b covers long bits 8b..8b+7 = the SAME eight 8-char windows
    // substr enumerates (relabeled bb = 7-b), so candidate sets and
    // the exact-hamming verify agree window-for-window
    "q_image_neardup" ->
      """WITH h AS (SELECT doc_id,
             md5('img' || CAST(doc_id // 4 AS VARCHAR)) AS hx
           FROM documents),
         b AS (SELECT doc_id, hx, unnest(range(0, 64)) AS j FROM h),
         v AS (SELECT doc_id, j,
             CAST(floor((strpos('0123456789abcdef',
                 substr(hx, CAST(j // 4 AS INT) + 1, 1)) - 1)
               / power(2, 3 - (j % 4))) AS BIGINT) % 2 AS mb
           FROM b),
         f AS (SELECT doc_id, j,
             CASE WHEN (doc_id % 4 = 1 AND j = 60)
                 OR (doc_id % 4 = 2 AND j IN (60, 46))
                 OR (doc_id % 4 = 3 AND j IN (58, 42, 23, 11, 3, 1))
               THEN CAST(1 - mb AS VARCHAR)
               ELSE CAST(mb AS VARCHAR) END AS bitc
           FROM v),
         sig AS (SELECT doc_id, string_agg(bitc, '' ORDER BY j) AS bits
           FROM f GROUP BY doc_id),
         bands AS (SELECT doc_id, bits, bb AS band,
             substr(bits, bb * 8 + 1, 8) AS bsig
           FROM sig CROSS JOIN
             (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(bb)),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, a.bits AS ba,
             b2.doc_id AS id_b, b2.bits AS bb2
           FROM bands a JOIN bands b2 ON a.band = b2.band
             AND a.bsig = b2.bsig AND a.doc_id < b2.doc_id)
         SELECT id_a, id_b, hamming FROM (
           SELECT id_a, id_b,
             CAST(len(list_filter(range(1, 65),
               i -> substr(ba, CAST(i AS INT), 1)
                 <> substr(bb2, CAST(i AS INT), 1))) AS BIGINT) AS hamming
           FROM cand)
         WHERE hamming <= 5 ORDER BY id_a, id_b""",
    // X2e: per-node triangle counts from the same 3-join, degrees
    // from the pair table
    "q_clustering_coeff" ->
      (simhashPairsCte + """,
         tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
           FROM pairs e1
             JOIN pairs e2 ON e2.id_a = e1.id_b
             JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
         tn AS (SELECT node, count(*) AS n_triangles FROM (
             SELECT a AS node FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) GROUP BY node),
         dg AS (SELECT node, count(*) AS degree FROM (
             SELECT id_a AS node FROM pairs
             UNION ALL SELECT id_b FROM pairs) GROUP BY node)
         SELECT dg.node, dg.degree,
           coalesce(tn.n_triangles, 0) AS n_triangles,
           CASE WHEN dg.degree > 1 THEN
             round(CAST(coalesce(tn.n_triangles, 0) AS DOUBLE) * 2.0
               / CAST(dg.degree * (dg.degree - 1) AS DOUBLE), 6)
             END AS coeff
         FROM dg LEFT JOIN tn USING (node) ORDER BY node"""),
    // X2e: the identical pair set closed into triangles by the
    // id-ordered 3-join (same triple set as the degree-ordered Spark
    // enumeration — output is the canonical sorted triple)
    "q_triangles" ->
      (simhashPairsCte + """
         SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
         FROM pairs e1
           JOIN pairs e2 ON e2.id_a = e1.id_b
           JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
         ORDER BY a, b, c"""),
    "q_cosine_topk" -> (cosineSql + topKTail(10)),
    // X3g: at the oracled SFs the chooser's correct tier is brute —
    // the oracle is the brute-force SQL verbatim
    "q_ann_auto" -> (cosineSql + topKTail(10)),
    "q_decon_semantic" -> deconSemanticSql,
    "q_ann_lsh" -> annLshSql,
    "q_ann_ivf" -> annIvfSql,
    // X3e: the indexed arm is semantics-preserving vs q_ann_ivf
    // (same codebook, same trees) — the oracle is the same SQL
    "q_ann_ivf_indexed" -> annIvfSql,
    "q_ann_filtered" -> annFilteredSql,
    // X3f: exact after re-rank on the same probe ⇒ the flat arm's SQL
    "q_ann_ivf_pq" -> annIvfSql,
    "q_semdedup" -> semDedupSql,
    "q_embed_neardup_lsh" -> embedLshPairsSql,
    "q_embed_neardup" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
         pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS qv, b.v AS cv
           FROM e a JOIN e b ON a.vec_id < b.vec_id),
         sc AS (SELECT id_a, id_b,
             list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1),
               i -> qv[CAST(i AS INT)] * cv[CAST(i AS INT)])), (x, y) -> x + y) AS dp,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1),
               i -> qv[CAST(i AS INT)] * qv[CAST(i AS INT)])), (x, y) -> x + y)) AS na,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cv)+1),
               i -> cv[CAST(i AS INT)] * cv[CAST(i AS INT)])), (x, y) -> x + y)) AS nb
           FROM pr)
         SELECT id_a, id_b, cosine FROM (
           SELECT id_a, id_b,
             round(CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END, 6) AS cosine
           FROM sc)
         WHERE cosine >= 0.45 ORDER BY id_a, id_b""",
    // F20 oracle: the identical synthesized URL + the identical
    // regex table (UrlFns.extractSql — shared patterns, '' no-match
    // on both engines)
    "q_url_parse" -> {
      import graft.functions.UrlFns
      s"""WITH u AS (SELECT doc_id,
           'http' || (CASE WHEN doc_id % 5 = 0 THEN '' ELSE 's' END)
           || '://' || lang || CAST(doc_id % 97 AS VARCHAR)
           || '.example.'
           || (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
               ELSE 'net' END)
           || '/docs/' || CAST(doc_id AS VARCHAR)
           || (CASE WHEN doc_id % 4 = 0
               THEN '?ref=' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END)
           AS url
         FROM documents)
         SELECT doc_id, url,
           ${UrlFns.extractSql("url", "protocol")} AS protocol,
           ${UrlFns.extractSql("url", "host")} AS host,
           ${UrlFns.extractSql("url", "path")} AS path,
           ${UrlFns.extractSql("url", "query")} AS query,
           ${UrlFns.extractSql("url", "tld")} AS tld
         FROM u ORDER BY doc_id"""
    },

    "q_langid" -> {
      val langs = stop.keys.toSeq.sorted
      val hits = langs.map(l =>
        s"len(list_intersect(tk, ${sqlList(stop(l))})) AS h_$l").mkString(",\n           ")
      val gmax = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
      val cascade = langs.map(l => s"WHEN h_$l = $gmax THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang,
             list_distinct(string_split(lower(text), ' ')) AS tk FROM documents),
         h AS (SELECT doc_id, lang,
           $hits
           FROM t)
         SELECT doc_id, lang,
           CASE WHEN $gmax = 0 THEN 'und' $cascade END AS predicted
         FROM h ORDER BY doc_id"""
    },
    "q_text_quality" ->
      s"""WITH m AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS punct,
           CAST(len(list_filter(string_split(text, ' '),
             t -> list_contains($allStopsSql, t))) AS BIGINT) AS stop_hits
         FROM documents),
         r AS (SELECT doc_id, n_tok,
           CAST(n_chars - (n_tok - 1) AS DOUBLE) / CAST(n_tok AS DOUBLE) AS mean_len,
           CAST(punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
           CAST(stop_hits AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio
         FROM m)
         SELECT doc_id, n_tok AS n_tokens,
           round(mean_len, 4) AS mean_token_len,
           round(punct_ratio, 4) AS punct_ratio,
           round(stop_ratio, 4) AS stopword_ratio,
           round(CASE WHEN n_tok < 5 THEN 0.0 ELSE
             greatest(0.0, least(1.0, 0.5 * stop_ratio + 0.5 * (1.0 - punct_ratio))) END, 4) AS quality_score
         FROM r ORDER BY doc_id""",
    // X29 TRAIN oracle: the 3-iteration full-batch GD loop UNROLLED —
    // each iteration one projection (9-dp-quantized residual on the
    // current weights) + one exact DECIMAL aggregate + one double
    // weight update, token-for-token the operator's dataflow
    "q_classifier_train" ->
      s"""WITH m AS (SELECT
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS punct,
           CAST(len(list_filter(string_split(text, ' '),
             t -> list_contains($allStopsSql, t))) AS BIGINT) AS stop_hits
         FROM documents WHERE length(text) > 0),
         r0 AS (SELECT n_tok,
           CAST(punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
           CAST(stop_hits AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio
         FROM m),
         f AS (SELECT
           CAST(round(punct_ratio, 4) AS DECIMAL(18,4)) AS x1,
           CAST(round(stop_ratio, 4) AS DECIMAL(18,4)) AS x2,
           CASE WHEN round(CASE WHEN n_tok < 5 THEN 0.0 ELSE
             greatest(0.0, least(1.0, 0.5 * stop_ratio + 0.5 * (1.0 - punct_ratio))) END, 4) >= 0.5
             THEN 1.0 ELSE 0.0 END AS y
         FROM r0
         WHERE punct_ratio IS NOT NULL AND stop_ratio IS NOT NULL),
         i1 AS (SELECT x1, x2, y,
           CAST(round(1.0 / (1.0 + exp(-((0.0 + 0.0 * CAST(x1 AS DOUBLE)) + 0.0 * CAST(x2 AS DOUBLE)))) - y, 9) AS DECIMAL(10,9)) AS r
         FROM f),
         g1 AS (SELECT COUNT(*) AS n, SUM(r) AS g0,
             SUM(r * x1) AS gx1, SUM(r * x2) AS gx2 FROM i1),
         w1 AS (SELECT n,
             0.0 - 1.0 * (CAST(g0 AS DOUBLE) / CAST(n AS DOUBLE)) AS b,
             0.0 - 1.0 * (CAST(gx1 AS DOUBLE) / CAST(n AS DOUBLE)) AS wp,
             0.0 - 1.0 * (CAST(gx2 AS DOUBLE) / CAST(n AS DOUBLE)) AS ws
           FROM g1),
         i2 AS (SELECT f.x1, f.x2, f.y, w1.n, w1.b, w1.wp, w1.ws,
           CAST(round(1.0 / (1.0 + exp(-((w1.b + w1.wp * CAST(f.x1 AS DOUBLE)) + w1.ws * CAST(f.x2 AS DOUBLE)))) - f.y, 9) AS DECIMAL(10,9)) AS r
         FROM f, w1),
         g2 AS (SELECT n, b, wp, ws, SUM(r) AS g0,
             SUM(r * x1) AS gx1, SUM(r * x2) AS gx2 FROM i2
           GROUP BY n, b, wp, ws),
         w2 AS (SELECT n,
             b - 1.0 * (CAST(g0 AS DOUBLE) / CAST(n AS DOUBLE)) AS b,
             wp - 1.0 * (CAST(gx1 AS DOUBLE) / CAST(n AS DOUBLE)) AS wp,
             ws - 1.0 * (CAST(gx2 AS DOUBLE) / CAST(n AS DOUBLE)) AS ws
           FROM g2),
         i3 AS (SELECT f.x1, f.x2, f.y, w2.n, w2.b, w2.wp, w2.ws,
           CAST(round(1.0 / (1.0 + exp(-((w2.b + w2.wp * CAST(f.x1 AS DOUBLE)) + w2.ws * CAST(f.x2 AS DOUBLE)))) - f.y, 9) AS DECIMAL(10,9)) AS r
         FROM f, w2),
         g3 AS (SELECT n, b, wp, ws, SUM(r) AS g0,
             SUM(r * x1) AS gx1, SUM(r * x2) AS gx2 FROM i3
           GROUP BY n, b, wp, ws),
         w3 AS (SELECT n,
             b - 1.0 * (CAST(g0 AS DOUBLE) / CAST(n AS DOUBLE)) AS b,
             wp - 1.0 * (CAST(gx1 AS DOUBLE) / CAST(n AS DOUBLE)) AS wp,
             ws - 1.0 * (CAST(gx2 AS DOUBLE) / CAST(n AS DOUBLE)) AS ws
           FROM g3)
         SELECT n, round(b, 6) AS bias, round(wp, 6) AS w_punct,
           round(ws, 6) AS w_stop FROM w3""",
    // X29b WIDE-train oracle: the 3 GD iterations unrolled by a
    // GENERATOR over p = 5 features — each stage one projection at
    // the previous stage's weights, one exact DECIMAL aggregate, one
    // double update, token-for-token the operator loop
    "q_classifier_train_wide" -> {
      val p = 5
      def zExpr(w: String) = (1 to p).foldLeft(s"$w.w0")(
        (acc, k) => s"($acc + $w.w$k * CAST(f.x$k AS DOUBLE))")
      def stage(i: Int) =
        s"""i$i AS (SELECT f.*,
             CAST(round(1.0 / (1.0 + exp(-(${zExpr(s"ww${i - 1}")}))) - f.y, 9)
               AS DECIMAL(10,9)) AS r
           FROM f, ww${i - 1}),
         g$i AS (SELECT COUNT(*) AS n, SUM(r) AS g0,
             ${(1 to p).map(k => s"SUM(r * x$k) AS gx$k").mkString(", ")}
           FROM i$i),
         ww$i AS (SELECT g$i.n,
             ww${i - 1}.w0 - 1.0 * (CAST(g$i.g0 AS DOUBLE) / CAST(g$i.n AS DOUBLE)) AS w0,
             ${(1 to p).map(k =>
          s"ww${i - 1}.w$k - 1.0 * (CAST(g$i.gx$k AS DOUBLE) / CAST(g$i.n AS DOUBLE)) AS w$k")
          .mkString(",\n             ")}
           FROM g$i, ww${i - 1})"""
      s"""WITH m AS (SELECT
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS punct,
           CAST(len(list_filter(string_split(text, ' '),
             t -> list_contains($allStopsSql, t))) AS BIGINT) AS stop_hits,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
         FROM documents WHERE length(text) > 0),
         r0 AS (SELECT n_tok, n_distinct,
           CAST(punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
           CAST(stop_hits AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio,
           CAST(n_chars - (n_tok - 1) AS DOUBLE) / CAST(n_tok AS DOUBLE) AS mean_len
         FROM m),
         f AS (SELECT
           CAST(round(punct_ratio, 4) AS DECIMAL(18,4)) AS x1,
           CAST(round(stop_ratio, 4) AS DECIMAL(18,4)) AS x2,
           CAST(round(mean_len, 4) AS DECIMAL(18,4)) AS x3,
           CAST(CAST(least(n_tok, 500) AS DOUBLE) / 500.0 AS DECIMAL(18,4)) AS x4,
           CAST(round(CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE), 4) AS DECIMAL(18,4)) AS x5,
           CASE WHEN round(CASE WHEN n_tok < 5 THEN 0.0 ELSE
             greatest(0.0, least(1.0, 0.5 * stop_ratio + 0.5 * (1.0 - punct_ratio))) END, 4) >= 0.5
             THEN 1.0 ELSE 0.0 END AS y
         FROM r0
         WHERE punct_ratio IS NOT NULL AND stop_ratio IS NOT NULL),
         ww0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3,
           0.0 AS w4, 0.0 AS w5),
         ${stage(1)},
         ${stage(2)},
         ${stage(3)}
         SELECT n, round(w0, 6) AS bias, round(w1, 6) AS w_punct,
           round(w2, 6) AS w_stop, round(w3, 6) AS w_mlen,
           round(w4, 6) AS w_ntok, round(w5, 6) AS w_dratio
         FROM ww3"""
    },

    // X29 SCORE oracle: the shipped-model sigmoid tree, keep-decision
    // on the unrounded probability exactly as the operator computes it
    "q_classifier_score" ->
      s"""WITH m AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS punct,
           CAST(len(list_filter(string_split(text, ' '),
             t -> list_contains($allStopsSql, t))) AS BIGINT) AS stop_hits
         FROM documents WHERE length(text) > 0),
         r0 AS (SELECT doc_id,
           CAST(punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
           CAST(stop_hits AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio
         FROM m),
         f AS (SELECT doc_id,
           CAST(CAST(round(punct_ratio, 4) AS DECIMAL(18,4)) AS DOUBLE) AS x1,
           CAST(CAST(round(stop_ratio, 4) AS DECIMAL(18,4)) AS DOUBLE) AS x2
         FROM r0),
         z AS (SELECT doc_id, ((-1.2 + -6.0 * x1) + 5.0 * x2) AS zv FROM f)
         SELECT doc_id, round(zv, 6) AS logit,
           round(1.0 / (1.0 + exp(-zv)), 6) AS prob,
           (1.0 / (1.0 + exp(-zv))) >= 0.5 AS keep
         FROM z ORDER BY doc_id""",
    // X30 oracle: identical exact counts into the identical log tree
    "q_collocations" ->
      """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks FROM documents),
         u AS (SELECT unnest(toks) AS tok FROM t),
         uc AS (SELECT tok, COUNT(*) AS n FROM u GROUP BY tok),
         tot AS (SELECT COUNT(*) AS nn FROM u),
         bg AS (SELECT toks[CAST(i AS INT)] AS a, toks[CAST(i AS INT) + 1] AS b
           FROM t, unnest(range(1, len(toks))) AS r(i) WHERE len(toks) >= 2),
         bc AS (SELECT a, b, COUNT(*) AS n_ab FROM bg GROUP BY a, b
           HAVING COUNT(*) >= 5),
         btot AS (SELECT COUNT(*) AS mm FROM bg),
         j AS (SELECT bc.a, bc.b, bc.n_ab, ua.n AS n_a, ub.n AS n_b,
             tot.nn, btot.mm
           FROM bc JOIN uc ua ON ua.tok = bc.a
                   JOIN uc ub ON ub.tok = bc.b, tot, btot)
         SELECT a, b, n_ab, n_a, n_b,
           round(ln((CAST(n_ab AS DOUBLE) / CAST(mm AS DOUBLE)) /
             ((CAST(n_a AS DOUBLE) / CAST(nn AS DOUBLE)) * (CAST(n_b AS DOUBLE) / CAST(nn AS DOUBLE)))), 6) AS pmi,
           CASE WHEN n_ab < mm THEN
             round(ln((CAST(n_ab AS DOUBLE) / CAST(mm AS DOUBLE)) /
               ((CAST(n_a AS DOUBLE) / CAST(nn AS DOUBLE)) * (CAST(n_b AS DOUBLE) / CAST(nn AS DOUBLE))))
               / -ln(CAST(n_ab AS DOUBLE) / CAST(mm AS DOUBLE)), 6) END AS npmi
         FROM j ORDER BY npmi DESC NULLS LAST, a, b""",
    "q_token_stats" ->
      s"""SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
         CAST(len(regexp_extract_all(text, '${TextFns.bpeIshPattern}')) AS BIGINT) AS n_bpe,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
         FROM documents ORDER BY doc_id""",
    // Java long wrap emulated exactly: fold (h*31 + byte) over the
    // UTF-8 bytes in HUGEINT mod 2^64, then two's-complement to BIGINT
    "q_rolling_fp" ->
      s"""WITH h AS (
           SELECT doc_id, $rollingHashFold AS hv
           FROM documents)
         SELECT doc_id, ${toSignedLong("hv")} AS fp64
         FROM h ORDER BY doc_id""",
    // X5: the stub decode is deterministic byte arithmetic, so even the
    // multimodal feature extraction has a value-level oracle — checksum
    // is the same wrapping base-31 fold; feat0/feat1 are IEEE divisions
    "q_multimodal" ->
      s"""WITH h AS (
           SELECT doc_id,
             octet_length(encode(text)) AS nb,
             CASE WHEN octet_length(encode(text)) = 0 THEN NULL
               ELSE CAST(('0x' || substr(hex(encode(text)), 1, 2)) AS UBIGINT) END AS b0,
             $rollingHashFold AS hv
           FROM documents)
         SELECT doc_id, 'text/plain' AS mime, CAST(nb AS BIGINT) AS n_bytes,
           ${toSignedLong("hv")} AS checksum,
           CASE WHEN nb = 0 THEN 0.0 ELSE CAST(b0 AS DOUBLE) / 255.0 END AS feat0,
           CAST(nb AS DOUBLE) / 4096.0 AS feat1
         FROM h ORDER BY doc_id""",
    "q_fingerprint" ->
      """WITH f AS (SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
         FROM documents)
         SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS group_size
         FROM f ORDER BY doc_id""",
    "q_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok),
         nt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS dfc FROM toks GROUP BY tok),
         nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         scored AS (SELECT tf.doc_id, tf.tok,
             round((CAST(cnt AS DOUBLE) / CAST(n_tok AS DOUBLE)) *
               (ln(CAST(n_docs + 1 AS DOUBLE) / CAST(dfc + 1 AS DOUBLE)) + 1.0), 6) AS tfidf
           FROM tf JOIN nt ON nt.doc_id = tf.doc_id
           JOIN dfreq ON dfreq.tok = tf.tok CROSS JOIN nd),
         r AS (SELECT doc_id, tok, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, tok ASC) AS BIGINT) AS rnk
           FROM scored WHERE doc_id < 50)
         SELECT doc_id, tok, tfidf, rnk FROM r WHERE rnk <= 5
         ORDER BY doc_id, rnk""",
    "q_bm25" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         m AS (SELECT doc_id, tok FROM toks WHERE tok IN ('dup', 'vector', 'spark')),
         tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf FROM m GROUP BY doc_id, tok),
         dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
         st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
         dfreq AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfc FROM m GROUP BY tok),
         sc AS (SELECT tf.doc_id,
             ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
           FROM tf JOIN dl ON dl.doc_id = tf.doc_id
           JOIN dfreq ON dfreq.tok = tf.tok CROSS JOIN st),
         g AS (SELECT doc_id,
             round(CAST(SUM(CAST(round(s, 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_terms
           FROM sc GROUP BY doc_id)
         SELECT doc_id, score, n_terms FROM g
         ORDER BY score DESC, doc_id LIMIT 25""",
    "q_bm25_join" ->
      """WITH q AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 97 = 0),
         qt AS (SELECT DISTINCT bench_id, tok FROM
           (SELECT bench_id, unnest(string_split(text, ' ')) AS tok FROM q)),
         toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         m AS (SELECT qt.bench_id, toks.doc_id, toks.tok FROM toks JOIN qt USING (tok)),
         tf AS (SELECT bench_id, doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM m GROUP BY bench_id, doc_id, tok),
         dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
         st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
         dfreq AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfc
           FROM m GROUP BY tok),
         sc AS (SELECT tf.bench_id, tf.doc_id,
             ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
           FROM tf JOIN dl ON dl.doc_id = tf.doc_id
           JOIN dfreq ON dfreq.tok = tf.tok CROSS JOIN st),
         g AS (SELECT bench_id, doc_id,
             round(CAST(SUM(CAST(round(s, 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_terms
           FROM sc GROUP BY bench_id, doc_id),
         r AS (SELECT bench_id, doc_id, score, n_terms,
             CAST(row_number() OVER (PARTITION BY bench_id
               ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
           FROM g)
         SELECT bench_id, doc_id, score, n_terms, rnk FROM r
         WHERE rnk <= 5 ORDER BY bench_id, rnk""",
    // X19e: the indexed arm is semantics-preserving vs q_bm25_join
    // (same slice, same exact cap) — the oracle is the same SQL
    "q_bm25_indexed" ->
      """WITH q AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 97 = 0),
         qt AS (SELECT DISTINCT bench_id, tok FROM
           (SELECT bench_id, unnest(string_split(text, ' ')) AS tok FROM q)),
         toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         m AS (SELECT qt.bench_id, toks.doc_id, toks.tok FROM toks JOIN qt USING (tok)),
         tf AS (SELECT bench_id, doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM m GROUP BY bench_id, doc_id, tok),
         dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
         st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
         dfreq AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfc
           FROM m GROUP BY tok),
         sc AS (SELECT tf.bench_id, tf.doc_id,
             ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
           FROM tf JOIN dl ON dl.doc_id = tf.doc_id
           JOIN dfreq ON dfreq.tok = tf.tok CROSS JOIN st),
         g AS (SELECT bench_id, doc_id,
             round(CAST(SUM(CAST(round(s, 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_terms
           FROM sc GROUP BY bench_id, doc_id),
         r AS (SELECT bench_id, doc_id, score, n_terms,
             CAST(row_number() OVER (PARTITION BY bench_id
               ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
           FROM g)
         SELECT bench_id, doc_id, score, n_terms, rnk FROM r
         WHERE rnk <= 5 ORDER BY bench_id, rnk""",
    // X19d: identical formula; query terms with corpus df above
    // 0.7·N are dropped before the postings join (the multiply runs
    // in DOUBLE on both sides — same literal-parity note as X20)
    "q_bm25_join_capped" ->
      """WITH q AS (SELECT doc_id AS bench_id, text FROM documents
           WHERE doc_id % 97 = 0
              OR list_contains(string_split(text, ' '), 'dup')),
         qt0 AS (SELECT DISTINCT bench_id, tok FROM
           (SELECT bench_id, unnest(string_split(text, ' ')) AS tok FROM q)),
         toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
         st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
         dfall AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfc
           FROM toks WHERE tok IN (SELECT DISTINCT tok FROM qt0) GROUP BY tok),
         qt AS (SELECT qt0.bench_id, qt0.tok FROM qt0
           JOIN dfall USING (tok) CROSS JOIN st
           WHERE dfall.dfc <= CAST(0.7 AS DOUBLE) * st.n_docs),
         m AS (SELECT qt.bench_id, toks.doc_id, toks.tok FROM toks JOIN qt USING (tok)),
         tf AS (SELECT bench_id, doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM m GROUP BY bench_id, doc_id, tok),
         sc AS (SELECT tf.bench_id, tf.doc_id,
             ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
           FROM tf JOIN dl ON dl.doc_id = tf.doc_id
           JOIN dfall ON dfall.tok = tf.tok CROSS JOIN st),
         g AS (SELECT bench_id, doc_id,
             round(CAST(SUM(CAST(round(s, 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_terms
           FROM sc GROUP BY bench_id, doc_id),
         r AS (SELECT bench_id, doc_id, score, n_terms,
             CAST(row_number() OVER (PARTITION BY bench_id
               ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
           FROM g)
         SELECT bench_id, doc_id, score, n_terms, rnk FROM r
         WHERE rnk <= 5 ORDER BY bench_id, rnk""",
    "q_hybrid_rrf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         m AS (SELECT doc_id, tok FROM toks WHERE tok IN ('dup', 'vector', 'spark')),
         tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf FROM m GROUP BY doc_id, tok),
         dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
         st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
         dfreq AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfc FROM m GROUP BY tok),
         bsc AS (SELECT tf.doc_id,
             ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
           FROM tf JOIN dl ON dl.doc_id = tf.doc_id
           JOIN dfreq ON dfreq.tok = tf.tok CROSS JOIN st),
         g AS (SELECT doc_id,
             round(CAST(SUM(CAST(round(s, 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS score
           FROM bsc GROUP BY doc_id),
         lex AS (SELECT doc_id AS id, score FROM g
           ORDER BY score DESC, doc_id LIMIT 50),
         e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         pr AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS qv, c.v AS cv
           FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> q.vec_id),
         sc AS (SELECT query_id, neighbor_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1),
               i -> qv[CAST(i AS INT)] * cv[CAST(i AS INT)])), (x, y) -> x + y) AS dp,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1),
               i -> qv[CAST(i AS INT)] * qv[CAST(i AS INT)])), (x, y) -> x + y)) AS na,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cv)+1),
               i -> cv[CAST(i AS INT)] * cv[CAST(i AS INT)])), (x, y) -> x + y)) AS nb
           FROM pr),
         cs AS (SELECT neighbor_id,
             round(CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END, 6) AS cosine
           FROM sc),
         sem AS (SELECT neighbor_id AS id, cosine AS score FROM cs
           ORDER BY cosine DESC, neighbor_id LIMIT 50),
         lexr AS (SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id) AS DOUBLE) AS r
           FROM lex),
         semr AS (SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id) AS DOUBLE) AS r
           FROM sem),
         u AS (SELECT * FROM lexr UNION ALL SELECT * FROM semr),
         f AS (SELECT id,
             round(CAST(SUM(CAST(round(1.0 / (60.0 + r), 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS rrf_score,
             CAST(COUNT(*) AS BIGINT) AS n_lists,
             CAST(MIN(r) AS BIGINT) AS best_rank
           FROM u GROUP BY id)
         SELECT id, rrf_score, n_lists, best_rank FROM f
         ORDER BY rrf_score DESC, id LIMIT 25""",
    // X19f: both arms are the single-arm oracles verbatim (the %97
    // bm25 join at k=50; the nlist-16/nProbe-4 IVF probe at k=50 on
    // the %97 query slice), fused per query with the q_hybrid_rrf
    // term arithmetic
    "q_hybrid_indexed" ->
      """WITH q AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 97 = 0),
         qt AS (SELECT DISTINCT bench_id, tok FROM
           (SELECT bench_id, unnest(string_split(text, ' ')) AS tok FROM q)),
         toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         m AS (SELECT qt.bench_id, toks.doc_id, toks.tok FROM toks JOIN qt USING (tok)),
         tf AS (SELECT bench_id, doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM m GROUP BY bench_id, doc_id, tok),
         dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
         st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
         dfreq AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfc
           FROM m GROUP BY tok),
         bsc AS (SELECT tf.bench_id, tf.doc_id,
             ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
           FROM tf JOIN dl ON dl.doc_id = tf.doc_id
           JOIN dfreq ON dfreq.tok = tf.tok CROSS JOIN st),
         g AS (SELECT bench_id, doc_id,
             round(CAST(SUM(CAST(round(s, 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS score
           FROM bsc GROUP BY bench_id, doc_id),
         lex AS (SELECT bench_id AS query_id, doc_id AS id, score FROM (
             SELECT bench_id, doc_id, score,
               row_number() OVER (PARTITION BY bench_id
                 ORDER BY score DESC, doc_id) AS rn
             FROM g) WHERE rn <= 50),
         e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         cents AS (SELECT vec_id AS cent_id, v AS cent_vec FROM e
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::UBIGINT % 1000003,
             vec_id
           LIMIT 16),
         asg AS (SELECT vec_id, v, cent_id,
             CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END AS d
           FROM (SELECT e.vec_id, e.v, c.cent_id,
               list_reduce(list_prepend(0.0, list_transform(range(1, len(e.v)+1),
                 i -> e.v[CAST(i AS INT)] * c.cent_vec[CAST(i AS INT)])), (x, y) -> x + y) AS dp,
               sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(e.v)+1),
                 i -> e.v[CAST(i AS INT)] * e.v[CAST(i AS INT)])), (x, y) -> x + y)) AS na,
               sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.cent_vec)+1),
                 i -> c.cent_vec[CAST(i AS INT)] * c.cent_vec[CAST(i AS INT)])), (x, y) -> x + y)) AS nb
             FROM e CROSS JOIN cents c) sub),
         corpus_cell AS (SELECT vec_id, v, cent_id AS cell FROM (
             SELECT vec_id, v, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cent_id ASC) AS rn
             FROM asg) WHERE rn = 1),
         query_cell AS (SELECT vec_id, v, cent_id AS cell FROM (
             SELECT vec_id, v, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cent_id ASC) AS rn
             FROM asg WHERE vec_id % 97 = 0) WHERE rn <= 4),
         pr AS (SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id, q2.v AS qv, c.v AS cv
           FROM query_cell q2 JOIN corpus_cell c ON q2.cell = c.cell
             AND c.vec_id <> q2.vec_id),
         sc AS (SELECT query_id, neighbor_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1),
               i -> qv[CAST(i AS INT)] * cv[CAST(i AS INT)])), (x, y) -> x + y) AS dp,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1),
               i -> qv[CAST(i AS INT)] * qv[CAST(i AS INT)])), (x, y) -> x + y)) AS na,
             sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cv)+1),
               i -> cv[CAST(i AS INT)] * cv[CAST(i AS INT)])), (x, y) -> x + y)) AS nb
           FROM pr),
         cs AS (SELECT query_id, neighbor_id,
             round(CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END, 6) AS cosine
           FROM sc),
         sem AS (SELECT query_id, neighbor_id AS id, cosine AS score FROM (
             SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS rn
             FROM cs) WHERE rn <= 50),
         lexr AS (SELECT query_id, id, CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, id) AS DOUBLE) AS r
           FROM lex),
         semr AS (SELECT query_id, id, CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, id) AS DOUBLE) AS r
           FROM sem),
         u AS (SELECT * FROM lexr UNION ALL SELECT * FROM semr),
         f AS (SELECT query_id, id,
             round(CAST(SUM(CAST(round(1.0 / (60.0 + r), 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS rrf_score,
             CAST(COUNT(*) AS BIGINT) AS n_lists,
             CAST(MIN(r) AS BIGINT) AS best_rank
           FROM u GROUP BY query_id, id),
         rr AS (SELECT query_id, id, rrf_score, n_lists, best_rank,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY rrf_score DESC, id) AS BIGINT) AS rnk
           FROM f)
         SELECT query_id, id, rrf_score, n_lists, best_rank, rnk FROM rr
         WHERE rnk <= 10 ORDER BY query_id, rnk""")
}
