package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ST17: streaming EXACT-percentile state — a per-key fixed-point
  * value histogram maintained under the store protocol, serving
  * exact medians / MADs / arbitrary percentiles between batches.
  * The streaming face of [[graft.operators.TimeSeries.madZScore]]:
  * a robust-anomaly monitor needs median/MAD of *everything ingested
  * so far* without rescanning history, and unlike a KLL/t-digest
  * sketch this state is EXACT — the fixed-point histogram
  * (keys, w, count) is lossless for bounded-precision values and
  * SUMMABLE over append-only batches, so the merged state is the
  * exact histogram of the union (the ST16 trigram-count argument,
  * applied to percentile state). State size is bounded by distinct
  * fixed-point values per key — the same bound the batch operator's
  * percentile aggregate carries.
  *
  * State is one `state-<version>/` histogram per applied batch under
  * the [[StateStore]] protocol. SINGLE-WRITER contract as documented
  * on the other stores: one maintainer per stateDir; readers are
  * safe at any point.
  *
  * Read faces score through the SAME expression trees as the batch
  * operators ([[percentileOf]] reproduces Spark `percentile`'s
  * lower·(ceil−r) + higher·(r−floor) interpolation — on the exact
  * integer grid every interpolation form coincides bit-for-bit;
  * [[scoreBatch]] applies the madZScore z tree verbatim), so
  * batch parity is STRUCTURAL, and the spec pins it after every
  * commit, under replay, and across the crash window.
  */
object StreamingHistogram {

  import StateStore.readVersioned

  /** One batch's histogram partial: (keys, __w, cnt). Null/NaN values
    * drop (the madZScore filter).
    */
  def partial(batch: DataFrame, keys: Seq[String], value: Column,
      scale: Int): DataFrame = {
    val factor = math.pow(10.0, scale)
    batch
      .where(value.isNotNull && !isnan(value.cast("double")))
      .select((keys.map(col) :+
        floor(value.cast("double") * lit(factor)).as("__w")): _*)
      .groupBy((keys.map(col) :+ col("__w")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Fold ONE batch into the store; replays are no-ops. The
    * committed histogram (keys, __w, cnt) is read back through
    * [[StateStore.readVersioned]].
    */
  def applyBatch(batch: DataFrame, keys: Seq[String], value: Column,
      stateDir: String, batchId: Long, scale: Int = 2): Unit =
    StateStore.fold(stateDir, batchId, partial(batch, keys, value, scale))(
      _.groupBy((keys.map(col) :+ col("__w")): _*)
        .agg(sum(col("cnt")).cast("long").as("cnt")))

  /** Exact interpolated percentile per key over a (keys, __w, cnt)
    * histogram — Spark `percentile` semantics reconstructed from
    * cumulative counts: rank r = p·(n−1) (0-based), result =
    * lower·(ceil(r)−r) + higher·(r−floor(r)) (collapsing to the exact
    * value when r is integral). The row holding sorted index j is the
    * one with prevCum ≤ j < cum — one window pass + one conditional
    * aggregate, histogram-sized throughout. Returns keys :+ pct
    * (in __w units). Keys with an empty histogram drop.
    */
  def percentileOf(hist: DataFrame, keys: Seq[String],
      p: Double): DataFrame = {
    require(p >= 0.0 && p <= 1.0, s"percentile out of [0,1]: $p")
    val win = Window.partitionBy(keys.map(col): _*).orderBy(col("__w"))
    val whole = Window.partitionBy(keys.map(col): _*)
    val c = hist
      .withColumn("__cum", sum(col("cnt"))
        .over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__prev", col("__cum") - col("cnt"))
      .withColumn("__n", sum(col("cnt")).over(whole))
    val r = lit(p) * (col("__n") - lit(1L)).cast("double")
    val lo = floor(r).cast("long")
    val hi = ceil(r).cast("long")
    val cover = (j: Column) => col("__prev") <= j && j < col("__cum")
    c.withColumn("__r", r).withColumn("__lo", lo).withColumn("__hi", hi)
      .groupBy(keys.map(col): _*)
      .agg(
        max(when(cover(col("__lo")), col("__w"))).as("__wl"),
        max(when(cover(col("__hi")), col("__w"))).as("__wh"),
        max(col("__r")).as("__rr"), max(col("__lo")).as("__ll"),
        max(col("__hi")).as("__hh"))
      .select((keys.map(col) :+
        when(col("__ll") === col("__hh"), col("__wl"))
          .otherwise(col("__wl") * (col("__hh").cast("double") - col("__rr")) +
            col("__wh") * (col("__rr") - col("__ll").cast("double")))
          .as("pct")): _*)
  }

  /** ST17d read — A43 winsorized/trimmed robust stats of EVERYTHING
    * ingested, served from the committed histogram at histogram cost
    * (VERDICT r19 task #3): the fences are [[percentileOf]] over the
    * DEQUANTIZED value grid __w/10^scale. Like every ST17 read, the
    * statistics are OF THE STORE'S floor-quantized state (the
    * madZScore __w-grid contract — floor(v·10^s) is not invertible
    * for every raw double): batch parity means bit-equality with
    * [[graft.operators.StatsAgg.winsorizedStats]] run on
    * floor(v·10^s)/10^s, whose dequantization reproduces those grid
    * doubles exactly, so the interpolation tree sees the identical
    * multiset the batch `percentile` sees, and the clipped/trimmed moment
    * sums fold the per-bucket multiplicity into the same exact
    * DECIMAL grid sums [[graft.operators.StatsAgg.winsorizedStats]]
    * accumulates row-wise — c·cnt at (36,6) and c²·cnt split into
    * (cnt mod 10⁶, cnt div 10⁶) halves so each product stays inside
    * DECIMAL(38,12) EXACTLY (the X28 precision-demotion trap; the
    * halves recombine in one double op, bit-identical to the batch
    * sum whenever no single (key, value) bucket exceeds 10⁶ rows,
    * ≤1 ulp beyond). Output schema and round-6 trees are the batch
    * face's verbatim — parity is spec-pinned per commit, under
    * replay, and across the crash window.
    */
  def winsorizedFromStore(spark: SparkSession, stateDir: String,
      keys: Seq[String], lo: Double, hi: Double, template: DataFrame,
      scale: Int = 2): DataFrame = {
    require(lo < hi, "lo fence must be below hi")
    val factor = math.pow(10.0, scale)
    val h = readVersioned(spark, stateDir, template)
      .select((keys.map(col) :+
        (col("__w").cast("double") / lit(factor)).as("__w")) :+
        col("cnt"): _*)
    val plo = percentileOf(h, keys, lo).withColumnRenamed("pct", "__p1")
    val phi = percentileOf(h, keys, hi).withColumnRenamed("pct", "__p2")
    val fences = plo.join(phi, keys).select(
      (keys.map(col) ++ Seq(round(col("__p1"), 6).as("__plo"),
        round(col("__p2"), 6).as("__phi"))): _*)
    val joined = h.withColumnRenamed("__w", "__v")
      .join(broadcast(fences), keys)
    val fok = abs(col("__plo")) < lit(1e9) && abs(col("__phi")) < lit(1e9)
    val clipped = when(fok,
      least(greatest(col("__v"), col("__plo")), col("__phi")))
      .cast("decimal(15,6)")
    val inside = col("__v") >= col("__plo") && col("__v") <= col("__phi")
    val c2 = clipped * clipped // (31,12), exact
    val cnt20 = col("cnt").cast("decimal(20,0)")
    val cntLo = pmod(col("cnt"), lit(1000000L)).cast("decimal(6,0)")
    val cntHi = expr("cnt div 1000000").cast("decimal(6,0)")
    val agg = joined.groupBy(keys.map(col): _*).agg(
      sum(col("cnt")).cast("long").as("n"),
      sum(when(col("__v") < col("__plo"), col("cnt")).otherwise(0L))
        .cast("long").as("n_lo"),
      sum(when(col("__v") > col("__phi"), col("cnt")).otherwise(0L))
        .cast("long").as("n_hi"),
      max(fok).as("__fok"),
      sum(clipped * cnt20).cast("double").as("__s"),
      sum(c2 * cntLo).cast("double").as("__s2lo"),
      sum(c2 * cntHi).cast("double").as("__s2hi"),
      sum(when(inside, clipped * cnt20)).cast("double").as("__ts"),
      sum(when(inside, col("cnt")).otherwise(0L)).cast("long").as("__tn"))
    val nD = col("n").cast("double")
    val s2 = col("__s2lo") + col("__s2hi") * lit(1000000.0)
    agg.select(
      (keys.map(col) :+ col("n")) ++ Seq(
        col("n_lo"), col("n_hi"),
        when(col("__fok"), round(col("__s") / nD, 6)).as("win_mean"),
        when(col("__fok"), round(sqrt(greatest(lit(0.0),
          (s2 - col("__s") * col("__s") / nD) / nD)), 6)).as("win_std"),
        when(col("__fok") && col("__tn") > 0,
          round(col("__ts") / col("__tn").cast("double"), 6))
          .as("trim_mean")): _*)
  }

  /** (median, MAD) per key from the committed histogram, in __w
    * units — the deviation histogram re-aggregates histogram-sized
    * rows, never raw volume.
    */
  def robustStats(spark: SparkSession, stateDir: String,
      keys: Seq[String], template: DataFrame): DataFrame = {
    val h = readVersioned(spark, stateDir, template)
    val med = percentileOf(h, keys, 0.5)
      .withColumnRenamed("pct", "__med")
    val dev = h.join(broadcast(med), keys)
      .withColumn("__dev", abs(col("__w") - col("__med")))
      .groupBy((keys.map(col) :+ col("__dev").as("__w")): _*)
      .agg(sum(col("cnt")).cast("long").as("cnt"))
    med.join(
      percentileOf(dev, keys, 0.5).withColumnRenamed("pct", "__mad"),
      keys)
  }

  /** ST18 companion read: PSI drift of the STORE's ingested
    * distribution against a frozen REFERENCE corpus — the
    * [[graft.operators.StatsAgg.psi]] arithmetic fed by the committed
    * histogram instead of a current-cohort scan (same
    * reference-frozen bins, same integer bin assignment, same
    * add-one smoothing over the FULL grid, same round-9 DECIMAL term
    * sum — parity with the batch operator is spec-pinned bit-for-bit).
    * The monitoring deployment shape: the reference is frozen at
    * model-training time, production traffic streams into the store,
    * and this read
    * answers "has serving drifted?" between any two batches at
    * histogram cost — the reference side scans once per call, the
    * current side never rescans raw history. Output: keys :+ (n_ref,
    * n_cur, psi), round-6.
    */
  def psiFromStore(reference: DataFrame, keys: Seq[String],
      value: Column, spark: SparkSession, stateDir: String,
      bins: Int, scale: Int = 2): DataFrame = {
    require(bins >= 2 && bins <= 10000, s"bins out of range: $bins")
    val template = partial(reference.limit(0), keys, value, scale)
    val cur = readVersioned(spark, stateDir, template)
      .withColumn("__ref", lit(false))
    val ref = partial(reference, keys, value, scale)
      .withColumn("__ref", lit(true))
    val all = ref.unionByName(cur)
      .select((keys.map(col) :+ col("__w").cast("long").as("__w")) :+
        col("cnt") :+ col("__ref"): _*)
    val range = all.where(col("__ref"))
      .groupBy(keys.map(col): _*)
      .agg(min(col("__w")).as("__lo"), max(col("__w")).as("__hi"))
    val cells = all.join(broadcast(range), keys)
      .withColumn("__bin",
        greatest(lit(0L), least(lit(bins - 1L),
          floor((col("__w") - col("__lo")).cast("double") * lit(bins) /
            (col("__hi") - col("__lo") + 1L).cast("double"))
            .cast("long"))))
      .groupBy((keys.map(col) :+ col("__bin")): _*)
      .agg(sum(when(col("__ref"), col("cnt")).otherwise(lit(0L)))
          .cast("long").as("__cr"),
        sum(when(!col("__ref"), col("cnt")).otherwise(lit(0L)))
          .cast("long").as("__cc"))
    val totals = cells.groupBy(keys.map(col): _*)
      .agg(sum(col("__cr")).as("n_ref"), sum(col("__cc")).as("n_cur"))
    val grid = totals
      .withColumn("__bin", explode(sequence(lit(0L), lit(bins - 1L))))
    val withT = grid.join(cells, keys :+ "__bin", "left")
      .na.fill(0L, Seq("__cr", "__cc"))
    val p = (col("__cc").cast("double") + lit(1.0)) /
      (col("n_cur").cast("double") + lit(bins.toDouble))
    val q = (col("__cr").cast("double") + lit(1.0)) /
      (col("n_ref").cast("double") + lit(bins.toDouble))
    val term = round((p - q) * log(p / q), 9).cast("decimal(28,9)")
    withT
      .withColumn("__t", term)
      .groupBy(keys.map(col): _*)
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        sum(col("__t")).as("__psi"))
      .select((keys.map(col) ++ Seq(
        col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          round(col("__psi").cast("double"), 6)).as("psi"))): _*)
  }

  /** Score incoming rows against the STORE's median/MAD — the exact
    * z tree of [[graft.operators.TimeSeries.madZScore]], so scoring
    * the full ingested corpus reproduces the batch operator
    * bit-for-bit (spec-pinned). The serving read: stats are
    * |keys|-row broadcast, scoring map-only.
    */
  /** ST19 read: FDR-CONTROLLED alarms off the store — [[scoreBatch]]'s
    * robust z → two-sided normal p ([[graft.functions.NormalDist]]) →
    * Benjamini–Hochberg q-values within each key family
    * ([[graft.operators.StatsAgg.fdrAdjust]]). The deployment answer
    * to "the robust-z monitor fires on 10⁵ keys — which alarms
    * survive rate control?": alarm where q ≤ α bounds the expected
    * false-discovery proportion at α. Stats are |keys|-row broadcast
    * and the BH windows run over the SCORED batch (hypothesis count,
    * not history). MAD-degenerate keys (null z → null p) drop — not
    * hypotheses. Parity with the batch composition
    * madZScore → p → fdrAdjust over everything ingested is
    * spec-pinned. Output: keys :+ (tie, p_value, bh_rank, q_value).
    */
  def fdrScores(df: DataFrame, keys: Seq[String], tie: Column,
      value: Column, spark: SparkSession, stateDir: String,
      scale: Int = 2): DataFrame = {
    val scored = scoreBatch(df, keys, tie, value, spark, stateDir,
      scale = scale)
    graft.operators.StatsAgg.fdrAdjust(
      scored.withColumn("__p",
        graft.functions.NormalDist.twoSidedP(col("robust_z"))),
      keys, p = col("__p"), tie = col("tie"))
  }

  def scoreBatch(df: DataFrame, keys: Seq[String], tie: Column,
      value: Column, spark: SparkSession, stateDir: String,
      threshold: Double = 3.5, scale: Int = 2): DataFrame = {
    val factor = math.pow(10.0, scale)
    val template = partial(df.limit(0), keys, value, scale)
    val stats = robustStats(spark, stateDir, keys, template)
    val z = lit(0.6745) * (col("__w") - col("__med")) / col("__mad")
    df.where(value.isNotNull && !isnan(value.cast("double")))
      .select((keys.map(col) :+ tie.as("tie")) :+ value.as("__v"): _*)
      .withColumn("__w", floor(col("__v").cast("double") * lit(factor)))
      .join(broadcast(stats), keys)
      .select((keys.map(col) ++ Seq(
        col("tie"),
        col("__v").as("value"),
        when(col("__mad") > lit(0.0),
          floor(z * lit(1000000.0)) / lit(1000000.0)).as("robust_z"),
        when(col("__mad") > lit(0.0), abs(z) > lit(threshold))
          .as("is_outlier"))): _*)
  }
}
