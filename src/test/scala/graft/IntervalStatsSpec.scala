package graft

import graft.operators.{IntervalAgg, StatsAgg}
import org.apache.spark.sql.functions._

/** A19/A20/A21 — interval aggregates and statistical aggregates on
  * hand-built fixtures: the engine-defined conventions (half-open
  * sweep, touching-interval merge, degenerate-group nulls) the
  * events-derived oracle queries cannot isolate.
  */
class IntervalStatsSpec extends SparkSpec {
  import spark.implicits._

  test("intervalLengthSum: overlap merges, touching merges, gaps split islands; zero-length adds nothing") {
    val df = Seq(
      // key a: [0,10) ∪ [5,20) ∪ [20,25) = [0,25), gap, [30,40)
      ("a", 0L, 10L), ("a", 5L, 20L), ("a", 20L, 25L), ("a", 30L, 40L),
      // key b: one interval + a zero-length one inside it
      ("b", 0L, 5L), ("b", 3L, 3L),
      // key c: null bounds dropped entirely
      ("c", 1L, 2L)).toDF("k", "s", "e")
      .unionByName(Seq(("c", null.asInstanceOf[java.lang.Long],
        java.lang.Long.valueOf(9L))).toDF("k", "s", "e"))
    val out = IntervalAgg.intervalLengthSum(df, Seq("k"), col("s"), col("e"))
      .select("k", "n_intervals", "n_islands", "union_len")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("a") === (("a", 4L, 2L, 35L)))
    assert(out("b") === (("b", 2L, 1L, 5L)))
    assert(out("c") === (("c", 1L, 1L, 1L)))
  }

  test("intervalLengthSum: stable under repartition (window + agg merge correctness)") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map(_ =>
      ("k", rnd.nextInt(1000).toLong, 0L)).map { case (k, s, _) =>
      (k, s, s + rnd.nextInt(50) + 1L) }
    val a = IntervalAgg.intervalLengthSum(rows.toDF("k", "s", "e"),
      Seq("k"), col("s"), col("e")).select("union_len").as[Long].head()
    val b = IntervalAgg.intervalLengthSum(rows.toDF("k", "s", "e")
      .repartition(13), Seq("k"), col("s"), col("e"))
      .select("union_len").as[Long].head()
    assert(a === b)
  }

  test("maxIntersections: half-open sweep — touching intervals never count as 2; nested stack counts fully") {
    val df = Seq(
      // a: [0,10),[10,20) touch → peak 1, first reached at 0
      ("a", 0L, 10L), ("a", 10L, 20L),
      // b: nested [0,100) ⊃ [10,50) ⊃ [20,30) → peak 3 at 20
      ("b", 0L, 100L), ("b", 10L, 50L), ("b", 20L, 30L),
      // c: zero-length [5,5) contributes nothing → peak from [0,9) = 1
      ("c", 0L, 9L), ("c", 5L, 5L)).toDF("k", "s", "e")
    val out = IntervalAgg.maxIntersections(df, Seq("k"), col("s"), col("e"))
      .select("k", "max_intersections", "position")
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("a") === (("a", 1L, 0L)))
    assert(out("b") === (("b", 3L, 20L)))
    assert(out("c") === (("c", 1L, 0L)))
  }

  test("entropy: uniform = log2(k), constant = 0; nulls form their own category") {
    val uniform = (0 until 64).map(i => ("u", (i % 8).toString))
    val const = (0 until 10).map(_ => ("c", "x"))
    val out = StatsAgg.entropy(
      (uniform ++ const).toDF("k", "v"), Seq("k"), col("v"))
      .select("k", "n_rows", "n_categories", "entropy")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("u") === (("u", 64L, 8L, 3.0)))
    assert(out("c") === (("c", 10L, 1L, 0.0)))
    val withNull = Seq(("n", "a"), ("n", "a")).toDF("k", "v")
      .unionByName(Seq(("n", null.asInstanceOf[String]),
        ("n", null.asInstanceOf[String])).toDF("k", "v"))
    val h = StatsAgg.entropy(withNull, Seq("k"), col("v"))
      .select("n_categories", "entropy").as[(Long, Double)].head()
    assert(h === ((2L, 1.0)))
  }

  test("cramersV: perfect association = 1, independence = 0, degenerate table = null") {
    // perfect: b determined by a (2×2 diagonal)
    val perfect = (0 until 40).map(i => ("p", i % 2, i % 2))
    // independent: all four cells equal
    val indep = (0 until 40).map(i => ("i", i % 2, (i / 2) % 2))
    // degenerate: one column constant
    val degen = (0 until 10).map(i => ("d", i % 3, 7))
    val out = StatsAgg.cramersV(
      (perfect ++ indep ++ degen).toDF("k", "a", "b"),
      Seq("k"), col("a"), col("b"))
      .select("k", "chi2", "cramers_v")
      .as[(String, Double, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(out("p") === (("p", 40.0, Some(1.0))))
    assert(out("i") === (("i", 0.0, Some(0.0))))
    assert(out("d")._3 === None)
  }

  test("association: perfect = V 1/U 1, independence = all 0, degenerate margins null; V face agrees") {
    // perfect: a determines b bijectively (2 categories, balanced)
    val perfect = Seq.fill(4)(("p", "x", "1")) ++ Seq.fill(4)(("p", "y", "2"))
    // independent: uniform product table over 2×2
    val indep = for { a <- Seq("x", "y"); b <- Seq("1", "2"); _ <- 1 to 3 }
      yield ("i", a, b)
    // degenerate: a constant, b varies
    val degen = Seq(("d", "only", "1"), ("d", "only", "2"))
    val df = (perfect ++ indep ++ degen).toDF("k", "a", "b").repartition(3)
    val out = graft.operators.StatsAgg.association(
      df, Seq("k"), col("a"), col("b"))
      .select("k", "chi2", "cramers_v", "cramers_v_bc", "contingency",
        "theils_u_ab", "theils_u_ba")
      .as[(String, Double, Option[Double], Option[Double], Double,
        Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val p = out("p")
    // χ² = n·(k−1) = 8, C = sqrt(8/16) = sqrt(.5)
    assert(p._2 === 8.0 && p._3.get === 1.0)
    assert(p._5 === math.round(math.sqrt(0.5) * 1e6) / 1e6)
    assert(p._6.get === 1.0 && p._7.get === 1.0)
    val i = out("i")
    assert(i._2 === 0.0 && i._3.get === 0.0 && i._4.get === 0.0 &&
      i._5 === 0.0 && i._6.get === 0.0 && i._7.get === 0.0)
    val dg = out("d")
    // constant a: no association to measure; H(a)=0 → U(a|b) null,
    // U(b|a) = 0 (b varies, mi = 0)
    assert(dg._3.isEmpty && dg._6.isEmpty && dg._7.get === 0.0)
    // the single-statistic face agrees with the panel
    val vFace = graft.operators.StatsAgg.cramersV(
      df, Seq("k"), col("a"), col("b"))
      .select("k", "cramers_v").as[(String, Option[Double])].collect().toMap
    assert(out.map { case (k, r) => k -> r._3 } === vFace)
  }

  test("gini: equality → 0, single holder → (n−1)/n, scalar reference, negatives/nulls/NaN drop") {
    import graft.operators.StatsAgg
    val eq = Seq.fill(8)(("eq", 5.0))
    val one = Seq(("one", 10.0)) ++ Seq.fill(9)(("one", 0.0))
    val ref = Seq(1.0, 2.0, 3.0, 10.0).map(("r", _))
    val dirty = Seq(("d", 1.0), ("d", -3.0), ("d", Double.NaN),
      ("d", 3.0))
    val out = StatsAgg.gini(
      (eq ++ one ++ ref ++ dirty).toDF("k", "v"), Seq("k"), col("v"))
      .select("k", "n_rows", "gini")
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(out("eq") === (("eq", 8L, Some(0.0))))
    assert(out("one") === (("one", 10L, Some(0.9))))
    // scalar: sorted x = 100,200,300,1000 (fixed-point), Σx=1600,
    // Σi·x = 100+400+900+4000 = 5400 → G = (10800 − 5·1600)/(4·1600)
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(out("r")._3.get === r6((10800.0 - 8000.0) / 6400.0))
    // negative and NaN rows dropped: n = 2 over {1.0, 3.0}
    assert(out("d")._2 === 2L)
  }

  test("corrMatrix: diagonal 1, perfect ±linear dims ±1, constant dim null, matches builtin corr") {
    import graft.operators.StatsAgg
    val rnd = new scala.util.Random(31)
    // dim0 random; dim1 = 2·dim0 (corr 1); dim2 = −dim0 (corr −1);
    // dim3 constant (degenerate)
    val rows = (0 until 50).map { _ =>
      val x = rnd.nextInt(1000) / 100.0
      ("k", Seq(x.toFloat, (2 * x).toFloat, (-x).toFloat, 7.0f))
    }
    val out = StatsAgg.corrMatrix(
      rows.toDF("k", "emb"), Seq("k"), col("emb"), dims = 4)
      .select("i", "j", "corr")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out((0L, 0L)) === Some(1.0) && out((1L, 1L)) === Some(1.0))
    assert(out((0L, 1L)) === Some(1.0))
    assert(out((0L, 2L)) === Some(-1.0) && out((1L, 2L)) === Some(-1.0))
    assert(out((0L, 3L)) === None && out((3L, 3L)) === None)
    assert(out.size === 10)  // the 4·5/2 upper triangle
  }

  test("corrMatrix: a null/NaN ELEMENT drops the row whole — n stays in sync with the power sums") {
    import graft.operators.StatsAgg
    // 4 clean rows on an exact line (corr 1), plus one row with a NaN
    // in dim0 and one with a null in dim1: both must drop WHOLE, not
    // half-enter via count() while the sums skip the null decimal
    val clean = Seq(1.0f, 2.0f, 3.0f, 4.0f).map(x =>
      ("k", Seq(x, 2 * x)))
    // build with an explicit schema so the null element survives
    val rows = clean.map { case (k, a) =>
      org.apache.spark.sql.Row(k, a.map(Float.box)) } ++ Seq(
      org.apache.spark.sql.Row("k", Seq(Float.box(Float.NaN), Float.box(10.0f))),
      org.apache.spark.sql.Row("k", Seq(Float.box(5.0f), null)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("emb",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = true))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = StatsAgg.corrMatrix(df, Seq("k"), col("emb"), dims = 2)
      .select("i", "j", "n_rows", "corr")
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // every pair sees exactly the 4 clean rows; the line is exact
    assert(out((0L, 0L)) === ((4L, Some(1.0))))
    assert(out((0L, 1L)) === ((4L, Some(1.0))))
    assert(out((1L, 1L)) === ((4L, Some(1.0))))
  }

  test("counterStats: resets/changes counted against predecessors; irate honors the PromQL reset rule; degenerate keys null") {
    import graft.operators.TimeSeries
    val rows = Seq(
      // k1: 10 → 14 → 14 → 4 (reset) → 6; last pair (4→6, dt 10)
      ("k1", 0L, 1L, 10.0), ("k1", 10L, 2L, 14.0), ("k1", 20L, 3L, 14.0),
      ("k1", 30L, 4L, 4.0), ("k1", 40L, 5L, 6.0),
      // k2: reset ON the last step → irate = post-reset RAW value / dt
      ("k2", 0L, 6L, 100.0), ("k2", 50L, 7L, 8.0),
      // k3: single sample → null irate
      ("k3", 0L, 8L, 1.0),
      // k4: last two share a timestamp → null irate (tie by id)
      ("k4", 0L, 9L, 1.0), ("k4", 5L, 10L, 2.0), ("k4", 5L, 11L, 3.0))
    val out = TimeSeries.counterStats(
      rows.toDF("k", "t", "id", "v"), Seq("k"),
      ord = Seq(col("t"), col("id")), ts = col("t"), value = col("v"))
      .select("k", "n_samples", "resets", "changes", "t_last", "irate")
      .as[(String, Long, Long, Long, Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(out("k1") === (("k1", 5L, 1L, 3L, 40L, Some(0.2))))
    assert(out("k2") === (("k2", 2L, 1L, 1L, 50L, Some(8.0 / 50))))
    assert(out("k3") === (("k3", 1L, 0L, 0L, 0L, None)))
    assert(out("k4")._6 === None)
  }

  test("predictLinear: exact line recovered exactly; degenerate spread/size null; matches a scalar least-squares") {
    import graft.operators.TimeSeries
    // v = 2 + 0.5·t on integral points — slope/prediction land exactly
    val line = (0 until 10).map(i => ("lin", i.toLong * 100L,
      2.0 + 0.5 * i * 100))
    val flat = Seq(("flat", 7L, 3.0), ("flat", 7L, 5.0))  // zero spread
    val single = Seq(("one", 0L, 9.0))
    val noisy = Seq(("n", 0L, 1.0), ("n", 10L, 2.5),
      ("n", 20L, 2.0), ("n", 30L, 4.25))
    val out = TimeSeries.predictLinear(
      (line ++ flat ++ single ++ noisy).toDF("k", "t", "v"), Seq("k"),
      ts = col("t"), value = col("v"), horizonSecs = 100L)
      .select("k", "n_samples", "deriv_per_s", "predict")
      .as[(String, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(out("lin")._3.get === 0.5)
    // last sample t=900, horizon 100 → v(1000) = 502 exactly
    assert(out("lin")._4.get === 502.0)
    assert(out("flat")._3 === None && out("one")._3 === None)
    // scalar reference on the noisy set (fixed-point w = floor(v*100))
    val ws = noisy.map { case (_, t, v) => (t.toDouble, math.floor(v * 100)) }
    val n = ws.size.toDouble
    val st = ws.map(_._1).sum; val sv = ws.map(_._2).sum
    val stv = ws.map(p => p._1 * p._2).sum
    val stt = ws.map(p => p._1 * p._1).sum
    val slope = (n * stv - st * sv) / (n * stt - st * st)
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(out("n")._3.get === r6(slope / 100.0))
    val predict = (sv / n + slope * ((30.0 + 100.0) - st / n)) / 100.0
    assert(out("n")._4.get === r6(predict))
  }

  test("predictLinear: a null-ts row is excluded whole — n stays consistent with the time sums") {
    import graft.operators.TimeSeries
    // the same exact line plus a null-timestamp row: were it counted
    // in n while dropping out of Σt/Σtv/Σt², the fit would corrupt
    val line = (0 until 10).map(i => ("lin", Option(i.toLong * 100L),
      2.0 + 0.5 * i * 100))
    val rows = line :+ (("lin", Option.empty[Long], 999.0))
    val out = TimeSeries.predictLinear(
      rows.toDF("k", "t", "v"), Seq("k"),
      ts = col("t"), value = col("v"), horizonSecs = 100L)
      .select("k", "n_samples", "deriv_per_s", "predict")
      .as[(String, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(out("lin")._2 === 10L)
    assert(out("lin")._3.get === 0.5)
    assert(out("lin")._4.get === 502.0)
  }

  test("seriesDecompose: exact recovery of a planted linear trend + zero-mean seasonal; edges null; indices sum to 0") {
    import graft.operators.TimeSeries
    // v_i = 10 + 0.5·i + s_{i mod 5} with Σs = 0: a 5-point centered
    // MA of a linear+periodic series recovers the line EXACTLY in the
    // interior, the detrended values ARE the seasonal, residual 0
    val s = Seq(2.0, -1.0, 0.5, -3.0, 1.5)
    val n = 30
    val rows = (0 until n).map(i =>
      ("k", i.toLong, 10.0 + 0.5 * i + s(i % 5)))
    val out = TimeSeries.seriesDecompose(
      rows.toDF("k", "t", "v"), Seq("k"), ord = col("t"),
      value = col("v"), period = 5)
      .select("ord", "value", "trend", "seasonal", "residual")
      .as[(Long, Double, Option[Double], Double, Option[Double])]
      .collect().sortBy(_._1)
    assert(out.length === n)
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    for ((ord, v, trend, seasonal, resid) <- out) {
      val i = ord.toInt
      assert(v === r6(10.0 + 0.5 * i + s(i % 5)))
      assert(seasonal === r6(s(i % 5)), s"seasonal at $i")
      if (i < 2 || i >= n - 2) {
        // edge rows: no full window → trend and residual null
        assert(trend.isEmpty && resid.isEmpty, s"edge at $i")
      } else {
        assert(trend === Some(r6(10.0 + 0.5 * i)), s"trend at $i")
        assert(resid === Some(0.0), s"residual at $i")
      }
    }
    // the seasonal indices sum to 0 across one period (re-centering)
    val idx = out.take(5).map(_._4)
    assert(math.abs(idx.sum) < 1e-9, s"indices $idx")
    // even period: the window widens to period+1 and the same
    // machinery runs (smoke — exactness of the odd case is the law)
    val even = TimeSeries.seriesDecompose(
      rows.toDF("k", "t", "v"), Seq("k"), ord = col("t"),
      value = col("v"), period = 6)
    assert(even.count() === n)
    assert(even.where(col("trend").isNotNull).count() === n - 6)
  }

  test("autocorrelation/periodDetect: exact rational ACF of a pure periodic series; lag-0 is 1; the plant wins the argmax") {
    import graft.operators.TimeSeries
    // v_i = s_{i mod 5} with Σs = 0 over 30 points: acf(k) for k a
    // multiple of 5 is exactly (n−k)/n, other lags are fixed rationals
    // of the s cross-products — all land exactly on the round-6 grid
    // after one double division of exact integers
    val s = Seq(2.0, -1.0, 0.5, -3.0, 1.5)
    val rows = (0 until 30).map(i => ("k", i.toLong, s(i % 5)))
    val acf = TimeSeries.autocorrelation(
      rows.toDF("k", "t", "v"), Seq("k"), ord = col("t"),
      value = col("v"), maxLag = 10)
      .select("lag", "n_pairs", "acf")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(acf(0L) === ((0L, 30L, Some(1.0))))
    assert(acf(5L)._3 === Some(r6(25.0 / 30.0)))
    assert(acf(10L)._3 === Some(r6(20.0 / 30.0)))
    assert(acf(5L)._2 === 25L && acf(10L)._2 === 20L)
    // scalar cross-check of a non-multiple lag
    def ref(k: Int): Double = {
      val v = (0 until 30).map(i => s(i % 5))
      val num = (0 until 30 - k).map(i => v(i) * v(i + k)).sum
      val den = v.map(x => x * x).sum
      r6(num / den)
    }
    for (k <- Seq(1L, 2L, 3L, 7L)) assert(acf(k)._3 === Some(ref(k.toInt)))
    // the period pick: argmax over lag >= 2 is the planted 5
    val p = TimeSeries.periodDetect(
      rows.toDF("k", "t", "v"), Seq("k"), ord = col("t"),
      value = col("v"), maxLag = 10)
      .select("period", "acf").as[(Long, Double)].head()
    assert(p === ((5L, r6(25.0 / 30.0))))
    // constant series: degenerate denominator → null acf everywhere,
    // and the key drops out of periodDetect entirely
    val flat = (0 until 12).map(i => ("c", i.toLong, 7.0))
    val fa = TimeSeries.autocorrelation(
      flat.toDF("k", "t", "v"), Seq("k"), ord = col("t"),
      value = col("v"), maxLag = 4)
      .select("acf").as[Option[Double]].collect()
    assert(fa.forall(_.isEmpty))
    assert(TimeSeries.periodDetect(
      flat.toDF("k", "t", "v"), Seq("k"), ord = col("t"),
      value = col("v"), maxLag = 4).count() === 0L)
  }

  test("pairedTTest: matches the scalar one-sample-t-of-differences; null on n=1, zero variance, and NaN pairs") {
    import graft.operators.StatsAgg
    // hand-computable pairs: d = (1.0, 2.0, 3.0, 6.0) → d̄ = 3,
    // s_d² = (1+4+9+36 − 4·9)/3 = 14/3, t = 3/sqrt(14/12)
    val rows = Seq(
      ("k", 5.0, 4.0), ("k", 7.0, 5.0), ("k", 10.0, 7.0), ("k", 9.0, 3.0),
      ("one", 2.0, 1.0),                       // single pair → null t
      ("flat", 4.0, 1.0), ("flat", 6.0, 3.0),  // constant d → null t
      ("nan", 1.0, Double.NaN), ("nan", 8.0, 6.0), ("nan", 5.0, 2.0))
    val out = StatsAgg.pairedTTest(
      rows.toDF("g", "x", "y"), Seq("g"), x = col("x"), y = col("y"))
      .select("g", "n_pairs", "mean_diff", "t_stat", "df")
      .as[(String, Long, Option[Double], Option[Double], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    def r6(v: Double) = math.round(v * 1e6) / 1e6
    val t = 3.0 / math.sqrt((14.0 / 3.0) / 4.0)
    assert(out("k") === (("k", 4L, Some(3.0), Some(r6(t)), Some(3L))))
    assert(out("one") === (("one", 1L, Some(1.0), None, None)))
    assert(out("flat")._4 === None)  // zero-variance differences
    // the NaN pair dropped WHOLE: n = 2 over the clean pairs (d = 2, 3)
    assert(out("nan")._2 === 2L && out("nan")._3 === Some(2.5))
  }

  test("cramersV/association: a NULL category is a real column — perfect {x→1, y→NULL} gives V 1, not degenerate") {
    // b is fully determined by a, but one of b's two categories is
    // NULL: null-exclusive distinct counting would see c = 1, declare
    // the table degenerate (V null), and desynchronize r/c from the
    // chi2/entropy terms that DO count the NULL cell
    val rows = Seq.fill(5)(("p", "x", Option("1"))) ++
      Seq.fill(5)(("p", "y", Option.empty[String]))
    val df = rows.toDF("k", "a", "b").repartition(3)
    val v = StatsAgg.cramersV(df, Seq("k"), col("a"), col("b"))
      .select("n_rows", "chi2", "cramers_v")
      .as[(Long, Double, Option[Double])].head()
    assert(v === ((10L, 10.0, Some(1.0))))
    val p = graft.operators.StatsAgg.association(
      df, Seq("k"), col("a"), col("b"))
      .select("cramers_v", "cramers_v_bc", "theils_u_ab", "theils_u_ba")
      .as[(Option[Double], Option[Double], Option[Double], Option[Double])]
      .head()
    assert(p._1 === Some(1.0) && p._3 === Some(1.0) && p._4 === Some(1.0))
    // bias-corrected V stays within [0, 1] now that r/c count the
    // NULL column (the undercount could push V past 1)
    assert(p._2.forall(x => x >= 0.0 && x <= 1.0))
  }

  test("moments: a NaN value drops entirely — never counted in n_rows against absent power-sum mass") {
    val df = Seq(("k", 1.0), ("k", 3.0), ("k", Double.NaN)).toDF("k", "v")
    val out = graft.operators.StatsAgg.moments(df, Seq("k"), col("v"))
      .select("n_rows", "mean").as[(Long, Double)].head()
    assert(out === ((2L, 2.0)))
    // same discipline in the cohort machinery (t tests) and ANOVA
    val t = graft.operators.StatsAgg.welchTTest(
      Seq(("k", true, 1.0), ("k", true, Double.NaN), ("k", true, 3.0),
        ("k", false, 1.0), ("k", false, 3.0)).toDF("k", "c", "v"),
      Seq("k"), col("v"), col("c"))
      .select("n1", "n2").as[(Long, Long)].head()
    assert(t === ((2L, 2L)))
    val a = graft.operators.StatsAgg.anova(
      Seq(("k", "g1", 1.0), ("k", "g1", Double.NaN), ("k", "g2", 2.0))
        .toDF("k", "g", "v"),
      Seq("k"), col("v"), col("g"))
      .select("n_rows").as[Long].head()
    assert(a === 2L)
  }

  test("moments: symmetric → skew 0; uniform kurtosis 1.8-ish; constant → null; matches scalar reference") {
    // symmetric triple {−1, 0, 1} per key: μ=0, m2=2/3, m3=0, m4=2/3
    // → skew 0, kurt = (2/3)/(4/9) = 1.5
    val sym = Seq(("s", -1.0), ("s", 0.0), ("s", 1.0))
    val const = Seq(("c", 5.0), ("c", 5.0))
    // asymmetric set checked against a straight-line scalar computation
    val asymVals = Seq(1.25, 2.5, 2.5, 7.75, 11.0)
    val asym = asymVals.map(("a", _))
    val out = graft.operators.StatsAgg.moments(
      (sym ++ const ++ asym).toDF("k", "v"), Seq("k"), col("v"))
      .select("k", "n_rows", "mean", "skew_pop", "kurt_pop")
      .as[(String, Long, Double, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(out("s") === (("s", 3L, 0.0, Some(0.0), Some(1.5))))
    assert(out("c")._4 === None && out("c")._5 === None)
    val n = asymVals.size.toDouble
    val mu = asymVals.sum / n
    val m2 = asymVals.map(v => (v - mu) * (v - mu)).sum / n
    val m3 = asymVals.map(v => math.pow(v - mu, 3)).sum / n
    val m4 = asymVals.map(v => math.pow(v - mu, 4)).sum / n
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(out("a")._4.get === r6(m3 / math.sqrt(m2 * m2 * m2)))
    assert(out("a")._5.get === r6(m4 / (m2 * m2)))
  }

  test("welchTTest: equal samples → t 0; known two-sample case matches the scalar formula") {
    val a = Seq(10.0, 12.0, 14.0)           // cohort true
    val b = Seq(1.0, 2.0, 3.0, 4.0)         // cohort false
    val rows = a.map(("k", true, _)) ++ b.map(("k", false, _)) ++
      Seq(("z", true, 5.0), ("z", false, 5.0), ("z", true, 7.0),
        ("z", false, 7.0))
    val out = graft.operators.StatsAgg.welchTTest(
      rows.toDF("k", "c", "v"), Seq("k"), col("v"), col("c"))
      .select("k", "n1", "n2", "t_stat", "df")
      .as[(String, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    def varU(xs: Seq[Double]) = {
      val mu = xs.sum / xs.size
      xs.map(x => (x - mu) * (x - mu)).sum / (xs.size - 1)
    }
    val se2 = varU(a) / a.size + varU(b) / b.size
    val t = (a.sum / a.size - b.sum / b.size) / math.sqrt(se2)
    val dfW = se2 * se2 / (
      math.pow(varU(a) / a.size, 2) / (a.size - 1) +
        math.pow(varU(b) / b.size, 2) / (b.size - 1))
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(out("k")._2 === 3L && out("k")._3 === 4L)
    assert(out("k")._4.get === r6(t))
    assert(out("k")._5.get === r6(dfW))
    assert(out("z")._4.get === 0.0)
  }

  test("studentTTest: balanced cohorts → identical to Welch; known pooled case matches the scalar formula") {
    val a = Seq(10.0, 12.0, 14.0)
    val b = Seq(1.0, 2.0, 3.0, 4.0)
    val rows = a.map(("k", true, _)) ++ b.map(("k", false, _)) ++
      // balanced cohorts: Welch's se² = (v1+v2)/n = Student's se² exactly
      Seq(("z", true, 5.0), ("z", false, 4.0), ("z", true, 9.0),
        ("z", false, 6.0), ("z", true, 2.0), ("z", false, 8.0))
    val df = rows.toDF("k", "c", "v").repartition(3)
    val st = graft.operators.StatsAgg.studentTTest(
      df, Seq("k"), col("v"), col("c"))
      .select("k", "n1", "n2", "t_stat", "df")
      .as[(String, Long, Long, Option[Double], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    def varU(xs: Seq[Double]) = {
      val mu = xs.sum / xs.size
      xs.map(x => (x - mu) * (x - mu)).sum / (xs.size - 1)
    }
    val sp2 = ((a.size - 1) * varU(a) + (b.size - 1) * varU(b)) /
      (a.size + b.size - 2)
    val t = (a.sum / a.size - b.sum / b.size) /
      math.sqrt(sp2 * (1.0 / a.size + 1.0 / b.size))
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(st("k")._4.get === r6(t) && st("k")._5.get === (a.size + b.size - 2L))
    val welchZ = graft.operators.StatsAgg.welchTTest(
      df, Seq("k"), col("v"), col("c"))
      .where(col("k") === "z").select("t_stat").as[Double].head()
    assert(st("z")._4.get === welchZ)
  }

  test("rankCorr: monotone → 1, reversed → -1, constant margin → null, invariant under monotone transform") {
    val xs = Seq(1.0, 2.0, 5.0, 9.0, 9.0, 12.0)
    val rows = xs.zipWithIndex.map { case (x, i) => ("up", x, i.toDouble) } ++
      xs.zipWithIndex.map { case (x, i) => ("dn", x, -i.toDouble) } ++
      xs.map(("flat", _, 3.0))
    val df = rows.toDF("k", "x", "y").repartition(4)
    val out = graft.operators.StatsAgg.rankCorr(df, Seq("k"), col("x"), col("y"))
      .select("k", "rank_corr").as[(String, Option[Double])]
      .collect().toMap
    // x has one tie (9.0 twice) against strictly monotone y, so |ρ| < 1
    assert(out("up").get > 0.98 && out("up").get < 1.0)
    assert(out("dn").get === -out("up").get)
    assert(out("flat").isEmpty)
    // Spearman sees only ranks: exp(x) has the same ranks as x
    val tr = graft.operators.StatsAgg.rankCorr(
      df.withColumn("x", exp(col("x"))), Seq("k"), col("x"), col("y"))
      .select("k", "rank_corr").as[(String, Option[Double])].collect().toMap
    assert(tr === out)
    // strictly monotone, tie-free → exactly 1
    val strict = graft.operators.StatsAgg.rankCorr(
      Seq(("s", 1.0, 10.0), ("s", 2.0, 20.0), ("s", 7.0, 70.0))
        .toDF("k", "x", "y"), Seq("k"), col("x"), col("y"))
      .select("rank_corr").as[Double].head()
    assert(strict === 1.0)
  }

  test("mannWhitneyUTest: U1+U2 = n1·n2, cohort swap mirrors U and flips z; hand-computed tied case") {
    // hand case: true = {1, 2, 2}, false = {2, 3}
    // pooled sorted: 1(r1), 2,2,2 (avg rank 3), 3 (r5)
    // R1 = 1 + 3 + 3 = 7, U1 = 7 − 3·4/2 = 1, U2 = 3·2 − 1 = 5
    val rows = Seq(("k", true, 1.0), ("k", true, 2.0), ("k", true, 2.0),
      ("k", false, 2.0), ("k", false, 3.0))
    val df = rows.toDF("k", "c", "v").repartition(2)
    val out = graft.operators.StatsAgg.mannWhitneyUTest(
      df, Seq("k"), col("v"), col("c"))
      .select("n1", "n2", "u1", "u2", "z_stat")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(out._1 === 3L && out._2 === 2L)
    assert(out._3 === 1.0 && out._4 === 5.0)
    val sw = graft.operators.StatsAgg.mannWhitneyUTest(
      df.withColumn("c", !col("c")), Seq("k"), col("v"), col("c"))
      .select("u1", "u2", "z_stat")
      .as[(Double, Double, Double)].head()
    assert(sw._1 === out._4 && sw._2 === out._3 && sw._3 === -out._5)
    // all-tied sample: σ = 0 → null z; the cross-cohort tie counts
    // half, so U1 = avgrank 1.5 − 1·2/2 = 0.5
    val tied = graft.operators.StatsAgg.mannWhitneyUTest(
      Seq(("t", true, 5.0), ("t", false, 5.0)).toDF("k", "c", "v"),
      Seq("k"), col("v"), col("c"))
      .select("u1", "z_stat").as[(Double, Option[Double])].head()
    assert(tied._1 === 0.5 && tied._2.isEmpty)
  }

  test("auc: perfect = 1, inverted = 0, all-tied = 0.5; equals U1/(n1·n2); empty class null") {
    val perfect = Seq(("p", 0.9, true), ("p", 0.8, true), ("p", 0.3, false),
      ("p", 0.1, false))
    val invert = perfect.map { case (_, s, l) => ("i", s, !l) }
    val tied = Seq(("t", 5.0, true), ("t", 5.0, true), ("t", 5.0, false))
    val one = Seq(("o", 1.0, true))
    val df = (perfect ++ invert ++ tied ++ one).toDF("k", "s", "l")
      .repartition(3)
    val out = graft.operators.StatsAgg.auc(df, Seq("k"), col("s"), col("l"))
      .select("k", "auc").as[(String, Option[Double])].collect().toMap
    assert(out("p").get === 1.0 && out("i").get === 0.0 &&
      out("t").get === 0.5 && out("o").isEmpty)
    // rank-sum identity: AUC == U1/(n1·n2) from the pooled-rank face
    val rnd = new scala.util.Random(3)
    val rows = (0 until 200).map(i =>
      ("r", rnd.nextDouble() * (if (i % 3 == 0) 2 else 1), i % 3 == 0))
    val rdf = rows.toDF("k", "s", "l").repartition(4)
    val a = graft.operators.StatsAgg.auc(rdf, Seq("k"), col("s"), col("l"))
      .select("auc").as[Double].head()
    val u = graft.operators.StatsAgg.mannWhitneyUTest(
      rdf, Seq("k"), col("s"), col("l"))
      .select("n1", "n2", "u1").as[(Long, Long, Double)].head()
    assert(a === math.round(u._3 / (u._1 * u._2) * 1e6) / 1e6)
  }

  test("prAuc: perfect = 1, all-tied = base rate, matches scalar AP reference, no positives null") {
    val perfect = Seq(("p", 0.9, true), ("p", 0.8, true), ("p", 0.3, false))
    val tied = Seq(("t", 5.0, true), ("t", 5.0, false), ("t", 5.0, false),
      ("t", 5.0, false))
    val negOnly = Seq(("n", 1.0, false), ("n", 2.0, false))
    val df = (perfect ++ tied ++ negOnly).toDF("k", "s", "l").repartition(3)
    val out = graft.operators.StatsAgg.prAuc(df, Seq("k"), col("s"), col("l"))
      .select("k", "pr_auc").as[(String, Option[Double])].collect().toMap
    assert(out("p").get === 1.0 && out("t").get === 0.25 &&
      out("n").isEmpty)
    // scalar reference: desc tie-block average precision
    val rnd = new scala.util.Random(13)
    val rows = (0 until 250).map(i =>
      ("r", math.floor(rnd.nextDouble() * 50),
        rnd.nextDouble() < (if (i % 4 == 0) 0.8 else 0.2)))
    val rdf = rows.toDF("k", "s", "l").repartition(4)
    val got = graft.operators.StatsAgg.prAuc(rdf, Seq("k"), col("s"),
      col("l")).select("pr_auc").as[Double].head()
    val totP = rows.count(_._3).toDouble
    val blocks = rows.groupBy(_._2).toSeq.sortBy(-_._1)
      .map { case (_, rs) => (rs.count(_._3), rs.size) }
    val (_, _, ap) = blocks.foldLeft((0L, 0L, 0.0)) {
      case ((ctp, call, acc), (p, n)) =>
        val (ctp2, call2) = (ctp + p, call + n)
        (ctp2, call2, acc + (if (p > 0) p * ctp2 / (totP * call2) else 0.0))
    }
    assert(math.abs(got - ap) < 1e-5)
  }

  test("rocCurve: exact counts per threshold, terminal point (1,1), perfect classifier hugs the axis") {
    val rows = Seq(("k", 3.0, true), ("k", 3.0, true), ("k", 2.0, false),
      ("k", 1.0, true), ("k", 1.0, false))
    val out = graft.operators.StatsAgg.rocCurve(
      rows.toDF("k", "s", "l").repartition(3), Seq("k"), col("s"), col("l"))
      .orderBy(col("threshold").desc)
      .select("threshold", "n_tp", "n_fp", "tpr", "fpr")
      .as[(Double, Long, Long, Double, Double)].collect().toSeq
    assert(out === Seq(
      (3.0, 2L, 0L, 0.666667, 0.0),
      (2.0, 2L, 1L, 0.666667, 0.5),
      (1.0, 3L, 2L, 1.0, 1.0)))
    // perfect classifier: the curve reaches tpr = 1 while fpr = 0
    val perfect = Seq(("p", 9.0, true), ("p", 8.0, true), ("p", 1.0, false))
    val pts = graft.operators.StatsAgg.rocCurve(
      perfect.toDF("k", "s", "l"), Seq("k"), col("s"), col("l"))
      .select("tpr", "fpr").as[(Double, Double)].collect().toSet
    assert(pts.contains((1.0, 0.0)))
  }

  test("brierScore: perfect = 0, uninformed 0.5 = 0.25, matches scalar MSE; calibration bins exact") {
    val perfect = Seq(("p", 1.0, true), ("p", 1.0, true), ("p", 0.0, false))
    val half = Seq(("h", 0.5, true), ("h", 0.5, false))
    val df = (perfect ++ half).toDF("k", "s", "l").repartition(2)
    val out = graft.operators.StatsAgg.brierScore(df, Seq("k"),
      col("s"), col("l"))
      .select("k", "brier").as[(String, Double)].collect().toMap
    assert(out("p") === 0.0 && out("h") === 0.25)
    val rnd = new scala.util.Random(23)
    val rows = (0 until 200).map(i =>
      ("r", rnd.nextInt(101) / 100.0, i % 3 == 0))
    val got = graft.operators.StatsAgg.brierScore(
      rows.toDF("k", "s", "l").repartition(4), Seq("k"), col("s"), col("l"))
      .select("brier").as[Double].head()
    val mse = rows.map { case (_, s, l) =>
      val y = if (l) 1.0 else 0.0; (s - y) * (s - y)
    }.sum / rows.size
    assert(math.abs(got - mse) < 1e-5)
    // calibration: two bins under direct control, 1.0 folds into the
    // top bin, mean_score and pos_rate exact
    val cal = Seq(("c", 0.05, true), ("c", 0.05, false),
      ("c", 0.95, true), ("c", 1.0, true))
      .toDF("k", "s", "l")
    val bins = graft.operators.StatsAgg.calibrationCurve(
      cal, Seq("k"), col("s"), col("l"), bins = 10)
      .select("bin", "n_rows", "n_pos", "mean_score", "pos_rate")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(bins.keySet === Set(0L, 9L))
    assert(bins(0L) === ((0L, 2L, 1L, 0.05, 0.5)))
    assert(bins(9L) === ((9L, 2L, 2L, 0.975, 1.0)))
  }

  test("expectedCalibrationError: perfectly calibrated = 0, hand-computed gap, weights by bin mass") {
    // bin 0.0-0.1 at score 0.05 with 1/20 positives, bin 0.9-1.0 at
    // 0.95 with 19/20 positives → perfectly calibrated, ECE 0
    val cal = (Seq.fill(1)(("c", 0.05, true)) ++ Seq.fill(19)(("c", 0.05, false)) ++
      Seq.fill(19)(("c", 0.95, true)) ++ Seq.fill(1)(("c", 0.95, false)))
    // overconfident: all at 0.95, only half positive → |0.5−0.95| = 0.45
    val over = Seq.fill(2)(("o", 0.95, true)) ++ Seq.fill(2)(("o", 0.95, false))
    val df = (cal ++ over).toDF("k", "s", "l").repartition(3)
    val out = graft.operators.StatsAgg.expectedCalibrationError(
      df, Seq("k"), col("s"), col("l"))
      .select("k", "ece").as[(String, Double)].collect().toMap
    assert(out("c") === 0.0 && out("o") === 0.45)
  }

  test("ksTest: disjoint supports = 1, identical samples = 0, matches scalar reference, cohort-swap invariant") {
    val disjoint = Seq.tabulate(5)(i => ("d", i.toDouble, true)) ++
      Seq.tabulate(5)(i => ("d", 100.0 + i, false))
    val same = Seq(1.0, 2.0, 3.0).flatMap(v =>
      Seq(("s", v, true), ("s", v, false)))
    val df = (disjoint ++ same).toDF("k", "v", "c").repartition(3)
    val out = graft.operators.StatsAgg.ksTest(df, Seq("k"), col("v"), col("c"))
      .select("k", "d_stat").as[(String, Double)].collect().toMap
    assert(out("d") === 1.0 && out("s") === 0.0)
    val rnd = new scala.util.Random(5)
    val rows = (0 until 300).map(i =>
      ("r", math.floor(rnd.nextDouble() * 40 + (if (i % 2 == 0) 8 else 0)),
        i % 2 == 0))
    val rdf = rows.toDF("k", "v", "c").repartition(4)
    val got = graft.operators.StatsAgg.ksTest(rdf, Seq("k"), col("v"),
      col("c")).select("d_stat").as[Double].head()
    // scalar reference: max over distinct values of |F1 - F2|
    val (pos, neg) = (rows.filter(_._3).map(_._2), rows.filterNot(_._3).map(_._2))
    val expect = rows.map(_._2).distinct.map(v =>
      math.abs(pos.count(_ <= v).toDouble / pos.size -
        neg.count(_ <= v).toDouble / neg.size)).max
    assert(got === math.round(expect * 1e6) / 1e6)
    val sw = graft.operators.StatsAgg.ksTest(
      rdf.withColumn("c", !col("c")), Seq("k"), col("v"), col("c"))
      .select("d_stat").as[Double].head()
    assert(sw === got)
  }

  test("anova: equal means = 0, matches scalar reference, F = t² at k = 2, degenerate keys null") {
    // equal group means, nonzero within-variance → SSB = 0 → F = 0
    val eq = Seq(1.0, 2.0, 3.0).flatMap(v => Seq(("e", "g1", v), ("e", "g2", v)))
    // one group only → null F; zero within-variance → null F
    val deg = Seq(("one", "g1", 1.0), ("one", "g1", 2.0),
      ("zv", "g1", 5.0), ("zv", "g2", 7.0))
    val rnd = new scala.util.Random(7)
    val rows = (0 until 240).map(i =>
      ("r", s"g${i % 3}", math.floor(rnd.nextDouble() * 100) / 100.0 + (i % 3) * 0.5))
    val df = (eq ++ deg ++ rows).toDF("k", "g", "v").repartition(4)
    val out = StatsAgg.anova(df, Seq("k"), col("v"), col("g"))
      .select("k", "f_stat").as[(String, Option[Double])].collect().toMap
    assert(out("e").get === 0.0 && out("one").isEmpty && out("zv").isEmpty)
    // scalar reference over the random key (fixed-point w = floor(100v))
    val w = rows.map(r => (r._2, math.floor(r._3 * 100)))
    val byG = w.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val n = w.size.toDouble; val k = byG.size.toDouble
    val grand = w.map(_._2).sum / n
    val ssb = byG.map(g => g.size * math.pow(g.sum / g.size - grand, 2)).sum
    val ssw = byG.map(g => { val m = g.sum / g.size; g.map(x => (x - m) * (x - m)).sum }).sum
    val expect = (ssb / (k - 1)) / (ssw / (n - k))
    assert(math.abs(out("r").get - expect) < 1e-4)
    // k = 2: F equals the Student pooled t squared
    val two = rows.map(r => (r._1, r._2 == "g0", r._3)).toDF("k", "c", "v")
    val t = StatsAgg.studentTTest(two, Seq("k"), col("v"), col("c"))
      .select("t_stat").as[Double].head()
    val f2 = StatsAgg.anova(rows.map(r => (r._1, r._2 == "g0", r._3))
      .toDF("k", "g", "v"), Seq("k"), col("v"), col("g"))
      .select("f_stat").as[Double].head()
    assert(math.abs(f2 - t * t) < 1e-3)
  }

  test("sequencePrevNode: last match wins, head-match null prev, no-match unmatched, same-ts tie deterministic") {
    import graft.operators.EventFunnels
    val rows = Seq(
      // a: two purchases; the LAST (t=30) anchors; prev = view@20
      ("a", 10L, 1L, "purchase"), ("a", 20L, 2L, "view"),
      ("a", 30L, 3L, "purchase"), ("a", 40L, 4L, "click"),
      // h: match is the very first event → matched, null prev
      ("h", 5L, 5L, "purchase"), ("h", 9L, 6L, "view"),
      // n: no match at all
      ("n", 1L, 7L, "view"),
      // t: two candidates at the SAME second before the match — the
      // (t, tie) struct max picks the higher event_id deterministically
      ("t", 50L, 8L, "view"), ("t", 50L, 9L, "click"),
      ("t", 60L, 10L, "purchase"))
    val out = EventFunnels.sequencePrevNode(
      rows.toDF("u", "ep", "id", "e").repartition(3),
      Seq("u"), col("ep"), col("id"), col("e"),
      col("e") === "purchase")
      .select("u", "matched", "match_t", "prev_node")
      .as[(String, Boolean, Option[Long], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(out("a") === (("a", true, Some(30L), Some("view"))))
    assert(out("h") === (("h", true, Some(5L), None)))
    assert(out("n") === (("n", false, None, None)))
    assert(out("t") === (("t", true, Some(60L), Some("click"))))
  }

  test("meanZTest: matches scalar reference, empty cohort nulls z but keeps the other mean") {
    val rows = Seq(("k", true, 1.0), ("k", true, 2.0), ("k", true, 6.0),
      ("k", false, 3.0), ("k", false, 5.0),
      ("solo", true, 4.0))
    val df = rows.toDF("k", "c", "v").repartition(3)
    val out = StatsAgg.meanZTest(df, Seq("k"), col("v"), col("c"),
      var1 = 2.0, var2 = 3.0)
      .select("k", "mean1", "mean2", "z_stat")
      .as[(String, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val (mu1, mu2) = (3.0, 4.0)
    val z = (mu1 - mu2) / math.sqrt(2.0 / 3 + 3.0 / 2)
    assert(out("k")._4.get === math.round(z * 1e6) / 1e6)
    assert(out("solo")._2.get === 4.0 && out("solo")._3.isEmpty &&
      out("solo")._4.isEmpty)
  }

  test("informationValue: hand-computed WOE/IV, label-swap negates WOE, zero cells null and excluded from total") {
    // cat a: 3 pos / 1 neg of totals (4 pos, 3 neg); cat b: 1/2; cat z: 0 neg
    val df = (Seq.fill(3)(("k", "a", true)) ++ Seq(("k", "a", false)) ++
      Seq(("k", "b", true)) ++ Seq.fill(2)(("k", "b", false)) ++
      Seq(("k", "z", true), ("k", "z", true)))
      .toDF("k", "c", "l").repartition(3)
    val out = StatsAgg.informationValue(df, Seq("k"), col("c"), col("l"))
      .select("category", "woe", "iv", "iv_total")
      .as[(String, Option[Double], Option[Double], Double)].collect()
      .map(r => r._1 -> r).toMap
    val (pt, nt) = (6.0, 3.0)
    def woe(p: Double, q: Double) = math.log((p / pt) / (q / nt))
    def iv(p: Double, q: Double) = (p / pt - q / nt) * woe(p, q)
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(out("a")._2.get === r6(woe(3, 1)) && out("a")._3.get === r6(iv(3, 1)))
    assert(out("b")._2.get === r6(woe(1, 2)))
    assert(out("z")._2.isEmpty && out("z")._3.isEmpty)
    val total = r6(math.round(iv(3, 1) * 1e9) / 1e9 +
      math.round(iv(1, 2) * 1e9) / 1e9)
    assert(out.values.forall(_._4 === total))
    // label swap: WOE negates per category, IV (and the total) invariant
    val sw = StatsAgg.informationValue(df.withColumn("l", !col("l")),
      Seq("k"), col("c"), col("l"))
      .select("category", "woe", "iv_total")
      .as[(String, Option[Double], Double)].collect().map(r => r._1 -> r).toMap
    assert(sw("a")._2.get === -out("a")._2.get &&
      sw("b")._2.get === -out("b")._2.get && sw("a")._3 === total)
  }

  test("groupArrayMovingSum/Avg: trailing window, short head, imposed order, repartition-stable") {
    import graft.operators.AggCombinators
    val df = Seq(("k", 3L, "3.00"), ("k", 1L, "1.00"), ("k", 2L, "2.00"),
      ("k", 4L, "10.00"))
      .toDF("k", "o", "vs")
      .withColumn("v", col("vs").cast("decimal(18,2)")).repartition(5)
    val out = df.groupBy(col("k"))
      .agg(
        array_join(transform(AggCombinators.groupArrayMovingSum(
          col("v"), Seq(col("o")), 2), x => x.cast("string")), "|").as("ms"),
        array_join(transform(AggCombinators.groupArrayMovingAvg(
          col("v"), Seq(col("o")), 2), x => x.cast("string")), "|").as("ma"))
      .select("ms", "ma").as[(String, String)].head()
    // sums: 1, 1+2, 2+3, 3+10; avgs: 1/1, 3/2, 5/2, 13/2
    assert(out._1 === "1.000000|3.000000|5.000000|13.000000")
    assert(out._2 === "1.0|1.5|2.5|6.5")
  }

  test("sequenceNextNode: next after first match; match-at-tail and no-match yield null") {
    val df = Seq(
      ("u1", 10L, 1L, "view"), ("u1", 20L, 2L, "signup"),
      ("u1", 20L, 3L, "click"), ("u1", 30L, 4L, "purchase"),
      ("u2", 5L, 1L, "signup"),                 // match is last event
      ("u3", 5L, 1L, "view"))                   // no match
      .toDF("u", "t", "id", "ev")
    val out = graft.operators.EventFunnels.sequenceNextNode(
      df, Seq("u"), col("t"), col("id"), col("ev"),
      matchCond = col("ev") === "signup")
      .select("u", "matched", "match_t", "next_node")
      .as[(String, Boolean, Option[Long], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    // same-second successor resolves by the id tiebreak (id 3 > id 2)
    assert(out("u1") === (("u1", true, Some(20L), Some("click"))))
    assert(out("u2") === (("u2", true, Some(5L), None)))
    assert(out("u3") === (("u3", false, None, None)))
  }

  test("exponentialMovingAverage: matches the scalar fold in imposed order; single element is itself; repartition-stable") {
    import graft.operators.AggCombinators
    val vals = Seq(1.0, 2.0, 4.0, 8.0, 3.0)
    val rows = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) } :+
      (("one", 0L, 42.0))
    val out = rows.toDF("k", "o", "v").repartition(7)
      .groupBy(col("k"))
      .agg(AggCombinators.exponentialMovingAverage(
        col("v"), Seq(col("o")), alpha = 0.3).as("ema"))
      .select("k", "ema").as[(String, Double)].collect().toMap
    val ref = vals.tail.foldLeft(vals.head)((acc, x) => 0.3 * x + 0.7 * acc)
    assert(out("k") === ref)       // bit-exact: same fold, same order
    assert(out("one") === 42.0)
    // order really is imposed: reversed input order, same result
    val rev = rows.reverse.toDF("k", "o", "v")
      .groupBy(col("k"))
      .agg(AggCombinators.exponentialMovingAverage(
        col("v"), Seq(col("o")), alpha = 0.3).as("ema"))
      .select("k", "ema").as[(String, Double)].collect().toMap
    assert(rev("k") === ref)
  }

  test("exponentialTimeDecayed*: halflife semantics, time-weighted avg, max decay; scalar reference at fractional Δt/h; repartition-stable") {
    import graft.operators.AggCombinators._
    // points at t = 0, 1, 3 with halflife 1: each gap decays by 2^-Δt
    val df = Seq(("k", 0.0, 8.0), ("k", 1.0, 2.0), ("k", 3.0, 4.0))
      .toDF("k", "t", "v").repartition(2)
    def run(c: org.apache.spark.sql.Column) =
      df.groupBy("k").agg(c.as("out")).select("out")
        .as[Seq[Double]].head()
    val s = run(exponentialTimeDecayedSum(col("v"), col("t"),
      Seq(col("t")), 1.0))
    assert(s === Seq(8.0, 8.0 / 2 + 2.0, (8.0 / 2 + 2.0) / 4 + 4.0))
    val cnt = run(exponentialTimeDecayedCount(col("t"), Seq(col("t")), 1.0))
    assert(cnt === Seq(1.0, 1.5, 1.5 / 4 + 1.0))
    val avg = run(exponentialTimeDecayedAvg(col("v"), col("t"),
      Seq(col("t")), 1.0))
    assert(avg === s.zip(cnt).map { case (a, b) => a / b })
    val mx = run(exponentialTimeDecayedMax(col("v"), col("t"),
      Seq(col("t")), 1.0))
    assert(mx === Seq(8.0, 4.0, 4.0))   // 8 halves to 4 > 2; 4/4=1 < 4
    // fractional Δt/h against an independent scalar fold
    val rnd = new scala.util.Random(7)
    val pts = (0 until 60).map(i => (i * 0.37 + rnd.nextDouble() * 0.1,
      rnd.nextDouble() * 10 - 3)).sortBy(_._1)
    val h = 2.5
    val expect = pts.tail.scanLeft((pts.head._1, pts.head._2)) {
      case ((tp, sp), (t, x)) => (t, sp * math.pow(2.0, (tp - t) / h) + x)
    }.map(_._2)
    val got = pts.toDF("t", "v").withColumn("k", lit("z")).repartition(3)
      .groupBy("k")
      .agg(exponentialTimeDecayedSum(col("v"), col("t"), Seq(col("t")), h)
        .as("out"))
      .select("out").as[Seq[Double]].head()
    // fractional Δt/h is ulp-reproducible only (pow is not correctly
    // rounded — the documented regime boundary; integer Δt/h above is
    // exact-equality checked)
    assert(got.size === expect.size)
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g - e) <= 1e-12 * math.max(1.0, math.abs(e))) }
  }

  test("lttb: endpoints kept, exact output size, monotone x, Spark path == scalar reference; passthrough when small") {
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(17)
    val series = (0 until 500).map(i =>
      (i.toDouble, math.sin(i / 20.0) * 100 + rnd.nextDouble()))
    val df = series.map { case (x, y) => ("k", x, y) }.toDF("k", "x", "y")
      .repartition(9)
    val out = TimeSeries.lttb(df, Seq("k"), col("x"), col("y"), nOut = 24)
      .orderBy(col("pos"))
      .select("x", "y").as[(Double, Double)].collect().toSeq
    assert(out.size === 24)
    assert(out.head === series.head && out.last === series.last)
    assert(out.map(_._1) === out.map(_._1).sorted, "x must stay monotone")
    assert(out === TimeSeries.lttbSelect(series, 24),
      "Spark path must equal the scalar reference")
    // m <= nOut: the series passes through untouched
    val small = TimeSeries.lttb(df, Seq("k"), col("x"), col("y"), nOut = 600)
      .orderBy(col("pos")).select("x", "y")
      .as[(Double, Double)].collect().toSeq
    assert(small === series)
  }

  test("boundingRatio: endpoint slope with deterministic tiebreak; degenerate span = null") {
    val df = Seq(
      // slope (40-10)/(30-0) = 1.0; the tied x=30 rows resolve by tie
      // id — id 2 (y=40) outranks id 1 (y=99)... max struct picks the
      // larger tie, so tie=5 (y=40) wins over tie=2 (y=99)
      ("a", 0L, 1L, 10.0), ("a", 30L, 2L, 99.0), ("a", 30L, 5L, 40.0),
      // degenerate: all x equal
      ("d", 7L, 1L, 1.0), ("d", 7L, 2L, 2.0)).toDF("k", "x", "t", "y")
    val out = StatsAgg.boundingRatio(df, Seq("k"), col("x"), col("y"),
      col("t"))
      .select("k", "x_lo", "x_hi", "bounding_ratio")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(out("a") === (("a", 0L, 30L, Some(1.0))))
    assert(out("d") === (("d", 7L, 7L, None)))
  }

  test("kruskalWallis: matches the scalar reference; H = z² at k = 2; single-group and all-tied null; repartition-stable") {
    val rows = Seq(
      ("k", "a", 1.0), ("k", "a", 2.0), ("k", "a", 3.0), ("k", "a", 2.0),
      ("k", "b", 4.0), ("k", "b", 5.0), ("k", "b", 2.0),
      ("k", "c", 6.0), ("k", "c", 7.0), ("k", "c", 5.0))
    def run(rs: Seq[(String, String, Double)], parts: Int) =
      StatsAgg.kruskalWallis(rs.toDF("k", "g", "v").repartition(parts),
        Seq("k"), col("v"), col("g"))
        .select("k", "n_rows", "n_groups", "h_stat")
        .as[(String, Long, Long, Option[Double])].collect().head
    val out = run(rows, 5)
    // scalar reference: average ranks over the pooled sample, the
    // textbook H, tie-corrected
    def ref(groups: Map[String, Seq[Double]]): Double = {
      val all = groups.values.flatten.toSeq.sorted
      val n = all.size.toDouble
      def avgRank(v: Double): Double =
        (all.indexWhere(_ == v) + 1 + all.lastIndexWhere(_ == v) + 1) / 2.0
      val hsum = groups.toSeq.sortBy(_._1).map { case (_, vs) =>
        val r = vs.map(avgRank).sum; r * r / vs.size }.sum
      val h = 12.0 / (n * (n + 1)) * hsum - 3.0 * (n + 1)
      val ties = all.groupBy(identity).values
        .map(g => math.pow(g.size.toDouble, 3) - g.size).sum
      h / (1.0 - ties / (n * n * n - n))
    }
    val expect = ref(rows.groupBy(_._2).map {
      case (g, rs) => g -> rs.map(_._3) })
    assert(out._2 === 10L && out._3 === 3L)
    assert(math.abs(out._4.get - expect) < 1e-5)
    assert(run(rows, 2) === out, "repartition-stable")
    // k = 2: tie-corrected H is exactly the Mann–Whitney z² (both
    // normal approximations share the tie-corrected variance)
    val two = rows.filter(_._2 != "c")
    val h2 = run(two, 3)._4.get
    val z = StatsAgg.mannWhitneyUTest(two.toDF("k", "g", "v"),
      Seq("k"), col("v"), cohort = col("g") === "a")
      .select("z_stat").as[Option[Double]].head().get
    assert(math.abs(h2 - z * z) < 1e-4)
    // single group and all-tied pooled sample → null H
    assert(run(rows.filter(_._2 == "a"), 2)._4 === None)
    assert(run(Seq(("k", "a", 5.0), ("k", "a", 5.0), ("k", "b", 5.0),
      ("k", "b", 5.0)), 2)._4 === None)
  }

  test("jarqueBera: ±1 alternating series → skew 0, kurt 1, JB = n/6 exactly; matches the moments shape; constant null") {
    val pm = (1 to 24).map(i => ("k", if (i % 2 == 0) 1.0 else -1.0)) ++
      (1 to 5).map(_ => ("c", 7.0))
    val out = StatsAgg.jarqueBera(pm.toDF("k", "v").repartition(4),
      Seq("k"), col("v"))
      .select("k", "n_rows", "skew_pop", "kurt_pop", "jb_stat")
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // symmetric two-point mass at ±1: m2 = 1, m3 = 0, m4 = 1 →
    // g1 = 0, g2 = 1, JB = n/6·(0 + (1−3)²/4) = n/6
    assert(out("k")._2 === 24L)
    assert(out("k")._3 === Some(0.0))
    assert(out("k")._4 === Some(1.0))
    assert(out("k")._5 === Some(math.rint(24.0 / 6.0 * 1e6) / 1e6))
    // zero variance → all shape stats null
    assert(out("c")._3 === None && out("c")._5 === None)
    // cross-check against moments' g1/g2 on an arbitrary 2-decimal
    // fixture (same power sums, same tree)
    val rnd = new scala.util.Random(23)
    val arb = (0 until 200).map(_ =>
      ("z", math.rint(rnd.nextDouble() * 1000 - 500) / 100.0))
    val jb = StatsAgg.jarqueBera(arb.toDF("k", "v"), Seq("k"), col("v"))
      .select("skew_pop", "kurt_pop")
      .as[(Option[Double], Option[Double])].head()
    val mo = StatsAgg.moments(arb.toDF("k", "v"), Seq("k"), col("v"))
      .select("skew_pop", "kurt_pop")
      .as[(Option[Double], Option[Double])].head()
    assert(jb === mo)
  }

  test("cusumChangepoint: planted mean shift found exactly; constant series → zero stat at earliest t; repartition-stable") {
    import graft.operators.TimeSeries
    val rows = (1 to 8).map(i =>
      ("s", i.toLong, if (i <= 4) 0.0 else 10.0)) ++
      (1 to 6).map(i => ("c", i.toLong, 5.0))
    def run(parts: Int) =
      TimeSeries.cusumChangepoint(rows.toDF("k", "o", "v")
          .repartition(parts),
        Seq("k"), ord = col("o"), value = col("v"))
        .select("k", "n_rows", "cp_ord", "cusum_abs")
        .as[(String, Long, Long, Double)].collect()
        .map(r => r._1 -> r).toMap
    val out = run(5)
    // x̄ = 5: S_t = −5t for t ≤ 4, then recovers; max |S| = 20 at t = 4
    assert(out("s") === (("s", 8L, 4L, 20.0)))
    // constant: D_t ≡ 0, ties resolve to the earliest ord
    assert(out("c") === (("c", 6L, 1L, 0.0)))
    assert(run(2) === out, "repartition-stable")
  }

  test("friedman: identical per-block rankings → exact maximum n(k−1); tied fixture matches the scalar reference; incomplete blocks dropped; all-tied null") {
    def run(rs: Seq[(String, Long, String, Double)]) =
      StatsAgg.friedman(rs.toDF("k", "b", "g", "v").repartition(4),
        Seq("k"), block = col("b"), treatment = col("g"),
        value = col("v"))
        .select("k", "n_blocks", "n_treatments", "q_stat")
        .as[(String, Long, Long, Option[Double])].collect()
        .map(r => r._1 -> r).toMap
    // 6 blocks × 4 treatments, same ordering every block, no ties →
    // Q = n(k−1) = 18 exactly; one incomplete block must drop
    val mono = (for (b <- 1 to 6; j <- 1 to 4)
      yield ("m", b.toLong, s"t$j", j.toDouble)) ++
      Seq(("m", 99L, "t1", 1.0), ("m", 99L, "t2", 2.0))
    assert(run(mono)("m") === (("m", 6L, 4L, Some(18.0))))
    // tied fixture vs the scalar reference
    val blocks = Seq(Seq(3.0, 1.0, 3.0), Seq(2.0, 2.0, 2.0),
      Seq(5.0, 4.0, 1.0), Seq(7.0, 7.0, 9.0))
    val tied = for ((bv, b) <- blocks.zipWithIndex; (v, j) <- bv.zipWithIndex)
      yield ("x", b.toLong, s"t$j", v)
    val expect = {
      val (n, k) = (blocks.size, 3)
      def avgRanks(vs: Seq[Double]) =
        vs.map(v => (vs.count(_ < v) + 1 + vs.count(_ <= v)) / 2.0)
      val rsum = Array.fill(k)(0.0)
      var ties = 0.0
      for (bv <- blocks) {
        val r = avgRanks(bv)
        for (j <- 0 until k) rsum(j) += r(j)
        ties += bv.groupBy(identity).values
          .map(g => math.pow(g.size.toDouble, 3) - g.size).sum
      }
      val q = 12.0 / (n * k * (k + 1)) * rsum.map(r => r * r).sum -
        3.0 * n * (k + 1)
      q / (1.0 - ties / (n.toDouble * k * (k * k - 1)))
    }
    assert(math.abs(run(tied)("x")._4.get - expect) < 1e-5)
    // fully tied design: the correction denominator vanishes → null
    val flat = for (b <- 1 to 3; j <- 1 to 3)
      yield ("f", b.toLong, s"t$j", 5.0)
    assert(run(flat)("f")._4 === None)
  }

  test("psi: identical cohorts → exactly 0; planted shift matches the scalar reference; missing-cohort keys drop or null") {
    // identical distributions: every bin has cr = cc and the totals
    // match, so p = q exactly and every term is 0 — psi is 0.0, not
    // merely small
    val same = (1 to 100).flatMap(i =>
      Seq(("k", true, (i % 10) * 1.0), ("k", false, (i % 10) * 1.0)))
    // planted shift: uniform reference, all current mass clamps into
    // the top edge bin
    val shift = (1 to 100).map(i => ("s", true, (i % 10) * 1.0)) ++
      (1 to 100).map(_ => ("s", false, 50.0)) ++
      (1 to 10).map(i => ("r", true, i * 1.0)) // reference-only key
    val out = StatsAgg.psi((same ++ shift).toDF("k", "ref", "v")
        .repartition(5),
      Seq("k"), col("v"), isReference = col("ref"), bins = 10)
      .select("k", "n_ref", "n_cur", "psi")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(out(("k"))._4 === Some(0.0))
    // scalar reference with the operator's exact tree: ref lands 10
    // per bin, current 100 in bin 9; add-one smoothing, round-9 terms
    val expect = {
      def p(c: Long, n: Long) = (c.toDouble + 1.0) / (n.toDouble + 10.0)
      val terms = (0 until 10).map { b =>
        val (cc, cr) = (if (b == 9) 100L else 0L, 10L)
        val t = (p(cc, 100) - p(cr, 100)) * math.log(p(cc, 100) / p(cr, 100))
        BigDecimal(t).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      (terms.sum.toDouble * 1e6).round / 1e6
    }
    assert(out(("s"))._4 === Some(expect))
    assert(expect > 1.0, "a full-mass shift must scream")
    // reference-only key: no current rows → null psi, counts kept
    assert(out(("r")) === (("r", 10L, 0L, None)))
  }

  test("madZScore: hand-computed median/MAD on the exact grid; outlier flagged; MAD-degenerate key null; repartition-stable") {
    import graft.operators.TimeSeries
    val rows = (1 to 9).map(i => ("k", i.toLong, i.toDouble)) :+
      (("k", 10L, 100.0)) // the outlier a mean/σ baseline would chase
    val deg = (1 to 6).map(i => ("d", i.toLong, 5.0)) :+ (("d", 7L, 9.0))
    def run(parts: Int) =
      TimeSeries.madZScore((rows ++ deg).toDF("k", "id", "v")
          .repartition(parts),
        Seq("k"), tie = col("id"), value = col("v"))
        .select("k", "tie", "robust_z", "is_outlier")
        .as[(String, Long, Option[Double], Option[Boolean])]
        .collect().map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val out = run(5)
    // fixed-point grid: wv = v·100, med = 550, MAD = 250; the scalar
    // tree below is the operator's exact tree, so equality is exact
    def zOf(v: Double) =
      math.floor(0.6745 * (v * 100.0 - 550.0) / 250.0 * 1e6) / 1e6
    assert(out(("k", 10L)) === ((Some(zOf(100.0)), Some(true))))
    assert(out(("k", 1L)) === ((Some(zOf(1.0)), Some(false))))
    assert(zOf(100.0) > 3.5 && math.abs(zOf(1.0)) < 3.5)
    // over half the mass on one value → MAD = 0 → null score/flag
    assert(out(("d", 7L)) === ((None, None)))
    assert(run(2) === out, "repartition-stable")
  }

  test("forecastAccuracy: perfect forecast → 0s; hand-computed persistence case with MASE = 1 at period 1; zero seasonal MAE → null MASE") {
    import graft.operators.TimeSeries
    import org.apache.spark.sql.expressions.Window
    def eval(rows: Seq[(String, Long, Double)], period: Int) = {
      val w = Window.partitionBy(col("k")).orderBy(col("o"))
      val df = rows.toDF("k", "o", "v")
        .withColumn("f", lag(col("v"), 1).over(w))
      TimeSeries.forecastAccuracy(df, Seq("k"), ord = col("o"),
        actual = col("v"), forecast = col("f"), period = period)
        .select("k", "n_scored", "mae", "rmse", "mase")
        .as[(String, Long, Double, Double, Option[Double])]
        .collect().map(r => r._1 -> r).toMap
    }
    // persistence on (2, 4, 8): errors 2 and 4 → MAE 3,
    // RMSE √10; at period 1 the scale series IS the forecast → MASE 1
    val p = eval(Seq(("k", 1L, 2.0), ("k", 2L, 4.0), ("k", 3L, 8.0)), 1)
    assert(p("k")._2 === 2L && p("k")._3 === 3.0)
    assert(math.abs(p("k")._4 - math.sqrt(10.0)) < 1e-6)
    assert(p("k")._5 === Some(1.0))
    // perfect forecast: evaluate v against itself
    val perfect = TimeSeries.forecastAccuracy(
      Seq(("k", 1L, 5.0), ("k", 2L, 7.0), ("k", 3L, 6.0)).toDF("k", "o", "v"),
      Seq("k"), ord = col("o"), actual = col("v"),
      forecast = col("v"), period = 1)
      .select("mae", "rmse", "mase")
      .as[(Double, Double, Option[Double])].head()
    assert(perfect === ((0.0, 0.0, Some(0.0))))
    // constant actuals: seasonal-naive MAE 0 → MASE null, MAE real
    val const = eval(Seq(("k", 1L, 5.0), ("k", 2L, 5.0), ("k", 3L, 5.0)), 1)
    assert(const("k")._3 === 0.0 && const("k")._5 === None)
  }

  test("mannKendall: monotone series → tau exactly ±1 with the textbook z; tied fixture matches the scalar reference; constant series nulls") {
    import graft.operators.TimeSeries
    def run(rs: Seq[(String, Long, Double)]) =
      TimeSeries.mannKendall(rs.toDF("k", "o", "v").repartition(4),
        Seq("k"), ord = col("o"), value = col("v"))
        .select("k", "n_rows", "s_stat", "tau", "z_stat")
        .as[(String, Long, Long, Option[Double], Option[Double])]
        .collect().map(r => r._1 -> r).toMap
    val up = (1 to 10).map(i => ("u", i.toLong, i * 2.0))
    val down = (1 to 10).map(i => ("d", i.toLong, -i * 2.0))
    val const = (1 to 8).map(i => ("c", i.toLong, 5.0))
    val tied = Seq(1.0, 3.0, 2.0, 3.0, 5.0, 4.0, 4.0, 7.0)
      .zipWithIndex.map { case (v, i) => ("t", i.toLong, v) }
    val out = run(up ++ down ++ const ++ tied)
    // strictly monotone, no ties: S = ±n(n−1)/2, tau = ±1, textbook z
    val n = 10.0
    val s = n * (n - 1) / 2
    val zUp = (s - 1.0) / math.sqrt(n * (n - 1) * (2 * n + 5) / 18.0)
    assert(out("u") === (("u", 10L, 45L, Some(1.0),
      Some(math.rint(zUp * 1e6) / 1e6))))
    assert(out("d")._3 === -45L && out("d")._4 === Some(-1.0))
    // all-tied values: var and the tau denominator both vanish
    assert(out("c") === (("c", 8L, 0L, None, None)))
    // scalar reference with value ties (ords unique)
    val expect = {
      val vs = tied.map(_._3)
      val m = vs.size
      val sS = (for (i <- 0 until m; j <- i + 1 until m)
        yield math.signum(vs(j) - vs(i)).toLong).sum
      val tg = vs.groupBy(identity).values.map(_.size.toDouble)
      val varS = (m * (m - 1) * (2 * m + 5) -
        tg.map(t => t * (t - 1) * (2 * t + 5)).sum) / 18.0
      val n0 = m * (m - 1) / 2.0
      val n1 = tg.map(t => t * (t - 1) / 2.0).sum
      val tau = sS / math.sqrt((n0 - n1) * (n0 - 0.0))
      val z = if (sS > 0) (sS - 1.0) / math.sqrt(varS)
        else if (sS < 0) (sS + 1.0) / math.sqrt(varS) else 0.0
      (sS, tau, z)
    }
    assert(out("t")._3 === expect._1)
    assert(math.abs(out("t")._4.get - expect._2) < 1e-5)
    assert(math.abs(out("t")._5.get - expect._3) < 1e-5)
  }

  test("theilSen: exact slope on a line despite an outlier; n_pairs = m(m−1)/2; fractional slopes quantize to the fixed-point grid") {
    import graft.operators.TimeSeries
    val line = (0 to 10).map(i =>
      ("k", i.toLong, if (i == 5) 1000.0 else 3.0 * i + 1.0))
    val out = TimeSeries.theilSen(line.toDF("k", "o", "v").repartition(4),
      Seq("k"), ord = col("o"), value = col("v"))
      .select("k", "n_pairs", "slope")
      .as[(String, Long, Double)].collect().head
    // 45 of 55 pairwise slopes are exactly 3; the outlier's 10 wild
    // slopes split 5 high / 5 low — the median never leaves the line
    assert(out === (("k", 55L, 3.0)))
    // fractional slope: two points, slope 1/3 → floor to the 1e-6 grid
    val frac = TimeSeries.theilSen(
      Seq(("f", 0L, 0.0), ("f", 3L, 1.0)).toDF("k", "o", "v"),
      Seq("k"), ord = col("o"), value = col("v"))
      .select("n_pairs", "slope").as[(Long, Double)].head()
    assert(frac === ((1L, 0.333333)))
  }

  /** The A&S 26.2.17 tree as plain Scala — the scalar reference the
    * NormalDist Column tree must match bit-for-bit (same double ops).
    */
  private def refTwoSidedP(z: Double): Double = {
    val x = math.abs(z)
    val t = 1.0 / (1.0 + 0.2316419 * x)
    val poly = t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 +
      t * (-1.821255978 + t * 1.330274429))))
    val raw = 2.0 * (math.exp(-(x * x) / 2.0) * 0.3989422804014327 * poly)
    BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("NormalDist: known quantiles, symmetry, scalar-reference parity on a z grid, null passthrough") {
    import graft.functions.NormalDist
    val pos = Seq(0.1, 0.5, 1.0, 1.644854, 1.959964, 2.575829, 3.5)
    val zs = (pos.map(-_) :+ 0.0) ++ pos
    val df = zs.map(Tuple1(_)).toDF("z")
      .select(col("z"), NormalDist.cdf(col("z")).as("phi"),
        NormalDist.twoSidedP(col("z")).as("p"))
    val rows = df.as[(Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // textbook anchors (A&S error < 7.5e-8, invisible at round-6)
    assert(rows(0.0)._1 === 0.5)
    assert(math.abs(rows(1.959964)._1 - 0.975) < 1e-6)
    assert(math.abs(rows(1.959964)._2 - 0.05) < 1e-6)
    assert(math.abs(rows(1.644854)._2 - 0.10) < 1e-6)
    assert(math.abs(rows(2.575829)._2 - 0.01) < 1e-6)
    // symmetry: Φ(−x) + Φ(x) = 1 on the rounded grid
    zs.foreach { z =>
      assert(math.abs(rows(z)._1 + rows(-z)._1 - 1.0) < 1.01e-6, s"z=$z") }
    // two-sided p is even and matches the scalar tree exactly
    zs.foreach { z =>
      assert(rows(z)._2 === rows(-z)._2, s"z=$z")
      assert(rows(z)._2 === refTwoSidedP(z), s"z=$z") }
    // null z → null p (degenerate upstream test)
    val np = Seq((1, Option.empty[Double])).toDF("k", "z")
      .select(NormalDist.twoSidedP(col("z")).as("p"))
      .collect().head
    assert(np.isNullAt(0))
  }

  test("z-family p_value faces equal the NormalDist tree applied to the reported z") {
    val ev = (0L until 400L).map { i =>
      ("t", i, math.sin(i * 0.37) * 10.0 + (if (i % 2 == 0) 1.5 else 0.0))
    }.toDF("k", "uid", "v")
    val mz = StatsAgg.meanZTest(ev, Seq("k"), col("v"),
      cohort = col("uid") % 2 === 0, var1 = 50.0, var2 = 50.0)
      .select("z_stat", "p_value").as[(Double, Double)].head()
    assert(mz._2 === refTwoSidedP(mz._1))
    val mw = StatsAgg.mannWhitneyUTest(ev, Seq("k"), col("v"),
      cohort = col("uid") % 2 === 0)
      .select("z_stat", "p_value").as[(Double, Double)].head()
    assert(mw._2 === refTwoSidedP(mw._1))
    import graft.operators.TimeSeries
    val mk = TimeSeries.mannKendall(
      (0 to 30).map(i => ("k", i.toLong, i * 2.0 + (i % 3))).toDF("k", "o", "v"),
      Seq("k"), ord = col("o"), value = col("v"))
      .select("z_stat", "p_value").as[(Double, Double)].head()
    assert(mk._2 === refTwoSidedP(mk._1))
  }

  test("cusumChangepoint p_approx: Brownian-bridge tail — planted shift significant, constant null, scalar parity") {
    import graft.operators.TimeSeries
    // strong planted mean shift at t=30 of 60: max|S| huge vs sigma
    val shift = (0 until 60).map(i =>
      ("s", i.toLong, if (i < 30) 10.0 else 20.0))
    // same-variance series with NO shift (alternating): bridge stat tiny
    val flat = (0 until 60).map(i =>
      ("f", i.toLong, if (i % 2 == 0) 10.0 else 20.0))
    // constant: sigma = 0 → null p
    val const = (0 until 60).map(i => ("c", i.toLong, 7.0))
    val out = TimeSeries.cusumChangepoint(
      (shift ++ flat ++ const).toDF("k", "o", "v").repartition(4),
      Seq("k"), ord = col("o"), value = col("v"))
      .select("k", "n_rows", "cusum_abs", "p_approx")
      .as[(String, Long, Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(out("s")._4.get < 1e-6, s"planted shift not significant: ${out("s")}")
    assert(out("f")._4.get > 0.5, s"no-shift series flagged: ${out("f")}")
    assert(out("c")._4.isEmpty)
    // scalar parity on the shift key: b = max|S|/(σ√n) off the exact
    // fixed-point integers (scale 6), p = min(1, 2·exp(−2b²))
    val vs = shift.map(_._3 * 1e6)
    val n = vs.size
    val tot = vs.sum
    val prefix = vs.scanLeft(0.0)(_ + _).tail
    val maxD = (1 until n).map(t => math.abs(n * prefix(t - 1) - t * tot)).max
    val mu = tot / n
    val sigma = math.sqrt(vs.map(v => v * v).sum / n - mu * mu)
    val b = maxD / (sigma * n * math.sqrt(n.toDouble))
    val pRef = BigDecimal(math.min(1.0, 2.0 * math.exp(-2.0 * b * b)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("s")._4.get === pRef)
  }

  /** Scalar Wilson–Hilferty tree — same ops as NormalDist.chiSqUpperP. */
  private def refChiP(x: Double, k: Double): Double = {
    def ut(v: Double): Double = {
      val t = 1.0 / (1.0 + 0.2316419 * v)
      val poly = t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 +
        t * (-1.821255978 + t * 1.330274429))))
      math.exp(-(v * v) / 2.0) * 0.3989422804014327 * poly
    }
    val z = (math.cbrt(x / k) - (1.0 - 2.0 / (9.0 * k))) /
      math.sqrt(2.0 / (9.0 * k))
    val raw = if (z >= 0) ut(z) else 1.0 - ut(-z)
    BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("chiSqUpperP: Wilson-Hilferty hits the textbook chi-square quantiles; chi-family p_approx faces match the scalar tree") {
    import graft.functions.NormalDist
    // textbook upper-tail anchors (x = chi2inv(1-p, k)); W-H is an
    // approximation — a few 1e-3 absolute at small df (worst
    // measured here: 2.8e-3 at k=1, 2.3e-3 at k=2/p=0.1)
    val anchors = Seq(
      (3.841, 1.0, 0.05), (5.991, 2.0, 0.05), (7.815, 3.0, 0.05),
      (9.488, 4.0, 0.05), (13.277, 4.0, 0.01), (4.605, 2.0, 0.10))
    val got = anchors.map(Tuple3.unapply(_).get).map(_._1)
      .zip(anchors.map(_._2))
      .toDF("x", "k")
      .select(NormalDist.chiSqUpperP(col("x"), col("k")).as("p"))
      .as[Double].collect()
    anchors.zip(got).foreach { case ((_, k, want), p) =>
      assert(math.abs(p - want) < 4e-3, s"$p vs $want at k=$k") }
    // the three chi-family operators report exactly the scalar tree
    // applied to their rounded statistic
    val ev = (0L until 300L).map { i =>
      ("t", i, i % 3, math.sin(i * 0.61) * 9.0 + (i % 3) * 0.4)
    }.toDF("k", "uid", "g", "v")
    val kw = StatsAgg.kruskalWallis(ev, Seq("k"), col("v"),
      group = col("g"))
      .select("n_groups", "h_stat", "p_approx")
      .as[(Long, Double, Double)].head()
    assert(kw._3 === refChiP(kw._2, (kw._1 - 1).toDouble))
    val jb = StatsAgg.jarqueBera(ev, Seq("k"), col("v"))
      .select("jb_stat", "p_approx").as[(Double, Double)].head()
    assert(jb._2 === refChiP(jb._1, 2.0))
    val fr = StatsAgg.friedman(
      (0 until 60).map(i => ("t", i / 3, "g" + (i % 3),
        math.cos(i * 0.47) * 5.0 + (i % 3))).toDF("k", "b", "g", "v"),
      Seq("k"), block = col("b"), treatment = col("g"), value = col("v"))
      .select("n_treatments", "q_stat", "p_approx")
      .as[(Long, Double, Double)].head()
    assert(fr._3 === refChiP(fr._2, (fr._1 - 1).toDouble))
  }

  /** Scalar Paulson tree — same ops as NormalDist.fUpperP. */
  private def refFP(f: Double, d1: Double, d2: Double): Double = {
    def ut(v: Double): Double = {
      val t = 1.0 / (1.0 + 0.2316419 * v)
      val poly = t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 +
        t * (-1.821255978 + t * 1.330274429))))
      math.exp(-(v * v) / 2.0) * 0.3989422804014327 * poly
    }
    val c = math.cbrt(f)
    val z = ((1.0 - 2.0 / (9.0 * d2)) * c - (1.0 - 2.0 / (9.0 * d1))) /
      math.sqrt(2.0 / (9.0 * d1) + c * c * (2.0 / (9.0 * d2)))
    val raw = if (z >= 0) ut(z) else 1.0 - ut(-z)
    BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("fUpperP: Paulson hits the textbook F and t quantiles; ANOVA/t-family p_approx faces match the scalar tree") {
    import graft.functions.NormalDist
    // F upper-tail anchors (x = Finv(1-p; d1, d2)) and the t identity
    // P(|T_ν| > t) = P(F₁,ν > t²); Paulson error ≲3e-3 at d1 = 1
    val anchors = Seq(
      (3.49, 2.0, 20.0, 0.05), (2.40, 5.0, 50.0, 0.05),
      (4.51, 3.0, 30.0, 0.01), (2.92, 3.0, 30.0, 0.05),
      (2.228 * 2.228, 1.0, 10.0, 0.05),  // t(0.975, 10)
      (2.042 * 2.042, 1.0, 30.0, 0.05),  // t(0.975, 30)
      (2.750 * 2.750, 1.0, 30.0, 0.01))  // t(0.995, 30)
    val got = anchors.map(a => (a._1, a._2, a._3))
      .toDF("f", "d1", "d2")
      .select(NormalDist.fUpperP(col("f"), col("d1"), col("d2")).as("p"))
      .as[Double].collect()
    anchors.zip(got).foreach { case ((_, d1, _, want), p) =>
      assert(math.abs(p - want) < 4e-3, s"$p vs $want at d1=$d1") }
    // operator faces: each p_approx is exactly the scalar tree applied
    // to the rounded statistic pair
    val ev = (0L until 400L).map { i =>
      ("t", i, i % 4, math.sin(i * 0.83) * 8.0 + (i % 4) * 0.3)
    }.toDF("k", "uid", "g", "v")
    val an = StatsAgg.anova(ev, Seq("k"), col("v"), group = col("g"))
      .select("f_stat", "df1", "df2", "p_approx")
      .as[(Double, Long, Long, Double)].head()
    assert(an._4 === refFP(an._1, an._2.toDouble, an._3.toDouble))
    val we = StatsAgg.welchTTest(ev, Seq("k"), col("v"),
      cohort = col("uid") % 2 === 0)
      .select("t_stat", "df", "p_approx")
      .as[(Double, Double, Double)].head()
    assert(we._3 === refFP(we._1 * we._1, 1.0, we._2))
    val st = StatsAgg.studentTTest(ev, Seq("k"), col("v"),
      cohort = col("uid") % 2 === 0)
      .select("t_stat", "df", "p_approx")
      .as[(Double, Long, Double)].head()
    assert(st._3 === refFP(st._1 * st._1, 1.0, st._2.toDouble))
    val pt = StatsAgg.pairedTTest(
      (0L until 200L).map(i =>
        ("t", math.sin(i * 0.3) * 4.0, math.sin(i * 0.3) * 4.0 +
          0.3 + (i % 5) * 0.11)).toDF("k", "x", "y"),
      Seq("k"), x = col("x"), y = col("y"))
      .select("t_stat", "df", "p_approx")
      .as[(Double, Long, Double)].head()
    assert(pt._3 === refFP(pt._1 * pt._1, 1.0, pt._2.toDouble))
  }

  test("ksP: Kolmogorov tail hits the textbook quantiles; the two regimes agree at the crossover; ksTest p_approx matches the scalar tree") {
    import graft.functions.NormalDist
    // textbook two-sided Kolmogorov quantiles: Q(1.3581) = 0.05,
    // Q(1.2238) = 0.10, Q(1.6276) = 0.01, Q(1.0727) = 0.20
    val anchors = Seq((1.3581, 0.05), (1.2238, 0.10), (1.6276, 0.01),
      (1.0727, 0.20), (0.5, 0.9639), (2.0, 0.00067))
    val got = anchors.map(_._1).map(Tuple1(_)).toDF("l")
      .select(NormalDist.ksP(col("l")).as("p")).as[Double].collect()
    anchors.zip(got).foreach { case ((l, want), p) =>
      assert(math.abs(p - want) < 5e-4, s"$p vs $want at λ=$l") }
    // the series and theta-dual forms agree through the 1.18 crossover
    val near = Seq(1.17, 1.1799, 1.18, 1.1801, 1.19)
    val vals = near.map(Tuple1(_)).toDF("l")
      .select(NormalDist.ksP(col("l")).as("p")).as[Double].collect()
    near.zip(vals).sliding(2).foreach { w =>
      if (w.size == 2)
        assert(w(0)._2 >= w(1)._2 && w(0)._2 - w(1)._2 < 0.01,
          s"crossover jump: $w") }
    // operator face: p_approx is exactly the scalar tree at
    // λ = D·sqrt(n1·n2/(n1+n2)) off the rounded D
    val ev = (0L until 400L).map { i =>
      ("t", i, math.sin(i * 0.29) * 7.0 + (if (i % 2 == 0) 0.8 else 0.0))
    }.toDF("k", "uid", "v")
    val ks = StatsAgg.ksTest(ev, Seq("k"), col("v"),
      cohort = col("uid") % 2 === 0)
      .select("n1", "n2", "d_stat", "p_approx")
      .as[(Long, Long, Double, Double)].head()
    val lam = math.sqrt(ks._1.toDouble * ks._2.toDouble /
      (ks._1.toDouble + ks._2.toDouble)) * ks._3
    def refKs(l: Double): Double = {
      val l2 = l * l
      val raw =
        if (l <= 0) 1.0
        else if (l < 1.18)
          math.max(0.0, math.min(1.0, 1.0 - 2.5066282746310002 / l *
            (math.exp(-1.233700550136170 / l2) +
              math.exp(-11.10330495122553 / l2) +
              math.exp(-30.84251375340425 / l2))))
        else 2.0 * (math.exp(-2.0 * l2) - math.exp(-8.0 * l2) +
          math.exp(-18.0 * l2))
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(ks._4 === refKs(lam))
  }

  test("fdrAdjust: matches the scalar BH step-up on a random panel; monotone; clamped; null p drops; families independent") {
    val rnd = new scala.util.Random(41)
    val panel = (0 until 40).map(i =>
      ("fam" + (i % 2), f"h$i%02d",
        if (i == 7) Option.empty[Double]
        else Some(BigDecimal(rnd.nextDouble()).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)))
    val out = StatsAgg.fdrAdjust(
      panel.toDF("fam", "h", "p").repartition(4),
      Seq("fam"), p = col("p"), tie = col("h"))
      .select("fam", "tie", "p_value", "bh_rank", "q_value")
      .as[(String, String, Double, Long, Double)].collect()
    // scalar BH per family
    def refBH(ps: Seq[(String, Double)]): Map[String, Double] = {
      val sorted = ps.sortBy(x => (x._2, x._1))
      val m = sorted.size
      val raw = sorted.zipWithIndex.map { case ((h, p), i) =>
        (h, p * m / (i + 1)) }
      // running min from the tail, clamp at 1
      val qs = raw.scanRight(Double.MaxValue)((x, acc) =>
        math.min(x._2, acc)).init
      sorted.map(_._1).zip(qs.map(q => BigDecimal(math.min(1.0, q))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toMap
    }
    val byFam = panel.collect { case (f, h, Some(p)) => (f, h, p) }
      .groupBy(_._1)
    byFam.foreach { case (fam, hs) =>
      val ref = refBH(hs.map(x => (x._2, x._3)))
      val got = out.filter(_._1 == fam)
      assert(got.length === hs.size, s"$fam: null-p row not dropped?")
      got.foreach { case (_, h, _, _, q) =>
        assert(q === ref(h), s"$fam/$h") }
      // q monotone non-decreasing along bh_rank, all within [0,1]
      val sorted = got.sortBy(_._4)
      sorted.sliding(2).foreach { w =>
        if (w.size == 2) assert(w(0)._5 <= w(1)._5) }
      assert(sorted.forall(r => r._5 >= 0.0 && r._5 <= 1.0))
    }
  }

  test("A28b brownForsythe: location-shift invariant; planted heteroscedasticity flags; equal spreads don't; equals anova on the deviation table") {
    val rnd = new scala.util.Random(53)
    // four groups, same spread, different MEANS — BF must NOT fire
    // (that's ANOVA's job), exercising the median-centering
    val sameSpread = (0 until 400).map { i =>
      val g = i % 4
      ("g", g, g * 50.0 + (rnd.nextInt(200) - 100) / 10.0)
    }
    val bfSame = StatsAgg.brownForsythe(sameSpread.toDF("k", "g", "v"),
      Seq("k"), col("v"), col("g"))
      .select("f_stat", "p_approx").as[(Double, Double)].collect().head
    assert(bfSame._2 > 0.05, s"equal spreads flagged: $bfSame")
    // one group with 8x the spread — BF must fire hard
    val hetero = (0 until 400).map { i =>
      val g = i % 4
      val spread = if (g == 3) 80.0 else 10.0
      ("g", g, (rnd.nextInt(200) - 100) / 100.0 * spread)
    }
    val bfHet = StatsAgg.brownForsythe(hetero.toDF("k", "g", "v"),
      Seq("k"), col("v"), col("g"))
      .select("f_stat", "p_approx").as[(Double, Double)].collect().head
    assert(bfHet._1 > 10.0 && bfHet._2 < 0.01, s"heteroscedastic missed: $bfHet")
    // composition law: BF == anova on the externally-computed
    // doubled deviation table (identical quantization path)
    val df = hetero.toDF("k", "g", "v")
    val rows = df.select(col("k"), col("g"),
      floor(col("v") * 100.0).as("w"))
    val med = rows.groupBy(col("k"), col("g"))
      .agg(expr("percentile(w, 0.5D)").as("med"))
    val z = rows.join(med, Seq("k", "g"))
      .withColumn("z2", abs(col("w") - col("med")) * 2.0)
    val viaAnova = StatsAgg.anova(z, Seq("k"), col("z2"), col("g"),
      scale = 0).select("f_stat", "p_approx")
      .as[(Double, Double)].collect().head
    assert(bfHet === viaAnova)
  }

  test("A40c fdrAdjustBY: q = clamp(c(m) · BH tail-min) with the exact harmonic factor; BY >= BH pointwise; families independent") {
    val rnd = new scala.util.Random(47)
    val panel = (0 until 30).map(i =>
      ("fam" + (i % 2), f"h$i%02d",
        BigDecimal(rnd.nextDouble()).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble))
    val by = StatsAgg.fdrAdjustBY(
      panel.toDF("fam", "h", "p").repartition(5),
      Seq("fam"), p = col("p"), tie = col("h"))
      .select("fam", "tie", "p_value", "bh_rank", "cm", "q_value")
      .as[(String, String, Double, Long, Double, Double)].collect()
    val bh = StatsAgg.fdrAdjust(panel.toDF("fam", "h", "p"),
      Seq("fam"), p = col("p"), tie = col("h"))
      .select("fam", "tie", "q_value")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    panel.groupBy(_._1).foreach { case (fam, hs) =>
      val m = hs.size
      // the scalar harmonic factor with the operator's 9-dp grid
      val cmRef = (1 to m).map(j => BigDecimal(1.0 / j).setScale(9,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val got = by.filter(_._1 == fam)
      got.foreach { case (_, h, _, _, cm, q) =>
        assert(cm === r6(cmRef), s"$fam cm")
        // BY never undercuts BH, and hits the c(m) inflation exactly
        // wherever BH's q is off its clamp
        assert(q >= bh((fam, h)) - 1e-9, s"$fam/$h BY < BH")
      }
      assert(got.forall(r => r._6 >= 0.0 && r._6 <= 1.0))
    }
  }

  test("fdrAdjust(storeyLambda): pi0 equals the λ-plugin on each family; q = clamp(pi0 · BH tail-min); all-null panel floors at 1/m; λ→degenerate clamps at 1") {
    val rnd = new scala.util.Random(43)
    // family "drift": half the panel tiny p (true effects) → π̂₀ < 1;
    // family "calm": uniform p → π̂₀ near 1 (clamped at 1 if above)
    val panel =
      (0 until 20).map(i => ("drift", f"h$i%02d",
        if (i < 10) rnd.nextDouble() * 1e-4 else rnd.nextDouble())) ++
      (0 until 20).map(i => ("calm", f"h$i%02d", 0.5 + rnd.nextDouble() / 2))
    val quant = panel.map { case (f, h, p) =>
      (f, h, BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    val lam = 0.5
    val out = StatsAgg.fdrAdjust(
      quant.toDF("fam", "h", "p").repartition(4),
      Seq("fam"), p = col("p"), tie = col("h"), storeyLambda = Some(lam))
      .select("fam", "tie", "p_value", "bh_rank", "pi0", "q_value")
      .as[(String, String, Double, Long, Double, Double)].collect()
    quant.groupBy(_._1).foreach { case (fam, hs) =>
      val m = hs.size
      val pi0u = math.min(1.0, math.max(1.0 / m,
        hs.count(_._3 > lam).toDouble / (m * (1.0 - lam))))
      val got = out.filter(_._1 == fam)
      // reported pi0 is the round-6 image of the plugin
      val pi0r = BigDecimal(pi0u).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      got.foreach(r => assert(r._5 === pi0r, s"$fam pi0"))
      // q = clamp(pi0u * BH tail-min) with the unrounded pi0
      val sorted = hs.sortBy(x => (x._3, x._2))
      val raw = sorted.zipWithIndex.map { case ((_, h, p), i) =>
        (h, p * m / (i + 1)) }
      val tails = raw.scanRight(Double.MaxValue)((x, acc) =>
        math.min(x._2, acc)).init
      val ref = sorted.map(_._2).zip(tails.map(t =>
        BigDecimal(math.min(1.0, pi0u * t)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)).toMap
      got.foreach { case (_, h, _, _, _, q) => assert(q === ref(h), s"$fam/$h") }
    }
    // the drift family's plugin must have actually sharpened (< 1)
    assert(out.filter(_._1 == "drift").head._5 < 1.0)
    assert(out.filter(_._1 == "calm").head._5 === 1.0)
    // degenerate: every p <= λ → count 0 → floor at 1/m
    val allLow = (0 until 8).map(i => ("f", f"h$i", 1e-6 * (i + 1)))
    val low = StatsAgg.fdrAdjust(allLow.toDF("fam", "h", "p"), Seq("fam"),
      p = col("p"), tie = col("h"), storeyLambda = Some(lam))
      .select("pi0").as[Double].collect()
    assert(low.forall(_ === BigDecimal(1.0 / 8).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  // ---- A44 Kaplan–Meier survival --------------------------------------

  test("A44 kaplanMeier: textbook curve with censoring matches the scalar exp-sum-ln tree") {
    // (duration, event): events at 1, 3, 3, 5; censored at 2, 4, 6
    val subj = Seq((1L, 1), (2L, 0), (3L, 1), (3L, 1), (4L, 0), (5L, 1), (6L, 0))
      .map { case (t, e) => ("g", t, e) }
    val out = StatsAgg.kaplanMeier(subj.toDF("k", "dur", "ev"), Seq("k"),
      col("dur"), col("ev"))
      .orderBy(col("t"))
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    // scalar reference through the SAME tree (exp of running ln sum)
    val grid = Seq( // (t, n_risk, d, censored)
      (1L, 7L, 1L, 0L), (2L, 6L, 0L, 1L), (3L, 5L, 2L, 0L),
      (4L, 3L, 0L, 1L), (5L, 2L, 1L, 0L), (6L, 1L, 0L, 1L))
    var acc = 0.0
    val expect = grid.map { case (t, n, d, c) =>
      if (d > 0) acc += math.log(1.0 - d.toDouble / n.toDouble)
      ("g", t, n, d, c,
        BigDecimal(math.exp(acc)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(out === expect)
    // spot-check the textbook values
    assert(out(0)._6 === 0.857143 && out(2)._6 === 0.514286 &&
      out(4)._6 === 0.257143)
  }

  test("A44 kaplanMeier: all-event cohort reaches exactly 0; invalid durations drop; repartition-stable") {
    val subj = (Seq((1L, 1), (2L, 1), (2L, 1)).map { case (t, e) => ("a", t, e) } ++
      Seq(("a", -1L, 1)) ++ // negative duration must drop
      Seq(("b", 5L, 0))) // censor-only cohort stays at 1.0
    val df = subj.toDF("k", "dur", "ev")
    def run(d: org.apache.spark.sql.DataFrame) =
      StatsAgg.kaplanMeier(d, Seq("k"), col("dur"), col("ev"))
        .orderBy(col("k"), col("t"))
        .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    val out = run(df.repartition(5))
    assert(out === run(df.coalesce(1)))
    assert(out.filter(_._1 == "a").map(_._2) === Seq(1L, 2L)) // -1 dropped
    assert(out.filter(_._1 == "a").last._6 === 0.0) // everyone churned
    assert(out.filter(_._1 == "b") === Seq(("b", 5L, 1L, 0L, 1L, 1.0)))
  }

  test("A44b kaplanMeierCi: Greenwood bands match a scalar reference; bracket/clamp/zero laws") {
    val subj = Seq((1L, 1), (2L, 0), (3L, 1), (3L, 1), (4L, 0), (5L, 1), (6L, 0))
      .map { case (t, e) => ("g", t, e) }
    val out = StatsAgg.kaplanMeierCi(subj.toDF("k", "dur", "ev"), Seq("k"),
      col("dur"), col("ev"))
      .orderBy(col("t"))
      .as[(String, Long, Long, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    // scalar Greenwood over the same grid
    val grid = Seq((1L, 7L, 1L), (2L, 6L, 0L), (3L, 5L, 2L),
      (4L, 3L, 0L), (5L, 2L, 1L), (6L, 1L, 0L))
    var lacc = 0.0; var vacc = 0.0
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = grid.map { case (t, n, d) =>
      if (d > 0 && d < n) {
        lacc += math.log(1.0 - d.toDouble / n)
        vacc += d.toDouble / (n.toDouble * (n - d))
      }
      val s = math.exp(lacc); val se = s * math.sqrt(vacc)
      (t, r6(s), r6(se),
        r6(math.max(0.0, s - 1.959964 * se)),
        r6(math.min(1.0, s + 1.959964 * se)))
    }
    assert(out.map(r => (r._2, r._6, r._7, r._8, r._9)) === expect)
    for (r <- out) {
      assert(r._8 <= r._6 && r._6 <= r._9) // band brackets the curve
      assert(r._8 >= 0.0 && r._9 <= 1.0)   // clamped to the domain
    }
    // survival column identical to the plain A44 face
    val plain = StatsAgg.kaplanMeier(subj.toDF("k", "dur", "ev"), Seq("k"),
      col("dur"), col("ev")).orderBy(col("t"))
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out.map(_._6) === plain.map(_._6))
  }

  test("A44b kaplanMeierCi: zero-curve tail nulls the band; censor-only cohort has zero-width-ish band") {
    val subj = Seq(("a", 1L, 1), ("a", 2L, 1), ("a", 2L, 1), ("b", 5L, 0))
    val out = StatsAgg.kaplanMeierCi(subj.toDF("k", "dur", "ev"), Seq("k"),
      col("dur"), col("ev"))
      .orderBy(col("k"), col("t"))
      .select(col("k"), col("t"), col("survival"), col("se"), col("ci_lo"),
        col("ci_hi"))
      .collect().toSeq
    val aLast = out.filter(_.getString(0) == "a").last
    assert(aLast.getDouble(2) === 0.0 && aLast.isNullAt(3) &&
      aLast.isNullAt(4) && aLast.isNullAt(5))
    val b = out.filter(_.getString(0) == "b").head
    // no events: survival 1, variance sum 0 → se 0, band [1, 1]
    assert(b.getDouble(2) === 1.0 && b.getDouble(3) === 0.0 &&
      b.getDouble(4) === 1.0 && b.getDouble(5) === 1.0)
  }

  // ---- A46 Cox proportional hazards --------------------------------------

  /** The operator's 3-step Newton as a scalar loop with the identical
    * 9-dp quantization.
    */
  private def scalarCox(subj: Seq[(Long, Int, Int)], iters: Int): Option[(Double, Double)] = {
    val times = subj.map(_._1).distinct.sorted
    def grid = times.map { t =>
      val atRisk = subj.filter(_._1 >= t)
      val n1 = atRisk.count(_._3 == 1)
      val n0 = atRisk.size - n1
      val d = subj.count(x => x._1 == t && x._2 == 1)
      (n0.toDouble, n1.toDouble, d.toDouble)
    }
    val o1 = subj.count(x => x._2 == 1 && x._3 == 1).toDouble
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    var b = 0.0
    for (_ <- 0 until iters) {
      var su = BigDecimal(0); var ii = BigDecimal(0)
      for ((n0, n1, d) <- grid if d > 0) {
        val eb = math.exp(b)
        val den = n0 + n1 * eb
        su += r9(d * (n1 * eb / den))
        ii += r9(d * (n1 * eb * n0) / (den * den))
      }
      if (ii.toDouble > 1e-12) b = b + (o1 - su.toDouble) / ii.toDouble
    }
    var iF = BigDecimal(0)
    for ((n0, n1, d) <- grid if d > 0) {
      val eb = math.exp(b)
      val den = n0 + n1 * eb
      iF += r9(d * (n1 * eb * n0) / (den * den))
    }
    if (iF.toDouble > 1e-12)
      Some((BigDecimal(b).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(b * math.sqrt(iF.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    else None
  }

  test("A46 coxPh: identical cohorts fit beta exactly 0; separated cohorts a significant positive hazard ratio; scalar Newton parity") {
    // identical cohorts -> U(0) = O1 - E1 = 0 -> beta pinned at 0
    val same = (1 to 20).flatMap(i =>
      Seq(("g", i.toLong, i % 3 min 1, 0), ("g", i.toLong, i % 3 min 1, 1)))
    val out = StatsAgg.coxPh(same.toDF("k", "dur", "ev", "grp"),
      Seq("k"), col("dur"), col("ev"), col("grp"))
      .select("beta", "hazard_ratio", "z", "p_value")
      .as[(Double, Double, Double, Double)].collect().head
    assert(out._1 === 0.0 && out._2 === 1.0 && out._3 === 0.0)
    assert(out._4 > 0.99)
    // group 1 churns faster with OVERLAPPING durations (perfect
    // separation would degenerate the Wald information — a property
    // of the test, not the fit): moderate beta, strong significance
    val sep = (1 to 60).map(i =>
      if (i % 2 == 1) ("g", (i % 5 + 1).toLong, 1, 1)
      else ("g", (i % 7 + 4).toLong, 1, 0))
    val sepOut = StatsAgg.coxPh(sep.toDF("k", "dur", "ev", "grp"),
      Seq("k"), col("dur"), col("ev"), col("grp"))
      .select("beta", "hazard_ratio", "p_value")
      .as[(Double, Double, Double)].collect().head
    assert(sepOut._1 > 0.5 && sepOut._2 > 1.6 && sepOut._3 < 0.01, sepOut)
    // scalar parity (bit-level incl. quantization) on a mixed fixture
    val rnd = new scala.util.Random(61)
    val mixed = (0 until 90).map { i =>
      val g = i % 2
      ("g", (rnd.nextInt(10) + (if (g == 1) 0 else 2)).toLong,
        if (rnd.nextInt(4) > 0) 1 else 0, g)
    }
    val got = StatsAgg.coxPh(
      mixed.toDF("k", "dur", "ev", "grp").repartition(7),
      Seq("k"), col("dur"), col("ev"), col("grp"))
      .select("beta", "z").as[(Double, Double)].collect().head
    val Some(expect) = scalarCox(mixed.map(m => (m._2, m._3, m._4)), 3)
    assert((got._1, got._2) === expect)
  }

  test("A44c nelsonAalen: scalar reference parity; FH bounds KM from above; additive monotone hazard") {
    val subj = Seq((1L, 1), (2L, 0), (3L, 1), (3L, 1), (4L, 0), (5L, 1), (6L, 0))
      .map { case (t, e) => ("g", t, e) }
    val out = StatsAgg.nelsonAalen(subj.toDF("k", "dur", "ev"), Seq("k"),
      col("dur"), col("ev"))
      .orderBy(col("t"))
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val grid = Seq((1L, 7L, 1L), (2L, 6L, 0L), (3L, 5L, 2L),
      (4L, 3L, 0L), (5L, 2L, 1L), (6L, 1L, 0L))
    var h = 0.0; var hv = 0.0
    val expect = grid.map { case (t, n, d) =>
      if (d > 0) { h += d.toDouble / n; hv += d.toDouble / (n.toDouble * n) }
      (t, r6(h), r6(hv), r6(math.exp(-h)))
    }
    assert(out.map(r => (r._2, r._6, r._7, r._8)) === expect)
    // H is nondecreasing; Fleming–Harrington survival >= KM pointwise
    assert(out.map(_._6) === out.map(_._6).sorted)
    val km = StatsAgg.kaplanMeier(subj.toDF("k", "dur", "ev"), Seq("k"),
      col("dur"), col("ev")).orderBy(col("t"))
      .as[(String, Long, Long, Long, Long, Double)].collect()
    for ((na, k) <- out.zip(km))
      assert(na._8 >= k._6 - 1e-9, s"FH ${na._8} < KM ${k._6} at t=${na._2}")
  }

  // ---- A46b multi-covariate Cox ------------------------------------------

  /** The multi-covariate operator's Newton as a scalar loop with the
    * identical quantization points: 9-dp per-subject moment terms,
    * exact reverse-cumulative risk sums, 9-dp per-time U/I terms, 9-dp
    * β after each 2×2 Cramer step.
    */
  private def scalarCoxMulti(subj: Seq[(Long, Int, Double, Double)],
      iters: Int): Option[(Double, Double, Double, Double, Double, Double)] = {
    val times = subj.map(_._1).distinct.sorted
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r9d(x: Double) = r9(x).toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // β-independent: d(t) and event-covariate sums
    val dAt = times.map(t => t -> subj.count(s => s._1 == t && s._2 == 1)).toMap
    val sxeAt = times.map { t =>
      val ev = subj.filter(s => s._1 == t && s._2 == 1)
      t -> (ev.map(s => r9(s._3)).sum.toDouble,
        ev.map(s => r9(s._4)).sum.toDouble)
    }.toMap
    def ui(b0: Double, b1: Double) = {
      val aAt = times.map { t =>
        val here = subj.filter(_._1 == t)
        def m(f: ((Long, Int, Double, Double)) => Double) =
          here.map(s => r9(f(s))).sum
        t -> (m(s => math.exp(b0 * s._3 + b1 * s._4)),
          m(s => s._3 * math.exp(b0 * s._3 + b1 * s._4)),
          m(s => s._4 * math.exp(b0 * s._3 + b1 * s._4)),
          m(s => s._3 * s._3 * math.exp(b0 * s._3 + b1 * s._4)),
          m(s => s._3 * s._4 * math.exp(b0 * s._3 + b1 * s._4)),
          m(s => s._4 * s._4 * math.exp(b0 * s._3 + b1 * s._4)))
      }.toMap
      var u0 = BigDecimal(0); var u1 = BigDecimal(0)
      var i00 = BigDecimal(0); var i01 = BigDecimal(0); var i11 = BigDecimal(0)
      for (t <- times if dAt(t) > 0) {
        val tail = times.filter(_ >= t).map(aAt)
        val s0 = tail.map(_._1).sum.toDouble
        val sf0 = tail.map(_._2).sum.toDouble
        val sf1 = tail.map(_._3).sum.toDouble
        val sp00 = tail.map(_._4).sum.toDouble
        val sp01 = tail.map(_._5).sum.toDouble
        val sp11 = tail.map(_._6).sum.toDouble
        val d = dAt(t).toDouble
        u0 += r9(sxeAt(t)._1 - d * (sf0 / s0))
        u1 += r9(sxeAt(t)._2 - d * (sf1 / s0))
        i00 += r9(d * (sp00 / s0 - (sf0 / s0) * (sf0 / s0)))
        i01 += r9(d * (sp01 / s0 - (sf0 / s0) * (sf1 / s0)))
        i11 += r9(d * (sp11 / s0 - (sf1 / s0) * (sf1 / s0)))
      }
      (u0.toDouble, u1.toDouble, i00.toDouble, i01.toDouble, i11.toDouble)
    }
    var b0 = 0.0; var b1 = 0.0
    for (_ <- 0 until iters) {
      val (u0, u1, i00, i01, i11) = ui(b0, b1)
      val det = i00 * i11 - i01 * i01
      if (det > 1e-12 && i00 > 0.0) {
        val nb0 = r9d(b0 + (u0 * i11 - i01 * u1) / det)
        val nb1 = r9d(b1 + (i00 * u1 - u0 * i01) / det)
        b0 = nb0; b1 = nb1
      }
    }
    val (_, _, i00, i01, i11) = ui(b0, b1)
    val det = i00 * i11 - i01 * i01
    if (det > 1e-12 && i00 > 0.0) {
      val se0 = math.sqrt(i11 / det); val se1 = math.sqrt(i00 / det)
      Some((r6(b0), r6(se0), r6(b0 / se0), r6(b1), r6(se1), r6(b1 / se1)))
    } else None
  }

  test("A46b coxPhMulti: bit-level scalar-Newton parity on a mixed fixture; partition-stable") {
    val rnd = new scala.util.Random(67)
    val subj = (0 until 120).map { i =>
      val x0 = (i % 2).toDouble
      val x1 = ((i / 2) % 4) * 0.25
      val dur = (rnd.nextInt(9) + 1 + (if (x0 > 0) 0 else 2) +
        (x1 * 4).toInt % 2).toLong
      val ev = if (rnd.nextInt(5) > 0) 1 else 0
      ("g", dur, ev, x0, x1)
    }
    def run(np: Int) = StatsAgg.coxPhMulti(
      subj.toDF("k", "dur", "ev", "x0", "x1").repartition(np),
      Seq("k"), col("dur"), col("ev"), Seq(col("x0"), col("x1")))
      .select("beta0", "se0", "z0", "beta1", "se1", "z1")
      .as[(Double, Double, Double, Double, Double, Double)].collect().head
    val got = run(7)
    assert(got === run(1)) // partition-order invariant
    val Some(expect) = scalarCoxMulti(
      subj.map(s => (s._2, s._3, s._4, s._5)), 3)
    assert(got === expect)
  }

  test("A46b coxPhMulti: adjusted treatment effect recovered; collinear covariates null the stats") {
    // x0 = treatment churns faster, x1 pure noise on an exact grid
    val rnd = new scala.util.Random(71)
    val subj = (0 until 200).map { i =>
      val x0 = (i % 2).toDouble
      val x1 = (rnd.nextInt(4)) * 0.25
      val dur = (rnd.nextInt(6) + 1 + (if (x0 > 0) 0 else 4)).toLong
      ("g", dur, 1, x0, x1)
    }
    val out = StatsAgg.coxPhMulti(subj.toDF("k", "dur", "ev", "x0", "x1"),
      Seq("k"), col("dur"), col("ev"), Seq(col("x0"), col("x1")))
      .select("beta0", "hr0", "p0", "beta1")
      .as[(Double, Double, Double, Double)].collect().head
    assert(out._1 > 0.5 && out._2 > 1.6 && out._3 < 0.01, out)
    assert(math.abs(out._4) < 0.6, out)
    // x1 == x0 exactly: singular information → stats null, counts kept
    val col2 = subj.map(s => (s._1, s._2, s._3, s._4, s._4))
    val sing = StatsAgg.coxPhMulti(col2.toDF("k", "dur", "ev", "x0", "x1"),
      Seq("k"), col("dur"), col("ev"), Seq(col("x0"), col("x1")))
      .select("n_subjects", "beta0", "se0", "beta1")
      .collect().head
    assert(sing.getLong(0) === 200L)
    assert(sing.isNullAt(1) && sing.isNullAt(2) && sing.isNullAt(3))
  }

  test("A46c coxPhMulti p=3: bit-level scalar parity of the adjugate Newton incl. every quantization point") {
    val rnd = new scala.util.Random(83)
    val subj = (0 until 120).map { i =>
      val xs = Seq((i % 2).toDouble, ((i / 2) % 4) * 0.25,
        ((i / 8) % 3) * 0.5)
      val dur = (rnd.nextInt(9) + 1 + (if (xs(0) > 0) 0 else 2)).toLong
      ("g", dur, if (rnd.nextInt(5) > 0) 1 else 0, xs)
    }
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r9d(x: Double) = r9(x).toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val times = subj.map(_._2).distinct.sorted
    val dAt = times.map(t =>
      t -> subj.count(s => s._2 == t && s._3 == 1)).toMap
    val sxeAt = times.map { t =>
      val ev = subj.filter(s => s._2 == t && s._3 == 1)
      t -> (0 to 2).map(k => ev.map(s => r9(s._4(k))).sum.toDouble)
    }.toMap
    val prs = for (a <- 0 to 2; b <- a to 2) yield (a, b)
    def ui(bs: Seq[Double]) = {
      val aAt = times.map { t =>
        val here = subj.filter(_._2 == t)
        def m(f: Seq[Double] => Double) = here.map(s => r9(f(s._4))).sum
        def w(x: Seq[Double]) =
          math.exp(bs(0) * x(0) + bs(1) * x(1) + bs(2) * x(2))
        t -> (m(w) +: ((0 to 2).map(k => m(x => x(k) * w(x))) ++
          prs.map { case (a, b) => m(x => x(a) * x(b) * w(x)) }))
      }.toMap
      val u = Array.fill(3)(BigDecimal(0))
      val iM = scala.collection.mutable.Map[(Int, Int), BigDecimal]()
        .withDefaultValue(BigDecimal(0))
      for (t <- times if dAt(t) > 0) {
        val tail = times.filter(_ >= t).map(aAt)
        def s(idx: Int) = tail.map(_(idx)).sum.toDouble
        val s0 = s(0); val sf = (0 to 2).map(k => s(1 + k))
        val sp = prs.zipWithIndex.map { case (_, i) => s(4 + i) }
        val d = dAt(t).toDouble
        for (k <- 0 to 2) u(k) += r9(sxeAt(t)(k) - d * (sf(k) / s0))
        prs.zipWithIndex.foreach { case ((a, b), i) =>
          iM((a, b)) += r9(d * (sp(i) / s0 - (sf(a) / s0) * (sf(b) / s0)))
        }
      }
      (u.map(_.toDouble).toSeq,
        prs.map { case (a, b) => iM((a, b)).toDouble })
    }
    def adjDet(ii: Seq[Double]) = {
      val Seq(a, b, c, d, e, f) = ii
      val det = a * (d * f - e * e) - b * (b * f - c * e) +
        c * (b * e - d * c)
      val adj = Seq(d * f - e * e, -(b * f - c * e), b * e - d * c,
        a * f - c * c, -(a * e - b * c), a * d - b * b)
      (det, adj)
    }
    var bs = Seq(0.0, 0.0, 0.0)
    for (_ <- 0 until 3) {
      val (u, ii) = ui(bs)
      val (det, adj) = adjDet(ii)
      if (det > 1e-12 && ii(0) > 0.0) {
        val nums = Seq(
          adj(0) * u(0) + adj(1) * u(1) + adj(2) * u(2),
          adj(1) * u(0) + adj(3) * u(1) + adj(4) * u(2),
          adj(2) * u(0) + adj(4) * u(1) + adj(5) * u(2))
        bs = bs.zip(nums).map { case (b, n) => r9d(b + n / det) }
      }
    }
    val (_, iiF) = ui(bs)
    val (detF, adjF) = adjDet(iiF)
    val ses = Seq(adjF(0), adjF(3), adjF(5)).map(a => math.sqrt(a / detF))
    val expect = (0 to 2).flatMap(k =>
      Seq(r6(bs(k)), r6(ses(k)), r6(bs(k) / ses(k))))
    val got = StatsAgg.coxPhMulti(
      subj.map(s => (s._1, s._2, s._3, s._4(0), s._4(1), s._4(2)))
        .toDF("k", "dur", "ev", "x0", "x1", "x2").repartition(7),
      Seq("k"), col("dur"), col("ev"),
      (0 to 2).map(i => col(s"x$i")))
      .select("beta0", "se0", "z0", "beta1", "se1", "z1",
        "beta2", "se2", "z2")
      .as[(Double, Double, Double, Double, Double, Double,
        Double, Double, Double)].collect().head
    assert(Seq(got._1, got._2, got._3, got._4, got._5, got._6,
      got._7, got._8, got._9) === expect)
  }

  test("A46b coxPhMulti p=3 (adjugate arm) and p=4 (Gaussian arm): higher-p fits agree with lower-p when the extra covariate is irrelevant") {
    val rnd4 = new scala.util.Random(79)
    val subj4 = (0 until 150).map { i =>
      val xs = Seq((i % 2).toDouble, ((i / 2) % 4) * 0.25,
        ((i / 8) % 3) * 0.5, ((i / 3) % 5) * 0.2)
      val dur = (rnd4.nextInt(8) + 1 + (if (xs(0) > 0) 0 else 2)).toLong
      ("g", dur, if (rnd4.nextInt(6) > 0) 1 else 0,
        xs(0), xs(1), xs(2), xs(3))
    }
    val df4 = subj4.toDF("k", "dur", "ev", "x0", "x1", "x2", "x3")
    val out4 = StatsAgg.coxPhMulti(df4, Seq("k"), col("dur"), col("ev"),
      (0 to 3).map(i => col(s"x$i")))
      .select("beta0", "se0").as[(Double, Double)].collect().head
    val out3b = StatsAgg.coxPhMulti(df4, Seq("k"), col("dur"), col("ev"),
      (0 to 2).map(i => col(s"x$i")))
      .select("beta0").as[Double].collect().head
    assert(out4._2 > 0.0 && math.abs(out4._1 - out3b) < 0.35,
      (out4, out3b))
  }

  test("A46b coxPhMulti p=3: adjugate arm fits all three coefficients; dropping the irrelevant covariate moves the fit only slightly") {
    val rnd = new scala.util.Random(73)
    val subj = (0 until 150).map { i =>
      val x0 = (i % 2).toDouble
      val x1 = ((i / 2) % 4) * 0.25
      val x2 = ((i / 8) % 3) * 0.5
      val dur = (rnd.nextInt(8) + 1 + (if (x0 > 0) 0 else 2)).toLong
      val ev = if (rnd.nextInt(6) > 0) 1 else 0
      ("g", dur, ev, x0, x1, x2)
    }
    val df3 = subj.toDF("k", "dur", "ev", "x0", "x1", "x2")
    val out3 = StatsAgg.coxPhMulti(df3, Seq("k"), col("dur"), col("ev"),
      Seq(col("x0"), col("x1"), col("x2")))
      .select("beta0", "se0", "beta1", "beta2", "se2")
      .as[(Double, Double, Double, Double, Double)].collect().head
    // all three coefficients fit, finite and sane
    assert(out3._2 > 0.0 && out3._5 > 0.0)
    assert(math.abs(out3._1) < 5 && math.abs(out3._3) < 5 &&
      math.abs(out3._4) < 5)
    // dropping the irrelevant x2 moves the (x0, x1) fit only slightly
    val out2 = StatsAgg.coxPhMulti(df3, Seq("k"), col("dur"), col("ev"),
      Seq(col("x0"), col("x1")))
      .select("beta0", "beta1").as[(Double, Double)].collect().head
    assert(math.abs(out3._1 - out2._1) < 0.35, (out3, out2))
  }

  // ---- ST24 streaming survival store ------------------------------------

  test("ST24 streaming survival store: live KM + log-rank equal the batch operators per batch; replay no-op; orphan heal; MemoryStream e2e") {
    import graft.streaming.{StateStore, StreamingSurvival}
    val rnd = new scala.util.Random(59)
    // events (key, user, day) with duplicates (min/max must absorb)
    val all = (0 until 900).map { i =>
      val u = rnd.nextInt(120).toLong
      ("g", u, (rnd.nextInt(30) + (u % 3)).toLong)
    } ++ (0 until 60).map(i => ("g", 7L, 12L)) // hard duplicates
    def df(rows: Seq[(String, Long, Long)]) = rows.toDF("k", "u", "day")
    val dir = tempDir("surv-store")
    def template = StreamingSurvival.partialState(
      df(all.take(1)), Seq("k"), col("u"), col("day"))
    def liveKm() = StreamingSurvival.currentSurvival(
      spark, dir, Seq("k"), censorDays = 7, template)
      .as[(String, Long, Long, Long, Long, Double)]
      .collect().sortBy(_._2).toSeq
    def liveLr() = StreamingSurvival.currentLogRank(
      spark, dir, Seq("k"), censorDays = 7,
      group = s => pmod(s, lit(2L)).cast("int"), template)
      .select("o1", "e1", "chi2")
      .as[(Long, Double, Option[Double])].collect().head
    def batchSubjects(rows: Seq[(String, Long, Long)]) = {
      val life = df(rows).groupBy(col("k"), col("u"))
        .agg(min(col("day")).as("t0"), max(col("day")).as("t1"))
      val md = df(rows).agg(max(col("day")).as("md"))
      life.crossJoin(broadcast(md)).select(col("k"), col("u"),
        (col("t1") - col("t0")).as("dur"),
        when(col("t1") < col("md") - lit(7L), 1).otherwise(0).as("ev"))
    }
    def batchKm(rows: Seq[(String, Long, Long)]) =
      StatsAgg.kaplanMeier(batchSubjects(rows), Seq("k"),
        col("dur"), col("ev"))
        .as[(String, Long, Long, Long, Long, Double)]
        .collect().sortBy(_._2).toSeq
    def batchLr(rows: Seq[(String, Long, Long)]) =
      StatsAgg.logRankTest(batchSubjects(rows)
          .withColumn("grp", pmod(col("u"), lit(2L)).cast("int")),
        Seq("k"), col("dur"), col("ev"), col("grp"))
        .select("o1", "e1", "chi2")
        .as[(Long, Double, Option[Double])].collect().head
    def liveKmCi() = StreamingSurvival.currentSurvivalCi(
      spark, dir, Seq("k"), censorDays = 7, template)
      .as[(String, Long, Long, Long, Long, Double, Option[Double],
        Option[Double], Option[Double])]
      .collect().sortBy(_._2).toSeq
    def batchKmCi(rows: Seq[(String, Long, Long)]) =
      StatsAgg.kaplanMeierCi(batchSubjects(rows), Seq("k"),
        col("dur"), col("ev"))
        .as[(String, Long, Long, Long, Long, Double, Option[Double],
          Option[Double], Option[Double])]
        .collect().sortBy(_._2).toSeq
    val batches = all.grouped(320).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingSurvival.applyBatch(df(b), Seq("k"), col("u"), col("day"),
        dir, batchId = i.toLong)
      val seen = all.take((i + 1) * 320 min all.size)
      assert(liveKm() === batchKm(seen), s"KM batch $i")
      assert(liveKmCi() === batchKmCi(seen), s"KM-CI batch $i")
      assert(liveLr() === batchLr(seen), s"logrank batch $i")
    }
    // replay no-op + planted-orphan heal
    val before = liveKm()
    StreamingSurvival.applyBatch(df(batches(1)), Seq("k"), col("u"),
      col("day"), dir, batchId = 1L)
    assert(liveKm() === before)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "state-1"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "state-4"))
    StreamingSurvival.applyBatch(df(Seq(("g", 999L, 0L))), Seq("k"),
      col("u"), col("day"), dir, batchId = 4L)
    val versions = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("state-")).sorted.toSeq
    assert(versions === Seq("state-3", "state-4"))
    assert(liveKm() === batchKm(all :+ (("g", 999L, 0L))))
    // MemoryStream e2e
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir2 = tempDir("surv-ms")
    val ckpt = tempDir("surv-ck")
    val in = MemoryStream[(String, Long, Long)]
    val q = StateStore.maintain(in.toDF().toDF("k", "u", "day"), ckpt)(
      StreamingSurvival.applyBatch(_, Seq("k"), col("u"), col("day"),
        dir2, _)).start()
    try {
      in.addData(all.take(500): _*)
      q.processAllAvailable()
      in.addData(all.drop(500): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = StreamingSurvival.currentSurvival(
      spark, dir2, Seq("k"), 7, template)
      .as[(String, Long, Long, Long, Long, Double)]
      .collect().sortBy(_._2).toSeq
    assert(got === batchKm(all))
  }

  // ---- A45 log-rank test ----------------------------------------------

  /** The operator's exact arithmetic as a scalar loop: integer risk
    * sets, 9-dp-quantized E/V terms, double χ² tree.
    */
  private def scalarLogRank(subj: Seq[(Long, Int, Int)]): (Long, Double, Option[Double]) = {
    val times = subj.map(_._1).distinct.sorted
    var o1 = 0L
    var e1 = BigDecimal(0); var v = BigDecimal(0)
    for (t <- times) {
      val atRisk = subj.filter(_._1 >= t)
      val n = atRisk.size.toDouble
      val n1 = atRisk.count(_._3 == 1).toDouble
      val leaving = subj.filter(_._1 == t)
      val d = leaving.count(_._2 == 1).toDouble
      o1 += leaving.count(x => x._2 == 1 && x._3 == 1)
      def r9(x: Double) =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      if (d > 0) e1 += r9(d * (n1 / n))
      if (d > 0 && n > 1)
        v += r9(d * (n1 / n) * (1.0 - n1 / n) * ((n - d) / (n - 1.0)))
    }
    val e1d = e1.toDouble; val vd = v.toDouble
    val chi2 = if (vd > 1e-12)
      Some(BigDecimal((o1.toDouble - e1d) * (o1.toDouble - e1d) / vd)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    else None
    (o1, BigDecimal(e1d).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, chi2)
  }

  test("A45 logRankTest: identical cohorts score chi2 = 0; separated cohorts significant; scalar parity") {
    // identical cohorts: every (duration, event) appears once per group
    val same = (1 to 20).flatMap(i =>
      Seq(("g", i.toLong, i % 3 min 1, 0), ("g", i.toLong, i % 3 min 1, 1)))
    val out = StatsAgg.logRankTest(same.toDF("k", "dur", "ev", "grp"),
      Seq("k"), col("dur"), col("ev"), col("grp"))
      .select("o1", "e1", "chi2", "p_approx")
      .as[(Long, Double, Double, Double)].collect().head
    assert(out._1.toDouble === out._2 && out._3 === 0.0)
    assert(out._4 > 0.9) // chi2 = 0 -> p ~ 1
    // separated: group 1 churns at day 1, group 0 survives censored
    val sep = (1 to 30).map(i =>
      if (i % 2 == 1) ("g", 1L, 1, 1) else ("g", 10L, 0, 0))
    val sepOut = StatsAgg.logRankTest(sep.toDF("k", "dur", "ev", "grp"),
      Seq("k"), col("dur"), col("ev"), col("grp"))
      .select("chi2", "p_approx").as[(Double, Double)].collect().head
    assert(sepOut._1 > 10.0 && sepOut._2 < 0.01, sepOut)
    // scalar parity on a mixed deterministic fixture
    val rnd = new scala.util.Random(53)
    val mixed = (0 until 80).map { i =>
      val g = i % 2
      val dur = (rnd.nextInt(12) + (if (g == 1) 0 else 3)).toLong
      ("g", dur, if (rnd.nextInt(3) > 0) 1 else 0, g)
    }
    val got = StatsAgg.logRankTest(
      mixed.toDF("k", "dur", "ev", "grp").repartition(9),
      Seq("k"), col("dur"), col("ev"), col("grp"))
      .select("o1", "e1", "chi2")
      .as[(Long, Double, Option[Double])].collect().head
    val expect = scalarLogRank(mixed.map(m => (m._2, m._3, m._4)))
    assert(got === expect) // bit-level: exact sums + fixed trees
  }

  test("A45b gehanWilcoxonTest: identical cohorts chi2 = 0; early separation weighted harder than late; scalar parity incl. weights") {
    val same = (1 to 20).flatMap(i =>
      Seq(("g", i.toLong, i % 3 min 1, 0), ("g", i.toLong, i % 3 min 1, 1)))
    val out = StatsAgg.gehanWilcoxonTest(same.toDF("k", "dur", "ev", "grp"),
      Seq("k"), col("dur"), col("ev"), col("grp"))
      .select("o1", "e1", "chi2").as[(Long, Double, Double)].collect().head
    assert(out._1.toDouble === out._2 && out._3 === 0.0)
    // two effect placements with the SAME event pattern magnitude:
    // early-time separation must score a LARGER Gehan chi2 than the
    // same separation placed late (n_t weights shrink over time),
    // while log-rank scores both equally by construction
    // background subjects leave the risk set between t=1 and t=9, so
    // the n_t weight genuinely differs between the two placements
    def cohort(effectAt: Long) = (0 until 60).map { i =>
      val g = i % 2
      if (g == 1 && i % 4 == 1) ("g", effectAt, 1, 1)
      else ("g", (2L + i % 9), if (i % 5 == 0) 1 else 0, g)
    }
    def gehanChi(rows: Seq[(String, Long, Int, Int)]) =
      StatsAgg.gehanWilcoxonTest(rows.toDF("k", "dur", "ev", "grp"),
        Seq("k"), col("dur"), col("ev"), col("grp"))
        .select("chi2").as[Double].collect().head
    assert(gehanChi(cohort(1L)) > gehanChi(cohort(9L)),
      "early separation must outweigh late under n_t weights")
    // scalar parity: the weighted trees replicated with exact sums
    val rnd = new scala.util.Random(59)
    val mixed = (0 until 80).map { i =>
      val g = i % 2
      val dur = (rnd.nextInt(12) + (if (g == 1) 0 else 3)).toLong
      ("g", dur, if (rnd.nextInt(3) > 0) 1 else 0, g)
    }
    val got = StatsAgg.gehanWilcoxonTest(
      mixed.toDF("k", "dur", "ev", "grp").repartition(9),
      Seq("k"), col("dur"), col("ev"), col("grp"))
      .select("o1", "e1", "chi2")
      .as[(Long, Double, Option[Double])].collect().head
    // scalar loop with the identical weighting + 9-dp quantization
    val subj = mixed.map(m => (m._2, m._3, m._4))
    val times = subj.map(_._1).distinct.sorted
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    var e1 = BigDecimal(0); var v = BigDecimal(0); var o1 = 0L
    for (t <- times) {
      val atRisk = subj.filter(_._1 >= t)
      val n = atRisk.size.toDouble
      val n1 = atRisk.count(_._3 == 1).toDouble
      val d = subj.count(x => x._1 == t && x._2 == 1).toDouble
      val d1 = subj.count(x => x._1 == t && x._2 == 1 && x._3 == 1)
      o1 += atRisk.size.toLong * d1
      if (d > 0) e1 += r9(n * (d * (n1 / n)))
      if (d > 0 && n > 1)
        v += r9(n * n * (d * (n1 / n) * (1.0 - n1 / n) * ((n - d) / (n - 1.0))))
    }
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._1 === o1)
    assert(got._2 === r6(e1.toDouble))
    val chiRef =
      if (v.toDouble > 1e-12)
        Some(r6((o1.toDouble - e1.toDouble) * (o1.toDouble - e1.toDouble) /
          v.toDouble))
      else None
    assert(got._3 === chiRef)
  }

  // ---- A43 winsorized / trimmed robust statistics ---------------------

  test("A43 winsorizedStats: fences, clip counts and means match the scalar reference on 1..100") {
    val df = (1 to 100).map(v => ("g", v.toDouble)).toDF("k", "v")
    val row = StatsAgg.winsorizedStats(df, Seq("k"), col("v"), 0.05, 0.95)
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().head
    // exact interpolated fences: (n-1)*q = 4.95 -> 5.95; 94.05 -> 95.05
    val plo = 5.95; val phi = 95.05
    val clipped = (1 to 100).map(v => math.max(plo, math.min(phi, v.toDouble)))
    val wm = clipped.sum / 100.0
    val ws = math.sqrt(clipped.map(c => (c - wm) * (c - wm)).sum / 100.0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row._1 == "g" && row._2 == 100L)
    assert(row._3 == 5L && row._4 == 5L) // 1..5 below, 96..100 above
    assert(math.abs(row._5 - r6(wm)) < 1e-6)
    assert(math.abs(row._6 - r6(ws)) < 1e-6)
    assert(row._7 === 50.5) // mean of 6..95
  }

  test("A43 winsorizedStats: planted outliers barely move the winsorized mean; repartition-stable") {
    val base = (0 until 200).map(i => ("g", 10.0 + (i % 5)))
    val poisoned = base ++ Seq(("g", 1e9), ("g", 2e9))
    val df = poisoned.toDF("k", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      StatsAgg.winsorizedStats(d, Seq("k"), col("v"), 0.01, 0.99)
        .as[(String, Long, Long, Long, Double, Double, Double)]
        .collect().head
    val row = run(df.repartition(11))
    assert(math.abs(row._5 - 12.0) < 1.0, s"winsorized mean ${row._5}")
    assert(math.abs(row._7 - 12.0) < 0.5, s"trimmed mean ${row._7}")
    // the raw mean is destroyed by the same outliers (sanity contrast)
    val raw = df.agg(avg(col("v"))).as[Double].collect().head
    assert(math.abs(raw - 12.0) > 1e5)
    assert(run(df.coalesce(1)) === row)
  }

  test("A43 winsorizedStats: constant group has zero spread and equal means; nulls/NaNs drop") {
    val df = (Seq.fill(20)(("c", Some(7.5))) ++
      Seq(("c", None), ("c", Some(Double.NaN))))
      .toDF("k", "v")
    val row = StatsAgg.winsorizedStats(df, Seq("k"), col("v"), 0.1, 0.9)
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().head
    assert(row === (("c", 20L, 0L, 0L, 7.5, 0.0, 7.5)))
  }
}
