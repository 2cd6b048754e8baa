package graft

import graft.operators.Regression
import org.apache.spark.sql.functions._

/** A42 exact OLS laws: planted-coefficient recovery, the singular
  * guard, general-p ≡ Cramer at p=2, partition-order independence
  * (the DECIMAL-sum discipline's whole point), and the predict face.
  */
class RegressionSpec extends SparkSpec {
  import spark.implicits._

  // noiseless plane: y = 3 + 2·x1 − 0.5·x2 on a non-degenerate grid
  private def plane = for {
    x1 <- 0 to 9; x2 <- 0 to 9
  } yield ("g", x1.toDouble, x2.toDouble, 3.0 + 2.0 * x1 - 0.5 * x2)

  // noisy fixture: deterministic pseudo-noise on the 0.01 grid so
  // the DECIMAL(18,2) quantization is exact
  private def noisy = for {
    x1 <- 0 to 19; x2 <- 0 to 11
  } yield ("g", x1.toDouble, x2.toDouble,
    1.5 + 0.75 * x1 + 0.25 * x2 + ((x1 * 7 + x2 * 13) % 10 - 4.5) / 10.0)

  test("A42: linearFit2 recovers planted coefficients exactly; r2 = 1, rmse = 0") {
    val df = plane.toDF("k", "x1", "x2", "y")
    val row = Regression.linearFit2(df, Seq("k"), col("x1"), col("x2"), col("y"))
      .as[(String, Long, Double, Double, Double, Double, Double)]
      .collect().head
    assert(row === (("g", 100L, 3.0, 2.0, -0.5, 1.0, 0.0)))
  }

  test("A42: collinear design trips the singular guard to nulls") {
    // x2 = 2·x1 exactly — the normal matrix is rank-deficient
    val df = (0 to 30).map(i => ("g", i.toDouble, 2.0 * i, 1.0 + i))
      .toDF("k", "x1", "x2", "y")
    val row = Regression.linearFit2(df, Seq("k"), col("x1"), col("x2"), col("y"))
      .select("beta0", "beta1", "beta2", "r2", "rmse")
      .as[(Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Double])].collect().head
    assert(row === ((None, None, None, None, None)))
  }

  test("A42c ridgeFit2: lambda=0 equals OLS betas bit-for-bit; shrinkage is monotone; collinear design becomes solvable") {
    val df = noisy.toDF("k", "x1", "x2", "y")
    val ols = Regression.linearFit2(df, Seq("k"), col("x1"), col("x2"),
      col("y")).select("beta0", "beta1", "beta2", "r2")
      .as[(Double, Double, Double, Double)].collect().head
    val r0 = Regression.ridgeFit2(df, Seq("k"), col("x1"), col("x2"),
      col("y"), lambda = 0.0).select("beta0", "beta1", "beta2", "r2")
      .as[(Double, Double, Double, Double)].collect().head
    // identical Cramer trees at λ=0 → identical betas; SSE is the
    // full quadratic here vs the OLS identity there, equal to round-6
    assert((r0._1, r0._2, r0._3) === ((ols._1, ols._2, ols._3)))
    assert(math.abs(r0._4 - ols._4) <= 1e-6)
    // shrinkage: feature-coefficient norm decreases with λ, r2 never
    // improves on OLS
    def at(lam: Double) = Regression.ridgeFit2(df, Seq("k"), col("x1"),
      col("x2"), col("y"), lam).select("beta1", "beta2", "r2")
      .as[(Double, Double, Double)].collect().head
    val norms = Seq(0.0, 10.0, 100.0, 1000.0).map { lam =>
      val (b1, b2, r2) = at(lam)
      assert(r2 <= ols._4 + 1e-6, s"λ=$lam r2=$r2")
      math.sqrt(b1 * b1 + b2 * b2)
    }
    assert(norms === norms.sorted.reverse, norms)
    // collinear design: OLS nulls (rank-deficient), ridge solves
    val coll = (0 to 30).map(i => ("g", i.toDouble, 2.0 * i, 1.0 + i))
      .toDF("k", "x1", "x2", "y")
    val rr = Regression.ridgeFit2(coll, Seq("k"), col("x1"), col("x2"),
      col("y"), lambda = 5.0).select("beta1", "beta2")
      .as[(Option[Double], Option[Double])].collect().head
    assert(rr._1.nonEmpty && rr._2.nonEmpty)
  }

  test("A42: general-p Gaussian elimination matches the Cramer face at p=2") {
    val df = noisy.toDF("k", "x1", "x2", "y")
    val cramer = Regression.linearFit2(df, Seq("k"),
      col("x1"), col("x2"), col("y"))
      .select("beta0", "beta1", "beta2", "r2", "rmse")
      .as[(Double, Double, Double, Double, Double)].collect().head
    val gauss = Regression.linearFit(df, Seq("k"),
      Seq(col("x1"), col("x2")), col("y"))
      .select(col("betas")(0), col("betas")(1), col("betas")(2),
        col("r2"), col("rmse"))
      .as[(Double, Double, Double, Double, Double)].collect().head
    assert(math.abs(cramer._1 - gauss._1) < 1e-6)
    assert(math.abs(cramer._2 - gauss._2) < 1e-6)
    assert(math.abs(cramer._3 - gauss._3) < 1e-6)
    assert(math.abs(cramer._4 - gauss._4) < 1e-6)
    assert(math.abs(cramer._5 - gauss._5) < 1e-6)
  }

  test("A42: general-p recovers a planted 4-feature hyperplane exactly") {
    val rows = for (i <- 0 until 500) yield {
      val x1 = (i % 7).toDouble; val x2 = (i % 11).toDouble
      val x3 = (i % 5).toDouble; val x4 = ((i * 3) % 13).toDouble
      ("g", x1, x2, x3, x4,
        2.0 - 1.5 * x1 + 0.25 * x2 + 4.0 * x3 - 0.75 * x4)
    }
    val df = rows.toDF("k", "x1", "x2", "x3", "x4", "y")
    val got = Regression.linearFit(df, Seq("k"),
      Seq(col("x1"), col("x2"), col("x3"), col("x4")), col("y"))
      .select(col("betas"), col("r2"), col("rmse"))
      .as[(Seq[Double], Double, Double)].collect().head
    assert(got._1 === Seq(2.0, -1.5, 0.25, 4.0, -0.75))
    assert(got._2 === 1.0 && got._3 === 0.0)
  }

  test("A42: fit is partition-order independent (exact DECIMAL sums)") {
    val df = noisy.toDF("k", "x1", "x2", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Regression.linearFit2(d, Seq("k"), col("x1"), col("x2"), col("y"))
        .as[(String, Long, Double, Double, Double, Double, Double)]
        .collect().head
    assert(run(df.repartition(13)) === run(df.coalesce(1)))
  }

  test("A42: predict2 residuals are exactly zero on the noiseless plane") {
    val df = plane.toDF("k", "x1", "x2", "y")
    val fit = Regression.linearFit2(df, Seq("k"),
      col("x1"), col("x2"), col("y"))
    val res = Regression.predict2(df, fit, Seq("k"),
      col("x1"), col("x2"), col("y"))
      .agg(max(abs(col("residual"))), count(lit(1)))
      .as[(Double, Long)].collect().head
    assert(res === ((0.0, 100L)))
  }

  test("ST22 streaming regression store: per-batch live fit is BIT-equal to the batch fit over everything ingested; replay no-op; planted-orphan crash heal") {
    import graft.streaming.{StateStore, StreamingRegression}
    val rnd = new scala.util.Random(43)
    val all = (0 until 900).map { i =>
      val k = if (rnd.nextInt(2) == 0) "a" else "b"
      val x1 = rnd.nextInt(24).toDouble
      val x2 = rnd.nextInt(50).toDouble
      (i.toLong, k, x1, x2,
        1.0 + 0.5 * x1 - 0.25 * x2 + (rnd.nextInt(100) - 50) / 100.0)
    }
    val dir = tempDir("reg-store")
    def df(rows: Seq[(Long, String, Double, Double, Double)]) =
      rows.toDF("id", "k", "x1", "x2", "y")
    def template = graft.operators.Regression.sums2(
      df(all.take(1)), Seq("k"), col("x1"), col("x2"), col("y"))
    def live() = StreamingRegression.currentFit(
      spark, dir, Seq("k"), template)
      .as[(String, Long, Double, Double, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    def batchFit(rows: Seq[(Long, String, Double, Double, Double)]) =
      graft.operators.Regression.linearFit2(
        df(rows), Seq("k"), col("x1"), col("x2"), col("y"))
        .as[(String, Long, Double, Double, Double, Double, Double)]
        .collect().sortBy(_._1).toSeq
    val batches = all.grouped(300).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingRegression.applyBatch(df(b), Seq("k"),
        col("x1"), col("x2"), col("y"), dir, batchId = i.toLong)
      assert(live() === batchFit(all.take((i + 1) * 300)), s"batch $i")
    }
    // replay no-op
    val before = live()
    StreamingRegression.applyBatch(df(batches(1)), Seq("k"),
      col("x1"), col("x2"), col("y"), dir, batchId = 1L)
    assert(live() === before)
    assert(StateStore.readPointer(dir) === ((3L, 2L)))
    // planted orphans (crash between pointer move and cleanup) heal
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "state-1"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "state-4"))
    StreamingRegression.applyBatch(
      df(Seq((9000L, "a", 3.0, 7.0, 2.5))), Seq("k"),
      col("x1"), col("x2"), col("y"), dir, batchId = 3L)
    assert(StateStore.readPointer(dir) === ((4L, 3L)))
    val versions = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("state-")).sorted.toSeq
    assert(versions === Seq("state-3", "state-4"))
    assert(live() === batchFit(all :+ ((9000L, "a", 3.0, 7.0, 2.5))))
  }

  test("ST22 streaming regression store: end-to-end through foreachBatch on a MemoryStream") {
    import graft.streaming.{StateStore, StreamingRegression}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = tempDir("reg-ms")
    val ckpt = tempDir("reg-ck")
    val in = MemoryStream[(Long, String, Double, Double, Double)]
    val q = StateStore.maintain(
      in.toDF().toDF("id", "k", "x1", "x2", "y"), ckpt)(
      StreamingRegression.applyBatch(_, Seq("k"),
        col("x1"), col("x2"), col("y"), dir, _)).start()
    val all = (0 until 400).map { i =>
      (i.toLong, if (i % 3 == 0) "a" else "b",
        (i % 11).toDouble, (i % 7).toDouble,
        2.0 + 0.3 * (i % 11) - 0.1 * (i % 7))
    }
    try {
      in.addData(all.take(250): _*)
      q.processAllAvailable()
      in.addData(all.drop(250): _*)
      q.processAllAvailable()
    } finally q.stop()
    val template = graft.operators.Regression.sums2(
      all.take(1).toDF("id", "k", "x1", "x2", "y"), Seq("k"),
      col("x1"), col("x2"), col("y"))
    val got = StreamingRegression.currentFit(spark, dir, Seq("k"), template)
      .as[(String, Long, Double, Double, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    val expect = graft.operators.Regression.linearFit2(
      all.toDF("id", "k", "x1", "x2", "y"), Seq("k"),
      col("x1"), col("x2"), col("y"))
      .as[(String, Long, Double, Double, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got === expect) // live fit ≡ batch fit, bit-equal
    // the planted rule is recovered to the round-6 grid (inputs ride
    // the DECIMAL(18,2) grid, so "noiseless" only holds approximately)
    assert(expect.forall(r => math.abs(r._3 - 2.0) < 2e-6 &&
      math.abs(r._4 - 0.3) < 2e-6 && math.abs(r._5 + 0.1) < 2e-6 &&
      math.abs(r._6 - 1.0) < 2e-6 && math.abs(r._7) < 2e-6))
  }

  test("A42: groups below p+2 rows or with zero variance fit null, others unaffected") {
    val df = (plane.map { case (_, a, b, y) => ("ok", a, b, y) } ++
      Seq(("tiny", 1.0, 2.0, 3.0), ("tiny", 2.0, 3.0, 4.0)) ++
      (0 to 9).map(i => ("const", 5.0, 5.0, i.toDouble)))
      .toDF("k", "x1", "x2", "y")
    val got = Regression.linearFit2(df, Seq("k"),
      col("x1"), col("x2"), col("y"))
      .select(col("k"), col("beta1").isNull)
      .as[(String, Boolean)].collect().toMap
    assert(got === Map("ok" -> false, "tiny" -> true, "const" -> true))
  }
}
