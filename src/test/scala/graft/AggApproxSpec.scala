package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** A2/A4 approximate aggregates (engine-specific sketches — no DuckDB
  * oracle; checked against the exact values instead) and the X5
  * multimodal stubs around the real Spark plumbing.
  */
class AggApproxSpec extends SparkSpec with NeedsTestdata {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("A4: approx_count_distinct (HLL++) is within 5% of exact") {
    val df = Tables.table(spark, sf, "events")
    val (exact, approx) = df.agg(
      countDistinct(col("user_id")).cast("double"),
      approx_count_distinct(col("user_id"), 0.02).cast("double"))
      .as[(Double, Double)].collect().head
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("A2: approx_percentile brackets the exact continuous percentile") {
    val df = Tables.table(spark, sf, "events")
    val rows = df.agg(
      expr("percentile(value, 0.5)"),
      expr("approx_percentile(value, 0.5, 10000)"),
      min(col("value")), max(col("value")))
      .as[(Double, Double, Double, Double)].collect().head
    val (exact, approx, lo, hi) = rows
    assert(approx >= lo && approx <= hi)
    assert(math.abs(approx - exact) <= (hi - lo) * 0.05,
      s"exact=$exact approx=$approx range=[$lo,$hi]")
  }

  test("A18 theta sketches: exact regime — estimates and set ops are exact, any slicing merges to the direct state") {
    import graft.functions.ThetaSketch._
    val rnd = new scala.util.Random(11)
    // two overlapping string sets, each well under 2^12 retained
    val rows = (0 until 3000).map { i =>
      val u = s"u${rnd.nextInt(500)}"
      (i.toLong, u, rnd.nextInt(2) == 0, rnd.nextInt(3) == 0)
    }
    val df = rows.toDF("id", "u", "in_a", "in_b")
    val expectA = rows.filter(_._3).map(_._2).toSet
    val expectB = rows.filter(_._4).map(_._2).toSet
    def readOut(st: org.apache.spark.sql.DataFrame) = st.select(
      round(thetaEstimate(col("sa"))).cast("long"),
      round(thetaEstimate(col("sb"))).cast("long"),
      round(thetaIntersect(col("sa"), col("sb"))).cast("long"),
      round(thetaDiff(col("sa"), col("sb"))).cast("long"))
      .as[(Long, Long, Long, Long)].collect().head
    val direct = df.agg(
      thetaAgg(when(col("in_a"), col("u"))).as("sa"),
      thetaAgg(when(col("in_b"), col("u"))).as("sb"))
    val want = (expectA.size.toLong, expectB.size.toLong,
      (expectA intersect expectB).size.toLong,
      (expectA diff expectB).size.toLong)
    assert(readOut(direct) === want)
    // slice-invariance through the union agg, any partition
    for (nSlices <- Seq(2, 5)) {
      val partials = rows.groupBy(_._1 % nSlices).values.toSeq.map(sl =>
        sl.toDF("id", "u", "in_a", "in_b").agg(
          thetaAgg(when(col("in_a"), col("u"))).as("sa"),
          thetaAgg(when(col("in_b"), col("u"))).as("sb")))
      val merged = partials.reduce(_ unionByName _).agg(
        thetaUnionAgg(col("sa")).as("sa"),
        thetaUnionAgg(col("sb")).as("sb"))
      assert(readOut(merged) === want, s"nSlices=$nSlices")
    }
  }

  test("A4b uniqUpTo: exact to N, sentinel N+1 beyond, capped state, slice-invariant") {
    val u = udaf(new graft.functions.UniqUpTo(5),
      org.apache.spark.sql.Encoders.STRING)
    // below the cap: exact; above: exactly N+1; nulls skipped
    val rows = Seq(
      ("a", "u1"), ("a", "u2"), ("a", "u2"), ("a", null),
      ("b", "u1"), ("b", "u2"), ("b", "u3"), ("b", "u4"),
      ("b", "u5"), ("b", "u6"), ("b", "u7"))
    val got = rows.toDF("k", "x").groupBy("k").agg(u(col("x")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 2L, "b" -> 6L))
    // slice invariance across a forced repartition (the merge path):
    // per-partition partials saturate independently, the final merge
    // must still land on exact-or-sentinel
    val big = (0 until 2000).map(i => ("k", s"u${i % 4}")) ++
      (0 until 2000).map(i => ("s", s"u$i"))
    val got2 = big.toDF("k", "x").repartition(16)
      .groupBy("k").agg(u(col("x")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got2 === Map("k" -> 4L, "s" -> 6L))
  }

  test("A18 streaming theta store: per-batch folds equal the batch aggregate; replay no-op; crash heal; set algebra live") {
    import graft.streaming.{StateStore, StreamingTheta}
    val rnd = new scala.util.Random(23)
    // (id, segment, user) — overlapping user sets per segment, well
    // inside the exact regime so every estimate must be EXACT
    val all = (0 until 900).map { i =>
      (i.toLong, if (rnd.nextInt(2) == 0) "buy" else "err",
        s"u${rnd.nextInt(300)}")
    }
    val dir = tempDir("theta-store")
    def template = StreamingTheta.partialState(
      all.take(1).toDF("id", "seg", "u"), Seq("seg"), col("u"))
    def estimates() = StreamingTheta.currentEstimates(
      spark, dir, Seq("seg"), template)
      .as[(String, Long)].collect().toMap
    val batches = all.grouped(300).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingTheta.applyBatch(b.toDF("id", "seg", "u"),
        Seq("seg"), col("u"), dir, batchId = i.toLong)
      val seen = all.take((i + 1) * 300)
      val expect = seen.groupBy(_._2).map { case (s, rs) =>
        s -> rs.map(_._3).distinct.size.toLong }
      assert(estimates() === expect, s"batch $i")
    }
    // replay of a committed batch must change nothing
    val before = estimates()
    StreamingTheta.applyBatch(batches(1).toDF("id", "seg", "u"),
      Seq("seg"), col("u"), dir, batchId = 1L)
    assert(estimates() === before)
    assert(StateStore.readPointer(dir) === ((3L, 2L)))
    // crash-window orphan heals on the next apply
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "state-4"))
    StreamingTheta.applyBatch(
      Seq((9000L, "buy", "u_new")).toDF("id", "seg", "u"),
      Seq("seg"), col("u"), dir, batchId = 3L)
    assert(StateStore.readPointer(dir) === ((4L, 3L)))
    val versions = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("state-")).sorted.toSeq
    assert(versions === Seq("state-3", "state-4"))
    // the set-algebra read face answers exactly from state alone
    val ext = all :+ ((9000L, "buy", "u_new"))
    val aSet = ext.filter(_._2 == "buy").map(_._3).toSet
    val bSet = ext.filter(_._2 == "err").map(_._3).toSet
    val alg = StreamingTheta.segmentAlgebra(
      spark, dir, "seg", "buy", "err", template)
      .as[(Long, Long, Long, Long)].collect().head
    assert(alg === ((aSet.size.toLong, bSet.size.toLong,
      (aSet intersect bSet).size.toLong, (aSet diff bSet).size.toLong)))
  }

  test("A18 streaming theta store: end-to-end through foreachBatch on a MemoryStream") {
    import graft.streaming.{StateStore, StreamingTheta}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = tempDir("theta-ms")
    val ckpt = tempDir("theta-ck")
    val in = MemoryStream[(Long, String, String)]
    val q = StateStore.maintain(in.toDF().toDF("id", "seg", "u"), ckpt)(
      StreamingTheta.applyBatch(_, Seq("seg"), col("u"), dir, _)).start()
    val rnd = new scala.util.Random(29)
    val all = (0 until 400).map(i =>
      (i.toLong, if (i % 3 == 0) "buy" else "err", s"u${rnd.nextInt(120)}"))
    try {
      in.addData(all.take(250): _*)
      q.processAllAvailable()
      in.addData(all.drop(250): _*)
      q.processAllAvailable()
    } finally q.stop()
    val template = StreamingTheta.partialState(
      all.take(1).toDF("id", "seg", "u"), Seq("seg"), col("u"))
    val got = StreamingTheta.currentEstimates(
      spark, dir, Seq("seg"), template)
      .as[(String, Long)].collect().toMap
    val expect = all.groupBy(_._2).map { case (s, rs) =>
      s -> rs.map(_._3).distinct.size.toLong }
    assert(got === expect)
  }

  test("A18 theta sketches: sampling regime stays within relative-error bounds") {
    import graft.functions.ThetaSketch._
    // 60k distinct per set, 50% overlap: far past 2^12 — sampling is
    // live. lgK=12 bounds |A| error at ~1.6% (1/sqrt(4096)) per
    // sketch; intersections compound, so 10% is the spec floor.
    val n = 60000
    val df = spark.range(0, n * 3 / 2).select(
      concat(lit("v"), col("id")).as("u"),
      (col("id") < n).as("in_a"),
      (col("id") >= n / 2).as("in_b"))
    val (ea, eb, ei, ed) = df.agg(
      thetaAgg(when(col("in_a"), col("u"))).as("sa"),
      thetaAgg(when(col("in_b"), col("u"))).as("sb"))
      .select(thetaEstimate(col("sa")), thetaEstimate(col("sb")),
        thetaIntersect(col("sa"), col("sb")),
        thetaDiff(col("sa"), col("sb")))
      .as[(Double, Double, Double, Double)].collect().head
    assert(math.abs(ea - n) / n < 0.05, s"|A| est $ea")
    assert(math.abs(eb - n) / n < 0.05, s"|B| est $eb")
    assert(math.abs(ei - n / 2) / (n / 2) < 0.10, s"|A∩B| est $ei")
    assert(math.abs(ed - n / 2) / (n / 2) < 0.10, s"|A\\B| est $ed")
  }

  test("X5: resize stub bounds output and keeps identity for small payloads") {
    val small = Array[Byte](1, 2, 3)
    assert(Multimodal.resizeStub(small, 10) === small)
    val big = Array.tabulate(1000)(_.toByte)
    val out = Multimodal.resizeStub(big, 64)
    assert(out.length === 64 && out(0) === big(0))
  }

  test("X5: frame sampling is a one-to-many flatMap with bounded frames") {
    val media = Multimodal.asMediaTable(
      Tables.table(spark, sf, "documents").limit(20))
    val frames = Multimodal.sampleFrames(spark, media, frameBytes = 64, everyN = 2)
    val byDoc = frames.groupBy(col("doc_id")).agg(count(lit(1)).as("n"),
      max(length(col("frame"))).as("maxlen"))
      .as[(Long, Long, Int)].collect()
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (_, n, maxlen) =>
      assert(n >= 1 && maxlen <= 64)
    }
  }

  test("X5: REAL PNG decode through the mapPartitions seam recovers pixel truth") {
    // build genuine PNG byte arrays in-memory with the SAME JDK codec
    // family a production pipeline would use: a 4x2 solid red image
    // and a 2x2 half-black/half-white checker; plus one garbage
    // payload that must be dropped, not crash the partition
    def png(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val red = png(4, 2)((_, _) => 0xFF0000)
    val checker = png(2, 2)((x, y) => if ((x + y) % 2 == 0) 0x000000 else 0xFFFFFF)
    val media = Seq(
      (1L, red), (2L, checker), (3L, "not a png".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
      .withColumn("meta", struct(lit("image/png").as("mime"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        lit("und").as("lang")))
    val out = Multimodal.extractImageFeatures(spark, media)
      .collect().map(f => f.doc_id -> f).toMap
    assert(out.keySet === Set(1L, 2L), "garbage payload must drop, PNGs must decode")
    assert(out(1L).width === 4 && out(1L).height === 2)
    assert(out(1L).avg_r === 255.0 && out(1L).avg_g === 0.0 && out(1L).avg_b === 0.0)
    assert(out(2L).width === 2 && out(2L).height === 2)
    // two black + two white pixels → every channel averages 127.5
    assert(out(2L).avg_r === 127.5 && out(2L).avg_g === 127.5 && out(2L).avg_b === 127.5)
  }

  test("X5b imageAvgHash + imageNearDup: 7-bit pair found (pigeonhole-lossless), inverted image excluded, garbage drops") {
    // 8×8 images put each PIXEL in its own aHash cell, so the 64 hash
    // bits are under direct control: base = even pixels white (bit
    // set), near = base with SEVEN white pixels flipped black
    // (Hamming exactly 7 — the banding's pigeonhole losslessness
    // boundary), inv = all bits flipped (Hamming 64)
    def png8(bit: Int => Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (i <- 0 until 64)
        img.setRGB(i % 8, i / 8, if (bit(i)) 0xFFFFFF else 0x000000)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = (i: Int) => i % 2 == 0
    val near = (i: Int) => if (i < 14 && i % 2 == 0) false else base(i)
    val inv = (i: Int) => !base(i)
    val media = Seq(
      (1L, png8(base)), (2L, png8(near)), (3L, png8(inv)),
      (4L, "not an image".getBytes("UTF-8")), (5L, png8(base)))
      .toDF("doc_id", "payload")
      .withColumn("meta", struct(lit("image/png").as("mime"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        lit("und").as("lang")))
      .repartition(3)
    val hashes = Multimodal.imageHashes(spark, media)
      .collect().map(h => h.doc_id -> h.ahash).toMap
    assert(hashes.keySet === Set(1L, 2L, 3L, 5L), "garbage must drop")
    assert(hashes(1L) === hashes(5L), "identical payloads hash equal")
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(2L)) === 7)
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) === 64)
    val pairs = Multimodal.imageNearDup(spark, media, maxHamming = 7)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L, 7L), (1L, 5L, 0L), (2L, 5L, 7L)),
      "the 7-bit pair must survive banding; the inverted image must not pair")
  }

  test("X5c audioEnvelopeHash + audioNearDup: 7-bit pair found, inverted envelope excluded, short/garbage drop") {
    // 64 windows × 16 frames put each WINDOW under direct bit
    // control: loud window = alternating ±16384 (mean |amp| 0.5),
    // quiet = digital silence — the audio twin of the X5b 8×8 trick
    import javax.sound.sampled._
    def wav(loud: Int => Boolean): Array[Byte] = {
      val pcm = new Array[Byte](64 * 16 * 2)
      for (w <- 0 until 64; f <- 0 until 16) {
        val v: Short =
          if (!loud(w)) 0
          else if (f % 2 == 0) 16384 else -16384
        val o = (w * 16 + f) * 2
        pcm(o) = (v & 0xff).toByte
        pcm(o + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 64L * 16L)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val base = (w: Int) => w % 2 == 0
    val near = (w: Int) => if (w < 14 && w % 2 == 0) false else base(w)
    val inv = (w: Int) => !base(w)
    // a 32-frame clip is below the 64-frame floor → dropped
    val short16 = {
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](64)), fmt, 32L)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, wav(base)), (2L, wav(near)), (3L, wav(inv)),
      (4L, "not audio".getBytes("UTF-8")), (5L, wav(base)),
      (6L, short16))
      .toDF("doc_id", "payload")
      .withColumn("meta", struct(lit("audio/wav").as("mime"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        lit("und").as("lang")))
      .repartition(3)
    val hashes = Multimodal.audioHashes(spark, media)
      .collect().map(h => h.doc_id -> h.hash).toMap
    assert(hashes.keySet === Set(1L, 2L, 3L, 5L),
      "garbage and sub-64-frame clips must drop")
    assert(hashes(1L) === hashes(5L))
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(2L)) === 7)
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) === 64)
    val pairs = Multimodal.audioNearDup(spark, media, maxHamming = 7)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L, 7L), (1L, 5L, 0L), (2L, 5L, 7L)))
  }

  test("X5: REAL WAV decode through the same seam recovers sample truth") {
    // build genuine RIFF/WAVE byte arrays in-memory with the SAME JDK
    // codec family (javax.sound.sampled) a production pipeline would
    // use: a full-scale 16-bit square wave (RMS exactly 1.0 on the
    // full-scale [-1,1] axis), digital silence, and a stereo file
    // whose channels carry DIFFERENT amplitudes — plus one garbage
    // payload that must drop, not crash the partition
    import javax.sound.sampled._
    def wav(rate: Float, samples: Array[Array[Short]]): Array[Byte] = {
      val channels = samples.length
      val n = samples(0).length
      val fmt = new AudioFormat(rate, 16, channels, true, false)
      val pcm = new Array[Byte](n * channels * 2)
      for (f <- 0 until n; c <- 0 until channels) {
        val v = samples(c)(f)
        val o = (f * channels + c) * 2
        pcm(o) = (v & 0xff).toByte
        pcm(o + 1) = ((v >> 8) & 0xff).toByte
      }
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // 100 frames of ±32768-adjacent full scale: alternating +32767/-32768
    // has RMS ≈ 1.0 (32767.5/32768 squared-mean — assert to 1e-4)
    val square = Array.tabulate(100)(i =>
      if (i % 2 == 0) Short.MaxValue else Short.MinValue)
    val silence = Array.fill[Short](50)(0)
    // stereo: left at half scale (16384 → RMS 0.5), right silent
    val left = Array.fill[Short](80)(16384)
    val right = Array.fill[Short](80)(0)
    val media = Seq(
      (1L, wav(8000f, Array(square))),
      (2L, wav(16000f, Array(silence))),
      (3L, wav(8000f, Array(left, right))),
      (4L, "not audio at all".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
      .withColumn("meta", struct(lit("audio/wav").as("mime"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        lit("und").as("lang")))
    val out = Multimodal.extractAudioFeatures(spark, media)
      .collect().map(f => f.doc_id -> f).toMap
    assert(out.keySet === Set(1L, 2L, 3L), "garbage payload must drop, WAVs must decode")
    assert(out(1L).sample_rate === 8000.0 && out(1L).channels === 1)
    assert(out(1L).n_frames === 100L)
    assert(math.abs(out(1L).duration_sec - 100.0 / 8000.0) < 1e-9)
    assert(math.abs(out(1L).rms.head - 1.0) < 1e-4,
      s"full-scale square RMS drifted: ${out(1L).rms}")
    assert(out(2L).rms === Seq(0.0))
    assert(out(2L).sample_rate === 16000.0 && out(2L).n_frames === 50L)
    assert(out(3L).channels === 2 && out(3L).rms.size === 2)
    assert(math.abs(out(3L).rms.head - 0.5) < 1e-4,
      s"half-scale left RMS drifted: ${out(3L).rms}")
    assert(out(3L).rms(1) === 0.0, s"silent right channel: ${out(3L).rms}")
  }

  test("X5: REAL resize through the same seam — exact dims, pixel-exact solid regions") {
    def png(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // solid image: nearest-neighbor must keep every pixel bit-exact at
    // ANY target size (each output pixel copies some input pixel)
    val green = png(6, 4)((_, _) => 0x00FF00)
    val down = Multimodal.resizeImage(green, 3, 2).get
    val downDecoded = Multimodal.decodeImage(down).get
    assert(downDecoded == ((3, 2, 0.0, 255.0, 0.0)), s"got $downDecoded")
    val up = Multimodal.resizeImage(green, 12, 8).get
    assert(Multimodal.decodeImage(up).get == ((12, 8, 0.0, 255.0, 0.0)))
    // 2x2-quadrant image (each quadrant 2x2 solid) downsized 2x: every
    // output pixel samples inside its own quadrant — all four exact
    val quads = png(4, 4)((x, y) =>
      (if (y < 2) if (x < 2) 0xFF0000 else 0x00FF00
       else if (x < 2) 0x0000FF else 0xFFFFFF))
    val q2 = Multimodal.resizeImage(quads, 2, 2).get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(q2))
    assert((img.getRGB(0, 0) & 0xFFFFFF) == 0xFF0000)
    assert((img.getRGB(1, 0) & 0xFFFFFF) == 0x00FF00)
    assert((img.getRGB(0, 1) & 0xFFFFFF) == 0x0000FF)
    assert((img.getRGB(1, 1) & 0xFFFFFF) == 0xFFFFFF)
    // contract edges: garbage drops (None), not crashes; bad target fails fast
    assert(Multimodal.resizeImage("junk".getBytes("UTF-8"), 2, 2).isEmpty)
    intercept[IllegalArgumentException](Multimodal.resizeImage(green, 0, 2))
  }

  test("X5: REAL JPEG decode through the SAME seam (magic-byte dispatch) recovers pixel truth") {
    // JPEG is lossy, so the pixel-truth fixture is a solid-color
    // image: DCT of a constant block is the constant, so the decoded
    // channel means land within a couple of quantization steps
    def jpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val media = Seq((1L, jpeg(8, 8, 0x4080C0)))
      .toDF("doc_id", "payload")
      .withColumn("meta", struct(lit("image/jpeg").as("mime"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        lit("und").as("lang")))
    val out = Multimodal.extractImageFeatures(spark, media).collect()
    assert(out.length === 1)
    val f = out.head
    assert(f.width === 8 && f.height === 8)
    assert(math.abs(f.avg_r - 0x40) <= 4.0, s"avg_r=${f.avg_r}")
    assert(math.abs(f.avg_g - 0x80) <= 4.0, s"avg_g=${f.avg_g}")
    assert(math.abs(f.avg_b - 0xC0) <= 4.0, s"avg_b=${f.avg_b}")
    // and the direct decode call agrees with the Dataset path
    assert(Multimodal.decodeImage(jpeg(8, 8, 0x4080C0)).isDefined)
  }

  test("X5: REAL frame sampling over an animated GIF — every Nth frame, pixel truth per frame") {
    // six solid-color frames (GIF palettes are lossless for solids)
    // written with the stock JDK GIF sequence writer; everyN = 2 must
    // sample frames 0, 2, 4 with each frame's own color
    val colors = Seq(0xFF0000, 0x00FF00, 0x0000FF, 0xFFFFFF, 0x000000, 0xFF00FF)
    def gif(frames: Seq[Int], w: Int, h: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { rgb =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
      ios.close()
      bos.toByteArray
    }
    val media = Seq((7L, gif(colors, 4, 3)), (8L, "junk".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
      .withColumn("meta", struct(lit("image/gif").as("mime"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        lit("und").as("lang")))
    val out = Multimodal.sampleFrameImages(spark, media, everyN = 2)
      .collect().map(f => f.frame_no -> f).toMap
    assert(out.keySet === Set(0, 2, 4), "everyN=2 over 6 frames; junk dropped")
    for ((fno, f) <- out) {
      val c = colors(fno)
      assert(f.width === 4 && f.height === 3)
      assert(f.avg_r === ((c >> 16) & 0xff).toDouble, s"frame $fno r")
      assert(f.avg_g === ((c >> 8) & 0xff).toDouble, s"frame $fno g")
      assert(f.avg_b === (c & 0xff).toDouble, s"frame $fno b")
    }
    // all six frames decode when unsampled
    assert(Multimodal.decodeFrames(gif(colors, 4, 3)).size === 6)
  }

  test("A2d histogramQuantile: hand interpolation, infinite target bucket caps at highest finite bound, empty key absent") {
    // key a: counts 2/6/2 in (0,1]/(1,5]/(5,10] → p50 rank 5 lands in
    // (1,5] with prevCum 2: 1 + 4·(5−2)/6 = 3.0
    val rows = Seq(
      ("a", 1.0, 2L), ("a", 5.0, 6L), ("a", 10.0, 2L),
      ("a", Double.PositiveInfinity, 0L),
      // key i: mass in the +Inf bucket → p95 reports 10.0
      ("i", 1.0, 1L), ("i", 10.0, 1L),
      ("i", Double.PositiveInfinity, 8L),
      // key z: all-zero buckets → no output row
      ("z", 1.0, 0L), ("z", Double.PositiveInfinity, 0L))
    val df = rows.toDF("k", "le", "cnt").repartition(3)
    val p50 = graft.operators.TimeSeries.histogramQuantile(
      df, Seq("k"), col("le"), col("cnt"), q = 0.5)
      .select("k", "quantile").as[(String, Double)].collect().toMap
    assert(p50("a") === 3.0)
    val p95 = graft.operators.TimeSeries.histogramQuantile(
      df, Seq("k"), col("le"), col("cnt"), q = 0.95)
      .select("k", "quantile").as[(String, Double)].collect().toMap
    assert(p95("i") === 10.0)
    assert(!p50.contains("z") && !p95.contains("z"))
    // q = 1 is the exact upper bound of the last nonempty finite bucket
    val p100 = graft.operators.TimeSeries.histogramQuantile(
      df, Seq("k"), col("le"), col("cnt"), q = 1.0)
      .select("k", "quantile").as[(String, Double)].collect().toMap
    assert(p100("a") === 10.0)
  }

  test("A9 canary: the pivot's pinned values ARE the events table's event_type domain") {
    // q_pivot (and its oracle) pin click/error/purchase/signup/view;
    // a pinned pivot silently drops unlisted values, and the oracle
    // shares the pin — so domain drift passes the value gate unseen.
    // This names the coupling if the driver ever regenerates the
    // fixture with a different domain
    import spark.implicits._
    val actual = Tables.table(spark, sf, "events")
      .select("event_type").distinct().as[String].collect().toSet
    assert(actual === Set("click", "error", "purchase", "signup", "view"),
      "events.event_type domain changed — update q_pivot's pinned values AND its oracle")
  }

  test("O4 property: resampleFill equals an in-memory reference on random series") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val seriesGen = for {
      n <- Gen.choose(1, 30)
      rows <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b", "c")
        b <- Gen.choose(0L, 15L)   // small range → frequent gaps AND collisions
        cents <- Gen.choose(1, 99999)
      } yield (k, b, cents))
    } yield rows
    for (seed <- 1 to 10) {
      val rows = seriesGen.apply(Gen.Parameters.default, Seed(seed.toLong)).get
      val expect = rows.groupBy { case (k, b, _) => (k, b) }.toSeq
        .map { case ((k, b), g) =>
          // mirror the operator's chain exactly: exact decimal sum →
          // one double cast → double division → round(_, 4)
          val sumD = (BigDecimal(g.map(_._3.toLong).sum) / 100).toDouble
          val mean = BigDecimal.decimal(sumD / g.size)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          (k, b, g.size.toLong, mean)
        }
        .groupBy(_._1).toSeq.flatMap { case (k, cells) =>
          val byB = cells.map(c => c._2 -> c).toMap
          val (mn, mx) = (cells.map(_._2).min, cells.map(_._2).max)
          var lastMean = Double.NaN
          (mn to mx).map { b =>
            byB.get(b) match {
              case Some((_, _, n, m)) => lastMean = m; (k, b, n, m)
              case None => (k, b, 0L, lastMean)
            }
          }
        }.toSet
      val df = rows.map { case (k, b, c) => (k, b, c / 100.0) }
        .toDF("k", "bkt", "v")
      val got = graft.operators.TimeSeries
        .resampleFill(df, "k", col("bkt"), col("v"))
        .select("k", "bucket", "cnt", "avg_ffill")
        .as[(String, Long, Long, Double)].collect().toSet
      assert(got == expect, s"seed $seed rows: $rows")
    }
  }

  test("O4 resampleFill: dense grid per key, zero-filled gaps, forward-filled means") {
    // key a: buckets 10, 13 (gap 11-12); key b: single bucket
    val d = Seq(
      ("a", 10L, 4.0), ("a", 10L, 6.0), ("a", 13L, 9.0), ("b", 20L, 2.0))
      .toDF("k", "bkt", "v")
    val out = graft.operators.TimeSeries
      .resampleFill(d, "k", col("bkt"), col("v"))
      .orderBy("k", "bucket")
      .select("k", "bucket", "cnt", "avg_ffill")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("a", 10L, 2L, 5.0),   // mean of 4, 6
      ("a", 11L, 0L, 5.0),   // gap: count zero, mean carried forward
      ("a", 12L, 0L, 5.0),
      ("a", 13L, 1L, 9.0),
      ("b", 20L, 1L, 2.0)))  // span of one: no gaps invented
  }

  test("O4 STEP/INTERPOLATE: grid ∪ observed, linear interp between observed points") {
    // key a: observed at 0 (v=2), 7 (v=10); step 3 → grid 0,3,6 ∪ {7}.
    // interp at 3: 2 + 8*3/7 = 5.4286; at 6: 2 + 8*6/7 = 8.8571
    val d = Seq(("a", 0L, 2.0), ("a", 7L, 10.0)).toDF("k", "bkt", "v")
    val out = graft.operators.TimeSeries
      .resampleFill(d, "k", col("bkt"), col("v"), step = 3L, interpolate = true)
      .orderBy("k", "bucket")
      .select("k", "bucket", "cnt", "avg_ffill", "avg_interp")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(
      ("a", 0L, 1L, 2.0, 2.0),
      ("a", 3L, 0L, 2.0, 5.4286),    // fill row: linear between 0 and 7
      ("a", 6L, 0L, 2.0, 8.8571),
      ("a", 7L, 1L, 10.0, 10.0)))    // observed off-stride bucket kept
    // off-stride final observation: observed 0 (v=1) and 4 (v=3) with
    // step 3 → grid {0,3} ∪ {4}; the fill row at 3 interpolates
    // 1 + 2*3/4 = 2.5 and the observed row at 4 keeps its exact mean
    val d2 = Seq(("a", 0L, 1.0), ("a", 4L, 3.0)).toDF("k", "bkt", "v")
    val out2 = graft.operators.TimeSeries
      .resampleFill(d2, "k", col("bkt"), col("v"), step = 3L, interpolate = true)
      .orderBy("k", "bucket")
      .select("bucket", "cnt", "avg_interp")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out2 == Seq((0L, 1L, 1.0), (3L, 0L, 2.5), (4L, 1L, 3.0)))
  }

  test("A16 exact percentile: matches the p*(n-1) interpolation reference") {
    val rnd = new scala.util.Random(3)
    val xs = Seq.fill(257)(math.round(rnd.nextDouble() * 10000) / 100.0)
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    def ref(p: Double): Double = {
      val s = xs.sorted
      val idx = p * (s.size - 1)
      val lo = idx.toInt
      if (lo == s.size - 1) s(lo)
      else s(lo) + (s(lo + 1) - s(lo)) * (idx - lo)
    }
    val got = xs.toDF("v")
      .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("q"))
      .head.getSeq[Double](0)
    ps.zip(got).foreach { case (p, g) =>
      assert(math.abs(g - ref(p)) < 1e-9, s"p=$p: $g vs ${ref(p)}")
    }
  }

  test("A17 exact-sum correlation agrees with Spark's corr/regr on random data") {
    val rnd = new scala.util.Random(5)
    val rows = Seq.fill(500)((math.round(rnd.nextDouble() * 10000) / 100.0,
      rnd.nextInt(24).toDouble))
    val df = rows.toDF("xv", "yv")
    val builtin = df.agg(corr(col("xv"), col("yv")),
      expr("regr_slope(yv, xv)"), expr("regr_intercept(yv, xv)"))
      .head
    // the registered query's formulation: exact decimal sums → one
    // fixed double tree (x as decimal(18,2), y integral)
    val a = df.select(col("xv").cast("decimal(18,2)").as("x"),
      col("yv").cast("decimal(18,2)").as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,6)")).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,6)")).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,6)")).cast("double").as("syy"))
      .head
    val n = a.getLong(0).toDouble
    val (sx, sy, sxy, sxx, syy) =
      (a.getDouble(1), a.getDouble(2), a.getDouble(3), a.getDouble(4), a.getDouble(5))
    val cov = sxy - sx * sy / n
    val vx = sxx - sx * sx / n
    val vy = syy - sy * sy / n
    assert(math.abs(cov / math.sqrt(vx * vy) - builtin.getDouble(0)) < 1e-9)
    assert(math.abs(cov / vx - builtin.getDouble(1)) < 1e-9)
    assert(math.abs(sy / n - (cov / vx) * (sx / n) - builtin.getDouble(2)) < 1e-9)
  }

  test("W4c rollingZScore: flags an injected spike, and only the spike") {
    // jittered baseline (σ > 0) of 9/10/11 with one 100-count spike
    val base = (0L until 20L).map(b => ("k", b, 10L + (b % 3) - 1L))
    val series = base.map { case (k, b, c) => (k, b, if (b == 15L) 100L else c) }
      .toDF("k", "bkt", "cnt")
    val out = graft.operators.TimeSeries
      .rollingZScore(series, Seq("k"), col("bkt"), col("cnt"), lookback = 7)
      .select("bkt", "z", "is_anomaly").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getBoolean(2)))).toSeq.sortBy(_._1)
    val flagged = out.collect { case (b, _, Some(true)) => b }
    assert(flagged === Seq(15L), s"only the spike flags: $out")
    // warm-up rows (< minN trailing points) stay null, not false alarms
    assert(out.take(3).forall(_._2.isEmpty))
    // the spike's z is huge and positive
    assert(out.find(_._1 == 15L).flatMap(_._2).exists(_ > 10.0))
  }

  test("W4c rollingZScore: constant baseline (σ=0) yields null z, never NaN") {
    val series = (0L until 10L).map(b => ("k", b, 5L)).toDF("k", "bkt", "cnt")
    val out = graft.operators.TimeSeries
      .rollingZScore(series, Seq("k"), col("bkt"), col("cnt"), lookback = 4)
      .select("z").collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("W4c rollingZScore: baseline excludes the current point (PRECEDING frame)") {
    // if the frame included the current row, the spike would inflate
    // its own baseline and z would shrink; verify against hand math:
    // trailing 4 of bucket 5 are 4,6,4,6 → μ=5, σ²=4/3
    val series = Seq(("k", 1L, 4L), ("k", 2L, 6L), ("k", 3L, 4L),
      ("k", 4L, 6L), ("k", 5L, 17L)).toDF("k", "bkt", "cnt")
    val z = graft.operators.TimeSeries
      .rollingZScore(series, Seq("k"), col("bkt"), col("cnt"),
        lookback = 4, minN = 4)
      .filter(col("bkt") === 5).select("z").head.getDouble(0)
    val expect = (17.0 - 5.0) / math.sqrt(4.0 / 3.0)
    assert(math.abs(z - expect) < 1e-4, s"z=$z expect=$expect")
  }

  test("W4e tukeyOutliers: flags exactly the planted tail, exact fences, robust to the outlier itself") {
    // 15 values 10.00..10.14 plus one planted spike: q1/q3 sit in the
    // bulk, so the spike is flagged and NOTHING else; the spike
    // cannot drag the fences (robustness — contrast a mean/σ rule)
    val bulk = (0 until 15).map(i => ("k", i.toLong, 10.0 + i * 0.01))
    val spike = Seq(("k", 99L, 500.0))
    val df = (bulk ++ spike).toDF("g", "id", "v").repartition(3)
    val out = graft.operators.TimeSeries.tukeyOutliers(
      df, Seq("g"), col("v"))
      .select("id", "lo_fence", "hi_fence")
      .as[(Long, Double, Double)].collect()
    assert(out.map(_._1).toSet === Set(99L), s"only the spike flags: ${out.toSeq}")
    // exact fence check: w = 1000..1014, 500000; p·(n−1) with n=16:
    // q1 at idx 3.75, q3 at idx 11.25 → interpolated on the .25 grid
    val w = (bulk ++ spike).map(r => math.floor(r._3 * 100)).sorted
    def quant(p: Double): Double = {
      val idx = p * (w.size - 1)
      val lo = w(idx.toInt); val hi = w(math.ceil(idx).toInt)
      lo + (idx - idx.toInt) * (hi - lo)
    }
    val iqr = quant(0.75) - quant(0.25)
    assert(out.head._2 === math.round((quant(0.25) - 1.5 * iqr) / 100.0 * 1e6) / 1e6)
    assert(out.head._3 === math.round((quant(0.75) + 1.5 * iqr) / 100.0 * 1e6) / 1e6)
  }

  test("W9 ohlcResample: first/last by (ts, tie), high/low/count per bucket") {
    val df = Seq(
      ("a", 11L, 1L, 5.0), ("a", 13L, 2L, 9.0), ("a", 13L, 3L, 2.0),
      ("a", 19L, 4L, 7.0),                       // bucket 1: o=5 h=9 l=2 c=7
      ("a", 21L, 5L, 4.0),                       // bucket 2: all 4.0
      ("b", 12L, 6L, 1.0),
      ("c", 10L, 1L, 3.0), ("c", 10L, 2L, 8.0)   // same-ts tie: tie col decides
    ).toDF("k", "t", "tie", "v")
    val out = graft.operators.TimeSeries
      .ohlcResample(df, Seq("k"), col("t"), col("tie"), col("v"), 10L)
      .orderBy("k", "bucket")
      .select("k", "bucket", "open", "high", "low", "close", "n")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
    assert(out.toSeq === Seq(
      ("a", 1L, 5.0, 9.0, 2.0, 7.0, 4L),
      ("a", 2L, 4.0, 4.0, 4.0, 4.0, 1L),
      ("b", 1L, 1.0, 1.0, 1.0, 1.0, 1L),
      ("c", 1L, 3.0, 8.0, 3.0, 8.0, 2L)))
  }

  test("W9 ohlcResample plans one aggregate, no Window") {
    val df = (1L to 100L).map(i => ("k", i, i, i.toDouble))
      .toDF("k", "t", "tie", "v")
    val plan = graft.operators.TimeSeries
      .ohlcResample(df, Seq("k"), col("t"), col("tie"), col("v"), 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"OHLC must not plan a window:\n$plan")
  }
}
