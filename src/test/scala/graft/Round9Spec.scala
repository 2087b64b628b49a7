package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.plans.VersionedLayer

/** Round-9 additions: partition-scoped delta commits on the versioned
  * layer store (the streaming-MV sink now rewrites only dirty partitions —
  * bytes per commit ∝ delta, asserted at the filesystem level), plus the
  * round-8 ADVICE regression pins (ksTest overflow-proof guard).
  */
class Round9Spec extends SparkSpec {
  import spark.implicits._

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def partDirs(p: String, v: Int): Set[String] = {
    val fs = fsOf(p)
    val d = new Path(s"$p/v=$v/data")
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).filter(_.isDirectory).map(_.getPath.getName).toSet
  }

  test("commitDelta writes ONLY dirty partitions; read resolves the chain") {
    val p = Files.createTempDirectory("graft-vl-delta").resolve("l").toString
    // v1: three hour partitions
    val v1 = VersionedLayer.commitDelta(
      Seq((3600L, "click", 10L), (7200L, "click", 4L), (7200L, "buy", 1L),
        (10800L, "view", 2L)).toDF("hour_start", "event_type", "n"),
      p, "hour_start")
    assert(v1 == 1)
    assert(partDirs(p, 1) ==
      Set("hour_start=3600", "hour_start=7200", "hour_start=10800"))

    // v2 touches ONE hour — the FS-level delta contract: v=2/data holds
    // exactly that partition dir, nothing else is rewritten
    val dirty = Seq("7200")
    val base = VersionedLayer.readPartitions(spark, p, "hour_start", dirty).get
    val delta = Seq((7200L, "click", 9L)).toDF("hour_start", "event_type", "n")
    val merged = base
      .join(delta.select("hour_start", "event_type"),
        Seq("hour_start", "event_type"), "left_anti")
      .unionByName(delta)
    val v2 = VersionedLayer.commitDelta(merged, p, "hour_start")
    assert(v2 == 2)
    assert(partDirs(p, 2) == Set("hour_start=7200"),
      "a one-hour delta must rewrite exactly one partition dir")

    // the base scan read only the dirty partition, and the merge upserted
    assert(base.select("hour_start").distinct().as[Long].collect().toSet ==
      Set(7200L))
    val cur = VersionedLayer.read(spark, p)
      .select(col("hour_start").cast("long"), col("event_type"), col("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(cur == Set((3600L, "click", 10L), (7200L, "click", 9L),
      (7200L, "buy", 1L), (10800L, "view", 2L)))

    // time travel still resolves v1's own manifest
    val old = VersionedLayer.read(spark, p, Some(1))
      .select(col("hour_start").cast("long"), col("n"))
      .filter(col("hour_start") === 7200L).as[(Long, Long)].collect().toSet
    assert(old == Set((7200L, 4L), (7200L, 1L)))

    // vacuum must NOT drop v1: the current chain still hosts 3600/10800 there
    val v3 = VersionedLayer.commitDelta(
      Seq((14400L, "view", 1L)).toDF("hour_start", "event_type", "n"),
      p, "hour_start")
    assert(v3 == 3)
    assert(VersionedLayer.vacuum(spark, p, keep = 1).isEmpty,
      "live-partition hosts are not vacuumable")
    assert(VersionedLayer.read(spark, p).count() == 5)

    // crash window: a torn delta write (data but no version _SUCCESS /
    // manifest swap) is invisible — readers stay on v3
    fsOf(p).mkdirs(new Path(s"$p/v=4/data/hour_start=99"))
    assert(VersionedLayer.versions(spark, p) == Seq(1, 2, 3))
    assert(VersionedLayer.currentVersion(spark, p).contains(3))
  }

  test("commitDelta refuses a full-snapshot base; readPartitions on empty store is None") {
    val p = Files.createTempDirectory("graft-vl-mixed").resolve("l").toString
    assert(VersionedLayer.readPartitions(spark, p, "hour_start",
      Seq("1")).isEmpty)
    VersionedLayer.commit(Seq((1L, "a")).toDF("hour_start", "s"), p)
    val e = intercept[IllegalStateException] {
      VersionedLayer.commitDelta(
        Seq((1L, "b")).toDF("hour_start", "s"), p, "hour_start")
    }
    assert(e.getMessage.contains("full snapshot"))
  }

  // ---- JPEG codec ---------------------------------------------------------

  test("JPEG block-constant even grayscale roundtrips EXACTLY (golden)") {
    // DC-only blocks: coefficient 8·(v−128) with v even is divisible by
    // the Annex-K q00=16, so quantization is lossless and decode must
    // return the pattern verbatim — including partial edge blocks (20×12)
    // and a restart-interval stream (RSTn + DC predictor resets)
    val w = 20; val h = 12
    for (ri <- Seq(0, 2, 3)) {
      val luma = Array.tabulate(w * h) { p =>
        val x = p % w; val y = p / w
        2 * ((x / 8 * 31 + y / 8 * 17 + 5) % 128)
      }
      val enc = graft.pipeline.JpegCodec.encodeJpegGray(w, h, luma, ri)
      val (gw, gh, got) = graft.pipeline.JpegCodec.decodeJpegLuma(enc)
      assert((gw, gh) == (w, h), s"dims under restartInterval=$ri")
      assert(got.toSeq == luma.toSeq, s"exact roundtrip failed at ri=$ri")
      // second engine: javax.imageio must read the same exact values
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(enc))
      assert(img != null, s"ImageIO rejected our ri=$ri JPEG")
      assert((img.getWidth, img.getHeight) == (w, h))
      val jdk = for (y <- 0 until h; x <- 0 until w)
        yield img.getRaster.getSample(x, y, 0)
      assert(jdk == luma.toSeq, s"ImageIO disagrees on constant blocks ri=$ri")
    }
  }

  test("JPEG two-engine differential on full-DCT grayscale content") {
    // non-constant content exercises every AC path (runs, ZRL, EOB,
    // magnitude categories); both engines decode the SAME bitstream, so
    // the only divergence allowed is IDCT rounding — |diff| ≤ 1
    val rnd = new scala.util.Random(29)
    val w = 21; val h = 13
    val luma = Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      math.min(255, (x * 12 + y * 9) % 256 / 2 + rnd.nextInt(128))
    }
    val enc = graft.pipeline.JpegCodec.encodeJpegGray(w, h, luma)
    val (gw, gh, mine) = graft.pipeline.JpegCodec.decodeJpegLuma(enc)
    assert((gw, gh) == (w, h))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
    assert(img != null, "ImageIO rejected our full-DCT JPEG")
    var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w) {
      val d = math.abs(img.getRaster.getSample(x, y, 0) - mine(y * w + x))
      maxDiff = math.max(maxDiff, d)
    }
    assert(maxDiff <= 1,
      s"reference IDCT vs libjpeg IDCT diverged by $maxDiff (> 1)")
    // and the decode is a faithful decode, not noise: within quantization
    // error of the source (generous bound; Annex-K tables are coarse)
    val meanErr = (0 until w * h).map(p => math.abs(mine(p) - luma(p))).sum /
      (w * h).toDouble
    assert(meanErr < 16.0, s"decoded image drifted from source: mean $meanErr")
  }

  test("JPEG 4:4:4 color: two-engine luma agreement within rounding") {
    val rnd = new scala.util.Random(31)
    val w = 16; val h = 16
    val rgb = Array.fill(w * h * 3)(rnd.nextInt(256))
    val enc = graft.pipeline.JpegCodec.encodeJpegColor(w, h, rgb)
    val (gw, gh, mine) = graft.pipeline.JpegCodec.decodeJpegLuma(enc)
    assert((gw, gh) == (w, h))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
    assert(img != null, "ImageIO rejected our color JPEG")
    var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w) {
      val p = img.getRGB(x, y)
      val jdkLuma = (299 * ((p >> 16) & 0xFF) + 587 * ((p >> 8) & 0xFF) +
        114 * (p & 0xFF)) / 1000
      maxDiff = math.max(maxDiff, math.abs(jdkLuma - mine(y * w + x)))
    }
    // IDCT rounding (±1 per YCbCr plane) can compound through the color
    // transform + the integer-luma floor — allow a small envelope
    assert(maxDiff <= 3, s"color-path luma diverged by $maxDiff (> 3)")
  }

  test("JPEG decoder reads an INDEPENDENTLY-encoded stream (ImageIO → ours)") {
    val rnd = new scala.util.Random(37)
    val w = 24; val h = 16
    val luma = Array.fill(w * h)(rnd.nextInt(256))
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, luma(y * w + x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val (gw, gh, mine) = graft.pipeline.JpegCodec.decodeJpegLuma(bos.toByteArray)
    assert((gw, gh) == (w, h))
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w)
      maxDiff = math.max(maxDiff,
        math.abs(back.getRaster.getSample(x, y, 0) - mine(y * w + x)))
    assert(maxDiff <= 1,
      s"pure decoder disagrees with ImageIO on ImageIO's own stream: $maxDiff")
  }

  test("JPEG decoder fails loudly on unsupported shapes") {
    val e1 = intercept[IllegalArgumentException] {
      graft.pipeline.JpegCodec.decodeJpegLuma(Array[Byte](0x42, 0x4D, 0, 0, 0))
    }
    assert(e1.getMessage.contains("not a JPEG"))
    // progressive (SOF2): flip the golden stream's SOF0 marker in place
    val enc = graft.pipeline.JpegCodec.encodeJpegGray(8, 8,
      Array.fill(64)(100))
    val prog = enc.clone()
    val sof = prog.indices.find(i => (prog(i) & 0xFF) == 0xFF &&
      i + 1 < prog.length && (prog(i + 1) & 0xFF) == 0xC0).get
    prog(sof + 1) = 0xC2.toByte
    val e2 = intercept[IllegalArgumentException] {
      graft.pipeline.JpegCodec.decodeJpegLuma(prog)
    }
    assert(e2.getMessage.contains("baseline"))
  }

  // ---- WAV codec ----------------------------------------------------------

  test("WAV PCM16 roundtrip is exact; chunk skipping; two-engine differential") {
    import graft.pipeline.AudioCodec
    val pcm = Array.tabulate[Short](256) { j =>
      val pat = (if (((j / 32) + 5) % 3 != 0) 180 else 40) + (j * 7 + 55) % 64
      (pat * 257 - 32768).toShort
    }
    // with the LIST/INFO comment chunk between fmt and data (byte-different
    // encodings of identical samples + the decoder's skip path)
    for (cmt <- Seq(None, Some("media-7"), Some("odd"))) {
      val wav = AudioCodec.encodeWavPcm16(16000, pcm, cmt)
      val (rate, got) = AudioCodec.decodeWavPcm16(wav)
      assert(rate == 16000 && got.toSeq == pcm.toSeq, s"roundtrip cmt=$cmt")
    }
    assert(!java.util.Arrays.equals(
      AudioCodec.encodeWavPcm16(16000, pcm, Some("a")),
      AudioCodec.encodeWavPcm16(16000, pcm, Some("b"))),
      "comment chunk must make byte-different streams")
    // second engine: javax.sound reads our comment-free stream exactly
    val wav = AudioCodec.encodeWavPcm16(16000, pcm, None)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    assert(fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16 &&
      fmt.getSampleRate == 16000.0f)
    val raw = ais.readAllBytes()
    assert(raw.length == pcm.length * 2)
    val jdk = Array.tabulate[Short](pcm.length) { i =>
      (((raw(2 * i) & 0xFF) | ((raw(2 * i + 1) & 0xFF) << 8)).toShort)
    }
    assert(jdk.toSeq == pcm.toSeq, "javax.sound disagrees on our PCM data")
    // the amplitude grid: pattern·257 − 32768 decodes to EXACTLY pattern/255f
    val f = (pcm(0) + 32768) / 65535.0f
    val pat0 = (if (5 % 3 != 0) 180 else 40) + 55 % 64
    assert(f == pat0.toFloat / 255.0f)
    // unsupported shapes fail loudly
    val stereoHdr = wav.clone()
    stereoHdr(22) = 2 // channels field inside fmt
    val e = intercept[IllegalArgumentException] {
      AudioCodec.decodeWavPcm16(stereoHdr)
    }
    assert(e.getMessage.contains("PCM 16-bit mono"))
  }

  test("sampleFrames under codec=png: container slice + REAL decode") {
    import graft.pipeline.Multimodal
    val media = Multimodal.syntheticVideoPng(spark, 9, frames = 3)
    assert(media.select("media_id").as[Long].collect().toSet == Set(2L, 5L, 8L))
    val fr = Multimodal.sampleFrames(media, n = 3, w = 16, h = 16)
      .select(col("media_id"), col("frame_idx"), col("pixels"))
      .as[(Long, Int, Seq[Float])].collect()
    assert(fr.length == 9)
    // frame (s=2, f=1) must equal the lossless pattern's luma/255f
    val got = fr.find(r => r._1 == 2L && r._2 == 1).get._3
    val k = ((2L * 2 * 31 + 1 * 1 * 17 + 1 * 2 * 5) % 200 + 28).toInt
    val want = (0 until 256).map { p =>
      (if (p < k) 255 else (p * 3) % 64).toFloat / 255.0f
    }
    assert(got == want, "real container decode diverged from the pattern")
    // n < total: evenly spaced sampling still decodes (frame 0 for n=1)
    val one = Multimodal.sampleFrames(media, n = 1, w = 16, h = 16)
    assert(one.count() == 3)
    // torn container fails loudly, never a silent stub fallback
    val torn = media.select(col("media_id"), col("kind"),
      expr("substring(bytes, 1, 10)").as("bytes"))
    val e = intercept[Exception] {
      Multimodal.sampleFrames(torn, n = 1, w = 16, h = 16).collect()
    }
    assert(e.getMessage.contains("torn frame"), e.getMessage)
  }

  test("ksTest overflow guard fires via division (no wrapping product)") {
    // the guard path itself: tiny frame, guard must NOT fire
    val df = Seq((1.0, 0), (2.0, 0), (1.5, 1), (2.5, 1))
      .toDF("m", "variant")
    val r = graft.pipeline.Events.ksTest(df, "m", "variant").collect()(0)
    assert(r.getAs[Long]("n_a") == 2 && r.getAs[Long]("n_b") == 2)
    // d: CDF gap — groups at 1.0,1.5,2.0,2.5 → max |ca·n_b − cb·n_a| = 2
    assert(r.getAs[Long]("d_num") == 2L)
  }
}
