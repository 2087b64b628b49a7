package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{AudioCodec, ImageCodec, JpegCodec, Multimodal}

/** The bytes choose the decoder: one multimodal call over rows of mixed
  * formats decodes each by its signature, and bytes of no known format
  * (every [[Multimodal.syntheticMedia]] row) take the FNV stub.
  */
class MediaDispatchSpec extends SparkSpec {
  import spark.implicits._

  /** The FNV stub's output, replayed: fold the bytes into the state, then
    * one multiply step per output value.
    */
  private def stub(bytes: Array[Byte], n: Int): Seq[Float] = {
    var state = 0xcbf29ce484222325L
    bytes.foreach { b => state ^= b; state *= 0x100000001b3L }
    (0 until n).map { i =>
      state ^= i; state *= 0x100000001b3L
      ((state >>> 40).toInt & 0xFF) / 255.0f
    }
  }

  private def luma(rgb: Array[Int]): Seq[Int] = rgb.grouped(3)
    .map { case Array(r, g, b) => (299 * r + 587 * g + 114 * b) / 1000 }.toSeq

  test("decodeAndFeaturize: BMP, PNG, JPEG and stub rows in one call") {
    val w = 16; val h = 8
    val rgb = Array.tabulate(w * h * 3)(k => (k * 37 + k / 3 * 11) % 256)
    // block-constant even gray values: the lossy JPEG roundtrip is exact
    val gray = Array.tabulate(w * h)(p => 2 * ((p % w / 8 * 31 + 5) % 128))
    val synth = Multimodal.syntheticMedia(spark, 1)
      .select("bytes").as[Array[Byte]].head()
    val rows = Seq(
      (0L, ImageCodec.encodeBmp(w, h, rgb)),
      (1L, ImageCodec.encodePng(w, h, rgb, filterType = 4)),
      (2L, JpegCodec.encodeJpegGray(w, h, gray)),
      (3L, synth))
    val got = Multimodal.decodeAndFeaturize(rows.toDF("media_id", "bytes"), w, h)
      .select("media_id", "pixels").as[(Long, Seq[Float])].collect().toMap
    val real = luma(rgb).map(_ / 255.0f)
    assert(got(0L) == real, "BMP row")
    assert(got(1L) == real, "PNG row")
    assert(got(2L) == gray.toSeq.map(_ / 255.0f), "JPEG row")
    assert(got(3L) == stub(synth, w * h), "stub row")
  }

  test("sampleWaveform: WAV and stub rows in one call") {
    val windows = 8; val spw = 32
    val wav = Multimodal.syntheticAudioWav(spark, 6).select("media_id", "kind", "bytes")
    val synth = Multimodal.syntheticMedia(spark, 6).filter(col("kind") === "audio")
      .select((col("media_id") + 1000).as("media_id"), col("kind"), col("bytes"))
    val media = wav.unionByName(synth)
    val bytesOf = media.select("media_id", "bytes").as[(Long, Array[Byte])]
      .collect().toMap
    assert(bytesOf.keySet == Set(1L, 4L, 1001L, 1004L))
    val got = Multimodal.sampleWaveform(media, windows, spw)
      .select("media_id", "window_idx", "sample_sum", "peak")
      .as[(Long, Int, Double, Double)].collect()
    assert(got.length == 4 * windows)
    got.foreach { case (id, wi, sum, peak) =>
      val samples =
        if (id < 1000) AudioCodec.decodeWavPcm16(bytesOf(id))._2.toSeq
          .map(s => (s + 32768) / 65535.0f)
        else stub(bytesOf(id), windows * spw)
      val win = samples.slice(wi * spw, (wi + 1) * spw)
      assert(sum == win.foldLeft(0.0)(_ + _), s"media $id window $wi sum")
      assert(peak == win.max.toDouble, s"media $id window $wi peak")
    }
    // the WAV rows decode the fixture's loud/quiet pattern, not the stub
    val pat = (0 until spw).map(j => (180 + (j * 7 + 11) % 64) / 255.0f)
    val first = got.find(r => r._1 == 1L && r._2 == 0).get
    assert(first._3 == pat.foldLeft(0.0)(_ + _))
  }

  test("every syntheticMedia seed 0 to 99 999 takes the FNV stub") {
    val n = 100000
    val got = Multimodal.decodeAndFeaturize(Multimodal.syntheticMedia(spark, n), 2, 1)
      .join(Multimodal.syntheticMedia(spark, n).select("media_id", "bytes"), "media_id")
      .select("media_id", "bytes", "pixels").as[(Long, Array[Byte], Seq[Float])]
      .collect()
    assert(got.length == n)
    val off = got.filterNot { case (_, b, px) => px == stub(b, 2) }.map(_._1)
    assert(off.isEmpty, s"seeds not decoded by the stub: ${off.take(10).toSeq}")
  }
}
