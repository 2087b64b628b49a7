package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata structs, processed in batch-shaped partition passes.
  *
  * Decode is chosen by WHAT THE BYTES ARE, row by row: a PNG, baseline
  * JPEG or uncompressed BMP stream decodes for real (pure-JVM
  * [[ImageCodec]] / [[JpegCodec]], each cross-checked against
  * javax.imageio and gated by its mm_decode_* oracle), a RIFF/WAVE stream
  * through [[AudioCodec]], a length-prefixed PNG-frame container through
  * [[sampleFrames]]'s slicer; bytes that match no signature take the
  * deterministic FNV stub ([[syntheticMedia]]'s rows in tests and
  * BenchScale). The production mm queries run on genuine PNG/WAV fixtures
  * ([[syntheticImagePng]] / [[syntheticAudioWav]] / [[syntheticVideoPng]]).
  * Everything Spark-side is real either way: schemas, partition sizing,
  * batch iteration, output shapes.
  */
object Multimodal {

  /** Canonical multimodal schema: media carried as bytes + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),        // image|audio|video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("format", StringType, nullable = true))), nullable = true)))

  /** STUB decode: deterministic pseudo-pixels from the byte content (FNV
    * chain) shaped (h, w) — stands in for a real image decode. Keeps output
    * size bounded and reproducible for tests.
    */
  private def fakeDecode(bytes: Array[Byte], w: Int, h: Int): Array[Float] = {
    val out = new Array[Float](w * h)
    var state = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { state ^= bytes(i); state *= 0x100000001b3L; i += 1 }
    i = 0
    while (i < out.length) {
      state ^= i; state *= 0x100000001b3L
      out(i) = ((state >>> 40).toInt & 0xFF) / 255.0f
      i += 1
    }
    out
  }

  private object Format extends Enumeration {
    val Png, Jpeg, Bmp, Wav, Frames, Stub = Value
  }

  /** The decoder a byte stream asks for, by its FULL signature: PNG's 8
    * bytes, JPEG's `FF D8 FF`, `BM` with the reserved bytes 6–9 zero,
    * `RIFF` + `WAVE` at 8, or a frame container (4-byte BE length, then
    * `\x89PNG`). Bytes matching none take the FNV stub — no seed of
    * [[syntheticMedia]]'s generator matches a full signature
    * (MediaDispatchSpec pins seeds 0–99 999). A matched stream its decoder then rejects fails
    * loudly: a silent stub fallback would fake a decode.
    */
  private def formatOf(b: Array[Byte]): Format.Value = {
    def at(o: Int, sig: Int*) = b.length >= o + sig.length &&
      sig.indices.forall(i => (b(o + i) & 0xFF) == sig(i))
    if (at(0, 0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)) Format.Png
    else if (at(0, 0xFF, 0xD8, 0xFF)) Format.Jpeg
    else if (at(0, 'B', 'M') && at(6, 0, 0, 0, 0)) Format.Bmp
    else if (at(0, 'R', 'I', 'F', 'F') && at(8, 'W', 'A', 'V', 'E')) Format.Wav
    else if (at(4, 0x89, 'P', 'N', 'G')) Format.Frames
    else Format.Stub
  }

  /** One image stream's luma box-meaned to (w, h), decoder by signature. */
  private def imagePixels(id: Long, bytes: Array[Byte], w: Int, h: Int): Array[Float] = {
    def boxed(d: (Int, Int, Array[Int])) = ImageCodec.boxMean(d._1, d._2, d._3, w, h)
    formatOf(bytes) match {
      case Format.Png => boxed(ImageCodec.decodePngLuma(bytes))
      case Format.Jpeg => boxed(JpegCodec.decodeJpegLuma(bytes))
      case Format.Bmp => boxed(ImageCodec.decodeBmpLuma(bytes))
      case Format.Stub => fakeDecode(bytes, w, h)
      case f => throw new IllegalArgumentException(s"media $id: a $f stream is not an image")
    }
  }

  /** Decode + resize to (w×h) feature vectors, one batch-shaped partition
    * pass (the Scala analog of a Pandas mapInPandas batch UDF: per-partition
    * iterator, amortized setup, bounded memory per batch).
    *
    * Each row's decoder is chosen by its bytes' signature: PNG, JPEG
    * and BMP decode for real — native luma pixels box-meaned to the
    * requested (w, h) — so byte-different encodings of the same pixels
    * (row order, padding, row filters) decode identically, which the FNV
    * stub cannot do; bytes of no known format take the stub, and a
    * non-image signature fails loudly. One call may mix formats.
    */
  def decodeAndFeaturize(df: DataFrame, w: Int = 32, h: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition setup would init a stateful codec once here
        it.map { case (id, bytes) =>
          val px = if (bytes == null) new Array[Float](w * h)
            else imagePixels(id, bytes, w, h)
          (id, px, w, h)
        }
      }
      .toDF("media_id", "pixels", "width", "height")
  }

  /** Box-filter downsample of decoded pixel grids: each destination pixel
    * is the mean of its (srcW/dstW)×(srcH/dstH) source block — the resize
    * member of the decode / feature-extract / resize / frame-sample
    * quartet. Runs per partition over the (media_id, pixels) batches the
    * decode step emits (same mapPartitions shape, so a real resampler
    * slots in without touching the dataflow). Requires integral scale
    * factors; block means of ≤1020/255 level quarters are exact in float,
    * so the oracle recovers the source-level block sums losslessly.
    */
  def boxResize(df: DataFrame, srcW: Int, srcH: Int, dstW: Int, dstH: Int): DataFrame = {
    require(srcW % dstW == 0 && srcH % dstH == 0,
      s"box resize needs integral factors: ${srcW}x$srcH -> ${dstW}x$dstH")
    val fx = srcW / dstW; val fy = srcH / dstH
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("pixels")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.map { case (id, px) =>
          val out = new Array[Float](dstW * dstH)
          var ry = 0
          while (ry < dstH) {
            var rx = 0
            while (rx < dstW) {
              var sum = 0.0f
              var dy = 0
              while (dy < fy) {
                var dx = 0
                while (dx < fx) {
                  sum += px((ry * fy + dy) * srcW + (rx * fx + dx))
                  dx += 1
                }
                dy += 1
              }
              out(ry * dstW + rx) = sum / (fx * fy)
              rx += 1
            }
            ry += 1
          }
          (id, out.toSeq, dstW, dstH)
        }
      }
      .toDF("media_id", "pixels", "width", "height")
  }

  /** Frame sampling for video-kind rows: emits `n` evenly spaced frames per
    * media row (the explode shape of a real frame sampler). A row whose
    * bytes are a length-prefixed frame container ([[syntheticVideoPng]]'s
    * layout — or any producer's) is sliced, and each sampled frame goes
    * through the same signature dispatch as [[decodeAndFeaturize]]; bytes
    * of no known format feed the FNV stub per frame. A torn container or
    * any other signature fails loudly.
    */
  def sampleFrames(df: DataFrame, n: Int = 4, w: Int = 16, h: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col("kind") === "video")
      .select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val format = if (bytes == null) Format.Stub else formatOf(bytes)
        if (format == Format.Frames) {
          // slice the container: [4-byte BE length][frame] repeated
          val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
          var o = 0
          while (o < bytes.length) {
            require(o + 4 <= bytes.length, s"media $id: torn frame header")
            val len = ((bytes(o) & 0xFF) << 24) | ((bytes(o + 1) & 0xFF) << 16) |
              ((bytes(o + 2) & 0xFF) << 8) | (bytes(o + 3) & 0xFF)
            require(len > 0 && o + 4 + len <= bytes.length,
              s"media $id: torn frame of $len bytes at $o")
            frames += java.util.Arrays.copyOfRange(bytes, o + 4, o + 4 + len)
            o += 4 + len
          }
          require(frames.length >= n,
            s"media $id: ${frames.length} frames < sample size $n")
          (0 until n).map(k => (id, k, imagePixels(id, frames(k * frames.length / n), w, h)))
        } else {
          require(format == Format.Stub, s"media $id: a $format stream is not a frame container")
          (0 until n).map { f =>
            val seed = if (bytes == null) Array[Byte](f.toByte)
              else bytes :+ f.toByte
            (id, f, fakeDecode(seed, w, h))
          }
        }
      }
      .toDF("media_id", "frame_idx", "pixels")
  }

  /** Shared audio sample decode, chosen by the bytes: a RIFF/WAVE stream
    * decodes REAL PCM ([[AudioCodec]]) to the engine's [0, 1] float
    * amplitude grid — (s + 32768)/65535f; bytes of no known format take
    * the FNV stub; any other signature, and short or non-PCM WAV streams,
    * fail loudly.
    */
  private def decodeSamples(id: Long, bytes: Array[Byte],
      n: Int, samplesPerWindow: Int, windows: Int): Array[Float] =
    if (bytes == null) new Array[Float](n)
    else formatOf(bytes) match {
      case Format.Wav =>
        val (_, pcm) = AudioCodec.decodeWavPcm16(bytes)
        require(pcm.length >= n,
          s"media $id: ${pcm.length} PCM samples < required $n")
        Array.tabulate(n)(i => (pcm(i) + 32768) / 65535.0f)
      case Format.Stub => fakeDecode(bytes, samplesPerWindow, windows)
      case f => throw new IllegalArgumentException(s"media $id: a $f stream is not audio")
    }

  /** Waveform windowing for audio-kind rows: decode to a sample stream,
    * split into `windows` fixed-size windows, emit per-window amplitude
    * stats — the 1→N explode + window-stat shape of a real audio feature
    * extractor (VAD, loudness normalization).
    */
  def sampleWaveform(df: DataFrame, windows: Int = 8, samplesPerWindow: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col("kind") === "audio")
      .select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val samples = decodeSamples(id, bytes,
          windows * samplesPerWindow, samplesPerWindow, windows)
        (0 until windows).map { wi =>
          var sum = 0.0
          var peak = Float.MinValue
          var i = wi * samplesPerWindow
          val end = i + samplesPerWindow
          while (i < end) {
            sum += samples(i)
            if (samples(i) > peak) peak = samples(i)
            i += 1
          }
          (id, wi, sum, peak.toDouble)
        }
      }
      .toDF("media_id", "window_idx", "sample_sum", "peak")
  }

  /** Energy-threshold voice-activity segmentation over the windowed
    * waveform — the silence-removal pass an ASR-corpus pipeline runs before
    * transcription: a window is ACTIVE when its mean amplitude exceeds
    * `threshold`, and maximal runs of active windows merge into segments
    * (gaps-and-islands: island = window_idx − row_number over the active
    * windows, both per-media). Per-media windows are a constant (`windows`),
    * so every partitioned window here is bounded-input by construction.
    * Amplitudes are byte/255 floats widened to double, so the 32-term sums
    * are EXACT (≤29 significant bits) and the threshold compare is
    * order-free — replayable by the oracle. Swap the stub decode for PCM +
    * a spectral VAD score without touching the dataflow.
    */
  def vadSegments(df: DataFrame, windows: Int = 8, samplesPerWindow: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wv = sampleWaveform(df, windows, samplesPerWindow)
    val perMedia = Window.partitionBy("media_id").orderBy("window_idx")
    val segs = wv
      .filter(col("sample_sum") / lit(samplesPerWindow) > lit(threshold))
      .withColumn("island", col("window_idx") - row_number().over(perMedia))
      .groupBy(col("media_id"), col("island"))
      .agg(min("window_idx").as("seg_start"), max("window_idx").as("seg_end"),
        count(lit(1)).as("n_windows"),
        round(sum("sample_sum"), 4).as("energy"))
    val perSeg = Window.partitionBy("media_id").orderBy("seg_start")
    segs.withColumn("seg_idx", row_number().over(perSeg).cast("long"))
      .select(col("media_id"), col("seg_idx"),
        col("seg_start").cast("long").as("seg_start"),
        col("seg_end").cast("long").as("seg_end"),
        col("n_windows"), col("energy"))
  }

  /** Per-sample waveform points (media_id, window_idx, sample_idx, px) —
    * the un-aggregated sibling of [[sampleWaveform]], feeding peak-picking
    * pipelines like [[constellationMatches]].
    */
  def samplePoints(df: DataFrame, windows: Int = 8,
      samplesPerWindow: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col("kind") === "audio")
      .select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val s = decodeSamples(id, bytes,
          windows * samplesPerWindow, samplesPerWindow, windows)
        s.indices.map(i =>
          (id, i / samplesPerWindow, i % samplesPerWindow, s(i).toDouble))
      }
      .toDF("media_id", "window_idx", "sample_idx", "px")
  }

  /** Shazam-style constellation fingerprint matching (Wang ISMIR'03): one
    * peak per window (argmax sample, ties to the smaller index), anchor
    * peaks paired with peaks up to `maxDt` windows ahead into (pa, pb, dt)
    * hashes, then a banded join ON THE HASH — never an all-pairs audio
    * comparison — and per candidate pair the modal window offset (true
    * matches align at one offset; chance collisions scatter). Pairs with
    * ≥ `minMatch` matching hashes survive.
    *
    * Scale shape: peak-picking is a per-(media, window) argmax; the match
    * join is keyed on the 3-component hash exactly like an inverted index
    * (the posting-list join of audio search); the offset histogram is one
    * aggregate on the matched pairs. With a REAL PCM decode + FFT the
    * peaks become spectral maxima — the dataflow is unchanged (the stub
    * decoder makes only byte-identical audio align, like mm_phash).
    */
  def constellationMatches(df: DataFrame, windows: Int = 8,
      samplesPerWindow: Int = 32, maxDt: Int = 3, minMatch: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = samplePoints(df, windows, samplesPerWindow)
    val wpk = Window.partitionBy("media_id", "window_idx")
      .orderBy(col("px").desc, col("sample_idx"))
    val peaks = pts.withColumn("rn", row_number().over(wpk))
      .filter(col("rn") === 1)
      .select(col("media_id"), col("window_idx").as("w"), col("sample_idx").as("p"))
    val hashes = peaks.as("a").join(peaks.as("b"),
        col("a.media_id") === col("b.media_id")
          && col("b.w") > col("a.w") && col("b.w") <= col("a.w") + maxDt)
      .select(col("a.media_id").as("mid"), col("a.p").as("pa"),
        col("b.p").as("pb"), (col("b.w") - col("a.w")).as("dt"),
        col("a.w").as("wa"))
    val matched = hashes.as("x").join(hashes.as("y"),
        col("x.pa") === col("y.pa") && col("x.pb") === col("y.pb")
          && col("x.dt") === col("y.dt") && col("x.mid") < col("y.mid"))
      .select(col("x.mid").as("id_a"), col("y.mid").as("id_b"),
        (col("x.wa") - col("y.wa")).as("off"))
    val byOff = matched.groupBy("id_a", "id_b", "off")
      .agg(count(lit(1)).as("n"))
    val wBest = Window.partitionBy("id_a", "id_b")
      .orderBy(col("n").desc, col("off"))
    byOff
      .withColumn("rn", row_number().over(wBest))
      .withColumn("n_match", sum("n").over(Window.partitionBy("id_a", "id_b")))
      .filter(col("rn") === 1 && col("n_match") >= minMatch)
      .select(col("id_a"), col("id_b"), col("n_match"),
        col("off").cast("long").as("best_offset"))
      .orderBy("id_a", "id_b")
  }

  /** Perceptual-hash signature per image row: decode to an 8×8 pixel grid,
    * bit j = pixel j above the image mean — the mean-threshold aHash
    * variant of pHash. On PNG, JPEG or BMP bytes the decode is real, so
    * byte-different encodings of the same pixels collide and
    * visually-similar images map to nearby signatures (Round8Spec pins the
    * collision); on bytes of no known format the FNV stub decodes and only
    * byte-identical media collide (FNV avalanches).
    * The mean is exact in both engines: 64 pixel values are floats cast to
    * double (24-bit mantissas, ≤ 8 bits of exponent spread), so the sum
    * needs < 40 mantissa bits — no rounding in any summation order.
    */
  def phash64(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    decodeAndFeaturize(df.filter(col("kind") === "image"), 8, 8)
      .select(col("media_id"), col("pixels")).as[(Long, Seq[Float])]
      .map { case (id, px) =>
        var sum = 0.0
        px.foreach(v => sum += v.toDouble)
        val mean = sum / px.length
        var sig = 0L
        var j = 0
        while (j < px.length) { if (px(j) > mean) sig |= (1L << j); j += 1 }
        (id, sig)
      }.toDF("media_id", "sig")
  }

  /** Image near-dup pairs by pHash Hamming distance ≤ `maxHamming`:
    * pigeonhole banding ((maxHamming+1) chunks — any qualifying pair shares
    * at least one chunk, total recall) + codegen `bit_count(a ^ b)` verify.
    * The banded self-join keys are (chunk_idx, chunk_value) — selective at
    * any corpus size, same scale shape as the simhash text path
    * (Dedup.scala pigeonhole banding).
    */
  def phashNearDupPairs(df: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = phash64(df)
    val chunks = maxHamming + 1
    val bits = 64 / chunks
    val exploded = sigs.select(col("media_id"), col("sig"),
      explode(array((0 until chunks).map(c =>
        struct(lit(c).as("c"), shiftrightunsigned(col("sig"), c * bits)
          .bitwiseAND(lit((1L << bits) - 1)).as("v"))): _*)).as("ch"))
      .select(col("media_id"), col("sig"), col("ch.c").as("c"), col("ch.v").as("v"))
    exploded.as("l").join(exploded.as("r"),
        col("l.c") === col("r.c") && col("l.v") === col("r.v") &&
        col("l.media_id") < col("r.media_id"))
      .select(col("l.media_id").as("id_a"), col("r.media_id").as("id_b"),
        col("l.sig").as("sig_a"), col("r.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Scene segmentation over sampled video frames: a cut opens a new scene
    * wherever the per-frame feature (pixel sum, the stub stand-in for a real
    * frame histogram/embedding) jumps by more than `threshold` vs the
    * previous frame — the standard shot-boundary detector shape. Emits one
    * row per (video, scene) with frame extent.
    *
    * Plan: frame features come out of the decode batch pass; the cut rule is
    * a lag window and the scene id a running sum over the SAME
    * (media_id, frame_idx) window — one shuffle on media_id serves both
    * window passes and the final per-scene aggregate. Frames of one video
    * are never split across partitions, so this scales per-video, not
    * per-corpus. Features are rounded to 4 decimals BEFORE the diff so the
    * cut decisions compare identical doubles in both engines.
    */
  def sceneSegments(frames: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feat = frames.select(col("media_id"),
      col("frame_idx").cast("long").as("frame_idx"),
      round(aggregate(col("pixels"), lit(0.0d), (a, v) => a + v.cast("double")), 4)
        .as("feat"))
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    val cuts = feat
      .withColumn("prev", lag(col("feat"), 1).over(w))
      .withColumn("is_cut",
        when(col("prev").isNotNull && abs(col("feat") - col("prev")) > threshold, 1L)
          .otherwise(0L))
      .withColumn("scene_id",
        sum(col("is_cut")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cuts.groupBy(col("media_id"), col("scene_id"))
      .agg(count(lit(1)).as("n_frames"),
        min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"))
  }

  /** Video-level near-duplicate pairs: Jaccard over each video's SET of
    * per-frame features — re-encoded/re-uploaded copies of a video decode
    * to the same frame features, so their sets coincide while unrelated
    * videos share features only by chance. Candidates come from the
    * identical-feature inverted join (the corpus line-dedup shape: join on
    * the feature value, never all-pairs), then the exact Jaccard verifies —
    * shared / (|A| + |B| − shared) from three exact integers. At scale the
    * feature join's fan-out is bounded by how many videos share a frame —
    * the same hot-key profile as line dedup, and AQE's skew split applies.
    */
  def videoNearDupPairs(frames: DataFrame, threshold: Double): DataFrame = {
    val feats = frames.select(col("media_id"),
        round(aggregate(col("pixels"), lit(0.0d), (a, v) => a + v.cast("double")), 4)
          .as("feat"))
      .distinct().persist()
    val sizes = feats.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
    val shared = feats.as("a").join(feats.as("b"),
        col("a.feat") === col("b.feat") && col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("media_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("media_id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard", round(col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"), col("jaccard"))
  }

  /** Synthesize a deterministic media table from any source table (for tests
    * and benchmarks — the container has no real media files). `seedOf`
    * remaps the byte-content seed so callers can inject exact-duplicate
    * media under distinct ids (the dedup fixtures).
    */
  def syntheticMedia(spark: SparkSession, n: Int,
      seedOf: Long => Long = identity,
      realImagePng: Boolean = false): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val kind = (i % 3) match { case 0 => "image"; case 1 => "audio"; case _ => "video" }
      val s = seedOf(i)
      if (realImagePng && kind == "image") {
        // GENUINE PNG bytes for image rows — every byte-affecting choice
        // keyed on the SEED so seed-duplicates stay byte-identical (the
        // exact-dedup contract) while distinct seeds stay byte-distinct
        (i, kind, ImageCodec.encodePng(8, 8, rgbPattern(s),
          filterType = (s % 5).toInt, alpha = s % 2 == 0))
      } else {
      // full 31-bit content space: LCG mod the Mersenne prime 2^31-1, then
      // SQUARED mod p before the byte fold (a linear form folds seed deltas
      // that are ≡0 mod 256 to identical contents; squaring makes the
      // j-interaction nonlinear — measured 99 997 distinct contents per
      // 100k seeds vs the old (s*31+j*7)%251 form's 251, which made every
      // growth family above ~250 rows measure collision artifacts, not the
      // operator). Every op stays < 2^62, so DuckDB BIGINT replays exactly.
      val bytes = Array.tabulate[Byte](64) { j =>
        val x = (s * 1103515245L + j * 12345L) % 2147483647L
        (x * x % 2147483647L % 256L).toByte
      }
      (i, kind, bytes)
      }
    }.toDF("media_id", "kind", "bytes")
      .withColumn("meta", struct(
        lit(640).as("width"), lit(480).as("height"), lit(3).as("channels"),
        lit(16000).as("sample_rate"), lit(1000L).as("duration_ms"), lit("fake").as("format")))
  }

  // ---- REAL-bytes generators (round-9 codec promotion) ---------------------
  //
  // The decode gates proved the codecs; these generators put GENUINE PNG
  // byte streams under the production mm queries (phash / video dedup /
  // frame sampling / exact dedup), retiring the FNV stub at those sites to
  // a test-only fallback. Patterns are integer formulas of (seed, pixel)
  // so the DuckDB oracles replay decoded values exactly (PNG is lossless).

  /** Deterministic 8×8 RGB pattern for seed `s` (pixel index p = y·8+x). */
  private def rgbPattern(s: Long): Array[Int] =
    Array.tabulate(64 * 3) { k =>
      val p = k / 3
      (k % 3 match {
        case 0 => (p * 3 + s * 7) % 256
        case 1 => (p * 5 + s * 11) % 256
        case _ => (p * 7 + s * 13) % 256
      }).toInt
    }

  /** Image-kind rows (ids ≡ 0 mod 3, matching [[syntheticMedia]]'s kind
    * layout) whose bytes are REAL 8×8 truecolor PNGs of [[rgbPattern]].
    * `seedOf` plants pixel-duplicates; `filterOf` picks the PNG row filter
    * per ORIGINAL id — keying it off the id (not the seed) makes planted
    * duplicates byte-DIFFERENT encodings of identical pixels, which only a
    * real decode can collide (the FNV stub cannot).
    */
  def syntheticImagePng(spark: SparkSession, n: Int,
      seedOf: Long => Long = identity,
      filterOf: Long => Int = i => (i % 5).toInt): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).filter(_ % 3 == 0).map { i =>
      val bytes = ImageCodec.encodePng(8, 8, rgbPattern(seedOf(i)),
        filterType = filterOf(i), alpha = i % 2 == 1)
      (i, "image", bytes)
    }.toDF("media_id", "kind", "bytes")
      .withColumn("meta", struct(
        lit(8).as("width"), lit(8).as("height"), lit(3).as("channels"),
        lit(null.asInstanceOf[Integer]).as("sample_rate"),
        lit(null.asInstanceOf[java.lang.Long]).as("duration_ms"),
        lit("png").as("format")))
  }

  /** Audio-kind rows (ids ≡ 1 mod 3) whose bytes are REAL 16-bit mono
    * RIFF/WAV streams of a deterministic loud/quiet window pattern:
    * 8 windows × 32 samples; windows with ((w + s) % 3 ≠ 0) sit at base
    * amplitude 180 (active for the 0.5-mean VAD threshold), the rest at 40
    * (quiet), plus a per-sample (7j + 11s) mod 64 texture that keeps every
    * window's argmax unique. Samples store pattern·257 − 32768 so the
    * decoded float is pattern/255f EXACTLY. A LIST/INFO comment chunk
    * carries the ORIGINAL id — planted seed-duplicates are byte-DIFFERENT
    * streams of identical samples, which only a real decode aligns.
    */
  def syntheticAudioWav(spark: SparkSession, n: Int,
      seedOf: Long => Long = identity): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).filter(_ % 3 == 1).map { i =>
      val s = seedOf(i)
      val pcm = Array.tabulate[Short](256) { j =>
        val base = if (((j / 32) + s) % 3 != 0) 180 else 40
        val pat = base + (j * 7 + s * 11) % 64
        (pat * 257 - 32768).toShort
      }
      (i, "audio",
        AudioCodec.encodeWavPcm16(16000, pcm, comment = Some(s"media-$i")))
    }.toDF("media_id", "kind", "bytes")
      .withColumn("meta", struct(
        lit(null.asInstanceOf[Integer]).as("width"),
        lit(null.asInstanceOf[Integer]).as("height"),
        lit(1).as("channels"), lit(16000).as("sample_rate"),
        lit(16L).as("duration_ms"), lit("wav").as("format")))
  }

  /** Deterministic 16×16 gray pattern for frame `f` of seed `s`: the first
    * k(f, s) pixels saturate at 255, the rest carry a fixed low texture —
    * so the per-frame SUM is strictly monotone in k and distinct k give
    * well-separated frame features. k is QUADRATIC in (f, s): an affine
    * form would align whole frame RANGES of unrelated videos whenever one
    * offset matched (the first cut of this fixture did exactly that — an
    * odd-multiplier channel pattern is a bijection mod 256, every frame
    * sum collapsed to one band and the dedup gate degenerated to 3 831
    * pairs); with the quadratic mix a cross-video frame collision is a
    * ~1/200 Bernoulli per frame pair and a ≥6-of-8 set overlap is ~1e-6
    * per video pair. r=g=b keeps integer luma = the gray value exactly.
    */
  private def frameRgbPattern(s: Long, f: Int): Array[Int] = {
    val k = ((s * s * 31 + f * f * 17 + f * s * 5) % 200 + 28).toInt
    Array.tabulate(256 * 3) { i =>
      val p = i / 3
      if (p < k) 255 else (p * 3) % 64
    }
  }

  /** Video-kind rows (ids ≡ 2 mod 3) whose bytes are a length-prefixed
    * container of `frames` REAL 16×16 PNG frames ([4-byte BE length][PNG])
    * — the byte layout a real frame sampler slices before decoding.
    */
  def syntheticVideoPng(spark: SparkSession, n: Int,
      seedOf: Long => Long = identity, frames: Int = 4): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).filter(_ % 3 == 2).map { i =>
      val s = seedOf(i)
      val bos = new java.io.ByteArrayOutputStream()
      var f = 0
      while (f < frames) {
        val png = ImageCodec.encodePng(16, 16, frameRgbPattern(s, f),
          filterType = (f + i).toInt % 5)
        bos.write((png.length >>> 24) & 0xFF); bos.write((png.length >>> 16) & 0xFF)
        bos.write((png.length >>> 8) & 0xFF); bos.write(png.length & 0xFF)
        bos.write(png, 0, png.length)
        f += 1
      }
      (i, "video", bos.toByteArray)
    }.toDF("media_id", "kind", "bytes")
      .withColumn("meta", struct(
        lit(16).as("width"), lit(16).as("height"), lit(3).as("channels"),
        lit(null.asInstanceOf[Integer]).as("sample_rate"),
        lit(40L * frames).as("duration_ms"), lit("pngv").as("format")))
  }
}
