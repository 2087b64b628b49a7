package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.pipeline.Multimodal
import graft.queries.Shared._

/** Multimodal queries (`mm_*`): image, audio and video decode, perceptual
  * hashes and segmentation over synthetic lossless media.
  */
object MmQueries {

  /** mm_decode oracle: the REAL 8×8 PNG decode replayed from the lossless
    * image pattern in pure integer SQL (luma, then the same float/255
    * division the identity box-mean applies).
    */
  private val MmDecodeSql: String =
    """SELECT i AS media_id,
      |       round(sum(CAST(CAST(
      |         (299 * ((p * 3 + i * 7) % 256)
      |          + 587 * ((p * 5 + i * 11) % 256)
      |          + 114 * ((p * 7 + i * 13) % 256)) // 1000
      |         AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE)), 4) AS pixel_sum
      |FROM range(300) t(i), range(64) q(p) WHERE i % 3 = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** mm_phash oracle: the REAL 8×8 PNG decode replayed from the lossless
    * image pattern (seed remapped to id−3 for every 9th id — planted
    * byte-different pixel-duplicates), then the mean-threshold signature
    * and an all-pairs Hamming join — valid against the Spark banded plan
    * because pigeonhole banding at (maxHamming+1) chunks has total recall.
    * The 64-pixel mean is EXACT in any summation order (float values cast
    * to double need < 40 mantissa bits), so the `px > mean` bits agree.
    */
  private val MmPhashSql: String =
    """WITH px AS (
      |  SELECT i AS media_id, j,
      |         CAST(CAST(
      |           (299 * ((j * 3 + s * 7) % 256)
      |            + 587 * ((j * 5 + s * 11) % 256)
      |            + 114 * ((j * 7 + s * 13) % 256)) // 1000
      |           AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE) AS px
      |  FROM (SELECT i, CASE WHEN i % 9 = 3 THEN i - 3 ELSE i END AS s
      |        FROM range(300) t(i) WHERE i % 3 = 0) m(i, s),
      |       range(64) p(j)
      |), mn AS (
      |  SELECT media_id, avg(px) AS mean FROM px GROUP BY 1
      |), sigs AS (
      |  SELECT p.media_id,
      |         CAST(sum(CASE WHEN p.px > m.mean
      |                       THEN CAST(power(2, p.j) AS HUGEINT) ELSE 0 END) AS UBIGINT) AS sig
      |  FROM px p JOIN mn m ON p.media_id = m.media_id
      |  GROUP BY 1
      |)
      |SELECT a.media_id AS id_a, b.media_id AS id_b,
      |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |FROM sigs a JOIN sigs b ON a.media_id < b.media_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** mm_audio oracle: the REAL WAV decode replayed from the lossless
    * loud/quiet amplitude pattern (pattern·257 − 32768 PCM shorts decode
    * to exactly pattern/255f — 65535 = 255·257).
    */
  private val MmAudioSql: String =
    """WITH px AS (
      |  SELECT i AS media_id, j // 32 AS w,
      |         CAST(CAST(
      |           (CASE WHEN ((j // 32) + i) % 3 <> 0 THEN 180 ELSE 40 END
      |            + (j * 7 + i * 11) % 64)
      |           AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE) AS px
      |  FROM range(300) t(i), range(256) u(j) WHERE i % 3 = 1
      |)
      |SELECT media_id, CAST(w AS BIGINT) AS window_idx,
      |       round(sum(px), 4) AS sample_sum,
      |       round(max(px), 6) AS peak
      |FROM px GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** mm_vad oracle: the MmAudioSql chain, unrounded per-window sums, the
    * 0.5 mean-amplitude gate, and the identical gaps-and-islands merge.
    */
  private val MmVadSql: String =
    """WITH wv AS (
      |  SELECT i AS media_id, CAST(j // 32 AS BIGINT) AS window_idx,
      |         sum(CAST(CAST(
      |           (CASE WHEN ((j // 32) + i) % 3 <> 0 THEN 180 ELSE 40 END
      |            + (j * 7 + i * 11) % 64)
      |           AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE)) AS sample_sum
      |  FROM range(300) t(i), range(256) u(j) WHERE i % 3 = 1
      |  GROUP BY 1, 2
      |), act AS (
      |  SELECT media_id, window_idx, sample_sum,
      |         window_idx - row_number() OVER (
      |           PARTITION BY media_id ORDER BY window_idx) AS island
      |  FROM wv WHERE sample_sum / 32 > 0.5
      |), seg AS (
      |  SELECT media_id, min(window_idx) AS seg_start, max(window_idx) AS seg_end,
      |         count(*)::BIGINT AS n_windows, round(sum(sample_sum), 4) AS energy
      |  FROM act GROUP BY media_id, island
      |)
      |SELECT media_id,
      |       row_number() OVER (PARTITION BY media_id ORDER BY seg_start) AS seg_idx,
      |       seg_start, seg_end, n_windows, energy
      |FROM seg ORDER BY media_id, seg_idx""".stripMargin

  /** mm_audio_match oracle: the REAL WAV decode replayed from the lossless
    * amplitude pattern with the duplicate-planting seed fold (media_id % 9
    * = 4 → media_id − 3), then the identical peak-pick / hash-pair /
    * banded-match / modal-offset pipeline.
    */
  private val MmAudioMatchSql: String =
    """WITH px AS (
      |  SELECT i AS media_id, j AS s,
      |         CAST(CAST(
      |           (CASE WHEN ((j // 32) + sd) % 3 <> 0 THEN 180 ELSE 40 END
      |            + (j * 7 + sd * 11) % 64)
      |           AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE) AS px
      |  FROM (SELECT i, CASE WHEN i % 9 = 4 THEN i - 3 ELSE i END AS sd
      |        FROM range(300) t(i) WHERE i % 3 = 1) m(i, sd),
      |       range(256) u(j)
      |), pk AS (
      |  SELECT media_id, s // 32 AS w, s % 32 AS p,
      |         row_number() OVER (PARTITION BY media_id, s // 32
      |                            ORDER BY px DESC, s % 32) AS rn
      |  FROM px
      |), peaks AS (
      |  SELECT media_id, w, p FROM pk WHERE rn = 1
      |), h AS (
      |  SELECT a.media_id AS mid, a.p AS pa, b.p AS pb, b.w - a.w AS dt, a.w AS wa
      |  FROM peaks a JOIN peaks b
      |    ON a.media_id = b.media_id AND b.w > a.w AND b.w <= a.w + 3
      |), m AS (
      |  SELECT x.mid AS id_a, y.mid AS id_b, x.wa - y.wa AS off
      |  FROM h x JOIN h y
      |    ON x.pa = y.pa AND x.pb = y.pb AND x.dt = y.dt AND x.mid < y.mid
      |), byoff AS (
      |  SELECT id_a, id_b, off, count(*) AS n FROM m GROUP BY 1, 2, 3
      |), best AS (
      |  SELECT *, row_number() OVER (PARTITION BY id_a, id_b
      |                               ORDER BY n DESC, off) AS rn,
      |         sum(n) OVER (PARTITION BY id_a, id_b) AS n_match
      |  FROM byoff
      |)
      |SELECT id_a, id_b, CAST(n_match AS BIGINT) AS n_match,
      |       CAST(off AS BIGINT) AS best_offset
      |FROM best WHERE rn = 1 AND n_match >= 4
      |ORDER BY 1, 2""".stripMargin

  /** mm_frames oracle: the REAL per-frame PNG decode replayed from the
    * lossless 16×16 frame pattern in pure integer SQL (luma then the same
    * float/255 division the box-mean identity applies).
    */
  private val MmFramesSql: String =
    """SELECT i AS media_id, f AS frame_idx,
      |       round(sum(CAST(CAST(
      |         CASE WHEN p < (i * i * 31 + f * f * 17 + f * i * 5) % 200 + 28
      |              THEN 255 ELSE (p * 3) % 64 END
      |         AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE)), 4) AS pixel_sum
      |FROM range(300) t(i), range(4) u(f), range(256) q(p)
      |WHERE i % 3 = 2
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** mm_scenes oracle: the REAL 12-frame PNG container decode replayed
    * from the lossless quadratic-k frame pattern, then the identical
    * lag-cut / running-sum / per-scene aggregate.
    */
  private val MmScenesSql: String =
    """WITH feat AS (
      |  SELECT i AS media_id, f AS frame_idx,
      |         round(sum(CAST(CAST(
      |           CASE WHEN p < (i * i * 31 + f * f * 17 + f * i * 5) % 200 + 28
      |                THEN 255 ELSE (p * 3) % 64 END
      |           AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE)), 4) AS feat
      |  FROM range(300) t(i), range(12) u(f), range(256) q(p)
      |  WHERE i % 3 = 2
      |  GROUP BY 1, 2
      |), cuts AS (
      |  SELECT media_id, frame_idx, feat,
      |         lag(feat) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
      |  FROM feat
      |), flagged AS (
      |  SELECT media_id, frame_idx,
      |         CASE WHEN prev IS NOT NULL AND abs(feat - prev) > 5.5
      |              THEN 1 ELSE 0 END AS is_cut
      |  FROM cuts
      |), scenes AS (
      |  SELECT media_id, frame_idx,
      |         CAST(sum(is_cut) OVER (PARTITION BY media_id ORDER BY frame_idx
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS scene_id
      |  FROM flagged
      |)
      |SELECT media_id, scene_id, count(*) AS n_frames,
      |       min(frame_idx) AS start_frame, max(frame_idx) AS end_frame
      |FROM scenes GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Media 0–39 encoded by `enc(id)` as w×h images, decoded through the
    * format their bytes carry: per image the pixel count `n_px` and the
    * integer luma sum `px_sum`.
    */
  private def lumaSums(s: SparkSession, enc: UserDefinedFunction, w: Int,
      h: Int): DataFrame = {
    val media = s.range(0, 40).select(col("id").as("media_id"),
      enc(col("id")).as("bytes"))
    Multimodal.decodeAndFeaturize(media, w, h)
      .select(col("media_id"), size(col("pixels")).cast("long").as("n_px"),
        aggregate(col("pixels"), lit(0L),
          (a, v) => a + round(v.cast("double") * 255).cast("long")).as("px_sum"))
      .orderBy(col("media_id"))
  }

  /** Oracle CTE `px`: the integer luma `level` of every pixel `pidx` of the
    * 8×8 images of `Multimodal.syntheticImagePng(s, 300)` (ids ≡ 0 mod 3).
    */
  private val PngLevelsCte =
    """WITH px AS (
      |  SELECT i AS media_id, p AS pidx,
      |         CAST((299 * ((p * 3 + i * 7) % 256)
      |             + 587 * ((p * 5 + i * 11) % 256)
      |             + 114 * ((p * 7 + i * 13) % 256)) // 1000 AS BIGINT) AS level
      |  FROM range(300) t(i), range(64) q(p) WHERE i % 3 = 0
      |)""".stripMargin

  private[graft] val all: Seq[QuerySpec] = Seq(
    // exact media dedup by CONTENT hash — the first pass of any multimodal
    // dedup stack: group on md5(bytes) (a 16-byte shuffle key, never the
    // payload), emit per-group representative/size/kind-spread. Duplicates
    // are PLANTED via seedOf (i ≡ 5 mod 9 reuses the bytes of i−4, a
    // different kind since 5 ≢ 1 mod 3) — with the full-width generator,
    // bytes equal ⟺ seed equal, so the oracle replays the groups as pure
    // seed arithmetic against the real hash-dedup plan
    QuerySpec("mm_exact_dedup", (s, dir) => {
      // image rows carry GENUINE PNG bytes;
      // audio/video keep the synthetic stream — the md5 grouping is
      // format-blind, and the planted dup pair is audio↔video, so the
      // oracle's seed/kind structure is untouched
      val media = Multimodal.syntheticMedia(s, 600,
        seedOf = i => if (i % 9 == 5) i - 4 else i, realImagePng = true)
      media.groupBy(md5(col("bytes")).as("h"))
        .agg(min("media_id").as("rep"), count(lit(1)).as("n"),
          countDistinct("kind").as("kinds"))
        .select(col("rep"), col("n"), col("kinds"))
        .orderBy("rep")
    },
      """WITH m AS (
        |  SELECT range AS media_id,
        |         CASE WHEN range % 9 = 5 THEN range - 4 ELSE range END AS cls,
        |         CASE WHEN range % 3 = 0 THEN 'image'
        |              WHEN range % 3 = 1 THEN 'audio' ELSE 'video' END AS kind
        |  FROM range(0, 600)
        |)
        |SELECT min(media_id) AS rep, count(*) AS n,
        |       count(DISTINCT kind) AS kinds
        |FROM m GROUP BY cls ORDER BY rep""".stripMargin),

    // production decode entry over REAL 8×8 PNGs —
    // native-dims decode, lossless pattern replayed by the oracle
    QuerySpec("mm_decode", (s, dir) => {
      val media = Multimodal.syntheticImagePng(s, 300)
      val decoded = Multimodal.decodeAndFeaturize(media, 8, 8)
      decoded.select(col("media_id"),
          round(aggregate(col("pixels"), lit(0.0d), (a, v) => a + v.cast("double")), 4).as("pixel_sum"))
        .orderBy(col("media_id"))
    },
      MmDecodeSql),

    // REAL image decode: 40 deterministic 15×12
    // RGB patterns are ENCODED as genuine uncompressed 24-bit BMP byte
    // streams (odd ids top-down/negative-height, even ids bottom-up, row
    // stride 4-byte padded — all three layout quirks exercised), then
    // DECODED back through the pure-JVM BMP codec their signature
    // selects. Pixel luma is integer arithmetic
    // end-to-end, so the oracle replays the exact per-image luma sums
    // WITHOUT parsing bytes — equality proves encode→decode is the
    // identity on the pattern, i.e. the decoder really reads BMP
    QuerySpec("mm_decode_bmp", (s, dir) => {
      import s.implicits._
      val enc = udf((i: Long) => {
        val w = 15; val h = 12
        val rgb = new Array[Int](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val o = (y * w + x) * 3
            rgb(o) = ((x * 3 + i) % 256).toInt
            rgb(o + 1) = (y * 5) % 256
            rgb(o + 2) = ((x + y + i) % 256).toInt
            x += 1
          }
          y += 1
        }
        graft.pipeline.ImageCodec.encodeBmp(w, h, rgb, topDown = i % 2 == 1)
      })
      lumaSums(s, enc, w = 15, h = 12)
    },
      // the BMP round-trip pattern replayed in pure integer arithmetic:
      // luma = (299R + 587G + 114B) // 1000 over the generator formula
      """SELECT i AS media_id, count(*)::BIGINT AS n_px,
        |       sum((299 * ((x * 3 + i) % 256) + 587 * ((y * 5) % 256)
        |            + 114 * ((x + y + i) % 256)) // 1000)::BIGINT AS px_sum
        |FROM range(0, 40) t(i), range(0, 15) xs(x), range(0, 12) ys(y)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // REAL PNG decode (the second real format behind the decode seam): 40
    // deterministic 15×12 RGB patterns ENCODED as genuine zlib-deflated
    // truecolor PNGs — row filter i%5 (all five unfilter paths exercised),
    // odd ids RGBA color type 6 / even ids RGB color type 2 — then DECODED
    // through the pure-JVM PNG codec their signature selects. Integer
    // luma end-to-end, so the oracle replays per-image sums from the
    // pattern formula without parsing bytes; equality proves the inflate +
    // unfilter + luma path really reads PNG
    QuerySpec("mm_decode_png", (s, dir) => {
      val enc = udf((i: Long) => {
        val w = 15; val h = 12
        val rgb = new Array[Int](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val o = (y * w + x) * 3
            rgb(o) = ((x * 7 + i) % 256).toInt
            rgb(o + 1) = (y * 11) % 256
            rgb(o + 2) = ((x * y + i) % 256).toInt
            x += 1
          }
          y += 1
        }
        graft.pipeline.ImageCodec.encodePng(w, h, rgb,
          filterType = (i % 5).toInt, alpha = i % 2 == 1)
      })
      lumaSums(s, enc, w = 15, h = 12)
    },
      // the PNG round-trip pattern replayed in pure integer arithmetic
      """SELECT i AS media_id, count(*)::BIGINT AS n_px,
        |       sum((299 * ((x * 7 + i) % 256) + 587 * ((y * 11) % 256)
        |            + 114 * ((x * y + i) % 256)) // 1000)::BIGINT AS px_sum
        |FROM range(0, 40) t(i), range(0, 15) xs(x), range(0, 12) ys(y)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // REAL baseline-JPEG decode (the third real format — the one a web
    // crawl actually meets): 40 deterministic 20×12 grayscale patterns,
    // CONSTANT per 8×8 block with EVEN values — DC-only blocks whose
    // coefficient 8·(v−128) the Annex-K quantizer (q₀₀=16) divides
    // exactly, so the lossy pipeline is the identity BY CONSTRUCTION and
    // the oracle replays per-image sums in pure integer SQL. Odd ids are
    // encoded with a restart interval (DRI + RSTn + DC-predictor resets on
    // the decode path); 20×12 exercises edge-replicated partial blocks +
    // crop. The full huffman+IDCT path on non-constant images is pinned by
    // the two-engine javax.imageio differential in Round9Spec.
    QuerySpec("mm_decode_jpeg", (s, dir) => {
      val enc = udf((i: Long) => {
        val w = 20; val h = 12
        val luma = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            luma(y * w + x) =
              (2 * ((x / 8 * 31 + y / 8 * 17 + i * 7) % 128)).toInt
            x += 1
          }
          y += 1
        }
        graft.pipeline.JpegCodec.encodeJpegGray(w, h, luma,
          restartInterval = if (i % 2 == 1) 2 else 0)
      })
      lumaSums(s, enc, w = 20, h = 12)
    },
      // the JPEG gate's block-constant even-valued pattern replayed exactly:
      // DC-only blocks with q00=16 | 8·(v−128) make the lossy roundtrip the
      // identity, so plain integer SQL is the full oracle
      """SELECT i AS media_id, count(*)::BIGINT AS n_px,
        |       sum(2 * ((x // 8 * 31 + y // 8 * 17 + i * 7) % 128))::BIGINT
        |         AS px_sum
        |FROM range(0, 40) t(i), range(0, 20) xs(x), range(0, 12) ys(y)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // image near-dup dedup via pHash banding; every 9th id reuses the bytes
    // of id−3, so exact-dup images exist under distinct ids (with the FNV
    // stub decode only byte-identical media collide — see phash64 scaladoc)
    // video-level near-dup: frame-feature SET Jaccard; seedOf plants
    // video-kind duplicates (i ≡ 8 mod 9 shares the seed of i-6, both
    // video-kind since 8 ≡ 2 ≡ (8-6) mod 3)
    QuerySpec("mm_video_dedup", (s, dir) => {
      // REAL frame decode: videos are
      // length-prefixed containers of genuine 16×16 PNG frames; the
      // planted duplicates (i ≡ 8 mod 9 share i−6's seed) have
      // byte-different per-frame encodings (filter keyed on the id) of
      // identical pixels — frame-set Jaccard 1 only under a real decode
      val media = Multimodal.syntheticVideoPng(s, 300,
        i => if (i % 9 == 8) i - 6 else i, frames = 8)
      val frames = Multimodal.sampleFrames(media, n = 8, w = 16, h = 16)
      Multimodal.videoNearDupPairs(frames, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
      // the REAL per-frame PNG decode replayed from the lossless frame
      // pattern (seed remapped i ≡ 8 mod 9 → i-6 to plant duplicates), then
      // the set-Jaccard assembled relationally (feature-join candidates)
      """WITH feat0 AS (
        |  SELECT i AS media_id, f AS frame_idx,
        |         round(sum(CAST(CAST(
        |           CASE WHEN p < (s * s * 31 + f * f * 17 + f * s * 5) % 200 + 28
        |                THEN 255 ELSE (p * 3) % 64 END
        |           AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE)), 4) AS feat
        |  FROM (SELECT i, CASE WHEN i % 9 = 8 THEN i - 6 ELSE i END AS s
        |        FROM range(300) t(i) WHERE i % 3 = 2) m(i, s),
        |       range(8) u(f), range(256) q(p)
        |  GROUP BY 1, 2
        |), feats AS (
        |  SELECT DISTINCT media_id, feat FROM feat0
        |), sizes AS (
        |  SELECT media_id, count(*) AS n FROM feats GROUP BY 1
        |), shared AS (
        |  SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS shared
        |  FROM feats a JOIN feats b ON a.feat = b.feat AND a.media_id < b.media_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
        |       round(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 6) AS jaccard
        |FROM shared
        |JOIN sizes na ON id_a = na.media_id
        |JOIN sizes nb ON id_b = nb.media_id
        |WHERE round(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 6) >= 0.5
        |ORDER BY 1, 2""".stripMargin),

    QuerySpec("mm_phash", (s, dir) => {
      // REAL decode: genuine 8×8 PNGs, the
      // planted duplicates (i ≡ 3 mod 9 → i−3) are byte-DIFFERENT
      // encodings (row filter keyed on the original id) of IDENTICAL
      // pixels — only a real decode collides them; the retired FNV stub
      // could not (it avalanches on bytes)
      val media = Multimodal.syntheticImagePng(s, 300,
        i => if (i % 9 == 3) i - 3 else i)
      val pairs = Multimodal.phashNearDupPairs(media, maxHamming = 3)
      pairs.orderBy(col("id_a"), col("id_b"))
    },
      MmPhashSql),

    // Shazam-style constellation matching over REAL WAV audio
    // with planted duplicates (seedOf folds every 9th audio id
    // onto id−3 — byte-DIFFERENT streams via the id-keyed comment chunk,
    // identical samples): per-window argmax peaks → (pa, pb, dt) hashes →
    // banded join ON THE HASH (the inverted-index shape, never all-pairs
    // audio) → modal-offset verify. The 33 planted pairs must surface at
    // offset 0 with all 18 hashes
    QuerySpec("mm_audio_match", (s, dir) => {
      val media = Multimodal.syntheticAudioWav(s, 300,
        seedOf = i => if (i % 9 == 4) i - 3 else i)
      Multimodal.constellationMatches(media)
    },
      MmAudioMatchSql),

    // audio waveform windowing over REAL PCM: RIFF
    // parse → 16-bit samples → fixed windows → per-window sum/peak (the
    // VAD/loudness shape); the lossless amplitude pattern replays in SQL
    QuerySpec("mm_audio", (s, dir) => {
      val media = Multimodal.syntheticAudioWav(s, 300)
      val wv = Multimodal.sampleWaveform(media, windows = 8, samplesPerWindow = 32)
      wv.select(col("media_id"), col("window_idx").cast("long").as("window_idx"),
          round(col("sample_sum"), 4).as("sample_sum"),
          round(col("peak"), 6).as("peak"))
        .orderBy(col("media_id"), col("window_idx"))
    },
      MmAudioSql),

    // energy-threshold VAD segmentation over REAL PCM:
    // active windows (mean amplitude > 0.5) merged into maximal per-media
    // runs (gaps-and-islands) — the ASR silence-removal pass; the loud/
    // quiet fixture pattern gives clean 0.28/0.83-mean margins and exact
    // amplitude sums, so the threshold replays order-free in the oracle
    QuerySpec("mm_vad", (s, dir) => {
      val media = Multimodal.syntheticAudioWav(s, 300)
      val segs = Multimodal.vadSegments(media, windows = 8, samplesPerWindow = 32,
        threshold = 0.5)
      segs.orderBy(col("media_id"), col("seg_idx"))
    },
      MmVadSql),

    // frame sampling over video-kind media — REAL decode:
    // container slice → PNG decode per frame; the oracle
    // replays the lossless frame pattern in integer SQL
    QuerySpec("mm_frames", (s, dir) => {
      val media = Multimodal.syntheticVideoPng(s, 300, frames = 4)
      val frames = Multimodal.sampleFrames(media, n = 4, w = 16, h = 16)
      frames
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          round(aggregate(col("pixels"), lit(0.0d), (a, v) => a + v.cast("double")), 4).as("pixel_sum"))
        .orderBy(col("media_id"), col("frame_idx"))
    },
      MmFramesSql),

    // REAL decode → box-filter RESIZE (8×8 → 4×4): destination pixels are
    // exact level-sum quarters, recovered losslessly for the
    // position-weighted checksum the oracle replays from the PNG pattern
    QuerySpec("mm_resize", (s, dir) => {
      val media = Multimodal.syntheticImagePng(s, 300)
      val px = Multimodal.decodeAndFeaturize(media, w = 8, h = 8)
      Multimodal.boxResize(px, srcW = 8, srcH = 8, dstW = 4, dstH = 4)
        .select(col("media_id"),
          expr("""aggregate(zip_with(pixels, sequence(1, 16),
                 |  (p, i) -> CAST(i AS BIGINT) * CAST(round(CAST(p AS DOUBLE) * 1020) AS BIGINT)),
                 |  0L, (acc, v) -> acc + v)""".stripMargin).as("checksum"),
          size(col("pixels")).cast("long").as("n_px"))
        .orderBy(col("media_id"))
    },
      // image FNV chain → 2×2 block level-sums → position-weighted checksum
      PngLevelsCte + """, blocks AS (
        |  SELECT media_id,
        |         ((pidx // 8) // 2) * 4 + ((pidx % 8) // 2) AS b,
        |         sum(level) AS s
        |  FROM px GROUP BY 1, 2
        |)
        |SELECT media_id, CAST(sum((b + 1) * s) AS BIGINT) AS checksum,
        |       CAST(16 AS BIGINT) AS n_px
        |FROM blocks GROUP BY 1 ORDER BY 1""".stripMargin),

    // the full multimodal→embedding→ANN composition: PNG-decode images to
    // 8×8 pixels, pool 8 blocks of 8 into an EXACT integer embedding
    // (recovered pixel levels sum losslessly), then brute-force cosine
    // top-3 — integer dots/norms make every cosine one IEEE op chain, so
    // ranks are bit-deterministic across engines, swap the pooling for a real
    // CNN and the dataflow is unchanged
    QuerySpec("mm_embed_knn", (s, dir) => {
      val media = Multimodal.syntheticImagePng(s, 300)
      val decoded = Multimodal.decodeAndFeaturize(media, w = 8, h = 8)
      val emb = decoded
        .select(col("media_id"), expr(
          """transform(sequence(0, 7), b -> aggregate(slice(pixels, b*8 + 1, 8), 0L,
            |  (acc, v) -> acc + CAST(round(CAST(v AS DOUBLE) * 255) AS BIGINT)))""".stripMargin)
          .as("emb"))
        .withColumn("nrm", sqrt(expr("aggregate(emb, 0L, (a, v) -> a + v*v)").cast("double")))
      val bSide = emb.select(col("media_id").as("b_id"), col("emb").as("b_emb"), col("nrm").as("b_n"))
      val pairs = emb.join(broadcast(bSide), col("media_id") =!= col("b_id"))
        .withColumn("dot",
          expr("aggregate(zip_with(emb, b_emb, (x, y) -> x*y), 0L, (acc, v) -> acc + v)").cast("double"))
        .withColumn("cos", col("dot") / (col("nrm") * col("b_n")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("media_id").orderBy(col("cos").desc, col("b_id"))
      pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("media_id"), col("rk").cast("long").as("rk"),
          col("b_id").as("nbr"), round(col("cos"), 6).as("cos"))
        .orderBy(col("media_id"), col("rk"))
    },
      // image-kind FNV chain (64 content bytes, then 64 pixel steps), pixel
      // LEVELS kept as exact integers → block-sum embedding → integer
      // dot/norm cosine, rank ties broken by neighbor id
      PngLevelsCte + """, emb AS (
        |  SELECT media_id, pidx // 8 AS b, sum(level) AS v
        |  FROM px GROUP BY 1, 2
        |), nrm AS (
        |  SELECT media_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS nrm
        |  FROM emb GROUP BY 1
        |), dots AS (
        |  SELECT ea.media_id AS a_id, eb.media_id AS b_id,
        |         CAST(sum(ea.v * eb.v) AS DOUBLE) AS dot
        |  FROM emb ea JOIN emb eb ON ea.b = eb.b AND ea.media_id <> eb.media_id
        |  GROUP BY 1, 2
        |), cosb AS (
        |  SELECT a_id, b_id, dot / (na.nrm * nb.nrm) AS cos
        |  FROM dots
        |  JOIN nrm na ON na.media_id = a_id
        |  JOIN nrm nb ON nb.media_id = b_id
        |), ranked AS (
        |  SELECT a_id, b_id, cos,
        |         row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rk
        |  FROM cosb
        |)
        |SELECT a_id AS media_id, CAST(rk AS BIGINT) AS rk, b_id AS nbr,
        |       round(cos, 6) AS cos
        |FROM ranked WHERE rk <= 3 ORDER BY 1, 2""".stripMargin),

    // shot-boundary scene segmentation over REAL decoded video frames:
    // the lag cut rule, running-sum scene ids, and the
    // per-scene aggregate all share ONE media_id shuffle; the quadratic-k
    // frame pattern makes |Δfeat| ≈ 0.75–1.0·|Δk|, so cuts and non-cuts
    // both occur
    QuerySpec("mm_scenes", (s, dir) => {
      val media = Multimodal.syntheticVideoPng(s, 300, frames = 12)
      val frames = Multimodal.sampleFrames(media, n = 12)
      Multimodal.sceneSegments(frames, threshold = 5.5)
        .orderBy(col("media_id"), col("scene_id"))
    },
      MmScenesSql)
  )
}
