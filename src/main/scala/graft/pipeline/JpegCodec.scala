package graft.pipeline

/** Minimal pure-JVM baseline JPEG codec — the THIRD real format behind the
  * multimodal decode seam (selected by `FF D8 FF`), and the one a
  * web-crawl pipeline actually meets ~90% of the time. Scope: baseline
  * sequential DCT (SOF0), 8-bit, grayscale (1 component) or YCbCr 4:4:4
  * (3 components, sampling factors 1×1), optional restart intervals —
  * progressive (SOF2), subsampled, arithmetic-coded and 12-bit streams
  * fail loudly (a silent stub fallback would fake a decode). Tables are
  * read from the stream's own DQT/DHT segments, so any conforming encoder
  * interoperates; the fixture encoder emits the ITU T.81 Annex K example
  * tables, which every camera/libjpeg default also uses.
  *
  * The transforms are the double-precision reference FDCT/IDCT (separable
  * 8-point DCT-II) — exact for the gate's block-constant fixtures and
  * within ±1 of libjpeg's integer IDCT elsewhere (pinned by the
  * two-engine differential against javax.imageio, same pattern as the PNG
  * codec). A production path would swap in the AAN fast transform behind
  * the same function seam; decode cost is per-row compute either way, so
  * the 100 TB dataflow is unchanged.
  *
  * Reference analog: the reference's only raster path is its PNG map
  * renderer (cli-tools/StyledImageExporter.java:54) — JPEG ingest is out
  * of scope there and first-class here.
  */
object JpegCodec {

  // ---- shared tables ------------------------------------------------------

  /** Zigzag scan order (zigzag index → natural index), generated rather
    * than transcribed. */
  private val Zigzag: Array[Int] = {
    val out = new Array[Int](64)
    var x = 0; var y = 0
    var i = 0
    while (i < 64) {
      out(i) = y * 8 + x
      if ((x + y) % 2 == 0) { // moving up-right
        if (x == 7) y += 1 else if (y == 0) x += 1 else { x += 1; y -= 1 }
      } else { // moving down-left
        if (y == 7) x += 1 else if (x == 0) y += 1 else { x -= 1; y += 1 }
      }
      i += 1
    }
    out
  }

  /** ITU T.81 Annex K.1/K.2 example quantization tables (natural order). */
  private val QLum: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)
  private val QChrom: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** Annex K.3 typical Huffman tables: (BITS counts per code length 1-16,
    * symbol values). Validity (counts sum = symbol count, canonical code
    * space) is re-checked at table build. */
  private val DcLumBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumVals = (0 to 11).toArray
  private val DcChromBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromVals = (0 to 11).toArray
  private val AcLumBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
  private val AcChromBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** Canonical code assignment (T.81 Annex C): symbol → (code, length). */
  private def buildEncodeTable(bits: Array[Int],
      vals: Array[Int]): Array[(Int, Int)] = {
    require(bits.length == 16 && bits.sum == vals.length,
      s"huffman spec mismatch: ${bits.sum} codes vs ${vals.length} symbols")
    val out = new Array[(Int, Int)](256)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out(vals(k)) = (code, len)
        code += 1; k += 1; i += 1
      }
      require(code <= (1 << len), s"huffman over-subscribed at length $len")
      code <<= 1
      len += 1
    }
    out
  }

  // 8-point DCT basis: cosT(x)(u) = cos((2x+1)·u·π/16), c(0)=1/√2
  private val CosT: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }
  private val C: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)

  /** 2-D reference FDCT of one level-shifted 8×8 block (natural order). */
  private def fdct(in: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) { // rows
      var u = 0
      while (u < 8) {
        var s = 0.0; var x = 0
        while (x < 8) { s += in(y * 8 + x) * CosT(x)(u); x += 1 }
        tmp(y * 8 + u) = s * C(u) / 2.0
        u += 1
      }
      y += 1
    }
    val out = new Array[Double](64)
    var u = 0
    while (u < 8) { // columns
      var v = 0
      while (v < 8) {
        var s = 0.0; var yy = 0
        while (yy < 8) { s += tmp(yy * 8 + u) * CosT(yy)(v); yy += 1 }
        out(v * 8 + u) = s * C(v) / 2.0
        v += 1
      }
      u += 1
    }
    out
  }

  /** 2-D reference IDCT (natural-order coefficients → spatial). */
  private def idct(in: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64)
    var v = 0
    while (v < 8) { // rows of coefficients → spatial x
      var x = 0
      while (x < 8) {
        var s = 0.0; var u = 0
        while (u < 8) { s += C(u) * in(v * 8 + u) * CosT(x)(u); u += 1 }
        tmp(v * 8 + x) = s / 2.0
        x += 1
      }
      v += 1
    }
    val out = new Array[Double](64)
    var x = 0
    while (x < 8) { // columns → spatial y
      var y = 0
      while (y < 8) {
        var s = 0.0; var vv = 0
        while (vv < 8) { s += C(vv) * tmp(vv * 8 + x) * CosT(y)(vv); vv += 1 }
        out(y * 8 + x) = s / 2.0
        y += 1
      }
      x += 1
    }
    out
  }

  private def bitsOf(v: Int): Int = {
    val a = math.abs(v)
    32 - Integer.numberOfLeadingZeros(a) // 0 for v == 0
  }

  // ---- encoder ------------------------------------------------------------

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >>> i) & 1)
        n += 1
        if (n == 8) {
          out.write(acc & 0xFF)
          if ((acc & 0xFF) == 0xFF) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    /** Pad to a byte boundary with 1-bits (T.81 F.1.2.3). */
    def flush(): Unit = if (n > 0) put((1 << (8 - n)) - 1, 8 - n)
  }

  private def writeMarkerSegment(out: java.io.ByteArrayOutputStream,
      marker: Int, body: Array[Int]): Unit = {
    out.write(0xFF); out.write(marker)
    val len = body.length + 2
    out.write((len >> 8) & 0xFF); out.write(len & 0xFF)
    body.foreach(b => out.write(b & 0xFF))
  }

  private def dqtBody(id: Int, q: Array[Int]): Array[Int] =
    (id +: Zigzag.map(q)).toArray
  private def dhtBody(tcTh: Int, bits: Array[Int],
      vals: Array[Int]): Array[Int] = (tcTh +: (bits ++ vals)).toArray

  /** Huffman-encode one quantized zigzag block; returns the new DC pred. */
  private def encodeBlock(bw: BitWriter, zz: Array[Int], dcPred: Int,
      dcTab: Array[(Int, Int)], acTab: Array[(Int, Int)]): Int = {
    val diff = zz(0) - dcPred
    val dSize = bitsOf(diff)
    val (dc, dl) = dcTab(dSize)
    bw.put(dc, dl)
    if (dSize > 0)
      bw.put(if (diff < 0) diff + (1 << dSize) - 1 else diff, dSize)
    var run = 0
    var k = 1
    while (k < 64) {
      val v = zz(k)
      if (v == 0) run += 1
      else {
        while (run > 15) { val (z, zl) = acTab(0xF0); bw.put(z, zl); run -= 16 }
        val s = bitsOf(v)
        val (a, al) = acTab((run << 4) | s)
        bw.put(a, al)
        bw.put(if (v < 0) v + (1 << s) - 1 else v, s)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (e, el) = acTab(0x00); bw.put(e, el) } // EOB
    zz(0)
  }

  /** Extract the 8×8 block at (bx, by) from a component plane with edge
    * replication past the image boundary, level-shifted to doubles. */
  private def blockOf(plane: Array[Int], w: Int, h: Int, bx: Int,
      by: Int): Array[Double] = {
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      val sy = math.min(by * 8 + y, h - 1)
      var x = 0
      while (x < 8) {
        val sx = math.min(bx * 8 + x, w - 1)
        out(y * 8 + x) = plane(sy * w + sx) - 128.0
        x += 1
      }
      y += 1
    }
    out
  }

  private def quantZigzag(coef: Array[Double], q: Array[Int]): Array[Int] = {
    val zz = new Array[Int](64)
    var k = 0
    while (k < 64) {
      val nat = Zigzag(k)
      zz(k) = math.round(coef(nat) / q(nat)).toInt
      k += 1
    }
    zz
  }

  /** Encode a grayscale image (row-major top-down luma ints in [0,255]) as
    * a baseline JFIF JPEG with the Annex-K tables. `restartInterval` > 0
    * emits DRI + RSTn markers every that many MCUs (decoder-path
    * exercise). */
  def encodeJpegGray(w: Int, h: Int, luma: Array[Int],
      restartInterval: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && luma.length == w * h,
      s"need $w*$h=${w * h} luma values, got ${luma.length}")
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8) // SOI
    writeMarkerSegment(out, 0xE0, Array( // APP0 JFIF
      'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    writeMarkerSegment(out, 0xDB, dqtBody(0, QLum))
    writeMarkerSegment(out, 0xC0, Array( // SOF0
      8, (h >> 8) & 0xFF, h & 0xFF, (w >> 8) & 0xFF, w & 0xFF,
      1, 1, 0x11, 0))
    writeMarkerSegment(out, 0xC4, dhtBody(0x00, DcLumBits, DcLumVals))
    writeMarkerSegment(out, 0xC4, dhtBody(0x10, AcLumBits, AcLumVals))
    if (restartInterval > 0)
      writeMarkerSegment(out, 0xDD,
        Array((restartInterval >> 8) & 0xFF, restartInterval & 0xFF))
    writeMarkerSegment(out, 0xDA, Array(1, 1, 0x00, 0, 63, 0)) // SOS
    val dcT = buildEncodeTable(DcLumBits, DcLumVals)
    val acT = buildEncodeTable(AcLumBits, AcLumVals)
    val bw = new BitWriter(out)
    val bxN = (w + 7) / 8; val byN = (h + 7) / 8
    var pred = 0
    var mcu = 0
    var rst = 0
    var by = 0
    while (by < byN) {
      var bx = 0
      while (bx < bxN) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush()
          out.write(0xFF); out.write(0xD0 + (rst & 7))
          rst += 1; pred = 0
        }
        pred = encodeBlock(bw,
          quantZigzag(fdct(blockOf(luma, w, h, bx, by)), QLum), pred,
          dcT, acT)
        mcu += 1
        bx += 1
      }
      by += 1
    }
    bw.flush()
    out.write(0xFF); out.write(0xD9) // EOI
    out.toByteArray
  }

  /** Encode row-major top-down RGB triples as a baseline 4:4:4 YCbCr JFIF
    * JPEG (JFIF color conversion, Annex-K tables). */
  def encodeJpegColor(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
    require(w > 0 && h > 0 && rgb.length == w * h * 3,
      s"need $w*$h*3=${w * h * 3} rgb values, got ${rgb.length}")
    val n = w * h
    val yP = new Array[Int](n); val cbP = new Array[Int](n)
    val crP = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = rgb(i * 3); val g = rgb(i * 3 + 1); val b = rgb(i * 3 + 2)
      def clamp(v: Double) = math.max(0, math.min(255, math.round(v).toInt))
      yP(i) = clamp(0.299 * r + 0.587 * g + 0.114 * b)
      cbP(i) = clamp(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)
      crP(i) = clamp(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8)
    writeMarkerSegment(out, 0xE0, Array(
      'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    writeMarkerSegment(out, 0xDB, dqtBody(0, QLum))
    writeMarkerSegment(out, 0xDB, dqtBody(1, QChrom))
    writeMarkerSegment(out, 0xC0, Array(
      8, (h >> 8) & 0xFF, h & 0xFF, (w >> 8) & 0xFF, w & 0xFF,
      3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1))
    writeMarkerSegment(out, 0xC4, dhtBody(0x00, DcLumBits, DcLumVals))
    writeMarkerSegment(out, 0xC4, dhtBody(0x10, AcLumBits, AcLumVals))
    writeMarkerSegment(out, 0xC4, dhtBody(0x01, DcChromBits, DcChromVals))
    writeMarkerSegment(out, 0xC4, dhtBody(0x11, AcChromBits, AcChromVals))
    writeMarkerSegment(out, 0xDA,
      Array(3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0))
    val dcL = buildEncodeTable(DcLumBits, DcLumVals)
    val acL = buildEncodeTable(AcLumBits, AcLumVals)
    val dcC = buildEncodeTable(DcChromBits, DcChromVals)
    val acC = buildEncodeTable(AcChromBits, AcChromVals)
    val bw = new BitWriter(out)
    val bxN = (w + 7) / 8; val byN = (h + 7) / 8
    var pY = 0; var pCb = 0; var pCr = 0
    var by = 0
    while (by < byN) {
      var bx = 0
      while (bx < bxN) {
        pY = encodeBlock(bw,
          quantZigzag(fdct(blockOf(yP, w, h, bx, by)), QLum), pY, dcL, acL)
        pCb = encodeBlock(bw,
          quantZigzag(fdct(blockOf(cbP, w, h, bx, by)), QChrom), pCb,
          dcC, acC)
        pCr = encodeBlock(bw,
          quantZigzag(fdct(blockOf(crP, w, h, bx, by)), QChrom), pCr,
          dcC, acC)
        bx += 1
      }
      by += 1
    }
    bw.flush()
    out.write(0xFF); out.write(0xD9)
    out.toByteArray
  }

  // ---- decoder ------------------------------------------------------------

  private final class HuffDecoder(bits: Array[Int], vals: Array[Int]) {
    // canonical mincode/maxcode/valptr decode (T.81 Annex F.2.2.3)
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    require(bits.length == 16 && bits.sum == vals.length,
      "corrupt DHT: counts do not match symbols")
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1); k += bits(l - 1)
        maxCode(l) = if (bits(l - 1) > 0) code - 1 else -1
        require(code <= (1 << l), s"corrupt DHT: over-subscribed length $l")
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = br.nextBit()
      var l = 1
      while (l <= 16) {
        if (maxCode(l) >= 0 && code <= maxCode(l))
          return vals(valPtr(l) + code - minCode(l))
        code = (code << 1) | br.nextBit()
        l += 1
      }
      throw new IllegalArgumentException("corrupt JPEG: bad huffman code")
    }
  }

  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    def nextBit(): Int = {
      if (n == 0) {
        require(pos < bytes.length, "truncated JPEG entropy stream")
        var b = bytes(pos) & 0xFF; pos += 1
        if (b == 0xFF) {
          require(pos < bytes.length, "truncated JPEG at 0xFF")
          val m = bytes(pos) & 0xFF
          if (m == 0x00) pos += 1 // stuffed data byte
          else throw new IllegalArgumentException(
            f"unexpected marker FF$m%02X inside entropy data")
          b = 0xFF
        }
        acc = b; n = 8
      }
      n -= 1
      (acc >>> n) & 1
    }
    def receive(size: Int): Int = {
      var v = 0; var i = 0
      while (i < size) { v = (v << 1) | nextBit(); i += 1 }
      v
    }
    /** Byte-align and consume an expected RSTn marker. */
    def restart(): Unit = {
      n = 0
      require(pos + 1 < bytes.length, "truncated JPEG at restart")
      require((bytes(pos) & 0xFF) == 0xFF &&
        (bytes(pos + 1) & 0xFF) >= 0xD0 && (bytes(pos + 1) & 0xFF) <= 0xD7,
        "corrupt JPEG: expected RSTn at restart interval")
      pos += 2
    }
  }

  private def extend(v: Int, size: Int): Int =
    if (size == 0) 0
    else if (v < (1 << (size - 1))) v - (1 << size) + 1
    else v

  /** Decode a baseline JPEG to (width, height, row-major top-down integer
    * luma in [0,255]). Grayscale streams return Y directly; color streams
    * reconstruct RGB (JFIF inverse conversion) and reduce by the same
    * integer luma the BMP/PNG codecs use. */
  def decodeJpegLuma(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    require(bytes != null && bytes.length > 4 &&
      (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8,
      "not a JPEG stream")
    var pos = 2
    def u16(i: Int) = ((bytes(i) & 0xFF) << 8) | (bytes(i + 1) & 0xFF)
    val quant = new Array[Array[Int]](4) // natural-order tables
    val huffDc = new Array[HuffDecoder](4)
    val huffAc = new Array[HuffDecoder](4)
    var w = 0; var h = 0
    var nComp = 0
    var compQ: Array[Int] = null // per-component quant table id
    var compDc: Array[Int] = null
    var compAc: Array[Int] = null
    var restartInterval = 0
    var sosAt = -1
    while (sosAt < 0) {
      require(pos + 4 <= bytes.length, "truncated JPEG before SOS")
      require((bytes(pos) & 0xFF) == 0xFF,
        f"bad marker byte ${bytes(pos) & 0xFF}%02X at $pos")
      val marker = bytes(pos + 1) & 0xFF
      val len = u16(pos + 2)
      val data = pos + 4
      marker match {
        case 0xDB => // DQT (possibly several tables)
          var o = data
          while (o < data + len - 2) {
            val pq = (bytes(o) & 0xFF) >> 4
            val tq = bytes(o) & 0x0F
            require(pq == 0, "unsupported JPEG: 16-bit quant tables")
            val t = new Array[Int](64)
            var k = 0
            while (k < 64) { t(Zigzag(k)) = bytes(o + 1 + k) & 0xFF; k += 1 }
            quant(tq) = t
            o += 65
          }
        case 0xC0 => // SOF0 baseline
          require((bytes(data) & 0xFF) == 8, "unsupported JPEG: not 8-bit")
          h = u16(data + 1); w = u16(data + 3)
          nComp = bytes(data + 5) & 0xFF
          require(nComp == 1 || nComp == 3,
            s"unsupported JPEG: $nComp components")
          require(w > 0 && h > 0, s"degenerate JPEG dims ${w}x$h")
          compQ = new Array[Int](nComp)
          var c = 0
          while (c < nComp) {
            val hv = bytes(data + 6 + c * 3 + 1) & 0xFF
            require(hv == 0x11,
              f"unsupported JPEG: sampling factors $hv%02X (4:4:4 only)")
            compQ(c) = bytes(data + 6 + c * 3 + 2) & 0xFF
            c += 1
          }
        case 0xC1 | 0xC2 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
            0xCD | 0xCE | 0xCF =>
          throw new IllegalArgumentException(
            f"unsupported JPEG: SOF$marker%02X (baseline sequential only)")
        case 0xC4 => // DHT (possibly several tables)
          var o = data
          while (o < data + len - 2) {
            val tc = (bytes(o) & 0xFF) >> 4
            val th = bytes(o) & 0x0F
            val bl = Array.tabulate(16)(i => bytes(o + 1 + i) & 0xFF)
            val nv = bl.sum
            val vl = Array.tabulate(nv)(i => bytes(o + 17 + i) & 0xFF)
            val dec = new HuffDecoder(bl, vl)
            if (tc == 0) huffDc(th) = dec else huffAc(th) = dec
            o += 17 + nv
          }
        case 0xDD => restartInterval = u16(data)
        case 0xDA => // SOS
          val ns = bytes(data) & 0xFF
          require(ns == nComp, s"JPEG scan components $ns != frame $nComp")
          compDc = new Array[Int](nComp)
          compAc = new Array[Int](nComp)
          var c = 0
          while (c < ns) {
            val tda = bytes(data + 2 + c * 2) & 0xFF
            compDc(c) = tda >> 4; compAc(c) = tda & 0x0F
            c += 1
          }
          sosAt = data + len - 2
        case 0xD9 =>
          throw new IllegalArgumentException("JPEG has no scan data")
        case _ => // APPn / COM / other ancillary — skip
      }
      if (sosAt < 0) pos = data + len - 2
    }
    require(w > 0 && compQ != null, "truncated JPEG: missing SOF before SOS")
    val bxN = (w + 7) / 8; val byN = (h + 7) / 8
    val planes = Array.fill(nComp)(new Array[Int](bxN * 8 * byN * 8))
    val preds = new Array[Int](nComp)
    val br = new BitReader(bytes, sosAt)
    var mcu = 0
    var by = 0
    while (by < byN) {
      var bx = 0
      while (bx < bxN) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          br.restart()
          java.util.Arrays.fill(preds, 0)
        }
        var c = 0
        while (c < nComp) {
          val q = quant(compQ(c))
          require(q != null, s"JPEG scan references missing DQT ${compQ(c)}")
          val dcT = huffDc(compDc(c)); val acT = huffAc(compAc(c))
          require(dcT != null && acT != null,
            "JPEG scan references missing DHT")
          val coef = new Array[Double](64)
          val dSize = dcT.decode(br)
          preds(c) += extend(br.receive(dSize), dSize)
          coef(0) = preds(c).toDouble * q(0)
          var k = 1
          while (k < 64) {
            val rs = acT.decode(br)
            if (rs == 0x00) k = 64 // EOB
            else if (rs == 0xF0) k += 16 // ZRL
            else {
              k += rs >> 4
              require(k < 64, "corrupt JPEG: AC run past block end")
              val s = rs & 0x0F
              val nat = Zigzag(k)
              coef(nat) = extend(br.receive(s), s).toDouble * q(nat)
              k += 1
            }
          }
          val px = idct(coef)
          val plane = planes(c)
          val pw = bxN * 8
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val v = math.round(px(y * 8 + x) + 128.0).toInt
              plane((by * 8 + y) * pw + bx * 8 + x) =
                math.max(0, math.min(255, v))
              x += 1
            }
            y += 1
          }
          c += 1
        }
        mcu += 1
        bx += 1
      }
      by += 1
    }
    val out = new Array[Int](w * h)
    val pw = bxN * 8
    if (nComp == 1) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(y * w + x) = planes(0)(y * pw + x); x += 1 }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val o = y * pw + x
          val yv = planes(0)(o); val cb = planes(1)(o) - 128
          val cr = planes(2)(o) - 128
          def clamp(d: Double) = math.max(0, math.min(255, math.round(d).toInt))
          val r = clamp(yv + 1.402 * cr)
          val g = clamp(yv - 0.344136 * cb - 0.714136 * cr)
          val b = clamp(yv + 1.772 * cb)
          out(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
          x += 1
        }
        y += 1
      }
    }
    (w, h, out)
  }
}
