package graft.pipeline

/** Minimal pure-JVM BMP codec — the REAL decoder behind the multimodal
  * decode seam ([[Multimodal.decodeAndFeaturize]] selects it for bytes
  * that start `BM` with zero reserved bytes 6–9; bytes of no known format
  * take the FNV stub). Supports the uncompressed BITMAPINFOHEADER
  * layouts every generator emits: 24/32-bit, bottom-up (positive height)
  * and top-down (negative height), 4-byte-padded rows. Decode output is
  * integer luma (299·R + 587·G + 114·B) / 1000 per pixel, row-major
  * top-down — integer arithmetic end-to-end so the DuckDB oracle can
  * replay the exact values (mm_decode_bmp).
  */
object ImageCodec {

  /** Decode an uncompressed 24/32-bit BMP to (width, height, row-major
    * top-down integer luma in [0, 255]). Fails loudly on anything else —
    * a silent fallback to the stub would fake a decode.
    */
  def decodeBmpLuma(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    def u8(i: Int) = bytes(i) & 0xFF
    def u16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def i32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    require(bytes != null && bytes.length >= 54 &&
      bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte, "not a BMP stream")
    val pixOff = i32(10)
    val hdrSize = i32(14)
    require(hdrSize >= 40, s"unsupported BMP header size $hdrSize")
    val w = i32(18)
    val hRaw = i32(22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    val planes = u16(26)
    val bpp = u16(28)
    val comp = i32(30)
    require(planes == 1 && (bpp == 24 || bpp == 32) && comp == 0,
      s"unsupported BMP: planes=$planes bpp=$bpp compression=$comp " +
        "(only uncompressed 24/32-bit)")
    require(w > 0 && h > 0, s"degenerate BMP dims ${w}x$hRaw")
    val bytesPerPx = bpp / 8
    val stride = ((w * bytesPerPx + 3) / 4) * 4
    require(bytes.length >= pixOff + stride * h,
      s"truncated BMP: need ${pixOff + stride * h} bytes, got ${bytes.length}")
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val srcY = if (topDown) y else h - 1 - y
      val rowOff = pixOff + srcY * stride
      var x = 0
      while (x < w) {
        val p = rowOff + x * bytesPerPx
        val b = u8(p); val g = u8(p + 1); val r = u8(p + 2)
        out(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  /** Encode row-major top-down RGB triples (3 ints per pixel, 0-255) as an
    * uncompressed 24-bit BMP — bottom-up by default, top-down with
    * `topDown` (negative height). Fixture generator for the golden tests
    * and the mm_decode_bmp gate; byte-different encodings of the same
    * pixels (row order, padding) must decode identically.
    */
  def encodeBmp(w: Int, h: Int, rgb: Array[Int], topDown: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && rgb.length == w * h * 3,
      s"need $w*$h*3=${w * h * 3} rgb values, got ${rgb.length}")
    val stride = ((w * 3 + 3) / 4) * 4
    val size = 54 + stride * h
    val out = new Array[Byte](size)
    def p16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
    }
    def p32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte
    }
    out(0) = 'B'.toByte; out(1) = 'M'.toByte
    p32(2, size); p32(10, 54); p32(14, 40)
    p32(18, w); p32(22, if (topDown) -h else h)
    p16(26, 1); p16(28, 24); p32(30, 0); p32(34, stride * h)
    var y = 0
    while (y < h) {
      val dstY = if (topDown) y else h - 1 - y
      var x = 0
      while (x < w) {
        val s = (y * w + x) * 3
        val d = 54 + dstY * stride + x * 3
        out(d) = rgb(s + 2).toByte
        out(d + 1) = rgb(s + 1).toByte
        out(d + 2) = rgb(s).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  // ------------------------------------------------------------------ PNG

  private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    .map(_.toByte)

  /** Decode an 8-bit-depth truecolor PNG (color type 2 RGB or 6 RGBA,
    * interlace 0, any row filters 0-4, any IDAT chunking) to (width,
    * height, row-major top-down integer luma) — the second REAL format
    * behind the multimodal decode seam (selected by the PNG signature).
    * Pure JVM: chunk walk + java.util.zip.Inflater + the five PNG row
    * unfilters (None/Sub/Up/Average/Paeth, RFC 2083 §6). Same integer
    * luma as the BMP path so oracles replay values exactly. Fails loudly
    * on anything unsupported — a silent stub fallback would fake a decode.
    */
  def decodePngLuma(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    require(bytes != null && bytes.length > 8 &&
      (0 until 8).forall(i => bytes(i) == PngSig(i)), "not a PNG stream")
    def u32(i: Int): Int =
      ((bytes(i) & 0xFF) << 24) | ((bytes(i + 1) & 0xFF) << 16) |
        ((bytes(i + 2) & 0xFF) << 8) | (bytes(i + 3) & 0xFF)
    var off = 8
    var w = 0; var h = 0; var colorType = -1
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && off + 8 <= bytes.length) {
      val len = u32(off)
      val typ = new String(bytes, off + 4, 4, "US-ASCII")
      val data = off + 8
      typ match {
        case "IHDR" =>
          require(len == 13, s"bad IHDR length $len")
          w = u32(data); h = u32(data + 4)
          val depth = bytes(data + 8) & 0xFF
          colorType = bytes(data + 9) & 0xFF
          val interlace = bytes(data + 12) & 0xFF
          require(depth == 8 && (colorType == 2 || colorType == 6) &&
            interlace == 0,
            s"unsupported PNG: depth=$depth colorType=$colorType " +
              s"interlace=$interlace (only 8-bit RGB/RGBA, no interlace)")
          require(w > 0 && h > 0, s"degenerate PNG dims ${w}x$h")
        case "IDAT" => idat.write(bytes, data, len)
        case "IEND" => done = true
        case _ => // ancillary chunk — skip
      }
      off = data + len + 4 // skip CRC
    }
    require(done && colorType >= 0, "truncated PNG: missing IHDR/IEND")
    val bpp = if (colorType == 2) 3 else 4
    val rowBytes = w * bpp
    val raw = new Array[Byte]((rowBytes + 1) * h)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    while (got < raw.length && !inf.finished()) {
      val n = inf.inflate(raw, got, raw.length - got)
      require(n > 0 || !inf.needsInput(), "truncated PNG IDAT stream")
      got += n
    }
    inf.end()
    require(got == raw.length,
      s"PNG IDAT inflated to $got bytes, need ${raw.length}")
    // unfilter in place into `px` (previous row already reconstructed)
    val px = new Array[Byte](rowBytes * h)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    var y = 0
    while (y < h) {
      val ft = raw(y * (rowBytes + 1)) & 0xFF
      require(ft <= 4, s"bad PNG filter type $ft on row $y")
      val src = y * (rowBytes + 1) + 1
      val dst = y * rowBytes
      var i = 0
      while (i < rowBytes) {
        val x = raw(src + i) & 0xFF
        val a = if (i >= bpp) px(dst + i - bpp) & 0xFF else 0
        val b = if (y > 0) px(dst - rowBytes + i) & 0xFF else 0
        val c = if (y > 0 && i >= bpp) px(dst - rowBytes + i - bpp) & 0xFF else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 => x + paeth(a, b, c)
        }
        px(dst + i) = v.toByte
        i += 1
      }
      y += 1
    }
    val out = new Array[Int](w * h)
    var p = 0
    while (p < w * h) {
      val o = p * bpp
      out(p) = (299 * (px(o) & 0xFF) + 587 * (px(o + 1) & 0xFF) +
        114 * (px(o + 2) & 0xFF)) / 1000
      p += 1
    }
    (w, h, out)
  }

  /** Encode row-major top-down RGB triples as a truecolor 8-bit PNG with
    * one row filter applied uniformly (0-4 — the gate varies it so decode
    * exercises every unfilter path), optional alpha plane (color type 6,
    * alpha=255). Chunked with correct CRC32s and zlib-deflated, so any
    * conforming decoder (e.g. javax.imageio in the differential spec)
    * reads it back.
    */
  def encodePng(w: Int, h: Int, rgb: Array[Int], filterType: Int = 0,
      alpha: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && rgb.length == w * h * 3,
      s"need $w*$h*3=${w * h * 3} rgb values, got ${rgb.length}")
    require(filterType >= 0 && filterType <= 4, s"bad filter $filterType")
    val bpp = if (alpha) 4 else 3
    val rowBytes = w * bpp
    val px = new Array[Byte](rowBytes * h)
    var p = 0
    while (p < w * h) {
      val s = p * 3; val d = p * bpp
      px(d) = rgb(s).toByte; px(d + 1) = rgb(s + 1).toByte
      px(d + 2) = rgb(s + 2).toByte
      if (alpha) px(d + 3) = 0xFF.toByte
      p += 1
    }
    def paeth(a: Int, b: Int, c: Int): Int = {
      val pr = a + b - c
      val pa = math.abs(pr - a); val pb = math.abs(pr - b); val pc = math.abs(pr - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new Array[Byte]((rowBytes + 1) * h)
    var y = 0
    while (y < h) {
      raw(y * (rowBytes + 1)) = filterType.toByte
      var i = 0
      while (i < rowBytes) {
        val x = px(y * rowBytes + i) & 0xFF
        val a = if (i >= bpp) px(y * rowBytes + i - bpp) & 0xFF else 0
        val b = if (y > 0) px((y - 1) * rowBytes + i) & 0xFF else 0
        val c = if (y > 0 && i >= bpp) px((y - 1) * rowBytes + i - bpp) & 0xFF else 0
        val f = filterType match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - (a + b) / 2
          case 4 => x - paeth(a, b, c)
        }
        raw(y * (rowBytes + 1) + 1 + i) = f.toByte
        i += 1
      }
      y += 1
    }
    val deflated = {
      val bos = new java.io.ByteArrayOutputStream()
      val dos = new java.util.zip.DeflaterOutputStream(bos,
        new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION))
      dos.write(raw); dos.finish(); dos.close()
      bos.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig, 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      out.write(be32(data.length), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      out.write(be32(crc.getValue.toInt), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = (if (alpha) 6 else 2).toByte
    chunk("IHDR", ihdr)
    chunk("IDAT", deflated)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** General box-mean downsample of an integer grid to dw×dh floats in
    * [0, 1]: destination (x, y) averages the source block
    * [⌊x·sw/dw⌋, ⌊(x+1)·sw/dw⌋) × [⌊y·sh/dh⌋, ⌊(y+1)·sh/dh⌋) — lets the
    * real-codec path honor decodeAndFeaturize's fixed (w, h) contract for
    * any source dims (identity when dims already match).
    */
  def boxMean(sw: Int, sh: Int, px: Array[Int], dw: Int, dh: Int): Array[Float] = {
    require(dw >= 1 && dh >= 1 && dw <= sw && dh <= sh,
      s"box mean needs 1 <= dst <= src, got ${sw}x$sh -> ${dw}x$dh")
    val out = new Array[Float](dw * dh)
    var y = 0
    while (y < dh) {
      val y0 = y * sh / dh; val y1 = (y + 1) * sh / dh
      var x = 0
      while (x < dw) {
        val x0 = x * sw / dw; val x1 = (x + 1) * sw / dw
        var sum = 0L
        var sy = y0
        while (sy < y1) {
          var sx = x0
          while (sx < x1) { sum += px(sy * sw + sx); sx += 1 }
          sy += 1
        }
        out(y * dw + x) = sum.toFloat / ((y1 - y0) * (x1 - x0)) / 255.0f
        x += 1
      }
      y += 1
    }
    out
  }
}
