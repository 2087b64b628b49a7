package graft.pipeline

/** Minimal pure-JVM WAV/PCM codec — the REAL decoder behind the audio side
  * of the multimodal seam (selected by `RIFF`…`WAVE`, round-9 promotion of
  * the mm_audio family). Scope: RIFF/WAVE, PCM (format 1), 16-bit mono;
  * any chunk order with unknown chunks skipped (incl. the RIFF odd-length
  * pad byte), which is what real exporter output looks like (LIST/INFO,
  * fact, cue chunks between fmt and data). Anything else — float/ADPCM
  * formats, multi-channel, 8/24-bit — fails loudly: a silent stub fallback
  * would fake a decode.
  *
  * The 16-bit sample grid maps onto the engine's [0, 1] float amplitude
  * convention as (s + 32768) / 65535f; fixtures store pattern·257 − 32768
  * so the decoded float equals pattern/255f EXACTLY (65535 = 255·257) and
  * DuckDB oracles replay amplitudes in integer SQL, same discipline as the
  * lossless image codecs.
  *
  * Reference analog: none — the reference has no audio surface at all;
  * this is part of the training-data-pipeline extension tier.
  */
object AudioCodec {

  /** Encode mono 16-bit PCM as a RIFF/WAVE byte stream. `comment` emits a
    * LIST/INFO ICMT chunk BETWEEN fmt and data — a standard ancillary
    * chunk that makes byte-DIFFERENT encodings of identical samples (the
    * dup-planting fixtures) and exercises the decoder's chunk skipping.
    */
  def encodeWavPcm16(sampleRate: Int, samples: Array[Short],
      comment: Option[String] = None): Array[Byte] = {
    require(sampleRate > 0 && samples != null && samples.nonEmpty,
      "need a positive rate and at least one sample")
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
      out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
    }
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >>> 8) & 0xFF) }
    val info = comment.map { c =>
      val txt = c.getBytes("US-ASCII")
      val icmtLen = txt.length + 1 // NUL-terminated per INFO convention
      val padded = icmtLen + (icmtLen & 1)
      (txt, icmtLen, 4 + 8 + padded) // "INFO" + ICMT header + padded payload
    }
    val dataLen = samples.length * 2
    val riffLen = 4 + (8 + 16) + info.map(8 + _._3).getOrElse(0) + (8 + dataLen)
    ascii("RIFF"); le32(riffLen); ascii("WAVE")
    ascii("fmt "); le32(16)
    le16(1); le16(1); le32(sampleRate); le32(sampleRate * 2); le16(2); le16(16)
    info.foreach { case (txt, icmtLen, listLen) =>
      ascii("LIST"); le32(listLen); ascii("INFO")
      ascii("ICMT"); le32(icmtLen)
      out.write(txt, 0, txt.length); out.write(0)
      if ((icmtLen & 1) == 1) out.write(0) // RIFF even-boundary pad
    }
    ascii("data"); le32(dataLen)
    samples.foreach(s => le16(s & 0xFFFF))
    out.toByteArray
  }

  /** Decode a RIFF/WAVE byte stream to (sampleRate, mono 16-bit samples).
    * Walks chunks in order, skipping unknown ones and odd-length pads;
    * requires fmt before data. */
  def decodeWavPcm16(bytes: Array[Byte]): (Int, Array[Short]) = {
    require(bytes != null && bytes.length >= 44, "not a WAV stream (too short)")
    def ascii(i: Int) = new String(bytes, i, 4, "US-ASCII")
    def u32(i: Int): Int = (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8) |
      ((bytes(i + 2) & 0xFF) << 16) | ((bytes(i + 3) & 0xFF) << 24)
    def u16(i: Int): Int = (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8)
    require(ascii(0) == "RIFF" && ascii(8) == "WAVE", "not a WAV stream")
    var off = 12
    var sampleRate = -1
    var samples: Array[Short] = null
    while (off + 8 <= bytes.length && samples == null) {
      val id = ascii(off)
      val len = u32(off + 4)
      val data = off + 8
      require(len >= 0 && data + len <= bytes.length,
        s"truncated WAV: chunk $id claims $len bytes at $off")
      id match {
        case "fmt " =>
          require(len >= 16, s"bad fmt chunk length $len")
          val fmt = u16(data); val ch = u16(data + 2); val bits = u16(data + 14)
          require(fmt == 1 && ch == 1 && bits == 16,
            s"unsupported WAV: format=$fmt channels=$ch bits=$bits " +
              "(PCM 16-bit mono only)")
          sampleRate = u32(data + 4)
          require(sampleRate > 0, s"bad WAV sample rate $sampleRate")
        case "data" =>
          require(sampleRate > 0, "WAV data chunk before fmt")
          require(len % 2 == 0, s"odd PCM16 data length $len")
          samples = new Array[Short](len / 2)
          var i = 0
          while (i < samples.length) {
            samples(i) = u16(data + i * 2).toShort
            i += 1
          }
        case _ => // ancillary chunk (LIST, fact, cue …) — skip
      }
      off = data + len + (len & 1) // RIFF pads odd chunks to even
    }
    require(samples != null, "truncated WAV: no data chunk")
    (sampleRate, samples)
  }
}
