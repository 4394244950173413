package graft.multimodal

/** Pure-JVM FLAC codec (decode + fixture encode) for the multimodal audio
  * path (the JDK ships no FLAC codec): real SAMPLES, not a header parse,
  * so `features()` runs on genuine amplitudes for the format most lossless
  * audio corpora actually ship.
  *
  * Written against the public FLAC format specification (RFC 9639 /
  * xiph.org format docs) — nothing here derives from libFLAC or any other
  * decoder implementation. Coverage is the full subset streams in the wild
  * use: STREAMINFO + arbitrary skipped metadata blocks, fixed & variable
  * blocking, all block-size/sample-rate/sample-size header codes, UTF-8
  * coded frame/sample numbers, subframe types CONSTANT / VERBATIM / FIXED
  * (orders 0-4) / LPC (orders 1-32), wasted-bits, Rice residuals at both
  * 4- and 5-bit parameter widths with partition orders and raw-escape
  * partitions, and all four channel assignments (independent, left/side,
  * right/side, mid/side — side channels carry the spec's +1 bit). CRC-8
  * (frame header), CRC-16 (whole frame) and the STREAMINFO MD5 (when set)
  * are all verified — a corrupted stream fails loudly here and DEGRADES in
  * [[Multimodal]] (one corrupt record never kills a 100-TB decode job).
  *
  * The encoder exists so tests can be closed-loop without external codecs
  * (the container has no FLAC library — that absence is why this file
  * exists). It is a real, if compact, encoder: per-subframe it detects
  * constant runs and common trailing zero bits (wasted bits), tries all
  * five fixed predictors, and can run genuine LPC analysis
  * (autocorrelation + Levinson-Durbin + coefficient quantization); stereo
  * decorrelation and Rice partitioning are selectable so every decoder
  * path has an encoder-driven fixture. Losslessness means the tests are
  * bit-exact.
  *
  * Scale shape: this class touches ONE payload at a time on an executor
  * thread inside `mapPartitions` — no state, no allocation proportional to
  * anything but the declared sample count, which is capped by the same
  * 64 MB decompression-bomb guard as the image decodes
  * ([[Multimodal.MaxDecodedBytes]]): a crafted STREAMINFO declaring 2^36 samples
  * must refuse before allocating, because an executor OOM is not a
  * catchable per-record failure.
  *
  * Reference anchor: the reference engine treats media payloads as opaque
  * binary columns end-to-end (HiveKuduBridgeUtils.java:40-76 maps only
  * primitive SQL types); real decode is part of this library's
  * training-data-pipeline extension surface, same tier as the image path.
  */
object Flac {

  /** Parsed STREAMINFO — the 34-byte mandatory first metadata block. */
  final case class StreamInfo(
      minBlockSize: Int, maxBlockSize: Int,
      sampleRate: Int, channels: Int, bitsPerSample: Int,
      totalSamples: Long, md5: Array[Byte])

  /** Decoded stream: interleaved samples at native bit depth (sign-extended
    * into Int), one entry per (frame, channel).
    */
  final case class DecodedAudio(
      channels: Int, bitsPerSample: Int, sampleRate: Int,
      samples: Array[Int])

  /** Structural sniff: magic + a plausible STREAMINFO as the first block.
    * Arbitrary bytes starting "fLaC" would additionally need a type-0
    * block header of length 34 AND in-range channel/bit-depth fields to
    * false-positive — not something that happens by accident.
    */
  def isFlac(b: Array[Byte]): Boolean =
    b.length >= 4 + 4 + 34 &&
      b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C' &&
      (b(4) & 0x7f) == 0 && // first block must be STREAMINFO
      be24(b, 5) == 34 &&
      (try { val si = streamInfo(b); si.channels >= 1 && si.channels <= 8 &&
        si.bitsPerSample >= 4 && si.bitsPerSample <= 32 && si.sampleRate > 0
      } catch { case _: Exception => false })

  /** STREAMINFO geometry — the cheap header parse [[Multimodal]] uses for
    * `features`/`resize` so they agree with `decode` without a full
    * entropy pass.
    */
  def streamInfo(b: Array[Byte]): StreamInfo = {
    require(b.length >= 42, "FLAC: truncated STREAMINFO")
    val o = 8 // past magic + block header
    val minBlock = be16(b, o)
    val maxBlock = be16(b, o + 2)
    // sampleRate u20 | channels-1 u3 | bps-1 u5 | totalSamples u36 packed
    // across bytes 10..17 of the block
    val sr = ((b(o + 10) & 0xff) << 12) | ((b(o + 11) & 0xff) << 4) |
      ((b(o + 12) & 0xff) >> 4)
    val ch = ((b(o + 12) >> 1) & 0x07) + 1
    val bps = (((b(o + 12) & 0x01) << 4) | ((b(o + 13) & 0xff) >> 4)) + 1
    var total = (b(o + 13) & 0x0fL) << 32
    total |= (b(o + 14) & 0xffL) << 24
    total |= (b(o + 15) & 0xffL) << 16
    total |= (b(o + 16) & 0xffL) << 8
    total |= b(o + 17) & 0xffL
    val md5 = java.util.Arrays.copyOfRange(b, o + 18, o + 34)
    StreamInfo(minBlock, maxBlock, sr, ch, bps, total, md5)
  }

  /** Offset of the first audio frame: walk the metadata-block chain. */
  private[multimodal] def audioStart(b: Array[Byte]): Int = {
    var i = 4
    var last = false
    while (!last) {
      require(i + 4 <= b.length, "FLAC: truncated metadata block header")
      last = (b(i) & 0x80) != 0
      val len = be24(b, i + 1)
      require(len >= 0 && i + 4 + len <= b.length, "FLAC: metadata block overruns buffer")
      i += 4 + len
    }
    i
  }

  /** Full decode. Verifies every frame's CRC-8/CRC-16 and, when the
    * STREAMINFO MD5 is set, the whole-stream sample MD5 (over the
    * interleaved little-endian original samples, per spec). Throws on any
    * structural or integrity violation — the caller owns degrade policy.
    */
  def decode(b: Array[Byte]): DecodedAudio = {
    val si = streamInfo(b)
    require(si.channels >= 1 && si.channels <= 8, s"FLAC: bad channel count ${si.channels}")
    require(si.bitsPerSample >= 4 && si.bitsPerSample <= 32,
      s"FLAC: bad bit depth ${si.bitsPerSample}")
    require(si.totalSamples > 0,
      "FLAC: unknown total sample count (streaminfo=0) is outside the decode envelope")
    // decompression-bomb guard BEFORE any allocation (same cap as images)
    require(si.totalSamples * si.channels * 4 <= Multimodal.MaxDecodedBytes,
      s"FLAC: declared ${si.totalSamples} samples x ${si.channels} ch exceeds decode cap")
    val out = new Array[Int]((si.totalSamples * si.channels).toInt)
    val br = new BitReader(b, audioStart(b))
    var got = 0L
    while (got < si.totalSamples) {
      got += decodeFrame(br, si, out, (got * si.channels).toInt)
    }
    require(got == si.totalSamples, s"FLAC: decoded $got of ${si.totalSamples} samples")
    if (si.md5.exists(_ != 0)) {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(samplesToLeBytes(out, si.bitsPerSample))
      require(java.util.Arrays.equals(md.digest(), si.md5), "FLAC: MD5 mismatch")
    }
    DecodedAudio(si.channels, si.bitsPerSample, si.sampleRate, out)
  }

  /** Interleaved samples → little-endian packed bytes at the native depth —
    * the byte stream the STREAMINFO MD5 is defined over, and byte-identical
    * to the `data` chunk a PCM WAV of the same audio carries (which is what
    * lets [[Multimodal]] checksum FLAC and WAV of one recording to the SAME
    * value). Depths that are not a whole number of bytes hash at the
    * containing byte width like the reference `flac` tool's WAV output.
    */
  def samplesToLeBytes(samples: Array[Int], bits: Int): Array[Byte] = {
    val bytesPer = (bits + 7) / 8
    val out = new Array[Byte](samples.length * bytesPer)
    var i = 0
    while (i < samples.length) {
      var v = samples(i)
      var k = 0
      while (k < bytesPer) { out(i * bytesPer + k) = (v & 0xff).toByte; v >>= 8; k += 1 }
      i += 1
    }
    out
  }

  // ---- frame decode ----

  private val SampleRateByCode = Array(0, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000)
  private val SampleSizeByCode = Array(0, 8, 12, -1, 16, 20, 24, 32)

  /** One frame: header (with CRC-8), one subframe per channel, byte-align
    * padding, CRC-16. Returns the frame's block size; samples land
    * interleaved at `outOff`.
    */
  private def decodeFrame(br: BitReader, si: StreamInfo, out: Array[Int],
      outOff: Int): Int = {
    val frameStart = br.bytePos
    require(br.bitsLeft >= 40, "FLAC: truncated frame header")
    val sync = br.bits(14)
    require(sync == 0x3ffe, f"FLAC: bad frame sync $sync%x")
    require(br.bits(1) == 0, "FLAC: reserved sync bit set")
    br.bits(1) // blocking strategy — number semantics don't affect decode
    val bsCode = br.bits(4)
    val srCode = br.bits(4)
    val chCode = br.bits(4)
    val ssCode = br.bits(3)
    require(br.bits(1) == 0, "FLAC: reserved header bit set")
    decodeUtf8Number(br) // frame/sample number (ordering metadata)
    val blockSize = bsCode match {
      case 0 => throw new IllegalArgumentException("FLAC: reserved block-size code")
      case 1 => 192
      case 6 => br.bits(8) + 1
      case 7 => br.bits(16) + 1
      case n if n <= 5 => 576 << (n - 2)
      case n => 256 << (n - 8)
    }
    srCode match {
      case c if c <= 11 => // tabled or from STREAMINFO — nothing to read
      case 12 => br.bits(8)
      case 13 | 14 => br.bits(16)
      case _ => throw new IllegalArgumentException("FLAC: invalid sample-rate code")
    }
    require(ssCode != 3, "FLAC: reserved sample-size code")
    val bps = if (ssCode == 0) si.bitsPerSample else SampleSizeByCode(ssCode)
    val channels = if (chCode < 8) chCode + 1 else 2
    require(chCode <= 10, s"FLAC: reserved channel assignment $chCode")
    require(channels == si.channels,
      s"FLAC: frame channels $channels != streaminfo ${si.channels}")
    require(outOff + blockSize * channels <= out.length,
      "FLAC: frame overruns declared total samples")
    val headerEnd = br.bytePos
    require(br.bitAligned, "FLAC: frame header must be byte-aligned before CRC-8")
    val crc8 = br.bits(8)
    require(crc8 == crc8Of(br.buf, frameStart, headerEnd),
      "FLAC: frame header CRC-8 mismatch")

    // subframes — side channels carry one extra bit (the difference of two
    // n-bit signals needs n+1 bits)
    val chans = new Array[Array[Int]](channels)
    var c = 0
    while (c < channels) {
      val sideBit = chCode match {
        case 8 => if (c == 1) 1 else 0 // left/side
        case 9 => if (c == 0) 1 else 0 // right/side
        case 10 => if (c == 1) 1 else 0 // mid/side
        case _ => 0
      }
      chans(c) = decodeSubframe(br, blockSize, bps + sideBit)
      c += 1
    }
    br.alignToByte()
    val frameEnd = br.bytePos
    val crc16 = br.bits(16)
    require(crc16 == crc16Of(br.buf, frameStart, frameEnd),
      "FLAC: frame CRC-16 mismatch")

    // undo stereo decorrelation
    chCode match {
      case 8 => // left/side: right = left - side
        var i = 0
        while (i < blockSize) { chans(1)(i) = chans(0)(i) - chans(1)(i); i += 1 }
      case 9 => // right/side: left = right + side  (stream order: side, right)
        var i = 0
        while (i < blockSize) {
          val side = chans(0)(i)
          chans(0)(i) = chans(1)(i) + side
          i += 1
        }
      case 10 => // mid/side
        var i = 0
        while (i < blockSize) {
          val side = chans(1)(i)
          var mid = chans(0)(i) << 1
          mid |= side & 1 // the dropped low bit of L+R rides the side channel
          chans(0)(i) = (mid + side) >> 1
          chans(1)(i) = (mid - side) >> 1
          i += 1
        }
      case _ =>
    }
    var i = 0
    while (i < blockSize) {
      var ch = 0
      while (ch < channels) {
        out(outOff + i * channels + ch) = chans(ch)(i)
        ch += 1
      }
      i += 1
    }
    blockSize
  }

  private def decodeSubframe(br: BitReader, n: Int, bps: Int): Array[Int] = {
    require(br.bits(1) == 0, "FLAC: subframe padding bit set")
    val tpe = br.bits(6)
    var wasted = 0
    if (br.bits(1) == 1) {
      wasted = 1
      while (br.bits(1) == 0) wasted += 1
    }
    val ebps = bps - wasted
    require(ebps > 0, "FLAC: wasted bits exceed sample size")
    val s = tpe match {
      case 0 =>
        val v = br.signedBits(ebps)
        Array.fill(n)(v)
      case 1 =>
        val a = new Array[Int](n)
        var i = 0
        while (i < n) { a(i) = br.signedBits(ebps); i += 1 }
        a
      case t if t >= 8 && t <= 12 => decodeFixed(br, n, ebps, t - 8)
      case t if t >= 32 => decodeLpc(br, n, ebps, (t & 31) + 1)
      case t => throw new IllegalArgumentException(s"FLAC: reserved subframe type $t")
    }
    if (wasted > 0) {
      var i = 0
      while (i < n) { s(i) = s(i) << wasted; i += 1 }
    }
    s
  }

  private def decodeFixed(br: BitReader, n: Int, bps: Int, order: Int): Array[Int] = {
    val s = new Array[Int](n)
    var i = 0
    while (i < order) { s(i) = br.signedBits(bps); i += 1 }
    decodeResidual(br, n, order, s)
    // s[i] currently holds residuals for i >= order; run the fixed
    // predictor forward (the polynomial predictors from the spec)
    i = order
    while (i < n) {
      s(i) += (order match {
        case 0 => 0
        case 1 => s(i - 1)
        case 2 => 2 * s(i - 1) - s(i - 2)
        case 3 => 3 * s(i - 1) - 3 * s(i - 2) + s(i - 3)
        case _ => 4 * s(i - 1) - 6 * s(i - 2) + 4 * s(i - 3) - s(i - 4)
      })
      i += 1
    }
    s
  }

  private def decodeLpc(br: BitReader, n: Int, bps: Int, order: Int): Array[Int] = {
    val s = new Array[Int](n)
    var i = 0
    while (i < order) { s(i) = br.signedBits(bps); i += 1 }
    val precision = br.bits(4) + 1
    require(precision <= 15, "FLAC: invalid qlp precision")
    val shift = br.signedBits(5)
    require(shift >= 0, "FLAC: negative qlp shift")
    val coef = new Array[Int](order)
    i = 0
    while (i < order) { coef(i) = br.signedBits(precision); i += 1 }
    decodeResidual(br, n, order, s)
    i = order
    while (i < n) {
      var acc = 0L // 64-bit accumulator: bps + precision + log2(order) can pass 32
      var j = 0
      while (j < order) { acc += coef(j).toLong * s(i - 1 - j); j += 1 }
      s(i) += (acc >> shift).toInt
      i += 1
    }
    s
  }

  /** Rice-coded residual partitions; decoded values land in s[order..n). */
  private def decodeResidual(br: BitReader, n: Int, order: Int, s: Array[Int]): Unit = {
    val method = br.bits(2)
    require(method <= 1, s"FLAC: reserved residual coding method $method")
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val partOrder = br.bits(4)
    val parts = 1 << partOrder
    require(n % parts == 0, "FLAC: block size not divisible by partition count")
    require(n / parts > order || partOrder == 0, "FLAC: partition smaller than predictor order")
    var idx = order
    var p = 0
    while (p < parts) {
      val count = (n >> partOrder) - (if (p == 0) order else 0)
      val param = br.bits(paramBits)
      if (param == escape) {
        val raw = br.bits(5)
        var i = 0
        while (i < count) {
          s(idx) = if (raw == 0) 0 else br.signedBits(raw)
          idx += 1; i += 1
        }
      } else {
        var i = 0
        while (i < count) {
          var q = 0
          while (br.bits(1) == 0) {
            q += 1
            require(q <= (n << 5) + 64, "FLAC: runaway unary quotient")
          }
          val v = (q << param) | (if (param == 0) 0 else br.bits(param))
          s(idx) = (v >>> 1) ^ -(v & 1) // zigzag
          idx += 1; i += 1
        }
      }
      p += 1
    }
  }

  /** UTF-8-style variable-length number (the frame/sample index — extended
    * past RFC 3629 to 36 bits / 7 bytes, per the FLAC spec).
    */
  private def decodeUtf8Number(br: BitReader): Long = {
    val b0 = br.bits(8)
    var extra = 0
    var v: Long = 0
    if ((b0 & 0x80) == 0) return b0
    else if ((b0 & 0xe0) == 0xc0) { extra = 1; v = b0 & 0x1f }
    else if ((b0 & 0xf0) == 0xe0) { extra = 2; v = b0 & 0x0f }
    else if ((b0 & 0xf8) == 0xf0) { extra = 3; v = b0 & 0x07 }
    else if ((b0 & 0xfc) == 0xf8) { extra = 4; v = b0 & 0x03 }
    else if ((b0 & 0xfe) == 0xfc) { extra = 5; v = b0 & 0x01 }
    else if (b0 == 0xfe) { extra = 6; v = 0 }
    else throw new IllegalArgumentException("FLAC: bad coded-number lead byte")
    var i = 0
    while (i < extra) {
      val c = br.bits(8)
      require((c & 0xc0) == 0x80, "FLAC: bad coded-number continuation")
      v = (v << 6) | (c & 0x3f)
      i += 1
    }
    v
  }

  // ---- encoder (fixture counterpart; real analysis, compact heuristics) ----

  /** Stereo decorrelation / subframe-type forcing for test-path coverage. */
  final case class EncodeOptions(
      blockSize: Int = 4096,
      /** "independent" | "left_side" | "right_side" | "mid_side" — stereo only. */
      stereo: String = "independent",
      /** "auto" (constant/fixed choice) | "verbatim" | "lpc" | "fixed<N>". */
      subframe: String = "auto",
      /** Rice partition order (block size must divide by 2^order). */
      partitionOrder: Int = 0,
      /** Emit wasted-bits when samples share trailing zero bits. */
      detectWastedBits: Boolean = true)

  /** Encode interleaved samples to a valid FLAC stream (STREAMINFO with
    * MD5, fixed-blocking frames, CRC-8/16). Lossless by construction — the
    * tests decode back and compare arrays.
    */
  def encode(samples: Array[Int], channels: Int, bits: Int, sampleRate: Int,
      opts: EncodeOptions = EncodeOptions()): Array[Byte] = {
    require(channels >= 1 && channels <= 8, "FLAC encode: 1-8 channels")
    require(bits >= 4 && bits <= 24, "FLAC encode: 4-24 bits")
    require(samples.length % channels == 0, "FLAC encode: ragged interleave")
    require(opts.stereo == "independent" || channels == 2,
      "FLAC encode: decorrelation needs exactly 2 channels")
    val frames = samples.length / channels
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    // STREAMINFO (last-metadata bit set)
    val si = new Array[Byte](38)
    si(0) = 0x80.toByte; si(3) = 34
    val bs = opts.blockSize
    si(4) = (bs >> 8).toByte; si(5) = bs.toByte
    si(6) = (bs >> 8).toByte; si(7) = bs.toByte
    // min/max frame size left 0 (unknown — allowed)
    si(14) = (sampleRate >> 12).toByte
    si(15) = (sampleRate >> 4).toByte
    si(16) = (((sampleRate & 0xf) << 4) | ((channels - 1) << 1) | ((bits - 1) >> 4)).toByte
    si(17) = ((((bits - 1) & 0xf) << 4) | ((frames.toLong >> 32) & 0xf).toInt).toByte
    si(18) = (frames >> 24).toByte; si(19) = (frames >> 16).toByte
    si(20) = (frames >> 8).toByte; si(21) = frames.toByte
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(samplesToLeBytes(samples, bits))
    System.arraycopy(md.digest(), 0, si, 22, 16)
    out.write(si, 0, 38)

    var frameNo = 0L
    var off = 0
    while (off < frames) {
      val n = math.min(bs, frames - off)
      out.write(encodeFrame(samples, channels, bits, off, n, frameNo, opts))
      off += n
      frameNo += 1
    }
    out.toByteArray
  }

  private def encodeFrame(samples: Array[Int], channels: Int, bits: Int,
      off: Int, n: Int, frameNo: Long, opts: EncodeOptions): Array[Byte] = {
    val bw = new BitWriter
    bw.bits(0x3ffe, 14)
    bw.bits(0, 1) // reserved
    bw.bits(0, 1) // fixed blocking
    bw.bits(7, 4) // block size: explicit u16-1 (uniform incl. last partial block)
    bw.bits(0, 4) // sample rate: from STREAMINFO
    val chCode = opts.stereo match {
      case "independent" => channels - 1
      case "left_side" => 8
      case "right_side" => 9
      case "mid_side" => 10
    }
    bw.bits(chCode, 4)
    val ssCode = bits match {
      case 8 => 1; case 12 => 2; case 16 => 4; case 20 => 5; case 24 => 6
      case _ => 0 // from STREAMINFO
    }
    bw.bits(ssCode, 3)
    bw.bits(0, 1) // reserved
    encodeUtf8Number(bw, frameNo)
    bw.bits(n - 1, 16)
    val headerBytes = bw.toByteArray
    bw.bits(crc8Of(headerBytes, 0, headerBytes.length), 8)

    // de-interleave + decorrelate
    val chans: Array[Array[Int]] = opts.stereo match {
      case "independent" =>
        Array.tabulate(channels) { c => Array.tabulate(n)(i => samples(off * channels + i * channels + c)) }
      case mode =>
        val l = Array.tabulate(n)(i => samples(off * 2 + i * 2))
        val r = Array.tabulate(n)(i => samples(off * 2 + i * 2 + 1))
        val side = Array.tabulate(n)(i => l(i) - r(i))
        mode match {
          case "left_side" => Array(l, side)
          case "right_side" => Array(side, r)
          case "mid_side" => Array(Array.tabulate(n)(i => (l(i) + r(i)) >> 1), side)
        }
    }
    var c = 0
    while (c < chans.length) {
      val sideBit = (chCode, c) match {
        case (8, 1) | (9, 0) | (10, 1) => 1
        case _ => 0
      }
      encodeSubframe(bw, chans(c), bits + sideBit, opts)
      c += 1
    }
    bw.alignToByte()
    val body = bw.toByteArray
    bw.bits(crc16Of(body, 0, body.length), 16)
    bw.toByteArray
  }

  private def encodeSubframe(bw: BitWriter, s0: Array[Int], bps: Int,
      opts: EncodeOptions): Unit = {
    val n = s0.length
    var wasted = 0
    var s = s0
    if (opts.detectWastedBits && n > 0 && s.exists(_ != 0)) {
      var w = 0
      // common trailing zero bits across the subframe (capped: at least one
      // significant bit must remain)
      while (w < bps - 1 && s.forall(v => (v & (1 << w)) == 0) &&
        s.exists(v => (v >> (w + 1)) != 0)) w += 1
      if (w > 0) { wasted = w; s = s.map(_ >> w) }
    }
    val ebps = bps - wasted
    def header(tpe: Int): Unit = {
      bw.bits(0, 1)
      bw.bits(tpe, 6)
      if (wasted == 0) bw.bits(0, 1)
      else {
        bw.bits(1, 1)
        var k = wasted - 1
        while (k > 0) { bw.bits(0, 1); k -= 1 }
        bw.bits(1, 1)
      }
    }
    val constant = n > 0 && s.forall(_ == s(0))
    opts.subframe match {
      case "verbatim" =>
        header(1)
        var i = 0
        while (i < n) { bw.signedBits(s(i), ebps); i += 1 }
      case _ if constant && opts.subframe == "auto" =>
        header(0); bw.signedBits(s(0), ebps)
      case "lpc" if n > 8 =>
        val (order, prec, shift, coef) = lpcAnalyze(s)
        header(32 + order - 1)
        var i = 0
        while (i < order) { bw.signedBits(s(i), ebps); i += 1 }
        bw.bits(prec - 1, 4)
        bw.signedBits(shift, 5)
        i = 0
        while (i < order) { bw.signedBits(coef(i), prec); i += 1 }
        val res = new Array[Int](n - order)
        i = order
        while (i < n) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coef(j).toLong * s(i - 1 - j); j += 1 }
          res(i - order) = s(i) - (acc >> shift).toInt
          i += 1
        }
        encodeResidual(bw, res, n, order, opts.partitionOrder)
      case sf =>
        // fixed predictor: forced order, or the min-|residual| order 0-4
        val forced = if (sf.startsWith("fixed")) sf.stripPrefix("fixed").toInt else -1
        val maxOrder = math.min(4, n - 1).max(0)
        var best = 0
        var bestCost = Long.MaxValue
        val resByOrder = Array.tabulate(maxOrder + 1)(o => fixedResidual(s, o))
        if (forced >= 0) best = forced
        else {
          var o = 0
          while (o <= maxOrder) {
            var cost = 0L
            resByOrder(o).foreach(r => cost += math.abs(r.toLong))
            if (cost < bestCost) { bestCost = cost; best = o }
            o += 1
          }
        }
        require(best <= maxOrder, s"FLAC encode: fixed order $best needs > $maxOrder warmup")
        header(8 + best)
        var i = 0
        while (i < best) { bw.signedBits(s(i), ebps); i += 1 }
        encodeResidual(bw, resByOrder(best), n, best, opts.partitionOrder)
    }
  }

  private def fixedResidual(s: Array[Int], order: Int): Array[Int] = {
    val n = s.length
    val r = new Array[Int](n - order)
    var i = order
    while (i < n) {
      r(i - order) = order match {
        case 0 => s(i)
        case 1 => s(i) - s(i - 1)
        case 2 => s(i) - 2 * s(i - 1) + s(i - 2)
        case 3 => s(i) - 3 * s(i - 1) + 3 * s(i - 2) - s(i - 3)
        case _ => s(i) - 4 * s(i - 1) + 6 * s(i - 2) - 4 * s(i - 3) + s(i - 4)
      }
      i += 1
    }
    r
  }

  /** Real LPC analysis: autocorrelation → Levinson-Durbin → quantized
    * coefficients (order fixed at 4, precision 12 — plenty for fixtures;
    * the DECODER handles any order/precision).
    */
  private def lpcAnalyze(s: Array[Int]): (Int, Int, Int, Array[Int]) = {
    val order = 4
    val n = s.length
    val ac = new Array[Double](order + 1)
    var lag = 0
    while (lag <= order) {
      var sum = 0.0
      var i = lag
      while (i < n) { sum += s(i).toDouble * s(i - lag); i += 1 }
      ac(lag) = sum
      lag += 1
    }
    val lpc = new Array[Double](order)
    var err = ac(0)
    if (err <= 0) return (order, 12, 10, new Array[Int](order)) // silence: zero predictor
    var i = 0
    while (i < order) {
      var acc = ac(i + 1)
      var j = 0
      while (j < i) { acc -= lpc(j) * ac(i - j); j += 1 }
      val k = acc / err
      lpc(i) = k
      j = 0
      while (j < i / 2) {
        val t = lpc(j)
        lpc(j) = t - k * lpc(i - 1 - j)
        lpc(i - 1 - j) -= k * t
        j += 1
      }
      if (i % 2 == 1) lpc(i / 2) -= k * lpc(i / 2)
      err *= 1 - k * k
      i += 1
    }
    val prec = 12
    val shift = 10
    val coef = lpc.map { c =>
      val q = math.round(c * (1 << shift)).toInt
      math.max(-(1 << (prec - 1)), math.min((1 << (prec - 1)) - 1, q))
    }
    (order, prec, shift, coef)
  }

  private def encodeResidual(bw: BitWriter, res: Array[Int], n: Int,
      order: Int, partOrder0: Int): Unit = {
    // clamp to the largest order that divides THIS block and keeps every
    // partition bigger than the predictor order — the last partial block
    // of a stream rarely divides the requested 2^order evenly
    var partOrder = partOrder0
    while (partOrder > 0 &&
      (n % (1 << partOrder) != 0 || n / (1 << partOrder) <= order)) partOrder -= 1
    bw.bits(0, 2) // 4-bit rice params
    bw.bits(partOrder, 4)
    val parts = 1 << partOrder
    var idx = 0
    var p = 0
    while (p < parts) {
      val count = (n >> partOrder) - (if (p == 0) order else 0)
      // param ~ log2(mean |residual|) — the standard estimator
      var sum = 0L
      var i = 0
      while (i < count) { sum += math.abs(res(idx + i).toLong); i += 1 }
      val mean = if (count == 0) 0 else sum / math.max(1, count)
      var param = 0
      while ((1L << param) < mean + 1 && param < 14) param += 1
      // escape to raw if any zigzag value would need an absurd quotient
      var maxZig = 0L
      i = 0
      while (i < count) {
        val v = res(idx + i)
        val z = (v.toLong << 1) ^ (v >> 31)
        if (z > maxZig) maxZig = z
        i += 1
      }
      if (count > 0 && (maxZig >>> param) > 1000) {
        bw.bits(15, 4) // escape
        var raw = 1
        while (raw < 31 && (maxZig >> 1) >= (1L << (raw - 1))) raw += 1
        bw.bits(raw, 5)
        i = 0
        while (i < count) { bw.signedBits(res(idx + i), raw); i += 1 }
      } else {
        bw.bits(param, 4)
        i = 0
        while (i < count) {
          val v = res(idx + i)
          val z = ((v.toLong << 1) ^ (v >> 31))
          val q = (z >>> param).toInt
          var k = 0
          while (k < q) { bw.bits(0, 1); k += 1 }
          bw.bits(1, 1)
          if (param > 0) bw.bits((z & ((1L << param) - 1)).toInt, param)
          i += 1
        }
      }
      idx += count
      p += 1
    }
  }

  private def encodeUtf8Number(bw: BitWriter, v: Long): Unit = {
    if (v < 0x80) bw.bits(v.toInt, 8)
    else if (v < 0x800) {
      bw.bits(0xc0 | (v >> 6).toInt, 8); bw.bits(0x80 | (v & 0x3f).toInt, 8)
    } else if (v < 0x10000) {
      bw.bits(0xe0 | (v >> 12).toInt, 8)
      bw.bits(0x80 | ((v >> 6) & 0x3f).toInt, 8)
      bw.bits(0x80 | (v & 0x3f).toInt, 8)
    } else {
      // fixtures never exceed 16-bit frame numbers, but stay correct anyway
      var bytes = 4
      while (v >= (1L << (6 * (bytes - 1) + (7 - bytes))) && bytes < 7) bytes += 1
      if (bytes == 7) bw.bits(0xfe, 8)
      else bw.bits((0xff << (8 - bytes)) & 0xff | (v >> (6 * (bytes - 1))).toInt, 8)
      var k = bytes - 2
      while (k >= 0) { bw.bits(0x80 | ((v >> (6 * k)) & 0x3f).toInt, 8); k -= 1 }
    }
  }

  // ---- bit I/O + CRCs (MSB-first, per spec) ----

  private[multimodal] final class BitReader(val buf: Array[Byte], start: Int) {
    private var pos = start // byte position
    private var bit = 0 // bits consumed of buf(pos), from MSB

    def bytePos: Int = pos
    def bitAligned: Boolean = bit == 0
    def bitsLeft: Long = (buf.length.toLong - pos) * 8 - bit

    def bits(n: Int): Int = {
      var v = 0
      var need = n
      while (need > 0) {
        require(pos < buf.length, "FLAC: bitstream exhausted")
        val avail = 8 - bit
        val take = math.min(avail, need)
        val chunk = ((buf(pos) & 0xff) >> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | chunk
        bit += take
        if (bit == 8) { bit = 0; pos += 1 }
        need -= take
      }
      v
    }

    def signedBits(n: Int): Int = {
      val v = bits(n)
      (v << (32 - n)) >> (32 - n) // sign-extend
    }

    def alignToByte(): Unit = if (bit != 0) { bit = 0; pos += 1 }
  }

  private[multimodal] final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0

    def bits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1)
        nbits += 1
        if (nbits == 8) { out.write(cur); cur = 0; nbits = 0 }
        i -= 1
      }
    }

    def signedBits(v: Int, n: Int): Unit = bits(v & ((1 << n) - 1), n)

    def alignToByte(): Unit = while (nbits != 0) bits(0, 1)

    def toByteArray: Array[Byte] = {
      require(nbits == 0, "FLAC encode: unaligned flush")
      out.toByteArray
    }
  }

  private def crc8Of(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  private def crc16Of(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
        else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def be24(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 16) | ((b(off + 1) & 0xff) << 8) | (b(off + 2) & 0xff)
}
