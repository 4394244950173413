package graft.multimodal

import java.awt.Transparency
import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer, DataBufferByte,
  IndexColorModel, Raster}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Decoded-media record produced by [[Multimodal.decode]] (or its stub). */
final case class DecodedMedia(
    id: Long, format: String, nBytes: Long,
    width: Int, height: Int, channels: Int, checksum: Long)

/** Per-record image features over real pixels ([[Multimodal.features]]):
  * per-channel mean/std plus an 8-bin luminance histogram. `decoded=false`
  * rows carry deterministic stub features (no pixel or sample decode for
  * that payload).
  */
final case class MediaFeatures(
    id: Long, format: String, decoded: Boolean,
    width: Int, height: Int, channels: Int,
    chanMean: Array[Double], chanStd: Array[Double], lumaHist: Array[Double])

/** Box-average-resized image re-encoded as PNG ([[Multimodal.resize]]);
  * undecodable payloads pass through unchanged with `decoded=false` —
  * carrying the payload's true header geometry where one parses (JPEG SOF,
  * WAV), 0×0×0 otherwise.
  */
final case class ResizedMedia(
    id: Long, decoded: Boolean, width: Int, height: Int, channels: Int,
    payload: Array[Byte])

/** One sampled video frame ([[Multimodal.frameSamples]]): container-exact
  * byte range + presentation time from the MP4 sample tables. `payload`
  * holds the frame's bytes (in production: the ranged-GET result).
  */
final case class FrameSample(
    id: Long, frameIdx: Int, ptsMs: Long, offset: Long, payload: Array[Byte])

/** Multimodal-column plumbing (SURVEY.md §2.8 north-star "multimodal
  * columns"): media as opaque `binary` columns with typed metadata.
  *
  * [[decode]] REALLY decodes what the JDK or a short parser here can:
  * BMP (BI_RGB, 24/32-bit), PNG, JPEG and GIF through `javax.imageio`
  * ([[imagePixels]]), binary PPM (P6) in place, and PCM/G.711 WAV and FLAC
  * samples — yielding true dimensions/channels and a checksum over the
  * decoded samples (row order, padding, filters, interlacing and container
  * chunks excluded). JPEGs the pixel path refuses (arithmetic, 12-bit,
  * CMYK, cut short) get a real HEADER parse: true geometry from SOF,
  * checksum over the entropy-coded scan; MP3 and MP4 get container parses.
  * Payloads no sniff claims fall back to the clearly-marked deterministic
  * STUB ([[decodeStub]]), as does any payload whose sniff passes but whose
  * parse fails — one corrupt record degrades, never kills the job.
  * Everything around the codec is the real 100-TB-shaped plumbing: binary
  * column + metadata struct schema, partition-parallel `mapPartitions`
  * batch iteration (the Scala analog of `mapInPandas` batches), and a typed
  * `Dataset[DecodedMedia]` output that downstream relational operators
  * consume normally.
  */
object Multimodal {

  /** Attach an opaque binary payload + typed metadata struct. In production
    * the payload would come from an object store; here it is the UTF-8 bytes
    * of the text column (real bytes, fake media).
    */
  def attachBinary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      col(textCol).cast("binary").as("payload"),
      struct(
        lit("fake/raw").as("format"),
        length(col(textCol).cast("binary")).cast("long").as("n_bytes")).as("meta"))

  /** Decoder dispatch: images through [[decodeImage]], then WAV, FLAC, MP4
    * and MP3, and the deterministic stub for everything else. Dispatch is on
    * the payload's structure, not the metadata format string — corrupt or
    * mislabeled metadata must not route bytes to the wrong parser.
    */
  def decode(spark: SparkSession, media: DataFrame): Dataset[DecodedMedia] = {
    import spark.implicits._
    media.select(col("id"), col("payload"), col("meta.format").as("format"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, bytes, fmt) =>
          // A payload that passes a sniff but then fails its parser (lying
          // header, unsupported sub-format like RLE BMP, truncated pixel
          // data) degrades to the stub record instead of failing the
          // executor task: one corrupt record must never kill a 100-TB
          // decode job.
          try imageFormat(bytes) match {
            case Some(f) => decodeImage(id, f, bytes)
            case None =>
              if (isWav(bytes)) decodeWav(id, bytes)
              else if (Flac.isFlac(bytes)) decodeFlac(id, bytes)
              else if (Mp4.isMp4(bytes)) decodeMp4(id, bytes)
              else mp3GeometryOpt(bytes) match {
                case Some(g) => decodeMp3(id, bytes, g)
                case None => stubRecord(id, bytes, fmt)
              }
          } catch {
            case NonFatal(_) => stubRecord(id, bytes, fmt)
          }
        }
      }
  }

  /** Magic alone is not enough — payloads may be arbitrary bytes (text that
    * happens to start with "BM"), so the sniff also demands structural
    * consistency: the header's declared file size must equal the actual
    * length and the DIB header size must be a known value. A false positive
    * would then require text to embed its own little-endian byte count at
    * offset 2 — not something that happens by accident.
    */
  private def isBmp(b: Array[Byte]): Boolean =
    b.length >= 54 && b(0) == 'B' && b(1) == 'M' &&
      le32(b, 2) == b.length &&
      Set(40, 52, 56, 108, 124).contains(le32(b, 14))

  private def isPpm(b: Array[Byte]): Boolean =
    b.length >= 3 && b(0) == 'P' && b(1) == '6' &&
      (b(2) == '\n' || b(2) == ' ' || b(2) == '\t' || b(2) == '\r') &&
      ppmConsistent(b)

  /** A P6 header is only believed if its declared width×height×3 payload
    * exactly fits the remaining bytes.
    */
  private def ppmConsistent(b: Array[Byte]): Boolean =
    try {
      val (w, h, _, off) = ppmHeader(b)
      w > 0 && h > 0 && b.length == off + w * h * 3
    } catch { case _: Exception => false }

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  /** FNV-1a over a byte range — the pixel checksum primitive. */
  private def fnv(b: Array[Byte], from: Int, until: Int, seed: Long): Long = {
    var cs = seed
    var i = from
    while (i < until) { cs = (cs ^ (b(i) & 0xffL)) * 1099511628211L; i += 1 }
    cs
  }

  private val FnvSeed = 1469598103934665603L

  /** Binary PPM (`P6`) header: ASCII whitespace-separated width, height,
    * maxval (with `#` comments), one whitespace, then width×height×3 raw
    * bytes. Returns (width, height, maxval, pixelOffset).
    */
  private def ppmHeader(b: Array[Byte]): (Int, Int, Int, Int) = {
    var i = 2 // past "P6"
    def skipWs(): Unit = {
      var more = true
      while (more && i < b.length) {
        val c = b(i).toChar
        if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else more = false
      }
    }
    def int(): Int = {
      skipWs()
      var v = 0
      while (i < b.length && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
      v
    }
    val width = int()
    val height = int()
    val maxval = int()
    require(maxval > 0 && maxval < 256, s"PPM: only 8-bit maxval supported, got $maxval")
    i += 1 // the single whitespace after maxval
    (width, height, maxval, i)
  }

  /** STUB decoder — stands in for a compressed-codec call the container
    * cannot make. Derives deterministic pseudo-dimensions from the bytes so
    * the full pipeline (schema, batching, typed output) is exercised and
    * testable without codec libraries.
    */
  def decodeStub(spark: SparkSession, media: DataFrame): Dataset[DecodedMedia] = {
    import spark.implicits._
    media.select(col("id"), col("payload"), col("meta.format").as("format"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(it => it.map { case (id, bytes, fmt) => stubRecord(id, bytes, fmt) })
  }

  private def stubRecord(id: Long, bytes: Array[Byte], fmt: String): DecodedMedia = {
    val cs = fnv(bytes, 0, bytes.length, FnvSeed)
    val w = 64 + (math.abs(cs) % 577).toInt
    val h = 64 + (math.abs(cs / 769) % 433).toInt
    DecodedMedia(id, fmt, bytes.length.toLong, w, h, 3, cs)
  }

  private val PngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** PNG sniff: 8-byte signature followed immediately by a 13-byte IHDR
    * chunk (mandatory first chunk per the spec) — random bytes shaped like
    * the signature alone are not believed.
    */
  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 33 && PngSig.indices.forall(i => b(i) == PngSig(i)) &&
      be32(b, 8) == 13 &&
      b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'

  /** PNG chunk walk: every chunk must fit the payload and the list must
    * reach IEND (ImageIO decodes an IEND-less PNG without complaint).
    */
  private def pngReachesIend(b: Array[Byte]): Boolean = {
    var i = 8
    while (i + 12 <= b.length) {
      val len = be32(b, i)
      if (len < 0 || i + 12L + len > b.length) return false
      if (b(i + 4) == 'I' && b(i + 5) == 'E' && b(i + 6) == 'N' && b(i + 7) == 'D') return true
      i += 12 + len
    }
    false
  }

  /** GIF sniff: version tag and positive screen geometry. (Text bytes that
    * happen to start with "GIF8" would also need "7a"/"9a" and a sane
    * little-endian screen descriptor to get past this; the reader degrades
    * anything that still lies.)
    */
  private def isGif(b: Array[Byte]): Boolean =
    b.length >= 13 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a' &&
      le16(b, 6) > 0 && le16(b, 8) > 0

  /** WAV sniff: RIFF container whose declared size matches the actual byte
    * count (a text blob starting "RIFF" would have to embed its own length
    * to pass) and whose form type is WAVE.
    */
  private def isWav(b: Array[Byte]): Boolean =
    b.length >= 44 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      le32(b, 4) == b.length - 8 &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** Parsed WAV layout: fmt fields + data-chunk position. `fmtCode` 1 = PCM
    * (bits 8/16/24/32), 6 = G.711 A-law, 7 = G.711 µ-law; anything else is
    * a compressed codec this container can't decode (geometry still parses
    * — see [[wavGeometry]]).
    */
  private final case class WavLayout(
      fmtCode: Int, channels: Int, bits: Int, blockAlign: Int,
      dataOff: Int, dataLen: Int)

  private def wavLayout(b: Array[Byte]): WavLayout = {
    var i = 12
    var fmtCode = -1
    var channels = -1
    var bits = -1
    var blockAlign = -1
    var dataOff = -1
    var dataLen = -1
    while (i + 8 <= b.length && (fmtCode < 0 || dataOff < 0)) {
      val size = le32(b, i + 4)
      require(size >= 0 && i + 8 + size <= b.length, s"WAV: corrupt chunk at $i")
      val isFmt = b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' '
      val isData = b(i) == 'd' && b(i + 1) == 'a' && b(i + 2) == 't' && b(i + 3) == 'a'
      if (isFmt) {
        require(size >= 16, "WAV: fmt chunk too short")
        fmtCode = le16(b, i + 8)
        channels = le16(b, i + 10)
        blockAlign = le16(b, i + 20)
        bits = le16(b, i + 22)
        require(channels > 0, s"WAV: bad channel count $channels")
      }
      if (isData) { dataOff = i + 8; dataLen = size }
      i += 8 + size + (size & 1) // RIFF chunks are word-aligned
    }
    require(fmtCode >= 0 && dataOff >= 0, "WAV: missing fmt or data chunk")
    WavLayout(fmtCode, channels, bits, blockAlign, dataOff, dataLen)
  }

  /** G.711 µ-law/A-law byte → 16-bit linear sample, the standard CCITT
    * expansion formulas (public ITU-T G.711 tables; same curves the JDK's
    * sound codecs implement, which the tests use as referee).
    */
  private val UlawTable: Array[Short] = Array.tabulate(256) { u0 =>
    val u = ~u0 & 0xff
    var t = ((u & 0x0f) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    (if ((u & 0x80) != 0) 0x84 - t else t - 0x84).toShort
  }
  private val AlawTable: Array[Short] = Array.tabulate(256) { a0 =>
    val a = a0 ^ 0x55
    var t = (a & 0x0f) << 4
    val seg = (a & 0x70) >> 4
    if (seg == 0) t += 8
    else if (seg == 1) t += 0x108
    else { t += 0x108; t <<= seg - 1 }
    (if ((a & 0x80) != 0) t else -t).toShort
  }

  /** WAV audio decode — PCM (format 1, 8/16/24/32-bit) and G.711 µ-law /
    * A-law (formats 7/6; telephony audio, expanded through the standard
    * tables to 16-bit linear). The record maps audio onto the image-shaped
    * schema as width = frames per channel, height = 1, channels = channel
    * count. The checksum covers the SAMPLES: raw `data` payload bytes for
    * PCM (re-containering the same samples — extra LIST/INFO chunks,
    * different chunk order — hashes identically), and the EXPANDED 16-bit
    * stream for G.711 (consistent with the image codecs hashing
    * reconstructed pixels, not compressed bits). Compressed codecs
    * (MP3-in-WAV etc.) degrade to [[decodeWavHeader]] — true geometry from
    * the fmt chunk, payload-bytes checksum — never to a failure.
    */
  private def decodeWav(id: Long, b: Array[Byte]): DecodedMedia =
    try {
      val l = wavLayout(b)
      l.fmtCode match {
        case 1 =>
          require(Set(8, 16, 24, 32).contains(l.bits), s"WAV: unsupported bit depth ${l.bits}")
          val bytesPerSample = l.bits / 8
          val frames = l.dataLen / (l.channels * bytesPerSample)
          DecodedMedia(id, "audio/wav", b.length.toLong, frames, 1, l.channels,
            fnv(b, l.dataOff, l.dataOff + l.dataLen, FnvSeed))
        case 6 | 7 =>
          require(l.bits == 8, s"WAV: G.711 must be 8-bit, got ${l.bits}")
          val table = if (l.fmtCode == 7) UlawTable else AlawTable
          val frames = l.dataLen / l.channels
          // hash the expanded 16-bit little-endian stream without
          // materializing it
          var cs = FnvSeed
          var i = l.dataOff
          while (i < l.dataOff + l.dataLen) {
            val s = table(b(i) & 0xff)
            cs = (cs ^ (s & 0xff)) * 0x100000001b3L
            cs = (cs ^ ((s >> 8) & 0xff)) * 0x100000001b3L
            i += 1
          }
          DecodedMedia(id, "audio/wav", b.length.toLong, frames, 1, l.channels, cs)
        case _ => decodeWavHeader(id, b)
      }
    } catch { case NonFatal(_) => decodeWavHeader(id, b) }

  /** WAV header fallback for compressed codecs: TRUE geometry from the fmt
    * chunk (frames estimated via blockAlign — exact for any constant-block
    * codec), checksum over the compressed `data` payload (container
    * metadata excluded, like the JPEG header parse hashes scan bytes).
    */
  private def decodeWavHeader(id: Long, b: Array[Byte]): DecodedMedia = {
    val l = wavLayout(b)
    val frames = if (l.blockAlign > 0) l.dataLen / l.blockAlign else 0
    DecodedMedia(id, "audio/wav", b.length.toLong, frames, 1, l.channels,
      fnv(b, l.dataOff, l.dataOff + l.dataLen, FnvSeed))
  }

  /** Canonical 44-byte-header WAV encoder — fixture counterpart of
    * [[decodeWav]]. `pcm` is the raw interleaved sample bytes (for G.711
    * format codes 6/7, the compressed 8-bit log-PCM bytes; for any other
    * non-PCM `formatCode`, opaque codec bytes — used to exercise the
    * header-fallback path).
    */
  def encodeWav(channels: Int, bitsPerSample: Int, sampleRate: Int,
      pcm: Array[Byte], formatCode: Int = 1): Array[Byte] = {
    require(formatCode != 1 || Set(8, 16, 24, 32).contains(bitsPerSample),
      "PCM bits must be 8/16/24/32")
    val out = new Array[Byte](44 + pcm.length)
    def putLe32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte; out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def putLe16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def putAscii(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach { case (c, j) => out(off + j) = c }
    val blockAlign = math.max(1, channels * bitsPerSample / 8)
    putAscii(0, "RIFF"); putLe32(4, 36 + pcm.length); putAscii(8, "WAVE")
    putAscii(12, "fmt "); putLe32(16, 16)
    putLe16(20, formatCode)
    putLe16(22, channels); putLe32(24, sampleRate)
    putLe32(28, sampleRate * blockAlign); putLe16(32, blockAlign)
    putLe16(34, bitsPerSample)
    putAscii(36, "data"); putLe32(40, pcm.length)
    System.arraycopy(pcm, 0, out, 44, pcm.length)
    out
  }

  /** FLAC: REAL pure-JVM sample decode ([[Flac.decode]] — full subset:
    * fixed/LPC prediction, Rice partitions, all stereo decorrelations,
    * CRC-8/16 + MD5 verified). The record maps onto the audio shape like
    * WAV: width = frames per channel, height = 1. The checksum covers the
    * DECODED samples as little-endian bytes at native depth — byte-
    * identical to the `data` chunk of a PCM WAV carrying the same audio,
    * so one recording hashes to the SAME value through either container
    * (cross-codec exact dedup; holds for the signed depths 16/24 — WAV
    * 8-bit is unsigned by format). Streams outside the envelope (unknown
    * total, bad CRC, >64 MB decoded) degrade to the STREAMINFO header
    * record — true geometry, frame-bytes checksum — never to a failure.
    */
  private def decodeFlac(id: Long, b: Array[Byte]): DecodedMedia =
    try {
      val d = Flac.decode(b)
      val pcm = Flac.samplesToLeBytes(d.samples, d.bitsPerSample)
      DecodedMedia(id, "audio/flac", b.length.toLong, d.samples.length / d.channels,
        1, d.channels, fnv(pcm, 0, pcm.length, FnvSeed))
    } catch { case NonFatal(_) => decodeFlacHeader(id, b) }

  /** FLAC header fallback: TRUE geometry from STREAMINFO, checksum over
    * the audio-frame region (metadata blocks — tags, padding — excluded,
    * so re-tagging the same stream hashes identically, matching the MP3
    * and JPEG-header conventions).
    */
  private def decodeFlacHeader(id: Long, b: Array[Byte]): DecodedMedia = {
    val si = Flac.streamInfo(b)
    val off = try Flac.audioStart(b) catch { case NonFatal(_) => 42 }
    DecodedMedia(id, "audio/flac", b.length.toLong,
      math.min(si.totalSamples, Int.MaxValue.toLong).toInt, 1, si.channels,
      fnv(b, math.min(off, b.length), b.length, FnvSeed))
  }

  /** Normalized interleaved samples for the decodable audio envelope —
    * PCM 8 (unsigned) / 16 / 24 / 32 (signed LE), G.711 µ-law/A-law, and
    * FLAC — in [-1, 1]. Returns (framesPerChannel, channels, samples);
    * None outside the envelope. The features() audio branch runs on these.
    */
  private def audioSamplesOf(b: Array[Byte]): Option[(Int, Int, Array[Double])] =
    try {
      if (Flac.isFlac(b)) {
        val d = Flac.decode(b)
        if (d.samples.length == 0) None
        else {
          val scale = (1L << (d.bitsPerSample - 1)).toDouble
          val out = new Array[Double](d.samples.length)
          var i = 0
          while (i < d.samples.length) { out(i) = d.samples(i) / scale; i += 1 }
          Some((d.samples.length / d.channels, d.channels, out))
        }
      } else if (!isWav(b)) None
      else {
        val l = wavLayout(b)
        // an empty data chunk has no samples to featurize — stub path
        // (mean/std over zero frames would be NaN with decoded=true)
        if (l.dataLen <= 0) return None
        l.fmtCode match {
          case 1 if Set(8, 16, 24, 32).contains(l.bits) =>
            val bps = l.bits / 8
            val n = l.dataLen / bps
            val out = new Array[Double](n)
            var i = 0
            while (i < n) {
              val o = l.dataOff + i * bps
              out(i) = l.bits match {
                case 8 => ((b(o) & 0xff) - 128) / 128.0 // 8-bit WAV is unsigned
                case 16 => le16(b, o).toShort / 32768.0
                case 24 =>
                  val v = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | (b(o + 2) << 16)
                  v / 8388608.0
                case _ => le32(b, o) / 2147483648.0
              }
              i += 1
            }
            Some((n / l.channels, l.channels, out))
          case 6 | 7 if l.bits == 8 =>
            val table = if (l.fmtCode == 7) UlawTable else AlawTable
            val out = new Array[Double](l.dataLen)
            var i = 0
            while (i < l.dataLen) {
              out(i) = table(b(l.dataOff + i) & 0xff) / 32768.0
              i += 1
            }
            Some((l.dataLen / l.channels, l.channels, out))
          case _ => None
        }
      }
    } catch { case NonFatal(_) => None }

  // ---- MPEG audio (MP3): frame-header chain parse. A psychoacoustic
  // decode (hybrid filterbank + Huffman) is a poor pure-JVM trade, but the
  // frame-header chain yields TRUE geometry — channels, total samples per
  // channel — exactly like the JPEG header parse yields true dimensions for
  // non-Huffman codecs. Sniffing demands >= 2 CHAINED valid Layer-III
  // frames (each header's length lands exactly on the next sync), so
  // arbitrary bytes containing a stray 0xFFEx word don't sniff as audio.

  private val Mp3BitrateV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3BitrateV2L3 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val Mp3SampleRateV1 = Array(44100, 48000, 32000)

  /** One MPEG-1/2/2.5 Layer III frame header at `off` →
    * (frameBytes, samplesPerFrameAndChannel, channels); None if invalid.
    */
  private def mp3Frame(b: Array[Byte], off: Int): Option[(Int, Int, Int)] = {
    if (off + 4 > b.length) return None
    val h1 = b(off + 1) & 0xff
    val h2 = b(off + 2) & 0xff
    if ((b(off) & 0xff) != 0xff || (h1 & 0xe0) != 0xe0) return None
    val version = (h1 >> 3) & 3 // 0 = MPEG2.5, 2 = MPEG2, 3 = MPEG1
    val layer = (h1 >> 1) & 3 // 1 = Layer III
    if (version == 1 || layer != 1) return None
    val brIdx = (h2 >> 4) & 15
    val srIdx = (h2 >> 2) & 3
    if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None // free-format out
    val v1 = version == 3
    val bitrate = (if (v1) Mp3BitrateV1L3 else Mp3BitrateV2L3)(brIdx) * 1000
    val sampleRate = Mp3SampleRateV1(srIdx) / (if (v1) 1 else if (version == 2) 2 else 4)
    val samplesPerFrame = if (v1) 1152 else 576
    val frameLen = samplesPerFrame / 8 * bitrate / sampleRate + ((h2 >> 1) & 1)
    val channels = if (((b(off + 3) & 0xff) >> 6) == 3) 1 else 2
    if (frameLen < 24) None else Some((frameLen, samplesPerFrame, channels))
  }

  /** (audioStart, totalSamplesPerChannel, channels): skips an ID3v2 tag,
    * finds the first sync that chains (bounded 64 KB search — real encoders
    * put junk/padding before frame 1), then walks header-to-header.
    * Trailing bytes that aren't a frame (ID3v1 tag, truncated last frame)
    * end the walk; >= 2 chained frames required.
    */
  private def mp3Geometry(b: Array[Byte]): (Int, Int, Int) = {
    var start = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val sz = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      // ID3v2.4 footer flag (header flag byte, bit 4): the tag carries a
      // 10-byte trailing footer NOT counted in the size field — skipping
      // only 10+sz would leave the footer inside the checksum region and
      // break re-tagging invariance between footer/no-footer tags
      val footer = if ((b(5) & 0x10) != 0) 10 else 0
      start = 10 + sz + footer
    }
    def chains(j: Int): Boolean = mp3Frame(b, j) match {
      case Some((len, _, _)) => j + len + 4 <= b.length && mp3Frame(b, j + len).isDefined
      case None => false
    }
    var first = start
    val bound = math.min(b.length - 4, start + 65536)
    while (first < bound && !chains(first)) first += 1
    require(first < bound, "MP3: no chained frame sync found")
    var frames = 0
    var samples = 0L
    var ch = 1
    var i = first
    var more = true
    while (more) {
      mp3Frame(b, i) match {
        case Some((len, spf, c)) if i + len <= b.length =>
          frames += 1; samples += spf; ch = c; i += len
        case _ => more = false
      }
    }
    require(frames >= 2, "MP3: fewer than 2 chained frames")
    (first, math.min(samples, Int.MaxValue.toLong).toInt, ch)
  }

  /** Sniff and parse in ONE walk — the 64 KB sync search + frame chain is
    * the expensive part, so callers take the parsed result instead of
    * re-walking (a separate isMp3-then-parse pair would double the
    * per-record CPU on the media path).
    */
  private def mp3GeometryOpt(b: Array[Byte]): Option[(Int, Int, Int)] =
    try Some(mp3Geometry(b)) catch { case _: Exception => None }

  /** MP3 record: width = total samples per channel (from the frame walk),
    * height = 1, channels from the frame header; checksum over the frame
    * chain region (the leading ID3v2 tag — container metadata — excluded,
    * so re-tagging the same audio hashes identically).
    */
  private def decodeMp3(id: Long, b: Array[Byte],
      g: (Int, Int, Int)): DecodedMedia = {
    val (audioOff, samples, ch) = g
    DecodedMedia(id, "audio/mpeg", b.length.toLong, samples, 1, ch,
      fnv(b, audioOff, b.length, FnvSeed))
  }

  /** ISO-BMFF (MP4) container parse ([[Mp4]]): width/height from the video
    * track's tkhd, width slot reused as frame count is NOT done — geometry
    * mirrors the image convention (w × h), channels = track count. The
    * checksum folds the SAMPLE byte ranges from the stbl tables, not the
    * raw file — a re-mux (same frames, different chunking/box order)
    * hashes identically, the cross-container dedup property the WAV/FLAC
    * pair also has.
    */
  private def decodeMp4(id: Long, b: Array[Byte]): DecodedMedia = {
    val info = Mp4.parse(b)
    val v = info.videoTrack.getOrElse(info.tracks.headOption.getOrElse(
      throw new IllegalArgumentException("mp4 with no tracks")))
    var cs = FnvSeed
    info.tracks.foreach(_.sampleRanges.foreach { case (off, len) =>
      cs = fnv(b, off.toInt, (off + len).toInt, cs)
    })
    DecodedMedia(id, "video/mp4", b.length.toLong, v.width, v.height,
      info.tracks.size, cs)
  }

  /** JPEG sniff: SOI marker followed by a structurally valid marker chain
    * (every segment's big-endian length must land on another `FF`-led
    * marker inside the buffer) reaching a start-of-frame before the scan.
    * Random bytes shaped like `FF D8 FF` fail the chain walk immediately.
    */
  private def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff &&
      (try { jpegSof(b); true } catch { case _: Exception => false })

  /** Walk the marker chain to the first start-of-frame (SOF0–SOF15 except
    * DHT/JPG/DAC) and return (height, width, components, sosPayloadOffset).
    * The offset is the first entropy-coded byte after the SOS header, -1 if
    * no scan is present.
    */
  private def jpegSof(b: Array[Byte]): (Int, Int, Int, Int) = {
    var i = 2 // past SOI
    var sof: (Int, Int, Int) = null
    while (i + 4 <= b.length) {
      require((b(i) & 0xff) == 0xff, s"JPEG: marker expected at $i")
      var m = b(i + 1) & 0xff
      while (m == 0xff && i + 2 < b.length) { i += 1; m = b(i + 1) & 0xff } // fill bytes
      require(i + 4 <= b.length, "JPEG: truncated segment header")
      require(m != 0xd8 && !(m >= 0xd0 && m <= 0xd7) && m != 0x01 && m != 0x00,
        s"JPEG: standalone marker $m before scan")
      if (m == 0xd9) throw new IllegalArgumentException("JPEG: EOI before SOF/SOS")
      val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
      require(len >= 2 && i + 2 + len <= b.length, s"JPEG: segment overruns buffer at $i")
      val isSofMarker = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
      if (isSofMarker) {
        require(len >= 8, "JPEG: SOF too short")
        val h = ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff)
        val w = ((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff)
        val nc = b(i + 9) & 0xff
        require(h > 0 && w > 0 && nc > 0, "JPEG: bad SOF dimensions")
        sof = (h, w, nc)
      }
      if (m == 0xda) { // SOS — entropy-coded data follows its header
        require(sof != null, "JPEG: SOS before SOF")
        return (sof._1, sof._2, sof._3, i + 2 + len)
      }
      i += 2 + len
    }
    require(sof != null, "JPEG: no SOF marker found")
    (sof._1, sof._2, sof._3, -1)
  }

  /** JPEG header parse — the fallback when [[imagePixels]] refuses the
    * payload (arithmetic coding, 12-bit, CMYK, a scan cut short): TRUE
    * width/height/channels from SOF, checksum over the entropy-coded scan
    * bytes (container metadata — APPn/EXIF/comment segments — excluded, so
    * re-tagging the same image hashes identically; unlike the pixel decodes
    * the hash is over compressed bits, not pixels).
    */
  private def decodeJpegHeader(id: Long, b: Array[Byte]): DecodedMedia = {
    val (h, w, nc, scanOff) = jpegSof(b)
    // scan runs to EOI (FF D9) if present, else to end-of-buffer
    val end =
      if (b.length >= 2 && (b(b.length - 2) & 0xff) == 0xff &&
        (b(b.length - 1) & 0xff) == 0xd9) b.length - 2
      else b.length
    val cs = if (scanOff >= 0) fnv(b, scanOff, math.max(scanOff, end), FnvSeed) else FnvSeed
    DecodedMedia(id, "image/jpeg", b.length.toLong, w, h, nc, cs)
  }

  /** Minimal structurally-valid JPEG writer — fixture counterpart of
    * [[decodeJpegHeader]] (SOI, JFIF APP0, SOF0 with the given geometry,
    * SOS, `scan` as the entropy payload, EOI). The scan bytes are opaque to
    * the header parser, so any `FF`-free payload works.
    */
  def encodeJpegShell(width: Int, height: Int, channels: Int,
      scan: Array[Byte]): Array[Byte] = {
    require(scan.forall(s => (s & 0xff) != 0xff), "fixture scan must be FF-free")
    val out = new ByteArrayOutputStream()
    def marker(m: Int, payload: Array[Byte]): Unit = {
      out.write(0xff); out.write(m)
      val len = payload.length + 2
      out.write((len >> 8) & 0xff); out.write(len & 0xff)
      out.write(payload, 0, payload.length)
    }
    out.write(0xff); out.write(0xd8) // SOI
    marker(0xe0, "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    val sof = new Array[Byte](6 + 3 * channels)
    sof(0) = 8 // precision
    sof(1) = ((height >> 8) & 0xff).toByte; sof(2) = (height & 0xff).toByte
    sof(3) = ((width >> 8) & 0xff).toByte; sof(4) = (width & 0xff).toByte
    sof(5) = channels.toByte
    for (c <- 0 until channels) {
      sof(6 + 3 * c) = (c + 1).toByte; sof(7 + 3 * c) = 0x11; sof(8 + 3 * c) = 0
    }
    marker(0xc0, sof)
    val sos = new Array[Byte](1 + 2 * channels + 3)
    sos(0) = channels.toByte
    for (c <- 0 until channels) { sos(1 + 2 * c) = (c + 1).toByte; sos(2 + 2 * c) = 0 }
    sos(1 + 2 * channels + 1) = 63
    marker(0xda, sos)
    out.write(scan, 0, scan.length)
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Binary PPM (P6) encoder — fixture counterpart of the PPM slice in
    * [[imagePixels]].
    */
  def encodePpm(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3, "rgb must be width*height*3 bytes")
    val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
    header ++ rgb
  }

  /** Frame sampling over a decoded stream: every `stride`-th record per
    * partition-ordered id (deterministic, no shuffle beyond the sort).
    */
  def sampleEvery(decoded: Dataset[DecodedMedia], stride: Int): Dataset[DecodedMedia] =
    decoded.filter(d => d.id % stride == 0)

  /** Decoded-bytes ceiling for one record's inline decode (image rasters,
    * FLAC's sample buffer). A crafted header can declare gigabytes in a few
    * hundred bytes, and the allocation would OOM the task — an
    * `OutOfMemoryError` is not a `NonFatal` the per-record degrade could
    * catch — so every decoder refuses above this BEFORE it allocates.
    */
  private[multimodal] val MaxDecodedBytes: Long = 64L << 20

  /** The image format a payload sniffs as by structure: the ImageIO format
    * name, or "ppm". None for everything else.
    */
  private def imageFormat(b: Array[Byte]): Option[String] =
    if (isBmp(b)) Some("bmp") else if (isPpm(b)) Some("ppm")
    else if (isPng(b)) Some("png") else if (isJpeg(b)) Some("jpeg")
    else if (isGif(b)) Some("gif") else None

  /** Image record: checksum over the decoded pixels, so the same image in
    * another container, row order, filter choice, interlacing or palette
    * hashes identically. A JPEG the pixel path refuses degrades to
    * [[decodeJpegHeader]]; any other refusal to the caller's stub.
    */
  private def decodeImage(id: Long, fmt: String, b: Array[Byte]): DecodedMedia =
    try {
      val (w, h, ch, px) = imagePixels(fmt, b)
      DecodedMedia(id, s"image/$fmt", b.length.toLong, w, h, ch, fnv(px, 0, px.length, FnvSeed))
    } catch { case NonFatal(_) if fmt == "jpeg" => decodeJpegHeader(id, b) }

  /** The one pixel decode behind [[decode]], [[features]] and [[resize]]:
    * (width, height, channels, samples), row-major TOP-DOWN, interleaved,
    * 8 bits a sample. PPM is sliced in place (the JDK has no PPM reader);
    * BMP, PNG, JPEG and GIF go through [[readImage]] after the header checks
    * on which ImageIO is more lenient than this contract. Throws on anything
    * undecodable — callers degrade.
    */
  private def imagePixels(fmt: String, b: Array[Byte]): (Int, Int, Int, Array[Byte]) =
    fmt match {
      case "ppm" =>
        val (w, h, _, off) = ppmHeader(b)
        (w, h, 3, java.util.Arrays.copyOfRange(b, off, off + w * h * 3))
      case "bmp" =>
        // the BMP plugin reads 24-bit rows under a header claiming RLE8;
        // only uncompressed 24/32-bit rows that fit the payload pass
        val (w, h, bpp) = (le32(b, 18), math.abs(le32(b, 22)), le16(b, 28))
        val stride = (w.toLong * bpp / 8 + 3) & ~3L
        require(le32(b, 30) == 0 && (bpp == 24 || bpp == 32) && w > 0 && h > 0 &&
          le32(b, 10) >= 54 && le32(b, 10) + h * stride <= b.length,
          "BMP: only in-bounds BI_RGB 24/32-bit rows are decoded")
        readImage(fmt, b, grayPalette = false)
      case "png" =>
        require(pngReachesIend(b), "PNG: chunk list does not reach IEND")
        // color type 0: a sub-byte gray image arrives as a gray-ramp palette
        readImage(fmt, b, grayPalette = b(25) == 0)
      case _ => readImage(fmt, b, grayPalette = false)
    }

  /** One image through the JDK's ImageIO reader for `fmt`, on an in-memory
    * stream (the `ImageIO.read` shortcuts may cache through a temp file per
    * record). The declared size is checked against [[MaxDecodedBytes]]
    * before `read` allocates, and any read warning rejects the decode: the
    * JPEG reader reports a scan cut short only as a warning and fills the
    * missing rows. The raster becomes the pixel contract: a palette expands
    * to RGB, RGBA when it carries alpha (PNG tRNS, GIF transparency), except
    * that `grayPalette` keeps one channel, already scaled to 0–255 by the
    * reader; gray+alpha becomes RGBA; 16-bit samples keep their high byte.
    */
  private def readImage(fmt: String, b: Array[Byte],
      grayPalette: Boolean): (Int, Int, Int, Array[Byte]) = {
    val reader = ImageIO.getImageReadersByFormatName(fmt).next()
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b))
    try {
      reader.setInput(in, true, true)
      var warning: Option[String] = None
      // the first warning rejects the decode, so stop the read there rather
      // than decode the rest and throw the pixels away
      reader.addIIOReadWarningListener { (r, w) => warning = Some(w); r.abort() }
      val (dw, dh) = (reader.getWidth(0), reader.getHeight(0))
      // what `read` allocates (the reader's raster) plus the interleaved
      // copy (at most 4 bytes a pixel); samples are copied one row at a time
      val sm = reader.getImageTypes(0).next().getSampleModel
      val rasterBytes = sm.getNumDataElements * DataBuffer.getDataTypeSize(sm.getDataType) / 8
      require(dw.toLong * dh * (rasterBytes + 4) <= MaxDecodedBytes,
        s"$fmt: declared ${dw}x$dh too large to decode inline")
      val img = reader.read(0)
      warning.foreach(msg => throw new IllegalArgumentException(s"$fmt: $msg"))
      val raster = img.getRaster
      val (w, h) = (raster.getWidth, raster.getHeight)
      val row = new Array[Int](w)
      img.getColorModel match {
        case cm: IndexColorModel =>
          val ch = if (grayPalette) 1 else if (cm.hasAlpha) 4 else 3
          val out = new Array[Byte](w * h * ch)
          for (y <- 0 until h) {
            raster.getSamples(0, y, w, 1, 0, row)
            var x = 0
            while (x < w) {
              val i = row(x)
              val o = (y * w + x) * ch
              out(o) = cm.getRed(i).toByte
              if (ch > 1) { out(o + 1) = cm.getGreen(i).toByte; out(o + 2) = cm.getBlue(i).toByte }
              if (ch == 4) out(o + 3) = cm.getAlpha(i).toByte
              x += 1
            }
          }
          (w, h, ch, out)
        case cm =>
          val bands = raster.getNumBands
          val grayAlpha = cm.getNumColorComponents == 1 && cm.hasAlpha
          val ch = if (grayAlpha) 4 else bands
          val out = new Array[Byte](w * h * ch)
          for (band <- 0 until bands) {
            val shift = raster.getSampleModel.getSampleSize(band) - 8
            // gray+alpha: the gray sample fills r, g and b
            val dst = if (!grayAlpha) Seq(band) else if (band == 0) Seq(0, 1, 2) else Seq(3)
            for (y <- 0 until h) {
              raster.getSamples(0, y, w, 1, band, row)
              dst.foreach { c =>
                var x = 0
                while (x < w) { out((y * w + x) * ch + c) = (row(x) >>> shift).toByte; x += 1 }
              }
            }
          }
          (w, h, ch, out)
      }
    } finally { reader.dispose(); in.close() }
  }

  /** Pixels for features/resize: [[imagePixels]] of an image payload, None
    * for anything else or any payload the pixel path refuses.
    */
  private def pixelsOf(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] =
    imageFormat(b).flatMap { f =>
      try Some(imagePixels(f, b)) catch { case NonFatal(_) => None }
    }

  /** PNG of top-down interleaved 8-bit samples (1 = gray, 3 = RGB,
    * 4 = RGBA) through the JDK's PNG writer, on an in-memory stream.
    */
  private def writePng(w: Int, h: Int, ch: Int, px: Array[Byte]): Array[Byte] = {
    val cm = new ComponentColorModel(
      ColorSpace.getInstance(if (ch == 1) ColorSpace.CS_GRAY else ColorSpace.CS_sRGB),
      ch == 4, false, if (ch == 4) Transparency.TRANSLUCENT else Transparency.OPAQUE,
      DataBuffer.TYPE_BYTE)
    val raster = Raster.createInterleavedRaster(new DataBufferByte(px, px.length),
      w, h, w * ch, ch, Array.range(0, ch), null)
    val bytes = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("png").next()
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      writer.setOutput(out)
      writer.write(new BufferedImage(cm, raster, false, null))
    } finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }

  /** True geometry from a container/header parse where no pixel or sample
    * decode succeeds (JPEG SOF frame header; WAV fmt/data chunks; FLAC
    * STREAMINFO; MP3 frame chain). This keeps [[features]] and [[resize]] in
    * agreement with [[decode]] on the same payload's dimensions even where
    * the PIXELS stay stubbed — two APIs must never report different geometry
    * for one record.
    */
  private def headerGeometry(b: Array[Byte]): Option[(Int, Int, Int)] =
    try {
      // geometry only — no checksum pass over the payload (features/resize
      // call this per record on the hot path; hashing megabytes of audio to
      // then discard the hash would double the byte traffic), and one
      // marker-chain walk, not the isJpeg-sniff-then-parse double walk
      if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
          (b(2) & 0xff) == 0xff) {
        val (h, w, nc, _) = jpegSof(b)
        Some((w, h, nc))
      } else if (isWav(b)) Some(wavGeometry(b))
      else if (Flac.isFlac(b)) {
        val si = Flac.streamInfo(b)
        Some((math.min(si.totalSamples, Int.MaxValue.toLong).toInt, 1, si.channels))
      } else mp3GeometryOpt(b).map { case (_, samples, ch) => (samples, 1, ch) }
    } catch { case NonFatal(_) => None }

  /** WAV frame/channel geometry from the fmt and data chunks — the header
    * walk of [[decodeWav]] without its checksum loop over the payload. Works
    * for ANY format code: compressed codecs estimate frames via blockAlign
    * (exact for constant-block codecs), so even undecodable audio carries
    * true geometry through features/resize, matching [[decodeWavHeader]].
    */
  private def wavGeometry(b: Array[Byte]): (Int, Int, Int) = {
    val l = wavLayout(b)
    val frames = l.fmtCode match {
      case 1 if Set(8, 16, 24, 32).contains(l.bits) =>
        l.dataLen / (l.channels * (l.bits / 8))
      case 6 | 7 if l.bits == 8 => l.dataLen / l.channels
      case _ => if (l.blockAlign > 0) l.dataLen / l.blockAlign else 0
    }
    (frames, 1, l.channels)
  }

  /** Frame sampling over the video column: every `everyNth` sample of the
    * MP4 video track, located by the container's stbl math (exact byte
    * ranges, [[Mp4.Track.sampleRanges]]) and stamped with its presentation
    * time. One flatMap — each row expands to its sampled frames with no
    * shuffle; at 100 TB the (offset, size) pairs become object-store
    * ranged GETs instead of slices, and nothing else changes. Non-video
    * payloads and parse failures contribute zero rows (degrade-per-record,
    * never a dead task).
    */
  def frameSamples(spark: SparkSession, media: DataFrame,
      everyNth: Int = 1): Dataset[FrameSample] = {
    require(everyNth >= 1, s"everyNth must be >= 1: $everyNth")
    import spark.implicits._
    media.select(col("id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          try {
            if (!Mp4.isMp4(bytes)) Iterator.empty
            else Mp4.parse(bytes).videoTrack.iterator.flatMap { t =>
              val ranges = t.sampleRanges
              val times = t.sampleTimes
              val scale = math.max(1L, t.timescale)
              Iterator.range(0, ranges.length, everyNth).map { i =>
                val (off, len) = ranges(i)
                FrameSample(id, i, times(i) * 1000L / scale, off,
                  java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt))
              }
            }
          } catch { case NonFatal(_) => Iterator.empty }
        }
      }
  }

  /** Per-record media features over REAL samples — the feature-extraction
    * stage of a multimodal pipeline, feeding the embedding/similarity
    * operators. Images: per-channel mean/std (0-255 units) and an 8-bin
    * luminance histogram over decoded pixels. Audio (PCM + G.711 WAV):
    * per-channel sample mean/std in normalized [-1,1] units and an 8-bin
    * histogram of |amplitude| (bin k = [k/8, (k+1)/8)) — the same record
    * shape, so downstream operators are modality-agnostic.
    * Undecodable payloads yield `decoded=false` with deterministic
    * stub-derived features (pipeline shape holds; no record is dropped);
    * their width/height/channels still come from the real header parse
    * where one exists (JPEG SOF, WAV fmt incl. compressed codecs, MP3
    * frame header) so the record's geometry matches what [[decode]]
    * reports for the same payload.
    * Same 100-TB shape as [[decode]]: partition-parallel mapPartitions,
    * media bytes never shuffle, only the small feature vectors do.
    */
  def features(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("id"), col("payload"), col("meta.format").as("format"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, bytes, fmt) =>
          audioSamplesOf(bytes) match {
            case Some((frames, ch, smp)) =>
              val mean = new Array[Double](ch)
              val m2 = new Array[Double](ch)
              val hist = new Array[Double](8)
              var i = 0
              while (i < smp.length) {
                val c = i % ch
                mean(c) += smp(i)
                m2(c) += smp(i) * smp(i)
                hist(math.min(7, (math.abs(smp(i)) * 8).toInt)) += 1.0
                i += 1
              }
              val std = new Array[Double](ch)
              var c = 0
              while (c < ch) {
                mean(c) /= frames
                std(c) = math.sqrt(math.max(0.0, m2(c) / frames - mean(c) * mean(c)))
                c += 1
              }
              var k = 0
              while (k < 8) { hist(k) /= math.max(1, smp.length); k += 1 }
              MediaFeatures(id, fmt, decoded = true, frames, 1, ch, mean, std, hist)
            case None => imageOrStubFeatures(id, bytes, fmt)
          }
        }
      }
  }

  private def imageOrStubFeatures(id: Long, bytes: Array[Byte],
      fmt: String): MediaFeatures = {
    pixelsOf(bytes) match {
      case Some((w, h, ch, px)) =>
        val n = w * h
        val mean = new Array[Double](ch)
        val m2 = new Array[Double](ch)
        var i = 0
        while (i < px.length) {
          val c = i % ch
          mean(c) += px(i) & 0xff
          m2(c) += (px(i) & 0xff).toDouble * (px(i) & 0xff)
          i += 1
        }
        val std = new Array[Double](ch)
        var c = 0
        while (c < ch) {
          mean(c) /= n
          std(c) = math.sqrt(math.max(0.0, m2(c) / n - mean(c) * mean(c)))
          c += 1
        }
        val hist = new Array[Double](8)
        var p = 0
        while (p < n) {
          val base = p * ch
          val luma =
            if (ch == 1) (px(base) & 0xff).toDouble
            else 0.299 * (px(base) & 0xff) + 0.587 * (px(base + 1) & 0xff) +
              0.114 * (px(base + 2) & 0xff)
          hist(math.min(7, (luma / 32).toInt)) += 1.0
          p += 1
        }
        var k = 0
        while (k < 8) { hist(k) /= n; k += 1 }
        MediaFeatures(id, fmt, decoded = true, w, h, ch, mean, std, hist)
      case None =>
        // deterministic stub features from the byte checksum — the
        // downstream pipeline shape is exercised even where no pixel or
        // sample decode succeeds (a refused JPEG, compressed audio); geometry is the
        // REAL header parse when available so decode()/features()
        // agree on the same payload's dimensions
        val s = stubRecord(id, bytes, fmt)
        val (w, h, ch) = headerGeometry(bytes).getOrElse((s.width, s.height, 3))
        // one independent value per (array, index): splitmix64 of
        // seed + index. Byte-offsetting into a single 64-bit seed
        // aliased channel 8 onto channel 0 within the same array
        // (a 64-bit seed holds only 8 bytes), so high-channel audio
        // got period-8 repeating stats; mixing the index through a
        // full-avalanche permutation makes every entry independent
        val seed = s.checksum
        val seed2 = seed * 0x9E3779B97F4A7C15L + 0xD1B54A32D192ED03L
        val mk = (sd: Long) => Array.tabulate(ch) { i =>
          var z = sd + (i + 1) * 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          ((z ^ (z >>> 31)) & 0xffL).toDouble
        }
        MediaFeatures(id, fmt, decoded = false, w, h, ch,
          mk(seed), mk(seed2), Array.fill(8)(0.125))
    }
  }

  /** Box-average resize to `tw`×`th` over REAL pixels, re-encoded as PNG
    * (a binary→binary transform, the shape a 100-TB media pipeline runs).
    * Each target pixel averages its source box — downsampling never
    * aliases away thin features the way nearest-neighbor does.
    * Undecodable payloads pass through unchanged with `decoded=false`.
    */
  def resize(spark: SparkSession, media: DataFrame, tw: Int, th: Int): Dataset[ResizedMedia] = {
    require(tw > 0 && th > 0, "target dimensions must be positive")
    import spark.implicits._
    media.select(col("id"), col("payload"), col("meta.format").as("format"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, bytes, fmt) =>
          pixelsOf(bytes) match {
            case Some((w, h, ch, px)) =>
              val out = new Array[Byte](tw * th * ch)
              var ty = 0
              while (ty < th) {
                val y0 = ty * h / th
                val y1 = math.max(y0 + 1, (ty + 1) * h / th)
                var tx = 0
                while (tx < tw) {
                  val x0 = tx * w / tw
                  val x1 = math.max(x0 + 1, (tx + 1) * w / tw)
                  val cnt = (y1 - y0) * (x1 - x0)
                  var c = 0
                  while (c < ch) {
                    var acc = 0L
                    var y = y0
                    while (y < y1) {
                      var x = x0
                      while (x < x1) { acc += px((y * w + x) * ch + c) & 0xff; x += 1 }
                      y += 1
                    }
                    // round-half-up box average
                    out((ty * tw + tx) * ch + c) = ((acc + cnt / 2) / cnt).toByte
                    c += 1
                  }
                  tx += 1
                }
                ty += 1
              }
              ResizedMedia(id, decoded = true, tw, th, ch, writePng(tw, th, ch, out))
            case None =>
              // passthrough — but still report the payload's TRUE geometry
              // when a header parse exists (JPEG SOF, WAV), matching decode()
              val (w, h, ch) = headerGeometry(bytes).getOrElse((0, 0, 0))
              ResizedMedia(id, decoded = false, w, h, ch, bytes)
          }
        }
      }
  }

  /** Byte-statistics projection used by the declared multimodal query —
    * pure relational ops over the binary column (no decode).
    */
  def byteStats(media: DataFrame): DataFrame =
    media.select(
      col("id"),
      col("meta.n_bytes").as("n_bytes"),
      (col("meta.n_bytes") % 256).as("fake_channel"))
}
