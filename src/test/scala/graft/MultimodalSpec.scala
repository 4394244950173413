package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal binary-column plumbing (SURVEY.md §2.8): schema shape, the
  * deterministic decode stub, the image/audio decodes, frame sampling.
  */
class MultimodalSpec extends SparkSpec {

  private def media() = Multimodal.attachBinary(
    Tables.load(spark, sf, "documents").limit(100), "doc_id", "text")

  test("attachBinary produces binary payload + typed metadata struct") {
    val m = media()
    assert(m.schema("payload").dataType === BinaryType)
    val meta = m.schema("meta").dataType.asInstanceOf[StructType]
    assert(meta("format").dataType === StringType)
    assert(meta("n_bytes").dataType === LongType)
    // n_bytes metadata must equal the actual payload length
    val bad = m.filter(length(col("payload")).cast("long") =!= col("meta.n_bytes")).count()
    assert(bad === 0)
  }

  test("decodeStub is deterministic, partition-parallel, and typed") {
    val d1 = Multimodal.decodeStub(spark, media()).collect().sortBy(_.id)
    val d2 = Multimodal.decodeStub(spark, media().repartition(7)).collect().sortBy(_.id)
    assert(d1.length === 100)
    assert(d1.toSeq === d2.toSeq) // same results regardless of partitioning
    assert(d1.forall(m => m.width >= 64 && m.height >= 64 && m.channels === 3))
    assert(d1.map(_.checksum).distinct.length > 90) // content-derived, not constant
  }

  test("decode really parses fixture-generated BMP and PPM payloads") {
    import spark.implicits._
    // 5x3 gradient image, encoded both ways — identical pixels
    val (w, h) = (5, 3)
    val rgb = Array.tabulate(w * h * 3)(i => (i * 7 % 251).toByte)
    val bmp = ImageFixtures.bmp(w, h, rgb)
    val ppm = Multimodal.encodePpm(w, h, rgb)
    val media = Seq(
      (1L, bmp, ("image/bmp", bmp.length.toLong)),
      (2L, ppm, ("image/ppm", ppm.length.toLong)),
      (3L, "plain text payload, no magic".getBytes("UTF-8"), ("fake/raw", 28L)))
      .toDF("id", "payload", "meta")
      .select(col("id"), col("payload"),
        struct(col("meta._1").as("format"), col("meta._2").as("n_bytes")).as("meta"))
    val out = Multimodal.decode(spark, media).collect().sortBy(_.id)
    assert(out.length === 3)
    val Array(db, dp, ds) = out
    // real dimensions, not FNV-derived fakes
    assert((db.width, db.height, db.channels) === ((w, h, 3)))
    assert((dp.width, dp.height, dp.channels) === ((w, h, 3)))
    assert(db.format === "image/bmp" && dp.format === "image/ppm")
    // checksum covers pixel bytes only — same pixels through two container
    // formats (different headers, BMP row padding + BGR order) agree on
    // dimensions; PPM checksum is FNV over the raw rgb bytes
    assert(dp.checksum === {
      var cs = 1469598103934665603L
      rgb.foreach(b => cs = (cs ^ (b & 0xffL)) * 1099511628211L)
      cs
    })
    // non-image payload falls back to the stub (format preserved)
    assert(ds.format === "fake/raw" && ds.width >= 64 && ds.height >= 64)
  }

  test("decode sniffs by structure — text starting with magic is not an image") {
    import spark.implicits._
    val fakeBm = "BM this text merely starts with the BMP magic bytes and is long enough to clear the 54-byte header minimum easily".getBytes("UTF-8")
    val fakeP6 = "P6 is a nice format, this text even has whitespace after the magic".getBytes("UTF-8")
    val media = Seq((1L, fakeBm, ("text", fakeBm.length.toLong)), (2L, fakeP6, ("text", fakeP6.length.toLong)))
      .toDF("id", "payload", "meta")
      .select(col("id"), col("payload"),
        struct(col("meta._1").as("format"), col("meta._2").as("n_bytes")).as("meta"))
    val out = Multimodal.decode(spark, media).collect()
    assert(out.forall(_.format === "text")) // both routed to the stub, no parse attempt
  }

  private def fnvOf(bytes: Array[Byte]): Long = {
    var cs = 1469598103934665603L
    bytes.foreach(b => cs = (cs ^ (b & 0xffL)) * 1099511628211L)
    cs
  }

  private def asMedia(rows: Seq[(Long, Array[Byte], String)]) = {
    import spark.implicits._
    rows.map { case (id, b, f) => (id, b, (f, b.length.toLong)) }
      .toDF("id", "payload", "meta")
      .select(col("id"), col("payload"),
        struct(col("meta._1").as("format"), col("meta._2").as("n_bytes")).as("meta"))
  }

  test("decode really inflates and un-filters PNG — every filter type, RGB and RGBA") {
    // A 7x5 gradient whose rows exercise real prediction deltas. The same
    // pixels encoded under each per-row filter (None/Sub/Up/Average/Paeth)
    // and both color types must reconstruct to the identical checksum.
    val (w, h) = (7, 5)
    val rgb = Array.tabulate(w * h * 3)(i => (i * 11 % 253).toByte)
    val rgba = Array.tabulate(w * h * 4)(i => (i * 13 % 251).toByte)
    val gray = Array.tabulate(w * h)(i => (i * 17 % 249).toByte)
    val rows = (0 to 4).map(f =>
      (f.toLong, ImageFixtures.pngFiltered(w, h, rgb, 3, f), "image/png")) ++ Seq(
      (10L, ImageFixtures.pngFiltered(w, h, rgba, 4, 4), "image/png"),
      (11L, ImageFixtures.pngFiltered(w, h, gray, 1, 2), "image/png"))
    val out = Multimodal.decode(spark, asMedia(rows)).collect().sortBy(_.id)
    assert(out.length === 7)
    assert(out.forall(_.format === "image/png"), "all must route to the real PNG parser")
    out.foreach(d => assert((d.width, d.height) === ((w, h))))
    // filters are an encoding detail: all five RGB variants hash identically,
    // to exactly the FNV of the raw pixel bytes
    val rgbOut = out.filter(_.id <= 4)
    assert(rgbOut.forall(_.channels === 3))
    assert(rgbOut.map(_.checksum).distinct.toSeq === Seq(fnvOf(rgb)))
    assert(out.find(_.id == 10L).get.channels === 4)
    assert(out.find(_.id == 10L).get.checksum === fnvOf(rgba))
    assert(out.find(_.id == 11L).get.channels === 1)
    assert(out.find(_.id == 11L).get.checksum === fnvOf(gray))
  }

  test("decode really parses PCM WAV — frames, channels, payload-only checksum") {
    // 2-channel 16-bit PCM, 100 frames: width = frames per channel, height
    // = 1. The checksum covers the data-chunk bytes only.
    val pcm = Array.tabulate(100 * 2 * 2)(i => (i * 31 % 255).toByte)
    val wav = Multimodal.encodeWav(2, 16, 8000, pcm)
    // an undecodable format code (3 = IEEE float) degrades to the HEADER
    // parse: true geometry from the fmt chunk, payload-bytes checksum
    val nonPcm = wav.clone(); nonPcm(20) = 3
    // text shaped like RIFF must not be believed (declared size mismatch)
    val fakeRiff = ("RIFF.WAVEfmt this text is long enough to clear the " +
      "44-byte header minimum easily, padded padded").getBytes("US-ASCII")
    val out = Multimodal.decode(spark, asMedia(Seq(
      (1L, wav, "audio/wav"), (2L, nonPcm, "audio/wav"), (3L, fakeRiff, "text"))))
      .collect().sortBy(_.id)
    val Array(ok, headerOnly, text) = out
    assert(ok.format === "audio/wav")
    assert((ok.width, ok.height, ok.channels) === ((100, 1, 2)))
    assert(ok.checksum === fnvOf(pcm))
    assert((headerOnly.width, headerOnly.height, headerOnly.channels) === ((100, 1, 2)),
      "compressed WAV keeps true header geometry")
    assert(text.format === "text")
  }

  test("G.711 mu-law/A-law WAV: expansion matches the JDK sound codec sample-for-sample") {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    import java.io.ByteArrayInputStream
    // all 256 code points, mono — every row of both expansion tables
    val codes = Array.tabulate(256)(_.toByte)
    def jdkExpand(wav: Array[Byte]): Array[Short] = {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(wav))
      val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        in.getFormat.getSampleRate, 16, in.getFormat.getChannels,
        2 * in.getFormat.getChannels, in.getFormat.getSampleRate, false)
      val pcm = AudioSystem.getAudioInputStream(pcmFmt, in)
      val bytes = pcm.readAllBytes()
      Array.tabulate(bytes.length / 2)(i =>
        (((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)).toShort)
    }
    def fnvOfShorts(s: Array[Short]): Long = {
      val b = new Array[Byte](s.length * 2)
      s.zipWithIndex.foreach { case (v, i) =>
        b(2 * i) = (v & 0xff).toByte; b(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      fnvOf(b)
    }
    for ((fmtCode, name) <- Seq(7 -> "mu-law", 6 -> "A-law")) {
      val wav = Multimodal.encodeWav(1, 8, 8000, codes, formatCode = fmtCode)
      val jdk = jdkExpand(wav)
      assert(jdk.length === 256, s"$name referee length")
      val d = Multimodal.decode(spark, asMedia(Seq((1L, wav, "audio/wav")))).collect().head
      assert((d.width, d.height, d.channels) === ((256, 1, 1)), s"$name geometry")
      assert(d.checksum === fnvOfShorts(jdk),
        s"$name expansion must match the JDK codec sample-for-sample")
    }
  }

  test("audio features: real per-channel stats over PCM and G.711 samples") {
    // stereo 16-bit: L = constant +8192 (0.25), R = alternating +/-16384
    // (mean 0, std 0.5) — exact, hand-computable stats
    val frames = 64
    val pcm = new Array[Byte](frames * 2 * 2)
    for (f <- 0 until frames) {
      val l = 8192; val r = if (f % 2 == 0) 16384 else -16384
      pcm(f * 4) = (l & 0xff).toByte; pcm(f * 4 + 1) = ((l >> 8) & 0xff).toByte
      pcm(f * 4 + 2) = (r & 0xff).toByte; pcm(f * 4 + 3) = ((r >> 8) & 0xff).toByte
    }
    val f = Multimodal.features(spark,
      asMedia(Seq((1L, Multimodal.encodeWav(2, 16, 8000, pcm), "audio/wav"))))
      .collect().head
    assert(f.decoded, "PCM WAV features must run on real samples now")
    assert((f.width, f.height, f.channels) === ((frames, 1, 2)))
    assert(math.abs(f.chanMean(0) - 0.25) < 1e-6 && math.abs(f.chanMean(1)) < 1e-6,
      f.chanMean.toSeq.toString)
    assert(math.abs(f.chanStd(0)) < 1e-6 && math.abs(f.chanStd(1) - 0.5) < 1e-6,
      f.chanStd.toSeq.toString)
    // amplitude histogram: |0.25| → bin 2, |0.5| → bin 4, half the samples each
    assert(math.abs(f.lumaHist(2) - 0.5) < 1e-6 && math.abs(f.lumaHist(4) - 0.5) < 1e-6,
      f.lumaHist.toSeq.toString)
    // G.711 goes through the same real-feature path
    val g = Multimodal.features(spark, asMedia(Seq(
      (2L, Multimodal.encodeWav(1, 8, 8000,
        Array.tabulate(128)(_.toByte), formatCode = 7), "audio/wav"))))
      .collect().head
    assert(g.decoded && g.channels === 1 && g.chanStd(0) > 0.0)
    // an empty data chunk has nothing to featurize: stub path, never
    // decoded=true with NaN stats
    val empty = Multimodal.features(spark, asMedia(Seq(
      (3L, Multimodal.encodeWav(2, 16, 8000, Array.emptyByteArray), "audio/wav"))))
      .collect().head
    assert(!empty.decoded, "zero-frame WAV must not claim decoded features")
    assert(empty.chanMean.forall(v => !v.isNaN) && empty.chanStd.forall(v => !v.isNaN))
  }

  test("MP3: frame-walk geometry, re-tag-invariant checksum, no false sniffs") {
    // synthetic MPEG-1 Layer III frames: 128 kbps, 44100 Hz, stereo →
    // frame length 417+padding; zeroed payloads are structurally valid
    def frame(padding: Int): Array[Byte] = {
      val len = 144 * 128000 / 44100 + padding
      val f = new Array[Byte](len)
      f(0) = 0xff.toByte
      f(1) = 0xfb.toByte // MPEG1, Layer III, no CRC
      f(2) = ((9 << 4) | (0 << 2) | (padding << 1)).toByte // 128kbps, 44.1k
      f(3) = 0x00 // stereo
      f
    }
    val audio = frame(0) ++ frame(1) ++ frame(0)
    val d = Multimodal.decode(spark, asMedia(Seq((1L, audio, "audio/mpeg")))).collect().head
    assert(d.format === "audio/mpeg")
    assert((d.width, d.height, d.channels) === ((3 * 1152, 1, 2)),
      "3 frames x 1152 samples, stereo")
    // an ID3v2 tag in front (re-tagging) must not change the checksum
    val id3 = "ID3".getBytes ++ Array[Byte](4, 0, 0, 0, 0, 0, 100) ++ new Array[Byte](100)
    val tagged = id3 ++ audio
    val dt = Multimodal.decode(spark, asMedia(Seq((2L, tagged, "audio/mpeg")))).collect().head
    assert((dt.width, dt.channels) === ((3 * 1152, 2)))
    assert(dt.checksum === d.checksum, "ID3v2 container metadata excluded from hash")
    // ID3v2.4 with the footer flag (header flag byte bit 4): total tag is
    // 10 (header) + size + 10 (trailing footer, NOT counted in the size
    // field) — the same audio re-tagged with a footer must hash identically
    val id3Footer = "ID3".getBytes ++ Array[Byte](4, 0, 0x10, 0, 0, 0, 100) ++
      new Array[Byte](100) ++
      "3DI".getBytes ++ Array[Byte](4, 0, 0x10, 0, 0, 0, 100)
    val taggedF = id3Footer ++ audio
    val dtf = Multimodal.decode(spark, asMedia(Seq((4L, taggedF, "audio/mpeg")))).collect().head
    assert((dtf.width, dtf.channels) === ((3 * 1152, 2)))
    assert(dtf.checksum === d.checksum,
      "ID3v2.4 footer is container metadata too — checksum must not move")
    // features agree on the geometry through the header parse
    val ft = Multimodal.features(spark, asMedia(Seq((2L, tagged, "audio/mpeg")))).collect().head
    assert(!ft.decoded && (ft.width, ft.channels) === ((3 * 1152, 2)))
    // a single stray sync word in text must NOT sniff as MP3 (needs a chain)
    val noise = ("x" * 100).getBytes ++ Array(0xff.toByte, 0xfb.toByte, 0x90.toByte, 0.toByte) ++
      ("y" * 500).getBytes
    val dn = Multimodal.decode(spark, asMedia(Seq((3L, noise, "text")))).collect().head
    assert(dn.format === "text", "unchained sync must stay a stub")
  }

  test("decode parses JPEG headers — true geometry, scan-only checksum, pixel decode honestly absent") {
    val scan = Array.tabulate(300)(i => (i % 200).toByte) // FF-free entropy payload
    val jpg = Multimodal.encodeJpegShell(640, 480, 3, scan)
    // the same frame re-tagged (an extra APP1/EXIF segment before SOF) must
    // hash identically — container metadata is excluded from the checksum
    val exif = Array[Byte](0xff.toByte, 0xe1.toByte, 0, 8, 'E', 'x', 'i', 'f', 0, 0)
    val tagged = jpg.take(2) ++ exif ++ jpg.drop(2)
    // text shaped like the SOI magic must fail the marker-chain walk
    val fake = (Array(0xff, 0xd8, 0xff).map(_.toByte) ++
      "not actually a jpeg, just bytes".getBytes("US-ASCII"))
    // truncated mid-SOF degrades to the stub
    val cut = jpg.take(12)
    val out = Multimodal.decode(spark, asMedia(Seq(
      (1L, jpg, "image/jpeg"), (2L, tagged, "image/jpeg"),
      (3L, fake, "text"), (4L, cut, "image/jpeg"))))
      .collect().sortBy(_.id)
    val Array(ok, retagged, text, stubbed) = out
    assert((ok.format, ok.width, ok.height, ok.channels) === (("image/jpeg", 640, 480, 3)))
    assert(ok.checksum === fnvOf(scan))
    assert(retagged.checksum === ok.checksum, "re-tagging must not change the scan hash")
    assert((retagged.width, retagged.height) === ((640, 480)))
    assert(text.format === "text")
    assert(stubbed.width >= 64 && stubbed.height >= 64) // stub-shaped
  }

  test("corrupt or unsupported payloads degrade to the stub, never fail the task") {
    // Each payload passes (or nearly passes) a sniff, then fails its parser.
    val (w, h) = (5, 3)
    val rgb = Array.tabulate(w * h * 3)(i => (i * 7 % 251).toByte)
    val bmp = ImageFixtures.bmp(w, h, rgb)
    // lying BMP header: declare RLE8 compression (field at offset 30)
    val rle = bmp.clone(); rle(30) = 1
    // lying BMP header: pixel offset way past the end of the buffer
    val oob = bmp.clone(); oob(10) = 0x7f.toByte; oob(11) = 0x7f.toByte
    // lying BMP header: negative width (would yield a garbage record, not a
    // crash, if the decoder skipped dimension validation)
    val negw = bmp.clone(); negw(18) = 0xfb.toByte; negw(19) = 0xff.toByte
    negw(20) = 0xff.toByte; negw(21) = 0xff.toByte
    // lying BMP header: height far beyond what the payload holds
    val tallh = bmp.clone(); tallh(22) = 0xff.toByte; tallh(23) = 0x7f.toByte
    // truncated PNG: valid signature+IHDR, IDAT cut short
    val png = ImageFixtures.png(w, h, rgb)
    val cut = png.take(png.length - 20)
    // interlaced PNG: flip the IHDR interlace byte (offset 8+4+4+12 = 28)
    val adam7 = png.clone(); adam7(28) = 1
    val out = Multimodal.decode(spark, asMedia(Seq(
      (1L, rle, "image/bmp"), (2L, oob, "image/bmp"),
      (3L, cut, "image/png"), (4L, adam7, "image/png"),
      (5L, negw, "image/bmp"), (6L, tallh, "image/bmp"))))
      .collect().sortBy(_.id)
    assert(out.length === 6, "no record may be dropped or fail the job")
    // all four fell back to the stub: format preserved from metadata,
    // stub-shaped dimensions
    assert(out.forall(d => d.format == "image/bmp" || d.format == "image/png"))
    assert(out.forall(d => d.width >= 64 && d.height >= 64 && d.channels == 3))
    // and an intact payload in the same batch still parses for real
    val okOut = Multimodal.decode(spark, asMedia(Seq((9L, png, "image/png"))))
      .collect().head
    assert((okOut.width, okOut.height, okOut.checksum) === ((w, h, fnvOf(rgb))))
  }

  test("PNG round-trip property: random geometry x channels x filter reconstructs exact pixels") {
    // encoder and decoder are independent implementations of the PNG spec
    // (filter inverse vs reconstruction); agreeing on random content across
    // the full filter x channel grid is strong evidence both are right.
    val rnd = new scala.util.Random(20260812L)
    val cases = for {
      filter <- 0 to 4
      channels <- Seq(1, 3, 4)
    } yield {
      val w = 1 + rnd.nextInt(12)
      val h = 1 + rnd.nextInt(9)
      val px = Array.fill(w * h * channels)(rnd.nextInt(256).toByte)
      (filter.toLong * 10 + channels, w, h, channels, px)
    }
    val payloads = cases.map { case (id, w, h, c, px) =>
      (id, ImageFixtures.pngFiltered(w, h, px, c, (id / 10).toInt), "image/png")
    }
    val out = Multimodal.decode(spark, asMedia(payloads)).collect()
      .map(d => d.id -> d).toMap
    cases.foreach { case (id, w, h, c, px) =>
      val d = out(id)
      assert((d.format, d.width, d.height, d.channels) === (("image/png", w, h, c)),
        s"case $id geometry")
      assert(d.checksum === fnvOf(px), s"case $id pixel reconstruction")
    }
  }

  test("PNG extended layouts: palette/tRNS, sub-byte gray, 16-bit, gray+alpha — vs ImageIO") {
    import java.awt.color.ColorSpace
    import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer}
    def decode(b: Array[Byte]) = {
      val d = Multimodal.decode(spark, asMedia(Seq((1L, b, "image/png")))).collect().head
      assert(d.format === "image/png")
      d
    }
    def png(img: BufferedImage) = ImageFixtures.write(img, "png")()
    // (bit depth, color type) from IHDR: each fixture really is the layout
    def ihdr(b: Array[Byte]) = (b(24) & 0xff, b(25) & 0xff)
    // --- palette 8-bit, no alpha: 4-color 4x2, expanded to RGB
    val pal = Array[Byte](
      255.toByte, 0, 0, /**/ 0, 255.toByte, 0, /**/ 0, 0, 255.toByte, /**/
      10, 20, 30)
    val idx8 = Array[Byte](0, 1, 2, 3, 3, 2, 1, 0)
    val palPng = png(ImageFixtures.indexed(4, 2, idx8, pal))
    assert(ihdr(palPng) === ((8, 3)), "fixture: 8-bit palette")
    val d1 = decode(palPng)
    assert((d1.width, d1.height, d1.channels) === ((4, 2, 3)))
    val expectedRgb = idx8.flatMap(i => pal.slice(i * 3, i * 3 + 3))
    assert(d1.checksum === fnvOf(expectedRgb), "palette expands through PLTE")
    // --- palette 4-bit packed + tRNS alpha → RGBA (a 4-bit palette holds
    // more than 4 entries: the rest are opaque black)
    val trns = Array[Byte](0, 100, 200.toByte, 255.toByte)
    val pal4Png = png(ImageFixtures.indexed(4, 2, Array[Byte](0, 1, 2, 3, 3, 2, 1, 0),
      pal ++ new Array[Byte](3 * 12), bits = 4, alpha = trns ++ Array.fill(12)(255.toByte)))
    assert(ihdr(pal4Png) === ((4, 3)), "fixture: 4-bit palette")
    val d2 = decode(pal4Png)
    assert((d2.width, d2.height, d2.channels) === ((4, 2, 4)))
    val expectedRgba = Array[Byte](0, 1, 2, 3, 3, 2, 1, 0).flatMap(i =>
      pal.slice(i * 3, i * 3 + 3) :+ trns(i))
    assert(d2.checksum === fnvOf(expectedRgba), "4-bit indices unpack, tRNS rides as alpha")
    // --- 1-bit grayscale scales to 0/255
    val bits = "1010101001010101"
    val g1img = new BufferedImage(8, 2, BufferedImage.TYPE_BYTE_BINARY)
    g1img.getRaster.setPixels(0, 0, 8, 2, bits.map(c => if (c == '1') 1 else 0).toArray)
    val g1 = png(g1img)
    assert(ihdr(g1) === ((1, 0)), "fixture: 1-bit gray")
    val d3 = decode(g1)
    assert((d3.width, d3.height, d3.channels) === ((8, 2, 1)))
    val expectedG1 = bits.map(c => if (c == '1') 255.toByte else 0.toByte).toArray
    assert(d3.checksum === fnvOf(expectedG1))
    // --- 16-bit RGB reduces to the high byte
    val px16 = Array.tabulate(2 * 1 * 3 * 2) { i =>
      (if (i % 2 == 0) (i * 17 + 3) & 0xff else 0x7f).toByte // (hi, lo) pairs
    }
    val cm16 = new ComponentColorModel(ColorSpace.getInstance(ColorSpace.CS_sRGB),
      false, false, java.awt.Transparency.OPAQUE, DataBuffer.TYPE_USHORT)
    val img16 = new BufferedImage(cm16, cm16.createCompatibleWritableRaster(2, 1), false, null)
    img16.getRaster.setPixels(0, 0, 2, 1,
      Array.tabulate(6)(i => ((px16(2 * i) & 0xff) << 8) | (px16(2 * i + 1) & 0xff)))
    val rgb16 = png(img16)
    assert(ihdr(rgb16) === ((16, 2)), "fixture: 16-bit RGB")
    val d4 = decode(rgb16)
    assert((d4.width, d4.height, d4.channels) === ((2, 1, 3)))
    val expected16 = Array.tabulate(6)(i => px16(i * 2))
    assert(d4.checksum === fnvOf(expected16), "16-bit samples reduce to high byte")
    // --- gray+alpha expands to RGBA
    val cmGa = new ComponentColorModel(ColorSpace.getInstance(ColorSpace.CS_GRAY),
      true, false, java.awt.Transparency.TRANSLUCENT, DataBuffer.TYPE_BYTE)
    val imgGa = new BufferedImage(cmGa, cmGa.createCompatibleWritableRaster(2, 1), false, null)
    imgGa.getRaster.setPixels(0, 0, 2, 1, Array(100, 200, 50, 0))
    val ga = png(imgGa)
    assert(ihdr(ga) === ((8, 4)), "fixture: gray+alpha")
    val d5 = decode(ga)
    assert((d5.width, d5.height, d5.channels) === ((2, 1, 4)))
    assert(d5.checksum === fnvOf(Array[Byte](
      100, 100, 100, 200.toByte, 50, 50, 50, 0)))
    // --- palette index out of range degrades (stub), never kills the task
    val bad = png(ImageFixtures.indexed(4, 2, Array[Byte](0, 1, 2, 9, 9, 2, 1, 0), pal))
    val db = Multimodal.decode(spark, asMedia(Seq((9L, bad, "image/png")))).collect().head
    assert(db.id === 9L, "record survives a corrupt palette reference")
  }

  test("Adam7 interlaced PNG: pass gather reconstructs the same pixels as sequential") {
    // 13x11 RGB (odd size → every pass partially filled, some pass rows
    // ragged); the interlaced and sequential encodings of the SAME pixels
    // must hash identically — interlacing is transport, not content
    val (w, h) = (13, 11)
    val px = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 251).toByte)
    val img = ImageFixtures.image(w, h, px)
    val seq = ImageFixtures.write(img, "png")()
    val adam = ImageFixtures.pngInterlaced(img)
    assert(adam(28) === 1.toByte && seq(28) === 0.toByte,
      "fixtures must really be interlaced / sequential (IHDR)")
    val out = Multimodal.decode(spark, asMedia(Seq(
      (1L, seq, "image/png"), (2L, adam, "image/png")))).collect()
      .map(d => d.id -> d).toMap
    assert((out(1L).width, out(1L).height, out(1L).channels) === ((w, h, 3)))
    assert(out(1L).checksum === fnvOf(px), "sequential baseline")
    assert(out(2L).checksum === out(1L).checksum,
      "interlaced must reconstruct the identical pixels")
    // interlaced + sub-byte palette (bit-packed ragged pass rows)
    val pal = Array[Byte](255.toByte, 0, 0, 0, 255.toByte, 0, 0, 0, 255.toByte, 9, 9, 9)
    val wp = 9; val hp = 5
    val idx = Array.tabulate(wp * hp)(i => (i % 4).toByte)
    val adamPal = ImageFixtures.pngInterlaced(ImageFixtures.indexed(wp, hp, idx, pal, bits = 2))
    assert((adamPal(24), adamPal(25), adamPal(28)) === ((2.toByte, 3.toByte, 1.toByte)),
      "fixture: interlaced 2-bit palette")
    val dp = Multimodal.decode(spark, asMedia(Seq((3L, adamPal, "image/png"))))
      .collect().head
    assert((dp.width, dp.height, dp.channels) === ((wp, hp, 3)))
    val expected = idx.flatMap(i => pal.slice(i * 3, i * 3 + 3))
    assert(dp.checksum === fnvOf(expected), "interlaced 2-bit palette gathers correctly")
  }

  test("features extracts real per-channel stats and luminance histogram from pixels") {
    // 2x2 image: two pure-red, two pure-blue pixels → mean (127.5, 0, 127.5)
    val px = Array[Byte](
      255.toByte, 0, 0, /**/ 255.toByte, 0, 0,
      0, 0, 255.toByte, /**/ 0, 0, 255.toByte)
    val png = ImageFixtures.png(2, 2, px)
    val bmp = ImageFixtures.bmp(2, 2, px)
    // constant gray image → std 0, hist concentrated in one bin
    val gray = ImageFixtures.png(3, 3, Array.fill(9)(100.toByte), channels = 1)
    val out = Multimodal.features(spark, asMedia(Seq(
      (1L, png, "image/png"), (2L, bmp, "image/bmp"),
      (3L, gray, "image/png"), (4L, "just text".getBytes, "text"))))
      .collect().map(d => d.id -> d).toMap
    Seq(out(1L), out(2L)).foreach { f =>
      assert(f.decoded && f.channels === 3)
      assert(f.chanMean.map(math.round) === Array(128L, 0L, 128L)) // 127.5 each
      assert(f.chanStd(1) === 0.0 && f.chanStd(0) > 100.0)
    }
    // png and bmp routes must agree exactly — same pixels, same features
    assert(out(1L).chanMean === out(2L).chanMean)
    assert(out(1L).lumaHist === out(2L).lumaHist)
    val g = out(3L)
    assert(g.decoded && g.channels === 1 && g.chanMean === Array(100.0) &&
      g.chanStd === Array(0.0))
    assert(g.lumaHist(3) === 1.0 && g.lumaHist.sum === 1.0) // 100/32 = bin 3
    assert(!out(4L).decoded && out(4L).lumaHist.sum === 1.0) // stub shape holds
  }

  test("resize box-averages real pixels and re-encodes PNG; undecodable passes through") {
    // 4x2 checker of (200,0,0) and (0,0,200) halves → 2x1: each target
    // pixel averages a uniform 2x2 box, so values stay exact
    val left = Array[Byte](200.toByte, 0, 0)
    val right = Array[Byte](0, 0, 200.toByte)
    val row = left ++ left ++ right ++ right
    val src = ImageFixtures.png(4, 2, row ++ row)
    val out = Multimodal.resize(spark, asMedia(Seq(
      (1L, src, "image/png"), (2L, "not an image".getBytes, "text"))), 2, 1)
      .collect().map(d => d.id -> d).toMap
    val r = out(1L)
    assert(r.decoded && (r.width, r.height, r.channels) === ((2, 1, 3)))
    // the resized payload is itself a valid PNG that decodes to the averages
    val dec = Multimodal.decode(spark, asMedia(Seq((9L, r.payload, "image/png"))))
      .collect().head
    assert((dec.width, dec.height) === ((2, 1)))
    assert(dec.checksum === fnvOf(left ++ right), "uniform boxes must average exactly")
    val pass = out(2L)
    assert(!pass.decoded && (pass.payload sameElements "not an image".getBytes))
  }

  test("features/resize report decode()'s geometry for header-only formats (JPEG, WAV)") {
    // decode() extracts true JPEG geometry from SOF even though pixels stay
    // stubbed — features() and resize() must report the SAME dimensions for
    // the same payload, not stubRecord's pseudo-geometry
    val scan = Array.tabulate(120)(i => (i % 200).toByte)
    val jpg = Multimodal.encodeJpegShell(320, 240, 3, scan)
    // compressed-codec WAV (format 85): undecodable samples, parseable header
    val pcm = Array.tabulate(50 * 2 * 2)(i => (i * 17 % 255).toByte)
    val wav = Multimodal.encodeWav(2, 16, 8000, pcm, formatCode = 85)
    val media = asMedia(Seq(
      (1L, jpg, "image/jpeg"), (2L, wav, "audio/wav"),
      (3L, "no header here".getBytes, "text")))
    val dec = Multimodal.decode(spark, media).collect().map(d => d.id -> d).toMap
    val feat = Multimodal.features(spark, media).collect().map(d => d.id -> d).toMap
    val rez = Multimodal.resize(spark, media, 8, 8).collect().map(d => d.id -> d).toMap
    Seq(1L, 2L).foreach { id =>
      val d = dec(id)
      assert(!feat(id).decoded && !rez(id).decoded)
      assert((feat(id).width, feat(id).height, feat(id).channels) ===
        ((d.width, d.height, d.channels)), s"features/decode geometry for $id")
      assert((rez(id).width, rez(id).height, rez(id).channels) ===
        ((d.width, d.height, d.channels)), s"resize/decode geometry for $id")
      // stub stats arrays track the channel count they claim
      assert(feat(id).chanMean.length === d.channels)
      assert(feat(id).chanStd.length === d.channels)
    }
    assert((dec(1L).width, dec(1L).height, dec(1L).channels) === ((320, 240, 3)))
    assert((dec(2L).width, dec(2L).height, dec(2L).channels) === ((50, 1, 2)))
    // no header at all → pseudo stub geometry, same in both APIs
    assert(feat(3L).width === dec(3L).width && feat(3L).height === dec(3L).height)
    assert((rez(3L).width, rez(3L).height, rez(3L).channels) === ((0, 0, 0)))
    // >4-channel audio in a COMPRESSED codec (format 85 = MP3-in-WAV — no
    // pure-JVM decode): features degrade to stub stats but carry the TRUE
    // channel count from the fmt chunk; std is not an aliased copy of mean
    // bytes (independent seeds per array)
    val wav6 = Multimodal.encodeWav(6, 16, 8000,
      Array.tabulate(30 * 6 * 2)(i => (i * 13 % 251).toByte), formatCode = 85)
    val f6 = Multimodal.features(spark, asMedia(Seq((7L, wav6, "audio/wav"))))
      .collect().head
    assert(!f6.decoded && f6.channels === 6)
    assert(f6.chanMean.length === 6 && f6.chanStd.length === 6)
    assert(!(f6.chanStd sameElements f6.chanMean), "std must not alias mean bytes")
    // >8 channels: per-index splitmix mixing means entry 8 must NOT alias
    // entry 0 with period 8 (the old byte-offset scheme repeated after 8)
    val wav12 = Multimodal.encodeWav(12, 16, 8000,
      Array.tabulate(30 * 12 * 2)(i => (i * 17 % 251).toByte), formatCode = 85)
    val f12 = Multimodal.features(spark, asMedia(Seq((8L, wav12, "audio/wav"))))
      .collect().head
    assert(!f12.decoded && f12.chanMean.length === 12 && f12.chanStd.length === 12)
    assert(!(0 until 4).forall(i => f12.chanMean(i) == f12.chanMean(i + 8)),
      "stub chanMean must not repeat with period 8 above 8 channels")
    assert(!(0 until 4).forall(i => f12.chanStd(i) == f12.chanStd(i + 8)),
      "stub chanStd must not repeat with period 8 above 8 channels")
  }

  /** The engine's decoded pixels of an image payload: a resize to the
    * payload's own size is the identity box average, and the PNG it writes
    * holds exactly those pixels.
    */
  private def enginePixels(payload: Array[Byte], w: Int, h: Int): Array[Int] = {
    val r = Multimodal.resize(spark, asMedia(Seq((1L, payload, "image"))), w, h)
      .collect().head
    assert(r.decoded, "payload must pixel-decode")
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      .getRaster.getPixels(0, 0, w, h, null: Array[Int])
  }

  test("JPEG round-trip: real baseline decode reconstructs pixels within lossy tolerance") {
    // the JDK's JPEG writer → the engine's pixel path. JPEG is lossy —
    // assertions are tolerance-based, never bit-exact — across gray, 4:4:4
    // and 4:2:0 color, odd geometry (partial MCUs) and restart markers.
    def gradient(w: Int, h: Int, ch: Int): Array[Byte] =
      Array.tabulate(w * h * ch) { i =>
        val p = i / ch; val x = p % w; val y = p / w
        (((x * 255) / math.max(1, w - 1) + (y * 200) / math.max(1, h - 1)) / 2).toByte
      }
    def maxErr(a: Array[Byte], b: Array[Int]): Int =
      a.zip(b).map { case (p, q) => math.abs((p & 0xff) - q) }.max
    val cases = Seq(
      ("gray 16x16", 16, 16, 1, true),
      ("rgb444 32x24", 32, 24, 3, false),
      ("rgb420 32x24", 32, 24, 3, true),
      ("odd 13x9 4:2:0", 13, 9, 3, true))
    cases.foreach { case (label, w, h, ch, sub) =>
      val src = gradient(w, h, ch)
      val jpg = ImageFixtures.jpeg(ImageFixtures.image(w, h, src, ch), subsample = sub)
      val sof = ImageFixtures.markerAt(jpg, 0xc0)
      val sampling = (0 until ch).map(c => jpg(sof + 11 + 3 * c) & 0xff)
      assert(sampling.forall(_ == 0x11) === (ch == 1 || !sub), s"$label fixture chroma sampling")
      val d = Multimodal.decode(spark, asMedia(Seq((1L, jpg, "image/jpeg")))).collect().head
      assert((d.format, d.width, d.height, d.channels) === (("image/jpeg", w, h, ch)),
        s"$label geometry")
      val pix = enginePixels(jpg, w, h)
      assert(pix.length === src.length, s"$label size")
      assert(maxErr(src, pix) <= 12, s"$label max pixel error ${maxErr(src, pix)}")
    }
    // restart markers (DRI + RSTn every 2 MCUs): real camera streams carry
    // these; the restart path must reproduce the same pixels
    val (rw, rh) = (48, 32)
    val rsrc = gradient(rw, rh, 3)
    val rjpg = ImageFixtures.jpeg(ImageFixtures.image(rw, rh, rsrc), restartInterval = 2)
    // the fixture must actually contain an RST0 marker (FF D0) in the scan
    assert(ImageFixtures.markerAt(rjpg, 0xd0) >= 0, "restart fixture must contain an RST0 marker")
    val rpix = enginePixels(rjpg, rw, rh)
    assert(maxErr(rsrc, rpix) <= 12, s"restart max pixel error ${maxErr(rsrc, rpix)}")
  }

  test("decompression bombs degrade, never OOM: huge declared dims refuse to allocate") {
    // a few-hundred-byte payload declaring gigabytes of pixels must be
    // rejected BEFORE the pixel allocation (OutOfMemoryError is not a
    // NonFatal the degrade path could catch)
    val png = ImageFixtures.png(4, 4, Array.fill(48)(7.toByte))
    val pngBomb = png.clone()
    // IHDR width/height at offsets 16/20 (big-endian): declare 40000x40000
    def putBe32(a: Array[Byte], off: Int, v: Int): Unit = {
      a(off) = ((v >> 24) & 0xff).toByte; a(off + 1) = ((v >> 16) & 0xff).toByte
      a(off + 2) = ((v >> 8) & 0xff).toByte; a(off + 3) = (v & 0xff).toByte
    }
    putBe32(pngBomb, 16, 40000); putBe32(pngBomb, 20, 40000)
    val jpg = ImageFixtures.jpeg(8, 8, Array.fill(192)(9.toByte), 3)
    val jpgBomb = jpg.clone()
    val sofAt = (0 until jpgBomb.length - 1).find(i =>
      (jpgBomb(i) & 0xff) == 0xff && (jpgBomb(i + 1) & 0xff) == 0xc0).get
    // SOF height/width at sofAt+5..8: declare 40000x40000
    jpgBomb(sofAt + 5) = (40000 >> 8).toByte; jpgBomb(sofAt + 6) = (40000 & 0xff).toByte
    jpgBomb(sofAt + 7) = (40000 >> 8).toByte; jpgBomb(sofAt + 8) = (40000 & 0xff).toByte
    val out = Multimodal.decode(spark, asMedia(Seq(
      (1L, pngBomb, "image/png"), (2L, jpgBomb, "image/jpeg"))))
      .collect().sortBy(_.id)
    assert(out.length === 2, "both records survive")
    // PNG bomb → stub; JPEG bomb → header-only record (true declared
    // geometry, no pixel allocation) — either way the task lives
    assert(out(0).width < 40000)
    assert((out(1).width, out(1).height) === ((40000, 40000)))
    val f = Multimodal.features(spark, asMedia(Seq(
      (1L, pngBomb, "image/png"), (2L, jpgBomb, "image/jpeg"))))
      .collect()
    assert(f.length === 2 && f.forall(!_.decoded))
    // GIF: the logical screen and the image descriptor declare 40000x40000
    def putLe(a: Array[Byte], off: Int, v: Int, n: Int): Unit =
      (0 until n).foreach(k => a(off + k) = ((v >> (8 * k)) & 0xff).toByte)
    val gifBomb = ImageFixtures.gifRgb(4, 4, Array.fill(48)(7.toByte)).clone()
    var desc = 13 + (if ((gifBomb(10) & 0x80) != 0) 3 * (2 << (gifBomb(10) & 7)) else 0)
    while (gifBomb(desc) == 0x21) { // skip extension blocks to the descriptor
      desc += 2
      while (gifBomb(desc) != 0) desc += (gifBomb(desc) & 0xff) + 1
      desc += 1
    }
    assert(gifBomb(desc) === 0x2c.toByte, "image descriptor located")
    Seq(6, 8, desc + 5, desc + 7).foreach(off => putLe(gifBomb, off, 40000, 2))
    // BMP: the header declares 40000x40000 over 4x4 pixels of data
    val bmpBomb = ImageFixtures.bmp(4, 4, Array.fill(48)(7.toByte)).clone()
    putLe(bmpBomb, 18, 40000, 4); putLe(bmpBomb, 22, 40000, 4)
    val more = Multimodal.decode(spark, asMedia(Seq(
      (3L, gifBomb, "image/gif"), (4L, bmpBomb, "image/bmp")))).collect()
    assert(more.length === 2 && more.forall(_.width < 40000), "GIF and BMP bombs → stub")
    val fm = Multimodal.features(spark, asMedia(Seq(
      (3L, gifBomb, "image/gif"), (4L, bmpBomb, "image/bmp")))).collect()
    assert(fm.length === 2 && fm.forall(!_.decoded))
  }

  test("the bomb cap is sized to the read: a 6.8-megapixel JPEG still pixel-decodes") {
    // 2600x2600 RGB: the JPEG reader's 3-byte raster plus the interleaved
    // copy is 47 MB, inside the 64 MB cap
    val (w, h) = (2600, 2600)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val jpg = ImageFixtures.jpeg(img)
    val d = Multimodal.decode(spark, asMedia(Seq((1L, jpg, "image/jpeg")))).collect().head
    assert((d.format, d.width, d.height, d.channels) === (("image/jpeg", w, h, 3)))
    assert(d.checksum === fnvOf(new Array[Byte](w * h * 3)), "black pixels, not the header parse")
  }

  test("progressive JPEG (SOF2): pixel decode, error bounded against the source image") {
    // Fixture from the JDK writer's standard progression script (spectral
    // selection AND successive approximation: DC first/refine, AC
    // first/refine with EOB runs). The engine must decode its pixels, not
    // fall back to the header parse.
    import java.awt.image.BufferedImage
    // odd geometry → partial MCUs at both edges
    val (w, h) = (37, 23)
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      bi.setRGB(x, y, ((x * 255 / (w - 1)) << 16) | ((y * 255 / (h - 1)) << 8) | 128)
    val prog = ImageFixtures.jpeg(bi, progressive = true)
    assert(ImageFixtures.markerAt(prog, 0xc2) >= 0, "fixture must really be progressive (SOF2)")
    assert(ImageFixtures.markerAt(prog, 0xc0) < 0, "fixture must not carry a baseline SOF")
    val ours = enginePixels(prog, w, h)
    // against the source: lossy (4:2:0 chroma, q0.95), so a tolerance
    var worst = 0
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val want = (bi.getRGB(x, y) >> (16 - 8 * c)) & 0xff
      worst = math.max(worst, math.abs(want - ours((y * w + x) * 3 + c)))
    }
    assert(worst <= 16, s"progressive max pixel error $worst")

    // grayscale progressive (single-component scans end-to-end)
    val gbi = new BufferedImage(16, 16, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 16)
      gbi.getRaster.setSample(x, y, 0, (x * 16 + y) % 256)
    val gprog = ImageFixtures.jpeg(gbi, progressive = true)
    assert(ImageFixtures.markerAt(gprog, 0xc2) >= 0, "gray fixture must be progressive")
    val gd = Multimodal.decode(spark, asMedia(Seq((8L, gprog, "image/jpeg")))).collect().head
    assert((gd.width, gd.height, gd.channels) === ((16, 16, 1)), "gray progressive geometry")
    val gpix = enginePixels(gprog, 16, 16)
    var gworst = 0
    for (y <- 0 until 16; x <- 0 until 16)
      gworst = math.max(gworst, math.abs(gbi.getRaster.getSample(x, y, 0) - gpix(y * 16 + x)))
    assert(gworst <= 12, s"gray progressive max pixel error $gworst")

    // engine path: decode()/features() report REAL pixels for SOF2
    val d = Multimodal.decode(spark, asMedia(Seq((9L, prog, "image/jpeg")))).collect().head
    assert((d.width, d.height, d.channels) === ((w, h, 3)))
    assert(d.checksum === fnvOf(ours.map(_.toByte)), "decode() must hash reconstructed SOF2 pixels")
    val f = Multimodal.features(spark, asMedia(Seq((9L, prog, "image/jpeg")))).collect().head
    assert(f.decoded, "features must run on real progressive pixels")

    // bomb guard still enforced on the progressive path: huge declared SOF2
    // dims refuse to allocate and degrade to the header
    val bomb = prog.clone()
    val sofAt = ImageFixtures.markerAt(bomb, 0xc2)
    bomb(sofAt + 5) = (40000 >> 8).toByte; bomb(sofAt + 6) = (40000 & 0xff).toByte
    bomb(sofAt + 7) = (40000 >> 8).toByte; bomb(sofAt + 8) = (40000 & 0xff).toByte
    val db = Multimodal.decode(spark, asMedia(Seq((10L, bomb, "image/jpeg")))).collect().head
    assert((db.width, db.height) === ((40000, 40000)), "header geometry survives the bomb")
    val fb = Multimodal.features(spark, asMedia(Seq((10L, bomb, "image/jpeg")))).collect().head
    assert(!fb.decoded, "bomb must not pixel-decode")
  }

  test("decode/features use real JPEG pixels; non-baseline degrades to the header parse") {
    val (w, h) = (24, 16)
    // constant color block: chroma subsampling is exact, features must
    // recover the color almost perfectly
    val src = Array.tabulate(w * h * 3)(i => (i % 3 match {
      case 0 => 200; case 1 => 60; case _ => 120
    }).toByte)
    val jpg = ImageFixtures.jpeg(w, h, src, 3)
    val media = asMedia(Seq((1L, jpg, "image/jpeg")))
    val d = Multimodal.decode(spark, media).collect().head
    assert((d.format, d.width, d.height, d.channels) === (("image/jpeg", w, h, 3)))
    // pixel checksum (not the scan-bytes checksum the header fallback uses):
    // must equal the checksum of the decoder's own reconstruction
    val pix = enginePixels(jpg, w, h).map(_.toByte)
    assert(d.checksum === fnvOf(pix), "decode() must hash reconstructed pixels")
    val f = Multimodal.features(spark, media).collect().head
    assert(f.decoded, "features must run on real JPEG pixels now")
    assert(math.abs(f.chanMean(0) - 200) <= 3 && math.abs(f.chanMean(1) - 60) <= 3 &&
      math.abs(f.chanMean(2) - 120) <= 3, f.chanMean.toSeq.toString)
    // resize: a real binary->binary transform over the decoded pixels
    val r = Multimodal.resize(spark, media, 8, 8).collect().head
    assert(r.decoded && (r.width, r.height, r.channels) === ((8, 8, 3)))
    // CORRUPT progressive: flipping SOF0→SOF2 on a sequential stream makes
    // the single Ss=0..Se=63 scan illegal for a progressive frame (a DC
    // scan must have Se=0), so the decoder throws and the engine degrades
    // to the header parse — true geometry kept, record survives, features
    // fall back to stub-with-real-geometry. (VALID progressive streams get
    // a real pixel decode — see the dedicated SOF2 test.)
    val prog = jpg.clone()
    val sofAt = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    val dp = Multimodal.decode(spark, asMedia(Seq((2L, prog, "image/jpeg")))).collect().head
    assert((dp.width, dp.height, dp.channels) === ((w, h, 3)), "header geometry survives")
    assert(dp.checksum !== d.checksum, "degraded record hashes scan bytes, not pixels")
    val fp = Multimodal.features(spark, asMedia(Seq((2L, prog, "image/jpeg")))).collect().head
    assert(!fp.decoded && (fp.width, fp.height) === ((w, h)))
    // a scan cut mid-way: the JPEG reader only warns (premature end of
    // data, missing EOI) and fills the missing rows, so the warning must
    // reject the pixels — the record is the header parse, hashing the scan
    // bytes that are there
    val sos = ImageFixtures.markerAt(jpg, 0xda)
    val scanOff = sos + 2 + (((jpg(sos + 2) & 0xff) << 8) | (jpg(sos + 3) & 0xff))
    val cut = jpg.take(scanOff + (jpg.length - scanOff) / 2)
    val dc = Multimodal.decode(spark, asMedia(Seq((3L, cut, "image/jpeg")))).collect().head
    assert((dc.format, dc.width, dc.height, dc.channels) === (("image/jpeg", w, h, 3)),
      "a cut scan keeps the header geometry")
    assert(dc.checksum === fnvOf(cut.drop(scanOff)), "a cut scan hashes its scan bytes")
    val fc = Multimodal.features(spark, asMedia(Seq((3L, cut, "image/jpeg")))).collect().head
    assert(!fc.decoded && (fc.width, fc.height) === ((w, h)), "a cut scan is not pixel-decoded")
  }

  test("ImageIO decodes are deterministic: the same bytes give the same record in every task") {
    // JPEG pixels are implementation-defined (T.81 bounds IDCT accuracy
    // only); the engine's promise is that every executor — one JDK — turns
    // the same bytes into the same checksum. Four tasks decode at once,
    // twice over.
    val rnd = new scala.util.Random(20261019L)
    val payloads = (0 until 24).map { i =>
      val (w, h) = (9 + i % 7, 7 + i % 5)
      val px = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
      val bytes = i % 3 match {
        case 0 => ImageFixtures.jpeg(ImageFixtures.image(w, h, px), progressive = i % 2 == 0)
        case 1 => ImageFixtures.png(w, h, px)
        case _ => ImageFixtures.gifRgb(w, h, px.map(b => (b & 0xc0).toByte)) // ≤ 64 colors
      }
      (i.toLong, bytes, "image")
    }
    val media = asMedia(payloads).repartition(4)
    assert(media.rdd.getNumPartitions === 4)
    def run() = Multimodal.decode(spark, media).collect().sortBy(_.id).toSeq
    val first = run()
    assert(first.length === 24)
    assert(first.map(_.format).toSet === Set("image/jpeg", "image/png", "image/gif"),
      "every payload must pixel-decode, none may stub")
    assert(run() === first, "a second decode in four tasks must give identical records")
  }

  test("fuzz: random mutations of valid payloads never drop a record or kill the task") {
    // the per-record degrade contract under adversarial bytes: seeded
    // random byte flips and truncations of every supported container,
    // decoded in one job — every record must come back as SOMETHING
    // (real decode, header parse, or stub), deterministically
    val rnd = new scala.util.Random(20260813L)
    val px = Array.tabulate(8 * 8 * 3)(i => (i * 31 % 251).toByte)
    val img = ImageFixtures.image(8, 8, px)
    val jpg = ImageFixtures.jpeg(img)
    val sos = ImageFixtures.markerAt(jpg, 0xda)
    val seeds: Seq[Array[Byte]] = Seq(
      ImageFixtures.bmp(8, 8, px),
      Multimodal.encodePpm(8, 8, px),
      ImageFixtures.png(8, 8, px),
      jpg,
      Multimodal.encodeWav(2, 16, 8000, px),
      graft.multimodal.Flac.encode(
        Array.tabulate(96)(i => (math.sin(i * 0.2) * 5000).toInt), 2, 16, 8000,
        graft.multimodal.Flac.EncodeOptions(blockSize = 32)),
      // native-reader inputs: GIF, progressive JPEG, Adam7 PNG, and a JPEG
      // cut mid-scan (which the JPEG reader only warns about)
      ImageFixtures.gifRgb(8, 8, px),
      ImageFixtures.jpeg(img, progressive = true),
      ImageFixtures.pngInterlaced(img),
      jpg.take(sos + (jpg.length - sos) / 2))
    val mutated: Seq[(Long, Array[Byte], String)] = (0 until 200).map { i =>
      val base = seeds(i % seeds.length)
      val b = base.clone()
      rnd.nextInt(3) match {
        case 0 => // flip 1-4 random bytes
          (0 to rnd.nextInt(4)).foreach { _ =>
            b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          }
          (i.toLong, b, "fuzz/flip")
        case 1 => // truncate at a random point
          (i.toLong, b.take(1 + rnd.nextInt(b.length)), "fuzz/cut")
        case _ => // splice two formats together
          val other = seeds(rnd.nextInt(seeds.length))
          (i.toLong, b.take(rnd.nextInt(b.length)) ++ other.drop(rnd.nextInt(other.length)),
            "fuzz/splice")
      }
    }
    val decoded = Multimodal.decode(spark, asMedia(mutated)).collect()
    assert(decoded.length === 200, "every fuzzed record must survive decode")
    val feats = Multimodal.features(spark, asMedia(mutated)).collect()
    assert(feats.length === 200, "every fuzzed record must survive features")
    val rez = Multimodal.resize(spark, asMedia(mutated), 4, 4).collect()
    assert(rez.length === 200, "every fuzzed record must survive resize")
    // determinism: the same bytes decode to the same record on a second run
    val again = Multimodal.decode(spark, asMedia(mutated)).collect()
    assert(decoded.sortBy(_.id).toSeq === again.sortBy(_.id).toSeq,
      "degrade decisions must be deterministic")
  }

  test("composition: image features feed the ANN stack — near-identical images pair up") {
    import org.apache.spark.sql.functions.concat
    // three color families, two near-identical variants each (one pixel
    // nudged on the dominant channel) — feature vectors of a pair must be
    // each other's cosine top-1 against the full set
    def img(r: Int, g: Int, b: Int, nudge: Boolean): Array[Byte] = {
      val px = Array.tabulate(4 * 4 * 3) { i =>
        (i % 3 match { case 0 => r; case 1 => g; case 2 => b }).toByte
      }
      if (nudge) px(0) = math.min(255, (px(0) & 0xff) + 10).toByte
      ImageFixtures.bmp(4, 4, px)
    }
    val media = asMedia(Seq(
      (1L, img(200, 10, 10, nudge = false), "image/bmp"),
      (2L, img(200, 10, 10, nudge = true), "image/bmp"),
      (3L, img(10, 200, 10, nudge = false), "image/bmp"),
      (4L, img(10, 200, 10, nudge = true), "image/bmp"),
      (5L, img(10, 10, 200, nudge = false), "image/bmp"),
      (6L, img(10, 10, 200, nudge = true), "image/bmp")))
    val emb = Multimodal.features(spark, media).toDF()
      .select(col("id"),
        concat(col("chanMean"), col("chanStd"), col("lumaHist")).as("embedding"))
    val top1 = graft.operators.Similarity.bruteForceTopK(emb, emb, 1, "id", "embedding")
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("id")).toMap
    assert(top1 === Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L, 5L -> 6L, 6L -> 5L))
  }

  test("FLAC round-trip: bit-exact across depths, stereo modes, subframe types, partitions") {
    import graft.multimodal.Flac
    // deterministic mixed signal: sine carrier + LCG noise + a constant run
    // (so auto mode exercises CONSTANT, FIXED selection, and wasted bits)
    def signal(n: Int, ch: Int, bits: Int, seed: Long): Array[Int] = {
      val amp = (1 << (bits - 2)) - 1
      var s = seed
      Array.tabulate(n * ch) { i =>
        s = s * 6364136223846793005L + 1442695040888963407L
        val noise = ((s >>> 40) % 64).toInt - 32
        if (i / ch < 32) amp / 2 // leading constant run
        else (math.sin(i * 0.05) * amp).toInt + noise
      }
    }
    def rt(samples: Array[Int], ch: Int, bits: Int,
        opts: Flac.EncodeOptions, label: String): Unit = {
      val enc = Flac.encode(samples, ch, bits, 8000, opts)
      assert(Flac.isFlac(enc), s"$label: encoder output must sniff as FLAC")
      val dec = Flac.decode(enc)
      assert(dec.channels === ch && dec.bitsPerSample === bits, label)
      assert(dec.samples.toSeq === samples.toSeq,
        s"$label: lossless round trip must be bit-exact")
    }
    // depth x partition sweep (mono) — incl. a partial last block
    rt(signal(1000, 1, 8, 1L), 1, 8, Flac.EncodeOptions(blockSize = 256), "mono8")
    rt(signal(1000, 1, 16, 2L), 1, 16,
      Flac.EncodeOptions(blockSize = 256, partitionOrder = 2), "mono16 part2")
    rt(signal(777, 1, 24, 3L), 1, 24,
      Flac.EncodeOptions(blockSize = 512, partitionOrder = 1), "mono24 partial-last")
    // every stereo decorrelation — the side channel carries the +1 bit
    for (mode <- Seq("independent", "left_side", "right_side", "mid_side"))
      rt(signal(600, 2, 16, 4L), 2, 16,
        Flac.EncodeOptions(blockSize = 128, stereo = mode), s"stereo $mode")
    // every subframe type, forced
    rt(signal(300, 1, 16, 5L), 1, 16,
      Flac.EncodeOptions(blockSize = 128, subframe = "verbatim"), "verbatim")
    rt(signal(300, 1, 16, 6L), 1, 16,
      Flac.EncodeOptions(blockSize = 128, subframe = "lpc"), "lpc")
    for (o <- 0 to 4)
      rt(signal(300, 1, 16, 7L + o), 1, 16,
        Flac.EncodeOptions(blockSize = 64, subframe = s"fixed$o"), s"fixed$o")
    // wasted bits: all samples share 3 trailing zero bits
    rt(signal(400, 1, 16, 20L).map(v => (v >> 3) << 3), 1, 16,
      Flac.EncodeOptions(blockSize = 128), "wasted-bits")
    // raw-escape partition: near-silent block with one huge spike — the
    // Rice quotient would explode, so the encoder must take the escape
    val spiky = Array.tabulate(4096)(i => if (i == 2048) 20000 else i % 2)
    rt(spiky, 1, 16,
      Flac.EncodeOptions(blockSize = 4096, subframe = "fixed0",
        detectWastedBits = false), "escape")
    // all-silence stream (constant-zero subframes, zero predictor)
    rt(new Array[Int](512), 1, 16, Flac.EncodeOptions(blockSize = 256), "silence")
  }

  test("FLAC decode: real samples, cross-container checksum parity with WAV") {
    import graft.multimodal.Flac
    // one stereo 16-bit recording through BOTH containers: the FLAC record
    // checksums DECODED samples as LE bytes, which is byte-identical to
    // the WAV data chunk — same audio, same hash, either container
    val frames = 500
    val samples = Array.tabulate(frames * 2) { i =>
      (math.sin(i * 0.03) * 12000).toInt + (if (i % 2 == 0) 100 else -100)
    }
    val flac = Flac.encode(samples, 2, 16, 8000,
      Flac.EncodeOptions(blockSize = 128, stereo = "mid_side"))
    val wav = Multimodal.encodeWav(2, 16, 8000, Flac.samplesToLeBytes(samples, 16))
    val out = Multimodal.decode(spark, asMedia(Seq(
      (1L, flac, "audio/flac"), (2L, wav, "audio/wav")))).collect().sortBy(_.id)
    val Array(f, w) = out
    assert(f.format === "audio/flac" && w.format === "audio/wav")
    assert((f.width, f.height, f.channels) === ((frames, 1, 2)))
    assert(f.checksum === w.checksum,
      "same recording must hash identically through FLAC and WAV")
    // features run on real samples and agree EXACTLY across containers
    // (both paths normalize the same integers by the same 2^15)
    val feats = Multimodal.features(spark, asMedia(Seq(
      (1L, flac, "audio/flac"), (2L, wav, "audio/wav")))).collect().sortBy(_.id)
    val Array(ff, wf) = feats
    assert(ff.decoded && wf.decoded)
    assert(ff.chanMean.toSeq === wf.chanMean.toSeq)
    assert(ff.chanStd.toSeq === wf.chanStd.toSeq)
    assert(ff.lumaHist.toSeq === wf.lumaHist.toSeq)
  }

  test("FLAC degrade: corruption, declared-size bombs, fake magic — never a drop") {
    import graft.multimodal.Flac
    val samples = Array.tabulate(600)(i => (math.sin(i * 0.04) * 9000).toInt)
    val good = Flac.encode(samples, 1, 16, 8000, Flac.EncodeOptions(blockSize = 256))
    // corrupt a byte deep in the frame region: CRC catches it, the record
    // degrades to the STREAMINFO header parse with TRUE geometry
    val corrupt = good.clone()
    corrupt(good.length - 40) = (corrupt(good.length - 40) ^ 0x55).toByte
    // declared-size bomb: patch STREAMINFO total-samples to ~2^35 — decode
    // must refuse before allocating and degrade to the header record
    val bomb = good.clone()
    // byte 21 = (bps-1 low nibble << 4) | total[35:32]: keep bps=16 valid,
    // declare 2^35 samples
    bomb(21) = 0xf8.toByte; bomb(22) = 0; bomb(23) = 0; bomb(24) = 0; bomb(25) = 0
    // text that begins with the magic must not sniff as FLAC
    val fake = ("fLaC this is not actually a flac stream, just text with " +
      "the right four leading bytes and enough length").getBytes("US-ASCII")
    val out = Multimodal.decode(spark, asMedia(Seq(
      (1L, corrupt, "audio/flac"), (2L, bomb, "audio/flac"), (3L, fake, "text"))))
      .collect().sortBy(_.id)
    assert(out.length === 3, "every record survives")
    val Array(c, bm, fk) = out
    assert(c.format === "audio/flac" && (c.width, c.channels) === ((600, 1)),
      "corrupt stream keeps STREAMINFO geometry")
    assert(c.checksum !== Multimodal.decode(spark,
      asMedia(Seq((1L, good, "audio/flac")))).collect().head.checksum,
      "header-fallback hash is over frame bytes, not decoded samples")
    assert(bm.format === "audio/flac" && bm.height === 1,
      "bomb degrades to header record, no allocation")
    assert(fk.format === "text", "structural sniff rejects magic-only text")
    // features on the corrupt stream: stub features, but geometry still
    // agrees with decode() (the two-API geometry invariant)
    val cf = Multimodal.features(spark,
      asMedia(Seq((1L, corrupt, "audio/flac")))).collect().head
    assert(!cf.decoded)
    assert((cf.width, cf.height, cf.channels) === ((c.width, c.height, c.channels)))
  }

  test("sampleEvery keeps every stride-th id") {
    val d = Multimodal.decodeStub(spark, media())
    val sampled = Multimodal.sampleEvery(d, 5).collect().map(_.id).sorted
    assert(sampled.forall(_ % 5 == 0))
    assert(sampled.length === d.collect().count(_.id % 5 == 0))
  }

  test("GIF LZW round trip: sequential, interlaced, KwKwK runs, 12-bit table freeze") {
    // the JDK's GIF writer → the engine's pixel path: every layout must
    // reconstruct the exact source pixels (checksum = FNV of the RGB)
    val rnd = new scala.util.Random(7)
    // small-palette random image
    val (w, h) = (23, 17)
    val pal5 = Array(
      Array[Byte](255.toByte, 0, 0), Array[Byte](0, 255.toByte, 0),
      Array[Byte](0, 0, 255.toByte), Array[Byte](17, 34, 51),
      Array[Byte](200.toByte, 100, 50))
    val rgb = Array.tabulate(w * h)(_ => pal5(rnd.nextInt(5))).flatten.toArray
    // constant image: back-to-back KwKwK codes (every new code referenced
    // one step before the decoder defines it)
    val flat = Array.fill(64 * 64 * 3)(42.toByte)
    // 250-color noise at 128x128 pushes the dictionary past 4096: codes
    // freeze at 12 bits and both sides must stay in lockstep
    val bigPal = Array.tabulate(250)(i =>
      Array[Byte]((i * 7 % 256).toByte, (i * 13 % 256).toByte, (i * 29 % 256).toByte))
    val big = Array.tabulate(128 * 128)(_ => bigPal(rnd.nextInt(250))).flatten.toArray
    val cases = Seq(
      (1L, w, h, rgb, false, "sequential round trip"),
      (2L, w, h, rgb, true, "interlaced round trip"),
      (3L, 64, 64, flat, false, "KwKwK runs"),
      (4L, 128, 128, big, false, "round trip across the table freeze"))
    val out = Multimodal.decode(spark, asMedia(cases.map { case (id, cw, ch, px, il, _) =>
      (id, ImageFixtures.gifRgb(cw, ch, px, interlaced = il), "image/gif")
    })).collect().map(d => d.id -> d).toMap
    cases.foreach { case (id, cw, ch, px, _, label) =>
      assert((out(id).format, out(id).width, out(id).height, out(id).channels) ===
        (("image/gif", cw, ch, 3)), label)
      assert(out(id).checksum === fnvOf(px), label)
    }
  }

  test("GIF and PNG of the same pixels produce identical features (cross-format invariant)") {
    val rnd = new scala.util.Random(5)
    val (w, h) = (19, 11)
    val pal = Array.tabulate(8)(i =>
      Array[Byte]((i * 31).toByte, (i * 17 + 5).toByte, (255 - i * 29).toByte))
    val rgb = Array.tabulate(w * h)(_ => pal(rnd.nextInt(8))).flatten.toArray
    val gifF = Multimodal.features(spark,
      asMedia(Seq((1L, ImageFixtures.gifRgb(w, h, rgb), "image/gif")))).collect().head
    val pngF = Multimodal.features(spark,
      asMedia(Seq((2L, ImageFixtures.png(w, h, rgb), "image/png")))).collect().head
    assert(gifF.decoded && pngF.decoded)
    assert((gifF.width, gifF.height, gifF.channels) ===
      ((pngF.width, pngF.height, pngF.channels)))
    assert(gifF.chanMean.toSeq === pngF.chanMean.toSeq &&
      gifF.chanStd.toSeq === pngF.chanStd.toSeq &&
      gifF.lumaHist.toSeq === pngF.lumaHist.toSeq,
      "identical pixels through different containers must featurize identically")
    // decode(): the same pixels hash identically through all four
    // containers — BMP stored bottom-up (positive height) and top-down
    // (negative height) included
    val bmpUp = ImageFixtures.bmp(w, h, rgb)
    val bmpDown = ImageFixtures.bmp(w, h, rgb, topDown = true)
    def le32(b: Array[Byte], o: Int) = java.nio.ByteBuffer.wrap(b, o, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(le32(bmpUp, 22) === h && le32(bmpDown, 22) === -h, "fixtures: both BMP row orders")
    val dec = Multimodal.decode(spark, asMedia(Seq(
      (1L, ImageFixtures.gifRgb(w, h, rgb), "image/gif"),
      (2L, ImageFixtures.png(w, h, rgb), "image/png"),
      (3L, bmpUp, "image/bmp"), (4L, bmpDown, "image/bmp")))).collect().sortBy(_.id)
    assert(dec.map(_.format).toSeq === Seq("image/gif", "image/png", "image/bmp", "image/bmp"))
    assert(dec.map(_.checksum).toSeq === Seq.fill(4)(fnvOf(rgb)),
      "same pixels, same checksum: GIF, PNG, bottom-up and top-down BMP")
  }

  test("GIF transparency, Multimodal dispatch, checksum invariance, corrupt degrade") {
    val pal = Array[Byte](255.toByte, 0, 0, /**/ 0, 255.toByte, 0, /**/ 9, 9, 9)
    // 3x6: tall enough that interlaced storage reorders the rows
    val (w, h) = (3, 6)
    val idx = Array.tabulate(w * h)(p => ((p + p / w) % 3).toByte)
    // transparent index 2 → RGBA with alpha 0 exactly there
    val t = Multimodal.decode(spark, asMedia(Seq((5L, ImageFixtures.gif(
      ImageFixtures.indexed(w, h, idx, pal, transparentIdx = 2)), "image/gif")))).collect().head
    assert((t.format, t.width, t.height, t.channels) === (("image/gif", w, h, 4)))
    assert(t.checksum === fnvOf(idx.flatMap(i =>
      pal.slice(i * 3, i * 3 + 3) :+ (if (i == 2) 0 else 255).toByte)),
      "palette expands to RGBA with alpha 0 at the transparent index")
    // dispatch + interlace checksum invariance through the column operator
    val seqBytes = ImageFixtures.gif(ImageFixtures.indexed(w, h, idx, pal))
    val intBytes = ImageFixtures.gif(ImageFixtures.indexed(w, h, idx, pal), interlaced = true)
    assert(!(seqBytes sameElements intBytes), "fixtures: sequential vs interlaced storage")
    val out = Multimodal.decode(spark, asMedia(Seq(
      (1L, seqBytes, "image/gif"), (2L, intBytes, "image/gif"),
      (3L, seqBytes.dropRight(8), "image/gif")))) // truncated → degrade
      .collect().sortBy(_.id)
    assert(out(0).format === "image/gif" && out(0).channels === 3)
    assert((out(0).width, out(0).height) === ((w, h)))
    assert(out(0).checksum === out(1).checksum,
      "interlaced vs sequential storage hashes identically")
    assert(out(2).format === "image/gif" && out(2).checksum != out(0).checksum,
      "truncated payload degrades to the stub record, task survives")
    assert(out(2).width != w, "stub geometry, not a half-parsed frame")
  }
}
