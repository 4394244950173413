package graft

import graft.multimodal.{Mp4, Multimodal}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ISO-BMFF container math: build→parse round trip, sample-table byte
  * ranges recover the exact frame payloads, re-mux checksum invariance,
  * and the decode dispatch + degrade path.
  */
class Mp4Spec extends SparkSpec {

  private def frames(n: Int): Seq[Array[Byte]] =
    (0 until n).map(i => Array.tabulate[Byte](10 + i * 3)(j => ((i * 31 + j) & 0xff).toByte))

  test("build -> parse round trip: geometry and sample tables") {
    val fs = frames(7)
    val b = Mp4.build(640, 360, timescale = 30000, frameDelta = 1001, fs, framesPerChunk = 2)
    assert(Mp4.isMp4(b))
    val info = Mp4.parse(b)
    assert(info.brand === "isom")
    val v = info.videoTrack.get
    assert(v.width === 640 && v.height === 360)
    assert(v.timescale === 30000 && v.duration === 1001L * 7)
    assert(v.sampleCount === 7)
    // the ranges must recover the EXACT frame bytes written into mdat
    val got = v.sampleRanges.map { case (off, len) =>
      b.slice(off.toInt, (off + len).toInt).toSeq }
    assert(got.toSeq === fs.map(_.toSeq))
    // stts expansion: pts = i * delta
    assert(v.sampleTimes.toSeq === (0 until 7).map(_ * 1001L))
  }

  test("uneven last chunk: stsc two-run expansion still covers every sample") {
    val fs = frames(5) // 2+2+1 under framesPerChunk=2
    val b = Mp4.build(64, 64, 1000, 40, fs, framesPerChunk = 2)
    val v = Mp4.parse(b).videoTrack.get
    assert(v.chunkOffsets.length === 3)
    val got = v.sampleRanges.map { case (off, len) =>
      b.slice(off.toInt, (off + len).toInt).toSeq }
    assert(got.toSeq === fs.map(_.toSeq))
  }

  test("re-mux invariance: different chunking, identical sample checksum") {
    val fs = frames(8)
    val a = Mp4.build(320, 240, 1000, 40, fs, framesPerChunk = 2)
    val c = Mp4.build(320, 240, 1000, 40, fs, framesPerChunk = 3)
    assert(!java.util.Arrays.equals(a, c), "containers must differ")
    import spark.implicits._
    val df = Seq((1L, a), (2L, c)).toDF("id", "payload")
      .withColumn("meta", struct(lit("video/mp4").as("format"),
        length(col("payload")).cast("long").as("n_bytes")))
    val rows = Multimodal.decode(spark, df).collect().sortBy(_.id)
    assert(rows.forall(_.format === "video/mp4"))
    assert(rows(0).width === 320 && rows(0).height === 240)
    assert(rows(0).checksum === rows(1).checksum,
      "re-muxed frames must hash identically (sample-range checksum)")
  }

  test("truncated container degrades to the stub record, never throws") {
    val b = Mp4.build(64, 64, 1000, 40, frames(4))
    val cut = b.take(b.length / 2)
    assert(!Mp4.isMp4(cut))
    import spark.implicits._
    val df = Seq((9L, cut)).toDF("id", "payload")
      .withColumn("meta", struct(lit("video/mp4").as("format"),
        length(col("payload")).cast("long").as("n_bytes")))
    val r = Multimodal.decode(spark, df).collect().head
    // stub records keep the metadata format string but hash the WHOLE
    // byte payload (not sample ranges) and carry derived stub geometry
    val wholeFnv = {
      var cs = 1469598103934665603L
      cut.foreach(b => cs = (cs ^ (b & 0xffL)) * 1099511628211L)
      cs
    }
    assert(r.checksum === wholeFnv, "truncated payload must take the stub path")
  }

  test("frameSamples: every-Nth frames with container-exact bytes and pts") {
    val fs = frames(9)
    val b = Mp4.build(320, 240, timescale = 1000, frameDelta = 40, fs, framesPerChunk = 4)
    import spark.implicits._
    val df = Seq((5L, b), (6L, "not a video".getBytes("UTF-8"))).toDF("id", "payload")
    val got = Multimodal.frameSamples(spark, df, everyNth = 3)
      .collect().sortBy(_.frameIdx)
    assert(got.map(_.id).toSet === Set(5L)) // non-video row contributes nothing
    assert(got.map(_.frameIdx).toSeq === Seq(0, 3, 6))
    assert(got.map(_.ptsMs).toSeq === Seq(0L, 120L, 240L)) // 40/1000s per frame
    got.foreach(f => assert(f.payload.toSeq === fs(f.frameIdx).toSeq,
      s"frame ${f.frameIdx} bytes differ"))
  }

  test("cross-modality composition: sampled video frames decode as images") {
    // frames are REAL PNGs: frameSamples -> attach as image payloads ->
    // Multimodal.decode recovers per-frame geometry and pixel checksums -
    // the video -> frame -> pixels pipeline with no codec stubs anywhere
    val pngs = (0 until 4).map { i =>
      val rgb = Array.tabulate[Byte](8 * 6 * 3)(j => ((i * 50 + j) & 0xff).toByte)
      ImageFixtures.png(8, 6, rgb)
    }
    val video = Mp4.build(8, 6, 1000, 40, pngs)
    import spark.implicits._
    val vdf = Seq((1L, video)).toDF("id", "payload")
    val framesDf = Multimodal.frameSamples(spark, vdf, everyNth = 2)
      .select(col("frameIdx").cast("long").as("id"), col("payload"))
      .withColumn("meta", struct(lit("image/png").as("format"),
        length(col("payload")).cast("long").as("n_bytes")))
    val decoded = Multimodal.decode(spark, framesDf).collect().sortBy(_.id)
    assert(decoded.map(_.id).toSeq === Seq(0L, 2L))
    decoded.foreach { d =>
      assert(d.format === "image/png" && d.width === 8 && d.height === 6)
    }
    // pixel checksums must match decoding the SAME pngs directly
    val direct = Multimodal.decode(spark,
      Seq((0L, pngs(0)), (2L, pngs(2))).toDF("id", "payload")
        .withColumn("meta", struct(lit("image/png").as("format"),
          length(col("payload")).cast("long").as("n_bytes"))))
      .collect().sortBy(_.id)
    assert(decoded.map(_.checksum).toSeq === direct.map(_.checksum).toSeq)
  }
}
