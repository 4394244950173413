package graft

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.metadata.{IIOMetadata, IIOMetadataNode}
import javax.imageio.plugins.bmp.BMPImageWriteParam
import javax.imageio.stream.MemoryCacheImageOutputStream

/** Image payloads for the multimodal specs, written by the JDK's ImageIO
  * writers — plus [[pngFiltered]], the one layout none of them can be
  * asked for.
  */
object ImageFixtures {

  /** Top-down interleaved 8-bit samples (1 = gray, 3 = RGB, 4 = RGBA). */
  def image(w: Int, h: Int, px: Array[Byte], channels: Int = 3): BufferedImage = {
    val img = new BufferedImage(w, h, channels match {
      case 1 => BufferedImage.TYPE_BYTE_GRAY
      case 3 => BufferedImage.TYPE_3BYTE_BGR
      case 4 => BufferedImage.TYPE_4BYTE_ABGR
    })
    img.getRaster.setPixels(0, 0, w, h, px.map(_ & 0xff))
    img
  }

  /** Palette image of `idx` into `pal` (r,g,b triples) at `bits` a pixel
    * (8 = one byte, 1/2/4 = packed), with per-entry `alpha` (PNG tRNS) or a
    * `transparentIdx` (GIF).
    */
  def indexed(w: Int, h: Int, idx: Array[Byte], pal: Array[Byte], bits: Int = 8,
      alpha: Array[Byte] = null, transparentIdx: Int = -1): BufferedImage = {
    val n = pal.length / 3
    def comp(c: Int) = Array.tabulate(n)(i => pal(3 * i + c))
    val cm =
      if (alpha != null) new IndexColorModel(bits, n, comp(0), comp(1), comp(2), alpha)
      else new IndexColorModel(bits, n, comp(0), comp(1), comp(2), transparentIdx)
    val img = new BufferedImage(w, h,
      if (bits == 8) BufferedImage.TYPE_BYTE_INDEXED else BufferedImage.TYPE_BYTE_BINARY, cm)
    img.getRaster.setPixels(0, 0, w, h, idx.map(_ & 0xff))
    img
  }

  /** `img` through ImageIO's `format` writer on an in-memory stream. */
  def write(img: BufferedImage, format: String, metadata: IIOMetadata = null)(
      configure: ImageWriteParam => Unit = _ => ()): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName(format).next()
    val param = writer.getDefaultWriteParam
    configure(param)
    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      writer.setOutput(out)
      writer.write(null, new IIOImage(img, null, metadata), param)
    } finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }

  def png(w: Int, h: Int, px: Array[Byte], channels: Int = 3): Array[Byte] =
    write(image(w, h, px, channels), "png")()

  /** Adam7-interlaced PNG of `img`. */
  def pngInterlaced(img: BufferedImage): Array[Byte] =
    write(img, "png")(_.setProgressiveMode(ImageWriteParam.MODE_DEFAULT))

  /** 24-bit BI_RGB BMP; rows bottom-up, or top-down (negative height). */
  def bmp(w: Int, h: Int, rgb: Array[Byte], topDown: Boolean = false): Array[Byte] =
    write(image(w, h, rgb), "bmp")(_.asInstanceOf[BMPImageWriteParam].setTopDown(topDown))

  /** GIF of a palette image, rows stored sequentially or interlaced. */
  def gif(img: BufferedImage, interlaced: Boolean = false): Array[Byte] =
    write(img, "gif")(_.setProgressiveMode(
      if (interlaced) ImageWriteParam.MODE_DEFAULT else ImageWriteParam.MODE_DISABLED))

  /** GIF of RGB pixels with at most 256 distinct colors. */
  def gifRgb(w: Int, h: Int, rgb: Array[Byte], interlaced: Boolean = false): Array[Byte] = {
    val colors = rgb.grouped(3).map(_.toSeq).toSeq
    val pal = colors.distinct
    val at = pal.zipWithIndex.toMap
    gif(indexed(w, h, colors.map(c => at(c).toByte).toArray, pal.flatten.toArray), interlaced)
  }

  /** JPEG at quality 0.95 with the writer's 4:2:0 chroma for color, or
    * full-resolution chroma (4:4:4) when `subsample` is false; optionally
    * progressive (SOF2) or with a DRI restart interval in MCUs.
    */
  def jpeg(img: BufferedImage, progressive: Boolean = false,
      restartInterval: Int = 0, subsample: Boolean = true): Array[Byte] = {
    def configure(p: ImageWriteParam): Unit = {
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.95f)
      if (progressive) p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    }
    val metadata = if (restartInterval == 0 && subsample) null else {
      val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
      val param = writer.getDefaultWriteParam
      configure(param)
      val m = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), param)
      writer.dispose()
      val tree = "javax_imageio_jpeg_image_1.0"
      val root = m.getAsTree(tree).asInstanceOf[IIOMetadataNode]
      if (restartInterval != 0) {
        val markers = root.getElementsByTagName("markerSequence").item(0)
        val dri = new IIOMetadataNode("dri")
        dri.setAttribute("interval", restartInterval.toString)
        markers.insertBefore(dri, markers.getFirstChild)
      }
      if (!subsample) {
        val specs = root.getElementsByTagName("componentSpec")
        (0 until specs.getLength).foreach { i =>
          val c = specs.item(i).asInstanceOf[IIOMetadataNode]
          c.setAttribute("HsamplingFactor", "1"); c.setAttribute("VsamplingFactor", "1")
        }
      }
      m.setFromTree(tree, root)
      m
    }
    write(img, "jpeg", metadata)(configure)
  }

  def jpeg(w: Int, h: Int, px: Array[Byte], channels: Int): Array[Byte] =
    jpeg(image(w, h, px, channels))

  /** Offset of the first `FF m` marker. */
  def markerAt(b: Array[Byte], m: Int): Int =
    (0 until b.length - 1).find(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == m)
      .getOrElse(-1)

  /** PNG (color type 0/2/6 for 1/3/4 channels) whose every row uses
    * `filter` (0–4: None/Sub/Up/Average/Paeth). ImageIO's writer picks a
    * filter per row, so a spec that must reach each un-filter branch writes
    * the rows itself.
    */
  def pngFiltered(w: Int, h: Int, px: Array[Byte], channels: Int, filter: Int): Array[Byte] = {
    val stride = w * channels
    def at(y: Int, x: Int): Int = if (y < 0 || x < 0) 0 else px(y * stride + x) & 0xff
    val raw = new ByteArrayOutputStream()
    for (y <- 0 until h) {
      raw.write(filter)
      for (x <- 0 until stride) {
        val (left, up, ul) = (at(y, x - channels), at(y - 1, x), at(y - 1, x - channels))
        val pred = filter match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) >> 1
          case 4 =>
            val p = left + up - ul
            val (pa, pb, pc) = (math.abs(p - left), math.abs(p - up), math.abs(p - ul))
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        raw.write(at(y, x) - pred) // low 8 bits: the filter's mod-256 difference
      }
    }
    val idat = new ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(idat)
    z.write(raw.toByteArray); z.close()
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val body = typ.getBytes("US-ASCII") ++ data
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      out.write(ByteBuffer.allocate(4).putInt(data.length).array())
      out.write(body)
      out.write(ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    val colorType = channels match { case 1 => 0; case 3 => 2; case 4 => 6 }
    // IHDR: bit depth 8; compression, filter method and interlace stay 0
    chunk("IHDR", ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(colorType.toByte).array())
    chunk("IDAT", idat.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }
}
