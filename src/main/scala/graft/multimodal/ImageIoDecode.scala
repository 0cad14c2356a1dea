package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream

/** The JDK-codec decode arm of the media column: JPEG / GIF / TIFF payloads
  * decoded through `javax.imageio` (shipped with every Java SE runtime —
  * zero added dependencies) to the same top-down row-major integer
  * luminance plane [[PpmDecode]] and [[PngDecode]] emit, so format stays
  * invisible downstream and the whole perceptual-dedup family
  * (ByteGradientHash → banded Hamming) runs on real pixels for the formats
  * a real crawl corpus is actually made of.
  *
  * Split from [[PpmDecode.lumaOrNull]] deliberately: the hand decoders are
  * bit-exact integer math a DuckDB oracle reproduces; a JPEG inverse-DCT is
  * deterministic for a pinned JVM (same codec on every executor of a
  * cluster) but NOT specified bit-for-bit across JDK vendors, so queries on
  * this arm are golden-pinned in ImageIoDecodeSpec / checked rows-only by
  * the driver rather than hash-compared against SQL.
  *
  * Scale posture: decode is a pure per-row map (no shuffle), the magic-byte
  * gate rejects non-image payloads before any codec work, and a pixel-count
  * cap ([[Luma.MaxPixels]]) bounds per-row memory so one hostile 65k×65k
  * header can't OOM an executor. `ImageIO.setUseCache(false)` keeps decode
  * on-heap — the default disk-backed stream cache would write a temp file
  * per payload.
  */
object ImageIoDecode {

  javax.imageio.ImageIO.setUseCache(false)

  /** Magic-byte gate: JPEG (FF D8 FF), GIF (GIF87a/GIF89a), TIFF
    * (II*\0 / MM\0*). PNG/BMP/PPM are NOT routed here — [[PngDecode]] /
    * [[PpmDecode]] own them bit-exactly.
    */
  def looksDecodable(p: Array[Byte]): Boolean = {
    if (p == null || p.length < 4) return false
    val jpeg = (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff
    val gif = p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8'
    val tiff = (p(0) == 'I' && p(1) == 'I' && p(2) == 42 && p(3) == 0) ||
      (p(0) == 'M' && p(1) == 'M' && p(2) == 0 && p(3) == 42)
    jpeg || gif || tiff
  }

  /** Luminance plane of a payload one of the JDK codecs accepts, else null.
    * Same integer luma as the hand decoders ([[Luma.rec601]]) over the
    * decoded image's sRGB view, so a pixel-identical image produces the
    * same plane regardless of which arm decoded it. Callable from
    * generated code (static forwarder), total: every failure mode (bad
    * stream, truncated entropy data, unsupported subformat) returns null
    * and callers fall back to the opaque-bytes path.
    */
  def lumaOrNull(p: Array[Byte]): Array[Byte] = {
    if (!looksDecodable(p)) return null
    try {
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(p))
      if (img == null) return null
      val w = img.getWidth
      val h = img.getHeight
      if (w < 1 || h < 1 || w.toLong * h.toLong > Luma.MaxPixels) return null
      lumaOf(img)
    } catch {
      // ImageIO throws IIOException on corrupt streams, but hostile inputs
      // can also surface OOB / negative-size errors from inside codec
      // plugins; any throwable here means "not a decodable image row".
      case _: Throwable => null
    }
  }

  /** Integer luma of a decoded image, row-major top-down. Single-band
    * (grayscale) images read their raster samples DIRECTLY — `getRGB` on a
    * TYPE_BYTE_GRAY image gamma-converts linear gray to sRGB (measured
    * meanAbsErr ≈ 64/255 on a smooth ramp vs ≈ 0.03 via the raster), which
    * would corrupt every gray JPEG's plane. Multi-band images go through
    * the sRGB view with the same [[Luma.rec601]] weighting as the hand
    * decoders, so a pixel-identical image produces the same plane
    * regardless of which arm decoded it.
    */
  def lumaOf(img: BufferedImage): Array[Byte] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Byte](w * h)
    if (img.getRaster.getNumBands == 1) {
      val samples = img.getRaster.getSamples(0, 0, w, h, 0, null.asInstanceOf[Array[Int]])
      var i = 0
      while (i < out.length) { out(i) = samples(i).toByte; i += 1 }
    } else {
      val rgb = img.getRGB(0, 0, w, h, null, 0, w)
      var i = 0
      while (i < out.length) {
        val v = rgb(i)
        val r = (v >>> 16) & 0xff
        val g = (v >>> 8) & 0xff
        val b = v & 0xff
        out(i) = Luma.rec601(r, g, b)
        i += 1
      }
    }
    out
  }

  /** Deterministic grayscale JPEG encode of a 1-byte-per-pixel luma plane —
    * the fixture-side inverse of [[lumaOrNull]], used to build real
    * compressed payloads from table bytes inside a `mapPartitions` (writer
    * plugin resolved once per partition by the caller; this method is
    * allocation-only). Quality is fixed so the bytes are a pure function of
    * the plane on a given JDK.
    */
  def encodeGrayJpeg(luma: Array[Byte], width: Int, quality: Float = 0.85f): Array[Byte] = {
    val h = luma.length / width
    val img = new BufferedImage(width, h, BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, width, h, java.util.Arrays.copyOf(luma, width * h))
    val out = new java.io.ByteArrayOutputStream(luma.length / 2 + 512)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    try {
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(quality)
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      ios.close()
    } finally writer.dispose()
    out.toByteArray
  }
}
