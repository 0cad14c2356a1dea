package graft.multimodal

/** Deterministic decode of uncompressed raster images — binary (P6) PPM and
  * 24bpp BI_RGB BMP — the formats whose decode is pure header-parse +
  * integer math, which makes the phash family operate on actual pixel data
  * while staying bit-exact across engines (no codec libs, no DCT, no float
  * resampling anywhere). Both decoders emit the same top-down row-major
  * integer luminance plane, so format is invisible downstream.
  *
  * Grammar accepted (the netpbm spec for P6): magic `P6`, then three
  * whitespace-separated ASCII decimal fields `width height maxval`, with
  * `#`-to-end-of-line comments allowed in the header, then EXACTLY one
  * whitespace byte, then `width*height*3` raw RGB bytes. Restrictions for
  * determinism: maxval must be 1..255 (single-byte samples) and the data
  * section must be exactly the declared size — anything else returns null
  * and callers fall back to the opaque-bytes path.
  *
  * Luminance is [[Luma.rec601]], the integer Rec.601 weighting, so a
  * DuckDB oracle reproduces the plane exactly with `//` arithmetic.
  */
object PpmDecode {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0x0b

  /** Skip whitespace and `#` comments; returns next index or -1 if none. */
  private def skipWsAndComments(p: Array[Byte], start: Int): Int = {
    var i = start
    var progressed = false
    while (i < p.length && (isWs(p(i)) || p(i) == '#')) {
      if (p(i) == '#') {
        if (!progressed) return -1 // comment must follow at least one ws
        while (i < p.length && p(i) != '\n') i += 1
      } else {
        progressed = true
        i += 1
      }
    }
    if (!progressed || i >= p.length) -1 else i
  }

  /** Parse an unsigned decimal at `start`; returns ((value, nextIdx)) or null.
    * Value capped at 10^8 — larger headers are rejected, not overflowed.
    */
  private def readInt(p: Array[Byte], start: Int): (Int, Int) = {
    var i = start
    var v = 0L
    var digits = 0
    while (i < p.length && p(i) >= '0' && p(i) <= '9') {
      v = v * 10 + (p(i) - '0')
      digits += 1
      if (v > 100000000L) return null
      i += 1
    }
    if (digits == 0) null else (v.toInt, i)
  }

  /** Luminance plane of a payload that parses as ANY supported raster
    * format — P6 PPM, 24bpp BMP, 8/16-bit or palette PNG incl. Adam7
    * ([[PngDecode]], the real
    * Inflater + filter-reconstruction arm), or lossless WebP
    * ([[Vp8lDecode]], the hand-rolled VP8L bitstream arm) — else null. The
    * magics are mutually exclusive, so probe order is cosmetic. Callable
    * from generated code (static forwarder).
    */
  def lumaOrNull(p: Array[Byte]): Array[Byte] = {
    val ppm = ppmLumaOrNull(p)
    if (ppm != null) return ppm
    val bmp = bmpLumaOrNull(p)
    if (bmp != null) return bmp
    val png = PngDecode.pngLumaOrNull(p)
    if (png != null) png else Vp8lDecode.webpLumaOrNull(p)
  }

  /** The luminance plane of a binary P6 PPM payload (row-major, one byte per
    * pixel), or null if the payload is not a well-formed P6 under the rules
    * above.
    */
  def ppmLumaOrNull(p: Array[Byte]): Array[Byte] = {
    if (p == null || p.length < 2 || p(0) != 'P' || p(1) != '6') return null
    var i = skipWsAndComments(p, 2)
    if (i < 0) return null
    val wr = readInt(p, i); if (wr == null) return null
    val w = wr._1
    i = skipWsAndComments(p, wr._2); if (i < 0) return null
    val hr = readInt(p, i); if (hr == null) return null
    val h = hr._1
    i = skipWsAndComments(p, hr._2); if (i < 0) return null
    val mr = readInt(p, i); if (mr == null) return null
    val maxval = mr._1
    i = mr._2
    // exactly ONE whitespace byte between maxval and the raster
    if (i >= p.length || !isWs(p(i))) return null
    i += 1
    if (w < 1 || h < 1 || maxval < 1 || maxval > 255) return null
    val nPix = w.toLong * h.toLong
    if (p.length.toLong - i != nPix * 3L) return null
    val out = new Array[Byte](nPix.toInt)
    var k = 0
    while (k < out.length) {
      val r = p(i + 3 * k) & 0xff
      val g = p(i + 3 * k + 1) & 0xff
      val b = p(i + 3 * k + 2) & 0xff
      out(k) = Luma.rec601(r, g, b)
      k += 1
    }
    out
  }

  private def leU16(p: Array[Byte], off: Int): Int =
    (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)
  private def leU32(p: Array[Byte], off: Int): Long =
    (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
      ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)

  /** The luminance plane of an uncompressed 24bpp BMP payload (BITMAPINFOHEADER,
    * BI_RGB), row-major TOP-DOWN regardless of the file's row order, or null.
    * Restrictions for determinism: bpp must be 24, compression 0, and the
    * pixel array must fit exactly (rows padded to 4 bytes, any tail after the
    * last row rejected). BMP stores BGR bottom-up (negative height = top-down,
    * both accepted); rows are flipped so PPM and BMP of the same image yield
    * the same plane.
    */
  def bmpLumaOrNull(p: Array[Byte]): Array[Byte] = {
    if (p == null || p.length < 54 || p(0) != 'B' || p(1) != 'M') return null
    val dataOff = leU32(p, 10)
    val dibSize = leU32(p, 14)
    if (dibSize < 40) return null // BITMAPCOREHEADER etc. — not supported
    val w = leU32(p, 18).toInt // signed i32, but negative width is invalid anyway
    val hRaw = leU32(p, 22).toInt
    val topDown = hRaw < 0
    val h = if (topDown) -hRaw else hRaw
    val bpp = leU16(p, 28)
    val compression = leU32(p, 30)
    if (w < 1 || h < 1 || bpp != 24 || compression != 0L) return null
    if (dataOff < 14 + dibSize || dataOff > p.length) return null
    val rowBytes = ((w * 3 + 3) / 4) * 4 // rows pad to 4-byte boundaries
    if (p.length.toLong - dataOff != rowBytes.toLong * h) return null
    val out = new Array[Byte](w * h)
    var row = 0
    while (row < h) {
      val srcRow = if (topDown) row else h - 1 - row // emit top-down always
      val base = dataOff.toInt + srcRow * rowBytes
      var x = 0
      while (x < w) {
        val b = p(base + 3 * x) & 0xff // BGR order in BMP
        val g = p(base + 3 * x + 1) & 0xff
        val r = p(base + 3 * x + 2) & 0xff
        out(row * w + x) = Luma.rec601(r, g, b)
        x += 1
      }
      row += 1
    }
    out
  }
}
