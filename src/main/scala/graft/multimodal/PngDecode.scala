package graft.multimodal

/** Deterministic pure-JVM PNG decode — the dominant real-world image format,
  * closing the compressed-codec gap in the media pipeline with ZERO new
  * dependencies: `java.util.zip.Inflater` (zlib ships in the JDK) plus the
  * five PNG scanline filters (None/Sub/Up/Average/Paeth) reconstructed by
  * hand. Emits the same top-down row-major integer luminance plane as
  * [[PpmDecode]], so PNG payloads feed the identical phash/banded-Hamming
  * dedup chain and the format stays invisible downstream.
  *
  * Accepted subset (determinism-first, like the PPM/BMP arms): bit depth 8
  * or 16 for color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA);
  * bit depth 1, 2, 4 or 8 for color type 3 (palette — round 11: PLTE
  * lookup, sub-byte indices unpacked MSB-first per spec §7.2, the row's
  * trailing pad bits ignored); interlace 0 (none) or 1 (Adam7 — round 9:
  * the seven passes are unfiltered independently, each against its own
  * pass neighbors per the spec, and scattered to (xs + px·dx, ys + py·dy)),
  * at most 2^24 pixels ([[Luma.MaxPixels]]) and 2^26 raw sample bytes
  * (the byte cap only bites 16-bit inputs — the 8-bit acceptance set is
  * unchanged). 16-bit samples
  * reduce to their HIGH byte (network order, v >> 8 — pure integer, both
  * engines reproduce it). IDAT chunks concatenate in order; every other
  * chunk is skipped (tRNS included — alpha is ignored for luminance).
  *
  * Palette strictness: PLTE must be well-formed (len % 3 == 0, 1..256
  * entries, after IHDR, before IDAT, exactly one) and every decoded index
  * must be in range, else the whole payload is rejected — the
  * never-a-wrong-pixel invariant shared with [[Vp8lDecode]]. The
  * placement/shape rules apply to EVERY color type, not just the one that
  * reads the palette: a PLTE on grayscale types 0/4 is spec-forbidden
  * (§11.2.3) and rejects the payload, and a duplicate, post-IDAT, or
  * size-invalid PLTE on truecolor types 2/6 rejects too (there it is a
  * legal suggested palette when well-placed — validated, then skipped,
  * never read). (libpng errors on out-of-range indices too; some decoders
  * zero-fill instead — a differential against such a decoder would see
  * accept-vs-reject mismatches on malformed streams only, which is
  * expected and intentional.)
  *
  * Leniency, stated plainly: chunk CRC32s and the zlib Adler-32 trailer are
  * NOT verified (the stream is raw-inflated after a manual 2-byte zlib
  * header check) — the same permissive posture as libpng's CRC_QUIET_USE.
  * Verification guards against corruption, not decode correctness; a
  * 100 TB ingest wants the bytes decoded, with integrity handled by the
  * storage layer's checksums. MediaPipelineSpec's goldens decode
  * fully-valid Deflater-compressed files, filter-by-filter, including
  * Adam7 and 16-bit planes.
  *
  * Luminance is [[Luma.rec601]], as in every decoder; gray samples pass
  * through, alpha is ignored (dedup compares content, not transparency).
  */
object PngDecode {

  private val Sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
  private val MaxSampleBytes = 1L << 26 // pixel plane bytes incl. 16-bit samples

  /** Adam7 pass geometry: (xStart, yStart, xStep, yStep), spec order. The
    * non-interlaced image is the single pass (0, 0, 1, 1) — one code path
    * serves both, so the interlaced arm can't drift from the plain one.
    */
  private val Adam7 = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
  private val NoInterlace = Array((0, 0, 1, 1))

  private def beU32(p: Array[Byte], off: Int): Long =
    ((p(off) & 0xffL) << 24) | ((p(off + 1) & 0xffL) << 16) |
      ((p(off + 2) & 0xffL) << 8) | (p(off + 3) & 0xffL)

  /** The luminance plane of a PNG payload in the subset above (row-major,
    * one byte per pixel, top-down), or null when the payload is not a PNG
    * this subset decodes. Callable from generated code (static forwarder).
    */
  def pngLumaOrNull(p: Array[Byte]): Array[Byte] = {
    if (p == null || p.length < Sig.length + 25) return null
    var i = 0
    while (i < Sig.length) { if (p(i) != Sig(i)) return null; i += 1 }

    var w = 0; var h = 0; var channels = 0; var sampleBytes = 0
    var isPalette = false; var depth = 0; var colorType = -1
    var palette: Array[Byte] = null; var sawPlte = false
    var passes: Array[(Int, Int, Int, Int)] = null
    var sawIhdr = false
    val idat = new java.io.ByteArrayOutputStream()
    var off = Sig.length
    var done = false
    while (!done) {
      if (off + 8 > p.length) return null // truncated chunk header
      val len = beU32(p, off)
      if (len > Int.MaxValue - 12 || off + 12 + len > p.length) return null
      val t0 = p(off + 4); val t1 = p(off + 5); val t2 = p(off + 6); val t3 = p(off + 7)
      val dataOff = off + 8
      if (t0 == 'I' && t1 == 'H' && t2 == 'D' && t3 == 'R') {
        if (sawIhdr || len != 13) return null
        sawIhdr = true
        val wL = beU32(p, dataOff); val hL = beU32(p, dataOff + 4)
        // Each axis is bounded BEFORE the product: beU32 values reach
        // 2^32−1, so a crafted 0xFFFFFFFF×0xFFFFFFFF header would wrap
        // wL*hL negative and sail past both caps, decoding to a bogus
        // 1-byte "plane" (spec-pinned reject).
        if (wL < 1 || hL < 1 || wL > Luma.MaxPixels || hL > Luma.MaxPixels ||
          wL * hL > Luma.MaxPixels) return null
        w = wL.toInt; h = hL.toInt
        depth = p(dataOff + 8) & 0xff
        colorType = p(dataOff + 9) & 0xff
        val compression = p(dataOff + 10) & 0xff
        val filterMethod = p(dataOff + 11) & 0xff
        val interlace = p(dataOff + 12) & 0xff
        if (compression != 0 || filterMethod != 0) return null
        isPalette = colorType == 3
        if (isPalette) {
          if (depth != 1 && depth != 2 && depth != 4 && depth != 8) return null
          channels = 1; sampleBytes = 1 // one index byte per pixel once unpacked
        } else {
          if (depth != 8 && depth != 16) return null
          sampleBytes = depth / 8
          channels = colorType match {
            case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
            case _ => return null
          }
        }
        passes = interlace match {
          case 0 => NoInterlace
          case 1 => Adam7
          case _ => return null
        }
        if (wL * hL * channels * sampleBytes > MaxSampleBytes) return null
      } else if (t0 == 'P' && t1 == 'L' && t2 == 'T' && t3 == 'E') {
        // PLTE placement/shape rules (spec §11.2.3) hold for EVERY color
        // type, not just the one that READS the palette: after IHDR,
        // before any IDAT, exactly one, 1..256 RGB triples. PLTE is
        // spec-FORBIDDEN on the grayscale types 0 and 4, so its presence
        // there rejects the payload (the decoder's documented contract is
        // strict-reject; gating these checks on isPalette had silently
        // widened acceptance for malformed type-0/2/4/6 streams — round-12
        // ADVICE). On truecolor types 2/6 a well-placed PLTE is a legal
        // suggested palette that never affects the luminance plane:
        // validated, then skipped without storage.
        if (!sawIhdr || colorType == 0 || colorType == 4) return null
        if (sawPlte || idat.size() > 0 ||
          len == 0 || len % 3 != 0 || len > 768) return null
        sawPlte = true
        if (isPalette)
          palette = java.util.Arrays.copyOfRange(p, dataOff, dataOff + len.toInt)
      } else if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
        if (!sawIhdr) return null
        idat.write(p, dataOff, len.toInt)
      } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') {
        done = true
      }
      off = dataOff + len.toInt + 4 // skip data + (unverified) CRC
      if (!done && off > p.length) return null
    }
    if (!sawIhdr) return null
    if (isPalette && palette == null) return null
    val z = idat.toByteArray
    // zlib wrapper: CM=deflate, no preset dictionary, header checksum valid.
    if (z.length < 3 || (z(0) & 0x0f) != 8 || (z(1) & 0x20) != 0 ||
      (((z(0) & 0xff) << 8) | (z(1) & 0xff)) % 31 != 0) return null

    val bpp = channels * sampleBytes // per-pixel bytes in the UNPACKED plane
    // Filter unit (spec §9): bytes per pixel rounded UP to one — sub-byte
    // palette rows filter on packed bytes with a 1-byte lookback.
    val fbpp = if (isPalette) 1 else bpp
    // Scanline bytes for a pw-pixel pass row (packed for sub-byte palette).
    def rowBytes(pw: Int): Int =
      if (isPalette) (pw * depth + 7) / 8 else pw * bpp
    // pass dimensions + total inflated size (one filter byte per pass row;
    // empty passes contribute no scanlines at all)
    def passDims(pass: (Int, Int, Int, Int)): (Int, Int) = {
      val (xs, ys, dx, dy) = pass
      val pw = if (w > xs) (w - xs + dx - 1) / dx else 0
      val ph = if (h > ys) (h - ys + dy - 1) / dy else 0
      (pw, ph)
    }
    var expectedL = 0L
    for (pass <- passes) {
      val (pw, ph) = passDims(pass)
      if (pw > 0 && ph > 0) expectedL += ph.toLong * (1L + rowBytes(pw).toLong)
    }
    if (expectedL > Int.MaxValue) return null // unreachable under the byte cap
    val expected = expectedL.toInt
    val raw = new Array[Byte](expected)
    val inf = new java.util.zip.Inflater(true) // raw: Adler-32 trailer unchecked
    try {
      inf.setInput(z, 2, z.length - 2)
      var got = 0
      while (got < expected && !inf.finished()) {
        val n = inf.inflate(raw, got, expected - got)
        if (n == 0 && inf.needsInput()) return null // truncated stream
        got += n
      }
      if (got < expected) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()

    // Per pass: filter reconstruction against the PASS's own neighbors
    // (a = left, b = above, c = upper-left, all 0 outside the pass — PNG
    // spec §9), then scatter the pass pixels to their image positions.
    val pix = new Array[Byte](w * h * bpp) // full raw sample plane
    var rawOff = 0
    for (pass <- passes) {
      val (xs, ys, dx, dy) = pass
      val (pw, ph) = passDims(pass)
      if (pw > 0 && ph > 0) {
        val stride = rowBytes(pw)
        // The non-interlaced single pass has exactly pix's layout:
        // reconstruct straight into it — no second plane, no scatter — so
        // the dominant hot path keeps the pre-Adam7 cost. Interlaced
        // passes (and sub-byte palette rows, which need bit-unpacking)
        // reconstruct into a pass-local plane first (the filters
        // reference PASS neighbors, not image neighbors).
        val direct = dx == 1 && dy == 1 && xs == 0 && ys == 0 &&
          (!isPalette || depth == 8)
        val sub = if (direct) pix else new Array[Byte](ph * stride)
        var row = 0
        while (row < ph) {
          val ft = raw(rawOff + row * (1 + stride)) & 0xff
          if (ft > 4) return null
          val src = rawOff + row * (1 + stride) + 1
          val dst = row * stride
          var x = 0
          while (x < stride) {
            val f = raw(src + x) & 0xff
            val a = if (x >= fbpp) sub(dst + x - fbpp) & 0xff else 0
            val b = if (row > 0) sub(dst - stride + x) & 0xff else 0
            val c = if (row > 0 && x >= fbpp) sub(dst - stride + x - fbpp) & 0xff else 0
            val recon = ft match {
              case 0 => f
              case 1 => f + a
              case 2 => f + b
              case 3 => f + ((a + b) >> 1)
              case 4 => // Paeth: nearest of a,b,c to p=a+b-c, ties a > b > c
                val pp = a + b - c
                val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
                f + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
            }
            sub(dst + x) = recon.toByte
            x += 1
          }
          row += 1
        }
        rawOff += ph * (1 + stride)
        if (!direct) {
          if (isPalette && depth < 8) {
            // Unpack MSB-first sub-byte indices (spec §7.2; trailing pad
            // bits in each packed row are ignored) and scatter one index
            // byte per pixel.
            val mask = (1 << depth) - 1
            var py = 0
            while (py < ph) {
              val rowBase = py * stride
              var px = 0
              while (px < pw) {
                val bitPos = px * depth
                val shift = 8 - depth - (bitPos & 7)
                val idxv = ((sub(rowBase + (bitPos >> 3)) & 0xff) >> shift) & mask
                pix((ys + py * dy) * w + (xs + px * dx)) = idxv.toByte
                px += 1
              }
              py += 1
            }
          } else {
            var py = 0
            while (py < ph) {
              if (dx == 1) // contiguous pass row (Adam7 pass 7): one copy
                System.arraycopy(sub, py * stride, pix,
                  ((ys + py * dy) * w + xs) * bpp, stride)
              else {
                var px = 0
                while (px < pw) {
                  System.arraycopy(sub, (py * pw + px) * bpp, pix,
                    ((ys + py * dy) * w + (xs + px * dx)) * bpp, bpp)
                  px += 1
                }
              }
              py += 1
            }
          }
        }
      }
    }

    // Palette: indices → PLTE RGB → the same integer Rec.601. A 256-entry
    // LUT makes the per-pixel step one load; any index at-or-past the
    // palette end rejects the payload (see the scaladoc's strictness note).
    if (isPalette) {
      val n = palette.length / 3
      val lut = new Array[Byte](256)
      var j = 0
      while (j < n) {
        val r = palette(3 * j) & 0xff
        val g = palette(3 * j + 1) & 0xff
        val b = palette(3 * j + 2) & 0xff
        lut(j) = Luma.rec601(r, g, b)
        j += 1
      }
      val out = new Array[Byte](w * h)
      var k = 0
      while (k < out.length) {
        val idx = pix(k) & 0xff
        if (idx >= n) return null
        out(k) = lut(idx)
        k += 1
      }
      return out
    }

    // Luminance: same integer Rec.601 as PpmDecode; gray passes through;
    // 16-bit samples reduce to the high (first, big-endian) byte. 8-bit
    // grayscale IS the plane already — return it without a copy.
    if (channels == 1 && sampleBytes == 1) return pix
    val out = new Array[Byte](w * h)
    var k = 0
    while (k < out.length) {
      val base = k * bpp
      if (channels <= 2) out(k) = pix(base) // gray / gray+alpha
      else {
        val r = pix(base) & 0xff
        val g = pix(base + sampleBytes) & 0xff
        val b = pix(base + 2 * sampleBytes) & 0xff
        out(k) = Luma.rec601(r, g, b)
      }
      k += 1
    }
    out
  }
}
