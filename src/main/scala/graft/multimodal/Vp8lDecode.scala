package graft.multimodal

/** Deterministic pure-JVM decoder for LOSSLESS WebP (VP8L) — closing the
  * last common crawl-image format with ZERO new dependencies. WebP is the
  * one format the JDK has no codec for; the lossy arm (VP8 intra-frame
  * coding: boolean arithmetic decoding + DCT reconstruction) stays out of
  * scope, but the lossless arm is a self-contained bitstream — canonical
  * prefix codes + pixel LZ77 + a color cache + four reversible transforms
  * (RFC 9649 §3, the format spec is public) — hand-decodable the same way
  * [[PngDecode]] hand-decodes DEFLATE-filtered scanlines. Emits the same
  * top-down row-major integer luminance plane as the other exact arms, so
  * WebP-lossless payloads feed the identical phash/banded-Hamming dedup
  * chain and the container format stays invisible downstream.
  *
  * Supported: the full VP8L still-image stream — simple (1-2 symbol) and
  * code-length-coded prefix codes, meta prefix groups, color cache (1-11
  * bits), LZ77 with the 120-entry 2D distance map, and all four transforms
  * (predictor with its 14 modes plus libwebp's 14/15→black table padding,
  * cross-color, subtract-green, and color-indexing with sub-byte pixel
  * bundling) — in both the plain RIFF layout and the VP8X extended
  * container (metadata chunks walked past). Bounds, determinism-first
  * like every exact arm: at most 2^24 pixels; color-indexing combined with
  * predictor / cross-color transforms is rejected (no real encoder emits
  * the combination, and the spec leaves the interleaving of packed widths
  * underdefined); any malformed, truncated, over-subscribed-code, or
  * out-of-subset stream returns null and the caller falls through to the
  * opaque-bytes path — never a wrong pixel, never a throw.
  *
  * Correctness evidence, two independent sources: (1) round-trip property
  * tests against a test-side encoder (Vp8lSpec) plus a hand-verified
  * byte-exact golden; (2) DIFFERENTIAL decode against libwebp 7.1.5
  * (`dev/vp8l_diff.py`: images of every shape encoded with
  * `WebPEncodeLosslessRGBA`, decoded here, compared pixel-exact against
  * `WebPDecodeRGBA` — this caught a DEFLATE-style code-length-order
  * constant the symmetric round-trip tests could not see). The 120-entry
  * distance map is GENERATED from the spec's rule (neighborhood
  * (x ∈ [-7,8], y ∈ [0,7]) sorted by x²+y², then |x|, then sign), head-
  * pinned in the spec and byte-identical to libwebp's kCodeToPlane table.
  *
  * Luminance is [[Luma.rec601]], as in [[PpmDecode]]/[[PngDecode]]; alpha
  * ignored.
  */
object Vp8lDecode {

  /** LSB-first bit reader over the VP8L payload, buffered 64 bits at a
    * time with an un-consuming 8-bit lookahead for the prefix LUT.
    * Measured on a 1 Mpx random-walk image: naive per-bit indexing
    * 12 Mpx/s → buffered 14 → buffered + lazy LUT ~31 (the walk, not the
    * reader, was the bottleneck). Reads past the end flip `ok` and return
    * 0 — every caller checks `ok` before trusting output.
    */
  private final class Br(p: Array[Byte], startByte: Int) {
    private var bytePos = startByte
    private var buf = 0L
    private var nBuf = 0
    var ok = true
    private def fill(): Unit = {
      while (nBuf <= 56 && bytePos < p.length) {
        buf |= (p(bytePos) & 0xffL) << nBuf
        nBuf += 8
        bytePos += 1
      }
    }
    def bits(n: Int): Int = {
      if (!ok || n < 0 || n > 24) { ok = false; return 0 }
      if (nBuf < n) {
        fill()
        if (nBuf < n) { ok = false; return 0 }
      }
      val v = (buf & ((1L << n) - 1)).toInt
      buf >>>= n
      nBuf -= n
      v
    }
    /** One bit, the prefix-walk slow path. */
    def bit(): Int = {
      if (nBuf == 0) {
        fill()
        if (nBuf == 0) { ok = false; return 0 }
      }
      val v = (buf & 1L).toInt
      buf >>>= 1
      nBuf -= 1
      v
    }
    /** Next 8 stream bits WITHOUT consuming, zero-padded past the end —
      * the LUT lookahead. A padded lookup can only match a code whose
      * consume() then fails, so truncation still surfaces as !ok.
      */
    def peek8(): Int = {
      if (nBuf < 8) fill()
      (buf & 0xffL).toInt
    }
    def consume(n: Int): Unit = {
      if (nBuf < n) { ok = false }
      else { buf >>>= n; nBuf -= n }
    }
  }

  /** Canonical prefix code: either a zero-bit singleton or the flat
    * per-length `(firstCode, firstIdx, count)` arrays of the canonical
    * assignment (codes ordered by (length, symbol), first-read bit most
    * significant) — decode is two int-array reads per bit, no allocation
    * and no boxing in the per-pixel hot path.
    */
  private final class Prefix(val singleton: Int, count: Array[Int], firstCode: Array[Int],
      firstIdx: Array[Int], symbols: Array[Int], val maxLen: Int) {
    /** Root LUT over the next `rootBits` STREAM bits (LSB-first
      * lookahead): entry = (symbol << 4) | codeLen for codes of length
      * ≤ rootBits, -1 → slow walk (codes 9..15 bits, rare symbols by
      * construction). The stream serves a canonical code MSB-first, so a
      * code c of length l occupies the lookahead's low l bits
      * BIT-REVERSED, with all 2^(rootBits-l) high fillers.
      *
      * Built LAZILY on first decode and sized 2^min(maxLen,8): an
      * adversarial stream declaring 65536 meta groups of throwaway codes
      * retains nothing for groups never selected by a tile, and a
      * shallow code's table is a few entries, so retained LUT memory is
      * proportional to codes the pixel loop actually exercises. Trivial
      * 1-bit codes skip the table entirely.
      */
    private val rootBits = math.min(maxLen, 8)
    private var lut: Array[Int] = null
    private val lutSkip = singleton >= 0 || (symbols != null && symbols.length <= 2)
    def decode(br: Br): Int = {
      if (singleton >= 0) return singleton
      if (!lutSkip) {
        if (lut == null) buildLut()
        val e = lut(br.peek8() & ((1 << rootBits) - 1))
        if (e >= 0) {
          br.consume(e & 0xf)
          if (!br.ok) return -1
          return e >> 4
        }
      }
      // slow path: no LUT (1-bit codes) or codes longer than the root
      var code = 0
      var len = 0
      while (len < maxLen) {
        code = (code << 1) | br.bit()
        len += 1
        if (!br.ok) return -1
        if (lutSkip || len > rootBits) {
          val off = code - firstCode(len)
          if (off >= 0 && off < count(len)) return symbols(firstIdx(len) + off)
        }
      }
      -1
    }
    private def buildLut(): Unit = {
      val t = Array.fill(1 << rootBits)(-1)
      var len = 1
      while (len <= rootBits) {
        var off = 0
        while (off < count(len)) {
          val code = firstCode(len) + off
          var rev = 0
          var b = 0
          while (b < len) { rev |= ((code >> b) & 1) << (len - 1 - b); b += 1 }
          val entry = (symbols(firstIdx(len) + off) << 4) | len
          var filler = 0
          while (filler < (1 << (rootBits - len))) {
            t(rev | (filler << len)) = entry
            filler += 1
          }
          off += 1
        }
        len += 1
      }
      lut = t
    }
  }

  /** Build the canonical code from per-symbol lengths; null when the code
    * is incomplete or over-subscribed (except the 1-symbol zero-bit case).
    */
  private def canonical(lengths: Array[Int]): Prefix = {
    var used = 0
    var only = -1
    var maxLen = 0
    var i = 0
    while (i < lengths.length) {
      if (lengths(i) > 0) { used += 1; only = i; if (lengths(i) > maxLen) maxLen = lengths(i) }
      i += 1
    }
    if (used == 0 || maxLen > 15) return null
    if (used == 1) return new Prefix(only, null, null, null, null, 0)
    // Kraft sum must be exactly 1 for an unambiguous complete code.
    var kraft = 0L
    i = 0
    while (i < lengths.length) {
      if (lengths(i) > 0) kraft += 1L << (15 - lengths(i))
      i += 1
    }
    if (kraft != (1L << 15)) return null
    val count = new Array[Int](maxLen + 1)
    i = 0
    while (i < lengths.length) { if (lengths(i) > 0) count(lengths(i)) += 1; i += 1 }
    val firstCode = new Array[Int](maxLen + 1)
    val firstIdx = new Array[Int](maxLen + 1)
    var code = 0
    var idx = 0
    var l = 1
    while (l <= maxLen) {
      code = (code + count(l - 1)) << 1
      firstCode(l) = code
      firstIdx(l) = idx
      idx += count(l)
      l += 1
    }
    val symbols = new Array[Int](used)
    val fill = firstIdx.clone()
    i = 0
    while (i < lengths.length) {
      val len = lengths(i)
      if (len > 0) { symbols(fill(len)) = i; fill(len) += 1 }
      i += 1
    }
    new Prefix(-1, count, firstCode, firstIdx, symbols, maxLen)
  }

  // VP8L's code-length-code order puts symbol 16 at position 8 (NOT last,
  // as DEFLATE does) — verified against libwebp 7.1.5 by differential
  // decode (dev/vp8l_diff.py): with the DEFLATE-style order 40/48 real
  // encoder streams were rejected; with this one, 48/48 decode
  // byte-identically.
  private val ClOrder = Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** One prefix code from the stream (spec §3.5.2): 1-2 symbol "simple"
    * form or the code-length-coded canonical form with 16/17/18 repeats.
    */
  private def readPrefix(br: Br, alphabetSize: Int): Prefix = {
    val lengths = new Array[Int](alphabetSize)
    if (br.bits(1) == 1) { // simple
      val numSym = br.bits(1) + 1
      val first8 = br.bits(1)
      val s0 = br.bits(if (first8 == 1) 8 else 1)
      if (!br.ok || s0 >= alphabetSize) return null
      if (numSym == 2) {
        val s1 = br.bits(8)
        if (!br.ok || s1 >= alphabetSize || s1 == s0) return null
        lengths(s0) = 1; lengths(s1) = 1
      } else lengths(s0) = 1 // canonical() turns the lone symbol into a zero-bit code
    } else {
      val numCl = br.bits(4) + 4 // 4..19 by construction — covers ClOrder exactly
      val clLens = new Array[Int](19)
      var i = 0
      while (i < numCl) { clLens(ClOrder(i)) = br.bits(3); i += 1 }
      if (!br.ok) return null
      val clCode = canonical(clLens)
      if (clCode == null) return null
      var maxSymbol =
        if (br.bits(1) == 1) {
          val lnb = 2 + 2 * br.bits(3)
          2 + br.bits(lnb)
        } else alphabetSize
      if (maxSymbol > alphabetSize) return null // libwebp rejects a declared overrun
      var symbol = 0
      var prev = 8
      while (symbol < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = clCode.decode(br)
        if (cl < 0 || !br.ok) return null
        if (cl < 16) {
          lengths(symbol) = cl
          symbol += 1
          if (cl != 0) prev = cl
        } else {
          val (repeat, fill) = cl match {
            case 16 => (3 + br.bits(2), prev)
            case 17 => (3 + br.bits(3), 0)
            case _  => (11 + br.bits(7), 0)
          }
          if (!br.ok || symbol + repeat > alphabetSize) return null
          var r = 0
          while (r < repeat) { lengths(symbol) = fill; symbol += 1; r += 1 }
        }
      }
      if (!br.ok) return null
    }
    canonical(lengths)
  }

  /** The 120-entry short-distance map (spec §3.6.1): the (dx, dy)
    * neighborhood x ∈ [-7, 8], y ∈ [0, 7] (y = 0 only for x > 0), sorted
    * by squared distance, then |x|, then positive-x first. The head is
    * pinned against the published table in Vp8lSpec.
    */
  private[graft] val DistMap: Array[(Int, Int)] = {
    val cand = for {
      y <- 0 to 7
      x <- -7 to 8
      if y > 0 || x > 0
    } yield (x, y)
    cand.sortBy { case (x, y) => (x * x + y * y, math.abs(x), if (x < 0) 1 else 0) }.toArray
  }

  private def planeCodeToDistance(w: Int, code: Int): Int =
    if (code > 120) code - 120
    else {
      val (dx, dy) = DistMap(code - 1)
      math.max(1, dy * w + dx)
    }

  /** LZ77 length/distance prefix-value decoding (spec §3.6.2.2). */
  private def lz77Value(br: Br, code: Int): Int =
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      offset + br.bits(extra) + 1
    }

  private def divCeil(a: Int, b: Int): Int = (a + b - 1) / b

  /** One spatially-coded image (spec §3.7): color cache bit, optional meta
    * prefix groups (level0 only), prefix code groups, and the pixel loop.
    * Returns null on any malformation.
    */
  private def decodeImage(br: Br, w: Int, h: Int, level0: Boolean): Array[Int] = {
    if (w <= 0 || h <= 0 || w.toLong * h > Luma.MaxPixels) return null
    val nPix = w * h

    val hasCache = br.bits(1) == 1
    val cacheBits = if (hasCache) br.bits(4) else 0
    if (!br.ok || (hasCache && (cacheBits < 1 || cacheBits > 11))) return null
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null

    var metaImg: Array[Int] = null
    var metaBits = 0
    var metaW = 0
    var numGroups = 1
    if (level0 && br.bits(1) == 1) {
      metaBits = br.bits(3) + 2
      metaW = divCeil(w, 1 << metaBits)
      metaImg = decodeImage(br, metaW, divCeil(h, 1 << metaBits), level0 = false)
      if (metaImg == null) return null
      var m = 0
      var i = 0
      while (i < metaImg.length) {
        val g = (metaImg(i) >> 8) & 0xffff
        if (g > m) m = g
        i += 1
      }
      numGroups = m + 1 // bounded by the 16-bit (red<<8|green) group id
    }
    if (!br.ok) return null

    val greenAlpha = 256 + 24 + cacheSize
    val groups = new Array[Array[Prefix]](numGroups)
    var gi = 0
    while (gi < numGroups) {
      val codes = new Array[Prefix](5)
      val sizes = Array(greenAlpha, 256, 256, 256, 40)
      var ci = 0
      while (ci < 5) {
        codes(ci) = readPrefix(br, sizes(ci))
        if (codes(ci) == null) return null
        ci += 1
      }
      groups(gi) = codes
      gi += 1
    }

    val argb = new Array[Int](nPix)
    def insert(px: Int): Unit =
      if (cache != null) cache((0x1e35a7bd * px) >>> (32 - cacheBits)) = px
    var pos = 0
    var x = 0
    var y = 0
    var group = groups(0)
    var lastTileX = -1
    var lastTileY = -1
    while (pos < nPix) {
      if (metaImg != null) {
        val tx = x >> metaBits
        val ty = y >> metaBits
        if (tx != lastTileX || ty != lastTileY) {
          group = groups((metaImg(ty * metaW + tx) >> 8) & 0xffff)
          lastTileX = tx; lastTileY = ty
        }
      }
      val s = group(0).decode(br)
      if (s < 0 || !br.ok) return null
      if (s < 256) {
        val r = group(1).decode(br)
        val b = group(2).decode(br)
        val a = group(3).decode(br)
        if (r < 0 || b < 0 || a < 0 || !br.ok) return null
        val px = (a << 24) | (r << 16) | (s << 8) | b
        argb(pos) = px
        insert(px)
        pos += 1; x += 1; if (x == w) { x = 0; y += 1 }
      } else if (s < 256 + 24) {
        val length = lz77Value(br, s - 256)
        val dCode = group(4).decode(br)
        if (dCode < 0 || !br.ok) return null
        val dist = planeCodeToDistance(w, lz77Value(br, dCode))
        if (!br.ok || dist <= 0 || dist > pos || pos + length > nPix) return null
        var k = 0
        while (k < length) {
          val px = argb(pos - dist)
          argb(pos) = px
          insert(px)
          pos += 1; k += 1
        }
        x = pos % w; y = pos / w
        lastTileX = -1 // force group re-select after the copy
      } else {
        val idx = s - 256 - 24
        if (cache == null || idx >= cacheSize) return null
        val px = cache(idx)
        argb(pos) = px
        pos += 1; x += 1; if (x == w) { x = 0; y += 1 }
      }
    }
    argb
  }

  // ---- inverse transforms (spec §3.4), applied in reverse read order ----

  private def addGreen(argb: Array[Int]): Unit = {
    var i = 0
    while (i < argb.length) {
      val px = argb(i)
      val g = (px >> 8) & 0xff
      val r = (((px >> 16) & 0xff) + g) & 0xff
      val b = ((px & 0xff) + g) & 0xff
      argb(i) = (px & 0xff00ff00) | (r << 16) | b
      i += 1
    }
  }

  private def ctDelta(t: Int, c: Int): Int = (t.toByte.toInt * c.toByte.toInt) >> 5

  private def inverseColor(argb: Array[Int], w: Int, h: Int, bits: Int, tiles: Array[Int]): Unit = {
    val tw = divCeil(w, 1 << bits)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cm = tiles((y >> bits) * tw + (x >> bits))
        val g2r = cm & 0xff
        val g2b = (cm >> 8) & 0xff
        val r2b = (cm >> 16) & 0xff
        val px = argb(y * w + x)
        val g = (px >> 8) & 0xff
        val r = (((px >> 16) & 0xff) + ctDelta(g2r, g)) & 0xff
        var b = ((px & 0xff) + ctDelta(g2b, g)) & 0xff
        b = (b + ctDelta(r2b, r)) & 0xff
        argb(y * w + x) = (px & 0xff00ff00) | (r << 16) | b
        x += 1
      }
      y += 1
    }
  }

  private def avg2(a: Int, b: Int): Int = {
    val aa = (((a >>> 24) + (b >>> 24)) >> 1) & 0xff
    val rr = ((((a >> 16) & 0xff) + ((b >> 16) & 0xff)) >> 1) & 0xff
    val gg = ((((a >> 8) & 0xff) + ((b >> 8) & 0xff)) >> 1) & 0xff
    val bb = (((a & 0xff) + (b & 0xff)) >> 1) & 0xff
    (aa << 24) | (rr << 16) | (gg << 8) | bb
  }

  private def select(l: Int, t: Int, tl: Int): Int = {
    // |p-T| = |L-TL| and |p-L| = |T-TL| per channel for p = L+T-TL.
    def sumAbs(u: Int, v: Int): Int =
      math.abs((u >>> 24) - (v >>> 24)) +
        math.abs(((u >> 16) & 0xff) - ((v >> 16) & 0xff)) +
        math.abs(((u >> 8) & 0xff) - ((v >> 8) & 0xff)) +
        math.abs((u & 0xff) - (v & 0xff))
    val pL = sumAbs(t, tl)
    val pT = sumAbs(l, tl)
    if (pL < pT) l else t
  }

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def casFull(l: Int, t: Int, tl: Int): Int = {
    def ch(sh: Int): Int =
      clamp255(((l >>> sh) & 0xff) + ((t >>> sh) & 0xff) - ((tl >>> sh) & 0xff))
    (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
  }

  private def casHalf(l: Int, t: Int, tl: Int): Int = {
    val av = avg2(l, t)
    def ch(sh: Int): Int = {
      val a = (av >>> sh) & 0xff
      val b = (tl >>> sh) & 0xff
      clamp255(a + (a - b) / 2)
    }
    (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
  }

  private def inversePredictor(argb: Array[Int], w: Int, h: Int, bits: Int, tiles: Array[Int]): Unit = {
    val tw = divCeil(w, 1 << bits)
    def add(res: Int, pred: Int): Int = {
      val a = (((res >>> 24) + (pred >>> 24)) & 0xff) << 24
      val r = ((((res >> 16) & 0xff) + ((pred >> 16) & 0xff)) & 0xff) << 16
      val g = ((((res >> 8) & 0xff) + ((pred >> 8) & 0xff)) & 0xff) << 8
      val b = ((res & 0xff) + (pred & 0xff)) & 0xff
      a | r | g | b
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val pos = y * w + x
        val pred =
          if (x == 0 && y == 0) 0xff000000
          else if (y == 0) argb(pos - 1)     // top row: L
          else if (x == 0) argb(pos - w)     // left column: T
          else {
            // libwebp masks the green byte to 4 bits and pads table slots
            // 14/15 with Predictor0 (black) — mirror that, don't reject.
            val mode0 = (tiles((y >> bits) * tw + (x >> bits)) >> 8) & 0xf
            val mode = if (mode0 > 13) 0 else mode0
            val l = argb(pos - 1)
            val t = argb(pos - w)
            val tl = argb(pos - w - 1)
            // pos-w+1 is the contiguous-buffer TR; at x == w-1 it lands on
            // the current row's first (already reconstructed) pixel —
            // exactly the spec's addressing, no special case needed.
            val tr = argb(pos - w + 1)
            mode match {
              case 0  => 0xff000000
              case 1  => l
              case 2  => t
              case 3  => tr
              case 4  => tl
              case 5  => avg2(avg2(l, tr), t)
              case 6  => avg2(l, tl)
              case 7  => avg2(l, t)
              case 8  => avg2(tl, t)
              case 9  => avg2(t, tr)
              case 10 => avg2(avg2(l, tl), avg2(t, tr))
              case 11 => select(l, t, tl)
              case 12 => casFull(l, t, tl)
              case _  => casHalf(l, t, tl)
            }
          }
        argb(pos) = add(argb(pos), pred)
        x += 1
      }
      y += 1
    }
  }

  private final case class Transform(ttype: Int, bits: Int, data: Array[Int])

  /** ARGB pixels of a VP8L payload, or null when the payload is not a
    * lossless WebP this decoder accepts. Exposed for tests; production
    * callers use [[webpLumaOrNull]].
    */
  private[graft] def argbOrNull(p: Array[Byte]): (Int, Int, Array[Int]) = {
    if (p == null || p.length < 26) return null
    if (p(0) != 'R' || p(1) != 'I' || p(2) != 'F' || p(3) != 'F' ||
      p(8) != 'W' || p(9) != 'E' || p(10) != 'B' || p(11) != 'P') return null
    // Walk the RIFF chunks for the VP8L payload: plain lossless files have
    // it at offset 12; files saved with ICC/EXIF/XMP metadata wrap it in a
    // VP8X extended container with the VP8L chunk further in. A file with
    // only a lossy "VP8 " chunk walks off the end and returns null.
    var off = 12L
    var vp8lOff = -1L
    while (vp8lOff < 0 && off + 8 <= p.length) {
      val o = off.toInt
      val size = (p(o + 4) & 0xffL) | ((p(o + 5) & 0xffL) << 8) |
        ((p(o + 6) & 0xffL) << 16) | ((p(o + 7) & 0xffL) << 24)
      if (p(o) == 'V' && p(o + 1) == 'P' && p(o + 2) == '8' && p(o + 3) == 'L') vp8lOff = off + 8
      else off += 8 + size + (size & 1)
    }
    if (vp8lOff < 0 || vp8lOff + 5 > p.length) return null
    if ((p(vp8lOff.toInt) & 0xff) != 0x2f) return null
    val br = new Br(p, vp8lOff.toInt + 1)
    val w0 = br.bits(14) + 1
    val h = br.bits(14) + 1
    br.bits(1) // alpha-is-used hint
    if (br.bits(3) != 0 || !br.ok) return null // version must be 0
    if (w0.toLong * h > Luma.MaxPixels) return null

    // Transforms, in read order; each type at most once.
    var transforms = List.empty[Transform]
    var seen = Set.empty[Int]
    var w = w0 // packed width after color-indexing
    var palette: Array[Int] = null
    var paletteBits = 0
    while (br.ok && br.bits(1) == 1) {
      val ttype = br.bits(2)
      if (!br.ok || seen(ttype)) return null
      seen += ttype
      ttype match {
        case 0 | 1 => // predictor / cross-color: a tile sub-image
          val bits = br.bits(3) + 2
          val data = decodeImage(br, divCeil(w0, 1 << bits), divCeil(h, 1 << bits), level0 = false)
          if (data == null) return null
          transforms ::= Transform(ttype, bits, data)
        case 2 =>
          transforms ::= Transform(2, 0, null)
        case _ => // color indexing
          val nColors = br.bits(8) + 1
          val deltas = decodeImage(br, nColors, 1, level0 = false)
          if (deltas == null) return null
          palette = new Array[Int](nColors)
          var acc = 0
          var i = 0
          while (i < nColors) { // palette entries are component-wise delta-coded
            val d = deltas(i)
            val a = (((acc >>> 24) + (d >>> 24)) & 0xff) << 24
            val r = ((((acc >> 16) & 0xff) + ((d >> 16) & 0xff)) & 0xff) << 16
            val g = ((((acc >> 8) & 0xff) + ((d >> 8) & 0xff)) & 0xff) << 8
            val b = ((acc & 0xff) + (d & 0xff)) & 0xff
            acc = a | r | g | b
            palette(i) = acc
            i += 1
          }
          paletteBits = if (nColors <= 2) 3 else if (nColors <= 4) 2 else if (nColors <= 16) 1 else 0
          w = divCeil(w0, 1 << paletteBits)
          transforms ::= Transform(3, paletteBits, palette)
      }
    }
    if (!br.ok) return null
    // Packed-width interleaving with pixel-reordering transforms is
    // underdefined and unused by real encoders — out of subset.
    if (palette != null && (seen(0) || seen(1))) return null

    var argb = decodeImage(br, w, h, level0 = true)
    if (argb == null) return null

    // Inverse transforms in reverse read order (transforms list is already
    // reversed by the prepending above). A plain while loop, not a foreach
    // closure: the palette arm rejects with `return null`, which must stay
    // a LOCAL return — inside a `for` lambda it would compile to a
    // NonLocalReturnControl throw caught at the method boundary (round-11
    // ADVICE: works today, breaks silently under a broad catch or Scala 3).
    var rest = transforms
    while (rest.nonEmpty) {
      val tr = rest.head
      rest = rest.tail
      tr.ttype match {
        case 0 =>
          inversePredictor(argb, w0, h, tr.bits, tr.data)
        case 1 =>
          inverseColor(argb, w0, h, tr.bits, tr.data)
        case 2 =>
          addGreen(argb)
        case _ =>
          val pal = tr.data
          val out = new Array[Int](w0 * h)
          val bpp = 8 >> tr.bits
          val perByte = 1 << tr.bits
          val mask = (1 << bpp) - 1
          var y = 0
          while (y < h) {
            var xf = 0
            while (xf < w0) {
              val packed = argb(y * w + xf / perByte)
              val idx = (((packed >> 8) & 0xff) >> ((xf % perByte) * bpp)) & mask
              // Out-of-range index → reject the stream (round 10): every
              // other malformation path returns null, and real encoders
              // never emit indices >= palette length, so keeping the
              // never-a-wrong-pixel invariant uniform costs nothing in
              // acceptance — previously this one case decoded to pixel 0.
              // NOTE: libwebp's bundled (<=16-color) path zero-fills the
              // color map's tail and decodes such indices as 0x00000000
              // instead of failing. dev/vp8l_diff.py only feeds
              // well-formed encoder output, so it never reaches this; a
              // future fuzz-differential on MALFORMED bundled streams WILL
              // report accept-vs-reject mismatches here — expected and
              // intentional, not a decode bug.
              if (idx >= pal.length) return null
              out(y * w0 + xf) = pal(idx)
              xf += 1
            }
            y += 1
          }
          argb = out
      }
    }
    (w0, h, argb)
  }

  /** The luminance plane of a lossless-WebP payload (row-major, one byte
    * per pixel, top-down), or null when the payload is not a VP8L stream
    * this decoder accepts. Callable from generated code (static forwarder).
    */
  def webpLumaOrNull(p: Array[Byte]): Array[Byte] = {
    val res = argbOrNull(p)
    if (res == null) return null
    val (w, h, argb) = res
    val luma = new Array[Byte](w * h)
    var i = 0
    while (i < luma.length) {
      val px = argb(i)
      val r = (px >> 16) & 0xff
      val g = (px >> 8) & 0xff
      val b = px & 0xff
      luma(i) = Luma.rec601(r, g, b)
      i += 1
    }
    luma
  }
}
