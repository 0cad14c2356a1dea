package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{PngDecode, PpmDecode, Vp8lDecode}

/** Executable form of the malformed-stream contracts the decoders document
  * in prose (`PngDecode` scaladoc strictness note, `Vp8lDecode.scala`'s
  * zero-fill divergence comment): seeded random corruptions of REAL
  * encoder output (JDK PNG/BMP writers, the pinned libwebp-encoded VP8L
  * fixtures) driven through every decode arm, asserting
  *
  *  1. null-never-throw — a corrupted payload is rejected (null) or
  *     decoded, never an exception (the codegen call sites wrap no
  *     try/catch; a throw would fail the whole task);
  *  2. determinism — the same corrupted bytes decode to the identical
  *     result twice (no internal state, no locale/time dependence);
  *  3. decode-or-reject, no partial planes — when a header survives
  *     corruption of the payload, an accepted decode is exactly the
  *     header-sized plane, never a truncated or zero-filled remainder;
  *  4. CRC leniency is exactly benign — corrupting ONLY CRC bytes (which
  *     the decoder documents as unverified) must yield the identical
  *     plane as the pristine file, while
  *  5. content corruption that keeps the container VALID (IDAT payload
  *     corrupted, CRC re-computed) must still agree pixel-for-pixel with
  *     the JDK's own PNG reader whenever both engines accept —
  *     accept-vs-reject mismatches are expected (documented leniency
  *     differences), wrong pixels are not.
  */
class DecodeFuzzSpec extends AnyFunSuite {

  private def rec601(r: Int, g: Int, b: Int): Byte =
    PngTestBytes.rec601(r, g, b).toByte

  // ---- corpus: real-encoder fixtures ----

  private def jdkPng(bi: java.awt.image.BufferedImage): Array[Byte] =
    PngTestBytes.jdkPng(bi)

  private def rgbImage(w: Int, h: Int, seed: Int): java.awt.image.BufferedImage = {
    val rnd = new scala.util.Random(seed)
    val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      bi.setRGB(x, y, 0xff000000 | rnd.nextInt(1 << 24))
    bi
  }

  private lazy val pngFixtures: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(12012)
    val gray = new java.awt.image.BufferedImage(23, 17, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 17; x <- 0 until 23) gray.getRaster.setSample(x, y, 0, rnd.nextInt(256))
    val gray16 = new java.awt.image.BufferedImage(11, 9, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 9; x <- 0 until 11) gray16.getRaster.setSample(x, y, 0, rnd.nextInt(65536))
    val argb = new java.awt.image.BufferedImage(19, 13, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 13; x <- 0 until 19) argb.setRGB(x, y, rnd.nextInt())
    val indexed = new java.awt.image.BufferedImage(21, 14, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 14; x <- 0 until 21) indexed.setRGB(x, y, 0xff000000 | rnd.nextInt(1 << 24))
    Seq(
      "rgb" -> jdkPng(rgbImage(24, 18, 12013)),
      "gray" -> jdkPng(gray),
      "gray16" -> jdkPng(gray16),
      "argb" -> jdkPng(argb),
      "indexed" -> jdkPng(indexed))
  }

  private lazy val vp8lFixtures: Seq[(String, Array[Byte])] =
    Seq("gradient", "palette", "photowalk", "metamix").map { name =>
      val in = getClass.getResourceAsStream(s"/vp8l/$name.webp")
      assert(in != null, s"missing fixture /vp8l/$name.webp")
      name -> in.readAllBytes()
    }

  private lazy val bmpFixture: Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(rgbImage(25, 19, 12017), "bmp", baos))
    baos.toByteArray
  }

  private lazy val ppmFixture: Array[Byte] = {
    val rnd = new scala.util.Random(12019)
    val head = "P6\n21 15\n255\n".getBytes("US-ASCII")
    val body = new Array[Byte](21 * 15 * 3); rnd.nextBytes(body)
    head ++ body
  }

  // ---- corruption kernel (seeded, deterministic) ----

  private def corrupt(rnd: scala.util.Random, src: Array[Byte]): Array[Byte] =
    rnd.nextInt(5) match {
      case 0 => // flip 1..8 random single bits, in place
        val out = src.clone()
        for (_ <- 0 to rnd.nextInt(8)) {
          val at = rnd.nextInt(out.length)
          out(at) = (out(at) ^ (1 << rnd.nextInt(8))).toByte
        }
        out
      case 1 => // truncate anywhere
        src.take(1 + rnd.nextInt(src.length - 1))
      case 2 => // overwrite a random range with noise
        val out = src.clone()
        val at = rnd.nextInt(out.length)
        val n = math.min(1 + rnd.nextInt(32), out.length - at)
        val noise = new Array[Byte](n); rnd.nextBytes(noise)
        System.arraycopy(noise, 0, out, at, n)
        out
      case 3 => // zero a random range
        val out = src.clone()
        val at = rnd.nextInt(out.length)
        java.util.Arrays.fill(out, at, math.min(at + 1 + rnd.nextInt(64), out.length), 0.toByte)
        out
      case _ => // append trailing garbage
        val tail = new Array[Byte](1 + rnd.nextInt(64)); rnd.nextBytes(tail)
        src ++ tail
    }

  /** Decode twice through `dec`; fail loudly (with enough context to replay
    * the seed) on a throw or nondeterminism; return the plane or null.
    */
  private def driveOnce(dec: Array[Byte] => Array[Byte], bytes: Array[Byte],
      ctx: => String): Array[Byte] = {
    val a = try dec(bytes) catch {
      case e: Throwable => fail(s"$ctx: decoder threw ${e.getClass.getName}: ${e.getMessage}")
    }
    val b = dec(bytes)
    assert((a == null) == (b == null) && (a == null || a.sameElements(b)),
      s"$ctx: nondeterministic decode")
    a
  }

  test("seeded byte-level fuzz: every decode arm rejects or decodes, never throws, deterministically") {
    val arms: Seq[(String, Array[Byte], Array[Byte] => Array[Byte])] =
      pngFixtures.map { case (n, b) => (s"png/$n", b, PngDecode.pngLumaOrNull _) } ++
        vp8lFixtures.map { case (n, b) => (s"vp8l/$n", b, Vp8lDecode.webpLumaOrNull _) } ++
        Seq(("bmp", bmpFixture, PpmDecode.bmpLumaOrNull _),
          ("ppm", ppmFixture, PpmDecode.ppmLumaOrNull _))
    for ((name, pristine, dec) <- arms) {
      assert(driveOnce(dec, pristine, s"$name pristine") != null, s"$name: corpus fixture rejected")
      val rnd = new scala.util.Random(name.hashCode * 7919L + 12007L)
      var accepted = 0
      for (trial <- 0 until 120) {
        val mutated = corrupt(rnd, pristine)
        if (driveOnce(dec, mutated, s"$name trial=$trial") != null) accepted += 1
      }
      // not an acceptance-rate contract — a canary that the fuzz isn't
      // vacuously rejecting everything at the signature check: the
      // trailing-garbage mode (~24 of 120 trials) leaves the payload
      // intact, so every arm must accept SOMETHING (seeded, so stable)
      assert(accepted > 0, s"$name: all 120 corruptions rejected — fuzz is vacuous for this arm")
    }
  }

  test("VP8L: every truncation point rejects cleanly (no throw, no partial plane)") {
    for ((name, bytes) <- vp8lFixtures) {
      val want = Vp8lDecode.webpLumaOrNull(bytes)
      val step = math.max(1, bytes.length / 97)
      var cut = 1
      while (cut < bytes.length) {
        val got = driveOnce(Vp8lDecode.webpLumaOrNull _, bytes.take(cut), s"vp8l/$name cut=$cut")
        // a truncated stream either rejects or (when the cut only removes
        // bytes past the last needed symbol) reproduces the FULL plane —
        // never a shorter one
        assert(got == null || got.sameElements(want), s"vp8l/$name cut=$cut: partial plane")
        cut += step
      }
    }
  }

  // ---- PNG chunk surgery helpers ----

  /** (offset, length, type) of each chunk in a well-formed PNG. */
  private def chunks(png: Array[Byte]): Seq[(Int, Int, String)] = {
    val out = Seq.newBuilder[(Int, Int, String)]
    var off = 8
    while (off + 8 <= png.length) {
      val len = ((png(off) & 0xff) << 24) | ((png(off + 1) & 0xff) << 16) |
        ((png(off + 2) & 0xff) << 8) | (png(off + 3) & 0xff)
      val tpe = new String(png, off + 4, 4, "US-ASCII")
      out += ((off, len, tpe))
      off += 12 + len
    }
    out.result()
  }

  private def putInt(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = (v >>> 24).toByte; a(off + 1) = (v >>> 16).toByte
    a(off + 2) = (v >>> 8).toByte; a(off + 3) = v.toByte
  }

  private val pngSig = PngTestBytes.sig

  private def pngChunkBytes(tpe: String, data: Array[Byte]): Array[Byte] =
    PngTestBytes.chunk(tpe, data)

  private def insertChunk(png: Array[Byte], at: Int, chunk: Array[Byte]): Array[Byte] =
    png.take(at) ++ chunk ++ png.drop(at)

  test("PNG: corrupting ONLY CRC bytes decodes identically to the pristine file (documented CRC leniency)") {
    for ((name, pristine) <- pngFixtures) {
      val want = PngDecode.pngLumaOrNull(pristine)
      val rnd = new scala.util.Random(name.hashCode * 6007L + 31L)
      for (trial <- 0 until 20) {
        val mutated = pristine.clone()
        val cs = chunks(mutated)
        val (off, len, _) = cs(rnd.nextInt(cs.length))
        putInt(mutated, off + 8 + len, rnd.nextInt()) // clobber the CRC field
        val got = driveOnce(PngDecode.pngLumaOrNull _, mutated, s"png/$name crc trial=$trial")
        assert(got != null && got.sameElements(want),
          s"png/$name crc trial=$trial: CRC-only corruption changed the decode")
      }
    }
  }

  test("PNG: content corruption in a VALID container — reject, or agree with the JDK reader pixel-for-pixel") {
    // The strongest malformed-stream property: corrupt the FILTERED bytes
    // (inflate the pristine IDAT, flip bytes, re-deflate, rebuild with
    // correct CRCs) so the container stays fully valid while the content is
    // garbage. PngDecode (CRC-lenient) and ImageIO (CRC-checked, satisfied)
    // both see a plausible stream; whenever BOTH accept, the planes must
    // match — a divergence would be a silently-wrong pixel, exactly what
    // the strict-reject contract forbids. (Flips landing on a scanline's
    // filter-type byte can push it past 4: PngDecode rejects, ImageIO
    // throws — an expected both-reject, skipped.) RGB fixture only: its
    // getRGB read-back is exact (no gray gamma, no palette indirection).
    // Raw deflate-stream byte flips (the weaker variant) ride along in the
    // generic fuzz test; they essentially always fail inflate in both
    // engines, which is why the differential needs the re-deflate form.
    val pristine = pngFixtures.toMap.apply("rgb")
    val cs = chunks(pristine)
    val ihdrChunk = { val (off, len, _) = cs.find(_._3 == "IHDR").get; pristine.slice(off, off + 12 + len) }
    val idatPayload = cs.filter(_._3 == "IDAT").toArray.flatMap { case (off, len, _) =>
      pristine.slice(off + 8, off + 8 + len)
    }
    val inf = new java.util.zip.Inflater()
    inf.setInput(idatPayload)
    val raw = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      assert(n > 0 || !inf.needsInput(), "pristine IDAT failed to inflate")
      raw.write(buf, 0, n)
    }
    inf.end()
    val rawBytes = raw.toByteArray
    val rnd = new scala.util.Random(1201207L)
    var compared = 0
    for (trial <- 0 until 80) {
      val corruptedRaw = rawBytes.clone()
      // in-place bit flip: bind ONE index so the mutation is "XOR a nonzero
      // mask at position A" (two independent nextInt calls here would write
      // other-byte^mask at a different position — still corruption, but not
      // the mutation the seed replay describes)
      for (_ <- 0 to rnd.nextInt(8)) {
        val at = rnd.nextInt(corruptedRaw.length)
        corruptedRaw(at) = (corruptedRaw(at) ^ (1 + rnd.nextInt(255))).toByte
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(corruptedRaw); defl.finish()
      val z = new java.io.ByteArrayOutputStream()
      while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
      defl.end()
      val mutated = pngSig ++ ihdrChunk ++ pngChunkBytes("IDAT", z.toByteArray) ++
        pngChunkBytes("IEND", Array.emptyByteArray)
      val got = driveOnce(PngDecode.pngLumaOrNull _, mutated, s"png/rgb idat trial=$trial")
      // header untouched: an accepted decode is the full 24x18 plane
      assert(got == null || got.length == 24 * 18, s"idat trial=$trial: partial plane")
      val jdk = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(mutated))
        catch { case _: Throwable => null }
      if (got != null && jdk != null && jdk.getWidth == 24 && jdk.getHeight == 18) {
        val ref = new Array[Byte](24 * 18)
        for (y <- 0 until 18; x <- 0 until 24) {
          val p = jdk.getRGB(x, y)
          ref(y * 24 + x) = rec601((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
        }
        assert(got.sameElements(ref), s"idat trial=$trial: decoded pixels diverge from the JDK reader")
        compared += 1
      }
    }
    // the differential must actually fire, and often: the container is valid
    // by construction, so only filter-type-byte flips may cause a skip
    assert(compared > 40, s"differential fired only $compared/80 times")
  }

  test("PNG PLTE strictness: forbidden on gray types, placement/shape validated on truecolor, benign when legal") {
    val plte = Array.tabulate[Byte](24 * 3)(i => (i * 11).toByte)
    val gray = pngFixtures.toMap.apply("gray")
    val rgb = pngFixtures.toMap.apply("rgb")
    val indexed = pngFixtures.toMap.apply("indexed")
    def afterIhdr(png: Array[Byte]): Int = { val (off, len, _) = chunks(png).find(_._3 == "IHDR").get; off + 12 + len }
    def afterFirstIdat(png: Array[Byte]): Int = { val (off, len, _) = chunks(png).find(_._3 == "IDAT").get; off + 12 + len }

    // spec-forbidden: PLTE on grayscale (type 0) rejects even when well-formed
    assert(PngDecode.pngLumaOrNull(insertChunk(gray, afterIhdr(gray), pngChunkBytes("PLTE", plte))) == null)
    // truecolor: a legal suggested palette is skipped — decode unchanged
    val want = PngDecode.pngLumaOrNull(rgb)
    val suggested = insertChunk(rgb, afterIhdr(rgb), pngChunkBytes("PLTE", plte))
    assert(PngDecode.pngLumaOrNull(suggested).sameElements(want))
    // ...but a misplaced (post-IDAT), duplicate, or size-invalid PLTE rejects
    assert(PngDecode.pngLumaOrNull(insertChunk(rgb, afterFirstIdat(rgb), pngChunkBytes("PLTE", plte))) == null)
    val dup = insertChunk(suggested, afterIhdr(suggested), pngChunkBytes("PLTE", plte))
    assert(PngDecode.pngLumaOrNull(dup) == null)
    assert(PngDecode.pngLumaOrNull(insertChunk(rgb, afterIhdr(rgb), pngChunkBytes("PLTE", plte.take(4)))) == null)
    assert(PngDecode.pngLumaOrNull(insertChunk(rgb, afterIhdr(rgb), pngChunkBytes("PLTE", Array.emptyByteArray))) == null)
    // palette images: duplicate and post-IDAT PLTE reject there too
    val dupIdx = insertChunk(indexed, afterIhdr(indexed), pngChunkBytes("PLTE", plte))
    assert(PngDecode.pngLumaOrNull(dupIdx) == null)
  }

  test("ImageIO arm (JPEG/GIF/TIFF): seeded fuzz never throws; truncation sweep; decode-bomb cap; magic-byte gate") {
    import graft.multimodal.{ImageIoDecode, Luma}
    def via(fmt: String, bi: java.awt.image.BufferedImage): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, fmt, baos), s"JDK cannot write $fmt")
      baos.toByteArray
    }
    val grayPlane = Array.tabulate[Byte](26 * 18)(i => (i * 7).toByte)
    val fixtures = Seq(
      "jpeg/gray" -> ImageIoDecode.encodeGrayJpeg(grayPlane, width = 26),
      "jpeg/rgb" -> via("jpeg", rgbImage(24, 17, 13001)),
      "gif" -> via("gif", rgbImage(22, 16, 13003)),
      "tiff" -> via("tiff", rgbImage(20, 15, 13007)))
    for ((name, pristine) <- fixtures) {
      val want = driveOnce(ImageIoDecode.lumaOrNull _, pristine, s"$name pristine")
      assert(want != null, s"$name: corpus fixture rejected")
      // seeded corruption: never-throw / deterministic / bounded plane
      val rnd = new scala.util.Random(name.hashCode * 6011L + 13009L)
      var accepted = 0
      for (trial <- 0 until 120) {
        val got = driveOnce(ImageIoDecode.lumaOrNull _, corrupt(rnd, pristine), s"$name trial=$trial")
        if (got != null) {
          accepted += 1
          assert(got.nonEmpty && got.length <= Luma.MaxPixels,
            s"$name trial=$trial: plane size ${got.length} outside the decode cap")
        }
      }
      assert(accepted > 0, s"$name: all 120 corruptions rejected — fuzz is vacuous for this arm")
      // truncation sweep: reject-or-decode at every cut, never a throw
      val step = math.max(1, pristine.length / 97)
      var cut = 1
      while (cut < pristine.length) {
        driveOnce(ImageIoDecode.lumaOrNull _, pristine.take(cut), s"$name cut=$cut")
        cut += step
      }
    }
    // decode-bomb cap: a VALID image whose pixel count exceeds MaxPixels
    // must fail the row (null), never materialize the plane
    val bombSide = 4200 // 4200*4200 = 17.64M > 2^24 = 16.78M
    val bomb = ImageIoDecode.encodeGrayJpeg(new Array[Byte](bombSide * bombSide), width = bombSide)
    assert(ImageIoDecode.lumaOrNull(bomb) == null, "over-cap decode must be rejected")
    // magic-byte gate: formats owned by the hand decoders never route here
    assert(ImageIoDecode.lumaOrNull(pngFixtures.head._2) == null)
    assert(ImageIoDecode.lumaOrNull(bmpFixture) == null)
    assert(ImageIoDecode.lumaOrNull(null) == null)
    assert(ImageIoDecode.lumaOrNull(Array[Byte](1, 2)) == null)
  }

  test("PCM audio fold: fuzz payloads are total and match an independent reference fold") {
    import graft.multimodal.MediaPipeline
    // independent reference: ByteBuffer int16 LE view + BigInt accumulation
    def ref(p: Array[Byte]): (Long, Long, Long, Long) = {
      val bb = java.nio.ByteBuffer.wrap(p, 0, p.length - (p.length % 2))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
      val vs = Array.fill(bb.remaining())(bb.get().toLong)
      val sumSq = vs.map(v => BigInt(v) * BigInt(v)).sum
      assert(sumSq.isValidLong, "reference fold overflow — test fixture too large")
      val zc = vs.sliding(2).count(w => w.length == 2 && (w(0) < 0) != (w(1) < 0))
      (vs.length.toLong, sumSq.toLong, if (vs.isEmpty) 0L else vs.map(math.abs).max, zc.toLong)
    }
    val rnd = new scala.util.Random(14011L)
    // edge payloads: empty, single byte (odd tail only), all-extremes
    val extremes = Array[Byte](0, 0x80.toByte, 0xff.toByte, 0x7f, 1, 0) // LE pairs: -32768, 32767, 1
    for (p <- Seq(Array.emptyByteArray, Array[Byte](9), extremes))
      assert(MediaPipeline.pcmStats(p) == ref(p), s"edge payload ${p.toSeq}")
    assert(MediaPipeline.pcmStats(null) == ((0L, 0L, 0L, 0L)))
    for (trial <- 0 until 300) {
      val p = new Array[Byte](rnd.nextInt(257))
      rnd.nextBytes(p)
      val got = MediaPipeline.pcmStats(p)
      assert(got == ref(p), s"trial=$trial len=${p.length}: $got != ${ref(p)}")
    }
  }
}
