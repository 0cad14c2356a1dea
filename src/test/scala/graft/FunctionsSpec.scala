package graft

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFns, VectorFns}
import graft.functions.expr.{BandedEditDistance, ByteGradientHash, StringPolyHash, TokenShingles}

class FunctionsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Per input row, each expression's (interpreted `eval`, generated code)
    * values as Scala values. DataFrame tests over local Seqs run only the
    * interpreted path (the optimizer folds a projection of a local
    * relation in place), so the generated code is compiled here directly,
    * without the interpreted fallback.
    */
  private def interpretedAndGenerated(exprs: Seq[Expression], rows: Seq[InternalRow]): Seq[Seq[(Any, Any)]] = {
    val generated = GenerateUnsafeProjection.generate(exprs)
    def scala(v: Any, t: DataType) = CatalystTypeConverters.convertToScala(v, t)
    rows.map { row =>
      val out = generated(row)
      exprs.indices.map { i =>
        val t = exprs(i).dataType
        (scala(exprs(i).eval(row), t), scala(if (out.isNullAt(i)) null else out.get(i, t), t))
      }
    }
  }

  /** Column `i` of a bound row. */
  private def arg(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  test("rollingHash matches the reference fold computed in plain Scala") {
    def fold(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % TextFns.HashMod)
    val inputs = Seq("a", "abc", "the fast key", "")
    val got = inputs.toDF("s").select(TextFns.rollingHash(col("s"))).as[Long].collect()
    assert(got.toSeq == inputs.map(fold))
  }

  test("property: codegen StringPolyHash equals the HOF fold on random strings") {
    val rnd = new scala.util.Random(23)
    val inputs = Seq.fill(100)(rnd.alphanumeric.take(rnd.nextInt(60) + 1).mkString(" "))
    val refs = inputs.toDF("s").select(TextFns.rollingHashHof(col("s"))).as[Long].collect()
    val got = interpretedAndGenerated(Seq(StringPolyHash(arg(0, StringType))),
      (inputs :+ null).map(s => InternalRow(UTF8String.fromString(s))))
    for ((Seq((interpreted, generated)), want) <- got.zip(refs.toSeq :+ null)) {
      assert(interpreted == generated, s"interpreted $interpreted, generated $generated")
      assert(interpreted == want, s"expression $interpreted, HOF fold $want")
    }
  }

  test("property: BandedEditDistance equals the thresholded builtin levenshtein") {
    val rnd = new scala.util.Random(41)
    val alpha = "abcd " // small alphabet → high collision rate → edits of every size
    def word(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    val pairs = Seq.tabulate(300) { i =>
      val a = word(rnd.nextInt(30))
      val b = i % 3 match {
        case 0 => word(rnd.nextInt(30)) // unrelated
        case 1 => // near-dup: shared prefix+suffix, small middle edit
          val mid = word(rnd.nextInt(4))
          a.take(a.length / 2) + mid + a.drop(a.length / 2)
        case _ => a // identical
      }
      (a, b, rnd.nextInt(8))
    } ++ Seq(("", "", 0), ("", "abc", 2), ("abc", "", 5), ("abc", "abc", 0),
      ("aa", "a", 1), ("a", "aa", 0))
    val fulls = pairs.map { case (a, b, t) =>
      val fast = graft.functions.expr.EditDistOps.banded(a, b, t)
      val full = Seq((a, b)).toDF("a", "b")
        .select(levenshtein(col("a"), col("b"))).as[Int].head()
      val want = if (full <= t) full else -1
      assert(fast == want, s"a='$a' b='$b' t=$t fast=$fast full=$full")
      full
    }
    // the expression at thresholds 0..7, interpreted and generated
    val thresholds = 0 until 8
    val got = interpretedAndGenerated(thresholds.map(BandedEditDistance(arg(0, StringType), arg(1, StringType), _)),
      pairs.map { case (a, b, _) => InternalRow(UTF8String.fromString(a), UTF8String.fromString(b)) })
    for ((row, ((a, b, _), full)) <- got.zip(pairs.zip(fulls)); ((interpreted, generated), t) <- row.zip(thresholds)) {
      val want = if (full <= t) full else -1
      assert(interpreted == want && generated == want,
        s"a='$a' b='$b' t=$t interpreted=$interpreted generated=$generated full=$full")
    }
  }

  test("property: BandedEditDistance counts code points on supplementary-plane text and survives huge thresholds") {
    // Round-9 ADVICE regressions: (a) non-BMP inputs must match the
    // builtin's CODE-POINT count (a char-indexed DP would charge an emoji
    // 2 edits); (b) t >= 2^30 must not overflow the band index or leak the
    // INF sentinel — the entry clamp bounds t at max(len).
    val rnd = new scala.util.Random(47)
    val cps = Seq(0x1F600, 0x1F4A9, 0x20000, 'a'.toInt, 'b'.toInt, 0x3042)
    def word(n: Int) =
      Seq.fill(n)(new String(Character.toChars(cps(rnd.nextInt(cps.length))))).mkString
    val pairs = Seq.tabulate(120) { i =>
      val a = word(rnd.nextInt(12))
      val b = if (i % 2 == 0) word(rnd.nextInt(12))
        else a.take(a.length / 2) + word(rnd.nextInt(3)) + a.drop(a.length / 2)
      (a, b, if (i % 5 == 0) Int.MaxValue - 1 else rnd.nextInt(8))
    } ++ Seq(
      ("😀", "a", 1),            // emoji vs letter: 1 substitution, not 2
      ("😀💩", "", 2), // two supplementary chars: distance 2
      ("abc", "abd", Int.MaxValue),        // huge threshold on BMP text
      ("", "", Int.MaxValue))
    for ((a, b, t) <- pairs) {
      val fast = graft.functions.expr.EditDistOps.banded(a, b, t)
      val full = Seq((a, b)).toDF("a", "b")
        .select(levenshtein(col("a"), col("b"))).as[Int].head()
      val want = if (full <= t) full else -1
      assert(fast == want, s"a='$a' b='$b' t=$t fast=$fast full=$full")
    }
  }

  test("property: cosine equals the composed dot/norm form bit-for-bit") {
    val rnd = new scala.util.Random(31)
    val vecs = Seq.fill(50)((
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("a", "b")
    val got = df.select(
      VectorFns.cosine(col("a"), col("b")).as("fused"),
      VectorFns.cosineComposed(col("a"), col("b")).as("ref")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("property: TopKAggregator equals sort-take under random insert orders and merges") {
    val rnd = new scala.util.Random(43)
    val agg = new graft.functions.TopKAggregator(3)
    for (_ <- 1 to 40) {
      val rows = Seq.fill(rnd.nextInt(12))((rnd.nextInt(5).toDouble, rnd.nextLong().abs))
      val expect = rows.sortBy(r => (-r._1, r._2)).take(3)
      // single-buffer reduction in arrival order
      val direct = rows.foldLeft(agg.zero)(agg.reduce)
      assert(direct == expect, s"direct $rows")
      // arbitrary split into two partial buffers, then merge
      val (l, r) = rows.splitAt(if (rows.isEmpty) 0 else rnd.nextInt(rows.size + 1))
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(merged == expect, s"merged $rows split at ${l.size}")
    }
  }

  test("property: sqL2 equals the composed three-dot form bit-for-bit") {
    val rnd = new scala.util.Random(37)
    val vecs = Seq.fill(50)((
      Array.fill(16)(rnd.nextFloat() * 2 - 1),
      Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("a", "b")
    val got = df.select(
      VectorFns.sqL2(col("a"), col("b")).as("fused"),
      VectorFns.sqL2Composed(col("a"), col("b")).as("ref")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("shingles produce n-w+1 space-joined grams; short docs yield none beyond the text") {
    val got = Seq("a b c d", "a b", "a").toDF("t")
      .select(TextFns.shinglesHof(TextFns.tokens(col("t")), 2))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("a b", "b c", "c d"), Seq("a b"), Seq()))
  }

  test("property: TokenShingles expression equals the HOF form (incl. empty-token edges)") {
    val rnd = new scala.util.Random(41)
    val words = Seq("a", "bb", "ccc", "dd", "e")
    val inputs = Seq.fill(60)(Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" ")) ++
      Seq("", "a", "a ", " a", "a  b") // empty/trailing/leading/double-space edges
    for (w <- Seq(2, 3)) {
      val refs = inputs.toDF("t")
        .select(TextFns.shinglesHof(TextFns.tokens(col("t")), w)).as[Seq[String]].collect()
      val got = interpretedAndGenerated(Seq(TokenShingles(arg(0, StringType), w)),
        inputs.map(t => InternalRow(UTF8String.fromString(t))))
      for ((Seq((interpreted, generated)), (t, want)) <- got.zip(inputs.zip(refs))) {
        assert(interpreted == generated, s"w=$w '$t': interpreted $interpreted, generated $generated")
        assert(interpreted == want, s"w=$w '$t': expression $interpreted, HOF form $want")
      }
    }
  }

  test("stopwordCount counts only list members") {
    val got = Seq("the a the b", "b c").toDF("t")
      .select(TextFns.stopwordCount(TextFns.tokens(col("t"))))
      .as[Int].collect().toSeq
    assert(got == Seq(3, 0))
  }

  test("cosine identities: parallel=1, orthogonal=0, antiparallel=-1") {
    val df = Seq(
      (Array(1f, 0f), Array(2f, 0f)),
      (Array(1f, 0f), Array(0f, 3f)),
      (Array(1f, 0f), Array(-1f, 0f))).toDF("a", "b")
    val got = df.select(round(VectorFns.cosine(col("a"), col("b")), 9)).as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0, -1.0))
  }

  test("signBucket packs sign bits little-endian over leading dims") {
    val df = Seq(
      Array(1f, -1f, 1f, -1f),   // bits 1,0,1,0 -> 5
      Array(-1f, -1f, -1f, -1f), // 0
      Array(1f, 1f, 1f, 1f))     // 15
      .toDF("v")
    val got = df.select(VectorFns.signBucket(col("v"), 4)).as[Int].collect().toSeq
    assert(got == Seq(5, 0, 15))
  }

  test("property: unrolled signBucketAt equals the interpreted-HOF fold, nulls included (round 21)") {
    // The old spelling, reconstructed: aggregate(transform(sequence(...)))
    // — the interpreted fold the round-21 unroll replaced.
    def hofForm(v: org.apache.spark.sql.Column, offset: Int, bits: Int) =
      aggregate(
        transform(
          sequence(lit(0), lit(bits - 1)),
          j => when(get(v, j + offset) > 0, pow(lit(2.0), j).cast("int")).otherwise(lit(0))),
        lit(0),
        (acc, x) => acc + x)
    val rnd = new scala.util.Random(17)
    val vecs: Seq[Array[Float]] =
      Seq.fill(40)(Array.fill(64)(rnd.nextFloat() * 2 - 1)) :+
        (null: Array[Float]) // null vector must stay null through both spellings
    val df = vecs.toDF("v")
    for ((offset, bits) <- Seq((0, 4), (0, 8), (24, 8), (56, 8))) {
      val got = df.select(
        VectorFns.signBucketAt(col("v"), offset, bits).as("fast"),
        hofForm(col("v"), offset, bits).as("ref")).collect()
      got.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch at ($offset,$bits)")
        if (!r.isNullAt(0)) assert(r.getInt(0) == r.getInt(1), s"value mismatch at ($offset,$bits)")
      }
    }
  }

  test("property: dot equals the HOF fold bit-for-bit") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(50)((
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("a", "b")
    val got = df.select(
      VectorFns.dot(col("a"), col("b")).as("fast"),
      VectorFns.dotHof(col("a"), col("b")).as("ref")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("dot handles nulls and mismatched lengths") {
    val df = Seq(
      (Some(Array(1f, 2f, 3f)), Some(Array(4f, 5f))), // min-length semantics
      (None, Some(Array(1f)))                          // null -> null
    ).toDF("a", "b")
    val got = df.select(VectorFns.dot(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == 14.0)
    assert(got(1).isNullAt(0))
  }

  test("float-array kernel: interpreted eval equals the generated code and the composed reference for dot, cosine and sql2") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.functions.expr.FloatArrayKernel
    import graft.functions.expr.FloatArrayKernel.{Cosine, Dot, SqL2}
    val floats = ArrayType(FloatType, containsNull = false)
    val ops = Seq(Dot, Cosine, SqL2)
    val kernels = ops.map(FloatArrayKernel(arg(0, floats), arg(1, floats), _))
    // (interpreted, generated) per operation
    def both(a: Array[Float], b: Array[Float]): Seq[(Any, Any)] = interpretedAndGenerated(kernels,
      Seq(InternalRow(Option(a).map(ArrayData.toArrayData).orNull, Option(b).map(ArrayData.toArrayData).orNull))).head

    val rnd = new scala.util.Random(59)
    val vecs = Seq.fill(50)((
      Array.fill(48)(rnd.nextFloat() * 2 - 1),
      Array.fill(48)(rnd.nextFloat() * 2 - 1)))
    val refs = vecs.toDF("a", "b").select(
      VectorFns.dotHof(col("a"), col("b")),
      VectorFns.cosineComposed(col("a"), col("b")),
      VectorFns.sqL2Composed(col("a"), col("b"))).collect()
    for (((a, b), ref) <- vecs.zip(refs); ((interpreted, gen), i) <- both(a, b).zipWithIndex) {
      assert(interpreted == gen, s"${ops(i)}: interpreted $interpreted, generated $gen")
      assert(interpreted == ref.getDouble(i), s"${ops(i)}: kernel $interpreted, reference ${ref.getDouble(i)}")
    }

    // null input -> null in both paths
    val nulls: Seq[(Array[Float], Array[Float])] = Seq((null, Array(1f)), (Array(1f), null), (null, null))
    for ((a, b) <- nulls) assert(both(a, b) == ops.map(_ => (null, null)), s"${Option(a)} ${Option(b)}")

    // mismatched lengths: the dot over min(len), each norm over its whole array
    val (dot, na, nb) = (1.0 * 4 + 2.0 * 5, 1.0 + 4 + 9, 16.0 + 25)
    val want = Seq(dot, dot / (math.sqrt(na) * math.sqrt(nb)), na + nb - 2.0 * dot)
    assert(both(Array(1f, 2f, 3f), Array(4f, 5f)) == want.map(v => (v, v)))
    assert(both(Array(4f, 5f), Array(1f, 2f, 3f)) == want.map(v => (v, v)))
  }

  test("one float-array fold and one luma formula: src/main/scala spells each only in its definition") {
    // A second expression folding float arrays, or a second copy of the
    // Rec.601 weights or of the 2^24 pixel cap, lets the copies drift
    // apart. Comments are skipped: docs may quote the formula.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${root.toAbsolutePath}")
    val kernel = root.resolve("graft/functions/expr/FloatArrayKernel.scala")
    val luma = root.resolve("graft/multimodal/Luma.scala")
    // (pattern, its one home, code lines expected there)
    val spellings = Seq(
      ("""\bgetFloat\(|\btoFloatArray\(""".r, kernel, 2), // the interpreted and the generated fold
      ("""\b299\b.*\b587\b.*\b114\b""".r, luma, 1),
      ("""\b1L?\s*<<\s*24\b""".r, luma, 1))
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val code = files.flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.collect {
      case (line, i) if !Seq("*", "/*", "//").exists(line.trim.startsWith) =>
        (f, s"$f:${i + 1}: ${line.trim}", line.replaceAll("//.*", ""))
    })
    for ((re, home, n) <- spellings) {
      val (own, stray) = code.filter(c => re.findFirstIn(c._3).isDefined).partition(_._1 == home)
      assert(stray.isEmpty, stray.map(_._2).mkString("\n"))
      assert(own.size == n, s"$re: expected $n code line(s) in $home, found ${own.map(_._2)}")
    }
  }

  test("graft_dot is registered as a SQL function via GraftExtensions") {
    val got = Seq((Array(1f, 2f), Array(3f, 4f))).toDF("a", "b")
      .selectExpr("graft_dot(a, b)").as[Double].collect().head
    assert(got == 11.0)
  }

  test("MinHashAggregator equals the DataFrame min-over-affine formulation") {
    val rnd = new scala.util.Random(5)
    val rows = Seq.fill(300)((rnd.nextInt(10).toLong, rnd.nextInt(100000).toLong))
    val ds = rows.toDF("doc_id", "h").as[(Long, Long)]

    val typed = ds.groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.MinHashAggregator(8).toColumn.name("sig"))
      .collect().toMap.view.mapValues(_.toSeq).toMap

    val frame = rows.toDF("doc_id", "h")
      .withColumn("i", explode(sequence(lit(0), lit(7))))
      .groupBy(col("doc_id"), col("i"))
      .agg(min(TextFns.affineHash(col("h"), col("i"))).as("minh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("i"), col("minh")))).as("s"))
      .select(col("doc_id"), transform(col("s"), p => p.getField("minh")).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap

    assert(typed == frame)
  }

  test("MinHashAggregator input mapping: typed agg consumes the shingle hash column") {
    // known-value check: the aggregator folds the mapped hash member
    val ds = Seq((1L, 10L), (1L, 3L), (2L, 7L)).toDS()
    val sig = ds.groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.MinHashAggregator(2).toColumn.name("sig"))
      .collect().toMap
    // key 1: min over h∈{10,3}: i=0: (3h+7)%P -> min(37,16)=16; i=1: (5h+18)%P -> min(68,33)=33
    assert(sig(1L).toSeq == Seq(16L, 33L))
    assert(sig(2L).toSeq == Seq(3L * 7 + 7, 5L * 7 + 18))
  }

  test("dot is double-precision (no f32 drift on large values)") {
    val df = Seq((Array(1e7f, 1f), Array(1e7f, 1f))).toDF("a", "b")
    val got = df.select(VectorFns.dot(col("a"), col("b"))).as[Double].collect().head
    assert(got == 1e14 + 1.0)
  }

  test("property: codegen ByteGradientHash equals the reference fold, incl. short payloads") {
    def ref(bytes: Array[Byte]): Long = {
      val n = bytes.length
      val s = new Array[Long](33)
      val c = new Array[Long](33)
      for (i <- 0 until n) {
        val b = ((i.toLong * 33L) / n).toInt
        s(b) += (bytes(i) & 0xff).toLong
        c(b) += 1L
      }
      (0 until 32).foldLeft(0L)((h, b) =>
        if (s(b) * c(b + 1) > s(b + 1) * c(b)) h | (1L << b) else h)
    }
    val rnd = new scala.util.Random(53)
    // lengths straddle the 33-byte block boundary: empty-block semantics,
    // exactly-33, and long payloads all pinned
    val inputs = (Seq(1, 5, 32, 33, 34) ++ Seq.fill(40)(rnd.nextInt(600) + 1))
      .map(len => Array.fill(len)(rnd.nextInt(256).toByte))
    val got = interpretedAndGenerated(Seq(ByteGradientHash(arg(0, BinaryType))), inputs.map(InternalRow(_)))
    for ((Seq((interpreted, generated)), want) <- got.zip(inputs.map(ref))) {
      assert(interpreted == generated, s"interpreted $interpreted, generated $generated")
      assert(interpreted == want, s"expression $interpreted, reference fold $want")
    }
  }

  test("ByteGradientHash is stable under near-duplication (tail truncation)") {
    // Gradient hashes are stable for SMOOTH signals (decoded images/audio),
    // not white noise — use a slow sinusoid, the shape a real decoder emits.
    val base = Array.tabulate(400)(i =>
      (128 + 100 * math.sin(i / 20.0)).toInt.toByte)
    val trunc = base.take(390) // a re-encode/truncated-tail near-dup
    val hs = Seq(base, trunc).toDF("b")
      .select(graft.multimodal.MediaPipeline.phash(col("b"))).as[Long].collect()
    val dist = java.lang.Long.bitCount(hs(0) ^ hs(1))
    assert(dist <= 6, s"near-dup payloads should stay Hamming-close, got $dist")
    // and an unrelated signal (phase-shifted) is NOT close
    val other = Array.tabulate(400)(i =>
      (128 + 100 * math.sin(i / 20.0 + math.Pi)).toInt.toByte)
    val hs2 = Seq(base, other).toDF("b")
      .select(graft.multimodal.MediaPipeline.phash(col("b"))).as[Long].collect()
    assert(java.lang.Long.bitCount(hs2(0) ^ hs2(1)) > 6)
  }
}
