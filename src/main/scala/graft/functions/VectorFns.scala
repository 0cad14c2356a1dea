package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math over ArrayType(FloatType) columns (SURVEY.md §2.11).
  * Higher-order built-ins only (zip_with/aggregate/transform) — codegen'd,
  * distributed, no UDF serialization. Everything computes in DOUBLE with a
  * sequential left-fold so the DuckDB oracle (same casts, list_transform +
  * list_sum) reproduces results to full precision; DuckDB's native
  * list_cosine_similarity accumulates in float32 and is deliberately NOT the
  * oracle formulation.
  */
object VectorFns {
  import org.apache.spark.sql.graftshim.GraftColumn
  import graft.functions.expr.FloatArrayKernel
  import graft.functions.expr.FloatArrayKernel.{Cosine, Dot, SqL2}

  /** Dot product in double precision — the codegen'd [[FloatArrayKernel]]
    * (hot-path form; same fold order as [[dotHof]]).
    */
  def dot(a: Column, b: Column): Column =
    GraftColumn.lift2(FloatArrayKernel(_, _, Dot))(a, b)

  /** Higher-order-function dot — the portable reference formulation the
    * DuckDB oracle mirrors; property-tested equal to [[dot]].
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused squared-L2 distance (|a|²+|b|²-2a·b in ONE expression) — the
    * [[FloatArrayKernel]]'s `SqL2`; bit-equal to [[sqL2Composed]],
    * property-tested. The PQ distance kernel.
    */
  def sqL2(a: Column, b: Column): Column =
    GraftColumn.lift2(FloatArrayKernel(_, _, SqL2))(a, b)

  /** Composed three-dot form — the property-test reference for [[sqL2]]. */
  def sqL2Composed(a: Column, b: Column): Column =
    dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)

  /** Fused single-expression cosine (the [[FloatArrayKernel]]'s `Cosine`);
    * bit-equal to [[cosineComposed]], property-tested.
    */
  def cosine(a: Column, b: Column): Column =
    GraftColumn.lift2(FloatArrayKernel(_, _, Cosine))(a, b)

  /** Composed form (three expression evaluations) — reference for the test. */
  def cosineComposed(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Axis-aligned sign-bit LSH bucket over the first `bits` dimensions: bit j
    * set iff v[j+1] > 0. Deterministic (no RNG to ship to the oracle) and the
    * scale path for ANN: candidates are confined to the probe's bucket, so a
    * 100 TB corpus prunes to ~n/2^bits before any distance math.
    */
  def signBucket(v: Column, bits: Int): Column = signBucketAt(v, 0, bits)

  /** Sign-bit bucket over dims [offset, offset+bits): the band-`b` variant of
    * [[signBucket]] (offset = b*bits). Multi-band LSH unions candidates from
    * several disjoint dim groups, trading one more linear pass per band for
    * recall — the standard banding construction (one band missing a pair is
    * recovered by any other band agreeing).
    *
    * Round 21 (optimization guide §4): `bits` is a compile-time constant, so
    * the former `aggregate(transform(sequence(...)))` spelling — an
    * INTERPRETED higher-order fold building a scratch array per row per
    * band — unrolls to a flat codegen'd sum of `when(v[j+offset] > 0, 1<<j)`
    * terms (2^j as an integer literal instead of a double pow). Null
    * semantics are unchanged BY CONSTRUCTION: the old fold iterated the
    * index sequence (never the vector), so a null/short vector read
    * `get(...) = null → otherwise(0)` per bit — exactly what the unrolled
    * when-terms do. FunctionsSpec pins equality against the old spelling
    * including the null-vector row.
    */
  def signBucketAt(v: Column, offset: Int, bits: Int): Column = {
    // r21 ADVICE: 1 << j wraps silently for j >= 31 (the old pow(2.0, j)
    // spelling saturated differently) — fail loudly outside the supported
    // range instead of returning wrapped bucket ids.
    require(bits >= 1 && bits <= 31,
      s"signBucketAt: bits=$bits outside [1, 31] (Int shift would wrap)")
    (0 until bits).map(j =>
      when(get(v, lit(j + offset)) > 0, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)
  }

  /** The embedding LSH banding: an array of 8 band buckets, band b the
    * [[signBucketAt]] of dims [8b, 8b + 8). `q_dedup_embed`'s candidates
    * and the streaming ingest gate both band with it, so the gate finds
    * the pairs the batch query does.
    */
  def signBands(v: Column): Column =
    array((0 until 8).map(b => signBucketAt(v, b * 8, 8)): _*)
}
