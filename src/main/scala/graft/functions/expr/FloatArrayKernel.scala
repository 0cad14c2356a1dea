package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import FloatArrayKernel._

/** The codegen'd float-array kernel: dot product, cosine similarity or
  * squared-L2 distance of two ArrayType(FloatType) columns, in double
  * precision, as one tight generated-Java function per row.
  *
  * Why it exists: Spark's higher-order functions (transform/aggregate/
  * zip_with) don't participate in whole-stage codegen; on an O(n²) similarity
  * join every element of every pair pays interpreter + boxing overhead. This
  * is the "custom Catalyst Expression beats UDF beats interpreted" rung of
  * the extension ladder — a UDF would still pay per-row serialization into
  * Scala land.
  *
  * Every accumulator is the same sequential left-to-right double fold as
  * [[graft.functions.VectorFns.dotHof]] (and therefore the DuckDB oracle's
  * `list_sum`): the dot over min(len(a), len(b)) elements, then, for
  * [[Cosine]] and [[SqL2]] only, |a|² and |b|² over each whole array. Only
  * the final combine differs per operation, and each has the shape of its
  * composed reference, so results are bit-equal to it:
  *  - [[Dot]]: the dot alone (one loop);
  *  - [[Cosine]]: dot / (sqrt(|a|²) · sqrt(|b|²)), as
  *    [[graft.functions.VectorFns.cosineComposed]];
  *  - [[SqL2]]: |a|² + |b|² − 2·dot — NOT the direct Σ(aᵢ−bᵢ)² form — as
  *    [[graft.functions.VectorFns.sqL2Composed]] and the oracle's three
  *    `list_sum` folds. The PQ index (codebook training, encoding and ADC
  *    tables) runs on it.
  *
  * Semantics: null input → null (nullSafeEval); null array *elements* are
  * not expected (embeddings are dense) and read as 0.0 per
  * ArrayData.getFloat. Zero-norm cosine is 0/0 = NaN, deliberately: that
  * matches the composed form and the oracle. Spark orders NaN as the
  * GREATEST double, so an `orderBy(cos.desc)` top-k ranks zero-embedding
  * pairs first (DuckDB sorts NaN last); corpora that can hold zero
  * embeddings should pre-filter on a positive norm or wrap the call in
  * `nanvl(cos, lit(0.0))`.
  */
case class FloatArrayKernel(left: Expression, right: Expression, op: Op)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = op.prettyName

  // the operation is in the name: plans print graft_cosine_f32(a, b)
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    def fold(u: ArrayData, v: ArrayData, n: Int): Double = {
      var sum = 0.0
      var i = 0
      while (i < n) {
        sum += u.getFloat(i).toDouble * v.getFloat(i).toDouble
        i += 1
      }
      sum
    }
    val dot = fold(x, y, math.min(x.numElements(), y.numElements()))
    if (op == Dot) dot
    else {
      val na = fold(x, x, x.numElements())
      val nb = fold(y, y, y.numElements())
      if (op == Cosine) dot / (math.sqrt(na) * math.sqrt(nb)) else na + nb - 2.0 * dot
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      def fold(sum: String, u: String, v: String, len: String) =
        s"""
           |double $sum = 0.0;
           |for (int $i = 0; $i < $len; $i++) {
           |  $sum += (double) $u.getFloat($i) * (double) $v.getFloat($i);
           |}""".stripMargin
      val (norms, result) =
        if (op == Dot) ("", dot)
        else (fold(na, a, a, s"$a.numElements()") + fold(nb, b, b, s"$b.numElements()"),
          if (op == Cosine) s"$dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb))"
          else s"$na + $nb - 2.0 * $dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());${fold(dot, a, b, n)}$norms
         |${ev.value} = $result;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatArrayKernel =
    copy(left = newLeft, right = newRight)
}

object FloatArrayKernel {

  /** The kernel's operation; `prettyName` is its name in plans and SQL. */
  sealed abstract class Op(val prettyName: String)
  case object Dot extends Op("graft_dot_f32")
  case object Cosine extends Op("graft_cosine_f32")
  case object SqL2 extends Op("graft_sql2_f32")
}
