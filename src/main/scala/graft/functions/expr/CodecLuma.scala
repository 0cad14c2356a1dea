package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Binary → binary decode of a compressed-codec payload (JPEG / GIF / TIFF,
  * [[graft.multimodal.ImageIoDecode.lumaOrNull]]) to its luminance plane,
  * NULL when the magic-byte gate or the JDK codec rejects it — the
  * compressed-codec arm of the decode ladder over a mixed media table
  * (the bit-exact arm is [[graft.multimodal.PpmDecode.lumaOrNull]]; the
  * whole ladder in one expression is [[DecodeProbe]]). Stays inside
  * whole-stage codegen via one static call; the
  * codec work itself is per-row CPU with no allocation visible to Tungsten
  * beyond the returned plane.
  */
case class CodecLuma(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // non-image payloads decode to NULL
  override def prettyName: String = "graft_codec_luma"

  override protected def nullSafeEval(input: Any): Any =
    graft.multimodal.ImageIoDecode.lumaOrNull(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bin => {
      s"""
         |${ev.value} = graft.multimodal.ImageIoDecode.lumaOrNull($bin);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CodecLuma =
    copy(child = newChild)
}
