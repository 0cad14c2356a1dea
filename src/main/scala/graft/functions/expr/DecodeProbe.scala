package graft.functions.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Binary → struct('arm', 'luma'): the WHOLE decode-probe chain of the
  * media pipeline in ONE expression — 'arm' is the decode provenance
  * ('exact' for the bit-exact pure-JVM decoders, 'imageio' for the JDK
  * codecs, 'stub' otherwise) and 'luma' the decoded luminance plane
  * (raw payload bytes when nothing decodes; null only for a null
  * payload). [[graft.multimodal.MediaPipeline.decodeArm]] and
  * [[graft.multimodal.MediaPipeline.lumaOrRaw]] are field extractions of
  * this single expression, so a plan reading BOTH provenance and pixels
  * runs the probe chain once by construction — previously each helper
  * built its own per-arm decode trees and only codegen-level
  * subexpression elimination, when it applied, deduplicated the decodes
  * (round-11 ADVICE). Null payloads do NOT null-propagate: the struct is
  * ('stub', null), exactly the old per-helper semantics
  * (when-otherwise → 'stub', coalesce of all-null → null).
  */
case class DecodeProbe(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = DecodeProbe.schema
  override def nullable: Boolean = false // null payload → ('stub', null)
  override def prettyName: String = "graft_decode_probe"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    DecodeProbe.probe(if (v == null) null else v.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        |${c.code}
        |InternalRow ${ev.value} = graft.functions.expr.DecodeProbe.probe(
        |  ${c.isNull} ? null : ${c.value});
      """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DecodeProbe =
    copy(child = newChild)
}

object DecodeProbe {
  val schema: StructType = StructType(Seq(
    StructField("arm", StringType, nullable = false),
    StructField("luma", BinaryType, nullable = true)))

  private val Exact = UTF8String.fromString("exact")
  private val ImageIo = UTF8String.fromString("imageio")
  private val Stub = UTF8String.fromString("stub")

  /** One probe chain → (arm, luma). Called from eval AND generated code
    * (the CodecLuma static-forwarder pattern). The probes are the same
    * real decodes the routing runs — never a magic-byte guess.
    */
  def probe(p: Array[Byte]): InternalRow = {
    if (p == null)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](Stub, null))
    val exact = graft.multimodal.PpmDecode.lumaOrNull(p)
    if (exact != null)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](Exact, exact))
    val codec = graft.multimodal.ImageIoDecode.lumaOrNull(p)
    if (codec != null)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](ImageIo, codec))
    else
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](Stub, p))
  }
}
