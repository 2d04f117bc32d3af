package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native product-quantization expressions over [[Kernels.pqEncode]]
  * and [[Kernels.pqAdc]]. Codebooks ride along as one flattened
  * reference array: flat(m*k*sd + j*sd + i) = codebooks(m)(j)(i). */

/** Encode a float vector into numSub codeword indexes. */
case class PqEncode(child: Expression, flat: Array[Double], numSub: Int, k: Int, subDim: Int)
    extends UnaryExpression {
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // malformed (short) vectors encode to null rather than reading
  // out-of-bounds memory — the HOF form's null-padding analog
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    Kernels.pqEncode(input.asInstanceOf[ArrayData], flat, numSub, k, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, in =>
      Kernels.genOrNull(ev, s"pqEncode($in, $fRef, $numSub, $k, $subDim)"))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric distance from a code array (left) to a full-precision
  * float query vector column (right). */
case class PqAdc(left: Expression, right: Expression, flat: Array[Double],
    numSub: Int, k: Int, subDim: Int)
    extends BinaryExpression {
  override def prettyName: String = "pq_adc"
  override def dataType: DataType = DoubleType
  // malformed codes (wrong length / out-of-range, e.g. from a
  // mismatched model) yield null rather than indexing the wrong
  // codebook region silently
  override def nullable: Boolean = true

  override protected def nullSafeEval(codesAny: Any, qAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val q = qAny.asInstanceOf[ArrayData]
    if (Kernels.pqAdcValid(codes, q, numSub, k, subDim)) Kernels.pqAdc(codes, q, flat, numSub, k, subDim)
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (in, q) => Kernels.genIfValid(ev,
      s"pqAdcValid($in, $q, $numSub, $k, $subDim)", s"pqAdc($in, $q, $fRef, $numSub, $k, $subDim)"))
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
