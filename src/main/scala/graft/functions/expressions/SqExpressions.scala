package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native scalar-quantization expressions (the int8 siblings of the PQ
  * expressions in [[PqExpressions]]) over [[Kernels.sqEncode]] and
  * [[Kernels.sqAdc]]. Per-dimension bounds ride along as reference
  * arrays. Malformed input is the one deliberate deviation from the
  * `zip_with`/`aggregate` forms: see the per-expression notes.
  */

/** Encode a float vector into per-dimension int codes in [0, 255]:
  * floor(clamp((x−lo)/(hi−lo), 0, 1)·255); degenerate dims (hi == lo)
  * encode to 0. Wrong-length (malformed) vectors encode to a single
  * whole-array NULL — an intentional tightening of the zip_with form,
  * which instead null-padded per element and returned a non-null array
  * with NULL entries (a shape the declared
  * `ArrayType(IntegerType, containsNull = false)` forbids); a fully
  * null code array is an unambiguous reject signal where element-level
  * nulls decode to silently-wrong distances. NaN inputs clamp to code
  * 255, matching Spark's least/greatest (and DuckDB's) NaN-is-largest
  * ordering. */
case class SqEncode(child: Expression, lo: Array[Double], hi: Array[Double])
    extends UnaryExpression {
  override def prettyName: String = "sq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    Kernels.sqEncode(input.asInstanceOf[ArrayData], lo, hi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("sqLo", lo, "double[]")
    val hiRef = ctx.addReferenceObj("sqHi", hi, "double[]")
    nullSafeCodeGen(ctx, ev, in => Kernels.genOrNull(ev, s"sqEncode($in, $loRef, $hiRef)"))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric squared-L2 from an int8 code array (left) to a
  * full-precision float query (right): decode each code to
  * `lo + code/255·(hi−lo)` and accumulate squared deltas
  * dim-ascending. Malformed inputs (wrong-length arrays on either
  * side, out-of-range codes) yield NULL for the whole distance — like
  * SqEncode, an intentional tightening versus the HOF rendering (whose
  * per-element null-padding could surface as a null or partial sum
  * depending on the aggregate's null handling), so a malformed row can
  * never rank. */
case class SqAdc(left: Expression, right: Expression, lo: Array[Double], hi: Array[Double])
    extends BinaryExpression {
  override def prettyName: String = "sq_adc"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(codesAny: Any, qAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val q = qAny.asInstanceOf[ArrayData]
    if (Kernels.sqAdcValid(codes, q, lo.length)) Kernels.sqAdc(codes, q, lo, hi) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("sqLo", lo, "double[]")
    val hiRef = ctx.addReferenceObj("sqHi", hi, "double[]")
    nullSafeCodeGen(ctx, ev, (in, q) => Kernels.genIfValid(ev,
      s"sqAdcValid($in, $q, ${lo.length})", s"sqAdc($in, $q, $loRef, $hiRef)"))
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
