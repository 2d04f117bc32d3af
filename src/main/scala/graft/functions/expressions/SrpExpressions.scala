package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All band signatures of a signed-random-projection LSH in ONE fused
  * pass: `planesFlat(((b*rowBits + j)*dim) + i)` is entry i of the
  * hyperplane for bit j of band b; output is `array<long>` of `bands`
  * packed signatures, each in [0, 2^rowBits).
  *
  * Composing the same thing from `bands × rowBits` per-plane dot
  * expressions (a `when(dot > 0, 1<<j)` sum per bit) builds an
  * expression tree large enough to break whole-stage codegen's method
  * limits and fall back to interpreted eval — measured 24x slower at
  * 128 planes. Each dot accumulates left-to-right over dims (double),
  * the exact fold the DuckDB oracle mirrors. Short (malformed) vectors
  * yield null, matching the null a padded zip_with dot would produce. */
case class SrpSignature(child: Expression, planesFlat: Array[Double], bands: Int, rowBits: Int)
    extends UnaryExpression {
  override def prettyName: String = "srp_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    Kernels.srpSignature(input.asInstanceOf[ArrayData], planesFlat, bands, rowBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("srpPlanes", planesFlat, "double[]")
    nullSafeCodeGen(ctx, ev, in =>
      Kernels.genOrNull(ev, s"srpSignature($in, $pRef, $bands, $rowBits)"))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
