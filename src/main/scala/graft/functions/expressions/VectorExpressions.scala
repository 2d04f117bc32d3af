package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the vector kernels: one fused
  * single-pass loop ([[Kernels]]), replacing the
  * `aggregate(zip_with(...))` higher-order-function forms on hot paths
  * (HOFs allocate an intermediate array per row and box the lambda
  * variables; these loops touch the two float arrays once).
  *
  * Semantics identical to graft.functions.VectorFunctions: f32 inputs
  * widened to double, left-to-right accumulation, cosine's zero-norm
  * guard (`/root/reference/src/lib.rs:43-45`). The reference's scalar
  * kernels are `src/lib.rs:28-47`.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  // inputs are guaranteed array<float> by the Column wrappers in
  // VectorFunctions (explicit cast); output is always double
  override def dataType: DataType = DoubleType
}

/** Squared L2 distance (no sqrt — ranking-equivalent, ref `src/lib.rs:28-30`). */
case class L2SquaredDistance(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "l2sq_native"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${Kernels.Name}.l2sq($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product. */
case class DotProductNative(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "dot_native"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${Kernels.Name}.dot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One-pass cosine similarity with the zero-norm guard
  * (ref `src/lib.rs:32-47`): dot and both squared norms accumulate in a
  * single loop, exactly like the reference's scalar kernel. */
case class CosineSimilarityNative(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "cosine_native"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${Kernels.Name}.cosine($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
