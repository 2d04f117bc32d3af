package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** Native Catalyst kernels for the binary-quantization hot path
  * (extension — the reference stores raw f32 only,
  * `/root/reference/src/lib.rs:22-26`): the HOF forms in
  * [[graft.index.BinaryQuant]] build an intermediate sequence and box
  * per bit; these call the single-pass [[Kernels.signPack]] and
  * [[Kernels.hamming]] loops from eval and generated code alike.
  * Semantics are bit-identical to the HOF forms (strict `> 0` sign
  * test, tail bits unset, summed `Long.bitCount` over XOR-ed words) —
  * pinned by the parity spec. */

/** Pack a float vector's sign bits into ceil(dim/32) 32-bit words held
  * in longs: bit `i` of word `i/32` is set iff component `i` is
  * strictly positive. Components past `dim` ignore; a vector shorter
  * than `dim` leaves its missing bits unset.
  *
  * INPUT CONTRACT: `child` must already be `array<float>` — the
  * kernel reads via `getFloat`, so an uncast double array would be
  * reinterpreted bytewise (wrong sign pattern). Both builders
  * ([[graft.index.BinaryQuant.packExpr]] and the SQL registration in
  * [[graft.GraftExtensions]]) insert the cast; `checkInputDataTypes`
  * rejects anything else at analysis. */
case class SignPack(child: Expression, dim: Int) extends UnaryExpression {
  require(dim >= 1, s"dim must be >= 1, got $dim")
  override def prettyName: String = "bq_pack_native"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bq_pack_native requires array<float> input, got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    Kernels.signPack(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${Kernels.Name}.signPack($a, $dim)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance between two packed sign patterns: summed popcount
  * of the XOR-ed words (XOR + `Long.bitCount` — the CPU-intrinsic
  * path).
  *
  * EQUAL-WIDTH CONTRACT: both sides must be packs of the same `dim`
  * (same word count). Two packs built at different dims would yield a
  * silently underestimated distance if truncated to the shorter, so a
  * word-count mismatch raises instead. Inputs must be `array<bigint>`
  * (the SQL builder casts; `checkInputDataTypes` rejects anything
  * else at analysis, so a caller can't bytewise-misread a side). */
case class HammingWords(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "bq_hamming_native"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bq_hamming_native requires two array<bigint> inputs, got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.hamming(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${Kernels.Name}.hamming($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
