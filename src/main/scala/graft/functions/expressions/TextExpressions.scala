package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the dedup hash pipeline — each fuses what the
  * higher-order-function forms do in K passes with per-element
  * allocation into one tight loop in [[Kernels]]. Semantics are
  * byte-for-byte the DuckDB oracle's on ASCII text (the fixtures are
  * ASCII; ord(char) == byte value).
  */

/** Polynomial rolling hash over the string's bytes:
  * h = fold(h*31 + byte) mod `mod`. Matches TextFunctions.fingerprint /
  * the oracle's per-char fold for ASCII input. */
case class PolyHash(child: Expression, mod: Long) extends UnaryExpression {
  override def prettyName: String = "poly_hash"
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Kernels.polyHash(input.asInstanceOf[UTF8String], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${Kernels.Name}.polyHash($a, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Content-defined-chunking cut positions (Manber fingerprint cuts):
  * 1-based CHARACTER positions i >= w whose trailing-w-chars polynomial
  * hash (fold (h*31 + codepoint) mod 1e9+7 over the window) is
  * divisible by `modulus`. One compiled pass with a circular code
  * buffer — the HOF form (transform(sequence) + aggregate(slice))
  * pays interpreted lambda dispatch per (position × window) element,
  * ~50x this loop on corpus text. Code-point iteration matches the
  * oracle's ord()/the HOF's ascii() on any BMP+ text; positions are
  * char positions (what substr consumes). */
case class CdcCuts(child: Expression, w: Int, modulus: Int) extends UnaryExpression {
  override def prettyName: String = "cdc_cuts"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    Kernels.cdcCuts(input.asInstanceOf[UTF8String], w, modulus)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${Kernels.Name}.cdcCuts($a, $w, $modulus)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** K-way minhash signature over an array<long> of element hashes in a
  * single pass: sig[j] = min over h of (a_j*h + b_j) mod prime.
  * Returns null-free array<long> of length K (input must be non-empty —
  * filtered upstream, mirroring the oracle's len(sh) > 0 guard). */
case class MinHashSignature(child: Expression, as: Array[Long], bs: Array[Long], prime: Long)
    extends UnaryExpression {
  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    Kernels.minHashSignature(input.asInstanceOf[ArrayData], as, bs, prime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", as, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bs, "long[]")
    defineCodeGen(ctx, ev, in => s"${Kernels.Name}.minHashSignature($in, $aRef, $bRef, ${prime}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash from an array<long> of element hashes in one pass,
  * returned as two 32-bit words `[hi, lo]` (each in [0, 2^32)).
  *
  * Each element hash h (< 2^31) is remixed into two independent 32-bit
  * words by Knuth multiplicative hashing — `lo = h·2654435761 mod 2^32`,
  * `hi = (h·2246822519 + 12345) mod 2^32` — then every bit position
  * takes a ±1 majority vote over the population. Splitting into two
  * words (rather than one 64-bit long) keeps every intermediate value
  * positive and < 2^62, so the DuckDB oracle can mirror the arithmetic
  * with checked BIGINT math and no sign-bit edge case at bit 63. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def prettyName: String = "simhash64"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    Kernels.simHash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, in => s"${Kernels.Name}.simHash64($in)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
