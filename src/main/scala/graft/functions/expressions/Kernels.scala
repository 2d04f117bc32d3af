package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The one copy of every native kernel. Each Catalyst expression in
  * this package calls its kernel from `nullSafeEval` and emits a single
  * static call to the same method from `doGenCode`; the driver-local
  * serving path in [[graft.VectorDB.searchLocal]] calls it too. So
  * interpreted eval, generated code and local serving agree by
  * construction.
  *
  * Conventions shared by every kernel:
  *  - vector inputs are read with `getFloat` (the callers cast to
  *    `array<float>`), widened to double, and accumulated left to right
  *    — the fold the higher-order-function reference forms and the
  *    DuckDB oracle use;
  *  - a malformed input (short vector, out-of-range code) yields
  *    `null` for array results; primitive results that may be NULL
  *    have a separate `...Valid` test, so no row is boxed;
  *  - model arrays (codebooks, centroids, bounds, planes, hash
  *    coefficients) are passed flat, exactly as the expressions hold
  *    them.
  */
object Kernels {

  /** Fully qualified name for generated code: `s"$Name.l2sq(a, b)"`. */
  val Name: String = getClass.getName.stripSuffix("$")

  /** Generated code for a kernel returning an array: its null is SQL NULL. */
  private[expressions] def genOrNull(ev: ExprCode, call: String): String =
    s"${ev.value} = $Name.$call;\n${ev.isNull} = ${ev.value} == null;"

  /** Generated code for a kernel returning a primitive: NULL unless `valid` holds. */
  private[expressions] def genIfValid(ev: ExprCode, valid: String, call: String): String =
    s"if ($Name.$valid) { ${ev.value} = $Name.$call; } else { ${ev.isNull} = true; }"

  // ---- distances (ref `src/lib.rs:28-47`) ----

  /** Squared L2 distance over the common prefix (no sqrt). */
  def l2sq(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** Dot product over the common prefix. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** One-pass cosine similarity: dot and both squared norms accumulate
    * in a single loop; a zero norm on either side gives 0.0. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dp = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dp += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    val sna = math.sqrt(na)
    val snb = math.sqrt(nb)
    if (sna == 0.0 || snb == 0.0) 0.0 else dp / (sna * snb)
  }

  // ---- IVF routing ----

  /** [[ivfAssign]]/[[ivfAssignTopK]] need at least `dim` components. */
  def ivfAssignValid(v: ArrayData, dim: Int): Boolean = v.numElements() >= dim

  /** Nearest centroid by squared L2 (`centroidsFlat(c*dim + i)`), ties
    * to the lowest ordinal; returns `cellIds(best)`, or the ordinal when
    * `cellIds` is empty. A partial sum that already reaches the best
    * distance stops early (d only grows; strict `<` keeps ties). */
  def ivfAssign(v: ArrayData, floatElems: Boolean, centroidsFlat: Array[Double],
      cellIds: Array[Int], dim: Int): Int = {
    val k = centroidsFlat.length / dim
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      val base = c * dim
      var d = 0.0
      var i = 0
      while (i < dim && d < bestD) {
        val x = if (floatElems) v.getFloat(i).toDouble else v.getDouble(i)
        val t = centroidsFlat(base + i) - x
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    if (cellIds.length == 0) best else cellIds(best)
  }

  /** The `probes` nearest cells ascending by (distance, ordinal), as
    * cell ids; null on a short vector. Stable strict-`<` insertion into
    * a bounded list reproduces the lexicographic sort exactly. */
  def ivfAssignTopK(v: ArrayData, floatElems: Boolean, centroidsFlat: Array[Double],
      cellIds: Array[Int], dim: Int, probes: Int): ArrayData = {
    if (!ivfAssignValid(v, dim)) return null
    val k = centroidsFlat.length / dim
    val kept = math.min(probes, k)
    val topD = Array.fill(kept)(Double.MaxValue)
    val topC = Array.fill(kept)(-1)
    var c = 0
    while (c < k) {
      val base = c * dim
      var d = 0.0
      var i = 0
      while (i < dim && d < topD(kept - 1)) {
        val x = if (floatElems) v.getFloat(i).toDouble else v.getDouble(i)
        val t = centroidsFlat(base + i) - x
        d += t * t
        i += 1
      }
      if (d < topD(kept - 1)) {
        var p = kept - 1
        while (p > 0 && d < topD(p - 1)) {
          topD(p) = topD(p - 1); topC(p) = topC(p - 1); p -= 1
        }
        topD(p) = d; topC(p) = c
      }
      c += 1
    }
    if (cellIds.length > 0) {
      var j = 0
      while (j < kept) { topC(j) = cellIds(topC(j)); j += 1 }
    }
    new GenericArrayData(topC)
  }

  // ---- product quantization: flat(m*k*sd + j*sd + i) = codebooks(m)(j)(i) ----

  /** Per subspace, the nearest codeword (ties to the lowest index);
    * null on a vector shorter than numSub·subDim. */
  def pqEncode(v: ArrayData, flat: Array[Double], numSub: Int, k: Int, subDim: Int): ArrayData = {
    if (v.numElements() < numSub * subDim) return null
    val out = new Array[Int](numSub)
    var m = 0
    while (m < numSub) {
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < k) {
        val base = (m * k + j) * subDim
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val t = flat(base + i) - v.getFloat(m * subDim + i).toDouble
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(m) = best
      m += 1
    }
    new GenericArrayData(out)
  }

  /** The first `n` codes all lie in [0, bound). */
  private def codesIn(codes: ArrayData, n: Int, bound: Int): Boolean = {
    var i = 0
    while (i < n) {
      val c = codes.getInt(i)
      if (c < 0 || c >= bound) return false
      i += 1
    }
    true
  }

  /** [[pqAdc]] needs numSub codes, each in [0, k), and a query of at
    * least numSub·subDim components. */
  def pqAdcValid(codes: ArrayData, q: ArrayData, numSub: Int, k: Int, subDim: Int): Boolean =
    codes.numElements() >= numSub && q.numElements() >= numSub * subDim &&
      codesIn(codes, numSub, k)

  /** Asymmetric distance: per subspace (ascending) the squared L2 from
    * the query's sub-vector to the coded codeword, summed. */
  def pqAdc(codes: ArrayData, q: ArrayData, flat: Array[Double], numSub: Int, k: Int,
      subDim: Int): Double = {
    var acc = 0.0
    var m = 0
    while (m < numSub) {
      val base = (m * k + codes.getInt(m)) * subDim
      var d = 0.0
      var i = 0
      while (i < subDim) {
        val t = flat(base + i) - q.getFloat(m * subDim + i).toDouble
        d += t * t
        i += 1
      }
      acc += d
      m += 1
    }
    acc
  }

  // ---- scalar (int8) quantization ----

  /** floor(clamp((x−lo)/(hi−lo), 0, 1)·255) per dim, 0 on degenerate
    * dims, NaN clamps to 255; null unless the vector has exactly one
    * component per bound. */
  def sqEncode(v: ArrayData, lo: Array[Double], hi: Array[Double]): ArrayData = {
    if (v.numElements() != lo.length) return null
    val out = new Array[Int](lo.length)
    var i = 0
    while (i < lo.length) {
      val den = hi(i) - lo(i)
      if (den != 0.0) {
        val r = (v.getFloat(i).toDouble - lo(i)) / den
        val c = (if (java.lang.Double.isNaN(r)) 1.0 else math.min(math.max(r, 0.0), 1.0)) * 255.0
        out(i) = math.floor(c).toInt
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[sqAdc]] needs codes and query of exactly `dims` entries and
    * every code in [0, 255]. */
  def sqAdcValid(codes: ArrayData, q: ArrayData, dims: Int): Boolean =
    codes.numElements() == dims && q.numElements() == dims && codesIn(codes, dims, 256)

  /** Squared L2 from the decoded codes (`lo + code/255·(hi−lo)`) to the
    * query, dim-ascending. */
  def sqAdc(codes: ArrayData, q: ArrayData, lo: Array[Double], hi: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < lo.length) {
      val dec = lo(i) + codes.getInt(i) / 255.0 * (hi(i) - lo(i))
      val d = dec - q.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  // ---- binary quantization and signed random projections ----

  /** Sign bits in ceil(dim/32) 32-bit words held in longs: bit i of
    * word i/32 is set iff component i is strictly positive; components
    * past `dim` are ignored and missing ones stay unset. */
  def signPack(v: ArrayData, dim: Int): ArrayData = {
    val words = new Array[Long]((dim + 31) / 32)
    val n = math.min(v.numElements(), dim)
    var i = 0
    while (i < n) {
      if (v.getFloat(i) > 0f) words(i >> 5) |= 1L << (i & 31)
      i += 1
    }
    new GenericArrayData(words)
  }

  /** Summed popcount of the XOR-ed words. Packs of different widths
    * raise: truncating to the shorter would underestimate silently. */
  def hamming(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"bq_hamming_native: sign patterns packed at different widths " +
          s"($n vs ${y.numElements()} words)")
    var acc = 0
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    acc
  }

  /** All `bands` SRP signatures of `rowBits` bits each:
    * `planesFlat(((b*rowBits + j)*dim) + i)` is entry i of the plane for
    * bit j of band b. Null on a vector shorter than the planes. */
  def srpSignature(v: ArrayData, planesFlat: Array[Double], bands: Int, rowBits: Int): ArrayData = {
    val dim = planesFlat.length / (bands * rowBits)
    if (v.numElements() < dim) return null
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var j = 0
      while (j < rowBits) {
        val base = (b * rowBits + j) * dim
        var dp = 0.0
        var i = 0
        while (i < dim) {
          dp += v.getFloat(i).toDouble * planesFlat(base + i)
          i += 1
        }
        if (dp > 0.0) sig |= (1L << j)
        j += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }

  // ---- text and set hashing ----

  /** h = fold(h·31 + byte) mod `mod` over the UTF-8 bytes. */
  def polyHash(s: UTF8String, mod: Long): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 31L + (bytes(i) & 0xffL)) % mod
      i += 1
    }
    h
  }

  /** 1-based code-point positions p >= w whose trailing-w polynomial
    * hash (fold h·31 + codepoint mod 1e9+7, oldest first) is divisible
    * by `modulus`. */
  def cdcCuts(s: UTF8String, w: Int, modulus: Int): ArrayData = {
    val str = s.toString
    val buf = new Array[Long](w)
    var out = new Array[Long](8)
    var nOut = 0
    var pos = 0
    var ci = 0 // UTF-16 index
    while (ci < str.length) {
      val cp = str.codePointAt(ci)
      ci += Character.charCount(cp)
      pos += 1
      buf((pos - 1) % w) = cp.toLong
      if (pos >= w) {
        var h = 0L
        var j = 0
        while (j < w) {
          h = (h * 31L + buf((pos + j) % w)) % 1000000007L
          j += 1
        }
        if (h % modulus == 0L) {
          if (nOut == out.length) out = java.util.Arrays.copyOf(out, nOut * 2)
          out(nOut) = pos.toLong
          nOut += 1
        }
      }
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }

  /** sig(j) = min over h of (as(j)·h + bs(j)) mod prime. */
  def minHashSignature(hs: ArrayData, as: Array[Long], bs: Array[Long], prime: Long): ArrayData = {
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (as(j) * h + bs(j)) % prime
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  private val LoMult = 2654435761L
  private val HiMult = 2246822519L
  private val HiAdd = 12345L
  private val Mod32 = 4294967296L

  /** 64-bit SimHash as `[hi, lo]` 32-bit words: each h is remixed to
    * `lo = h·2654435761 mod 2^32`, `hi = (h·2246822519 + 12345) mod 2^32`
    * and every bit takes a ±1 majority vote. */
  def simHash64(hs: ArrayData): ArrayData = {
    val votes = new Array[Int](64)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      val lo = (h * LoMult) % Mod32
      val hi = (h * HiMult + HiAdd) % Mod32
      var b = 0
      while (b < 32) {
        votes(b) += (if (((lo >> b) & 1L) == 1L) 1 else -1)
        votes(b + 32) += (if (((hi >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var loW = 0L
    var hiW = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) loW |= (1L << b)
      if (votes(b + 32) > 0) hiW |= (1L << b)
      b += 1
    }
    new GenericArrayData(Array(hiW, loW))
  }
}
