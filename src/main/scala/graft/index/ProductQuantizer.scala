package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization: split each d-dim vector into M subvectors,
  * quantize each against its own K-codeword codebook, store M small
  * codes per vector (d·4 bytes → M bytes at K <= 256) — the compression
  * that keeps billion-vector indexes in memory. Search uses asymmetric
  * distance: the query stays full-precision and per-subspace lookup
  * tables turn distance into M table reads.
  *
  * Codebooks are driver-resident model parameters (M·K·(d/M) doubles —
  * tiny) shipped as literals; training reuses the deterministic
  * seeded-Lloyd's machinery (init = the K lowest-id subvectors, exact
  * decimal means). iters=0 keeps the raw init codebooks — lower
  * quality, but the whole pipeline becomes SQL-expressible for the
  * oracle gate; quality at trained codebooks is gated in ScalaTest.
  * (Extension: the reference stores raw f32 only, `disk_store.rs:7-11`.)
  */
object ProductQuantizer {

  /** codebooks(m)(j) = codeword j of subspace m, as a double array. */
  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def numSub: Int = codebooks.length
    def subDim: Int = codebooks(0)(0).length
    def k: Int = codebooks(0).length
    /** flat(m*k*subDim + j*subDim + i) = codebooks(m)(j)(i): the layout
      * [[graft.functions.expressions.Kernels.pqAdc]] reads. */
    lazy val flat: Array[Double] = codebooks.flatten.flatten
  }

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Train per-subspace codebooks with `iters` Lloyd rounds (0 = keep
    * the K lowest-id subvectors as codewords). */
  def train(df: DataFrame, numSub: Int, k: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    // ONE init job: collect the k lowest-id FULL vectors once and slice
    // them into every subspace driver-side (numSub sequential
    // orderBy/limit/collect jobs would return the same rows numSub
    // times — sequential driver-side job chains are contention-fragile)
    val initFull = df.orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol).cast("array<double>")).as[Array[Double]].collect()
    require(initFull.nonEmpty, "cannot train PQ on an empty corpus")
    val subDim = initFull(0).length / numSub
    val books = (0 until numSub).map { m =>
      val sdf = df.select(col(idCol),
        slice(col(vecCol), lit(m * subDim + 1), lit(subDim)).as("sub"))
      val init = initFull.map(v => java.util.Arrays.copyOfRange(v, m * subDim, (m + 1) * subDim))
      var cb = init
      var it = 0
      while (it < iters) {
        val bc = sdf.sparkSession.sparkContext.broadcast(cb)
        val means = sdf.select(col("sub").cast("array<float>")).as[Array[Float]]
          .map { v =>
            val vd = v.map(_.toDouble)
            var best = 0; var bestD = Double.MaxValue
            var j = 0
            while (j < bc.value.length) {
              val d = l2(vd, bc.value(j))
              if (d < bestD) { bestD = d; best = j }
              j += 1
            }
            (best, vd, 1L)
          }
          .groupByKey(_._1)
          .mapGroups { (j, it2) =>
            val acc = new Array[Double](cb(0).length)
            var n = 0L
            it2.foreach { case (_, vd, _) =>
              var i = 0
              while (i < acc.length) { acc(i) += vd(i); i += 1 }
              n += 1
            }
            (j, acc.map(_ / n))
          }
          .collect().toMap
        cb = Array.tabulate(k)(j => means.getOrElse(j, cb(j)))
        it += 1
      }
      cb
    }
    Model(books.toArray)
  }

  /** Encode: per subspace, index of the nearest codeword (ties to the
    * lowest index). Returns array<int> of length numSub. Native fused
    * loop (codebooks ship as one flat reference array); accumulation
    * order matches the HOF rendering, so the DuckDB oracle still
    * agrees bit-for-bit. */
  def encodeExpr(vec: Column, model: Model): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.expressions.PqEncode(
      toExpr(vec.cast("array<float>")), model.flat, model.numSub, model.k, model.subDim))
  }

  /** Asymmetric distance: sum over subspaces of
    * l2²(query_sub, codeword[code]) — native fused loop. */
  def adcExpr(codes: Column, queryVec: Column, model: Model): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.expressions.PqAdc(
      toExpr(codes), toExpr(queryVec.cast("array<float>")), model.flat,
      model.numSub, model.k, model.subDim))
  }
}
