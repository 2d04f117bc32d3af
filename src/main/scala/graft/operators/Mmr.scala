package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.functions.expressions.Kernels
import graft.index.Hnsw

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
  * SIGIR'98) — diversity-aware top-k: instead of the k nearest
  * neighbors (which at retrieval time are often near-duplicates of
  * each other), greedily select items maximizing
  * `λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)` — relevance minus
  * redundancy against the already-selected set. The dedup-at-serving
  * counterpart of the corpus-dedup operators (extension — the
  * reference serves plain top-k only, `/root/reference/src/lib.rs:74-97`).
  *
  * Scale design: the candidate FETCH is the distributed part (exact
  * top-`fetch` via TakeOrderedAndProject, or any ANN arm upstream);
  * the greedy pass runs driver-side over the BOUNDED fetch set
  * (`fetch` rows by contract — the same bounded-collect shape as
  * [[graft.VectorDB.searchRefined]]'s re-rank). Greedy selection is
  * inherently sequential in k; running it on O(fetch) driver rows
  * costs microseconds and keeps the cluster pass embarrassingly
  * parallel. Similarity is −L2² (monotone with L2 similarity);
  * deterministic tie-break by ascending id at every pick.
  */
object Mmr {

  /** Diversity-aware top-k: fetch the `fetch` nearest rows to
    * `queryVec` (exact L2², ascending-id ties), then greedily MMR-pick
    * `k` of them at trade-off `lambda` (1.0 = pure relevance = plain
    * top-k; 0.0 = pure diversity). Output: (rank, idCol, dist) where
    * dist is the RELEVANCE distance of the picked row — ranks follow
    * pick order, not distance order. */
  def searchMmr(df: DataFrame, queryVec: Seq[Float], k: Int,
      fetch: Int, lambda: Double = 0.5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(fetch >= k && k > 0, s"need fetch >= k > 0, got fetch=$fetch k=$k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = df.sparkSession
    val cand = df
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"),
        l2SqNative(col(vecCol), vecLit(queryVec)).as("dist"))
      .orderBy(col("dist").asc, col("id").asc)
      .limit(fetch)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    mmrPick(spark, cand, k, lambda, idCol)
  }

  /** Pairwise similarity = −(pair distance): the constant-offset-free
    * convention under which MMR pick order is invariant to the
    * metric's additive normalization (a constant shift in every
    * redundancy term shifts every candidate's score equally). */
  val l2Sim: (Array[Float], Array[Float]) => Double =
    (a, b) => -Hnsw.l2Sq(a, b)

  private def arr(a: Array[Float]) = UnsafeArrayData.fromPrimitiveArray(a)

  /** Cosine redundancy sim: the serving kernel, zero-norm guard
    * included (ref `src/lib.rs:32-47`). */
  val cosineSim: (Array[Float], Array[Float]) => Double =
    (a, b) => Kernels.cosine(arr(a), arr(b))

  /** Inner-product redundancy sim (MIPS handles). */
  val dotSim: (Array[Float], Array[Float]) => Double =
    (a, b) => Kernels.dot(arr(a), arr(b))

  /** The pure greedy pass: (rank, id, relevance-dist) in pick order.
    * The float math mirrors the oracle's expression tree exactly:
    * redundancy = max over selected sims, m = λ·(−d) − (1−λ)·redundancy,
    * ties by ascending id at every pick. */
  private[graft] def greedy(cand: Array[(Long, Array[Float], Double)],
      k: Int, lambda: Double,
      sim: (Array[Float], Array[Float]) => Double): Seq[(Int, Long, Double)] = {
    val pool = scala.collection.mutable.ArrayBuffer(cand: _*)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    // running max-similarity of each pool candidate against the
    // selected set, updated once per pick — O(k·fetch·d) total where
    // recomputing the full max per pick is O(k·fetch·|S|·d). The
    // incremental max applies the same pairwise comparisons in the
    // same (pick) order as a fold over the selected list, so scores
    // are float-identical to the oracle's expression tree.
    val maxSim = scala.collection.mutable.ArrayBuffer.fill(pool.length)(0.0)
    var nSel = 0
    while (picked.length < k && pool.nonEmpty) {
      val best = pool.zipWithIndex.map { case ((id, vec, d), i) =>
        val m =
          if (nSel == 0) lambda * -d
          else lambda * -d - (1.0 - lambda) * maxSim(i)
        (m, id, i)
      }.minBy { case (m, id, _) => (-m, id) }
      val (_, id, i) = best
      val (_, vec, d) = pool(i)
      picked += ((picked.length + 1, id, d))
      pool.remove(i)
      maxSim.remove(i)
      var j = 0
      while (j < pool.length) {
        val s = sim(pool(j)._2, vec)
        if (nSel == 0 || s > maxSim(j)) maxSim(j) = s
        j += 1
      }
      nSel += 1
    }
    picked.toSeq
  }

  /** The greedy pass over an already-fetched candidate set — exposed
    * so ANN/compressed/metric fetch arms can reuse it
    * ([[graft.VectorDB.searchDiverse]]). `sim` scores redundancy
    * between two corpus vectors (default −L2²). */
  private[graft] def mmrPick(spark: SparkSession,
      cand: Array[(Long, Array[Float], Double)], k: Int, lambda: Double,
      idCol: String,
      sim: (Array[Float], Array[Float]) => Double = l2Sim): DataFrame = {
    import spark.implicits._
    greedy(cand, k, lambda, sim).toDF("rank", idCol, "dist")
  }
}
