package graft.index

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions.VectorFunctions.{dotNative, l2Normalize}
import graft.functions.expressions.Kernels
import graft.operators.Knn

/** A handle's trained serving geometry: the IVF router, the PQ
  * codebooks / SQ bounds / OPQ permutation of the compressed modes,
  * and the MIPS max-norm of the dot metric. [[SharedTraining.train]]
  * is the only training path: every `VectorDB.buildIndexIvf/Pq/Opq/
  * Sq/Bq` trains through it on the handle's own corpus, and the 100 TB
  * build path trains it once on the union corpus (or a sample) and
  * hands the same artifact to every shard:
  *
  *   1. `SharedTraining.train(unionCorpus | sample, …)` — one training
  *      pass produces every corpus-global artifact.
  *   2. each shard runs `VectorDB.buildIndexShared(t)` — a map-only
  *      encode of the shard against the shared artifact (no training
  *      job; the only aggregate is the dot arm's loud norm-bound
  *      check).
  *   3. `shard0.mergeWith(shard1)` — allowed when both sides carry the
  *      SAME artifact ([[fingerprint]]-checked): compressed codes
  *      tables union directly (cell ids are global — both sides routed
  *      through the same centroids), HNSW layouts merge via
  *      [[HnswIndex.merge]].
  *
  * The artifact is also the only place that knows the serving-space
  * format: [[reduce]] maps corpus and batch rows into it, [[reduceQuery]]
  * maps a query, and [[encodeExpr]] / [[adcExpr]] / [[localAdc]] /
  * [[decodeRow]] read and write its codes. A handle built by
  * `buildIndexPq` and one built by `buildIndexShared` over the artifact
  * `train` returns for the same corpus serve identical state.
  *
  * Because encode and cell assignment are deterministic per-row maps
  * of the shared artifact, a merged handle's serving state contains
  * exactly the rows a single `buildIndexShared` over the union corpus
  * would produce — merged search ≡ single-build search, which is what
  * the q_vectordb_pq_merged / q_vectordb_dot_merged oracles and
  * CompressedServingSpec pin.
  *
  * The artifact is O(k·d + M·K·d/M + d) doubles — driver-resident,
  * shipped to shards as a plain object (at 100 TB: broadcast file /
  * artifact store), never corpus-sized.
  *
  * SAMPLE-TRAINING CONTRACT (dot metric): codebooks/bounds trained on
  * a sample only degrade quantization quality, but a sampled MAX-NORM
  * is a correctness hazard — any corpus vector with ‖x‖² above it
  * would clamp in the augmentation and silently lose recall. Train on
  * the union corpus, or pass `normBoundSq` with a true upper bound;
  * `buildIndexShared` re-checks the bound per shard and fails loudly.
  *
  * (Extension: the reference is single-process and stores raw f32 only
  * — its `src/disk_store.rs:7-11`; sharded builds and quantization
  * have no analog there.)
  */
final case class SharedTraining(
    metric: String,
    mode: String,
    dims: Int,
    width: Int,
    router: IvfIndex.Model,
    pqModel: Option[ProductQuantizer.Model],
    sqBounds: Option[(Seq[Double], Seq[Double])],
    opqPerm: Option[Array[Int]],
    mipsMaxNormSq: Option[Double]) {

  /** Content fingerprint (SHA-256 over the canonical bit-exact
    * serialization of every artifact component) — the merge-compat
    * check: two handles merge iff their artifacts fingerprint equal.
    * Pure function of content, so a shard saved and reloaded
    * re-derives the identical fingerprint (doubles round-trip parquet
    * bit-exactly). */
  lazy val fingerprint: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def putLong(l: Long): Unit = {
      buf.clear(); buf.putLong(l); md.update(buf.array())
    }
    def putD(d: Double): Unit = putLong(java.lang.Double.doubleToLongBits(d))
    def putStr(s: String): Unit = {
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    putStr(metric); putStr(mode); putLong(dims.toLong); putLong(width.toLong)
    putLong(router.centroids.length.toLong)
    router.centroids.foreach { cv => putLong(cv.length.toLong); cv.foreach(putD) }
    router.cellIds.foreach(c => putLong(c.toLong))
    pqModel.foreach { m =>
      putStr("pq"); putLong(m.numSub.toLong); putLong(m.subDim.toLong)
      m.codebooks.foreach(_.foreach { cw => putLong(cw.length.toLong); cw.foreach(putD) })
    }
    sqBounds.foreach { case (lo, hi) =>
      putStr("sq"); putLong(lo.length.toLong); lo.foreach(putD); hi.foreach(putD)
    }
    opqPerm.foreach { p => putStr("opq"); p.foreach(i => putLong(i.toLong)) }
    mipsMaxNormSq.foreach { m2 => putStr("m2"); putD(m2) }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** True for the code-serving modes (PQ/OPQ/SQ/BQ); "ivf" serves an
    * HNSW graph per cell. */
  private[graft] def compressed: Boolean = mode != "ivf"

  /** The trained max squared norm of a dot artifact. */
  private[graft] def maxNormSq: Double = mipsMaxNormSq.getOrElse(
    throw new IllegalStateException("dot artifact without its trained max norm"))

  /** `rows` with `vecCol` mapped into this artifact's serving space —
    * the one reduction behind the corpus encode, batch maintenance and
    * moved-row re-routing. */
  private[graft] def reduce(rows: DataFrame, vecCol: String): DataFrame =
    SharedTraining.reduce(rows, vecCol, metric, dims, width,
      if (metric == Knn.Dot) Some(maxNormSq) else None, opqPerm)

  /** A raw query mapped into the serving space driver-side — the
    * float-exact mirror of [[reduce]]'s per-row map (same double
    * accumulation and double→float rounding as `l2Normalize`), so
    * probe selection and ADC distances equal an engine-side reduction.
    * Dot queries 0-extend over the augmentation dim and any PQ pad;
    * OPQ reorders floats, never recomputes them. */
  private[graft] def reduceQuery(q: Seq[Float]): Array[Float] = {
    val r: Array[Float] = metric match {
      case Knn.Cosine =>
        val a = q.toArray
        val qa = UnsafeArrayData.fromPrimitiveArray(a)
        val n = math.sqrt(Kernels.dot(qa, qa)) // l2Normalize's dotNative
        if (n == 0.0) a else a.map(x => (x.toDouble / n).toFloat)
      case Knn.Dot => q.toArray.padTo(width, 0.0f)
      case _ => q.toArray
    }
    opqPerm.map(p => p.map(r)).getOrElse(r)
  }

  /** The codes column for a reduced vector column. */
  private[graft] def encodeExpr(v: Column): Column = mode match {
    case "pq" | "opq" => ProductQuantizer.encodeExpr(v, pq)
    case "sq" => ScalarQuantizer.encodeExpr(v, sq._1, sq._2)
    case "bq" => BinaryQuant.packExpr(v, width)
    case m => throw new IllegalStateException(s"mode '$m' serves no codes")
  }

  /** Asymmetric distance of a codes column to a reduced full-precision
    * query column (BQ: the Hamming count against the packed query). */
  private[graft] def adcExpr(codes: Column, qv: Column): Column = mode match {
    case "pq" | "opq" => ProductQuantizer.adcExpr(codes, qv, pq)
    case "sq" => ScalarQuantizer.adcL2Sq(codes, qv, sq._1, sq._2)
    case "bq" => BinaryQuant.hammingExpr(codes, BinaryQuant.packExpr(qv, width)).cast("double")
    case m => throw new IllegalStateException(s"mode '$m' serves no codes")
  }

  /** [[adcExpr]] as a driver-side function of one code row: the same
    * [[Kernels]] method over the same model arrays, so driver-local and
    * distributed distances are equal by construction. `q` is the
    * reduced query. */
  private[graft] def localAdc(q: ArrayData): ArrayData => Double = mode match {
    case "pq" | "opq" =>
      val m = pq
      codes => Kernels.pqAdc(codes, q, m.flat, m.numSub, m.k, m.subDim)
    case "sq" =>
      val (l, h) = (sq._1.toArray, sq._2.toArray)
      codes => Kernels.sqAdc(codes, q, l, h)
    case "bq" =>
      val packed = Kernels.signPack(q, width)
      codes => Kernels.hamming(codes, packed).toDouble
    case m => throw new IllegalStateException(s"mode '$m' serves no codes")
  }

  /** Field `i` of a collected codes row as the `ArrayData` the ADC
    * kernels read: BQ packed long words, PQ/SQ int codes. */
  private[graft] def decodeRow(r: Row, i: Int): ArrayData =
    if (mode == "bq") UnsafeArrayData.fromPrimitiveArray(r.getSeq[Long](i).toArray)
    else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Int](i).toArray)

  private def pq: ProductQuantizer.Model = pqModel.getOrElse(
    throw new IllegalStateException(s"$mode artifact without codebooks"))
  private def sq: (Seq[Double], Seq[Double]) = sqBounds.getOrElse(
    throw new IllegalStateException("sq artifact without trained bounds"))
}

object SharedTraining {

  /** The serving modes an artifact can target. */
  val Modes: Set[String] = Set("ivf", "pq", "opq", "sq", "bq")

  /** The MIPS→L2 augmentation (Bachrach et al.'s order-preserving
    * reduction): extend `v` with sqrt(M² − ‖v‖²), so the augmented
    * corpus lies on a sphere of radius M and L2 ranking against the
    * 0-extended query equals dot ranking. The `greatest(0,·)` clamp
    * only absorbs float rounding at ‖v‖ ≈ M: a vector genuinely above
    * M would carry a +(‖v‖²−M²) penalty and could be missed, so
    * `VectorDB.add` rebuilds under the new M instead of letting one
    * reach this expression. */
  private def mipsAugment(v: Column, maxNormSq: Double): Column =
    concat(v.cast("array<float>"),
      array(sqrt(greatest(lit(0.0d), lit(maxNormSq) - dotNative(v, v))).cast("float")))

  /** Zero-pad a `from`-wide vector column to `width` (PQ subspace
    * divisibility; zero pads are metric-neutral — queries pad too). */
  private def zeroPad(v: Column, width: Int, from: Int): Column =
    if (width == from) v else concat(v, array_repeat(lit(0.0f), width - from))

  /** Encoded width for a (mode, metric) pair: the dot reduction adds
    * one augmentation dim; PQ subspaces must divide the width. */
  private[graft] def servingWidth(mode: String, metric: String,
      dims: Int, numSub: Int): Int = {
    val usesPq = mode == "pq" || mode == "opq"
    metric match {
      case Knn.Dot if usesPq => ((dims + 1 + numSub - 1) / numSub) * numSub
      case Knn.Dot           => dims + 1
      case _ if usesPq =>
        require(dims % numSub == 0, s"numSub=$numSub must divide dims=$dims")
        dims
      case _ => dims
    }
  }

  /** `rows` with `vecCol` mapped into a serving space: unit-normalized
    * for cosine (L2 ranking on unit vectors = cosine ranking),
    * norm-augmented at `m2` and zero-padded to `width` for dot, raw for
    * L2; then permuted by `perm` (OPQ). The only place this reduction
    * is written — training applies it before the permutation exists
    * (`perm = None`) and again after. */
  private def reduce(rows: DataFrame, vecCol: String, metric: String, dims: Int,
      width: Int, m2: Option[Double], perm: Option[Array[Int]]): DataFrame = {
    val r = metric match {
      case Knn.Cosine => rows.withColumn(vecCol, l2Normalize(col(vecCol)))
      case Knn.Dot => rows.withColumn(vecCol,
        zeroPad(mipsAugment(col(vecCol), m2.get), width, dims + 1))
      case _ => rows
    }
    perm.map(p => r.withColumn(vecCol, Opq.permuteExpr(col(vecCol), p))).getOrElse(r)
  }

  /** ONE training pass over `corpus` (a handle's own corpus, the union
    * corpus of a sharded build, or a sample — see the class doc's
    * sample contract) producing every artifact `mode` needs under
    * `metric`. This is the only training path: the `VectorDB.buildIndex*`
    * builders call it and encode the result, so an artifact trained on
    * the full corpus and a direct build are the same state.
    *
    * `normBoundSq` (dot metric only): a caller-supplied upper bound on
    * the corpus squared norm, for sample training where the sample max
    * would under-estimate it. Must dominate every shard's true max —
    * `buildIndexShared` re-checks loudly. */
  def train(corpus: DataFrame, dims: Int, mode: String, metric: String,
      numCells: Int = 16, routerIters: Int = 1, numSub: Int = 8,
      codebookK: Int = 16, pqIters: Int = 0,
      normBoundSq: Option[Double] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): SharedTraining = {
    require(Modes(mode), s"unknown mode '$mode' (one of ${Modes.mkString(", ")})")
    val usesPq = mode == "pq" || mode == "opq"
    val width = servingWidth(mode, metric, dims, numSub)
    val m2 =
      if (metric != Knn.Dot) None
      else Some(normBoundSq.getOrElse {
        // nullable read: an EMPTY corpus aggregates max to null, and an
        // empty dot build must behave like every other metric's
        val row = corpus.agg(max(dotNative(col(vecCol), col(vecCol)))).head()
        if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      })
    val reduced0 = reduce(corpus, vecCol, metric, dims, width, m2, None)
    val perm =
      if (mode == "opq")
        Some(Opq.energyBalancedPerm(reduced0, col(vecCol), width, numSub))
      else None
    val reduced = reduce(corpus, vecCol, metric, dims, width, m2, perm)
    val router = IvfIndex.train(reduced, numCells, routerIters, idCol, vecCol)
    val pq =
      if (usesPq)
        Some(ProductQuantizer.train(reduced, numSub, codebookK, pqIters, idCol, vecCol))
      else None
    val sq =
      if (mode == "sq") Some(ScalarQuantizer.bounds(ScalarQuantizer.train(reduced, vecCol)))
      else None
    SharedTraining(metric, mode, dims, width, router, pq, sq, perm, m2)
  }
}
