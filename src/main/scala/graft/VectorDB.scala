package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions.VectorFunctions._
import graft.functions.expressions.Kernels
import graft.index.{HnswGraph, HnswIndex, HnswParams, IvfIndex, ProductQuantizer, ScalarQuantizer}
import graft.operators.{Knn, TopK}

/** User-facing database handle — the Spark rendering of the reference's
  * `VectorDB` (`/root/reference/src/lib.rs:310-352`): one vector table +
  * one (optional) ANN index, with dimension validation on ingest.
  *
  * Validation is PAY-AS-YOU-GO: `open`/`add` launch no job — the
  * dimension rule rides in the scan as a guarded projection, so the
  * first action that evaluates a bad vector throws (with the row id in
  * the message). At 100 TB an up-front validation pass would read the
  * whole corpus before the first query; fusing the check into whatever
  * job runs first costs one `size()` comparison per row instead. Call
  * [[validate]] for the reference's eager open-time rejection.
  *
  * Reference parity map:
  *  - ctor/open (`src/lib.rs:319-333`): [[VectorDB.open]] — rejects rows
  *    whose vector length != dims (the mmap open's divisibility check,
  *    `src/disk_store.rs:22-27`, plus `add_vector`'s dimension rule,
  *    `src/lib.rs:62-69`), enforced at first evaluation or eagerly via
  *    [[validate]];
  *  - `len` (`src/lib.rs:350-352`): [[VectorDB.len]];
  *  - `build_index(start,end)` (`src/lib.rs:336-341`): [[VectorDB.buildIndex]]
  *    with an optional id-range filter (partition-prunable predicate);
  *  - `search` (`src/lib.rs:344-347`): [[VectorDB.search]] — ANN over the
  *    built index, or exact brute-force when no index exists.
  */
final class VectorDB private (
    raw: DataFrame,
    val dims: Int,
    val params: HnswParams,
    val idCol: String,
    val vecCol: String) {

  /** The vector table with the dimension guard fused in: evaluating the
    * vector column of a bad row throws. Every query path reads this. */
  val vectors: DataFrame = raw.withColumn(vecCol,
    when(hasDim(col(vecCol), dims), col(vecCol))
      .otherwise(raise_error(format_string(
        s"vector dimension mismatch: expected $dims, got %s at id %s (ref src/lib.rs:62-69)",
        coalesce(size(col(vecCol)).cast("string"), lit("NULL")),
        col(idCol).cast("string")))))

  private var index: Option[Dataset[HnswIndex.IndexRow]] = None
  private var ivfModel: Option[IvfIndex.Model] = None
  /** The parquet path this handle was opened on (None for add/remove
    * lineage handles) — recorded by [[save]] so [[VectorDB.load]] can
    * reopen the corpus without copying it. */
  private var sourcePath: Option[String] = None
  /** Compressed serving state (mutually exclusive with the HNSW
    * index): the encoded-codes table plus the model that decodes it. */
  private var pqState: Option[(DataFrame, ProductQuantizer.Model)] = None
  private var sqState: Option[(DataFrame, Seq[Double], Seq[Double])] = None
  /** Binary (sign-bit) codes — the 1-bit serving mode. No model state:
    * the sign threshold is fixed, so encode is stateless and
    * maintenance can never expand any trained bound. */
  private var bqState: Option[DataFrame] = None

  /** True when any compressed (PQ/SQ/BQ) codes table is serving. */
  private def servesCompressed: Boolean =
    pqState.isDefined || sqState.isDefined || bqState.isDefined
  /** Attribute columns packed into index-row payloads at the last
    * build — the exact arm packs the same map on the fly so
    * [[searchWhere]] predicates mean the same thing on both arms. */
  private var servedPayloadCols: Seq[String] = Nil
  private var indexMetric: String = Knn.L2
  /** MIPS serving state: the max squared corpus norm captured at
    * `buildIndexIvf(metric = Dot)` time. The dot index is an L2 graph
    * over norm-AUGMENTED vectors — each x extends with
    * sqrt(M² − ‖x‖²) so every augmented vector has norm M and
    * argmin-L2 against the 0-extended query is argmax-dot — and adds
    * must augment with the SAME M or their graph distances shear. */
  private var mipsMaxNormSq: Option[Double] = None
  /** The metric the USER chose, surviving index loss: add/remove return
    * index-less handles, and without this a handle built with
    * `buildIndexIvf(metric = Cosine)` would silently serve exact L2
    * (a ranking-semantics change, not a precision change) until the
    * index is rebuilt. The no-index arm serves exact search under this
    * metric instead. */
  private var intendedMetric: String = Knn.L2
  /** Build-time shape knobs, recorded so metric-preserving rebuilds
    * (a norm-expanding add on a dot handle retrains the whole serving
    * state) replay the USER's configuration — cell count, iteration
    * budget, codebook shape — instead of library defaults. */
  private var ivfBuildParams: Option[(Int, Int)] = None
  private var pqBuildParams: Option[(Int, Int, Int, Int, Int)] = None
  private var sqBuildParams: Option[(Int, Int)] = None
  private var bqBuildParams: Option[(Int, Int)] = None
  /** OPQ serving state ([[buildIndexOpq]]): the energy-balanced dim
    * permutation the PQ router/codebooks were trained under. Applied
    * IN SERVING SPACE (after the metric reduction) to the corpus at
    * build/encode time and to every query at reduce time, so the
    * whole compressed pipeline — routing, codes, ADC — runs permuted
    * while exact/refine arms stay on the raw vectors (a permutation
    * is orthogonal: refined distances are true distances). */
  private var opqPerm: Option[Array[Int]] = None
  private var opqBuildParams: Option[(Int, Int, Int, Int, Int)] = None
  /** The corpus-global training artifact this handle was encoded
    * against ([[buildIndexShared]]) — presence is what makes the
    * handle MERGEABLE with fingerprint-equal peers, including the
    * compressed and dot modes that shard-local training locks out. */
  private var sharedTraining: Option[graft.index.SharedTraining] = None

  /** Cells probed per query when an IVF router is trained. */
  var nprobe: Int = 3

  /** Beam width for indexed search; <= 0 = the reference's default
    * `max(efConstruction, k)` (`src/lib.rs:164`). Raise to trade
    * latency for recall. A beam above the largest cell visits every
    * node reachable from the entry point, so indexed search is
    * exhaustive within the probed cells (ANN ≡ exact) only when each
    * probed cell's layer-0 graph is connected
    * ([[graft.index.HnswGraph.layer0Components]] == 1); degree-cap
    * pruning can split a cell's graph, and the nodes cut off from the
    * entry point are then never served. */
  var efSearch: Int = -1

  /** Adaptive probe cutoff ([[IvfIndex.Model.probeAdaptive]]): when
    * set, routed search probes cells closest-first but stops past
    * `alpha ×` the nearest cell's centroid distance (max [[nprobe]]) —
    * in-cluster queries touch fewer cells at equal recall. None =
    * fixed [[nprobe]]. */
  var adaptiveAlpha: Option[Double] = None

  /** Centroid-graph routing beam ([[IvfIndex.GraphRouter]] — the
    * sublinear second routing level for handles whose CELL COUNT is
    * itself large): > 0 routes queries through an HNSW walk over the
    * centroid table at this beam width instead of the flat O(L·d)
    * scan; ≥ L is exhaustive (probe set bit-identical to flat
    * routing — the gate anchor); <= 0 (default) keeps flat routing.
    * Applies to the indexed-uncompressed serving arms; the graph is
    * built lazily driver-side from the trained router and re-derives
    * automatically whenever the router retrains. */
  var graphRouteEf: Int = -1
  private var graphRouterCache: Option[IvfIndex.GraphRouter] = None
  private def routerGraphOpt: Option[IvfIndex.GraphRouter] =
    if (graphRouteEf <= 0) None
    else ivfModel.map { m =>
      graphRouterCache match {
        case Some(g) if g.model eq m => g
        case _ =>
          val g = new IvfIndex.GraphRouter(m)
          graphRouterCache = Some(g)
          g
      }
    }

  /** Eagerly enforce the dimension rule — the reference's open/ingest
    * semantics (`src/lib.rs:62-72`, error at open/add): one
    * short-circuit job over the UNGUARDED source; throws on the first
    * bad row, returns this for chaining. */
  def validate(): VectorDB = {
    val bad = raw.filter(!hasDim(col(vecCol), dims)).limit(1).count()
    if (bad > 0)
      throw new IllegalArgumentException(
        s"vector dimension mismatch: expected $dims (ref src/lib.rs:62-69 semantics)")
    this
  }

  /** Row count (`src/lib.rs:350-352`). */
  def len: Long = raw.count()

  /** True when this handle serves through a built (or incrementally
    * maintained) HNSW index — i.e. which dispatch arm a [[search]]
    * takes — observable without a corpus job. Compressed (PQ/SQ)
    * handles serve ADC and report false here. */
  def hasIndex: Boolean = index.isDefined

  /** Release and clear every piece of cached serving state — called at
    * the top of each buildIndex* so a rebuild can never leave a
    * superseded generation pinned in the executor cache (a long-lived
    * handle that rebuilds N times would otherwise hold N dead index
    * datasets at MEMORY_AND_DISK), and so stale routers/metrics can't
    * leak into the new configuration. Rebuilds read only the corpus,
    * never the old index, so the release is safe before the new build
    * materializes. */
  private def dropServingState(): Unit = {
    localCells.clear()
    localCodeCells.clear()
    index.foreach(_.unpersist(blocking = false))
    pqState.foreach(_._1.unpersist(blocking = false))
    sqState.foreach(_._1.unpersist(blocking = false))
    bqState.foreach(_.unpersist(blocking = false))
    index = None
    pqState = None
    sqState = None
    bqState = None
    ivfModel = None
    indexMetric = Knn.L2
    intendedMetric = Knn.L2
    mipsMaxNormSq = None
    servedPayloadCols = Nil
    ivfBuildParams = None
    pqBuildParams = None
    sqBuildParams = None
    bqBuildParams = None
    opqPerm = None
    opqBuildParams = None
    sharedTraining = None
  }

  /** Build the ANN index over an optional contiguous id range
    * (`src/lib.rs:336-341`); partitioning routes vectors into
    * `numParts` IVF-style cells by id hash unless a partition column is
    * supplied upstream. */
  def buildIndex(startId: Long = Long.MinValue, endId: Long = Long.MaxValue,
      numParts: Int = 16, partCol: Option[String] = None,
      payloadCols: Seq[String] = Nil): Dataset[HnswIndex.IndexRow] = {
    // a plain rebuild replaces whatever was there: release the
    // superseded cache and reset router/metric, or search() would
    // dispatch to the cosine arm (and route through a stale unit-space
    // model) against an L2 hash-partitioned graph
    dropServingState()
    val ranged = vectors.filter(col(idCol) >= startId && col(idCol) < endId)
    val parted = partCol match {
      case Some(c) => ranged.withColumn("part", col(c).cast("int"))
      case None    => ranged.withColumn("part", pmod(hash(col(idCol)), lit(numParts)))
    }
    // persist: the handle serves many searches over one build — without
    // this every query re-executes the whole graph construction lineage
    val built = HnswIndex.build(parted, params, idCol, vecCol, "part", payloadCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    index = Some(built)
    servedPayloadCols = payloadCols
    built
  }

  /** The MIPS→L2 augmentation: extend `v` with sqrt(M² − ‖v‖²) so the
    * augmented corpus lies on a sphere of radius M and L2 ranking
    * against the 0-extended query equals dot-product ranking
    * (Bachrach et al.'s order-preserving reduction). The `greatest(0,·)`
    * clamp only absorbs float rounding at ‖v‖ ≈ M: vectors with norms
    * genuinely above M never reach this expression — [[add]] detects
    * them and rebuilds under the new M, because a clamped over-norm
    * vector would carry a +(‖v‖²−M²) penalty in augmented space and
    * the walk could miss it entirely (recall loss, not just rank
    * noise). */
  private def mipsAugment(v: org.apache.spark.sql.Column, maxNormSq: Double) =
    graft.index.SharedTraining.mipsAugment(v, maxNormSq)

  /** Zero-pad a `from`-wide vector column to `width`: PQ subspaces must
    * divide the encoded width, and zero pads are metric-neutral — the
    * query pads with zeros too, so every padded dim contributes 0 to
    * any distance. */
  private def zeroPad(v: org.apache.spark.sql.Column, width: Int, from: Int) =
    graft.index.SharedTraining.zeroPad(v, width, from)

  /** The corpus mapped into `metric`'s serving space — the shared
    * preprocessing behind the HNSW AND compressed (PQ/SQ) builds:
    * unit-normalize for cosine (L2 ranking on unit vectors = cosine
    * ranking), norm-augment for dot ([[mipsAugment]] — captures
    * [[mipsMaxNormSq]]; one max-norm aggregate, then a map-only
    * extension), raw for L2. `width` > the mapped dimensionality adds
    * zero pads (PQ divisibility). */
  private def reducedCorpus(metric: String, width: Int): DataFrame = metric match {
    case Knn.Cosine => vectors.withColumn(vecCol, l2Normalize(col(vecCol)))
    case Knn.Dot =>
      // nullable read: agg(max(...)) over an EMPTY corpus yields null,
      // and an empty dot build must behave like every other metric's
      // (no rows, no geometry) instead of NPEing
      val row = vectors.agg(max(dotNative(col(vecCol), col(vecCol)))).head()
      val m2 = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      mipsMaxNormSq = Some(m2)
      vectors.withColumn(vecCol, zeroPad(mipsAugment(col(vecCol), m2), width, dims + 1))
    case _ => vectors
  }

  /** A raw query vector mapped into the compressed index's serving
    * space, driver-side — the float-exact mirror of [[reducedCorpus]]'s
    * per-row map (same double accumulation order, same double→float
    * rounding as [[graft.functions.VectorFunctions.l2Normalize]] /
    * [[mipsAugment]]'s query side), so probe selection and ADC
    * distances are bit-identical to an engine-side reduction. */
  private def reduceQueryVec(q: Seq[Float]): Array[Float] = {
    val r: Array[Float] = indexMetric match {
      case Knn.Cosine =>
        val a = q.toArray
        val qa = UnsafeArrayData.fromPrimitiveArray(a)
        val n = math.sqrt(Kernels.dot(qa, qa)) // l2Normalize's dotNative
        if (n == 0.0) a else a.map(x => (x.toDouble / n).toFloat)
      case Knn.Dot =>
        // 0-extend over the augmentation dim and any PQ zero pad: the
        // query's augmentation coordinate is 0 by the reduction
        q.toArray.padTo(codesWidth, 0.0f)
      case _ => q.toArray
    }
    // OPQ: the query enters the permuted space the codes live in
    // (floats are reordered, never recomputed — bit-exact)
    opqPerm.map(p => p.map(r)).getOrElse(r)
  }

  /** The width vectors were encoded at (augmentation + pads included). */
  private def codesWidth: Int =
    pqState.map { case (_, m) => m.numSub * m.subDim }
      .orElse(sqState.map(_._2.length))
      .getOrElse(if (indexMetric == Knn.Dot) dims + 1 else dims)

  /** Exact distance under this handle's intended metric — what refine
    * passes and exact arms re-score with on the RAW vectors. */
  private def exactDist(vc: org.apache.spark.sql.Column,
      qc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    intendedMetric match {
      case Knn.Cosine => lit(1.0d) - cosineNative(vc, qc)
      case Knn.Dot    => -dotNative(vc, qc)
      case _          => l2SqNative(vc, qc)
    }

  /** Build the ANN index with a trained IVF coarse quantizer: k-means
    * cells become the HNSW partitions, so graph neighborhoods are
    * semantically clustered (better recall per probe than hash
    * partitioning) and search can prune to the probed cells.
    *
    * `metric = Knn.Cosine` builds the COSINE serving configuration:
    * vectors are unit-normalized before train/assign/build (on unit
    * vectors 1 − cos = ‖â−b̂‖²/2, so the L2 graph walk ranks by
    * cosine), and [[search]] normalizes the query, walks the unit
    * graph, and re-scores its over-fetched top-k with the exact double
    * cosine on the raw vectors.
    *
    * `metric = Knn.Dot` builds the MIPS serving configuration via the
    * same shape: vectors are norm-augmented ([[mipsAugment]] — one
    * max-norm aggregate over the corpus, then a map-only extension)
    * before train/assign/build, and [[search]] 0-extends the query,
    * walks the L2 graph, and re-scores with the exact double dot on
    * the raw vectors (dist = −dot, ascending = largest dot first). */
  def buildIndexIvf(numCells: Int = 16, iters: Int = 5,
      metric: String = Knn.L2,
      payloadCols: Seq[String] = Nil): Dataset[HnswIndex.IndexRow] = {
    dropServingState()
    val src = reducedCorpus(metric, if (metric == Knn.Dot) dims + 1 else dims)
    val model = IvfIndex.train(src, numCells, iters, idCol, vecCol)
    val parted = IvfIndex.assign(src, model, idCol, vecCol)
      .withColumn("part", col("cell"))
    val built = HnswIndex.build(parted, params, idCol, vecCol, "part", payloadCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    index = Some(built)
    servedPayloadCols = payloadCols
    ivfModel = Some(model)
    indexMetric = metric
    intendedMetric = metric
    ivfBuildParams = Some((numCells, iters))
    built
  }

  /** Build the IVF-PQ serving configuration — the standard
    * billion-scale shape (coarse quantizer routes to nprobe cells,
    * product-quantized codes rank inside them by asymmetric distance):
    * the corpus is encoded ONCE into M-byte codes per vector (persisted
    * — the whole point is that the codes table, ~d·4/M× smaller than
    * the raw vectors, is what search scans), and [[search]] dispatches
    * to ADC ranking within the probed cells. Replaces any HNSW index on
    * this handle (extension — the reference stores raw f32 only,
    * `/root/reference/src/disk_store.rs:7-11`). */
  def buildIndexPq(numCells: Int = 16, routerIters: Int = 1, numSub: Int = 8,
      codebookK: Int = 16, pqIters: Int = 0, metric: String = Knn.L2,
      payloadCols: Seq[String] = Nil): DataFrame = {
    dropServingState()
    // PQ subspaces must divide the encoded width: the dot reduction
    // adds one augmentation dim, so pad to the next numSub multiple
    val width = metric match {
      case Knn.Dot => ((dims + 1 + numSub - 1) / numSub) * numSub
      case _ =>
        require(dims % numSub == 0, s"numSub=$numSub must divide dims=$dims")
        dims
    }
    val src = reducedCorpus(metric, width)
    val router = IvfIndex.train(src, numCells, routerIters, idCol, vecCol)
    val model = ProductQuantizer.train(src, numSub, codebookK, pqIters, idCol, vecCol)
    val codes = IvfIndex.assign(src, router, idCol, vecCol)
      .select(col(idCol), col("cell"),
        ProductQuantizer.encodeExpr(col(vecCol), model).as("codes"),
        payExpr(payloadCols).as("payload"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfModel = Some(router)
    indexMetric = metric
    intendedMetric = metric
    servedPayloadCols = payloadCols
    pqState = Some((codes, model))
    pqBuildParams = Some((numCells, routerIters, numSub, codebookK, pqIters))
    codes
  }

  /** Build the OPQ serving configuration — [[buildIndexPq]] with the
    * energy-balanced dimension permutation ([[graft.index.Opq]], Ge et
    * al. CVPR'13 §4.1) trained first and applied in serving space:
    * router, codebooks, and codes all live in the permuted space
    * (queries enter it via [[reduceQueryVec]]; incoming batches via
    * [[reduceRows]], so add/remove/upsert/compact maintenance is
    * permutation-correct with NO extra arms), while refine/exact
    * passes stay on the raw vectors — a permutation is orthogonal, so
    * exact distances are unchanged. The permutation itself is a
    * d-entry model artifact (one map-side-combined census + one d-row
    * collect at build). */
  def buildIndexOpq(numCells: Int = 16, routerIters: Int = 1, numSub: Int = 8,
      codebookK: Int = 16, pqIters: Int = 0, metric: String = Knn.L2,
      payloadCols: Seq[String] = Nil): DataFrame = {
    dropServingState()
    val width = metric match {
      case Knn.Dot => ((dims + 1 + numSub - 1) / numSub) * numSub
      case _ =>
        require(dims % numSub == 0, s"numSub=$numSub must divide dims=$dims")
        dims
    }
    val src0 = reducedCorpus(metric, width)
    val perm = graft.index.Opq.energyBalancedPerm(src0, col(vecCol), width, numSub)
    val src = src0.withColumn(vecCol,
      graft.index.Opq.permuteExpr(col(vecCol), perm))
    val router = IvfIndex.train(src, numCells, routerIters, idCol, vecCol)
    val model = ProductQuantizer.train(src, numSub, codebookK, pqIters, idCol, vecCol)
    val codes = IvfIndex.assign(src, router, idCol, vecCol)
      .select(col(idCol), col("cell"),
        ProductQuantizer.encodeExpr(col(vecCol), model).as("codes"),
        payExpr(payloadCols).as("payload"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfModel = Some(router)
    indexMetric = metric
    intendedMetric = metric
    servedPayloadCols = payloadCols
    pqState = Some((codes, model))
    opqPerm = Some(perm)
    opqBuildParams = Some((numCells, routerIters, numSub, codebookK, pqIters))
    codes
  }

  /** Build the int8 scalar-quantized serving configuration: per-dim
    * bounds trained from the corpus, byte codes 4× smaller than f32,
    * routed ADC ranking within probed cells (see [[buildIndexPq]] for
    * the serving shape; `metric` selects the same cosine/dot
    * reductions). */
  def buildIndexSq(numCells: Int = 16, routerIters: Int = 1,
      metric: String = Knn.L2, payloadCols: Seq[String] = Nil): DataFrame = {
    dropServingState()
    val src = reducedCorpus(metric, if (metric == Knn.Dot) dims + 1 else dims)
    val router = IvfIndex.train(src, numCells, routerIters, idCol, vecCol)
    val (lo, hi) = ScalarQuantizer.bounds(ScalarQuantizer.train(src, vecCol))
    val codes = IvfIndex.assign(src, router, idCol, vecCol)
      .select(col(idCol), col("cell"),
        ScalarQuantizer.encodeExpr(col(vecCol), lo, hi).as("codes"),
        payExpr(payloadCols).as("payload"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfModel = Some(router)
    indexMetric = metric
    intendedMetric = metric
    servedPayloadCols = payloadCols
    pqState = None
    sqState = Some((codes, lo, hi))
    sqBuildParams = Some((numCells, routerIters))
    codes
  }

  /** Build the binary (sign-bit) serving configuration — the 1-bit
    * point on the quantization ladder ([[graft.index.BinaryQuant]]):
    * each vector's sign pattern packs into 32-bit words (32× smaller
    * than SQ's byte codes) and [[search]] ranks probed cells by
    * XOR/popcount Hamming distance (`dist` is the Hamming count —
    * compose with [[searchRefined]] for exact metric distances on the
    * shortlist). Stateless encode: no codebook, no bounds — adds can
    * never expand trained state, so maintenance never triggers a
    * rebuild. Same routing/serving shape as [[buildIndexPq]]. */
  def buildIndexBq(numCells: Int = 16, routerIters: Int = 1,
      metric: String = Knn.L2, payloadCols: Seq[String] = Nil): DataFrame = {
    dropServingState()
    val width = if (metric == Knn.Dot) dims + 1 else dims
    val src = reducedCorpus(metric, width)
    val router = IvfIndex.train(src, numCells, routerIters, idCol, vecCol)
    val codes = IvfIndex.assign(src, router, idCol, vecCol)
      .select(col(idCol), col("cell"),
        graft.index.BinaryQuant.packExpr(col(vecCol), width).as("codes"),
        payExpr(payloadCols).as("payload"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfModel = Some(router)
    indexMetric = metric
    intendedMetric = metric
    servedPayloadCols = payloadCols
    bqState = Some(codes)
    bqBuildParams = Some((numCells, routerIters))
    codes
  }

  /** Build this handle's serving state by ENCODING the corpus against
    * a corpus-global [[graft.index.SharedTraining]] artifact — the
    * shard arm of the 100 TB compressed build path (train once
    * globally, encode per shard, merge the handles; see
    * SharedTraining's doc). NO training job runs here: the router,
    * codebooks/bounds, OPQ permutation, and the MIPS max-norm all come
    * from `t`, which is what makes independently built shards
    * MERGEABLE — [[mergeWith]] accepts fingerprint-equal artifacts on
    * every mode, including the compressed and dot ones that
    * shard-local training locks out.
    *
    * The dot arm re-checks the norm bound LOUDLY (one aggregate over
    * this shard): a vector with ‖x‖² above the trained bound would
    * clamp in the augmentation and silently lose recall — a
    * correctness failure, not a quality one (the sample-training
    * contract on [[graft.index.SharedTraining.train]]). */
  def buildIndexShared(t: graft.index.SharedTraining,
      payloadCols: Seq[String] = Nil): DataFrame = {
    require(t.dims == dims,
      s"artifact dims ${t.dims} != handle dims $dims")
    dropServingState()
    if (t.metric == Knn.Dot) {
      val bound = t.mipsMaxNormSq.getOrElse(throw new IllegalStateException(
        "dot artifact without its trained max norm"))
      val row = vectors.agg(max(dotNative(col(vecCol), col(vecCol)))).head()
      val shardM2 = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      require(shardM2 <= bound,
        f"shard max squared norm $shardM2%.6g exceeds the artifact's trained " +
          f"bound $bound%.6g - train SharedTraining on the union corpus, or " +
          "pass a normBoundSq that dominates every shard (a clamped over-norm " +
          "vector would silently lose recall)")
      mipsMaxNormSq = Some(bound)
    }
    val reduced = {
      val r = t.metric match {
        case Knn.Cosine => vectors.withColumn(vecCol, l2Normalize(col(vecCol)))
        case Knn.Dot => vectors.withColumn(vecCol,
          zeroPad(mipsAugment(col(vecCol), t.mipsMaxNormSq.get), t.width, dims + 1))
        case _ => vectors
      }
      t.opqPerm
        .map(p => r.withColumn(vecCol, graft.index.Opq.permuteExpr(col(vecCol), p)))
        .getOrElse(r)
    }
    val assigned = IvfIndex.assign(reduced, t.router, idCol, vecCol)
    def codesWith(enc: org.apache.spark.sql.Column): DataFrame =
      assigned
        .select(col(idCol), col("cell"), enc.as("codes"),
          payExpr(payloadCols).as("payload"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out: DataFrame = t.mode match {
      case "ivf" =>
        val built = HnswIndex.build(assigned.withColumn("part", col("cell")),
            params, idCol, vecCol, "part", payloadCols)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        index = Some(built)
        built.toDF()
      case "pq" | "opq" =>
        val model = t.pqModel.getOrElse(throw new IllegalStateException(
          s"${t.mode} artifact without codebooks"))
        val codes = codesWith(ProductQuantizer.encodeExpr(col(vecCol), model))
        pqState = Some((codes, model))
        opqPerm = t.opqPerm
        codes
      case "sq" =>
        val (lo, hi) = t.sqBounds.getOrElse(throw new IllegalStateException(
          "sq artifact without trained bounds"))
        val codes = codesWith(ScalarQuantizer.encodeExpr(col(vecCol), lo, hi))
        sqState = Some((codes, lo, hi))
        codes
      case "bq" =>
        val codes = codesWith(graft.index.BinaryQuant.packExpr(col(vecCol), t.width))
        bqState = Some(codes)
        codes
      case m => throw new IllegalArgumentException(s"unknown artifact mode '$m'")
    }
    ivfModel = Some(t.router)
    indexMetric = t.metric
    intendedMetric = t.metric
    servedPayloadCols = payloadCols
    sharedTraining = Some(t)
    out
  }

  /** Append rows — the reference's `add_vector` ingest rule
    * (`src/lib.rs:62-72`, any bad row rejects the batch) applies
    * lazily: the returned handle's guard covers the appended rows, so
    * the batch rejects at the first action that evaluates it (or
    * eagerly via [[validate]]). Returns a new handle over the union
    * (the DataFrame lineage is the append log; callers persist via
    * their sink of choice) — a rejected batch never mutates this
    * handle.
    *
    * When this handle serves an HNSW index (and no compressed state),
    * the derived handle carries the index MAINTAINED incrementally
    * ([[graft.index.HnswIndex.addBatch]] — rebuild cost ∝ cells the
    * batch touches, never the whole index): additions are routed
    * through the trained router when one exists (the same id-hash rule
    * as [[buildIndex]] otherwise), unit-normalized first under the
    * cosine metric, and must carry the build-time payload columns.
    * Compressed (PQ/SQ) handles carry their codes MAINTAINED too: the
    * batch encodes with the existing model and appends cell-assigned
    * codes rows — the resident codes never re-encode — so one appended
    * row keeps ADC serving instead of degrading to brute force.
    *
    * SUPERSESSION: the derived handle supersedes this one — the
    * parent's cached index/codes generation is RELEASED when the child
    * materializes (one live generation per churn chain, never the
    * history). A parent handle kept alive afterwards (e.g. A/B serving
    * during a migration) stays correct but recomputes its build
    * lineage on the next search; keep serving from the newest handle,
    * or re-persist the parent's state explicitly if both generations
    * must serve concurrently. Applies to [[add]], [[remove]],
    * [[upsert]], and [[compact]]. */
  def add(newRows: DataFrame): VectorDB = {
    val keep = (Seq(idCol, vecCol) ++ servedPayloadCols).map(col)
    val db = tuned(new VectorDB(raw.select(keep: _*)
      .unionByName(newRows.select(keep: _*)), dims, params, idCol, vecCol))
    val servesDot = intendedMetric == Knn.Dot &&
      (index.isDefined || servesCompressed)
    if (servesDot) {
      val m2 = mipsMaxNormSq.getOrElse(
        throw new IllegalStateException("dot index without its captured max norm"))
      // nullable read: an EMPTY batch aggregates max to null, and a
      // no-op add must neither NPE nor trigger a rebuild
      val bRow = newRows.agg(max(dotNative(col(vecCol), col(vecCol)))).head()
      val batchM2 =
        if (bRow.isNullAt(0)) Double.NegativeInfinity else bRow.getDouble(0)
      if (batchM2 > m2) {
        // norm-expanding add: every existing extension references the
        // build-time M, so the augmentation geometry is global — a
        // batch that raises the max norm rebuilds the dot serving
        // state under the new M (replaying the RECORDED build shape —
        // cell count, iteration budget, codebook shape — not library
        // defaults) instead of maintaining incrementally (clamping
        // instead would bury the new vectors in augmented space)
        rebuildOnto(db)
        return db
      }
    }
    if (sqState.isDefined) {
      // SQ codes clamp to the build-time per-dim bounds, so a batch
      // with any component outside [lo, hi] would append codes whose
      // ADC distances are silently biased toward the interior. Detect
      // bound expansion (one small aggregate over the BATCH, reduced
      // into serving space — the space the bounds were trained in) and
      // take the rebuild arm under the recorded build shape instead —
      // the exact analog of the dot norm-expansion check above.
      val (_, lo, hi) = sqState.get
      val vd = col(vecCol).cast("array<double>")
      val oob =
        exists(zip_with(vd, typedLit(lo), (x, l) => x < l), b => b) ||
          exists(zip_with(vd, typedLit(hi), (x, h) => x > h), b => b)
      val row = reduceRows(newRows.select(col(idCol), col(vecCol)))
        .agg(max(when(oob, 1).otherwise(0))).head()
      if (!row.isNullAt(0) && row.getInt(0) == 1) {
        rebuildOnto(db)
        return db
      }
    }
    if (servesCompressed)
      return maintainedCodes(db, codesTable.unionByName(encodeBatch(newRows)))
    maintained(db) { idx =>
      val src = indexMetric match {
        case Knn.Cosine => newRows.withColumn(vecCol, l2Normalize(col(vecCol)))
        // augment with the BUILD-time max norm: the graph's geometry is
        // fixed at build; re-deriving M from the batch would shear it
        case Knn.Dot => newRows.withColumn(vecCol,
          mipsAugment(col(vecCol), mipsMaxNormSq.getOrElse(
            throw new IllegalStateException("dot index without its captured max norm"))))
        case _ => newRows
      }
      val parted = ivfModel match {
        case Some(m) => IvfIndex.assign(src, m, idCol, vecCol)
          .withColumn("part", col("cell"))
        case None =>
          // mirror buildIndex's id-hash rule at the index's own cell
          // count (one tiny agg over the persisted index, no corpus job)
          val nParts = idx.agg(max("part")).head().getInt(0) + 1
          src.withColumn("part", pmod(hash(col(idCol)), lit(nParts)))
      }
      HnswIndex.addBatch(idx, parted, params, idCol, vecCol, "part", servedPayloadCols)
    }
  }

  /** Replay this handle's RECORDED build configuration onto a derived
    * handle (the rebuild arm of norm-expanding dot adds): same cell
    * count, iteration budget, codebook shape, metric, and payload
    * columns the user chose. The rebuild reads only the derived
    * corpus, so the parent's superseded cache releases immediately. */
  private def rebuildOnto(db: VectorDB): Unit = {
    if (sharedTraining.isDefined)
      // a norm-/bound-expanding batch invalidates GLOBAL geometry: a
      // shard that locally retrained would stop fingerprint-matching
      // its peers and silently lose mergeability — fail loudly with
      // the real fix instead
      throw new IllegalStateException(
        "this handle serves a corpus-global SharedTraining artifact and the " +
          "batch expands its trained bound (max-norm / SQ range) — a shard " +
          "cannot locally rebuild global geometry; retrain SharedTraining " +
          "over the grown corpus (or with a dominating normBoundSq) and " +
          "buildIndexShared every shard against the new artifact")
    if (opqPerm.isDefined && pqState.isDefined) {
      // the permutation is corpus-trained state: a rebuild re-derives
      // it from the NEW corpus under the recorded shape
      val (nc, ri, ns, ck, pi) = opqBuildParams.getOrElse((16, 1, 8, 16, 0))
      db.buildIndexOpq(nc, ri, ns, ck, pi, metric = intendedMetric,
        payloadCols = servedPayloadCols)
    } else if (pqState.isDefined) {
      val (nc, ri, ns, ck, pi) = pqBuildParams.getOrElse((16, 1, 8, 16, 0))
      db.buildIndexPq(nc, ri, ns, ck, pi, metric = intendedMetric,
        payloadCols = servedPayloadCols)
    } else if (sqState.isDefined) {
      val (nc, ri) = sqBuildParams.getOrElse((16, 1))
      db.buildIndexSq(nc, ri, metric = intendedMetric,
        payloadCols = servedPayloadCols)
    } else if (bqState.isDefined) {
      val (nc, ri) = bqBuildParams.getOrElse((16, 1))
      db.buildIndexBq(nc, ri, metric = intendedMetric,
        payloadCols = servedPayloadCols)
    } else {
      val (nc, it) = ivfBuildParams.getOrElse((ivfModel.map(_.k).getOrElse(16), 1))
      db.buildIndexIvf(nc, it, metric = intendedMetric,
        payloadCols = servedPayloadCols)
    }
    index.foreach(_.unpersist(blocking = false))
    pqState.foreach(_._1.unpersist(blocking = false))
    sqState.foreach(_._1.unpersist(blocking = false))
    bqState.foreach(_.unpersist(blocking = false))
  }

  /** Encode an incoming batch with the EXISTING compressed model:
    * reduce into the index's serving space, route through the trained
    * router, emit codes rows in the served schema. Only the batch
    * encodes — the resident codes pass through [[maintainedCodes]]
    * untouched (the dirty-work-only contract
    * [[graft.index.HnswIndex.addBatch]] keeps for graphs). */
  /** Rows mapped into the index's serving space with the STORED
    * reduction state (build-time max norm for dot — never recaptured;
    * a batch-derived M would shear the augmentation geometry). */
  private def reduceRows(rows: DataFrame): DataFrame = {
    val r = indexMetric match {
      case Knn.Cosine => rows.withColumn(vecCol, l2Normalize(col(vecCol)))
      case Knn.Dot => rows.withColumn(vecCol,
        zeroPad(mipsAugment(col(vecCol), mipsMaxNormSq.getOrElse(
          throw new IllegalStateException("dot codes without their captured max norm"))),
          codesWidth, dims + 1))
      case _ => rows
    }
    // OPQ: incoming batches encode in the permuted space (mirror of
    // [[reduceQueryVec]]'s query-side hook)
    opqPerm.map(p =>
      r.withColumn(vecCol, graft.index.Opq.permuteExpr(col(vecCol), p)))
      .getOrElse(r)
  }

  private def encodeBatch(newRows: DataFrame): DataFrame = {
    val keep = (Seq(idCol, vecCol) ++ servedPayloadCols).map(col)
    // build-time max norm on the dot arm: norm-expanding batches take
    // the rebuild arm in [[add]] before reaching here
    val reduced = reduceRows(newRows.select(keep: _*))
    val router = ivfModel.getOrElse(throw new IllegalStateException(
      "compressed serving requires the trained router"))
    val enc = pqState
      .map { case (_, m) => ProductQuantizer.encodeExpr(col(vecCol), m) }
      .orElse(sqState.map { case (_, lo, hi) =>
        ScalarQuantizer.encodeExpr(col(vecCol), lo, hi) })
      .orElse(bqState.map { _ =>
        graft.index.BinaryQuant.packExpr(col(vecCol), codesWidth) })
      .get
    IvfIndex.assign(reduced, router, idCol, vecCol)
      .select(col(idCol), col("cell"), enc.as("codes"),
        payExpr(servedPayloadCols).as("payload"))
  }

  /** Carry this handle's compressed serving state onto a derived
    * handle with `newCodes` as its codes table: the new generation
    * persists and MATERIALIZES, then the superseded codes release — a
    * churn chain pins one live generation, never the whole history.
    * Same supersession contract as [[maintained]]: the PARENT handle's
    * cache is released; see the note on [[add]]. */
  private def maintainedCodes(db: VectorDB, newCodes: DataFrame): VectorDB = {
    val next = newCodes
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    next.count()
    codesTable.unpersist(blocking = false)
    db.pqState = pqState.map { case (_, m) => (next, m) }
    db.sqState = sqState.map { case (_, lo, hi) => (next, lo, hi) }
    db.bqState = bqState.map(_ => next)
    db.indexMetric = indexMetric
    db.ivfModel = ivfModel
    db.mipsMaxNormSq = mipsMaxNormSq
    db.opqPerm = opqPerm
    // in-bound maintenance encodes against the shared artifact, so the
    // derived handle keeps its merge compatibility
    db.sharedTraining = sharedTraining
    db
  }

  /** Remove rows by id (extension — the reference is append-only): the
    * removal set is small by contract and broadcasts into an anti-join,
    * so the lineage stays one narrow pass over the table. When this
    * handle serves an HNSW index (and no compressed state), the derived
    * handle carries the index maintained incrementally
    * ([[graft.index.HnswIndex.removeBatch]] — only cells that held a
    * removed id rebuild); compressed (PQ/SQ) handles carry their codes
    * pruned by the same anti-join; otherwise it derives index-less.
    * Absent ids are a no-op, mirroring `removeBatch`'s idempotence. */
  def remove(ids: DataFrame): VectorDB = {
    val db = tuned(new VectorDB(
      raw.join(broadcast(ids.select(col(idCol))), Seq(idCol), "left_anti"),
      dims, params, idCol, vecCol))
    if (servesCompressed)
      return maintainedCodes(db, codesTable
        .join(broadcast(ids.select(col(idCol))), Seq(idCol), "left_anti"))
    maintained(db)(idx => HnswIndex.removeBatch(idx, ids, params, idCol))
  }

  /** Replace-or-insert by id (extension — training pipelines re-embed
    * documents under stable ids): removes the incoming ids, then adds
    * the rows. Both derivations MAINTAIN a served HNSW index
    * incrementally, so the total rebuild cost stays proportional to
    * the cells the batch touches, never the corpus. */
  def upsert(rows: DataFrame): VectorDB =
    remove(rows.select(col(idCol))).add(rows)

  /** Consolidate the served index's undersized cells
    * ([[graft.index.HnswIndex.compact]] — the defrag a long-lived
    * handle needs after many [[remove]] generations shrink cells, or
    * many [[add]] trickles fragment them): cells below `minCellSize`
    * dissolve into their nearest surviving cell and only the receivers
    * rebuild, so the cost is proportional to the moved data, never the
    * index. The router (when one is trained) is RE-DERIVED from the
    * compacted layout — a stale router would probe dissolved cells
    * that no longer exist and silently lose their vectors. Corpus and
    * serving knobs carry over. Compressed (PQ/SQ) handles take
    * [[compactCodes]] — same dissolve semantics on the codes table.
    * A [[buildIndexShared]] handle DROPS its shared status here: the
    * compacted cell layout diverges from the artifact's router, so the
    * derived handle is no longer fingerprint-mergeable (merge before
    * compacting, or compact the merged result). */
  def compact(minCellSize: Int = 64): VectorDB = {
    if (servesCompressed) return compactCodes(minCellSize)
    val idx = index.getOrElse(throw new IllegalStateException(
      "compact requires a built index — call buildIndex/buildIndexIvf/buildIndexPq/buildIndexSq first"))
    val compacted = HnswIndex.compact(idx, params, minCellSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the compacted generation, then release the
    // superseded one — a defrag must shrink the cache, not double it
    compacted.count()
    idx.unpersist(blocking = false)
    val db = tuned(new VectorDB(raw, dims, params, idCol, vecCol))
    db.sourcePath = sourcePath
    db.index = Some(compacted)
    db.indexMetric = indexMetric
    db.mipsMaxNormSq = mipsMaxNormSq
    db.ivfModel = ivfModel.map(_ => IvfIndex.fromPartitionMeans(
      compacted.toDF().select(col("part"), col("vec")), "part", "vec"))
    db
  }

  /** Split oversized serving cells into first-class cells through the
    * handle ([[graft.index.HnswIndex.rebalance]] — [[compact]]'s
    * mirror image: compact dissolves undersized debris, rebalance
    * breaks up skew-grown mega-cells so rebuilds and maintenance
    * parallelize and persisted pruning gets finer). The router (when
    * one is trained) is RE-DERIVED from the rebalanced layout — the
    * new cells must be routable. HNSW serving only: compressed cell
    * membership is codes-table routing metadata whose balance
    * maintenance is [[compactCodes]]' concern. Like [[compact]], a
    * shared-artifact handle drops its shared status here (the split
    * layout diverges from the artifact's router) — merge first, then
    * rebalance the merged result. */
  def rebalance(maxCellSize: Int = HnswIndex.DefaultMaxCellSize): VectorDB = {
    val idx = index.getOrElse(throw new IllegalStateException(
      "rebalance requires a built HNSW index — call buildIndex/buildIndexIvf first"))
    val rebal = HnswIndex.rebalance(idx, params, maxCellSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the rebalanced generation, then release the
    // superseded one (the compact()/maintained() cache contract)
    rebal.count()
    idx.unpersist(blocking = false)
    val db = tuned(new VectorDB(raw, dims, params, idCol, vecCol))
    db.sourcePath = sourcePath
    db.index = Some(rebal)
    db.indexMetric = indexMetric
    db.mipsMaxNormSq = mipsMaxNormSq
    db.ivfModel = ivfModel.map(_ => IvfIndex.fromPartitionMeans(
      rebal.toDF().select(col("part"), col("vec")), "part", "vec"))
    db
  }

  /** Merge another INDEPENDENTLY BUILT handle into one serving handle
    * — the serving-level arm of [[graft.index.HnswIndex.merge]] (the
    * 100 TB parallel-build path: shard the corpus, build/[[save]] each
    * shard's handle in its own job, [[VectorDB.load]] and merge). No
    * cell graph rebuilds; the right side's cell ids shift past the
    * left's; duplicate vector ids across shards fail loudly inside
    * the index merge. The router (when either side trained one)
    * RE-DERIVES from the merged layout — the [[compact]]/[[rebalance]]
    * precedent. HNSW raw/cosine serving only, both sides the SAME
    * metric: compressed modes train CORPUS-GLOBAL codebooks/bounds and
    * the dot (MIPS) augmentation bakes a corpus-global max-norm into
    * every stored vector — shard-local versions of either cannot be
    * reconciled without a rebuild, so those merges are rejected
    * loudly rather than served subtly wrong. */
  def mergeWith(other: VectorDB): VectorDB = {
    require(dims == other.dims,
      s"dimension mismatch: $dims vs ${other.dims}")
    require(idCol == other.idCol && vecCol == other.vecCol,
      s"column-name mismatch: ($idCol, $vecCol) vs (${other.idCol}, ${other.vecCol})")
    require(params == other.params,
      s"HNSW parameter mismatch: $params vs ${other.params}")
    // the SHARED-ARTIFACT arm: both sides encoded against the same
    // corpus-global training ([[buildIndexShared]]) — every mode
    // merges, including compressed and dot. A fingerprint MISMATCH
    // between two shared handles fails here with the real diagnosis
    // instead of falling through to the shard-local reject below.
    (sharedTraining, other.sharedTraining) match {
      case (Some(ta), Some(tb)) =>
        require(ta.fingerprint == tb.fingerprint,
          "shared-training fingerprint mismatch: the two handles were " +
            s"encoded against different artifacts (${ta.fingerprint.take(12)}… " +
            s"vs ${tb.fingerprint.take(12)}…) — retrain once and " +
            "buildIndexShared both sides from the SAME artifact")
        return mergeShared(ta, Seq(other))
      case _ => ()
    }
    // compressed state rejects BEFORE the index requirement: a PQ/SQ/BQ
    // handle has no HNSW index at all, and "build an index first" would
    // misdirect a user whose real blocker is the corpus-global codebook
    require(pqState.isEmpty && sqState.isEmpty && bqState.isEmpty &&
      other.pqState.isEmpty && other.sqState.isEmpty && other.bqState.isEmpty,
      "compressed handles with shard-local training merge by REBUILD — " +
        "PQ/SQ/BQ/OPQ codebooks and bounds are corpus-global, two " +
        "shard-local trainings cannot reconcile; train once with " +
        "SharedTraining.train and buildIndexShared each shard to make " +
        "compressed shards mergeable")
    val a = index.getOrElse(throw new IllegalStateException(
      "mergeWith requires a built HNSW index on BOTH handles"))
    val b = other.index.getOrElse(throw new IllegalStateException(
      "mergeWith requires a built HNSW index on BOTH handles"))
    require(indexMetric == other.indexMetric && intendedMetric == other.intendedMetric,
      s"metric mismatch: $indexMetric/$intendedMetric vs " +
        s"${other.indexMetric}/${other.intendedMetric}")
    require(indexMetric != Knn.Dot,
      "dot (MIPS) handles with shard-local training merge by REBUILD — " +
        "the augmentation max-norm is corpus-global and each shard baked " +
        "its own into the stored vectors; train once with " +
        "SharedTraining.train(metric = dot) and buildIndexShared each " +
        "shard to make dot shards mergeable")
    require(servedPayloadCols == other.servedPayloadCols,
      s"payload-column mismatch: $servedPayloadCols vs ${other.servedPayloadCols}")
    require(vectors.columns.sorted.sameElements(other.vectors.columns.sorted),
      s"corpus schema mismatch: ${vectors.columns.sorted.mkString(",")} vs " +
        s"${other.vectors.columns.sorted.mkString(",")}")
    // HnswIndex.merge persists the union BEFORE its duplicate-id
    // aggregate (one computation serves the check and this
    // materialization); the count just completes the cache fill
    val merged = HnswIndex.merge(a, b)
    merged.count()
    val db = tuned(new VectorDB(
      vectors.unionByName(other.vectors), dims, params, idCol, vecCol))
    db.index = Some(merged)
    db.indexMetric = indexMetric
    db.ivfModel = ivfModel.orElse(other.ivfModel).map(_ =>
      IvfIndex.fromPartitionMeans(
        merged.toDF().select(col("part"), col("vec")), "part", "vec"))
    db
  }

  /** The fingerprint-equal arm of [[mergeWith]]: both handles encoded
    * against the SAME [[graft.index.SharedTraining]] artifact, so
    * corpus-global state reconciles by construction. Compressed codes
    * tables union DIRECTLY — cell ids are global (both sides routed
    * through the shared centroids), so nothing re-keys and the SHARED
    * router keeps serving. The HNSW ("ivf") mode still merges via
    * [[graft.index.HnswIndex.merge]] with re-keyed parts — cell GRAPHS
    * are shard-local even under a shared router (interleaving two
    * graphs under one part id would corrupt both) — and re-derives its
    * router from the merged layout; the shared dot max-norm is what
    * makes the dot variant sound. Id-disjointness is checked loudly on
    * the compressed union (the HnswIndex.merge contract; the HNSW arm
    * checks inside merge). Merged serving state ≡ a single
    * [[buildIndexShared]] over the union corpus — encode and cell
    * assignment are per-row maps of the shared artifact — which is the
    * anchor CompressedServingSpec pins and the q_vectordb_pq_merged /
    * q_vectordb_dot_merged oracles gate. */
  private def mergeShared(t: graft.index.SharedTraining,
      others: Seq[VectorDB]): VectorDB = {
    others.foreach { other =>
      require(servedPayloadCols == other.servedPayloadCols,
        s"payload-column mismatch: $servedPayloadCols vs ${other.servedPayloadCols}")
      require(vectors.columns.sorted.sameElements(other.vectors.columns.sorted),
        s"corpus schema mismatch: ${vectors.columns.sorted.mkString(",")} vs " +
          s"${other.vectors.columns.sorted.mkString(",")}")
    }
    val all = this +: others
    val db = tuned(new VectorDB(
      all.map(_.vectors).reduce(_ unionByName _), dims, params, idCol, vecCol))
    db.indexMetric = indexMetric
    db.intendedMetric = intendedMetric
    db.mipsMaxNormSq = t.mipsMaxNormSq
    db.opqPerm = t.opqPerm
    db.sharedTraining = Some(t)
    if (servesCompressed) {
      // persist BEFORE the duplicate-id aggregate: one computation
      // serves the check and the merged handle's first search
      val union = all.map(_.codesTable).reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // rejection must unpersist the blocks the duplicate-id aggregate
      // just materialized (the HnswIndex.merge error-path contract)
      try {
        val dup = union.groupBy(col(idCol)).count()
          .filter(col("count") > 1).select(col(idCol)).head(1)
        require(dup.isEmpty,
          s"merge requires globally unique vector ids; id " +
            s"${dup.headOption.map(_.get(0)).getOrElse(-1L)} appears in more " +
            "than one shard (shard the corpus disjointly, or remove/upsert " +
            "before merging)")
      } catch {
        case e: Throwable => union.unpersist(); throw e
      }
      db.pqState = pqState.map { case (_, m) => (union, m) }
      db.sqState = sqState.map { case (_, lo, hi) => (union, lo, hi) }
      db.bqState = bqState.map(_ => union)
      db.ivfModel = Some(t.router)
    } else {
      val idxs = all.map(_.index.getOrElse(throw new IllegalStateException(
        "mergeWith requires a built HNSW index on EVERY handle")))
      val merged = HnswIndex.mergeAll(idxs)
      merged.count()
      db.index = Some(merged)
      db.ivfModel = Some(IvfIndex.fromPartitionMeans(
        merged.toDF().select(col("part"), col("vec")), "part", "vec"))
    }
    db
  }

  /** N-way [[mergeWith]] — the form a hundreds-of-shards build
    * actually runs (the [[graft.index.HnswIndex.mergeAll]] contract at
    * the handle level): ONE corpus union, ONE codes/index union, ONE
    * duplicate-id aggregate, and ONE router re-derivation, where a
    * fold of binary merges would re-check and re-derive against the
    * growing union once per shard. Accepts either ALL shards carrying
    * the same fingerprinted [[graft.index.SharedTraining]] artifact
    * (every serving mode, the [[buildIndexShared]] path) or ALL shards
    * shard-local-trained HNSW raw/cosine (the [[mergeWith]] rules, N
    * ways); a mix of shared and local shards cannot reconcile and
    * fails loudly. Served results ≡ the binary-merge fold
    * (spec-pinned). */
  def mergeAllWith(others: Seq[VectorDB]): VectorDB = {
    if (others.isEmpty) return this
    others.foreach { o =>
      require(dims == o.dims, s"dimension mismatch: $dims vs ${o.dims}")
      require(idCol == o.idCol && vecCol == o.vecCol,
        s"column-name mismatch: ($idCol, $vecCol) vs (${o.idCol}, ${o.vecCol})")
      require(params == o.params,
        s"HNSW parameter mismatch: $params vs ${o.params}")
    }
    val all = this +: others
    val shared = all.map(_.sharedTraining)
    if (shared.exists(_.isDefined)) {
      require(shared.forall(_.isDefined),
        "mixed shared-artifact and shard-local-trained handles cannot " +
          "merge — buildIndexShared EVERY shard from the same artifact")
      val fps = shared.flatten.map(_.fingerprint).distinct
      require(fps.size == 1,
        "shared-training fingerprint mismatch across shards " +
          s"(${fps.map(_.take(12)).mkString("…, ")}…) — retrain once and " +
          "buildIndexShared every shard from the SAME artifact")
      return mergeShared(shared.head.get, others)
    }
    require(all.forall(h => h.pqState.isEmpty && h.sqState.isEmpty && h.bqState.isEmpty),
      "compressed handles with shard-local training merge by REBUILD — " +
        "train once with SharedTraining.train and buildIndexShared each " +
        "shard to make compressed shards mergeable")
    val idxs = all.map(_.index.getOrElse(throw new IllegalStateException(
      "mergeAllWith requires a built HNSW index on EVERY handle")))
    others.foreach { o =>
      require(indexMetric == o.indexMetric && intendedMetric == o.intendedMetric,
        s"metric mismatch: $indexMetric/$intendedMetric vs " +
          s"${o.indexMetric}/${o.intendedMetric}")
      require(servedPayloadCols == o.servedPayloadCols,
        s"payload-column mismatch: $servedPayloadCols vs ${o.servedPayloadCols}")
      require(vectors.columns.sorted.sameElements(o.vectors.columns.sorted),
        s"corpus schema mismatch: ${vectors.columns.sorted.mkString(",")} vs " +
          s"${o.vectors.columns.sorted.mkString(",")}")
    }
    require(indexMetric != Knn.Dot,
      "dot (MIPS) handles with shard-local training merge by REBUILD — " +
        "train once with SharedTraining.train(metric = dot) and " +
        "buildIndexShared each shard to make dot shards mergeable")
    val merged = HnswIndex.mergeAll(idxs)
    merged.count()
    val db = tuned(new VectorDB(
      all.map(_.vectors).reduce(_ unionByName _), dims, params, idCol, vecCol))
    db.index = Some(merged)
    db.indexMetric = indexMetric
    db.ivfModel = all.flatMap(_.ivfModel).headOption.map(_ =>
      IvfIndex.fromPartitionMeans(
        merged.toDF().select(col("part"), col("vec")), "part", "vec"))
    db
  }

  /** Codes-table defrag — [[compact]]'s contract on the compressed
    * modes: cells below `minCellSize` DISSOLVE and their rows re-route
    * to the nearest SURVIVING centroid; the router restricts to the
    * survivors so no probe ever targets a dissolved cell. The codes
    * themselves never change — PQ/SQ encode the full vector against
    * global codebooks/bounds, so cell membership is routing metadata
    * only — and re-routing is one corpus scan joined against the
    * BROADCAST moved-id set: only moved rows reach the reduction and
    * centroid assignment (the scan itself is the irreducible cost of
    * reading the moved rows' raw vectors; no shuffle, no corpus-wide
    * reduction). */
  private def compactCodes(minCellSize: Int): VectorDB = {
    val router = ivfModel.getOrElse(throw new IllegalStateException(
      "compressed compaction requires the trained router"))
    val counts = codesTable.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val small = counts.filter(_._2 < minCellSize).keys.toSet
    // empty codes table: nothing to dissolve AND nothing to receive —
    // fall through to the unchanged-handle fast path below rather than
    // failing the survivor check with a misleading message
    if (counts.nonEmpty)
      require(counts.keySet.diff(small).nonEmpty,
        s"minCellSize=$minCellSize would dissolve every cell")
    val db = tuned(new VectorDB(raw, dims, params, idCol, vecCol))
    db.sourcePath = sourcePath
    db.indexMetric = indexMetric
    db.mipsMaxNormSq = mipsMaxNormSq
    db.opqPerm = opqPerm
    if (small.isEmpty) {
      // nothing below threshold: the live generation carries over
      db.pqState = pqState
      db.sqState = sqState
      db.bqState = bqState
      db.ivfModel = ivfModel
      return db
    }
    val survOrds = router.centroids.indices.filter(o => !small(router.cellId(o)))
    val survModel = IvfIndex.Model(
      survOrds.map(router.centroids).toArray,
      survOrds.map(router.cellId).toArray)
    val movedCodes = codesTable
      .filter(col("cell").isin(small.toSeq: _*))
      .drop("cell")
    // reduce + reassign ONLY the moved rows' raw vectors: the moved
    // set BROADCASTS (small by the dissolve contract — the same bound
    // remove() relies on) and the id-join narrows the corpus rows
    // BEFORE the reduction map, so neither a corpus shuffle nor a
    // corpus-wide dot augmentation happens — one corpus scan joined
    // against a broadcast id set is the whole re-route cost
    val reassigned = IvfIndex.assign(
        reduceRows(vectors.select(col(idCol), col(vecCol))
          .join(broadcast(movedCodes), Seq(idCol))),
        survModel, idCol, vecCol)
      .select(col(idCol), col("cell"), col("codes"), col("payload"))
    val kept = codesTable.filter(!col("cell").isin(small.toSeq: _*))
    val out = maintainedCodes(db, kept.unionByName(reassigned))
    out.ivfModel = Some(survModel)
    // compaction restricts the router to the survivors — the layout
    // diverges from any SharedTraining artifact, so the derived handle
    // drops its shared status (maintainedCodes carries it for IN-BOUND
    // maintenance, which never touches the router)
    out.sharedTraining = None
    out
  }

  /** Split oversized serving cells on a COMPRESSED handle —
    * [[compactCodes]]' mirror image and the compressed twin of
    * [[rebalance]]: compact dissolves undersized debris; this breaks
    * up cells that OUTGREW the router (the exact state a long
    * merge-chain under a fixed shared router produces — merging never
    * adds cells, so every shard's rows pile into the same L cells and
    * per-probe scan cost grows with the corpus). Each cell past
    * `maxCellSize` splits into `ceil(n/maxCellSize)` sub-cells:
    * sub-centroid SEEDS are the cell's lowest-id member vectors
    * (deterministic, the IvfIndex.train init convention), members
    * reassign to their nearest seed (ties to the lower new cell id),
    * and the final router centroid for each sub-cell is the exact
    * decimal MEAN of its members (the fromPartitionMeans convention) —
    * so future routing is geometric, not seed-anchored. The CODES
    * never change: PQ/SQ/BQ encode against global codebooks/bounds, so
    * cell membership is routing metadata only (the [[compactCodes]]
    * contract), and at exhaustive probing serving is provably
    * IDENTICAL before and after — the q_vectordb_sq_split oracle.
    *
    * Scale shape: one codes-table cell census, one corpus scan joined
    * to the oversized cells' membership (only those rows' raw vectors
    * reduce), a bounded Σ ceil(n_c/max) seed collect (= the NEW cell
    * count — router-sized, never corpus-sized), one
    * (rows × seeds-per-cell) broadcast-join argmin, and one O(#cells·d)
    * mean re-derivation. The size bound is k-means-approximate, not
    * hard — a skewed cell can still exceed it; iterate to fixpoint if
    * a hard bound matters.
    *
    * A [[buildIndexShared]] handle DROPS its shared status here (the
    * split router diverges from the artifact — merge every shard
    * FIRST, then split the merged result). HNSW handles take
    * [[rebalance]]. */
  def splitCells(maxCellSize: Int): VectorDB = {
    require(maxCellSize >= 1, s"maxCellSize must be >= 1, got $maxCellSize")
    require(servesCompressed,
      "splitCells maintains compressed codes tables — HNSW handles take rebalance()")
    val router = ivfModel.getOrElse(throw new IllegalStateException(
      "compressed cell split requires the trained router"))
    val counts = codesTable.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val big = counts.filter(_._2 > maxCellSize).keys.toSet
    val db = tuned(new VectorDB(raw, dims, params, idCol, vecCol))
    db.sourcePath = sourcePath
    db.indexMetric = indexMetric
    db.mipsMaxNormSq = mipsMaxNormSq
    db.opqPerm = opqPerm
    if (big.isEmpty) {
      db.pqState = pqState
      db.sqState = sqState
      db.bqState = bqState
      db.ivfModel = ivfModel
      // a no-op split diverges NOTHING — router and codes are carried
      // verbatim — so shared status (and with it merge compatibility)
      // carries too; only an actual split drops it below
      db.sharedTraining = sharedTraining
      return db
    }
    val spark = raw.sparkSession
    import spark.implicits._
    // the oversized cells' raw vectors, reduced into serving space:
    // one corpus scan joined to the big-cell membership on id (the
    // membership is NOT broadcast-sized — these are the fullest cells)
    val members = reduceRows(vectors.select(col(idCol), col(vecCol)))
      .join(codesTable.filter(col("cell").isin(big.toSeq: _*))
        .select(col(idCol), col("cell")), Seq(idCol))
    // seeds: the ceil(n/max) lowest-id members per big cell — one
    // bounded collect (Σ seeds = the new cell count, router-sized)
    val arity = big.toSeq.sorted
      .map(c => c -> ((counts(c) + maxCellSize - 1) / maxCellSize).toInt).toMap
    val seedRows = VectorDB.seedCandidates(members, arity, idCol)
      .collect()
      .map(r => (r.getInt(r.fieldIndex("cell")),
        r.getInt(r.fieldIndex("rn")),
        r.getSeq[Float](r.fieldIndex(vecCol)).toArray))
    // new cell ids: sub 1 of cell c KEEPS id c (unsplit probes of c
    // still route somewhere sane); subs 2+ take fresh ids past the max
    var nextId = counts.keys.max + 1
    val newIdOf: Map[(Int, Int), Int] = seedRows.sortBy(s => (s._1, s._2))
      .map { case (c, rn, _) =>
        val id = if (rn == 1) c else { val v = nextId; nextId += 1; v }
        (c, rn) -> id
      }.toMap
    val seedsDf = seedRows
      .map { case (c, rn, v) => (c, newIdOf((c, rn)), v.toSeq) }
      .toSeq.toDF("cell", "new_cell", "seed")
    // per-member argmin over ITS cell's seeds: broadcast fan-out join
    // + min(struct) — deterministic (distance, then lower new id)
    val assigned = members
      .join(broadcast(seedsDf), Seq("cell"))
      .select(col(idCol),
        struct(l2SqNative(col(vecCol), col("seed").cast("array<float>")).as("d"),
          col("new_cell").as("nc")).as("s"))
      .groupBy(col(idCol))
      .agg(min(col("s")).as("m"))
      .select(col(idCol), col("m.nc").as("new_cell"))
    val updated = codesTable.filter(col("cell").isin(big.toSeq: _*))
      .drop("cell")
      .join(assigned, Seq(idCol))
      .select(col(idCol), col("new_cell").as("cell"), col("codes"), col("payload"))
    val kept = codesTable.filter(!col("cell").isin(big.toSeq: _*))
    val out = maintainedCodes(db, kept.unionByName(updated))
    // final router: survivors keep their trained centroids; each new
    // sub-cell routes by the exact decimal MEAN of its members
    val subModel = IvfIndex.fromPartitionMeans(
      members.join(assigned, Seq(idCol)).select(col("new_cell"), col(vecCol)),
      "new_cell", vecCol)
    val survOrds = router.centroids.indices.filter(o => !big(router.cellId(o)))
    val combined = (survOrds.map(o => router.cellId(o) -> router.centroids(o)) ++
      subModel.centroids.indices.map(o => subModel.cellId(o) -> subModel.centroids(o)))
      .sortBy(_._1).toArray
    out.ivfModel = Some(IvfIndex.Model(combined.map(_._2), combined.map(_._1)))
    // the split router diverges from any SharedTraining artifact: the
    // derived handle drops its shared status (merge shards FIRST, then
    // split the merged result — the scaladoc contract); call
    // [[reshare]] on the split handle to mint a v2 artifact new shards
    // can encode against
    out.sharedTraining = None
    out
  }

  /** Mint a v2 [[graft.index.SharedTraining]] artifact from THIS
    * handle's CURRENT serving state — the post-split lifecycle arm
    * that un-dead-ends a rolling merge pipeline (VERDICT r16 item #3):
    * [[splitCells]]/[[compactCodes]] drop shared status because their
    * router diverges from the trained artifact, so once split, a
    * handle could never accept another shard. But PQ/SQ/BQ codes are
    * GLOBAL (cell membership is routing metadata only — the
    * compactCodes contract), so no re-encoding is needed: the v2
    * artifact is the carried codebooks/bounds/permutation/max-norm
    * under the current router, content-fingerprinted like any trained
    * artifact. New shards `buildIndexShared(v2)` and merge proceeds;
    * shards still carrying the v1 fingerprint reject loudly (the
    * standard gate — re-encode them against v2, which re-routes but
    * never re-codes). Zero jobs: every component is already
    * driver-resident. Compressed modes only — an HNSW cell graph is
    * built per shard regardless, so its merge path never needed the
    * artifact's router to match ([[rebalance]] keeps its own rules). */
  def reshare(): graft.index.SharedTraining = {
    require(servesCompressed,
      "reshare derives artifacts from compressed serving state — HNSW " +
        "handles merge via their own index rows and never dead-end on a split")
    val router = ivfModel.getOrElse(throw new IllegalStateException(
      "reshare requires the trained router"))
    val mode =
      if (pqState.isDefined && opqPerm.isDefined) "opq"
      else if (pqState.isDefined) "pq"
      else if (sqState.isDefined) "sq"
      else "bq"
    if (indexMetric == Knn.Dot)
      require(mipsMaxNormSq.isDefined,
        "dot handle without its trained max norm cannot mint an artifact")
    val numSub = pqState.map(_._2.numSub).getOrElse(1)
    val t = graft.index.SharedTraining(
      metric = indexMetric, mode = mode, dims = dims,
      width = graft.index.SharedTraining.servingWidth(mode, indexMetric, dims, numSub),
      router = router,
      pqModel = pqState.map(_._2),
      sqBounds = sqState.map { case (_, lo, hi) => (lo, hi) },
      opqPerm = opqPerm, mipsMaxNormSq = mipsMaxNormSq)
    sharedTraining = Some(t)
    t
  }

  /** Deterministic serving-state census — `len` tells a deployment how
    * big the corpus is; this tells it how the handle would SERVE: one
    * row of (corpus count, declared dims, serving mode, metric, cell
    * count, indexed-row count, smallest/largest cell, router
    * presence). Costs one corpus count plus one O(#cells) aggregate
    * over the index/codes table; never collects vectors. */
  def stats: DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val serving =
      if (opqPerm.isDefined && pqState.isDefined) "opq"
      else if (pqState.isDefined) "pq"
      else if (sqState.isDefined) "sq"
      else if (bqState.isDefined) "bq"
      else if (index.isDefined) "hnsw"
      else "exact"
    val cellCounts: Array[Long] =
      if (index.isDefined)
        index.get.groupBy("part").count().collect().map(_.getLong(1))
      else if (servesCompressed)
        codesTable.groupBy("cell").count().collect().map(_.getLong(1))
      else Array.empty
    Seq((len, dims, serving, intendedMetric, cellCounts.length.toLong,
        cellCounts.sum,
        if (cellCounts.isEmpty) 0L else cellCounts.min,
        if (cellCounts.isEmpty) 0L else cellCounts.max,
        ivfModel.isDefined))
      .toDF("n_vectors", "dims", "serving", "metric", "n_cells",
        "n_indexed", "min_cell", "max_cell", "has_router")
  }

  /** All rows within `radius` of the query — the reference's range
    * semantics (`q_range_search`) through the handle, under this
    * handle's metric (L2² for L2, 1−cosine for cosine). Served as ONE
    * map-only corpus scan (the distance filter fuses into the scan —
    * no shuffle, no index walk): exact range must not miss boundary
    * rows, and a full scan with a fused filter is the shape that holds
    * at any scale, so every handle serves it from the corpus. Result:
    * (idCol, dist) ascending with an id tiebreak. */
  def searchRange(queryVec: Seq[Float], radius: Double): DataFrame = {
    val d = intendedMetric match {
      case Knn.Cosine => lit(1.0d) - cosineNative(col(vecCol), vecLit(queryVec))
      // dot serves dist = −dot: pass radius = −minDot for "dot ≥ minDot"
      case Knn.Dot => -dotNative(col(vecCol), vecLit(queryVec))
      case _ => l2SqNative(col(vecCol), vecLit(queryVec))
    }
    vectors.select(col(idCol), d.as("dist"))
      .filter(col("dist") <= radius)
      .orderBy(col("dist").asc, col(idCol).asc)
  }

  /** Carries this handle's index — incrementally updated by `f` — onto
    * a derived handle, together with the serving state the index arm
    * needs (metric, router). The new generation persists and
    * MATERIALIZES (its lineage reads the old one), then the superseded
    * generation releases — without this every add/remove in a churn
    * chain pins another dead index at MEMORY_AND_DISK. No-op for
    * index-less and compressed handles.
    *
    * Supersession contract: the PARENT's cached generation is released
    * here — the derived handle supersedes it (see the note on
    * [[add]]). The parent stays CORRECT (its lineage recomputes on
    * demand), it just stops being cheap. */
  private def maintained(db: VectorDB)(
      f: Dataset[HnswIndex.IndexRow] => Dataset[HnswIndex.IndexRow]): VectorDB = {
    if (!servesCompressed) index.foreach { idx =>
      val next = f(idx)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count()
      idx.unpersist(blocking = false)
      db.index = Some(next)
      db.indexMetric = indexMetric
      db.ivfModel = ivfModel
      db.mipsMaxNormSq = mipsMaxNormSq
      // in-bound maintenance reduces batches with the artifact's stored
      // geometry, so the derived handle keeps its merge compatibility
      db.sharedTraining = sharedTraining
    }
    db
  }

  /** Derived handles keep this handle's serving knobs — losing the
    * tuning on every add/remove would silently revert a maintained (or
    * rebuilt) index to default nprobe/efSearch. */
  private def tuned(db: VectorDB): VectorDB = {
    db.nprobe = nprobe
    db.efSearch = efSearch
    db.adaptiveAlpha = adaptiveAlpha
    db.intendedMetric = intendedMetric
    db.ivfBuildParams = ivfBuildParams
    db.pqBuildParams = pqBuildParams
    db.sqBuildParams = sqBuildParams
    db.opqBuildParams = opqBuildParams
    // remove-derived handles keep every corpus column, so exact-arm
    // searchWhere can still pack the declared payload attributes
    // (add-derived handles keep only id+vec — a payload predicate
    // there fails analysis loudly rather than matching nothing)
    db.servedPayloadCols = servedPayloadCols
    db
  }

  /** Top-k search: ANN when an index is built (under the index's
    * metric), exact search under the intended metric otherwise. */
  def search(queryVec: Seq[Float], k: Int): DataFrame =
    searchImpl(queryVec, k, None)

  /** Max rows a cell may have and still serve from the driver-local
    * point-query cache ([[searchLocal]]); a probed cell above the cap
    * falls back to the distributed path. At 64-1024 dims the default
    * bounds a cached cell to tens of MB of driver heap. */
  var localCellRowCap: Int = 1 << 17

  /** Max cells held in the driver-local cache (LRU eviction). */
  var maxLocalCells: Int = 64

  /** Driver-local serving cache: logical cell id → that cell's
    * sub-graphs ((ids sorted ascending, walkable graph) per build
    * sub-part), or None when the cell exceeds [[localCellRowCap]].
    * LRU-bounded at [[maxLocalCells]]; cleared on every rebuild. */
  private val localCells =
    scala.collection.mutable.LinkedHashMap.empty[Int, Option[Seq[(Array[Long], HnswGraph)]]]

  /** The compressed twin of [[localCells]]: cell id → (ids, codes),
    * each code row held as the `ArrayData` the ADC kernels read (PQ/SQ
    * int codes, BQ packed long words). Codes are ~d·4/M× smaller than
    * graph rows, so the same row cap bounds a cached cell to
    * single-digit MB. */
  private val localCodeCells =
    scala.collection.mutable.LinkedHashMap.empty[Int, Option[(Array[Long], Array[ArrayData])]]

  /** Load one cell's graphs to the driver: ONE narrow job whose scan is
    * pruned to the cell (on a [[save]]d layout, to its parquet subtree).
    * The limit guard keeps an oversized cell from ever materializing on
    * the driver — it collects at most cap+1 rows, and cap-breach is
    * remembered so the cell is probed distributed from then on. */
  private def localCell(c: Int): Option[Seq[(Array[Long], HnswGraph)]] =
    localCells.remove(c) match {
      case Some(v) => localCells.put(c, v); v // LRU refresh
      case None =>
        val rows = index.get.filter(col("part") === c)
          .limit(localCellRowCap + 1).collect()
        val v =
          if (rows.length > localCellRowCap) None
          else Some(rows.groupBy(_.sub).toSeq.sortBy(_._1).map { case (_, rs) =>
            // ordinals ascend by id — the same order the distributed
            // walk assigns (sortWithinPartitions by vector_id), so the
            // reconstructed entry point and walk are bit-identical
            val sorted = rs.sortBy(_.vector_id)
            val ids = sorted.map(_.vector_id)
            val ordOf = ids.zipWithIndex.toMap
            val vecs: IndexedSeq[Array[Float]] = sorted.toIndexedSeq.map(_.vec)
            val adj = sorted.toIndexedSeq.map(_.layers.map(_.map(ordOf)))
            (ids, HnswGraph.fromAdjacency(params, vecs, adj))
          })
        if (localCells.size >= maxLocalCells)
          localCells.remove(localCells.head._1)
        localCells.put(c, v)
        v
    }

  /** Load one cell's (ids, codes) to the driver — [[localCell]]'s
    * compressed twin: one narrow partition-pruned job, the same cap
    * guard and cap-breach memory. */
  private def localCodeCell(c: Int): Option[(Array[Long], Array[ArrayData])] =
    localCodeCells.remove(c) match {
      case Some(v) => localCodeCells.put(c, v); v // LRU refresh
      case None =>
        val rows = codesTable.filter(col("cell") === c)
          .select(col(idCol), col("codes"))
          .limit(localCellRowCap + 1).collect()
        val v =
          if (rows.length > localCellRowCap) None
          else Some((
            rows.map(_.getLong(0)),
            rows.map[ArrayData] { r =>
              if (bqState.isDefined) UnsafeArrayData.fromPrimitiveArray(r.getSeq[Long](1).toArray)
              else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Int](1).toArray)
            }))
        if (localCodeCells.size >= maxLocalCells)
          localCodeCells.remove(localCodeCells.head._1)
        localCodeCells.put(c, v)
        v
    }

  /** The distributed compressed arm's distance ([[adcDist]]) as a
    * driver-side function of one code row: the same [[Kernels]] method
    * over the same model arrays, so local and distributed distances are
    * equal by construction. `q` is the reduced query. */
  private def localAdc(q: ArrayData): ArrayData => Double =
    pqState.map { case (_, m) =>
      (codes: ArrayData) => Kernels.pqAdc(codes, q, m.flat, m.numSub, m.k, m.subDim)
    }.orElse(sqState.map { case (_, lo, hi) =>
      val (l, h) = (lo.toArray, hi.toArray)
      (codes: ArrayData) => Kernels.sqAdc(codes, q, l, h)
    }).getOrElse {
      val packed = Kernels.signPack(q, codesWidth)
      (codes: ArrayData) => Kernels.hamming(codes, packed).toDouble
    }

  /** Driver-local point-query serving — the reference's headline shape
    * (an in-process index answers one query in well under a
    * millisecond, `/root/reference/readme.md:9`, `benchmark.py:26-33`)
    * that a per-query Spark job can never match (~0.2 s scheduling
    * floor). The router is already driver-resident; the probed cells'
    * graphs cache on the driver on first touch (one narrow
    * partition-pruned job each), and every later query routes, walks,
    * and merges entirely driver-side — zero jobs, microseconds.
    *
    * COMPRESSED handles serve locally too (round 16): the probed
    * cells' CODES cache instead of graphs (they are the cheapest cells
    * to hold — M bytes per vector), and the driver ranks them with the
    * same ADC kernels the distributed arm evaluates, so local ≡
    * distributed on every serving mode.
    *
    * Serves EXACTLY what the distributed routed path serves: same
    * probe selection (fixed or adaptive) on the same reduced query,
    * same per-sub-part beam at the same ef, same (dist, id) merge
    * order — asserted by the gated queries and the identity spec.
    * Cosine and dot handles serve too: the walk runs in the reduced
    * space (unit-normalized / MIPS-augmented — the graph's geometry),
    * then candidates re-score under the intended metric from the
    * STORED graph vectors with the distributed re-score pass's
    * kernels (dot is bit-identical — the augmentation coordinate contributes
    * exactly 0 to the padded-query dot; cosine agrees to float
    * normalization rounding, inside the gates' 3dp). The walk fetches
    * k+8 per sub-part for re-scored metrics so a float-level rank
    * flip at the k boundary cannot drop a true top-k row. Falls back
    * to distributed [[search]] when any probed cell exceeds
    * [[localCellRowCap]], or for configurations no local arm covers
    * (no index, no router). Returns (id, distance) ascending. */
  def searchLocal(queryVec: Seq[Float], k: Int): Seq[(Long, Double)] = {
    def distributed(): Seq[(Long, Double)] =
      search(queryVec, k).select(col(idCol), col("dist")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        .sortBy { case (id, d) => (d, id) }
    if (servesCompressed && ivfModel.isDefined) {
      require(queryVec.length == dims,
        s"query dimension mismatch: expected $dims, got ${queryVec.length}")
      // searchImpl's compressed arm, driver-side: same reduced query,
      // same fixed-nprobe probe order, same ADC kernel, same (dist, id)
      // ascending cut
      val rq = reduceQueryVec(queryVec)
      val probes = ivfModel.get.probeOrder(rq).take(nprobe)
      val cells = probes.map(localCodeCell)
      if (cells.exists(_.isEmpty)) return distributed()
      val adc = localAdc(UnsafeArrayData.fromPrimitiveArray(rq))
      return cells.flatMap { cOpt =>
        val (ids, codes) = cOpt.get
        ids.indices.map(i => (ids(i), adc(codes(i))))
      }.sortBy { case (id, d) => (d, id) }.take(k).toSeq
    }
    val eligible = index.isDefined && ivfModel.isDefined && !servesCompressed
    if (!eligible) return distributed()
    require(queryVec.length == dims,
      s"query dimension mismatch: expected $dims, got ${queryVec.length}")
    // the same driver-side reduction the compressed path uses: probe
    // selection and the graph walk both run in the index's space
    val rq = reduceQueryVec(queryVec)
    val q = UnsafeArrayData.fromPrimitiveArray(rq)
    val router = ivfModel.get
    val probes = adaptiveAlpha match {
      case Some(a) => router.probeAdaptive(rq, a, nprobe)
      case None    => router.probeOrder(rq).take(nprobe)
    }
    val cells = probes.map(localCell)
    if (cells.exists(_.isEmpty)) return distributed()
    val rescored = indexMetric != Knn.L2
    val fetchK = if (rescored) k + 8 else k
    val ef = if (efSearch > 0) efSearch else math.max(params.efConstruction, fetchK)
    cells.flatMap(_.get).flatMap { case (ids, g) =>
      g.searchEf(rq, fetchK, ef).map { case (ord, d) =>
        // exactDist's kernels: 1 − cosine, −dot
        def stored = UnsafeArrayData.fromPrimitiveArray(g.vectorAt(ord))
        val dist = indexMetric match {
          case Knn.Cosine => 1.0 - Kernels.cosine(stored, q)
          case Knn.Dot    => -Kernels.dot(stored, q)
          case _          => d
        }
        (ids(ord), dist)
      }
    }.sortBy { case (id, d) => (d, id) }.take(k).toSeq
  }

  /** Metadata-filtered top-k: rows whose id fails `idPred` are never
    * served. `idPred` receives the id column — the same predicate
    * applies to the corpus scan (exact arm) and to the index rows
    * (ANN arm, where it becomes [[HnswIndex.search]]'s
    * `candidateFilter`: the beam navigates the intact graph but admits
    * only matching rows). With [[efSearch]] unset, filtered search
    * widens the default beam to `max(efConstruction, 16·k)` — a
    * documented minimum covering predicates down to ~1/16 selectivity;
    * set [[efSearch]] explicitly for sparser predicates. */
  def searchFiltered(queryVec: Seq[Float], k: Int,
      idPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
    searchImpl(queryVec, k, Some(idPred(col("vector_id"))))

  /** Attribute-filtered top-k: `pred` is a boolean Column over the
    * served row — `vector_id` plus the `payload` attribute map packed
    * at build from `buildIndex*`'s `payloadCols` (e.g.
    * `element_at(col("payload"), "label") === "news"`). On the ANN arm
    * the predicate is evaluated in the index-scan stage
    * ([[HnswIndex.search]]'s `candidateFilter`); on the exact arm the
    * SAME payload map is packed on the fly from the build-time
    * columns; compressed (PQ/SQ) serving evaluates it on the payload
    * map its codes rows packed at build — so a predicate means the
    * same thing on every arm. */
  def searchWhere(queryVec: Seq[Float], k: Int,
      pred: org.apache.spark.sql.Column): DataFrame =
    searchImpl(queryVec, k, Some(pred))

  /** Exact-refined compressed search — the standard IVFADC re-ranking
    * step (Jégou et al.: ADC ranks approximately, a small exact pass
    * fixes the final order): ADC ranks the probed cells' codes to
    * top-(k·refine), then ONLY that bounded candidate set re-scores
    * with exact L2² on the raw vectors through a pushed-down In(id)
    * scan — row-group pruning at scale, never a corpus re-scan. The
    * codes table still bounds what search scans; the exact pass
    * touches k·refine rows. The re-score runs in the HANDLE's metric
    * (raw L2² / 1−cosine / −dot), so a cosine or dot compressed handle
    * refines to its own exact ranking. Requires compressed (PQ/SQ)
    * serving. */
  def searchRefined(queryVec: Seq[Float], k: Int, refine: Int = 4): DataFrame = {
    if (!servesCompressed)
      throw new IllegalStateException(
        "searchRefined re-ranks compressed serving — call buildIndexPq/buildIndexSq/buildIndexBq first")
    val cand = searchImpl(queryVec, k * refine, None)
      .select(col(idCol)).collect().map(_.getLong(0))
    vectors.filter(col(idCol).isin(cand.toSeq: _*))
      .select(col(idCol), exactDist(col(vecCol), vecLit(queryVec)).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Diversity-aware top-k through the handle — serving-time dedup
    * ([[graft.operators.Mmr]]): fetch the `fetch` nearest under the
    * CURRENT serving configuration (ANN / compressed ADC / exact —
    * whatever [[search]] dispatches to), re-read the bounded fetch
    * set's raw vectors through an In(id)-pruned scan (the
    * [[searchRefined]] shape — row-group pruning at scale, never a
    * corpus re-scan), then greedily MMR-pick `k` driver-side with
    * redundancy scored under this handle's metric (−L2² / cosine /
    * dot). `fetch` <= 0 defaults to 4·k. Output (rank, idCol, dist):
    * rank follows pick order, dist is the fetch arm's serving
    * distance. */
  def searchDiverse(queryVec: Seq[Float], k: Int, fetch: Int = 0,
      lambda: Double = 0.5): DataFrame = {
    val f = if (fetch > 0) fetch else 4 * k
    require(f >= k && k > 0, s"need fetch >= k > 0, got fetch=$f k=$k")
    val fetched = search(queryVec, f)
      .select(col(idCol).cast("long"), col("dist").cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, d) => (d, id) }
    val vecs = vectors.filter(col(idCol).isin(fetched.map(_._1).toSeq: _*))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val sim = intendedMetric match {
      case Knn.Cosine => graft.operators.Mmr.cosineSim
      case Knn.Dot    => graft.operators.Mmr.dotSim
      case _          => graft.operators.Mmr.l2Sim
    }
    graft.operators.Mmr.mmrPick(vectors.sparkSession,
      fetched.map { case (id, d) => (id, vecs(id), d) }, k, lambda, idCol, sim)
  }

  /** Batch diversity-aware top-k — [[searchDiverse]]'s contract at
    * [[searchBatch]]'s amortized shape: ONE fetch job answers every
    * query's top-`fetch` under the current serving configuration, the
    * union of candidates (bounded O(q·fetch) ids) re-reads raw vectors
    * in ONE In(id)-pruned scan, and the per-query greedy picks run
    * driver-side (each over its own bounded pool). Output
    * (qid, rank, idCol, dist) in pick order per qid. */
  def searchDiverseBatch(queries: DataFrame, k: Int, fetch: Int = 0,
      lambda: Double = 0.5,
      qidCol: String = "qid", qvecCol: String = "qv"): DataFrame = {
    val f = if (fetch > 0) fetch else 4 * k
    require(f >= k && k > 0, s"need fetch >= k > 0, got fetch=$f k=$k")
    val fetched = searchBatch(queries, f, qidCol, qvecCol)
      .select(col("qid").cast("long"), col(idCol).cast("long").as("__id"),
        col("dist").cast("double"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vecs = vectors
      .filter(col(idCol).isin(fetched.map(_._2).distinct.toSeq: _*))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val sim = intendedMetric match {
      case Knn.Cosine => graft.operators.Mmr.cosineSim
      case Knn.Dot    => graft.operators.Mmr.dotSim
      case _          => graft.operators.Mmr.l2Sim
    }
    val spark = vectors.sparkSession
    import spark.implicits._
    fetched.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qid, rows) =>
      val cand = rows.map { case (_, id, d) => (id, vecs(id), d) }
        .sortBy { case (id, _, d) => (d, id) }
      graft.operators.Mmr.greedy(cand, k, lambda, sim)
        .map { case (rank, id, d) => (qid, rank, id, d) }
    }.toDF("qid", "rank", idCol, "dist")
  }

  /** Batch exact-refine — [[searchRefined]]'s contract at
    * [[searchBatch]]'s amortized shape: ONE ADC job ranks every
    * query's probed codes to top-(k·refine), then the union of
    * candidates (bounded O(q·k·refine) ids) re-scores exact L2² in
    * ONE In(id)-pruned scan and re-ranks per query. Output
    * (qid, rank, idCol, dist) like [[searchBatch]]. */
  def searchBatchRefined(queries: DataFrame, k: Int, refine: Int = 4,
      qidCol: String = "qid", qvecCol: String = "qv"): DataFrame = {
    if (!servesCompressed)
      throw new IllegalStateException(
        "searchBatchRefined re-ranks compressed serving — call buildIndexPq/buildIndexSq/buildIndexBq first")
    val q = queries.select(
      col(qidCol).cast("long").as("qid"), col(qvecCol).cast("array<float>").as("qv"))
    val cand = adcServeBatch(q, k * refine).select(col("qid"), col(idCol))
    val ids = cand.select(idCol).distinct().collect().map(_.getLong(0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("dist").asc, col(idCol).asc)
    vectors.filter(col(idCol).isin(ids.toSeq: _*))
      .select(col(idCol), col(vecCol))
      .join(broadcast(cand), Seq(idCol))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col(idCol), exactDist(col(vecCol), col("qv")).as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("int").as("rank"), col(idCol), col("dist"))
  }

  /** Batch top-k — the amortized serving shape (the reference loops
    * point queries, `/root/reference/benchmark.py:26-33`, paying per-
    * query job-scheduling overhead that batching amortizes): one
    * search job answers every row of `queries` (`qidCol`, `qvecCol`).
    * Dispatch mirrors [[search]] — routed ANN under the index's
    * metric when an index is built, exact brute force under the
    * intended metric otherwise. Output: (qid, rank, idCol, dist),
    * rank 1-based ascending by distance. The query side is small by
    * contract (it broadcasts); the corpus/index side never collects. */
  def searchBatch(queries: DataFrame, k: Int,
      qidCol: String = "qid", qvecCol: String = "qv"): DataFrame =
    searchBatchImpl(queries, k, qidCol, qvecCol, None)

  /** Attribute-filtered batch top-k — [[searchWhere]]'s predicate
    * contract ([[searchBatch]]'s serving shape): one job answers the
    * whole batch, serving only rows matching `pred` (a boolean Column
    * over `vector_id` + the build-time `payload` map). */
  def searchBatchWhere(queries: DataFrame, k: Int,
      pred: org.apache.spark.sql.Column,
      qidCol: String = "qid", qvecCol: String = "qv"): DataFrame =
    searchBatchImpl(queries, k, qidCol, qvecCol, Some(pred))

  private def searchBatchImpl(queries: DataFrame, k: Int,
      qidCol: String, qvecCol: String,
      pred: Option[org.apache.spark.sql.Column]): DataFrame = {
    val q = queries.select(
      col(qidCol).cast("long").as("qid"), col(qvecCol).cast("array<float>").as("qv"))
    if (servesCompressed) {
      adcServeBatch(q, k, pred)
    } else index match {
      case Some(idx) if indexMetric == Knn.Cosine || indexMetric == Knn.Dot =>
        rescoredServe(idx, q, k, pred)
      case Some(idx) =>
        HnswIndex.search(idx, q, k, params,
          efSearch = filteredEf(k, pred.isDefined),
          router = ivfModel, nprobe = nprobe, adaptiveAlpha = routedAlpha,
          candidateFilter = pred,
          routerGraph = routerGraphOpt, routerEf = graphRouteEf)
          .select(col("qid"), col("rank"), col("vector_id").as(idCol), col("dist"))
      case None =>
        val base = pred.map { p =>
          vectors.withColumn("vector_id", col(idCol))
            .withColumn("payload", exactPayExpr)
            .filter(p)
        }.getOrElse(vectors)
        Knn.knnJoin(base, q, k, idCol, vecCol, "qid", "qv", metric = intendedMetric)
    }
  }

  /** The compressed-codes table being served (PQ or SQ). */
  private def codesTable: DataFrame =
    pqState.map(_._1).orElse(sqState.map(_._1)).orElse(bqState).get

  /** The served codes table, when compressed — package-private so the
    * specs can assert maintenance shape (appended codes must reuse the
    * cached parent generation, never re-encode the resident corpus). */
  private[graft] def servedCodes: Option[DataFrame] =
    pqState.map(_._1).orElse(sqState.map(_._1)).orElse(bqState)

  /** Asymmetric (ADC) distance of each codes row to the full-precision
    * query column `qv` — the query never quantizes, only the corpus. */
  private def adcDist(qv: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pqState.map { case (_, m) => ProductQuantizer.adcExpr(col("codes"), qv, m) }
      .orElse(sqState.map { case (_, lo, hi) =>
        ScalarQuantizer.adcL2Sq(col("codes"), qv, lo, hi) })
      .orElse(bqState.map { _ =>
        graft.index.BinaryQuant.hammingExpr(col("codes"),
          graft.index.BinaryQuant.packExpr(qv, codesWidth)).cast("double") })
      .get

  /** Batch ADC serving: map every query into the index's serving space
    * (driver-side — [[reduceQueryVec]]), route it to its nprobe cells
    * through the driver-resident router, restrict the codes scan to
    * the union of probed cells (prunable predicate), broadcast the
    * per-qid probe pairs + REDUCED query vectors, rank by ADC with the
    * bounded-heap top-k (map-side partial — the shuffle carries O(q·k)
    * rows). Payload predicates evaluate on the payload map the codes
    * rows carry from build. */
  private def adcServeBatch(q: DataFrame, k: Int,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val router = ivfModel.getOrElse(throw new IllegalStateException(
      "compressed serving requires the trained router"))
    val qRows = q.as[(Long, Array[Float])].collect()
      .map { case (qid, qv) => (qid, reduceQueryVec(qv.toSeq)) }
    val probePairs = qRows.flatMap { case (qid, qv) =>
      router.probeOrder(qv).take(nprobe).map(c => (qid, c))
    }.toSeq
    val probesDF = probePairs.toDF("qid", "cell")
    val qReduced = qRows.toSeq.toDF("qid", "qv")
    val topk = TopK.topK(k)
    val scoped = codesTable
      .filter(col("cell").isin(probePairs.map(_._2).distinct: _*))
    pred.map(p => scoped.withColumn("vector_id", col(idCol)).filter(p))
      .getOrElse(scoped)
      .join(broadcast(probesDF), Seq("cell"))
      .join(broadcast(qReduced), Seq("qid"))
      .select(col("qid"), col(idCol), adcDist(col("qv")).as("dist"))
      .groupBy(col("qid"))
      .agg(topk(col("dist"), col(idCol)).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("hit._2").as(idCol), col("hit._1").as("dist"))
  }

  /** The payload attribute map packed from `cols` — one shape across
    * every arm (index rows, codes rows, and the exact arm's on-the-fly
    * packing), so [[searchWhere]] predicates are arm-agnostic. */
  private def payExpr(cols: Seq[String]): org.apache.spark.sql.Column =
    if (cols.nonEmpty)
      map_from_arrays(
        array(cols.map(lit): _*),
        array(cols.map(c => col(c).cast("string")): _*))
    else typedLit(Map.empty[String, String])

  /** The payload map for the EXACT arm, packed on the fly from the
    * build-time payload columns. */
  private def exactPayExpr: org.apache.spark.sql.Column =
    payExpr(servedPayloadCols)

  private def searchImpl(queryVec: Seq[Float], k: Int,
      pred: Option[org.apache.spark.sql.Column]): DataFrame =
    if (servesCompressed) {
      val router = ivfModel.getOrElse(throw new IllegalStateException(
        "compressed serving requires the trained router"))
      val rq = reduceQueryVec(queryVec)
      val probes = router.probeOrder(rq).take(nprobe).toSeq
      val probed = codesTable.filter(col("cell").isin(probes: _*))
      val base = pred
        .map(p => probed.withColumn("vector_id", col(idCol)).filter(p))
        .getOrElse(probed)
      base.select(col(idCol), adcDist(vecLit(rq.toSeq)).as("dist"))
        .orderBy(col("dist").asc, col(idCol).asc)
        .limit(k)
    } else index match {
      case Some(idx) if indexMetric == Knn.Cosine || indexMetric == Knn.Dot =>
        val spark = vectors.sparkSession
        val q = spark.range(1).select(lit(0L).as("qid"),
          typedLit(queryVec).cast("array<float>").as("qv"))
        rescoredServe(idx, q, k, pred)
          .select(col(idCol), col("dist"))
          .orderBy(col("dist").asc, col(idCol).asc)
      case Some(idx) =>
        val spark = vectors.sparkSession
        val q = spark.range(1).select(lit(0L).as("qid"), typedLit(queryVec).cast("array<float>").as("qv"))
        // every arm serves the id under idCol — a caller must not have
        // to know which dispatch arm answered
        HnswIndex.search(idx, q, k, params, efSearch = filteredEf(k, pred.isDefined),
          router = ivfModel, nprobe = nprobe, adaptiveAlpha = routedAlpha,
          candidateFilter = pred,
          routerGraph = routerGraphOpt, routerEf = graphRouteEf)
          .select(col("vector_id").as(idCol), col("dist"))
      case None =>
        val base = pred.map { p =>
          vectors.withColumn("vector_id", col(idCol))
            .withColumn("payload", exactPayExpr)
            .filter(p)
        }.getOrElse(vectors)
        Knn.searchKnn(base, queryVec, k, idCol, vecCol, metric = intendedMetric)
    }

  /** Persist the FULL serving state — not just the index rows
    * ([[HnswIndex.save]], cell-partitioned parquet) but the trained
    * router centroids, the metric, and the serving knobs — so a restart
    * reloads everything from disk instead of re-aggregating the corpus
    * (at 100 TB, recomputing `fromPartitionMeans` on every restart is a
    * full-corpus job the deployment pays for no reason). The corpus
    * itself is NOT copied: the open path is recorded in the manifest
    * (derived add/remove handles, which have lineage instead of a path,
    * materialize their corpus under `path/corpus` — the one case where
    * a corpus-scale write is the point of the call). */
  def save(path: String): Unit = {
    if (index.isEmpty && !servesCompressed)
      throw new IllegalStateException(
        "save requires a built index — call buildIndex/buildIndexIvf/buildIndexPq/buildIndexSq/buildIndexBq first")
    val spark = raw.sparkSession
    import spark.implicits._
    index.foreach(idx => HnswIndex.save(idx, s"$path/index"))
    // compressed serving state: the codes table persists CELL-
    // PARTITIONED (probe pruning applies to the restored layout too)
    // plus the model that decodes it
    pqState.foreach { case (codes, model) =>
      codes.write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
      val rows = for {
        m <- model.codebooks.indices
        j <- model.codebooks(m).indices
      } yield (m, j, model.codebooks(m)(j).toSeq)
      rows.toDF("m", "j", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/pq")
    }
    sqState.foreach { case (codes, lo, hi) =>
      codes.write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
      lo.indices.map(i => (i, lo(i), hi(i))).toDF("pos", "lo", "hi")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/sq")
    }
    // binary codes carry no model — the packed words table IS the state
    bqState.foreach(_.write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes"))
    def writeRouter(m: IvfIndex.Model, dest: String): Unit =
      m.centroids.indices
        .map(i => (i, m.cellId(i), m.centroids(i).toSeq))
        .toDF("ord", "cell", "cv")
        .coalesce(1).write.mode("overwrite").parquet(dest)
    ivfModel.foreach(writeRouter(_, s"$path/router"))
    // a merged shared HNSW handle SERVES a router re-derived from the
    // merged layout (mergeShared's ivf arm) while its artifact keeps
    // the TRAINED router that t.fingerprint hashes — persist the
    // artifact's own router separately whenever the two diverge, or
    // load's reassembly-fingerprint integrity check would reject a
    // legitimate save (compressed handles never diverge: their
    // serving router IS t.router, so this writes nothing for them)
    sharedTraining.foreach { t =>
      if (!ivfModel.exists(VectorDB.sameRouter(_, t.router)))
        writeRouter(t.router, s"$path/shared_router")
    }
    val corpusRef = sourcePath.getOrElse {
      raw.write.mode("overwrite").parquet(s"$path/corpus")
      s"$path/corpus"
    }
    val compressed =
      if (pqState.isDefined) "pq" else if (sqState.isDefined) "sq"
      else if (bqState.isDefined) "bq" else "none"
    val meta = Seq(
      s"dims=$dims", s"metric=$indexMetric", s"intendedMetric=$intendedMetric",
      s"nprobe=$nprobe", s"efSearch=$efSearch",
      s"m=${params.m}", s"efConstruction=${params.efConstruction}",
      s"idCol=$idCol", s"vecCol=$vecCol", s"corpus=$corpusRef",
      s"hasIndex=${index.isDefined}", s"compressed=$compressed",
      s"payloadCols=${servedPayloadCols.mkString(",")}",
      s"adaptiveAlpha=${adaptiveAlpha.map(_.toString).getOrElse("")}",
      s"mipsMaxNormSq=${mipsMaxNormSq.map(_.toString).getOrElse("")}",
      s"ivfParams=${ivfBuildParams.map { case (a, b) => s"$a,$b" }.getOrElse("")}",
      s"pqParams=${pqBuildParams.map { case (a, b, c, d, e) => s"$a,$b,$c,$d,$e" }.getOrElse("")}",
      s"sqParams=${sqBuildParams.map { case (a, b) => s"$a,$b" }.getOrElse("")}",
      s"bqParams=${bqBuildParams.map { case (a, b) => s"$a,$b" }.getOrElse("")}",
      s"opqParams=${opqBuildParams.map { case (a, b, c, d, e) => s"$a,$b,$c,$d,$e" }.getOrElse("")}",
      s"opqPerm=${opqPerm.map(_.mkString(",")).getOrElse("")}",
      // shared-artifact handles stay MERGEABLE across a save/load
      // round-trip: every component (router, codebooks/bounds, perm,
      // max-norm) is already persisted above; the mode marker tells
      // load to re-assemble them, and the stored fingerprint is an
      // integrity check against the recomputed one
      s"shared=${sharedTraining.map(_.mode).getOrElse("")}",
      s"sharedWidth=${sharedTraining.map(_.width.toString).getOrElse("")}",
      s"sharedFingerprint=${sharedTraining.map(_.fingerprint).getOrElse("")}",
      s"hasRouter=${ivfModel.isDefined}").mkString("", "\n", "\n")
    val p = new org.apache.hadoop.fs.Path(path, "graft_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** [[adaptiveAlpha]] applies only to ROUTED search (HnswIndex.search
    * requires a router with it). */
  private def routedAlpha: Option[Double] =
    if (ivfModel.isDefined) adaptiveAlpha else None

  /** Default beam width, widened under a candidate filter: filtered-out
    * rows still occupy beam slots, so the unfiltered default
    * `max(efConstruction, k)` can under-fill k under a selective
    * predicate. `16·k` is the documented floor (covers ~1/16
    * selectivity); an explicit [[efSearch]] always wins. */
  private def filteredEf(k: Int, filtered: Boolean): Int =
    if (efSearch > 0 || !filtered) efSearch
    else math.max(params.efConstruction, 16 * k)

  /** Reduced-space serving for a (qid, qv) RAW-vector query table —
    * the shared shape behind the cosine AND dot (MIPS) metrics: map
    * the query into the space the graph was built in (cosine: unit
    * normalize; dot: 0-extend against the norm-augmented corpus), walk
    * the L2 graph (whose ranking equals the target metric's by the
    * respective reduction), over-fetch, then re-score the bounded hit
    * set with the exact double metric on the raw vectors — reported
    * distances carry no reduction noise. The hit set is
    * O(q·(k+margin)) ids, collected and re-scanned through a
    * pushed-down In(id) filter (row-group pruning at scale), never a
    * full corpus re-scan.
    *
    * The margin covers unit-space/raw-space rank wiggle at the k
    * boundary — and instead of assuming 8 always suffices, the
    * boundary is CHECKED: if a query's re-scored k-th distance equals
    * its last-fetched distance (an exact-tie group may extend past the
    * fetch), the walk re-runs with a doubled margin, up to 128, then
    * logs a warning and serves (a >128-wide exact-tie group is
    * upstream dedup's problem, not search's). Returns
    * (qid, rank, idCol, dist) with rank <= k. */
  private def rescoredServe(idx: Dataset[HnswIndex.IndexRow], qRaw: DataFrame, k: Int,
      candidateFilter: Option[org.apache.spark.sql.Column]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val qReduced = indexMetric match {
      case Knn.Dot => qRaw.select(col("qid"),
        concat(col("qv").cast("array<float>"), array(lit(0.0f))).as("qv"))
      case _ => qRaw.select(col("qid"), l2Normalize(col("qv")).as("qv"))
    }
    var margin = 8
    var result: DataFrame = null
    var widen = true
    while (widen) {
      // the beam must be able to RETURN k+margin rows or the boundary
      // check below is inert (an explicit efSearch below the fetch
      // target caps the walk before rank k+margin can exist); widening
      // the beam never loses recall, so raising ef to the fetch size
      // is semantics-safe
      val baseEf = filteredEf(k + margin, candidateFilter.isDefined)
      val ef = if (baseEf > 0) math.max(baseEf, k + margin) else baseEf
      val pairs = HnswIndex.search(idx, qReduced, k + margin, params,
          efSearch = ef,
          router = ivfModel, nprobe = nprobe, adaptiveAlpha = routedAlpha,
          candidateFilter = candidateFilter,
          routerGraph = routerGraphOpt, routerEf = graphRouteEf)
        .select(col("qid"), col("vector_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val hits = pairs.toSeq.toDF("qid", idCol)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("dist").asc, col(idCol).asc)
      // the window runs over the bounded hit set (q·(k+margin) rows),
      // never the corpus
      val rescored = vectors
        .filter(col(idCol).isin(pairs.map(_._2).distinct.toSeq: _*))
        .select(col(idCol), col(vecCol))
        .join(broadcast(hits), Seq(idCol))
        .join(broadcast(qRaw), Seq("qid"))
        .select(col("qid"), col(idCol),
          (if (indexMetric == Knn.Dot) -dotNative(col(vecCol), col("qv"))
           else lit(1.0d) - cosineNative(col(vecCol), col("qv"))).as("dist"))
        .withColumn("rank", row_number().over(w))
      // boundary-tie check on the re-scored edge rows (a tiny collect):
      // a qid whose k-th distance equals its (k+margin)-th may have tie
      // members beyond the fetch — widen and re-walk
      val edges = rescored.filter(col("rank") === k || col("rank") === (k + margin))
        .groupBy("qid")
        .agg(min("dist").as("lo"), max("dist").as("hi"), count(lit(1)).as("n"))
        .filter(col("n") === 2 && col("lo") === col("hi"))
        .count()
      if (edges == 0 || margin >= 128) {
        if (edges > 0)
          org.slf4j.LoggerFactory.getLogger(classOf[VectorDB]).warn(
            s"$edges queries still tie at the k+$margin boundary; serving the (dist,id)-deterministic cut")
        result = rescored.filter(col("rank") <= k)
          .select(col("qid"), col("rank"), col(idCol), col("dist"))
        widen = false
      } else margin *= 2
    }
    result
  }
}

object VectorDB {
  /** Content equality of two routers (centroid vectors + cell-id
    * layout) — the save-side test for whether a shared handle's
    * SERVING router still IS its artifact's trained router. */
  private[graft] def sameRouter(a: IvfIndex.Model, b: IvfIndex.Model): Boolean =
    a.centroids.length == b.centroids.length &&
      a.centroids.indices.forall(i => a.cellId(i) == b.cellId(i) &&
        java.util.Arrays.equals(a.centroids(i), b.centroids(i)))

  /** The seed-candidate frame [[VectorDB#splitCells]] collects: per
    * oversized cell c, its arity(c) lowest-id members. The (cell,
    * arity) table joins IN-PLAN (broadcast, router-sized) so the
    * collect ships exactly Σ arity rows = the new cell count — an
    * `rn <= max(arity)` filter would ship up to max-arity full vectors
    * per big cell and discard them driver-side, a #big-cells ×
    * max-arity bill on a skewed-arity corpus. */
  private[graft] def seedCandidates(members: DataFrame, arity: Map[Int, Int],
      idCol: String): DataFrame = {
    val spark = members.sparkSession
    import spark.implicits._
    val arityDf = arity.toSeq.toDF("cell", "__arity")
    members
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("cell").orderBy(col(idCol).asc)))
      .join(broadcast(arityDf), Seq("cell"))
      .filter(col("rn") <= col("__arity"))
      .drop("__arity")
  }

  /** Open a parquet vector table. Launches NO job: the dimension rule
    * (any row whose vector length differs from `dims` is an error —
    * the reference returns an error string / PyIOError, we throw) is
    * fused into the scan and fires at the first action; call
    * `.validate()` on the handle for eager open-time rejection. */
  def open(spark: SparkSession, path: String, dims: Int,
      params: HnswParams = HnswParams(),
      idCol: String = "vec_id", vecCol: String = "embedding"): VectorDB = {
    val db = new VectorDB(spark.read.parquet(path), dims, params, idCol, vecCol)
    db.sourcePath = Some(path)
    db
  }

  /** Open a handle over an ALREADY-CONSTRUCTED vector DataFrame (a
    * binary-source read, a filtered view, a join result) — the
    * programmatic twin of [[open]]. No source path is recorded, so
    * [[VectorDB#save]] materializes the corpus under its own
    * directory. */
  def fromDataFrame(df: DataFrame, dims: Int,
      params: HnswParams = HnswParams(),
      idCol: String = "vec_id", vecCol: String = "embedding"): VectorDB =
    new VectorDB(df, dims, params, idCol, vecCol)

  /** Reload a [[VectorDB#save saved]] serving state: corpus handle (by
    * recorded path — never copied), index rows (cell-partitioned
    * parquet, so routed searches prune to probed subtrees), trained
    * router centroids, metric, and nprobe/efSearch. The ONLY job this
    * launches is the O(#cells·d) router read — a restarted 100 TB
    * deployment serves its first query without touching the corpus. */
  def load(spark: SparkSession, path: String): VectorDB = {
    val p = new org.apache.hadoop.fs.Path(path, "graft_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val metaText =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val meta = metaText.linesIterator.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    val params = HnswParams(meta("m").toInt, meta("efConstruction").toInt)
    val db = new VectorDB(spark.read.parquet(meta("corpus")), meta("dims").toInt,
      params, meta("idCol"), meta("vecCol"))
    db.sourcePath = Some(meta("corpus"))
    // pre-r7 manifests have no hasIndex/compressed keys (HNSW always)
    if (meta.getOrElse("hasIndex", "true").toBoolean)
      db.index = Some(HnswIndex.load(spark, s"$path/index"))
    db.servedPayloadCols =
      meta.getOrElse("payloadCols", "").split(",").filter(_.nonEmpty).toSeq
    // pre-r9 codes parquets carry no payload column — restore an empty
    // map so the served schema is uniform
    def codesCompat(): DataFrame = {
      val raw = spark.read.parquet(s"$path/codes")
      val pay =
        if (raw.columns.contains("payload")) col("payload")
        else typedLit(Map.empty[String, String]).as("payload")
      raw.select(col(meta("idCol")), col("cell").cast("int").as("cell"),
        col("codes"), pay)
    }
    meta.getOrElse("compressed", "none") match {
      case "pq" =>
        val codes = codesCompat()
        val rows = spark.read.parquet(s"$path/pq")
          .select(col("m").cast("int"), col("j").cast("int"),
            col("v").cast("array<double>"))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        val books = rows.groupBy(_._1).toArray.sortBy(_._1)
          .map { case (_, js) => js.sortBy(_._2).map(_._3) }
        db.pqState = Some((codes, ProductQuantizer.Model(books)))
      case "sq" =>
        val codes = codesCompat()
        val rows = spark.read.parquet(s"$path/sq")
          .select(col("pos").cast("int"), col("lo"), col("hi"))
          .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
          .sortBy(_._1)
        db.sqState = Some((codes, rows.map(_._2).toSeq, rows.map(_._3).toSeq))
      case "bq" =>
        db.bqState = Some(codesCompat())
      case _ => ()
    }
    def readRouter(dest: String): IvfIndex.Model = {
      val rows = spark.read.parquet(dest)
        .select(col("ord").cast("int"), col("cell").cast("int"),
          col("cv").cast("array<double>"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .sortBy(_._1)
      val cellIds = rows.map(_._2)
      IvfIndex.Model(rows.map(_._3),
        if (cellIds.zipWithIndex.forall { case (c, i) => c == i }) Array.empty
        else cellIds)
    }
    if (meta("hasRouter").toBoolean)
      db.ivfModel = Some(readRouter(s"$path/router"))
    db.indexMetric = meta("metric")
    db.intendedMetric = meta("intendedMetric")
    db.nprobe = meta("nprobe").toInt
    db.efSearch = meta("efSearch").toInt
    db.adaptiveAlpha = meta.get("adaptiveAlpha").filter(_.nonEmpty).map(_.toDouble)
    db.mipsMaxNormSq = meta.get("mipsMaxNormSq").filter(_.nonEmpty).map(_.toDouble)
    def ints(key: String): Option[Array[Int]] =
      meta.get(key).filter(_.nonEmpty).map(_.split(",").map(_.toInt))
    db.ivfBuildParams = ints("ivfParams").map(a => (a(0), a(1)))
    db.pqBuildParams = ints("pqParams").map(a => (a(0), a(1), a(2), a(3), a(4)))
    db.sqBuildParams = ints("sqParams").map(a => (a(0), a(1)))
    db.bqBuildParams = ints("bqParams").map(a => (a(0), a(1)))
    db.opqBuildParams = ints("opqParams").map(a => (a(0), a(1), a(2), a(3), a(4)))
    db.opqPerm = ints("opqPerm")
    // re-assemble the SharedTraining artifact from its persisted
    // components so a loaded shard keeps its merge compatibility; the
    // recomputed fingerprint must equal the saved one (doubles
    // round-trip parquet and Double.toString bit-exactly — a mismatch
    // means the artifact directory was tampered with or mixed)
    meta.get("shared").filter(_.nonEmpty).foreach { mode =>
      // a merged shared HNSW handle persists the artifact's TRAINED
      // router separately from the serving one (save's divergence
      // rule) — reassemble the artifact from it when present, so the
      // fingerprint check verifies the artifact, not the serving state
      val sharedRouterPath = new org.apache.hadoop.fs.Path(path, "shared_router")
      val router =
        if (fs.exists(sharedRouterPath)) readRouter(sharedRouterPath.toString)
        else db.ivfModel.getOrElse(throw new IllegalStateException(
          "shared-artifact manifest without a persisted router"))
      val t = graft.index.SharedTraining(
        metric = db.indexMetric, mode = mode, dims = db.dims,
        width = meta("sharedWidth").toInt, router = router,
        pqModel = db.pqState.map(_._2),
        sqBounds = db.sqState.map { case (_, lo, hi) => (lo, hi) },
        opqPerm = db.opqPerm, mipsMaxNormSq = db.mipsMaxNormSq)
      val saved = meta.getOrElse("sharedFingerprint", "")
      require(saved.isEmpty || saved == t.fingerprint,
        s"shared-training fingerprint mismatch on load: manifest says $saved, " +
          s"re-assembled artifact hashes to ${t.fingerprint} — the saved " +
          "components were altered or mixed across saves")
      db.sharedTraining = Some(t)
    }
    db
  }
}
