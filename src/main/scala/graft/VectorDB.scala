package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

import org.apache.spark.sql.graft.CheckpointBridge

import graft.functions.VectorFunctions._
import graft.functions.expressions.Kernels
import graft.index.{HnswGraph, HnswIndex, HnswParams, IvfIndex, ProductQuantizer}
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

  /** Everything this handle serves from, as one immutable value (see
    * [[VectorDB.Serving]]): a build installs a new value, a derived
    * handle gets its own, so no piece of it can drift from another. */
  private var state: VectorDB.Serving = VectorDB.Serving()
  /** The parquet path this handle was opened on (None for add/remove
    * lineage handles) — recorded by [[save]] so [[VectorDB.load]] can
    * reopen the corpus without copying it. */
  private var sourcePath: Option[String] = None

  /** The metric the user chose. It survives index loss: a handle
    * without an index serves exact search under it, so a cosine handle
    * never silently serves L2. */
  private def metric: String = state.metric

  /** True when a compressed (PQ/OPQ/SQ/BQ) codes table is serving. */
  private def servesCompressed: Boolean = state.compressed

  /** The served HNSW index rows, when the handle serves a graph. */
  private def index: Option[Dataset[HnswIndex.IndexRow]] = state.index

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
    else state.router.map { m =>
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

  /** Release this handle's cached serving state and reset it — called
    * at the top of every build, so a rebuild never leaves a superseded
    * generation pinned in the executor cache and no router, metric or
    * artifact of the old configuration leaks into the new one. Builds
    * read only the corpus, so releasing first is safe. */
  private def release(): Unit = {
    localCells.clear()
    localCodeCells.clear()
    state.table.foreach(_.unpersist(blocking = false))
    state = VectorDB.Serving()
  }

  /** Build the ANN index over an optional contiguous id range
    * (`src/lib.rs:336-341`); partitioning routes vectors into
    * `numParts` IVF-style cells by id hash unless a partition column is
    * supplied upstream. */
  def buildIndex(startId: Long = Long.MinValue, endId: Long = Long.MaxValue,
      numParts: Int = 16, partCol: Option[String] = None,
      payloadCols: Seq[String] = Nil): Dataset[HnswIndex.IndexRow] = {
    release()
    val ranged = vectors.filter(col(idCol) >= startId && col(idCol) < endId)
    val parted = partCol match {
      case Some(c) => ranged.withColumn("part", col(c).cast("int"))
      case None    => ranged.withColumn("part", pmod(hash(col(idCol)), lit(numParts)))
    }
    // persist: the handle serves many searches over one build — without
    // this every query re-executes the whole graph construction lineage
    val built = HnswIndex.build(parted, params, idCol, vecCol, "part", payloadCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    state = VectorDB.Serving(table = Some(built.toDF()), payloadCols = payloadCols)
    built
  }

  /** A raw query mapped into the serving space, driver-side (raw when
    * no artifact is trained). */
  private def reduceQueryVec(q: Seq[Float]): Array[Float] =
    state.artifact.map(_.reduceQuery(q)).getOrElse(q.toArray)

  /** Exact distance under this handle's intended metric — what refine
    * passes and exact arms re-score with on the RAW vectors. */
  private def exactDist(vc: org.apache.spark.sql.Column,
      qc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    metric match {
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
    * same shape: vectors are norm-augmented (each x extends with
    * sqrt(M² − ‖x‖²) for the corpus max norm M — one max-norm
    * aggregate, then a map-only extension; see
    * [[graft.index.SharedTraining]]) before train/assign/build, and
    * [[search]] 0-extends the query, walks the L2 graph, and re-scores
    * with the exact double dot on the raw vectors (dist = −dot,
    * ascending = largest dot first). */
  def buildIndexIvf(numCells: Int = 16, iters: Int = 5,
      metric: String = Knn.L2,
      payloadCols: Seq[String] = Nil): Dataset[HnswIndex.IndexRow] =
    VectorDB.indexRows(trained("ivf", metric, VectorDB.BuildShape(numCells, iters), payloadCols))

  /** Build the IVF-PQ serving configuration — the standard
    * billion-scale shape (coarse quantizer routes to nprobe cells,
    * product-quantized codes rank inside them by asymmetric distance):
    * the corpus is encoded ONCE into M-byte codes per vector (persisted
    * — the whole point is that the codes table, ~d·4/M× smaller than
    * the raw vectors, is what search scans), and [[search]] dispatches
    * to ADC ranking within the probed cells. Replaces any HNSW index on
    * this handle (extension — the reference stores raw f32 only,
    * its `src/disk_store.rs:7-11`). */
  def buildIndexPq(numCells: Int = 16, routerIters: Int = 1, numSub: Int = 8,
      codebookK: Int = 16, pqIters: Int = 0, metric: String = Knn.L2,
      payloadCols: Seq[String] = Nil): DataFrame =
    trained("pq", metric,
      VectorDB.BuildShape(numCells, routerIters, numSub, codebookK, pqIters), payloadCols)

  /** Build the OPQ serving configuration — [[buildIndexPq]] with the
    * energy-balanced dimension permutation ([[graft.index.Opq]], Ge et
    * al. CVPR'13 §4.1) trained first and applied in serving space:
    * router, codebooks, and codes all live in the permuted space
    * (queries and incoming batches enter it through the artifact's
    * reduction, so add/remove/upsert/compact maintenance is
    * permutation-correct with NO extra arms), while refine/exact
    * passes stay on the raw vectors — a permutation is orthogonal, so
    * exact distances are unchanged. The permutation itself is a
    * d-entry model artifact (one map-side-combined census + one d-row
    * collect at build). */
  def buildIndexOpq(numCells: Int = 16, routerIters: Int = 1, numSub: Int = 8,
      codebookK: Int = 16, pqIters: Int = 0, metric: String = Knn.L2,
      payloadCols: Seq[String] = Nil): DataFrame =
    trained("opq", metric,
      VectorDB.BuildShape(numCells, routerIters, numSub, codebookK, pqIters), payloadCols)

  /** Build the int8 scalar-quantized serving configuration: per-dim
    * bounds trained from the corpus, byte codes 4× smaller than f32,
    * routed ADC ranking within probed cells (see [[buildIndexPq]] for
    * the serving shape; `metric` selects the same cosine/dot
    * reductions). */
  def buildIndexSq(numCells: Int = 16, routerIters: Int = 1,
      metric: String = Knn.L2, payloadCols: Seq[String] = Nil): DataFrame =
    trained("sq", metric, VectorDB.BuildShape(numCells, routerIters), payloadCols)

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
      metric: String = Knn.L2, payloadCols: Seq[String] = Nil): DataFrame =
    trained("bq", metric, VectorDB.BuildShape(numCells, routerIters), payloadCols)

  /** Train `mode`'s serving state on this handle's own corpus through
    * [[graft.index.SharedTraining.train]] — the only training path —
    * and encode the corpus against it. The shape is recorded so a
    * bound-expanding [[add]] rebuilds with the user's configuration. */
  private def trained(mode: String, metric: String, shape: VectorDB.BuildShape,
      payloadCols: Seq[String]): DataFrame = {
    release()
    val t = graft.index.SharedTraining.train(vectors, dims, mode, metric,
      shape.numCells, shape.iters, shape.numSub, shape.codebookK, shape.pqIters,
      idCol = idCol, vecCol = vecCol)
    install(t, shared = false, Some(shape), payloadCols)
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
    release()
    if (t.metric == Knn.Dot) {
      val bound = t.maxNormSq
      val row = vectors.agg(max(dotNative(col(vecCol), col(vecCol)))).head()
      val shardM2 = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      require(shardM2 <= bound,
        f"shard max squared norm $shardM2%.6g exceeds the artifact's trained " +
          f"bound $bound%.6g - train SharedTraining on the union corpus, or " +
          "pass a normBoundSq that dominates every shard (a clamped over-norm " +
          "vector would silently lose recall)")
    }
    install(t, shared = true, None, payloadCols)
  }

  /** Encode this handle's corpus against `t` — the map-only half of
    * every build: reduce into t's serving space, route through t's
    * router, then build each cell's HNSW graph ("ivf") or encode one
    * codes row per vector. The table persists lazily (the first search
    * materializes it); `shared` marks a foreign artifact, the one a
    * handle may merge on. */
  private def install(t: graft.index.SharedTraining, shared: Boolean,
      shape: Option[VectorDB.BuildShape], payloadCols: Seq[String]): DataFrame = {
    val assigned = IvfIndex.assign(t.reduce(vectors, vecCol), t.router, idCol, vecCol)
    val table =
      if (t.compressed)
        assigned.select(col(idCol), col("cell"), t.encodeExpr(col(vecCol)).as("codes"),
          payExpr(payloadCols).as("payload"))
      else
        HnswIndex.build(assigned.withColumn("part", col("cell")),
          params, idCol, vecCol, "part", payloadCols).toDF()
    table.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    state = VectorDB.Serving(t.metric, Some(t), shared, Some(t.router), Some(table),
      payloadCols, shape)
    table
  }

  /** A handle over `corpus` serving `next` — the one way every derived
    * handle is made: the serving value and every public serving knob
    * carry over here, once. A handle over the same corpus keeps its
    * source path. */
  private def derive(corpus: DataFrame, next: VectorDB.Serving): VectorDB = {
    val db = new VectorDB(corpus, dims, params, idCol, vecCol)
    db.state = next
    if (corpus eq raw) db.sourcePath = sourcePath
    db.nprobe = nprobe
    db.efSearch = efSearch
    db.adaptiveAlpha = adaptiveAlpha
    db.graphRouteEf = graphRouteEf
    db.localCellRowCap = localCellRowCap
    db.maxLocalCells = maxLocalCells
    db
  }

  /** This handle's serving value with its served table advanced one
    * generation by `f` ([[VectorDB.generation]]); unchanged for a
    * handle without a served table. */
  private def advanced(f: DataFrame => DataFrame): VectorDB.Serving =
    state.table match {
      case Some(p) => state.copy(table = Some(VectorDB.generation(Seq(p))(ls => f(ls.head))))
      case None => state
    }

  /** `rows` mapped into the serving space (raw without an artifact). */
  private def reduced(rows: DataFrame): DataFrame =
    state.artifact.map(_.reduce(rows, vecCol)).getOrElse(rows)

  /** Append rows — the reference's `add_vector` ingest rule
    * (`src/lib.rs:62-72`, any bad row rejects the batch) applies
    * lazily: the returned handle's guard covers the appended rows, so
    * the batch rejects at the first action that evaluates it (or
    * eagerly via [[validate]]). Returns a new handle over the union
    * (the DataFrame lineage is the append log; callers persist via
    * their sink of choice) — a rejected batch never mutates this
    * handle.
    *
    * When this handle serves an HNSW index, the derived handle carries
    * the index MAINTAINED incrementally
    * ([[graft.index.HnswIndex.addBatch]] — rebuild cost ∝ cells the
    * batch touches, never the whole index): additions are reduced into
    * the serving space and routed through the serving router when one
    * exists (the same id-hash rule as [[buildIndex]] otherwise), and
    * must carry the build-time payload columns. Compressed handles
    * carry their codes MAINTAINED too: the batch encodes with the
    * existing artifact and appends cell-assigned codes rows — the
    * resident codes never re-encode. A batch that leaves the trained
    * geometry (a dot batch above the trained max norm, an SQ batch
    * outside the trained bounds) rebuilds the serving state over the
    * grown corpus with the recorded build shape instead.
    *
    * SUPERSESSION: the derived handle supersedes this one. Its table is
    * computed from this handle's cached rows, persisted and
    * materialized, and then this handle's cached generation is
    * RELEASED — one live generation per churn chain, never the
    * history. The derived plan reads the parent through a leaf over
    * its cached RDD, so plan size stays constant along a chain. A
    * parent handle kept alive afterwards (e.g. A/B serving during a
    * migration) stays correct but recomputes its build lineage on the
    * next search; keep serving from the newest handle, or re-persist
    * the parent's state explicitly if both generations must serve
    * concurrently. Applies to [[add]], [[remove]], [[upsert]],
    * [[compact]], [[rebalance]], [[splitCells]] and the merges. */
  def add(newRows: DataFrame): VectorDB = {
    val s = state
    val keep = (Seq(idCol, vecCol) ++ s.payloadCols).map(col)
    val corpus = raw.select(keep: _*).unionByName(newRows.select(keep: _*))
    if (s.table.isDefined && s.artifact.exists(expands(_, newRows)))
      return rebuilt(corpus)
    derive(corpus, advanced { p =>
      val src = reduced(newRows.select(keep: _*))
      if (servesCompressed)
        p.unionByName(IvfIndex.assign(src, s.router.get, idCol, vecCol)
          .select(col(idCol), col("cell"), s.artifact.get.encodeExpr(col(vecCol)).as("codes"),
            payExpr(s.payloadCols).as("payload")))
      else {
        val parted = s.router match {
          case Some(m) => IvfIndex.assign(src, m, idCol, vecCol)
            .withColumn("part", col("cell"))
          case None =>
            // buildIndex's id-hash rule at the index's own cell count
            // (one tiny agg over the cached index, no corpus job)
            val nParts = p.agg(max("part")).head().getInt(0) + 1
            src.withColumn("part", pmod(hash(col(idCol)), lit(nParts)))
        }
        HnswIndex.addBatch(VectorDB.indexRows(p), parted, params, idCol, vecCol, "part",
          s.payloadCols).toDF()
      }
    })
  }

  /** True when `newRows` leaves `t`'s trained geometry: a dot batch
    * whose max squared norm exceeds the trained one (every stored
    * augmentation references it, and clamping would bury the new
    * vectors in augmented space), or an SQ batch with a component
    * outside the trained per-dim bounds in serving space (clamped
    * codes would bias its ADC distances toward the interior). One
    * small aggregate over the BATCH per check. */
  private def expands(t: graft.index.SharedTraining, newRows: DataFrame): Boolean = {
    // nullable reads: an EMPTY batch aggregates max to null, and a
    // no-op add must neither NPE nor trigger a rebuild
    val normGrows = t.metric == Knn.Dot && {
      val m2 = t.maxNormSq
      val row = newRows.agg(max(dotNative(col(vecCol), col(vecCol)))).head()
      !row.isNullAt(0) && row.getDouble(0) > m2
    }
    normGrows || t.sqBounds.exists { case (lo, hi) =>
      val vd = col(vecCol).cast("array<double>")
      val oob =
        exists(zip_with(vd, typedLit(lo), (x, l) => x < l), b => b) ||
          exists(zip_with(vd, typedLit(hi), (x, h) => x > h), b => b)
      val row = t.reduce(newRows.select(col(idCol), col(vecCol)), vecCol)
        .agg(max(when(oob, 1).otherwise(0))).head()
      !row.isNullAt(0) && row.getInt(0) == 1
    }
  }

  /** The rebuild arm of [[add]]: a handle over `corpus` trained afresh
    * with this handle's mode, metric, payload columns and RECORDED
    * build shape. The rebuild reads only the grown corpus, so this
    * handle's cached generation releases at once. */
  private def rebuilt(corpus: DataFrame): VectorDB = {
    val s = state
    val t = s.artifact.get
    if (s.shared)
      // a bound-expanding batch invalidates GLOBAL geometry: a shard
      // that locally retrained would stop fingerprint-matching its
      // peers and silently lose mergeability — fail loudly with the
      // real fix instead
      throw new IllegalStateException(
        "this handle serves a corpus-global SharedTraining artifact and the " +
          "batch expands its trained bound (max-norm / SQ range) — a shard " +
          "cannot locally rebuild global geometry; retrain SharedTraining " +
          "over the grown corpus (or with a dominating normBoundSq) and " +
          "buildIndexShared every shard against the new artifact")
    val db = derive(corpus, VectorDB.Serving(s.metric, payloadCols = s.payloadCols))
    db.trained(t.mode, s.metric, s.shape.getOrElse(VectorDB.BuildShape(
      if (t.compressed) 16 else s.router.map(_.k).getOrElse(16), 1)), s.payloadCols)
    s.table.foreach(_.unpersist(blocking = false))
    db
  }

  /** Remove rows by id (extension — the reference is append-only): the
    * removal set is small by contract and broadcasts into an anti-join,
    * so the lineage stays one narrow pass over the table. When this
    * handle serves an HNSW index, the derived handle carries the index
    * maintained incrementally ([[graft.index.HnswIndex.removeBatch]] —
    * only cells that held a removed id rebuild); compressed handles
    * carry their codes pruned by the same anti-join; otherwise it
    * derives index-less. Absent ids are a no-op, mirroring
    * `removeBatch`'s idempotence. Supersedes this handle (see [[add]]). */
  def remove(ids: DataFrame): VectorDB = {
    val gone = broadcast(ids.select(col(idCol)))
    derive(raw.join(gone, Seq(idCol), "left_anti"), advanced { p =>
      if (servesCompressed) p.join(gone, Seq(idCol), "left_anti")
      else HnswIndex.removeBatch(VectorDB.indexRows(p), ids, params, idCol).toDF()
    })
  }

  /** Replace-or-insert by id (extension — training pipelines re-embed
    * documents under stable ids): removes the incoming ids, then adds
    * the rows. Both derivations MAINTAIN a served HNSW index
    * incrementally, so the total rebuild cost stays proportional to
    * the cells the batch touches, never the corpus. */
  def upsert(rows: DataFrame): VectorDB =
    remove(rows.select(col(idCol))).add(rows)

  /** The router re-derived from a served index layout: each cell
    * routes by the exact decimal mean of its rows. */
  private def meansRouter(idx: DataFrame): IvfIndex.Model =
    IvfIndex.fromPartitionMeans(idx.select(col("part"), col("vec")), "part", "vec")

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
    if (index.isEmpty) throw new IllegalStateException(
      "compact requires a built index — call buildIndex/buildIndexIvf/buildIndexPq/buildIndexSq first")
    val next = advanced(p =>
      HnswIndex.compact(VectorDB.indexRows(p), params, minCellSize).toDF())
    derive(raw, next.copy(shared = false,
      router = next.router.map(_ => meansRouter(next.table.get))))
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
    if (index.isEmpty) throw new IllegalStateException(
      "rebalance requires a built HNSW index — call buildIndex/buildIndexIvf first")
    val next = advanced(p =>
      HnswIndex.rebalance(VectorDB.indexRows(p), params, maxCellSize).toDF())
    derive(raw, next.copy(shared = false,
      router = next.router.map(_ => meansRouter(next.table.get))))
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
  def mergeWith(other: VectorDB): VectorDB = mergeAllWith(Seq(other))

  /** The fingerprint-equal arm of [[mergeAllWith]]: every handle encoded
    * against the SAME [[graft.index.SharedTraining]] artifact, so
    * corpus-global state reconciles by construction. Compressed codes
    * tables union DIRECTLY — cell ids are global (both sides routed
    * through the shared centroids), so nothing re-keys and the SHARED
    * router keeps serving. The HNSW ("ivf") mode still merges via
    * [[graft.index.HnswIndex.mergeAll]] with re-keyed parts — cell
    * GRAPHS are shard-local even under a shared router (interleaving
    * two graphs under one part id would corrupt both) — and re-derives
    * its router from the merged layout; the shared dot max-norm is what
    * makes the dot variant sound. Id-disjointness is checked loudly on
    * the compressed union (the HnswIndex.merge contract; the HNSW arm
    * checks inside merge). Merged serving state ≡ a single
    * [[buildIndexShared]] over the union corpus — encode and cell
    * assignment are per-row maps of the shared artifact — which is the
    * anchor CompressedServingSpec pins and the q_vectordb_pq_merged /
    * q_vectordb_dot_merged oracles gate. */
  private def mergeShared(t: graft.index.SharedTraining,
      others: Seq[VectorDB]): VectorDB = {
    others.foreach(requireSameCorpus)
    val all = this +: others
    val corpus = all.map(_.vectors).reduce(_ unionByName _)
    if (servesCompressed) {
      val union = VectorDB.generation(all.map(_.state.table.get)) { ls =>
        // persist BEFORE the duplicate-id aggregate: one computation
        // serves the check and the generation's materialization
        val u = ls.reduce(_ unionByName _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // rejection must unpersist the blocks the duplicate-id
        // aggregate just materialized (the HnswIndex.merge contract)
        try {
          val dup = u.groupBy(col(idCol)).count()
            .filter(col("count") > 1).select(col(idCol)).head(1)
          require(dup.isEmpty,
            s"merge requires globally unique vector ids; id " +
              s"${dup.headOption.map(_.get(0)).getOrElse(-1L)} appears in more " +
              "than one shard (shard the corpus disjointly, or remove/upsert " +
              "before merging)")
        } catch {
          case e: Throwable => u.unpersist(); throw e
        }
        u
      }
      derive(corpus, state.copy(artifact = Some(t), shared = true,
        router = Some(t.router), table = Some(union)))
    } else {
      val merged = mergedIndex(all)
      derive(corpus, state.copy(artifact = Some(t), shared = true,
        router = Some(meansRouter(merged)), table = Some(merged)))
    }
  }

  /** The union of `all` handles' index rows as one generation
    * ([[graft.index.HnswIndex.mergeAll]]: part ids re-keyed, one
    * duplicate-id check). */
  private def mergedIndex(all: Seq[VectorDB]): DataFrame = {
    if (!all.forall(_.index.isDefined)) throw new IllegalStateException(
      "mergeWith requires a built HNSW index on EVERY handle")
    VectorDB.generation(all.map(_.state.table.get)) { ls =>
      HnswIndex.mergeAll(ls.map(VectorDB.indexRows)).toDF()
    }
  }

  /** Payload columns and corpus schema must agree across merged handles. */
  private def requireSameCorpus(o: VectorDB): Unit = {
    require(state.payloadCols == o.state.payloadCols,
      s"payload-column mismatch: ${state.payloadCols} vs ${o.state.payloadCols}")
    require(vectors.columns.sorted.sameElements(o.vectors.columns.sorted),
      s"corpus schema mismatch: ${vectors.columns.sorted.mkString(",")} vs " +
        s"${o.vectors.columns.sorted.mkString(",")}")
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
    // the SHARED-ARTIFACT arm: every side encoded against the same
    // corpus-global training ([[buildIndexShared]]) — every mode
    // merges, including compressed and dot. A fingerprint MISMATCH
    // fails here with the real diagnosis instead of falling through
    // to the shard-local rejects below.
    val shared = all.map(h => h.state.artifact.filter(_ => h.state.shared))
    if (shared.exists(_.isDefined)) {
      require(shared.forall(_.isDefined),
        "mixed shared-artifact and shard-local-trained handles cannot " +
          "merge — buildIndexShared EVERY shard from the same artifact")
      val fps = shared.flatten.map(_.fingerprint).distinct
      require(fps.size == 1,
        "shared-training fingerprint mismatch: the handles were encoded " +
          s"against different artifacts (${fps.map(_.take(12)).mkString("…, ")}…) — " +
          "retrain once and buildIndexShared every shard from the SAME artifact")
      return mergeShared(shared.head.get, others)
    }
    // compressed state rejects BEFORE the index requirement: a PQ/SQ/BQ
    // handle has no HNSW index at all, and "build an index first" would
    // misdirect a user whose real blocker is the corpus-global codebook
    require(!all.exists(_.servesCompressed),
      "compressed handles with shard-local training merge by REBUILD — " +
        "PQ/SQ/BQ/OPQ codebooks and bounds are corpus-global, two " +
        "shard-local trainings cannot reconcile; train once with " +
        "SharedTraining.train and buildIndexShared each shard to make " +
        "compressed shards mergeable")
    others.foreach { o =>
      require(metric == o.metric, s"metric mismatch: $metric vs ${o.metric}")
      requireSameCorpus(o)
    }
    require(metric != Knn.Dot,
      "dot (MIPS) handles with shard-local training merge by REBUILD — " +
        "the augmentation max-norm is corpus-global and each shard baked " +
        "its own into the stored vectors; train once with " +
        "SharedTraining.train(metric = dot) and buildIndexShared each " +
        "shard to make dot shards mergeable")
    val merged = mergedIndex(all)
    val routed = all.exists(_.state.router.isDefined)
    derive(all.map(_.vectors).reduce(_ unionByName _), state.copy(
      artifact = all.flatMap(_.state.artifact).headOption, shared = false,
      router = if (routed) Some(meansRouter(merged)) else None,
      table = Some(merged)))
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
    val router = state.router.getOrElse(throw new IllegalStateException(
      "compressed compaction requires the trained router"))
    val counts = state.table.get.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val small = counts.filter(_._2 < minCellSize).keys.toSet
    // empty codes table: nothing to dissolve AND nothing to receive —
    // fall through to the unchanged-handle fast path below rather than
    // failing the survivor check with a misleading message
    if (counts.nonEmpty)
      require(counts.keySet.diff(small).nonEmpty,
        s"minCellSize=$minCellSize would dissolve every cell")
    // nothing below threshold: the live generation carries over
    if (small.isEmpty) return derive(raw, state)
    val survOrds = router.centroids.indices.filter(o => !small(router.cellId(o)))
    val survModel = IvfIndex.Model(
      survOrds.map(router.centroids).toArray,
      survOrds.map(router.cellId).toArray)
    // compaction restricts the router to the survivors — the layout
    // diverges from any SharedTraining artifact, so the derived handle
    // drops its shared status
    derive(raw, advanced { p =>
      val movedCodes = p.filter(col("cell").isin(small.toSeq: _*)).drop("cell")
      // reduce + reassign ONLY the moved rows' raw vectors: the moved
      // set BROADCASTS (small by the dissolve contract — the same bound
      // remove() relies on) and the id-join narrows the corpus rows
      // BEFORE the reduction map, so neither a corpus shuffle nor a
      // corpus-wide dot augmentation happens
      val reassigned = IvfIndex.assign(
          reduced(vectors.select(col(idCol), col(vecCol))
            .join(broadcast(movedCodes), Seq(idCol))),
          survModel, idCol, vecCol)
        .select(col(idCol), col("cell"), col("codes"), col("payload"))
      p.filter(!col("cell").isin(small.toSeq: _*)).unionByName(reassigned)
    }.copy(router = Some(survModel), shared = false))
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
    * FIRST, then split the merged result; call [[reshare]] on the split
    * handle to mint a v2 artifact new shards can encode against). HNSW
    * handles take [[rebalance]]. */
  def splitCells(maxCellSize: Int): VectorDB = {
    require(maxCellSize >= 1, s"maxCellSize must be >= 1, got $maxCellSize")
    require(servesCompressed,
      "splitCells maintains compressed codes tables — HNSW handles take rebalance()")
    val router = state.router.getOrElse(throw new IllegalStateException(
      "compressed cell split requires the trained router"))
    val codes = state.table.get
    val counts = codes.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val big = counts.filter(_._2 > maxCellSize).keys.toSet
    // a no-op split diverges NOTHING — router and codes are carried
    // verbatim — so shared status (and with it merge compatibility)
    // carries too; only an actual split drops it below
    if (big.isEmpty) return derive(raw, state)
    val spark = raw.sparkSession
    import spark.implicits._
    // the oversized cells' raw vectors, reduced into serving space:
    // one corpus scan joined to the big-cell membership on id (the
    // membership is NOT broadcast-sized — these are the fullest cells)
    def membersOf(c: DataFrame): DataFrame =
      reduced(vectors.select(col(idCol), col(vecCol)))
        .join(c.filter(col("cell").isin(big.toSeq: _*))
          .select(col(idCol), col("cell")), Seq(idCol))
    val members = membersOf(codes)
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
    def assignedOf(m: DataFrame): DataFrame = m
      .join(broadcast(seedsDf), Seq("cell"))
      .select(col(idCol),
        struct(l2SqNative(col(vecCol), col("seed").cast("array<float>")).as("d"),
          col("new_cell").as("nc")).as("s"))
      .groupBy(col(idCol))
      .agg(min(col("s")).as("m"))
      .select(col(idCol), col("m.nc").as("new_cell"))
    // final router: survivors keep their trained centroids; each new
    // sub-cell routes by the exact decimal MEAN of its members
    val subModel = IvfIndex.fromPartitionMeans(
      members.join(assignedOf(members), Seq(idCol)).select(col("new_cell"), col(vecCol)),
      "new_cell", vecCol)
    val survOrds = router.centroids.indices.filter(o => !big(router.cellId(o)))
    val combined = (survOrds.map(o => router.cellId(o) -> router.centroids(o)) ++
      subModel.centroids.indices.map(o => subModel.cellId(o) -> subModel.centroids(o)))
      .sortBy(_._1).toArray
    derive(raw, advanced { p =>
      val updated = p.filter(col("cell").isin(big.toSeq: _*))
        .drop("cell")
        .join(assignedOf(membersOf(p)), Seq(idCol))
        .select(col(idCol), col("new_cell").as("cell"), col("codes"), col("payload"))
      p.filter(!col("cell").isin(big.toSeq: _*)).unionByName(updated)
    }.copy(router = Some(IvfIndex.Model(combined.map(_._2), combined.map(_._1))),
      shared = false))
  }

  /** Mint a v2 [[graft.index.SharedTraining]] artifact from THIS
    * handle's CURRENT serving state — the post-split lifecycle arm
    * that un-dead-ends a rolling merge pipeline:
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
    val router = state.router.getOrElse(throw new IllegalStateException(
      "reshare requires the trained router"))
    val a = state.artifact.get
    if (a.metric == Knn.Dot)
      require(a.mipsMaxNormSq.isDefined,
        "dot handle without its trained max norm cannot mint an artifact")
    val t = a.copy(router = router)
    state = state.copy(artifact = Some(t), shared = true)
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
      if (servesCompressed) state.artifact.get.mode
      else if (index.isDefined) "hnsw"
      else "exact"
    val cellCounts: Array[Long] = state.table
      .map(_.groupBy(if (servesCompressed) "cell" else "part").count().collect().map(_.getLong(1)))
      .getOrElse(Array.empty)
    Seq((len, dims, serving, metric, cellCounts.length.toLong,
        cellCounts.sum,
        if (cellCounts.isEmpty) 0L else cellCounts.min,
        if (cellCounts.isEmpty) 0L else cellCounts.max,
        state.router.isDefined))
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
    val d = metric match {
      case Knn.Cosine => lit(1.0d) - cosineNative(col(vecCol), vecLit(queryVec))
      // dot serves dist = −dot: pass radius = −minDot for "dot ≥ minDot"
      case Knn.Dot => -dotNative(col(vecCol), vecLit(queryVec))
      case _ => l2SqNative(col(vecCol), vecLit(queryVec))
    }
    vectors.select(col(idCol), d.as("dist"))
      .filter(col("dist") <= radius)
      .orderBy(col("dist").asc, col(idCol).asc)
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
            rows.map(r => state.artifact.get.decodeRow(r, 1))))
        if (localCodeCells.size >= maxLocalCells)
          localCodeCells.remove(localCodeCells.head._1)
        localCodeCells.put(c, v)
        v
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
    if (servesCompressed && state.router.isDefined) {
      require(queryVec.length == dims,
        s"query dimension mismatch: expected $dims, got ${queryVec.length}")
      // searchImpl's compressed arm, driver-side: same reduced query,
      // same fixed-nprobe probe order, same ADC kernel, same (dist, id)
      // ascending cut
      val rq = reduceQueryVec(queryVec)
      val probes = state.router.get.probeOrder(rq).take(nprobe)
      val cells = probes.map(localCodeCell)
      if (cells.exists(_.isEmpty)) return distributed()
      val adc = state.artifact.get.localAdc(UnsafeArrayData.fromPrimitiveArray(rq))
      return cells.flatMap { cOpt =>
        val (ids, codes) = cOpt.get
        ids.indices.map(i => (ids(i), adc(codes(i))))
      }.sortBy { case (id, d) => (d, id) }.take(k).toSeq
    }
    val eligible = index.isDefined && state.router.isDefined && !servesCompressed
    if (!eligible) return distributed()
    require(queryVec.length == dims,
      s"query dimension mismatch: expected $dims, got ${queryVec.length}")
    // the same driver-side reduction the compressed path uses: probe
    // selection and the graph walk both run in the index's space
    val rq = reduceQueryVec(queryVec)
    val q = UnsafeArrayData.fromPrimitiveArray(rq)
    val router = state.router.get
    val probes = adaptiveAlpha match {
      case Some(a) => router.probeAdaptive(rq, a, nprobe)
      case None    => router.probeOrder(rq).take(nprobe)
    }
    val cells = probes.map(localCell)
    if (cells.exists(_.isEmpty)) return distributed()
    val rescored = metric != Knn.L2
    val fetchK = if (rescored) k + 8 else k
    val ef = if (efSearch > 0) efSearch else math.max(params.efConstruction, fetchK)
    cells.flatMap(_.get).flatMap { case (ids, g) =>
      g.searchEf(rq, fetchK, ef).map { case (ord, d) =>
        // exactDist's kernels: 1 − cosine, −dot
        def stored = UnsafeArrayData.fromPrimitiveArray(g.vectorAt(ord))
        val dist = metric match {
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
    val sim = metric match {
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
    val sim = metric match {
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
      case Some(idx) if metric == Knn.Cosine || metric == Knn.Dot =>
        rescoredServe(idx, q, k, pred)
      case Some(idx) =>
        HnswIndex.search(idx, q, k, params,
          efSearch = filteredEf(k, pred.isDefined),
          router = state.router, nprobe = nprobe, adaptiveAlpha = routedAlpha,
          candidateFilter = pred,
          routerGraph = routerGraphOpt, routerEf = graphRouteEf)
          .select(col("qid"), col("rank"), col("vector_id").as(idCol), col("dist"))
      case None =>
        val base = pred.map { p =>
          vectors.withColumn("vector_id", col(idCol))
            .withColumn("payload", exactPayExpr)
            .filter(p)
        }.getOrElse(vectors)
        Knn.knnJoin(base, q, k, idCol, vecCol, "qid", "qv", metric = metric)
    }
  }

  /** The compressed-codes table being served. */
  private def codesTable: DataFrame = state.table.get

  /** The served table (index rows or codes rows) — package-private so
    * the specs can assert maintenance and plan shape. */
  private[graft] def servedTable: Option[DataFrame] = state.table

  /** The served codes table, when compressed (appended codes must reuse
    * the cached parent generation, never re-encode the resident
    * corpus). */
  private[graft] def servedCodes: Option[DataFrame] =
    servedTable.filter(_ => servesCompressed)

  /** Asymmetric (ADC) distance of each codes row to the full-precision
    * query column `qv` — the query never quantizes, only the corpus. */
  private def adcDist(qv: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    state.artifact.get.adcExpr(col("codes"), qv)

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
    val router = state.router.getOrElse(throw new IllegalStateException(
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
    payExpr(state.payloadCols)

  private def searchImpl(queryVec: Seq[Float], k: Int,
      pred: Option[org.apache.spark.sql.Column]): DataFrame =
    if (servesCompressed) {
      val router = state.router.getOrElse(throw new IllegalStateException(
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
      case Some(idx) if metric == Knn.Cosine || metric == Knn.Dot =>
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
          router = state.router, nprobe = nprobe, adaptiveAlpha = routedAlpha,
          candidateFilter = pred,
          routerGraph = routerGraphOpt, routerEf = graphRouteEf)
          .select(col("vector_id").as(idCol), col("dist"))
      case None =>
        val base = pred.map { p =>
          vectors.withColumn("vector_id", col(idCol))
            .withColumn("payload", exactPayExpr)
            .filter(p)
        }.getOrElse(vectors)
        Knn.searchKnn(base, queryVec, k, idCol, vecCol, metric = metric)
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
    if (state.table.isEmpty)
      throw new IllegalStateException(
        "save requires a built index — call buildIndex/buildIndexIvf/buildIndexPq/buildIndexSq/buildIndexBq first")
    val spark = raw.sparkSession
    import spark.implicits._
    val s = state
    index.foreach(idx => HnswIndex.save(idx, s"$path/index"))
    // compressed serving state: the codes table persists CELL-
    // PARTITIONED (probe pruning applies to the restored layout too)
    // plus the model that decodes it (binary codes carry none — the
    // packed words table IS the state)
    if (servesCompressed)
      codesTable.write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    val a = s.artifact.filter(_.compressed)
    a.flatMap(_.pqModel).foreach { model =>
      val rows = for {
        m <- model.codebooks.indices
        j <- model.codebooks(m).indices
      } yield (m, j, model.codebooks(m)(j).toSeq)
      rows.toDF("m", "j", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/pq")
    }
    a.flatMap(_.sqBounds).foreach { case (lo, hi) =>
      lo.indices.map(i => (i, lo(i), hi(i))).toDF("pos", "lo", "hi")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/sq")
    }
    def writeRouter(m: IvfIndex.Model, dest: String): Unit =
      m.centroids.indices
        .map(i => (i, m.cellId(i), m.centroids(i).toSeq))
        .toDF("ord", "cell", "cv")
        .coalesce(1).write.mode("overwrite").parquet(dest)
    s.router.foreach(writeRouter(_, s"$path/router"))
    // a merged shared HNSW handle SERVES a router re-derived from the
    // merged layout while its artifact keeps the TRAINED router that
    // t.fingerprint hashes — persist the artifact's own router
    // separately whenever the two diverge, or load's
    // reassembly-fingerprint integrity check would reject a legitimate
    // save (compressed shared handles never diverge: their serving
    // router IS t.router, so this writes nothing for them)
    val shared = s.artifact.filter(_ => s.shared)
    shared.foreach { t =>
      if (!s.router.exists(VectorDB.sameRouter(_, t.router)))
        writeRouter(t.router, s"$path/shared_router")
    }
    val corpusRef = sourcePath.getOrElse {
      raw.write.mode("overwrite").parquet(s"$path/corpus")
      s"$path/corpus"
    }
    val mode = s.artifact.map(_.mode).getOrElse("ivf")
    val shape = s.shape.map(b =>
      if (mode == "pq" || mode == "opq")
        Seq(b.numCells, b.iters, b.numSub, b.codebookK, b.pqIters)
      else Seq(b.numCells, b.iters))
    val meta = Seq(
      s"dims=$dims", s"metric=$metric", s"intendedMetric=$metric",
      s"nprobe=$nprobe", s"efSearch=$efSearch", s"graphRouteEf=$graphRouteEf",
      s"m=${params.m}", s"efConstruction=${params.efConstruction}",
      s"idCol=$idCol", s"vecCol=$vecCol", s"corpus=$corpusRef",
      s"hasIndex=${index.isDefined}",
      s"compressed=${a.map(t => if (t.mode == "opq") "pq" else t.mode).getOrElse("none")}",
      s"payloadCols=${s.payloadCols.mkString(",")}",
      s"adaptiveAlpha=${adaptiveAlpha.map(_.toString).getOrElse("")}",
      s"mipsMaxNormSq=${s.artifact.flatMap(_.mipsMaxNormSq).map(_.toString).getOrElse("")}") ++
      // the recorded build shape, under its mode's key
      Seq("ivf", "pq", "sq", "bq", "opq").map(m =>
        s"${m}Params=${shape.filter(_ => m == mode).map(_.mkString(",")).getOrElse("")}") ++
      Seq(
        s"opqPerm=${s.artifact.flatMap(_.opqPerm).map(_.mkString(",")).getOrElse("")}",
        // shared-artifact handles stay MERGEABLE across a save/load
        // round-trip: every component (router, codebooks/bounds, perm,
        // max-norm) is already persisted above; the mode marker tells
        // load to re-assemble them, and the stored fingerprint is an
        // integrity check against the recomputed one
        s"shared=${shared.map(_.mode).getOrElse("")}",
        s"sharedWidth=${shared.map(_.width.toString).getOrElse("")}",
        s"sharedFingerprint=${shared.map(_.fingerprint).getOrElse("")}",
        s"hasRouter=${s.router.isDefined}")
    val p = new org.apache.hadoop.fs.Path(path, "graft_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(meta.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** [[adaptiveAlpha]] applies only to ROUTED search (HnswIndex.search
    * requires a router with it). */
  private def routedAlpha: Option[Double] =
    if (state.router.isDefined) adaptiveAlpha else None

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
    val qReduced = metric match {
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
          router = state.router, nprobe = nprobe, adaptiveAlpha = routedAlpha,
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
          (if (metric == Knn.Dot) -dotNative(col(vecCol), col("qv"))
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
  /** One handle's serving state:
    *  - `metric`: the metric the user chose (the exact arm serves it
    *    when no table is built);
    *  - `artifact`: the trained serving geometry (router, codebooks or
    *    bounds, OPQ permutation, dot max-norm) and the only reader and
    *    writer of the serving space; `shared` when it came from
    *    [[VectorDB#buildIndexShared]] (or [[VectorDB#reshare]]), the
    *    status merges check;
    *  - `router`: the SERVING router, which compact, rebalance, merge
    *    and split re-derive away from the trained one;
    *  - `table`: the served HNSW index rows or codes rows, with the
    *    `payloadCols` packed into them;
    *  - `shape`: the build configuration a bound-expanding add replays.
    */
  private final case class Serving(
      metric: String = Knn.L2,
      artifact: Option[graft.index.SharedTraining] = None,
      shared: Boolean = false,
      router: Option[IvfIndex.Model] = None,
      table: Option[DataFrame] = None,
      payloadCols: Seq[String] = Nil,
      shape: Option[BuildShape] = None) {
    val compressed: Boolean = table.isDefined && artifact.exists(_.compressed)
    /** Typed once per value: the point-query path asks for it on every
      * query, and building a Dataset runs analysis. */
    lazy val index: Option[Dataset[HnswIndex.IndexRow]] =
      if (compressed) None else table.map(indexRows)
  }

  /** The user's build configuration: cell count and router iterations
    * for every mode, plus the codebook shape for PQ/OPQ. */
  private final case class BuildShape(numCells: Int, iters: Int, numSub: Int = 8,
      codebookK: Int = 16, pqIters: Int = 0)

  private def indexRows(table: DataFrame): Dataset[HnswIndex.IndexRow] =
    table.as[HnswIndex.IndexRow](org.apache.spark.sql.Encoders.product[HnswIndex.IndexRow])

  /** One generation step — the only way a derived handle's served
    * table is made. `f` computes the next table from the parents, each
    * read through a leaf over its cached rows
    * ([[org.apache.spark.sql.graft.CheckpointBridge.leaf]]); the result
    * is persisted and materialized, and only then are the parents
    * released. Because the leaf hides the parent's plan, the plan of
    * the n-th generation is as large as the first's, and because the
    * leaf keeps its lineage, a lost cache block still recomputes. */
  private def generation(parents: Seq[DataFrame])(f: Seq[DataFrame] => DataFrame): DataFrame = {
    val next = f(parents.map(CheckpointBridge.leaf(_)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    next.count()
    parents.foreach(_.unpersist(blocking = false))
    next
  }

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
    def ints(key: String): Option[Array[Int]] =
      meta.get(key).filter(_.nonEmpty).map(_.split(",").map(_.toInt))
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
    // older manifests wrote the metric twice (index and intended); the
    // two never differed on a saved handle
    val metric = meta.getOrElse("intendedMetric", meta("metric"))
    val router = if (meta("hasRouter").toBoolean) Some(readRouter(s"$path/router")) else None
    val perm = ints("opqPerm")
    val compressed = meta.getOrElse("compressed", "none")
    val mode = compressed match {
      case "pq" if perm.isDefined => "opq"
      case "pq" | "sq" | "bq" => compressed
      case _ => "ivf"
    }
    val pq = if (compressed != "pq") None else {
      val rows = spark.read.parquet(s"$path/pq")
        .select(col("m").cast("int"), col("j").cast("int"),
          col("v").cast("array<double>"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      Some(ProductQuantizer.Model(rows.groupBy(_._1).toArray.sortBy(_._1)
        .map { case (_, js) => js.sortBy(_._2).map(_._3) }))
    }
    val sq = if (compressed != "sq") None else {
      val rows = spark.read.parquet(s"$path/sq")
        .select(col("pos").cast("int"), col("lo"), col("hi"))
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      Some((rows.map(_._2).toSeq, rows.map(_._3).toSeq))
    }
    // pre-r7 manifests have no hasIndex/compressed keys (HNSW always)
    val table =
      if (compressed != "none") Some(codesCompat())
      else if (meta.getOrElse("hasIndex", "true").toBoolean)
        Some(HnswIndex.load(spark, s"$path/index").toDF())
      else None
    // a shared manifest re-assembles its artifact from the persisted
    // components — from the artifact's TRAINED router when save wrote
    // one apart from the serving router — so a loaded shard keeps its
    // merge compatibility
    val shared = meta.get("shared").exists(_.nonEmpty)
    val sharedRouterPath = new org.apache.hadoop.fs.Path(path, "shared_router")
    val trainedRouter =
      if (shared && fs.exists(sharedRouterPath)) Some(readRouter(sharedRouterPath.toString))
      else router
    if ((shared || compressed != "none") && trainedRouter.isEmpty)
      throw new IllegalStateException("compressed or shared-artifact manifest without a persisted router")
    val artifact = trainedRouter.map(r => graft.index.SharedTraining(
      metric = metric, mode = mode, dims = db.dims,
      width = meta.get("sharedWidth").filter(_.nonEmpty).map(_.toInt).getOrElse(
        graft.index.SharedTraining.servingWidth(mode, metric, db.dims,
          pq.map(_.numSub).getOrElse(1))),
      router = r, pqModel = pq, sqBounds = sq, opqPerm = perm,
      mipsMaxNormSq = meta.get("mipsMaxNormSq").filter(_.nonEmpty).map(_.toDouble)))
    // the recomputed fingerprint must equal the saved one (doubles
    // round-trip parquet and Double.toString bit-exactly — a mismatch
    // means the artifact directory was tampered with or mixed)
    if (shared) {
      val saved = meta.getOrElse("sharedFingerprint", "")
      val t = artifact.get
      require(saved.isEmpty || saved == t.fingerprint,
        s"shared-training fingerprint mismatch on load: manifest says $saved, " +
          s"re-assembled artifact hashes to ${t.fingerprint} — the saved " +
          "components were altered or mixed across saves")
    }
    val shape = ints(s"${mode}Params").map(a =>
      if (a.length == 5) BuildShape(a(0), a(1), a(2), a(3), a(4)) else BuildShape(a(0), a(1)))
    db.state = Serving(metric, artifact, shared, router, table,
      meta.getOrElse("payloadCols", "").split(",").filter(_.nonEmpty).toSeq, shape)
    db.nprobe = meta("nprobe").toInt
    db.efSearch = meta("efSearch").toInt
    db.adaptiveAlpha = meta.get("adaptiveAlpha").filter(_.nonEmpty).map(_.toDouble)
    db.graphRouteEf = meta.get("graphRouteEf").map(_.toInt).getOrElse(-1)
    db
  }
}
