package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.MinHash
import graft.Spread.Ops

/** Scale-path dedup queries: MinHash-LSH, SimHash, and embedding-cosine
  * near-dup — every stage arithmetic-only so the full pipelines are
  * DuckDB-oracle-checked end to end. */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The two near-dup detector pair frames, built ONCE per session +
    * fixture (the suppPartGraph/custOrderEdges convention): six gates
    * consume them — the pair gates themselves, the triangle/LCC QA
    * over the SimHash graph, and the kappa/ARI agreement censuses —
    * and each build is a full shingle+band (or sim-band) pass over the
    * corpus. Materialized via localCheckpoint (lshDedup checkpoints
    * its own result); the build cost rides
    * Bench's untimed warmup (the documented SessionMemo honesty
    * convention). */
  private val mhPairsMemo = new IndexQueries.SessionMemo[DataFrame]
  private def mhPairs(s: SparkSession, dir: String): DataFrame =
    mhPairsMemo.get(s, dir)(
      MinHash.lshDedup(docs(s, dir), tau = 0.7))
  private val simPairsMemo = new IndexQueries.SessionMemo[DataFrame]
  private def simPairs(s: SparkSession, dir: String): DataFrame =
    simPairsMemo.get(s, dir)(
      MinHash.simHashPairs(docs(s, dir), maxHamming = 6).localCheckpoint())

  /** MinHash-LSH candidates verified at Jaccard >= 0.7. */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    mhPairs(s, dir)
      .select(col("a"), col("b"), round(col("jac"), 3).as("jac"))
      .orderBy("a", "b")

  /** Detector-agreement kappa
    * ([[graft.operators.Dedup.detectorKappa]]) between the two
    * near-dup screens the quality censuses grade individually — the
    * MinHash-LSH verified detector (τ = 0.7, the q_dedup_minhash
    * pipeline unchanged) vs the SimHash Hamming-6 screen
    * (q_dedup_simhash_pairs unchanged) — at the DOCUMENT level,
    * chance-corrected: the number a review reads before swapping one
    * screen for the other. The oracle replays BOTH detector
    * pipelines, the doc-spine verdict join, the 2×2 census, and the
    * exact rational κ assembly. */
  def qDetectorKappa(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.detectorKappa(docs(s, dir),
      mhPairs(s, dir), simPairs(s, dir))

  /** Detector-agreement ARI
    * ([[graft.operators.Dedup.adjustedRand]] — q_detector_kappa's
    * clustering-level deepening: the SAME two detectors, but compared
    * on the dup-cluster PARTITIONS their pair graphs induce, so
    * detectors that flag the same documents while grouping them
    * differently stop looking identical). The oracle replays both
    * detector pipelines, BOTH recursive-CTE connected-component
    * labelings, the singleton-completed contingency, and the exact
    * doubled-pair-count ARI assembly. */
  def qDetectorAri(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.adjustedRand(docs(s, dir),
      mhPairs(s, dir), simPairs(s, dir))

  /** LSH detector quality census ([[MinHash.lshQuality]] at τ = 0.7):
    * measured recall/precision of the q_dedup_minhash band plan
    * against the exact all-qualifying-pairs ground truth — the
    * falsifiable number behind the dedup family's candidate
    * generation. One all-integer row. */
  def qLshRecall(s: SparkSession, dir: String): DataFrame =
    MinHash.lshQuality(docs(s, dir), tau = 0.7)

  /** SimHash detector quality census ([[MinHash.simHashQuality]] at
    * τ = 0.7, Hamming ≤ 6): the measured recall/precision of the
    * q_dedup_simhash_pairs screen against exact Jaccard truth —
    * SimHash's Hamming radius is not a Jaccard threshold, so this is
    * the number that says what a Hamming-6 cut actually means on this
    * corpus. One all-integer row. */
  def qSimhashRecall(s: SparkSession, dir: String): DataFrame =
    MinHash.simHashQuality(docs(s, dir), tau = 0.7, maxHamming = 6)

  /** Incremental dedup ([[MinHash.lshDedupIncremental]]): the NEW
    * batch (doc_id ≡ 0 mod 10 — the fixture's stand-in for today's
    * crawl) screened against the standing corpus (everything else),
    * candidate-blocked by the same 4-band minhash keys, exact-verified
    * at τ = 0.7. The corpus never self-joins — the asymmetric shape a
    * daily ingest runs at 100 TB. */
  def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    MinHash.lshDedupIncremental(
      d.filter(col("doc_id") % 10 === 0),
      d.filter(col("doc_id") % 10 =!= 0), tau = 0.7)
      .select(col("a"), col("b"), round(col("jac"), 3).as("jac"))
      .orderBy("a", "b")
  }

  /** Split-leakage census — the audit a pipeline runs BETWEEN
    * splitting and training: every near-duplicate pair (the
    * q_dedup_minhash detector, τ = 0.7) labeled with both members'
    * train/val/test assignment ([[graft.operators.Curation.splitAssign]])
    * and whether it LEAKS (crosses a split boundary — the eval
    * contamination a random split inflicts on near-dup corpora, the
    * reason dedup-then-split ordering matters). The pair set is
    * bounded by the dedup contract, so the two label joins are
    * pair-sized, not corpus × corpus; the oracle replays detector,
    * split hash, and the leak flag. */
  def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sp = graft.operators.Curation.splitAssign(d).select(col("doc_id"), col("split"))
    MinHash.lshDedup(d, tau = 0.7)
      .join(sp.select(col("doc_id").as("a"), col("split").as("split_a")), "a")
      .join(sp.select(col("doc_id").as("b"), col("split").as("split_b")), "b")
      .select(col("a"), col("b"), col("split_a"), col("split_b"),
        (col("split_a") =!= col("split_b")).as("leaks"),
        round(col("jac"), 3).as("jac"))
      .orderBy("a", "b")
  }

  /** Per-document 64-bit SimHash (two 32-bit words). */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    MinHash.simHashTable(docs(s, dir)).orderBy("doc_id")

  /** Banded hyperplane-LSH embedding near-dup (8 bands x 16 sign bits):
    * candidates collide in at least one 16-bit band, cosine-verified
    * (the blocking scheme when no cluster key exists — cf.
    * qDedupEmbcos). Bucket keys per band: 2^16, so the within-bucket
    * join stays sub-quadratic as the corpus grows; recall is tuned by
    * band count. */
  def qDedupEmbLsh(s: SparkSession, dir: String): DataFrame =
    graft.operators.VectorLSH.cosinePairs(emb(s, dir), tau = 0.3, dim = 64)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
      .orderBy("a", "b")

  /** SimHash near-dup pairs (hamming <= 6 of 64) via exact 8x8-bit
    * banding. */
  def qDedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    simPairs(s, dir)
      .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
      .orderBy("a", "b")

  /** Blocking-cell count ⌈√n⌉ (floor 8) — the balance point where BOTH
    * sides of the blocked dedup stay sub-quadratic: expected cell size
    * is ~√n, so within-cell pairs total O(n^1.5); the router model is
    * O(√n·d) (driver + per-task footprint grows with the *root* of the
    * corpus, not the corpus); and per-row assignment scans √n centroids
    * → O(n^1.5·d) total compute. A corpus-proportional count (n/c)
    * makes the pair join linear but the router model and assignment
    * quadratic — the cost just moves. √n of integer n is IEEE-exact in
    * both engines, so the oracle's `ceil(sqrt(count(*)))` matches
    * bit-for-bit. */
  private def embcosCells(n: Long): Int =
    math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** Blocking router for embedding-cosine dedup: IVF quantizer at
    * iters = 0 (centroids = the k lowest-id vectors — one tiny limit-k
    * collect, SQL-expressible), trained once per session + fixture. */
  private val embcosMemo = new IndexQueries.SessionMemo[graft.index.IvfIndex.Model]
  private def embcosRouter(s: SparkSession, dir: String) =
    embcosMemo.get(s, dir) {
      val e = emb(s, dir)
      graft.index.IvfIndex.train(e, embcosCells(e.count()), iters = 0)
    }

  /** Embedding-cosine near-dup pairs, blocked by trained IVF cell: each
    * vector routes to its nearest coarse centroid in a map-only pass
    * (the model is an O(√n·d) literal, no join, no extra shuffle), and
    * only within-cell pairs are cosine-verified. The cell count grows
    * as ⌈√n⌉ ([[embcosCells]]), so EVERY stage is sub-quadratic:
    * blocked pairs O(n^1.5), per-row routing O(√n·d), model O(√n·d) —
    * never O(n²/constant), which a fixed-cardinality key (e.g. the
    * fixture's 10 labels) degrades to at scale. Near-dup recall is
    * governed by quantizer locality: near-identical vectors share a
    * nearest centroid except exactly on a cell boundary — the standard
    * blocked-dedup tradeoff (cf. qDedupEmbLsh for the multi-band
    * scheme whose recall is tunable instead). */
  private def embcosPairs(s: SparkSession, dir: String): DataFrame =
    blockedPairs(emb(s, dir), embcosRouter(s, dir), tau = 0.4)

  /** The cell-blocked pair stage over an arbitrary (vec_id, embedding)
    * frame — shared by the fixture gates (memoized router) and the
    * planted-near-dup recall floor in RecallSpec (fresh router). */
  private[graft] def blockedPairsOf(e: DataFrame, tau: Double): DataFrame =
    blockedPairs(e,
      graft.index.IvfIndex.train(e, embcosCells(e.count()), iters = 0), tau)

  /** MULTI-PROBE cell-blocked pairs — the measured answer to the
    * single-probe blocking's moderate-similarity recall (0.162 at
    * cos ≥ 0.4, BASELINE.md): each vector joins its `probes` nearest
    * cells instead of one, so a pair split by one cell boundary still
    * collides in the runner-up cell. Candidate volume rises ≤
    * probes²× (still O(n^1.5) at probes fixed); duplicate collisions
    * dedup by key. The per-row top-`probes` runs as one in-plan
    * expression over the centroid literal (sorted (d, ord) structs —
    * the assignOne tie rule), so assignment stays a map-only pass,
    * and the oracle replays it as `row_number ≤ probes`. */
  private[graft] def blockedPairsMultiOf(e: DataFrame, tau: Double,
      probes: Int = 2): DataFrame =
    blockedPairsMulti(e,
      graft.index.IvfIndex.train(e, embcosCells(e.count()), iters = 0), tau, probes)

  private def blockedPairsMulti(e: DataFrame,
      model: graft.index.IvfIndex.Model, tau: Double, probes: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    // top-`probes` cells by (d asc, ord asc) in ONE fused codegen pass
    // (IvfAssignTopK) — the sorted-struct HOF form this replaces
    // measured ~3 s at sf0.1 in interpreted lambda dispatch per
    // (row × centroid × dim); the kernel's stable strict-< insertion
    // reproduces the lexicographic sort exactly, which is what the
    // oracle replays
    val dim = model.centroids.head.length
    val cells = toCol(graft.functions.expressions.IvfAssignTopK(
      toExpr(col("embedding")), model.centroids.flatten, model.cellIds, dim, probes))
    val binned = e.select(explode(cells).as("cell"), col("vec_id"), col("embedding"))
    val a = binned.select(col("cell"), col("vec_id").as("a"), col("embedding").as("va"))
    val b = binned.select(col("cell"), col("vec_id").as("b"), col("embedding").as("vb"))
    a.join(b, Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("cos", cosineNative(col("va"), col("vb")))
      .filter(col("cos") >= tau)
      .select(col("a"), col("b"), col("cos"))
      .distinct()
  }

  private def blockedPairs(e: DataFrame,
      model: graft.index.IvfIndex.Model, tau: Double): DataFrame = {
    val cell = graft.index.IvfIndex.assignExpr(col("embedding"), model)
    val binned = e.select(cell.as("cell"), col("vec_id"), col("embedding"))
    val a = binned.select(col("cell"), col("vec_id").as("a"), col("embedding").as("va"))
    val b = binned.select(col("cell"), col("vec_id").as("b"), col("embedding").as("vb"))
    a.join(b, Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("cos", cosineNative(col("va"), col("vb")))
      .filter(col("cos") >= tau)
  }

  def qDedupEmbcos(s: SparkSession, dir: String): DataFrame =
    embcosPairs(s, dir)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
      .orderBy("a", "b")

  /** Multi-probe (2-cell) embedding near-dup pairs
    * ([[blockedPairsMulti]]) — same router, same τ as
    * [[qDedupEmbcos]], each vector joined through its TWO nearest
    * cells: measured candidate recall at cos ≥ 0.4 rises 0.162 →
    * 0.353 for ~2.2× emitted pairs (BASELINE.md). */
  def qDedupEmbcosMp(s: SparkSession, dir: String): DataFrame =
    blockedPairsMulti(emb(s, dir), embcosRouter(s, dir), tau = 0.4, probes = 2)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
      .orderBy("a", "b")

  /** SemDeDup end-to-end (Abbas et al. 2023, arXiv:2303.09540 — the
    * EMBEDDING-side twin of q_dedup_corpus's shingle pipeline): the
    * cell-blocked cosine pair graph ([[embcosPairs]] — every stage
    * sub-quadratic), connected components over it, and the corpus with
    * each semantic cluster collapsed to its minimum-id survivor via
    * one anti-join. The paper clusters with k-means and thresholds
    * cosine within clusters; the trained-IVF cells ARE that clustering
    * (iters = 0 keeps it oracle-replayable), and the blocked recall
    * tradeoff is q_dedup_embcos's documented contract — the oracle
    * replays the SAME blocking, then the reachability closure and the
    * keep rule. */
  def qDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val cc = graft.operators.Dedup.connectedComponents(
      embcosPairs(s, dir).select("a", "b"))
    val dropped = cc.filter(col("id") =!= col("comp")).select(col("id").as("vec_id"))
    emb(s, dir).join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** Coarse level of the two-level router: ⌈√k⌉ lowest-id centroids
    * (iters = 0 — one tiny limit-k collect, SQL-expressible). */
  private val embcos2Memo = new IndexQueries.SessionMemo[graft.index.IvfIndex.Model]
  private def embcos2Coarse(s: SparkSession, dir: String, k1: Int) =
    embcos2Memo.get(s, dir)(graft.index.IvfIndex.train(emb(s, dir), k1, iters = 0))

  /** Two-level embcos blocking (stretch item, VERDICT r5 #8): level 1
    * routes each row to one of k1 = ⌈√k⌉ coarse cells via the map-only
    * centroid literal (per-task footprint O(n^¼·d), down from the
    * single-level O(√n·d)); level 2 routes within the coarse cell via a
    * per-cell centroid TABLE (the k2 = ⌈k/k1⌉ lowest-id members of each
    * coarse cell) joined on the coarse id — the full √n-cell model
    * never materializes as one driver/task literal, which is the piece
    * that stops scaling first at extreme n. The inner table broadcasts
    * below `graft.embcos2.broadcastLimit` rows (default 65536 ≈ 16 MB
    * at d=64) and shuffle-joins on c0 above it, so the broadcast itself
    * never becomes the limit. The final blocking key is (coarse, inner)
    * ≈ k cells, so within-cell pair compute stays O(n^1.5) exactly like
    * [[qDedupEmbcos]]; every routing choice (lowest-id init, argmin
    * with lowest-ordinal tie-break) is decimal-exact and replayed by
    * the oracle. */
  def qDedupEmbcos2(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val k = embcosCells(e.count())
    val k1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val k2 = math.ceil(k.toDouble / k1).toInt
    val binned = e.select(col("vec_id"), col("embedding"),
      graft.index.IvfIndex.assignExpr(col("embedding"), embcos2Coarse(s, dir, k1)).as("c0"))
    // Inner pivots: the k2 LOWEST-id members of each coarse cell. A
    // per-cell ranking window would shuffle the WHOLE corpus into k1 ≈
    // n^¼ partitions and sort n^¾ rows per task (the serialized-hot-
    // partition shape domainCap exists to avoid); the bounded-heap TopK
    // aggregator keeps a k2-entry heap per task instead — map-side
    // partial, shuffle O(k1·k2). Heap order is (dist, id); dist ≡ 0
    // makes the id tiebreak the entire order ("k2 lowest ids") without
    // a lossy id→double cast. posexplode of the ascending heap output
    // re-derives iord = rank-by-id, matching the oracle's row_number.
    val topk2 = graft.operators.TopK.topK(k2)
    val pivotIds = binned
      .groupBy(col("c0"))
      .agg(topk2(lit(0.0d), col("vec_id")).as("pv"))
      .select(col("c0"), posexplode(col("pv")).as(Seq("iord", "p")))
      .select(col("c0"), col("iord").cast("int").as("iord"), col("p._2").as("vec_id"))
    // pivot embeddings via one broadcast join back (pivot table ≈ k
    // rows — tiny), a map-only pass over the corpus
    val inr = binned.join(broadcast(pivotIds), Seq("c0", "vec_id"))
      .select(col("c0"), col("iord"), col("embedding").as("cv"))
    val inrSide =
      if (k <= s.conf.get("graft.embcos2.broadcastLimit", "65536").toInt) broadcast(inr)
      else inr
    val assigned = binned.join(inrSide, Seq("c0"))
      .select(col("vec_id"), col("embedding"), col("c0"), col("iord"),
        l2SqNative(col("embedding"), col("cv")).as("d"))
      .groupBy(col("vec_id"), col("c0"))
      // argmin with lowest-iord tie-break: lexicographic struct min.
      // The embedding rides inside the min struct — the unique (d,
      // iord) prefix alone decides the order, so the carry is
      // deterministic (unlike first(), which Spark declares
      // non-deterministic and which blocks optimizer rewrites)
      .agg(min(struct(col("d"), col("iord"), col("embedding"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        (col("c0") * k2 + col("m.iord")).as("cell"))
    val a = assigned.select(col("cell"), col("vec_id").as("a"), col("embedding").as("va"))
    val b = assigned.select(col("cell"), col("vec_id").as("b"), col("embedding").as("vb"))
    a.join(b, Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("cos", cosineNative(col("va"), col("vb")))
      .filter(col("cos") >= 0.4)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
      .orderBy("a", "b")
  }

  // ---- oracle SQL ---------------------------------------------------

  /** The q_dedup_embcos blocking replay (√n lowest-id centroids,
    * argmin cell assignment) — shared by the pair gate and the
    * SemDeDup end-to-end gate so ONE definition of the blocking
    * exists on the oracle side too. */
  private val embcosCoreSql: String =
    s"""kk AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS INT)) AS k FROM embeddings),
       |cent AS (SELECT ord, cv FROM (
       |           SELECT row_number() OVER (ORDER BY vec_id) AS ord,
       |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |           FROM embeddings)
       |         WHERE ord <= (SELECT k FROM kk)),
       |cd AS (SELECT e.vec_id, c.ord, ${VectorQueries.l2Sql("c.cv", "e.embedding")} AS d
       |       FROM embeddings e CROSS JOIN cent c)""".stripMargin

  private val embcosCellSql: String =
    s"""$embcosCoreSql,
       |cell AS (SELECT vec_id, ord AS cell FROM (
       |           SELECT vec_id, ord,
       |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, ord) AS rn
       |           FROM cd)
       |         WHERE rn = 1)""".stripMargin

  private[queries] val shSql =
    """list_distinct(list_transform(range(1, len(string_split_regex(text,'\s+')) - 1),
      | i -> string_split_regex(text,'\s+')[i] || '_' || string_split_regex(text,'\s+')[i+1]
      |      || '_' || string_split_regex(text,'\s+')[i+2]))""".stripMargin.replaceAll("\\s+", " ")
  private[queries] val hsSql =
    """list_transform(sh, s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      | list_transform(string_split(s,''), c -> CAST(ord(c) AS BIGINT))),
      | (h,c) -> (h*31+c) % 1000000007))""".stripMargin.replaceAll("\\s+", " ")
  private val paramsSql =
    MinHash.Params.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")
  /** One 32-bit simhash word: majority vote per bit over the remixed
    * shingle hashes (mirror of SimHash64's lo/hi words). */
  private def simWordSql(remix: String): String =
    s"""CAST(list_sum(list_transform(range(0,32), b ->
       | CASE WHEN list_sum(list_transform(hs, h ->
       |   CASE WHEN (($remix) >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       | THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)""".stripMargin
      .replaceAll("\\s+", " ")
  private[queries] val simLoSql = simWordSql("(h * 2654435761) % 4294967296")
  private[queries] val simHiSql = simWordSql("(h * 2246822519 + 12345) % 4294967296")

  /** MinHash estimator calibration ([[MinHash.estimatePairs]] — the
    * Broder identity P[minhash agrees] = J made visible: per banded
    * candidate pair, the K=16-sample signature-agreement estimate ĵ
    * beside exact Jaccard; the census a pipeline tunes band plans and
    * thresholds against). No tau filter, so the band-collision
    * low-similarity tail rides the gate too. */
  def qMinhashEstimate(s: SparkSession, dir: String): DataFrame =
    MinHash.estimatePairs(docs(s, dir))
      .select(col("a"), col("b"), col("match_k"),
        round(col("j_est"), 4).as("j_est"), round(col("jac"), 4).as("jac"))
      .orderBy("a", "b")

  /** Segment-level exact dedup over 8-token segments: per-document
    * census plus the md5 of the cleaned text (duplicate passages
    * removed, canonical first occurrence kept) — the oracle replays
    * segmentation, the corpus-wide census, the keep rule, and the
    * in-order reassembly. */
  def qDedupSegments(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.segmentDedup(docs(s, dir), segTokens = 8)
      .select(col("doc_id"), col("n_segs"), col("n_dup"), col("n_kept"),
        md5(col("clean_text")).as("clean_hash"))
      .orderBy("doc_id")

  /** CDC-anchored exact-substring dedup
    * ([[graft.operators.Dedup.cdcSegmentDedup]] — the shift-invariant
    * closure of q_dedup_segments' fixed-offset gap): same per-document
    * census + cleaned-text hash, but over content-defined chunk
    * boundaries, so the oracle replays the rolling-hash cut points,
    * the md5-keyed corpus census, the keep rule, AND the empty-
    * separator reassembly. */
  def qDedupCdcSegments(s: SparkSession, dir: String): DataFrame =
    // UNSPREAD (round-18 revert of the r17 spread): the extra exchange
    // cost more than the chunking it parallelized — driver 32c 1.19 →
    // 1.56 s, local A/B warm 1.19 → 2.1 s; at this gate's size the
    // rolling hash is cheaper than the shuffle + stage barrier
    graft.operators.Dedup.cdcSegmentDedup(docs(s, dir))
      .select(col("doc_id"), col("n_segs"), col("n_dup"), col("n_kept"),
        md5(col("clean_text")).as("clean_hash"))
      .orderBy("doc_id")

  /** Triangle census over the SimHash near-dup graph: transitivity QA
    * (triangle-dense ⇒ duplicate families, triangle-free ⇒ isolated
    * pairs). The oracle recomputes the pair graph and counts ordered
    * triangles naively; the engine's degree-oriented wedge join must
    * agree exactly. */
  def qTriangles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.triangleCount(simPairs(s, dir).select("a", "b"))

  /** Per-node local clustering coefficient over the SAME SimHash
    * near-dup graph the triangle census grades
    * ([[graft.operators.Dedup.localClustering]] — the node-level
    * statistic the one-row census motivates: high-LCC nodes sit in
    * transitive dup families, low-LCC nodes on blocking-artifact
    * chains). Exact integer millionths; the oracle charges each
    * a<b<c triangle to its three corners and replays the division. */
  def qClustering(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.localClustering(simPairs(s, dir).select("a", "b"))
      .orderBy("node")

  /** Bloom-filter novelty screen ([[graft.operators.Sketches.Bloom]])
    * — the incremental-ingest dedup shape: the resident corpus (75% of
    * docs) builds an m-bit filter over its word 3-shingles ONCE; the
    * arriving batch (the other 25%) screens each shingle against it.
    * An unset bit is definite, so `n_new` counts shingles PROVABLY
    * never ingested — no batch-vs-corpus join anywhere on the serving
    * path (one O(m/32) build aggregate + a broadcast-grid probe over
    * the batch's distinct keys). The exact truth arm (`n_seen_true`)
    * rides beside it gate-only — the O(corpus) arm a 100 TB deploy
    * drops, the q_overlap_kmv convention — which also makes the false
    * positives visible: (n_sh − n_new) − n_seen_true ≥ 0. */
  def qBloomDedup(s: SparkSession, dir: String): DataFrame = {
    val MBits = 131072
    val sh = docShingles(s, dir)
    val corpus = sh.filter(col("doc_id") % 4 =!= 0)
    val batch = sh.filter(col("doc_id") % 4 === 0)
    val grid = graft.operators.Sketches.Bloom.build(corpus, col("tok3"), MBits)
    val flags = graft.operators.Sketches.Bloom
      .maybeSeenFlags(batch.select("tok3").distinct(), col("tok3"), grid, MBits)
      .withColumnRenamed("key", "tok3")
    val truth = corpus.select("tok3").distinct().withColumn("in_corpus", lit(true))
    batch.join(flags, "tok3")
      .join(truth, Seq("tok3"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(!col("maybe_seen"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("in_corpus"), 1L).otherwise(0L)).as("n_seen_true"))
      .orderBy("doc_id")
  }

  /** Duplicated-span census ([[graft.operators.Dedup.dupSpans]] — the
    * sliding-window ExactSubstr shape of Lee et al. §3.1, catching
    * duplicated passages at ANY alignment where fixed segments miss
    * shifted copies): per-doc count of duplicated 8-token windows and
    * the tokens covered by their union (gaps-and-islands lag sum).
    * All-integer output; the oracle replays fingerprints, census,
    * and the interval-union arithmetic exactly. */
  def qDupSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dupSpans(docs(s, dir), winTokens = 8)
      .orderBy("doc_id")

  /** `(doc_id, tok3)` word 3-shingle multiset of the document corpus
    * (the q_distinct_kmv_text shingling with provenance). */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("t")) - 2),
        i => concat_ws("_", element_at(col("t"), i),
          element_at(col("t"), i + 1), element_at(col("t"), i + 2)))).as("tok3"))

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_dup_spans", qDupSpans, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t),
        |w AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
        |        i -> {'pos': i, 'wh': md5(array_to_string(tk[i:i+7], '_'))})) AS u
        |      FROM t WHERE len(tk) >= 8),
        |wins AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.wh AS wh FROM w),
        |dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) >= 2),
        |dw AS (SELECT wins.doc_id, wins.pos FROM wins JOIN dup USING (wh)),
        |adds AS (SELECT doc_id, least(8, pos - coalesce(
        |           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), pos - 8)) AS a
        |         FROM dw),
        |cov AS (SELECT doc_id, count(*) AS n_dup_wins, sum(a) AS n_covered
        |        FROM adds GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  CAST(coalesce(c.n_dup_wins, 0) AS BIGINT) AS n_dup_wins,
        |  CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered
        |FROM base b LEFT JOIN cov c ON b.doc_id = c.doc_id
        |ORDER BY b.doc_id""".stripMargin)),
    QueryDef("q_bloom_dedup", qBloomDedup, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |         i -> tk[i] || '_' || tk[i+1] || '_' || tk[i+2])) AS tok3 FROM t),
        |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |ckeys AS (SELECT DISTINCT tok3 FROM sh WHERE doc_id % 4 <> 0),
        |cpos AS (SELECT DISTINCT
        |           ('0x' || substr(md5(tok3), 8 * j + 1, 7))::BIGINT % 131072 AS pos
        |         FROM ckeys CROSS JOIN js),
        |grid AS (SELECT pos // 32 AS word_idx,
        |           bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
        |         FROM cpos GROUP BY 1),
        |bkeys AS (SELECT DISTINCT tok3 FROM sh WHERE doc_id % 4 = 0),
        |probe AS (SELECT tok3,
        |            ('0x' || substr(md5(tok3), 8 * j + 1, 7))::BIGINT % 131072 AS pos
        |          FROM bkeys CROSS JOIN js),
        |flags AS (SELECT tok3,
        |            min(CASE WHEN (coalesce(word, 0) &
        |                  (1::BIGINT << CAST(pos % 32 AS INT))) <> 0
        |                THEN 1 ELSE 0 END) = 1 AS maybe_seen
        |          FROM probe LEFT JOIN grid ON pos // 32 = grid.word_idx
        |          GROUP BY tok3)
        |SELECT b.doc_id, count(*) AS n_sh,
        |  CAST(sum(CASE WHEN NOT f.maybe_seen THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN c.tok3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen_true
        |FROM sh b JOIN flags f USING (tok3) LEFT JOIN ckeys c USING (tok3)
        |WHERE b.doc_id % 4 = 0
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)),
    QueryDef("q_triangles", qTriangles, Some(
      s"""WITH t AS (SELECT doc_id, $shSql AS sh FROM documents),
         |hs AS (SELECT doc_id, $hsSql AS hs FROM t WHERE len(sh) > 0),
         |sim AS (SELECT doc_id, $simHiSql AS sim_hi, $simLoSql AS sim_lo FROM hs),
         |p AS (SELECT x.doc_id AS a, y.doc_id AS b FROM sim x JOIN sim y
         |      ON x.doc_id < y.doc_id
         |      WHERE bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) <= 6),
         |n AS (SELECT count(*) AS n_edges FROM p),
         |v AS (SELECT count(DISTINCT u) AS n_nodes
         |      FROM (SELECT a AS u FROM p UNION ALL SELECT b AS u FROM p)),
         |tr AS (SELECT count(*) AS n_triangles
         |       FROM p p1 JOIN p p2 ON p1.b = p2.a
         |       JOIN p p3 ON p3.a = p1.a AND p3.b = p2.b)
         |SELECT v.n_nodes, n.n_edges, tr.n_triangles FROM n, v, tr""".stripMargin)),
    QueryDef("q_clustering", qClustering, Some(
      s"""WITH t AS (SELECT doc_id, $shSql AS sh FROM documents),
         |hs AS (SELECT doc_id, $hsSql AS hs FROM t WHERE len(sh) > 0),
         |sim AS (SELECT doc_id, $simHiSql AS sim_hi, $simLoSql AS sim_lo FROM hs),
         |p AS (SELECT x.doc_id AS a, y.doc_id AS b FROM sim x JOIN sim y
         |      ON x.doc_id < y.doc_id
         |      WHERE bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) <= 6),
         |deg AS (SELECT u, count(*) AS deg
         |        FROM (SELECT a AS u FROM p UNION ALL SELECT b AS u FROM p) GROUP BY 1),
         |tr AS (SELECT p1.a AS x, p1.b AS y, p2.b AS z
         |       FROM p p1 JOIN p p2 ON p1.b = p2.a
         |       JOIN p p3 ON p3.a = p1.a AND p3.b = p2.b),
         |pn AS (SELECT u, count(*) AS tri
         |       FROM (SELECT x AS u FROM tr UNION ALL SELECT y FROM tr
         |             UNION ALL SELECT z FROM tr) GROUP BY 1)
         |SELECT deg.u AS node, deg.deg, coalesce(pn.tri, 0) AS tri,
         |  CASE WHEN deg.deg >= 2
         |       THEN (2 * coalesce(pn.tri, 0) * 1000000) // (deg.deg * (deg.deg - 1))
         |       ELSE 0 END AS lcc_micro
         |FROM deg LEFT JOIN pn ON deg.u = pn.u ORDER BY node""".stripMargin)),
    QueryDef("q_dedup_segments", qDedupSegments, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents WHERE length(text) > 0),
        |segs AS (SELECT doc_id, CAST(u.i AS INT) AS seg_idx,
        |           array_to_string(toks[CAST(u.i*8+1 AS INT) : CAST(u.i*8+8 AS INT)], ' ') AS seg
        |         FROM t CROSS JOIN unnest(range(0, (len(toks)-1)//8 + 1)) AS u(i)),
        |m AS (SELECT doc_id, seg_idx, seg,
        |        count(*) OVER (PARTITION BY seg) AS n,
        |        row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        |      FROM segs)
        |SELECT doc_id,
        |  CAST(count(*) AS INT) AS n_segs,
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS INT) AS n_dup,
        |  CAST(sum(CASE WHEN n = 1 OR rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
        |  md5(string_agg(CASE WHEN n = 1 OR rn = 1 THEN seg END, ' ' ORDER BY seg_idx)) AS clean_hash
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("q_dedup_cdc_segments", qDedupCdcSegments, Some(
      s"""WITH ${CurationQueries.cdcChunkCtesSql},
         |ct AS (SELECT ch.doc_id, ch.chunk_ord AS seg_idx, ch.chunk_md5,
         |         substr(d.text, CAST(ch.start AS INT), CAST(ch.len AS INT)) AS seg
         |       FROM chunks ch JOIN documents d USING (doc_id)),
         |mm AS (SELECT doc_id, seg_idx, seg,
         |         count(*) OVER (PARTITION BY chunk_md5) AS n,
         |         row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, seg_idx) AS rn
         |       FROM ct)
         |SELECT doc_id,
         |  CAST(count(*) AS INT) AS n_segs,
         |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS INT) AS n_dup,
         |  CAST(sum(CASE WHEN n = 1 OR rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
         |  md5(string_agg(CASE WHEN n = 1 OR rn = 1 THEN seg END, '' ORDER BY seg_idx)) AS clean_hash
         |FROM mm GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("q_split_leakage", qSplitLeakage, Some(
      s"""WITH t AS (SELECT doc_id, $shSql AS sh FROM documents),
         |hs AS (SELECT doc_id, sh, len(sh) AS n_sh, $hsSql AS hs FROM t WHERE len(sh) > 0),
         |sig AS (SELECT doc_id, sh, n_sh,
         |          list_transform($paramsSql, ab ->
         |            list_min(list_transform(hs, x -> (ab[1]*x + ab[2]) % 2147483647))) AS sig
         |        FROM hs),
         |bands AS (SELECT doc_id,
         |            CAST(b AS VARCHAR) || ':' || array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
         |          FROM sig, unnest([0,1,2,3]) AS u(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
         |         ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |ver AS (SELECT c.a, c.b, len(list_intersect(ta.sh, tb.sh)) AS i, ta.n_sh AS na, tb.n_sh AS nb
         |        FROM cand c JOIN hs ta ON ta.doc_id = c.a JOIN hs tb ON tb.doc_id = c.b),
         |p AS (SELECT a, b, round(CAST(i AS DOUBLE)/CAST(na+nb-i AS DOUBLE), 3) AS jac
         |      FROM ver WHERE CAST(i AS DOUBLE)/CAST(na+nb-i AS DOUBLE) >= 0.7),
         |sp AS (SELECT doc_id,
         |         CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
         |              WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM documents)
         |SELECT p.a, p.b, sa.split AS split_a, sb.split AS split_b,
         |  sa.split <> sb.split AS leaks, p.jac
         |FROM p JOIN sp sa ON sa.doc_id = p.a JOIN sp sb ON sb.doc_id = p.b
         |ORDER BY p.a, p.b""".stripMargin)),
    QueryDef("q_minhash_estimate", qMinhashEstimate, Some(
      s"""WITH t AS (SELECT doc_id, $shSql AS sh FROM documents),
         |hs AS (SELECT doc_id, sh, len(sh) AS n_sh, $hsSql AS hs FROM t WHERE len(sh) > 0),
         |sig AS (SELECT doc_id, sh, n_sh, list_transform($paramsSql, ab ->
         |          list_min(list_transform(hs, x -> (ab[1]*x + ab[2]) % 2147483647))) AS sig
         |        FROM hs),
         |bands AS (SELECT doc_id,
         |            CAST(b AS VARCHAR) || ':' || array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
         |          FROM sig, unnest([0,1,2,3]) AS u(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
         |         ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |p AS (SELECT c.a, c.b,
         |        len(list_filter(range(1, 17), i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS mk,
         |        len(list_intersect(sa.sh, sb.sh)) AS i2, sa.n_sh AS na, sb.n_sh AS nb
         |      FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b)
         |SELECT a, b, CAST(mk AS INT) AS match_k,
         |  round(CAST(mk AS DOUBLE) / CAST(16 AS DOUBLE), 4) AS j_est,
         |  round(CAST(i2 AS DOUBLE) / CAST(na + nb - i2 AS DOUBLE), 4) AS jac
         |FROM p ORDER BY a, b""".stripMargin)),
    QueryDef("q_dedup_minhash", qDedupMinhash, Some(
      s"""WITH t AS (SELECT doc_id, $shSql AS sh FROM documents),
         |hs AS (SELECT doc_id, sh, len(sh) AS n_sh, $hsSql AS hs FROM t WHERE len(sh) > 0),
         |sig AS (SELECT doc_id, sh, n_sh,
         |          list_transform($paramsSql, ab ->
         |            list_min(list_transform(hs, x -> (ab[1]*x + ab[2]) % 2147483647))) AS sig
         |        FROM hs),
         |bands AS (SELECT doc_id,
         |            CAST(b AS VARCHAR) || ':' || array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
         |          FROM sig, unnest([0,1,2,3]) AS u(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
         |         ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |ver AS (SELECT c.a, c.b, len(list_intersect(ta.sh, tb.sh)) AS i, ta.n_sh AS na, tb.n_sh AS nb
         |        FROM cand c JOIN hs ta ON ta.doc_id = c.a JOIN hs tb ON tb.doc_id = c.b)
         |SELECT a, b, round(CAST(i AS DOUBLE)/CAST(na+nb-i AS DOUBLE), 3) AS jac
         |FROM ver WHERE CAST(i AS DOUBLE)/CAST(na+nb-i AS DOUBLE) >= 0.7 ORDER BY a, b""".stripMargin)),
    QueryDef("q_detector_kappa", qDetectorKappa, Some(
      s"""WITH t AS (SELECT doc_id, $shSql AS sh FROM documents),
         |hs AS (SELECT doc_id, sh, len(sh) AS n_sh, $hsSql AS hs FROM t WHERE len(sh) > 0),
         |sig AS (SELECT doc_id, sh, n_sh,
         |          list_transform($paramsSql, ab ->
         |            list_min(list_transform(hs, x -> (ab[1]*x + ab[2]) % 2147483647))) AS sig
         |        FROM hs),
         |bands AS (SELECT doc_id,
         |            CAST(b AS VARCHAR) || ':' || array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
         |          FROM sig, unnest([0,1,2,3]) AS u(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
         |         ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |mh AS (SELECT c.a, c.b
         |       FROM cand c JOIN hs ta ON ta.doc_id = c.a JOIN hs tb ON tb.doc_id = c.b
         |       WHERE CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) /
         |             CAST(ta.n_sh + tb.n_sh - len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) >= 0.7),
         |sim AS (SELECT doc_id, $simHiSql AS sim_hi, $simLoSql AS sim_lo FROM hs),
         |sp AS (SELECT x.doc_id AS a, y.doc_id AS b FROM sim x JOIN sim y ON x.doc_id < y.doc_id
         |       WHERE bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) <= 6),
         |fa AS (SELECT DISTINCT id FROM (SELECT a AS id FROM mh UNION ALL SELECT b AS id FROM mh)),
         |fb AS (SELECT DISTINCT id FROM (SELECT a AS id FROM sp UNION ALL SELECT b AS id FROM sp)),
         |v AS (SELECT CASE WHEN fa.id IS NULL THEN 0 ELSE 1 END AS fva,
         |             CASE WHEN fb.id IS NULL THEN 0 ELSE 1 END AS fvb
         |      FROM documents d LEFT JOIN fa ON fa.id = d.doc_id LEFT JOIN fb ON fb.id = d.doc_id),
         |cen AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |          CAST(sum(fva * fvb) AS BIGINT) AS n_both,
         |          CAST(sum(fva * (1 - fvb)) AS BIGINT) AS n_a_only,
         |          CAST(sum((1 - fva) * fvb) AS BIGINT) AS n_b_only,
         |          CAST(sum((1 - fva) * (1 - fvb)) AS BIGINT) AS n_neither
         |        FROM v),
         |k AS (SELECT n_docs, n_both, n_a_only, n_b_only, n_neither,
         |        CAST(n_both + n_a_only AS HUGEINT) * (n_both + n_b_only)
         |          + CAST(n_neither + n_b_only AS HUGEINT) * (n_neither + n_a_only) AS pe,
         |        CAST(n_docs AS HUGEINT) * (n_both + n_neither) AS po_n,
         |        CAST(n_docs AS HUGEINT) * n_docs AS n2
         |      FROM cen)
         |SELECT n_docs, n_both, n_a_only, n_b_only, n_neither,
         |  CAST(CASE WHEN (po_n - pe) >= 0
         |       THEN ((po_n - pe) * 1000000) // (n2 - pe)
         |       ELSE -((-(po_n - pe) * 1000000 + (n2 - pe) - 1) // (n2 - pe)) END AS BIGINT)
         |    AS kappa_micro
         |FROM k""".stripMargin)),
    QueryDef("q_detector_ari", qDetectorAri, Some(
      s"""WITH RECURSIVE t AS (SELECT doc_id, $shSql AS sh FROM documents),
         |hs AS MATERIALIZED (SELECT doc_id, sh, len(sh) AS n_sh, $hsSql AS hs
         |                    FROM t WHERE len(sh) > 0),
         |sig AS (SELECT doc_id, sh, n_sh,
         |          list_transform($paramsSql, ab ->
         |            list_min(list_transform(hs, x -> (ab[1]*x + ab[2]) % 2147483647))) AS sig
         |        FROM hs),
         |bands AS (SELECT doc_id,
         |            CAST(b AS VARCHAR) || ':' || array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
         |          FROM sig, unnest([0,1,2,3]) AS u(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
         |         ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |mh AS MATERIALIZED (SELECT c.a, c.b
         |       FROM cand c JOIN hs ta ON ta.doc_id = c.a JOIN hs tb ON tb.doc_id = c.b
         |       WHERE CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) /
         |             CAST(ta.n_sh + tb.n_sh - len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) >= 0.7),
         |sim AS (SELECT doc_id, $simHiSql AS sim_hi, $simLoSql AS sim_lo FROM hs),
         |sp AS MATERIALIZED (SELECT x.doc_id AS a, y.doc_id AS b
         |       FROM sim x JOIN sim y ON x.doc_id < y.doc_id
         |       WHERE bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) <= 6),
         |ea AS MATERIALIZED (SELECT a AS u, b AS v FROM mh UNION SELECT b, a FROM mh),
         |ra(u, v) AS (SELECT u, u FROM (SELECT DISTINCT u FROM ea)
         |             UNION
         |             SELECT r.u, e.v FROM ra r JOIN ea e ON r.v = e.u),
         |ca AS MATERIALIZED (SELECT u AS id, min(v) AS comp FROM ra GROUP BY u),
         |eb AS MATERIALIZED (SELECT a AS u, b AS v FROM sp UNION SELECT b, a FROM sp),
         |rb(u, v) AS (SELECT u, u FROM (SELECT DISTINCT u FROM eb)
         |             UNION
         |             SELECT r.u, e.v FROM rb r JOIN eb e ON r.v = e.u),
         |cb AS MATERIALIZED (SELECT u AS id, min(v) AS comp FROM rb GROUP BY u),
         |l AS (SELECT coalesce(ca.comp, d.doc_id) AS la, coalesce(cb.comp, d.doc_id) AS lb
         |      FROM documents d LEFT JOIN ca ON ca.id = d.doc_id
         |                        LEFT JOIN cb ON cb.id = d.doc_id),
         |cells AS MATERIALIZED (SELECT la, lb, CAST(count(*) AS BIGINT) AS c
         |                       FROM l GROUP BY 1, 2),
         |st AS (SELECT CAST(sum(c) AS HUGEINT) AS n,
         |         CAST(sum(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS sij,
         |         (SELECT CAST(coalesce(sum(CAST(s AS HUGEINT) * (s - 1)), 0) AS HUGEINT)
         |          FROM (SELECT sum(c) AS s FROM cells GROUP BY la)) AS sa,
         |         (SELECT CAST(coalesce(sum(CAST(s AS HUGEINT) * (s - 1)), 0) AS HUGEINT)
         |          FROM (SELECT sum(c) AS s FROM cells GROUP BY lb)) AS sb,
         |         CAST(count(DISTINCT la) AS BIGINT) AS nca,
         |         CAST(count(DISTINCT lb) AS BIGINT) AS ncb
         |       FROM cells),
         |k AS (SELECT n, nca, ncb, sij, sa, sb, n * (n - 1) AS sn FROM st)
         |SELECT CAST(n AS BIGINT) AS n_docs, nca AS n_clusters_a, ncb AS n_clusters_b,
         |  CAST(CASE WHEN (sn * (sa + sb) - 2 * sa * sb) = 0 THEN 1000000
         |       WHEN 2 * (sn * sij - sa * sb) >= 0
         |       THEN (2 * (sn * sij - sa * sb) * 1000000)
         |            // (sn * (sa + sb) - 2 * sa * sb)
         |       ELSE -((-(2 * (sn * sij - sa * sb)) * 1000000
         |               + (sn * (sa + sb) - 2 * sa * sb) - 1)
         |              // (sn * (sa + sb) - 2 * sa * sb)) END AS BIGINT) AS ari_micro
         |FROM k""".stripMargin)),
    QueryDef("q_lsh_recall", qLshRecall, Some(
      s"""WITH t AS (SELECT doc_id, $shSql AS sh FROM documents),
         |hs AS (SELECT doc_id, sh, len(sh) AS n_sh, $hsSql AS hs FROM t WHERE len(sh) > 0),
         |sig AS (SELECT doc_id, sh, n_sh,
         |          list_transform($paramsSql, ab ->
         |            list_min(list_transform(hs, x -> (ab[1]*x + ab[2]) % 2147483647))) AS sig
         |        FROM hs),
         |bands AS (SELECT doc_id,
         |            CAST(b AS VARCHAR) || ':' || array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
         |          FROM sig, unnest([0,1,2,3]) AS u(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
         |         ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |cj AS (SELECT c.a, c.b,
         |         CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) /
         |         CAST(ta.n_sh + tb.n_sh - len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) AS jac
         |       FROM cand c JOIN hs ta ON ta.doc_id = c.a JOIN hs tb ON tb.doc_id = c.b),
         |truth AS (SELECT x.doc_id AS a, y.doc_id AS b
         |          FROM hs x JOIN hs y ON x.doc_id < y.doc_id
         |          WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
         |                CAST(x.n_sh + y.n_sh - len(list_intersect(x.sh, y.sh)) AS DOUBLE) >= 0.7),
         |tn AS (SELECT count(*) AS n_true FROM truth),
         |cn AS (SELECT count(*) AS n_cand FROM cj),
         |hn AS (SELECT count(*) AS n_hit FROM cj
         |       WHERE jac >= 0.7
         |         AND EXISTS (SELECT 1 FROM truth tr WHERE tr.a = cj.a AND tr.b = cj.b))
         |SELECT n_true, n_cand, n_hit,
         |  CAST(CASE WHEN n_true = 0 THEN 1000000
         |       ELSE (n_hit * 1000000) // n_true END AS BIGINT) AS recall_ppm,
         |  CAST(CASE WHEN n_cand = 0 THEN 1000000
         |       ELSE (n_hit * 1000000) // n_cand END AS BIGINT) AS precision_ppm
         |FROM tn, cn, hn""".stripMargin)),
    QueryDef("q_dedup_incremental", qDedupIncremental, Some(
      s"""WITH tb AS (SELECT doc_id, $shSql AS sh FROM documents WHERE doc_id % 10 = 0),
         |tc AS (SELECT doc_id, $shSql AS sh FROM documents WHERE doc_id % 10 <> 0),
         |hb AS (SELECT doc_id, sh, len(sh) AS n_sh, $hsSql AS hs FROM tb WHERE len(sh) > 0),
         |hc AS (SELECT doc_id, sh, len(sh) AS n_sh, $hsSql AS hs FROM tc WHERE len(sh) > 0),
         |sb AS (SELECT doc_id, list_transform($paramsSql, ab ->
         |         list_min(list_transform(hs, x -> (ab[1]*x + ab[2]) % 2147483647))) AS sig
         |       FROM hb),
         |sc AS (SELECT doc_id, list_transform($paramsSql, ab ->
         |         list_min(list_transform(hs, x -> (ab[1]*x + ab[2]) % 2147483647))) AS sig
         |       FROM hc),
         |bb AS (SELECT doc_id,
         |         CAST(b AS VARCHAR) || ':' || array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
         |       FROM sb, unnest([0,1,2,3]) AS u(b)),
         |bc AS (SELECT doc_id,
         |         CAST(b AS VARCHAR) || ':' || array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
         |       FROM sc, unnest([0,1,2,3]) AS u(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bb x JOIN bc y
         |         ON x.bkey = y.bkey AND x.doc_id <> y.doc_id),
         |ver AS (SELECT c.a, c.b, len(list_intersect(ta.sh, tb2.sh)) AS i,
         |          ta.n_sh AS na, tb2.n_sh AS nb
         |        FROM cand c JOIN hb ta ON ta.doc_id = c.a JOIN hc tb2 ON tb2.doc_id = c.b)
         |SELECT a, b, round(CAST(i AS DOUBLE)/CAST(na+nb-i AS DOUBLE), 3) AS jac
         |FROM ver WHERE CAST(i AS DOUBLE)/CAST(na+nb-i AS DOUBLE) >= 0.7 ORDER BY a, b""".stripMargin)),
    QueryDef("q_dedup_simhash", qDedupSimhash, Some(
      s"""WITH t AS (SELECT doc_id, $shSql AS sh FROM documents),
         |hs AS (SELECT doc_id, $hsSql AS hs FROM t WHERE len(sh) > 0)
         |SELECT doc_id, $simHiSql AS sim_hi, $simLoSql AS sim_lo
         |FROM hs ORDER BY doc_id""".stripMargin)),
    QueryDef("q_dedup_emblsh", qDedupEmbLsh, Some(
      s"""WITH sigs AS (SELECT e.vec_id, u.band,
         |  CAST(list_sum(list_transform(range(0, 16), jj ->
         |    CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
         |           CAST(e.embedding[i] AS DOUBLE) *
         |           (((((u.band * 16 + jj) * 131 + (i - 1) * 17 + 7) * 2654435761)
         |             % 4294967296) % 7 - 3)))
         |         > 0.0
         |    THEN (CAST(1 AS BIGINT) << jj) ELSE 0 END)) AS BIGINT) AS sig
         |  FROM embeddings e CROSS JOIN unnest([0,1,2,3,4,5,6,7]) AS u(band)),
         |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |         FROM sigs x JOIN sigs y
         |         ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id)
         |SELECT c.a, c.b,
         |  round(${VectorQueries.cosSql("ea.embedding", "eb.embedding")}, 4) AS cos
         |FROM cand c JOIN embeddings ea ON ea.vec_id = c.a
         |            JOIN embeddings eb ON eb.vec_id = c.b
         |WHERE ${VectorQueries.cosSql("ea.embedding", "eb.embedding")} >= 0.3
         |ORDER BY a, b""".stripMargin)),
    QueryDef("q_simhash_recall", qSimhashRecall, Some(
      s"""WITH t AS (SELECT doc_id, $shSql AS sh FROM documents),
         |hs AS (SELECT doc_id, sh, len(sh) AS n_sh, $hsSql AS hs FROM t WHERE len(sh) > 0),
         |sim AS (SELECT doc_id, $simHiSql AS sim_hi, $simLoSql AS sim_lo FROM hs),
         |kept AS (SELECT x.doc_id AS a, y.doc_id AS b
         |         FROM sim x JOIN sim y ON x.doc_id < y.doc_id
         |         WHERE bit_count(xor(x.sim_hi, y.sim_hi))
         |               + bit_count(xor(x.sim_lo, y.sim_lo)) <= 6),
         |truth AS (SELECT x.doc_id AS a, y.doc_id AS b
         |          FROM hs x JOIN hs y ON x.doc_id < y.doc_id
         |          WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
         |                CAST(x.n_sh + y.n_sh - len(list_intersect(x.sh, y.sh)) AS DOUBLE) >= 0.7),
         |tn AS (SELECT count(*) AS n_true FROM truth),
         |kn AS (SELECT count(*) AS n_kept FROM kept),
         |hn AS (SELECT count(*) AS n_hit FROM kept k
         |       WHERE EXISTS (SELECT 1 FROM truth tr WHERE tr.a = k.a AND tr.b = k.b))
         |SELECT n_true, n_kept, n_hit,
         |  CAST(CASE WHEN n_true = 0 THEN 1000000
         |       ELSE (n_hit * 1000000) // n_true END AS BIGINT) AS recall_ppm,
         |  CAST(CASE WHEN n_kept = 0 THEN 1000000
         |       ELSE (n_hit * 1000000) // n_kept END AS BIGINT) AS precision_ppm
         |FROM tn, kn, hn""".stripMargin)),
    QueryDef("q_dedup_simhash_pairs", qDedupSimhashPairs, Some(
      s"""WITH t AS (SELECT doc_id, $shSql AS sh FROM documents),
         |hs AS (SELECT doc_id, $hsSql AS hs FROM t WHERE len(sh) > 0),
         |sim AS (SELECT doc_id, $simHiSql AS sim_hi, $simLoSql AS sim_lo FROM hs)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |  CAST(bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) AS INT) AS hamming
         |FROM sim x JOIN sim y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) <= 6
         |ORDER BY a, b""".stripMargin)),
    QueryDef("q_dedup_embcos", qDedupEmbcos, Some(
      s"""WITH $embcosCellSql
         |SELECT a.vec_id AS a, b.vec_id AS b,
         |  round(${VectorQueries.cosSql("a.embedding", "b.embedding")}, 4) AS cos
         |FROM cell ca JOIN cell cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
         |JOIN embeddings a ON a.vec_id = ca.vec_id
         |JOIN embeddings b ON b.vec_id = cb.vec_id
         |WHERE ${VectorQueries.cosSql("a.embedding", "b.embedding")} >= 0.4
         |ORDER BY a, b""".stripMargin)),
    QueryDef("q_dedup_embcos_mp", qDedupEmbcosMp, Some(
      s"""WITH $embcosCoreSql,
         |cell AS (SELECT vec_id, ord AS cell FROM (
         |           SELECT vec_id, ord,
         |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, ord) AS rn
         |           FROM cd)
         |         WHERE rn <= 2)
         |SELECT DISTINCT a.vec_id AS a, b.vec_id AS b,
         |  round(${VectorQueries.cosSql("a.embedding", "b.embedding")}, 4) AS cos
         |FROM cell ca JOIN cell cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
         |JOIN embeddings a ON a.vec_id = ca.vec_id
         |JOIN embeddings b ON b.vec_id = cb.vec_id
         |WHERE ${VectorQueries.cosSql("a.embedding", "b.embedding")} >= 0.4
         |ORDER BY a, b""".stripMargin)),
    QueryDef("q_dedup_semantic", qDedupSemantic, Some(
      s"""WITH RECURSIVE $embcosCellSql,
         |p AS (SELECT a.vec_id AS a, b.vec_id AS b
         |      FROM cell ca JOIN cell cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
         |      JOIN embeddings a ON a.vec_id = ca.vec_id
         |      JOIN embeddings b ON b.vec_id = cb.vec_id
         |      WHERE ${VectorQueries.cosSql("a.embedding", "b.embedding")} >= 0.4),
         |eg AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
         |reach(u, v) AS (SELECT u, u FROM (SELECT DISTINCT u FROM eg)
         |                UNION
         |                SELECT r.u, eg.v FROM reach r JOIN eg ON r.v = eg.u),
         |comp AS (SELECT u AS vec_id, min(v) AS comp FROM reach GROUP BY u),
         |dropped AS (SELECT vec_id FROM comp WHERE comp <> vec_id)
         |SELECT e.vec_id, e.label FROM embeddings e
         |LEFT JOIN dropped d ON e.vec_id = d.vec_id
         |WHERE d.vec_id IS NULL
         |ORDER BY e.vec_id""".stripMargin)),
    QueryDef("q_dedup_embcos2", qDedupEmbcos2, Some(
      s"""WITH kk AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS INT)) AS k FROM embeddings),
         |kp AS (SELECT k, greatest(2, CAST(ceil(sqrt(k)) AS INT)) AS k1 FROM kk),
         |kq AS (SELECT k, k1, CAST(ceil(CAST(k AS DOUBLE) / k1) AS INT) AS k2 FROM kp),
         |coarse AS (SELECT ord, cv FROM (
         |             SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ord,
         |                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |             FROM embeddings)
         |           WHERE ord < (SELECT k1 FROM kq)),
         |a0 AS (SELECT vec_id, ord AS c0 FROM (
         |         SELECT e.vec_id, c.ord,
         |                row_number() OVER (PARTITION BY e.vec_id
         |                  ORDER BY ${VectorQueries.l2Sql("c.cv", "e.embedding")}, c.ord) AS rn
         |         FROM embeddings e CROSS JOIN coarse c)
         |       WHERE rn = 1),
         |inr AS (SELECT c0, iord, cv FROM (
         |          SELECT a0.c0,
         |                 row_number() OVER (PARTITION BY a0.c0 ORDER BY e.vec_id) - 1 AS iord,
         |                 list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS cv
         |          FROM embeddings e JOIN a0 ON a0.vec_id = e.vec_id)
         |        WHERE iord < (SELECT k2 FROM kq)),
         |a1 AS (SELECT vec_id, c0 * (SELECT k2 FROM kq) + iord AS cell FROM (
         |         SELECT e.vec_id, i.c0, i.iord,
         |                row_number() OVER (PARTITION BY e.vec_id
         |                  ORDER BY ${VectorQueries.l2Sql("i.cv", "e.embedding")}, i.iord) AS rn
         |         FROM embeddings e JOIN a0 ON a0.vec_id = e.vec_id
         |         JOIN inr i ON i.c0 = a0.c0)
         |       WHERE rn = 1)
         |SELECT a.vec_id AS a, b.vec_id AS b,
         |  round(${VectorQueries.cosSql("a.embedding", "b.embedding")}, 4) AS cos
         |FROM a1 ca JOIN a1 cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
         |JOIN embeddings a ON a.vec_id = ca.vec_id
         |JOIN embeddings b ON b.vec_id = cb.vec_id
         |WHERE ${VectorQueries.cosSql("a.embedding", "b.embedding")} >= 0.4
         |ORDER BY a, b""".stripMargin)),
  )
}
