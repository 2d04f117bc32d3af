package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph centrality for corpus quality weighting (extension — the
  * reference has no graph surface). A web-scale pretraining pipeline
  * derives a per-document/per-domain quality prior from the link graph
  * (the OpenWebText/CCNet lineage: rank the graph, not the text); this
  * is the census that computes it.
  */
object Graph {

  /** Deterministic fixed-iteration PageRank (Brin & Page '98) over a
    * directed edge list `(src, dst)`.
    *
    * Numeric convention (chosen so a SQL oracle replays every round
    * bit-for-bit): contributions enter each round as INTEGER 1e-12
    * units — `floor(rank/outdeg · 1e12)` as a long — so the
    * per-destination sum is exact integer arithmetic with no
    * accumulation-order noise, and each round's rank re-floors to
    * 12 dp; every iteration's input is therefore a pure function of
    * integers and identical IEEE double ops, whatever the
    * parallelism. The ≤1e-12-per-term floor loss is the price of
    * cross-engine determinism (a raw double sum is merge-order-
    * dependent and ungateable — the approx_percentile lesson).
    *
    * Contract: by default every node must have at least one out-edge
    * (any symmetrized/undirected graph qualifies); dangling nodes
    * leak damping mass, which the default REJECTS loudly rather than
    * silently mis-normalizing. `danglingRedistribute = true` instead
    * applies the standard web-graph treatment (Page et al. '99 §2.7:
    * a sink's rank is split uniformly over ALL nodes each round) — a
    * real crawl graph is full of sinks, and this arm ranks it without
    * symmetrizing away the link direction. The dangling mass enters
    * the recurrence in the same exact integer units (Σ floor(rank ·
    * 1e12) over sinks — ONE scalar per round, crossJoined in-plan,
    * never collected).
    *
    * Scale shape: each iteration is the Pregel message pattern in two
    * bounded shuffles — ONE equi-join of the O(N) rank table to the
    * degree-annotated O(E) edge list on `src`, plus ONE
    * map-side-combined integer sum per `dst`. The degree join is
    * LOOP-INVARIANT, so it runs once: the edge list persists already
    * annotated and hash-partitioned on `src`, and every iteration's
    * join reuses that layout — only the O(N) rank side moves per
    * round, never the O(E) side (at web scale E ≫ N, so this is the
    * difference between shuffling the graph iters times and once).
    * Degrees and the node set build once; N is a scalar; nothing
    * collects. At a fixed iteration count the wall-clock is
    * iters × (join + agg), however large the graph. */
  /** PERSONALIZED PageRank (Page et al. '99 §6 "personalized" E
    * vector; the related-items / topic-sensitive serving variant):
    * identical recurrence, but the teleport mass lands on a SEED set
    * instead of uniformly — t(v) = 1/|S| on seeds, 0 elsewhere — so
    * rank measures proximity TO THE SEEDS, not global centrality.
    * Same exact integer-unit convention (t(v) itself 12-dp floored),
    * same per-round shape; dangling mass (if `danglingRedistribute`)
    * flows back to the seeds, mirroring the teleport vector, per the
    * standard treatment. `teleport` is a 1-column `node` frame; it
    * joins the node set once at build time (broadcast when small —
    * the usual case: a query's seed items). */
  def pageRankPersonalized(edges: DataFrame, teleport: DataFrame,
      iters: Int = 3, damping: Double = 0.85,
      danglingRedistribute: Boolean = false): DataFrame =
    pageRank(edges, iters, damping, danglingRedistribute, Some(teleport))

  /** Fixed-round k-core peeling (Seidman '83 degeneracy cores; the
    * Batagelj-Zaveršnik iterative formulation): repeatedly delete
    * every node of degree < k — what survives to fixpoint is the
    * k-core, the standard graph-cleanup pass a link/near-dup graph
    * gets before centrality or community work (peels crawl-frontier
    * tendrils and one-off dup pairs; keeps the densely-connected
    * heart).
    *
    * `pairs` is an undirected pair list (a, b); edges symmetrize and
    * dedup internally. Exactly `rounds` peel rounds run (the
    * PageRank fixed-iteration convention — data-dependent round
    * counts are ungateable), then the final edge set's degree census
    * is returned as `(node, deg)`: at fixpoint this IS the k-core
    * with in-core degrees; before fixpoint it is the round-`rounds`
    * peel state, bit-reproducible either way. GraphSpec pins
    * fixpoint-vs-naive equality; rounds ≥ the fixture's peel depth
    * makes the gate the true core.
    *
    * Scale shape: per round ONE map-side-combined degree census
    * (shuffle O(N)) and ONE semi-join of the edge list against the
    * surviving nodes on each endpoint (equi-joins; the edge list only
    * ever shrinks). All-integer arithmetic — degree thresholds replay
    * exactly in SQL as unrolled round CTEs. */
  def kCorePeel(pairs: DataFrame, k: Int, rounds: Int,
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // normalize to u < v before the dedup so a pair supplied in both
    // directions cannot double an edge's degree contribution
    val base = pairs
      .select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("u"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v")) // self-loops never contribute core degree
      .distinct()
    val seed = base.select(col("u"), col("v"))
      .union(base.select(col("v").as("u"), col("u").as("v")))
    // early exit at fixpoint: an unchanged edge count means no node
    // peeled, and peel rounds are IDEMPOTENT at fixpoint — so stopping
    // early yields exactly the `rounds`-round answer while an oracle
    // that unrolls all `rounds` rounds replays no-ops. A long cascade
    // (one node per round) still terminates within `rounds`.
    var edgeCount = -1L
    val last = Rounds.run(seed, rounds, count(lit(1)).as("n")) { r =>
      val n = r.census.getAs[Long]("n")
      if (n == edgeCount) None
      else {
        edgeCount = n
        val keep = r.frame.groupBy("u").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("u").as("kept"))
        Some(r.frame
          .join(keep.withColumnRenamed("kept", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("kept", "v"), Seq("v"), "left_semi")
          .select(col("u"), col("v")))
      }
    }
    last.frame.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** The loop-invariant graph artifacts [[pageRank]] builds before its
    * first iteration — the distinct edge list, its degree-annotated
    * `src`-partitioned cache, and the sink-flagged node set. They are
    * pure functions of the EDGES (not of damping/teleport/iters), so
    * gates ranking the same graph under different recurrences share
    * one build via [[prepare]] + [[pageRankPrepared]] instead of
    * re-running the O(E) distinct + degree join + node census per
    * call. All three frames are persisted; [[PreparedGraph.unpersist]]
    * releases them (the convenience [[pageRank]] wrapper does so in
    * `finally`, preserving its original lifecycle). */
  final case class PreparedGraph(e: DataFrame, ed: DataFrame,
      nodesBase: DataFrame) {
    def unpersist(): Unit = { e.unpersist(); ed.unpersist(); nodesBase.unpersist() }
  }

  def prepare(edges: DataFrame): PreparedGraph = {
    import org.apache.spark.storage.StorageLevel
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // the degree-annotated edge list, partitioned on the per-iteration
    // join key — built ONCE, reused every round with no re-shuffle
    val ed = e.join(deg, "src")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // nodes carry their sink flag (no out-edge) from one build-time
    // anti-join — the per-round dangling census is then a filter+agg
    val nodesBase = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .join(e.select(col("src").as("node")).distinct()
        .withColumn("__out", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__out"), lit(false)).as("has_out"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    PreparedGraph(e, ed, nodesBase)
  }

  def pageRank(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85,
      danglingRedistribute: Boolean = false,
      teleport: Option[DataFrame] = None): DataFrame = {
    val g = prepare(edges)
    try pageRankPrepared(g, iters, damping, danglingRedistribute, teleport)
    finally g.unpersist()
  }

  /** The [[pageRank]] recurrence over a [[PreparedGraph]] whose
    * lifecycle the CALLER owns (session-memoized gates). The returned
    * frame is fully materialized (every round localCheckpoints), so
    * the caller may unpersist the graph at any point after return. */
  def pageRankPrepared(g: PreparedGraph, iters: Int = 3,
      damping: Double = 0.85,
      danglingRedistribute: Boolean = false,
      teleport: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val ed = g.ed
    val nodesBase = g.nodesBase
    val nodes = teleport
      .map(tp => nodesBase
        .join(tp.select(col("node")).distinct().withColumn("__seed", lit(true)),
          Seq("node"), "left")
        .select(col("node"), col("has_out"),
          coalesce(col("__seed"), lit(false)).as("is_seed")))
      .getOrElse(nodesBase.withColumn("is_seed", lit(true)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // node count + sink census + seed count in ONE job (each would
      // otherwise be its own ~job-floor round trip on a cached frame)
      val census = nodes.agg(count(lit(1)).as("n"),
        coalesce(sum(when(!col("has_out"), 1L).otherwise(0L)), lit(0L)).as("nd"),
        coalesce(sum(when(col("is_seed"), 1L).otherwise(0L)), lit(0L)).as("ns"))
        .head()
      val (n, nDangling) = (census.getLong(0), census.getLong(1))
      // uniform PageRank: every node is a "seed" (nSeed = n); the
      // personalized arm teleports to the seed subset only
      val nSeed = census.getLong(2)
      require(teleport.isEmpty || nSeed > 0,
        "personalized PageRank needs at least one teleport seed present in the graph")
      require(danglingRedistribute || nDangling == 0,
        s"$nDangling dangling node(s) — pageRank requires every node to " +
          "have an out-edge (symmetrize the graph, drop sinks, or pass " +
          "danglingRedistribute = true)")
      val floor12 = (c: Column) => floor(c * lit(1e12)).cast("double") / lit(1e12)
      // the teleport vector, itself 12-dp floored so both engines see
      // identical doubles: 1/|seeds| on seeds, 0 elsewhere
      val tv = when(col("is_seed"),
        floor12(lit(1.0) / nSeed)).otherwise(lit(0.0d))
      // the uniform arm keeps its ORIGINAL expressions bit-for-bit
      // ((1−d)/n as one double division, dangling /n) — the gated
      // oracles replay exactly those; the personalized arm scales the
      // floored teleport vector instead
      // tv is ALREADY 12-dp floored; re-flooring is not numerically
      // idempotent (floor12(x)·1e12 can land one ulp under the
      // integer), so the personalized init uses tv as-is
      val initRank =
        if (teleport.isEmpty) floor12(lit(1.0) / n) else tv
      val teleTerm: Column =
        if (teleport.isEmpty) lit((1 - damping) / n)
        else lit(1 - damping) * tv
      // Σ floor(rank·1e12) over sinks — one exact integer scalar per
      // round, read as the round's census (no extra job). It enters the
      // next round's expressions as a literal with the identical double
      // operation order (du→double, /1e12, then /n or ·tv), so
      // ranks are bit-for-bit what an in-plan crossJoin of the 1-row
      // sink aggregate produced. This arm is inherently eager: each
      // round's sink mass must be a literal before the NEXT round's plan
      // exists.
      val sinkMetric =
        if (!danglingRedistribute) Nil
        else Seq(coalesce(sum(when(!col("has_out"),
          floor(col("rank") * lit(1e12))).otherwise(lit(0L))), lit(0L)).as("du"))
      val init = nodes.select(col("node"), col("has_out"), col("is_seed"),
        initRank.as("rank"))
      val last = Rounds.run(init, iters, sinkMetric: _*) { r =>
        val units = ed
          .join(r.frame.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(floor(col("rank") / col("deg") * lit(1e12))).as("u"))
        val inMass = coalesce(col("u"), lit(0L)).cast("double") / lit(1e12)
        val mass =
          if (!danglingRedistribute) inMass
          else {
            val du = r.census.getAs[Long]("du")
            inMass + (if (teleport.isEmpty) lit(du.toDouble / 1e12 / n.toDouble)
              else lit(du.toDouble / 1e12) * tv)
          }
        Some(nodes.join(units, Seq("node"), "left")
          .select(col("node"), col("has_out"), col("is_seed"),
            floor12(teleTerm + lit(damping) * mass).as("rank")))
      }
      last.frame.select(col("node"), col("rank"))
    } finally {
      // only the per-call seed-flagged node frame: the PreparedGraph
      // frames belong to the caller (pageRank's wrapper releases them)
      nodes.unpersist()
    }
  }

  /** WEIGHTED PageRank — the recurrence over edge weights (interaction
    * counts, link multiplicities, co-occurrence strengths: the norm
    * for real graphs, where [[pageRank]]'s uniform 1/deg split is the
    * special case w ≡ 1): each round a node's mass splits across its
    * out-edges proportionally to weight. Exactness keeps the integer-
    * unit convention end to end: with u = floor(rank·1e12) and W_src
    * the node's weight sum, every edge carries floor(u·w / W_src)
    * units — one integer multiply + one integer division, identical
    * in any engine and at any parallelism (the oracle unrolls rounds
    * with `(u*w) // W`). Weight contract (checked loudly in ONE setup
    * census job): strictly positive integers with max(w) ≤ 2^22, so
    * u·w < 2^62 never overflows a checked BIGINT in either engine.
    * Sinks are rejected like [[pageRank]]'s default.
    *
    * Scale shape: identical to the uniform arm — the weight-annotated
    * edge list builds once (distinct-fold of multi-edges, one weight-
    * sum join, src-partitioned persist) and each round is one edge
    * join + one hash aggregate. */
  def pageRankWeighted(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    val g = prepareWeighted(edges)
    try pageRankWeightedPrepared(g, iters, damping)
    finally g.unpersist()
  }

  /** The loop-invariant weighted-graph artifacts ([[prepare]]'s
    * weighted twin, same caller-owned lifecycle): folded edge list,
    * weight-sum-annotated src-partitioned cache, sink-flagged nodes,
    * plus the validated census scalars (node count, max weight) so
    * repeat recurrences re-run ZERO setup jobs. */
  final case class PreparedWGraph(e: DataFrame, ed: DataFrame,
      nodes: DataFrame, n: Long) {
    def unpersist(): Unit = {
      e.unpersist(blocking = false)
      ed.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  def prepareWeighted(edges: DataFrame): PreparedWGraph = {
    import org.apache.spark.storage.StorageLevel
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
        when(col("w").isNull || col("w") <= 0,
          raise_error(concat(lit("pageRankWeighted: non-positive weight on edge "),
            col("src").cast("string"), lit("->"), col("dst").cast("string"))))
          .otherwise(col("w").cast("long")).as("w"))
      .groupBy("src", "dst").agg(sum(col("w")).as("w")) // fold multi-edges
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ws = e.groupBy("src").agg(sum(col("w")).as("ws"))
    val ed = e.join(ws, "src")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(e.select(col("src").as("node")).distinct()
        .withColumn("__out", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__out"), lit(false)).as("has_out"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node count + sink census + weight bound in ONE validation job
    val census = nodes.agg(count(lit(1)).as("n"),
      coalesce(sum(when(!col("has_out"), 1L).otherwise(0L)), lit(0L)).as("nd"))
      .crossJoin(e.agg(max(col("w")).as("wmax")))
      .head()
    require(census.getLong(1) == 0,
      s"${census.getLong(1)} dangling node(s) — pageRankWeighted requires " +
        "every node to have an out-edge (symmetrize or drop sinks)")
    require(census.getLong(2) <= (1L << 22),
      s"max edge weight ${census.getLong(2)} > 2^22 — u*w would overflow " +
        "checked 64-bit arithmetic; rescale weights first")
    PreparedWGraph(e, ed, nodes, census.getLong(0))
  }

  /** The weighted recurrence over a [[PreparedWGraph]] the CALLER
    * owns (session-memoized gates). Fully materialized on return. */
  def pageRankWeightedPrepared(g: PreparedWGraph, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val n = g.n
    val floor12 = (c: Column) => floor(c * lit(1e12)).cast("double") / lit(1e12)
    val init = g.nodes.select(col("node"), floor12(lit(1.0) / n).as("rank"))
    Rounds.run(init, iters) { r =>
      val units = g.ed
        .join(r.frame.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("(CAST(floor(rank * 1e12) AS BIGINT) * w) div ws")).as("u"))
      Some(g.nodes.select(col("node"))
        .join(units, Seq("node"), "left")
        .select(col("node"),
          floor12(lit((1 - damping) / n) + lit(damping) *
            (coalesce(col("u"), lit(0L)).cast("double") / lit(1e12))).as("rank")))
    }.frame
  }

  /** k-hop reach census — for every node, the number of DISTINCT
    * nodes reachable in 1..k undirected hops (self excluded): the
    * neighbourhood-size profile behind friend-of-friend recall,
    * expansion QA on near-dup graphs, and seed-set sizing. Exact BFS
    * frontier by k-1 self-joins: reach_i = distinct (src, dst) pairs
    * of path length ≤ i. All equi-joins and distincts; the inherent
    * cost term is the wedge count Σ deg² at k = 2 (the same term the
    * triangle census carries — a graph with bounded degree keeps it
    * linear in E, a power-law hub makes it the true answer's own
    * size, since reach IS the pair set being counted). */
  def kHopReach(edges: DataFrame, k: Int = 2): DataFrame = {
    require(k >= 1 && k <= 4, s"k must be in [1, 4] (pair sets explode past that), got $k")
    val base = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val e = base
      .union(base.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    // explicit, non-coalescible exchanges around the wedge join: its
    // INPUT bytes are sub-MB (AQE folds the shuffle to 1-2 tasks) but
    // its OUTPUT is the deg² wedge explosion — the cost AQE's
    // byte-based coalescing can't see (measured 0.77 s on 2 tasks of
    // q_khop's 1.7 s at sf0.1). A user repartition with an explicit
    // count satisfies the join's distribution and is never coalesced
    // width from the edge list's leaf bytes, core-count floor
    // (graft.Spread): the wedge output is deg-squared in the input, so
    // a data-proportional width undershoots less at scale than #cores
    val par = graft.Spread.count(e)
    val eBySrc = e.repartition(par, col("src"))
    // level 1 is `e` itself, which Rounds reads but never releases:
    // eBySrc reads it on every level
    val pairs = Rounds.run(e, k - 1) { r =>
      Some(r.frame.as("a")
        .repartition(par, col("a.dst"))
        .join(eBySrc.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
        .union(r.frame)
        .distinct())
    }.frame
    pairs.groupBy(col("src").as("node")).agg(count(lit(1)).as("reach"))
  }

  /** Synchronous label-propagation communities (Raghavan, Albert &
    * Kumara 2007) over an undirected graph, made DETERMINISTIC: every
    * node starts labelled with its own id; each round every node
    * simultaneously adopts the label most frequent among its
    * neighbours, ties broken by the SMALLEST label; the round count is
    * fixed. The original algorithm updates asynchronously in random
    * node order with random tie-breaks — that is neither reproducible
    * across reruns nor SQL-replayable, so this is the standard
    * synchronous-deterministic variant (the HNSW level-hash deviation
    * convention: same convergence behaviour class, pinned semantics).
    *
    * Scale shape: per round ONE (node, label) hash aggregate over the
    * edge→label equi-join (map-side combined, shuffle O(E)) and ONE
    * argmax aggregate rendered as `max(struct(count, -label))` —
    * bounded-state aggregates, no per-node window sort, nothing
    * all-pairs. Input edges may arrive
    * directed or duplicated: they are symmetrized and de-duplicated
    * first, self-loops dropped (a self-vote would freeze every node). */
  def labelPropagate(edges: DataFrame, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // the argmax tie-break below negates labels, so ids must be
    // non-negative — enforced ON the normalization pass (scan-riding,
    // zero extra jobs), not assumed in a comment: a negative id would
    // silently invert tie-breaks and Long.MinValue wraps to itself
    def nonNeg(c: Column): Column =
      when(c < 0L, raise_error(concat(
        lit("labelPropagate requires non-negative node ids "),
        lit("(the smallest-label tie-break negates labels), got "),
        c.cast("string")))).otherwise(c)
    val base = edges
      .select(nonNeg(col("src").cast("long")).as("src"),
        nonNeg(col("dst").cast("long")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // PERSIST with a declared src-partitioning, not localCheckpoint:
    // a checkpointed frame becomes a LogicalRDD whose partitioning
    // Catalyst can't see, so every round's edge→label join re-shuffled
    // the O(E) side (the round-14 sweep caught LPA shuffle ×22 on
    // data ×10). Persisted-with-repartition, the loop-invariant edge
    // list shuffles ONCE and each round moves only the O(N) label
    // table — the [[prepare]]/pageRank design applied here (measured
    // at sf0.1 on the two-gate subset: 7.95 → 5.37 s, shuffle
    // 164 → 140 MB; the time win is larger than the byte win because
    // the persisted frame also stops the distinct+union recompute the
    // checkpoint had been re-reading).
    val e = base
      .union(base.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seed = e.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
      Rounds.run(seed, rounds) { r =>
        val counts = e
          .join(r.frame.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"), col("lbl"))
          .agg(count(lit(1)).as("cnt"))
        // argmax(count DESC, label ASC) as one aggregate: max over
        // (cnt, -lbl) structs picks the highest count, then the highest
        // negated label = the smallest label (ids are non-negative in
        // every caller — fingerprints/keys — so negation cannot wrap)
        Some(counts
          .groupBy("node")
          .agg(max(struct(col("cnt").as("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("lbl")))
      }.frame
    } finally e.unpersist(blocking = false)
  }

  /** Newman modularity Q of a community assignment (Newman & Girvan,
    * Phys. Rev. E 69, 2004, eq. 5) — the standard quality number for a
    * partition like [[labelPropagate]]'s output: Q = Σ_c [ e_c/(2m) −
    * (deg_c/(2m))² ] over the SYMMETRIZED distinct edge list, where 2m
    * is the directed edge count, e_c the directed edges internal to
    * community c, and deg_c the community's degree sum. Q ∈ [−½, 1);
    * two disjoint equal cliques score exactly ½ (the GraphSpec hand
    * value); a random partition scores ≈ 0.
    *
    * EXACT integer arithmetic end-to-end (the PageRank integer-unit
    * convention): the one-row census carries q_num = 2m·Σe_c − Σdeg_c²
    * and q_den = (2m)² as exact longs, plus q_units = floor(q_num·10⁹
    * / q_den) evaluated in DECIMAL(38,0) (the product leaves int64
    * around 2m ≈ 3·10⁶ directed edges). FLOOR is explicit for negative
    * q_num — Spark `DIV` truncates toward zero where floor rounds down,
    * so the negative arm routes through the ceil-of-negation identity
    * floor(a/b) = −ceil(−a/b) = −((−a + b − 1) div b) — because a bad
    * partition's NEGATIVE Q is precisely the signal this census exists
    * to report (see the q_modularity gate: synchronous LPA on a
    * bipartite graph oscillates sides, leaving ZERO internal edges).
    *
    * Scale shape: two equi-joins of the edge list to the label table
    * (shuffle O(E) on node keys) and two map-side-combined aggregates —
    * the per-community census is O(#communities) after combine and the
    * output is ONE row. Nothing collects; nothing is all-pairs. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val base = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val e = base
      .union(base.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val l = labels.select(col("node").cast("long").as("node"), col("lbl"))
    val lab = e
      .join(l.toDF("src", "sl"), "src")
      .join(l.toDF("dst", "dl"), "dst")
    val perC = lab
      .groupBy(col("sl").as("label"))
      .agg(count(lit(1)).as("deg_c"),
        sum(when(col("sl") === col("dl"), 1L).otherwise(0L)).as("e_c"))
    perC
      .agg(
        count(lit(1)).as("n_communities"),
        sum(col("deg_c")).as("two_m"),
        sum(col("e_c")).as("e_in"),
        sum(col("deg_c") * col("deg_c")).as("deg_sq"))
      .select(
        col("n_communities"), col("two_m"), col("e_in"),
        (col("e_in") * col("two_m") - col("deg_sq")).as("q_num"),
        (col("two_m") * col("two_m")).as("q_den"))
      .withColumn("q_units", expr(
        """CASE WHEN q_num >= 0
          |THEN (CAST(q_num AS DECIMAL(38,0)) * 1000000000) DIV CAST(q_den AS DECIMAL(38,0))
          |ELSE -((CAST(-q_num AS DECIMAL(38,0)) * 1000000000 + q_den - 1)
          |       DIV CAST(q_den AS DECIMAL(38,0)))
          |END""".stripMargin))
  }

  /** HITS hubs-and-authorities (Kleinberg JACM '99 §3) over a directed
    * edge list `(src, dst)` — the OTHER classic link-centrality beside
    * [[pageRank]], and the one that distinguishes CURATORS from
    * CONTENT: a hub scores by the authorities it points at, an
    * authority by the hubs that point at it. On a crawl graph the hub
    * score finds directory/aggregator pages (high-value seeds for
    * frontier scheduling) that PageRank's single score conflates with
    * the content they link.
    *
    * Numeric convention (the [[pageRank]] integer-unit discipline,
    * adapted to HITS's per-round normalization): scores live as
    * integer 1e-12 units. Each half-round is (1) an exact integer
    * transfer sum — per-row DECIMAL(38,0) casts so the sum can never
    * silently wrap — and (2) an L1 re-normalization
    * `units = (raw · 1e12) div Σraw`, all values non-negative so
    * truncating division IS floor in both engines. Kleinberg's L2
    * normalization is deliberately replaced by L1: the eigenvector
    * direction is identical in the limit and the ranking identical at
    * every round (a positive scalar rescale), but L1 keeps every
    * operation in exact integer arithmetic where an L2 sqrt would
    * reintroduce accumulation-order noise (the approx_percentile
    * lesson). Init is the constant 1e6 per node — any positive
    * constant, since round 1 renormalizes it away.
    *
    * Overflow bound, checked by construction: after normalization
    * Σ units = 1e12, so every raw transfer sum ≤ E·1e12 and the
    * normalization numerator raw·1e12 ≤ E·1e24 — inside DECIMAL(38,0)
    * (and DuckDB HUGEINT) for any graph under ~10^14 edges, far past
    * a 100 TB edge list.
    *
    * Scale shape: per round TWO equi-joins of the O(N) score table to
    * the distinct edge list and TWO map-side-combined sums — and the
    * edge-side strategy is SIZE-ADAPTIVE — decided from the same size
    * estimate the planner's broadcast decision reads, so the two
    * cannot disagree — because the two regimes want opposite physical
    * plans. Broadcast-sized graphs (the q_hits gate: 150 k edges,
    * 3.4 MiB cached — read off the round-15 `.explain`): every
    * per-round join is a BroadcastHashJoin with NO shuffle on either
    * side, so forcing a partitioning first is pure upfront waste (the
    * round-15 A/B measured the blind LPA-style fix REGRESSING q_hits
    * 3.73 → 4.24 s and shuffle 9.6 → 12.5 MB — the "re-shuffle per
    * round" it targets never existed in the broadcast plan). Beyond
    * the broadcast threshold the joins become SortMergeJoins, and
    * THERE the [[labelPropagate]] round-14 lesson applies
    * (`localCheckpoint` makes a LogicalRDD whose partitioning Catalyst
    * can't see, so every round re-shuffles the O(E) side): the edge
    * list is persisted TWICE with a DECLARED partitioning, once per
    * join key — HITS alternates, auth rounds join on `src`, hub rounds
    * on `dst`, and a single partitioning can't serve both. Each twin
    * shuffles once at first materialization (reading the already-
    * cached distinct, never recomputing it); every later round moves
    * only the O(N) score table instead of `2·rounds·O(E)`. The
    * normalizing Σ is a 1-row aggregate crossJoined in-plan (never
    * collected). A round's two score tables are left-joined onto the
    * node set and checkpointed as one `(node, a, h)` table, so each
    * round is one job and the result is materialized on return.
    * Self-loops are dropped
    * (a self-citation is not an endorsement); duplicate edges fold by
    * `distinct`. Returns `(node, auth_units, hub_units)` for every
    * node, zeros where a side never receives mass (sources have
    * auth 0, sinks hub 0 — on a bipartite graph each side is pure). */
  def hits(edges: DataFrame, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    // the loop-invariant distinct edge list, checkpointed UNPARTITIONED
    // (raw block write — cheaper to build than a columnar cache, and
    // the broadcast-regime joins never need a partitioning anyway).
    // NOT spread: an explicit round-robin repartition before the
    // checkpoint was A/B'd in round 17 (3.1 → 4.2 s median) — the
    // one-time O(E) exchange costs more than the single-task
    // broadcast-regime rounds it parallelizes
    val eBase = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var twins: List[DataFrame] = Nil
    try {
      val nodes = eBase.select(col("src").as("node"))
        .union(eBase.select(col("dst").as("node")))
        .distinct()
        .localCheckpoint()
      // decide the edge-side strategy from the SAME size estimate the
      // planner's own broadcast decision reads (localCheckpoint
      // propagates the source plan's stats), so the two decisions
      // cannot disagree: small edge list → the per-round joins WILL be
      // broadcast, partitioned twins would be pure waste
      val edgeBytes = eBase.queryExecution.optimizedPlan.stats.sizeInBytes
      // the session's own threshold (-1 = broadcast disabled), read as
      // the resolved Long, not a re-parse of the conf string
      val bcBytes = spark.sessionState.conf.autoBroadcastJoinThreshold
      val broadcastRegime = bcBytes > 0 && edgeBytes <= bcBytes
      val (eSrc, eDst) =
        if (broadcastRegime) (eBase, eBase)
        else {
          val s = eBase.repartition(col("src"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val d = eBase.repartition(col("dst"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          twins = List(s, d)
          (s, d)
        }
      def normalize(raw: DataFrame, outCol: String): DataFrame = {
        // raw: (node, raw DECIMAL(38,0)); Σ is a 1-row frame crossJoined
        // in-plan; all values ≥ 0 so DIV-truncation == floor
        val s = raw.agg(sum(col("raw")).as("s"))
        raw.crossJoin(s)
          .select(col("node"),
            // DIV = integral division (truncating; == floor here since
            // everything is ≥ 0) — a decimal `/` + cast would ROUND
            expr("CAST((raw * 1000000000000) DIV s AS BIGINT)").as(outCol))
      }
      // one round over (node, h): auth from hubs, then hubs from auth,
      // both joined back onto every node (0 where a side gets no mass)
      def round(state: DataFrame): DataFrame = {
        val auth = normalize(eSrc
          .join(state.select(col("node").as("src"), col("h")), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("h").cast("decimal(38,0)")).cast("decimal(38,0)").as("raw")), "a")
        val hub = normalize(eDst
          .join(auth.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node"))
          .agg(sum(col("a").cast("decimal(38,0)")).cast("decimal(38,0)").as("raw")), "h")
        nodes
          .join(auth, Seq("node"), "left")
          .join(hub, Seq("node"), "left")
          .select(col("node"), coalesce(col("a"), lit(0L)).as("a"),
            coalesce(col("h"), lit(0L)).as("h"))
      }
      // round 1 runs on the constant init and is Rounds' round 0
      val init = nodes.select(col("node"), lit(1000000L).as("h"))
      Rounds.run(round(init), rounds - 1)(r => Some(round(r.frame))).frame
        .select(col("node"), col("a").as("auth_units"), col("h").as("hub_units"))
    } finally {
      // the result is a checkpoint, so the twins are dead on return.
      // eBase is localCheckpointed, not persisted: Dataset.unpersist
      // would be a no-op there (the checkpoint blocks live on the RDD,
      // not in the CacheManager) — ContextCleaner reclaims them when
      // the RDD goes out of scope, as with every other localCheckpoint
      // in this file
      twins.foreach(_.unpersist(blocking = false))
    }
  }
}
