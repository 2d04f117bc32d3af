package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, Dedup, Graph}

/** PageRank: the structural properties (uniform fixpoint on regular
  * graphs, hub dominance, mass conservation up to the documented floor
  * loss, exact partition invariance from the integer-unit convention)
  * plus a hand-replayed tiny graph and the dangling-node rejection. */
class GraphSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ranks(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, Double] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("a directed ring (regular graph) keeps the uniform distribution") {
    val n = 10L
    val ring = (0L until n).map(i => (i, (i + 1) % n))
    val r = ranks(ring)
    val u = math.floor(1.0 / n * 1e12) / 1e12
    assert(r.values.forall(v => math.abs(v - u) < 2e-12),
      s"uniform fixpoint must survive damped iterations: $r")
  }

  test("a star's hub out-ranks its leaves") {
    // undirected star: hub 0 <-> leaves 1..8
    val star = (1L to 8L).flatMap(i => Seq((0L, i), (i, 0L)))
    val r = ranks(star)
    val hub = r(0L)
    (1L to 8L).foreach(i => assert(hub > r(i) * 3,
      s"hub $hub must dominate leaf ${r(i)}"))
    // leaves are symmetric -> identical ranks (exact, by determinism)
    assert((1L to 8L).map(r).toSet.size == 1, s"symmetric leaves diverged: $r")
  }

  test("rank mass is conserved up to the documented floor loss") {
    val star = (1L to 8L).flatMap(i => Seq((0L, i), (i, 0L)))
    val total = ranks(star).values.sum
    // each floor loses < 1e-12; (E + N) terms x 3 rounds bounds the loss
    assert(total <= 1.0 && total > 1.0 - (16 + 9) * 3 * 1e-12,
      s"mass $total drifted past the floor-loss bound")
  }

  test("two-node hand replay: the engine computes exactly the integer-unit recurrence") {
    // 1 <-> 2: both degree 1, uniform by symmetry; replay the arithmetic
    val r = ranks(Seq((1L, 2L), (2L, 1L)), iters = 3)
    var rank = math.floor(1.0 / 2 * 1e12) / 1e12
    for (_ <- 1 to 3) {
      val u = math.floor(rank / 1L * 1e12).toLong
      rank = math.floor(((1 - 0.85) / 2 + 0.85 * (u.toDouble / 1e12)) * 1e12) / 1e12
    }
    assert(r(1L) == rank && r(2L) == rank,
      s"engine ${r(1L)} diverged from the hand recurrence $rank")
  }

  test("result is exactly partition-invariant (integer-unit sums)") {
    import spark.implicits._
    val edges = (for (i <- 0L until 40L; j <- Seq((i * 7 + 3) % 40, (i * 11 + 5) % 40))
      yield Seq((i, j), (j, i))).flatten
    def run(parts: Int) =
      Graph.pageRank(edges.toDF("src", "dst").repartition(parts), iters = 4)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run(1) == run(16), "PageRank must be bit-identical at any parallelism")
  }

  test("dangling nodes are rejected loudly, not silently mis-normalized") {
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), iters = 1).collect()
    }
    assert(ex.getMessage.contains("dangling"))
  }

  test("dangling redistribution: hand replay of a 1 -> 2 chain (2 is a sink)") {
    import spark.implicits._
    val r = Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), iters = 3,
        danglingRedistribute = true)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    var (ra, rb) = (math.floor(0.5 * 1e12) / 1e12, math.floor(0.5 * 1e12) / 1e12)
    for (_ <- 1 to 3) {
      val u = math.floor(rb / 1.0 * 0 + ra / 1L * 1e12).toLong // only a -> b contributes
      val du = math.floor(rb * 1e12).toLong                    // b is the sink
      val base = (1 - 0.85) / 2
      val nra = math.floor((base + 0.85 * (0.0 / 1e12 + du.toDouble / 1e12 / 2.0)) * 1e12) / 1e12
      val nrb = math.floor((base + 0.85 * (u.toDouble / 1e12 + du.toDouble / 1e12 / 2.0)) * 1e12) / 1e12
      ra = nra; rb = nrb
    }
    assert(r(1L) == ra && r(2L) == rb, s"engine $r vs hand ($ra, $rb)")
  }

  test("dangling redistribution conserves mass up to the floor loss") {
    import spark.implicits._
    // 0..3 -> 4..7 bipartite, all dsts are sinks
    val edges = for (i <- 0L until 4L; j <- 4L until 8L) yield (i, j)
    val total = Graph.pageRank(edges.toDF("src", "dst"), iters = 3,
        danglingRedistribute = true)
      .agg(org.apache.spark.sql.functions.sum("rank")).head().getDouble(0)
    assert(total <= 1.0 && total > 1.0 - (16 + 8 + 1) * 3 * 1e-12,
      s"mass $total drifted past the floor-loss bound")
    // and sinks with identical in-link structure rank identically
    val r = Graph.pageRank(edges.toDF("src", "dst"), iters = 3,
        danglingRedistribute = true)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert((4L until 8L).map(r).toSet.size == 1, s"symmetric sinks diverged: $r")
  }

  test("personalized: rank concentrates around the seed, not by global degree") {
    import spark.implicits._
    // two symmetric 4-cliques bridged by one edge (4-5): globally the
    // graph is near-regular (uniform PageRank spreads flat), but with
    // the teleport pinned on node 0 its own clique must strictly
    // out-rank the far clique, seed first
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val edges = (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(4L, 5L, 6L, 7L)) ++
      Seq((3L, 4L), (4L, 3L))).toDF("src", "dst")
    val r = Graph.pageRankPersonalized(edges, Seq(0L).toDF("node"), iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(0L) == r.values.max, s"the seed must hold the top rank: $r")
    val near = Seq(1L, 2L, 3L).map(r).min
    val far = Seq(5L, 6L, 7L).map(r).max
    assert(near > far, s"seed clique must out-rank the far clique: $r")
    // teleport mass only enters through seeds: nothing outranks them
    // spuriously, and total mass stays <= 1 (floor loss only)
    val total = r.values.sum
    assert(total <= 1.0 && total > 1.0 - 8 * 3 * 1e-12,
      s"personalized mass $total drifted past the floor-loss bound")
  }

  test("personalized with an all-node seed set reduces toward the uniform shape") {
    import spark.implicits._
    // on a regular ring they must agree EXACTLY: tv = floor12(1/n) on
    // every node, the same value the uniform arm floors per round
    val ring = (0L until 6L).map(i => (i, (i + 1) % 6)).toDF("src", "dst")
    val uni = Graph.pageRank(ring, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val per = Graph.pageRankPersonalized(ring,
        (0L until 6L).toDF("node"), iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(uni.keySet == per.keySet)
    for ((k, v) <- uni)
      assert(math.abs(per(k) - v) <= 2e-12,
        s"all-seed personalization must match uniform at node $k: ${per(k)} vs $v")
  }

  // ---- k-core peeling ----

  private def core(pairs: Seq[(Long, Long)], k: Int, rounds: Int = 5): Map[Long, Long] = {
    import spark.implicits._
    Graph.kCorePeel(pairs.toDF("a", "b"), k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Naive reference: peel to fixpoint on an in-memory adjacency map. */
  private def naiveCore(pairs: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    import scala.collection.mutable
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    pairs.filter(p => p._1 != p._2).foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    var changed = true
    while (changed) {
      val weak = adj.collect { case (u, ns) if ns.size < k => u }.toSeq
      changed = weak.nonEmpty
      weak.foreach { u =>
        adj(u).foreach(v => adj.get(v).foreach(_ -= u))
        adj -= u
      }
    }
    adj.map { case (u, ns) => u -> ns.size.toLong }.toMap
  }

  test("k-core: a triangle with a tail keeps the triangle, peels the tail") {
    // 1-2-3 triangle, tail 3-4-5
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val r = core(g, k = 2)
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"2-core wrong: $r")
  }

  test("k-core: a path peels to empty through the cascade") {
    // a-b-c-d at k=2: endpoints peel, then everything
    val r = core(Seq((1L, 2L), (2L, 3L), (3L, 4L)), k = 2)
    assert(r.isEmpty, s"path 2-core must be empty: $r")
  }

  test("k-core: k above the max degree empties the graph") {
    val r = core(Seq((1L, 2L), (2L, 3L), (1L, 3L)), k = 3)
    assert(r.isEmpty, s"3-core of a triangle must be empty: $r")
  }

  test("k-core: duplicate / reversed / self-loop edges do not inflate degrees") {
    val g = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 1L), (2L, 3L), (1L, 3L))
    val r = core(g, k = 2)
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"normalized 2-core wrong: $r")
  }

  test("k-core: enough rounds reach the naive fixpoint on a seeded random graph") {
    val rnd = new scala.util.Random(19)
    val n = 60
    val pairs = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    // rounds > |V|: a cascade can peel one node per round, so the
    // fixpoint bound is the node count; the operator's early exit
    // stops as soon as an edge census repeats, so the extra headroom
    // costs nothing once converged
    for (k <- Seq(2, 4, 6)) {
      val dist = core(pairs, k, rounds = 64)
      val naive = naiveCore(pairs, k)
      assert(dist == naive, s"k=$k core diverged from the naive peel: " +
        s"dist=${dist.toSeq.sorted} naive=${naive.toSeq.sorted}")
    }
  }

  test("k-core: a stopped-early peel is a superset of the fixpoint core") {
    val rnd = new scala.util.Random(23)
    val pairs = Seq.fill(160)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val early = core(pairs, k = 4, rounds = 1).keySet
    val fix = core(pairs, k = 4, rounds = 12).keySet
    assert(fix.subsetOf(early),
      s"round-1 peel must contain the fixpoint core: early=$early fix=$fix")
  }

  test("a shared PreparedGraph serves uniform AND personalized calls " +
      "identically to independent builds (no state bleed)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val edges = (base ++ base.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("node")
    val g = Graph.prepare(edges)
    try {
      val sharedU = Graph.pageRankPrepared(g, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val sharedP = Graph.pageRankPrepared(g, iters = 3, teleport = Some(seeds))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // and AGAIN on the same prepared graph — a second consumer must
      // see identical numbers (the session-memo usage pattern)
      val sharedU2 = Graph.pageRankPrepared(g, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val soloU = Graph.pageRank(edges, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val soloP = Graph.pageRankPersonalized(edges, seeds, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(sharedU == soloU, "uniform ranks must not depend on graph sharing")
      assert(sharedP == soloP, "personalized ranks must not depend on graph sharing")
      assert(sharedU == sharedU2, "repeat calls on one PreparedGraph must agree")
      assert(sharedU != sharedP, "the two recurrences must actually differ on this fixture")
    } finally g.unpersist()
  }

  private def wRanks(edges: Seq[(Long, Long, Long)], iters: Int = 3): Map[Long, Double] = {
    import spark.implicits._
    Graph.pageRankWeighted(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("weighted PageRank: a ring with EQUAL weights keeps the uniform distribution") {
    // each node has one out-edge, so (u·w) div w = u exactly — the
    // uniform fixpoint survives in exact integer units like the
    // unweighted ring test
    val n = 10L
    val ring = (0L until n).map(i => (i, (i + 1) % n, 7L))
    val r = wRanks(ring)
    val u = math.floor(1.0 / n * 1e12) / 1e12
    assert(r.values.forall(v => math.abs(v - u) < 2e-12), s"$r")
  }

  test("weighted PageRank: shifting weight toward an edge raises its head's rank") {
    // hub 0 splits to 1 and 2; back-edges keep the graph sink-free
    def graph(w1: Long, w2: Long) = Seq(
      (0L, 1L, w1), (0L, 2L, w2), (1L, 0L, 1L), (2L, 0L, 1L))
    val even = wRanks(graph(5L, 5L))
    assert(math.abs(even(1L) - even(2L)) < 2e-12,
      s"equal weights must rank the two heads equally: $even")
    val skewed = wRanks(graph(9L, 1L))
    assert(skewed(1L) > skewed(2L) + 1e-6,
      s"the 9:1 head must out-rank the 1:9 head: $skewed")
  }

  test("weighted PageRank: duplicate edges fold into summed weights exactly") {
    val folded = wRanks(Seq((0L, 1L, 3L), (1L, 0L, 1L), (0L, 2L, 1L), (2L, 0L, 1L)))
    val dup = wRanks(Seq((0L, 1L, 2L), (0L, 1L, 1L), (1L, 0L, 1L),
      (0L, 2L, 1L), (2L, 0L, 1L)))
    assert(folded == dup, "multi-edge weights must sum before the recurrence")
  }

  test("weighted PageRank: non-positive weights and sinks fail loudly") {
    import spark.implicits._
    intercept[Exception] {
      Graph.pageRankWeighted(Seq((0L, 1L, 0L), (1L, 0L, 1L)).toDF("src", "dst", "w"))
        .collect()
    }
    intercept[Exception] { // 1 is a sink
      Graph.pageRankWeighted(Seq((0L, 1L, 1L)).toDF("src", "dst", "w")).collect()
    }
  }

  private def lpa(edges: Seq[(Long, Long)], rounds: Int = 2): Map[Long, Long] = {
    import spark.implicits._
    Graph.labelPropagate(edges.toDF("src", "dst"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("LPA: two disjoint triangles converge to one label each") {
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L))
    val l = lpa(tri, rounds = 2)
    assert(l == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L),
      s"each triangle must settle on its smallest seed label: $l")
  }

  test("LPA: synchronous rounds + smallest-label tie-break on a path, pinned") {
    // path 1-2-3. Round 1 (all labels unique, every count 1, min wins):
    // 1→2, 2→1 (tie {1,3}), 3→2. Round 2: 1 sees {2:1}→1; 2 sees
    // {1:2, 3:2} = two votes for label 2 → 2; 3 sees {2:1}→1.
    val l = lpa(Seq((1L, 2L), (2L, 3L)), rounds = 2)
    assert(l == Map(1L -> 1L, 2L -> 2L, 3L -> 1L),
      s"the synchronous 2-round path labels are pinned: $l")
  }

  test("LPA: direction, duplication and self-loops do not change the answer") {
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val noisy = base ++ base.map(_.swap) ++ base ++ Seq((2L, 2L))
    assert(lpa(base) == lpa(noisy),
      "edges must be symmetrized + de-duplicated and self-loops dropped")
  }

  test("kHopReach: hand values on a path and a triangle; input noise immune") {
    import spark.implicits._
    def reach(edges: Seq[(Long, Long)], k: Int = 2): Map[Long, Long] =
      Graph.kHopReach(edges.toDF("src", "dst"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path 1-2-3-4: 1 reaches {2,3}, 2 reaches {1,3,4}, symmetric
    assert(reach(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ==
      Map(1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 2L))
    // triangle: everyone reaches the other two (2-hop adds nothing new)
    assert(reach(Seq((1L, 2L), (2L, 3L), (3L, 1L))) ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k = 1 is plain degree over the symmetrized distinct edges
    assert(reach(Seq((1L, 2L), (2L, 3L)), k = 1) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    // duplicated/reversed/self-loop input must not change reach
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(reach(base) == reach(base ++ base.map(_.swap) ++ Seq((2L, 2L))))
  }

  test("LPA: a hub's label floods its star") {
    // star 0-{1..6}: round 1 — hub takes min leaf label 1, leaves take 0;
    // round 2 — hub sees six votes for 0 → 0, leaves see {1} → 1... the
    // classic bipartite oscillation, which the DETERMINISTIC synchronous
    // contract makes reproducible: assert the exact pinned state.
    val star = (1L to 6L).map(l => (0L, l))
    val l = lpa(star, rounds = 2)
    assert(l(0L) == 0L && (1L to 6L).forall(i => l(i) == 1L),
      s"2-round synchronous star labels are pinned: $l")
  }

  test("LPA: negative node ids fail loudly (tie-break negation guard)") {
    import spark.implicits._
    val ex = intercept[Exception] {
      Graph.labelPropagate(Seq((-1L, 2L), (2L, 3L)).toDF("src", "dst")).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("non-negative"),
      s"guard must name the contract: ${ex.getMessage}")
  }

  private def modRow(edges: Seq[(Long, Long)], labels: Seq[(Long, Long)]) = {
    import spark.implicits._
    Graph.modularity(edges.toDF("src", "dst"), labels.toDF("node", "lbl"))
      .collect().head
  }

  test("modularity: two disjoint triangles under their LPA labels score exactly +1/2") {
    import spark.implicits._
    // the Newman & Girvan hand value: all edges internal, two equal
    // communities -> Q = 1 - 2*(1/2)^2 = 1/2 exactly
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L))
    val labels = Graph.labelPropagate(tri.toDF("src", "dst"), rounds = 2)
    val r = Graph.modularity(tri.toDF("src", "dst"), labels).collect().head
    assert(r.getAs[Long]("n_communities") == 2L && r.getAs[Long]("two_m") == 12L)
    assert(r.getAs[Long]("e_in") == 12L, "every edge internal")
    assert(r.getAs[Long]("q_num") == 72L && r.getAs[Long]("q_den") == 144L)
    assert(r.getAs[Long]("q_units") == 500000000L, s"Q must be exactly +0.5: $r")
  }

  test("modularity: negative Q floors (not truncates) — the bad-partition arm") {
    // triangle split {1} vs {2,3}: 2m=6, e_in=2 (the 2<->3 pair),
    // deg_sq = 2^2 + 4^2 = 20, q_num = 2*6-20 = -8, q_den = 36,
    // Q = -2/9 -> floor(-222222222.22) = -222222223 (truncation would
    // give -222222222 — this pins the explicit floor identity)
    val r = modRow(Seq((1L, 2L), (2L, 3L), (3L, 1L)),
      Seq(1L -> 100L, 2L -> 200L, 3L -> 200L))
    assert(r.getAs[Long]("q_num") == -8L && r.getAs[Long]("q_den") == 36L)
    assert(r.getAs[Long]("q_units") == -222222223L, s"negative Q must FLOOR: $r")
  }

  test("modularity: the whole graph as one community scores exactly 0") {
    val r = modRow(Seq((1L, 2L), (2L, 3L)), Seq(1L -> 7L, 2L -> 7L, 3L -> 7L))
    assert(r.getAs[Long]("q_num") == 0L && r.getAs[Long]("q_units") == 0L,
      s"single community: e_in*2m == deg_sq == (2m)^2: $r")
  }

  // ---- HITS hubs & authorities --------------------------------------

  private def hitsMap(edges: Seq[(Long, Long)], rounds: Int = 2): Map[Long, (Long, Long)] = {
    import spark.implicits._
    Graph.hits(edges.toDF("src", "dst"), rounds)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  /** The operator's exact integer recurrence replayed with BigInt —
    * an independent single-threaded model of L1-normalized HITS. */
  private def hitsModel(edges: Seq[(Long, Long)], rounds: Int): Map[Long, (Long, Long)] = {
    val e = edges.filter(p => p._1 != p._2).distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val U = BigInt(1000000000000L)
    var h = nodes.map(_ -> BigInt(1000000)).toMap
    var a = Map.empty[Long, BigInt]
    def norm(raw: Map[Long, BigInt]): Map[Long, BigInt] = {
      val s = raw.values.sum
      raw.map { case (n, v) => n -> (v * U / s) }
    }
    for (_ <- 1 to rounds) {
      a = norm(e.groupBy(_._2).map { case (v, es) => v -> es.map(x => h(x._1)).sum })
      h = norm(e.groupBy(_._1).map { case (u, es) => u -> es.map(x => a(x._2)).sum })
    }
    nodes.map(n => n -> (a.getOrElse(n, BigInt(0)).toLong,
      h.getOrElse(n, BigInt(0)).toLong)).toMap
  }

  test("hits: hand graph — the doubly-pointed-at node is the authority") {
    // 1->3, 2->3, 3->4: node 3 receives two hubs, node 4 one; after
    // round 1 a(3)=floor(2/3*1e12), a(4)=floor(1/3*1e12), and hubs
    // 1,2 (pointing at the authority) out-rank hub 3
    val m = hitsMap(Seq((1L, 3L), (2L, 3L), (3L, 4L)), rounds = 1)
    assert(m(3L)._1 == 666666666666L && m(4L)._1 == 333333333333L, s"$m")
    assert(m(1L)._2 == m(2L)._2 && m(1L)._2 > m(3L)._2, s"$m")
    assert(m(1L)._1 == 0L && m(2L)._1 == 0L, "sources have no authority")
    assert(m(4L)._2 == 0L, "sinks have no hub score")
  }

  test("hits: matches the BigInt model exactly on a seeded graph, 1 and 3 rounds") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    for (r <- Seq(1, 3))
      assert(hitsMap(edges, r) == hitsModel(edges, r), s"rounds=$r")
  }

  test("hits: duplicate edges and self-loops do not change scores") {
    val base = Seq((1L, 3L), (2L, 3L), (3L, 4L))
    val noisy = base ++ base ++ Seq((3L, 3L), (1L, 1L))
    assert(hitsMap(noisy) == hitsMap(base))
  }

  test("hits: on a bipartite graph each side is pure (auth xor hub)") {
    val m = hitsMap(Seq((1L, 10L), (1L, 11L), (2L, 10L)))
    assert(Seq(1L, 2L).forall(n => m(n)._1 == 0L && m(n)._2 > 0L))
    assert(Seq(10L, 11L).forall(n => m(n)._1 > 0L && m(n)._2 == 0L))
    // L1 convention: each normalized side sums to ~1e12 (floor loss < #nodes)
    val sumA = m.values.map(_._1).sum
    assert(sumA <= 1000000000000L && sumA > 1000000000000L - 4)
  }

  test("hits: partition invariance — 1 vs 4 shuffle partitions agree exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(200)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val df = edges.toDF("src", "dst")
    val one = Graph.hits(df.repartition(1), 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val four = Graph.hits(df.repartition(4), 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(one.sameElements(four))
  }

  test("hits: large-graph twin path (broadcast disabled) matches the broadcast path") {
    // hits() is size-adaptive: under the broadcast threshold the edge
    // list rides BroadcastHashJoins; past it, src-/dst-partitioned
    // persisted twins keep the per-round SMJs from re-shuffling O(E).
    // Forcing threshold -1 exercises the twin arm on a small fixture —
    // the two physical strategies must agree to the unit
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val viaBroadcast = hitsMap(edges, rounds = 2)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaTwins = hitsMap(edges, rounds = 2)
      assert(viaTwins == viaBroadcast)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // ---- the Rounds loop ----

  test("plan size is the same at 3 and 8 rounds for every iterative operator") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val directed = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val symmetric = directed.filter(p => p._1 != p._2).flatMap(p => Seq(p, p.swap)).distinct
    val edges = directed.toDF("src", "dst")
    val sym = symmetric.toDF("src", "dst")
    val weighted = symmetric.map { case (s, d) => (s, d, 1L + (s + d) % 3) }.toDF("src", "dst", "w")
    // a chain needs about as many propagation rounds as it has links
    def chain(n: Int) = (0L until n.toLong).map(i => (i, i + 1)).toDF("a", "b")
    val text = Seq("low low low lower newest newest newest widest wider wide").toDF("text")
    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "kCorePeel" -> (r => Graph.kCorePeel(sym.toDF("a", "b"), 3, r)),
      "pageRank" -> (r => Graph.pageRank(sym, r)),
      "pageRankPersonalized" -> (r =>
        Graph.pageRankPersonalized(sym, Seq(1L, 2L).toDF("node"), r)),
      "pageRank dangling" -> (r => Graph.pageRank(edges, r, danglingRedistribute = true)),
      "pageRankWeighted" -> (r => Graph.pageRankWeighted(weighted, r)),
      // k is capped at 4, so its levels run 2 and 3
      "kHopReach" -> (r => Graph.kHopReach(sym, k = if (r < 8) 3 else 4)),
      "labelPropagate" -> (r => Graph.labelPropagate(sym, r)),
      "hits" -> (r => Graph.hits(edges, r)),
      "connectedComponents" -> (r => Dedup.connectedComponents(chain(r))),
      "connectedComponentsStar" -> (r => Dedup.connectedComponentsStar(chain(4 * r))),
      "Bpe.learn" -> (r => Bpe.learn(text, col("text"), r)))
    def planNodes(df: DataFrame): Int = df.queryExecution.analyzed.collect { case n => n }.size
    for ((name, op) <- ops)
      assert(planNodes(op(3)) == planNodes(op(8)), name)
    // the 12-round HITS the lazy broadcast-regime plan (~4^rounds nodes)
    // could not plan, checked against the exact model
    assert(hitsMap(directed, rounds = 12) == hitsModel(directed, rounds = 12))
  }
}
