package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Equivalence of the two connected-components algorithms: min-label
  * propagation (diameter-bound rounds) and large-star/small-star
  * contraction (log²-bound rounds). Both must emit the identical
  * (id, min-reachable-id) map on every graph shape. */
class ConnectedComponentsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def pairs(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.toDF("a", "b")
  }

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def check(es: Seq[(Long, Long)]): Unit = {
    val p = pairs(es)
    val prop = asMap(Dedup.connectedComponents(p))
    val star = asMap(Dedup.connectedComponentsStar(p))
    assert(star == prop, s"star vs propagation disagree on $es")
  }

  test("chain graph (worst case for diameter-bound propagation)") {
    check((0L until 19L).map(i => (i, i + 1)))
  }

  test("star graph rooted at a non-minimal id") {
    check(Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 7L)))
  }

  test("two components with interleaved ids") {
    check(Seq((1L, 5L), (5L, 9L), (2L, 4L), (4L, 8L), (8L, 6L)))
  }

  test("seeded random graph") {
    val rnd = new scala.util.Random(42)
    val es = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    check(es)
  }

  test("over a checkpointed pair frame neither variant leaves a cache entry") {
    val es = Seq((1L, 2L), (2L, 3L), (5L, 6L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    val cc: Seq[DataFrame => DataFrame] =
      Seq(Dedup.connectedComponents(_), Dedup.connectedComponentsStar(_))
    for (f <- cc) {
      spark.catalog.clearCache()
      assert(asMap(f(pairs(es).localCheckpoint())) == want)
      assert(spark.sharedState.cacheManager.isEmpty, "edge list left cached")
      // over a stable source the entry stays for plan-match reuse
      assert(asMap(f(pairs(es))) == want)
      assert(!spark.sharedState.cacheManager.isEmpty)
    }
    spark.catalog.clearCache()
  }

  test("star converges in few rounds on a long chain") {
    // diameter 200 would need 200 propagation rounds; the contraction
    // must finish well under its default 25-round budget
    val es = (0L until 200L).map(i => (i, i + 1))
    val labels = asMap(Dedup.connectedComponentsStar(pairs(es)))
    assert(labels.size == 201 && labels.values.forall(_ == 0L))
  }

  private def tri(es: Seq[(Long, Long)]): (Long, Long, Long) = {
    val r = Dedup.triangleCount(pairs(es)).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("triangle census: cliques, wedges, and duplicate/reversed edges") {
    // K5: C(5,3) = 10 triangles; C(5,2) = 10 edges
    val k5 = for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)
    assert(tri(k5) == (5L, 10L, 10L))
    // a path and a star are triangle-free
    assert(tri((0L until 6L).map(i => (i, i + 1))) == (7L, 6L, 0L))
    assert(tri((1L until 8L).map(i => (0L, i))) == (8L, 7L, 0L))
    // duplicated and reversed edges must not double-count
    assert(tri(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L))) == (3L, 3L, 1L))
  }

  test("triangle census equals the naive ordered count on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val canon = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val edgeSet = canon.toSet
    val naive = (for {
      (a, b) <- canon; (c, d) <- canon
      if b == c && edgeSet.contains((a, d))
    } yield 1).size
    val (_, nE, nT) = tri(es)
    assert(nE == canon.size && nT == naive.toLong,
      s"oriented wedge count $nT must equal naive $naive")
  }

  private def lcc(es: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
    Dedup.localClustering(pairs(es)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  test("local clustering: complete graph is all-1, path is all-0") {
    val k4 = for (a <- 0L until 4L; b <- (a + 1) until 4L) yield (a, b)
    val rk4 = lcc(k4)
    assert(rk4.size == 4)
    assert(rk4.values.forall { case (deg, tri, m) => deg == 3 && tri == 3 && m == 1000000L },
      s"every K4 node sits on C(3,2)=3 triangles with LCC 1: $rk4")
    val path = lcc((0L until 5L).map(i => (i, i + 1)))
    assert(path.values.forall { case (_, tri, m) => tri == 0 && m == 0L })
    // degree-1 endpoints report 0 (undefined coefficient pinned to 0)
    assert(path(0L)._1 == 1 && path(5L)._1 == 1)
  }

  test("local clustering: triangle with a tail — hand numbers") {
    // triangle 1-2-3 plus tail 3-4
    val r = lcc(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(r(1L) == ((2L, 1L, 1000000L)))
    assert(r(2L) == ((2L, 1L, 1000000L)))
    // node 3: deg 3, 1 triangle of C(3,2)=3 wedges → 1/3 in floored micro
    assert(r(3L) == ((3L, 1L, 333333L)))
    assert(r(4L) == ((1L, 0L, 0L)))
  }

  test("local clustering: per-node triangles sum to 3x the census count " +
      "and match naive per-corner charging on a seeded random graph") {
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(140)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
    val canon = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val edgeSet = canon.toSet
    val triples = for {
      (a, b) <- canon; (c, d) <- canon
      if b == c && edgeSet.contains((a, d))
    } yield (a, b, d)
    val naivePer = triples.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
    val got = lcc(es)
    assert(got.values.map(_._2).sum == 3L * triples.size)
    got.foreach { case (v, (deg, tri, m)) =>
      assert(tri == naivePer.getOrElse(v, 0L), s"node $v triangle count")
      val expect = if (deg >= 2) 2L * tri * 1000000L / (deg * (deg - 1)) else 0L
      assert(m == expect, s"node $v lcc")
    }
  }
}
