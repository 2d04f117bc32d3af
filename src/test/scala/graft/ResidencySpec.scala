package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, Dedup, Graph, WordPiece}

/** The residency ledger (round-18 GC fix): pinned memo builds survive
  * [[Residency.sweep]], per-execution checkpoint scratch does not,
  * plain persists are left for CacheManager plan-match reuse, and
  * [[Spread.count]]'s floor binds on small inputs while leaf bytes
  * drive it on large ones. */
class ResidencySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    // no GC-driven cleanup: a checkpoint stays live until released, so
    // the census below counts exactly what each operator leaves behind
    .config("spark.cleaner.referenceTracking", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def liveCheckpointIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs
      .filter { case (_, r) => r.isCheckpointed }.keySet.toSet

  test("sweep drops unpinned checkpoint scratch, keeps pinned builds") {
    import spark.implicits._
    val pinnedDf = Residency.pinning(spark) {
      Seq(1, 2, 3).toDF("a").localCheckpoint()
    }
    val scratch = Seq(4, 5, 6).toDF("a").localCheckpoint()
    assert(scratch.count() == 3)
    val before = liveCheckpointIds
    assert(before.size >= 2)
    Residency.sweep(spark)
    val after = liveCheckpointIds
    assert(after.size < before.size, "scratch checkpoint must be swept")
    // the pinned frame still serves (its blocks survived the sweep)
    assert(pinnedDf.count() == 3)
  }

  test("sweep leaves plain persists alone (CacheManager reuse contract)") {
    import spark.implicits._
    val df = Seq(7, 8).toDF("a")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assert(df.count() == 2)
    Residency.sweep(spark)
    assert(df.storageLevel.useMemory, "un-checkpointed persist must survive")
    df.unpersist(blocking = true)
  }

  test("checkpoint release frees blocks once a successor materialized") {
    import spark.implicits._
    val prev = Seq(1L, 2L).toDF("v").localCheckpoint()
    val next = prev.select((org.apache.spark.sql.functions.col("v") + 1).as("v"))
      .localCheckpoint()
    org.apache.spark.sql.graft.CheckpointBridge.release(prev)
    // successor still fully served from its own blocks
    assert(next.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("Spread.count: floor binds on small inputs, leaf bytes scale it") {
    import spark.implicits._
    val floor = spark.sparkContext.defaultParallelism
    val small = Seq(1, 2, 3).toDF("a")
    assert(Spread.count(small) == floor)
    // spark.range stats = 8 bytes/row: 2^30 rows = 8 GiB of leaf bytes
    // -> 128 partitions at the 64 MB target (no execution happens)
    val big = spark.range(1L << 30).toDF("a")
    assert(Spread.count(big) == math.max(floor, 128))
  }

  test("iterative operators leave as many checkpoints after 6 rounds as after 2") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val directed = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val symmetric = directed.filter(p => p._1 != p._2).flatMap(p => Seq(p, p.swap)).distinct
    val edges = directed.toDF("src", "dst")
    val sym = symmetric.toDF("src", "dst")
    val weighted = symmetric.map { case (s, d) => (s, d, 1L + (s + d) % 3) }.toDF("src", "dst", "w")
    // a chain needs about as many propagation rounds as it has links
    def chain(n: Int) = (0L until n.toLong).map(i => (i, i + 1)).toDF("a", "b")
    val vocab = Bpe.vocabCensus(
      Seq("low low low lower newest newest newest widest wider wide").toDF("text"), col("text"))
    val ops: Seq[(String, Int => Any)] = Seq(
      "kCorePeel" -> (r => Graph.kCorePeel(sym.toDF("a", "b"), 3, r)),
      "pageRank" -> (r => Graph.pageRank(sym, r)),
      "pageRankPersonalized" -> (r =>
        Graph.pageRankPersonalized(sym, Seq(1L, 2L).toDF("node"), r)),
      "pageRank dangling" -> (r => Graph.pageRank(edges, r, danglingRedistribute = true)),
      "pageRankWeighted" -> (r => Graph.pageRankWeighted(weighted, r)),
      // k is capped at 4, so its levels run 1 and 3
      "kHopReach" -> (r => Graph.kHopReach(sym, k = math.min(r, 4))),
      "labelPropagate" -> (r => Graph.labelPropagate(sym, r)),
      "hits" -> (r => Graph.hits(edges, r)),
      "connectedComponents" -> (r => Dedup.connectedComponents(chain(r))),
      "connectedComponentsStar" -> (r => Dedup.connectedComponentsStar(chain(4 * r))),
      "Bpe.learnMerges" -> (r => Bpe.learnMerges(vocab, r)),
      "WordPiece.learnMerges" -> (r => WordPiece.learnMerges(vocab, r)))
    def leftBehind(op: Int => Any, rounds: Int): Int = {
      val before = liveCheckpointIds
      op(rounds)
      (liveCheckpointIds -- before).size
    }
    for ((name, op) <- ops)
      assert(leftBehind(op, 2) == leftBehind(op, 6), name)
  }
}
