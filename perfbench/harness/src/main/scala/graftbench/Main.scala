package graftbench

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.VectorDB
import graft.index.{HnswGraph, HnswIndex, HnswParams, IvfIndex, ProductQuantizer}
import graft.operators.{Dedup, MinHash}

/** Drives graft's public API for one benchmark run and writes raw
  * timings, results (for the correctness checks made in Python) and,
  * when traced, per-layer figures to `<workDir>/out.json`.
  *
  * Usage: Main <serve|dedup> <workDir> <seconds> <trace 0|1> <cpus>
  */
object Main {
  // Serving shape; the generator sizes the corpus to these.
  val NumCells = 16
  val Iters = 3
  val NProbe = 3
  val K = 10
  val PqSub = 8
  val PqCodes = 256
  val PqIters = 0
  val Refine = 4
  val Tau = 0.8
  // Operations the JVM runs untimed before the timed ones: the first
  // full-size rounds of each kind run 20-40% slower than later ones,
  // and vary more, as Spark's generated code and the JIT still warm up.
  val WarmFillQueries = 2
  val Batches = 5
  val WarmPasses = 2
  val DedupPasses = 5
  val Dims = 32
  val WarmQueries = 1000

  final class Run(val spark: SparkSession, val dir: String, val seconds: Double,
      val trace: Boolean) {
    val tel = new Telemetry(spark)
    val tracer = new Tracer(trace)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    def sample(name: String, v: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    def path(f: String): String = s"$dir/$f"
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dir, secondsArg, traceArg, cpusArg) = args
    val cpus = cpusArg.toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, dir, secondsArg.toDouble, traceArg == "1")
    try {
      workload match {
        case "serve" => Serve.run(run)
        case "dedup" => DedupRun.run(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run.out("samples") = run.samples
      run.out("attempted") = run.attempted
      run.out("phases") = run.tel.report
      if (run.trace) {
        run.out("layers") = run.layers
        run.out("span_self_s") = run.tracer.selfSeconds
        Json.toFile(Map("spans" -> run.tracer.rows), run.path("spans.json"))
      }
      Json.toFile(run.out, run.path("out.json"))
    } finally spark.stop()
  }

  /** Marks the end of set-up: everything before the first timed call. */
  def setupDone(run: Run): Unit =
    run.out("setup_done_epoch_ms") = System.currentTimeMillis()

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Reads `queries.f32` (little-endian float32, `Dims` per query)
    * with plain file IO, so opening the read set starts no Spark job. */
  def readQueries(run: Run): Array[(Long, Array[Float])] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(run.path("queries.f32")))
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
    Array.tabulate(buf.remaining() / Dims) { i =>
      val v = new Array[Float](Dims)
      buf.get(v)
      (i.toLong, v)
    }
  }

  def queryFrame(spark: SparkSession, queries: Array[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(queries.toSeq).toDF("qid", "qv")

  def hits(res: Seq[(Long, Double)]): Seq[Seq[Any]] = res.map { case (i, d) => Seq(i, d) }

  /** Rebuilds one cell's HNSW graphs from its index rows -- the same
    * reconstruction the driver-local cache performs -- so the traced
    * run can time routing and graph walks from outside the handle. */
  def cellGraphs(index: Dataset[HnswIndex.IndexRow], c: Int,
      params: HnswParams): Seq[(Array[Long], HnswGraph)] = {
    val rows = index.filter(col("part") === c).collect()
    rows.groupBy(_.sub).toSeq.sortBy(_._1).map { case (_, rs) =>
      val sorted = rs.sortBy(_.vector_id)
      val ids = sorted.map(_.vector_id)
      val ordOf = ids.zipWithIndex.toMap
      val vecs: IndexedSeq[Array[Float]] = sorted.toIndexedSeq.map(_.vec)
      val adj = sorted.toIndexedSeq.map(_.layers.map(_.map(ordOf)))
      (ids, HnswGraph.fromAdjacency(params, vecs, adj))
    }
  }

  /** Traced-only: the route and graph-walk costs of point queries,
    * timed around `IvfIndex.Model.probeOrder` and `HnswGraph.searchEf`
    * on graphs rebuilt from the index rows, with exact distance-eval
    * counts from `HnswGraph.distEvals`. */
  def routeAndWalk(run: Run, model: IvfIndex.Model, index: Dataset[HnswIndex.IndexRow],
      queries: Array[(Long, Array[Float])], params: HnswParams): Unit = {
    val graphs = mutable.Map.empty[Int, Seq[(Array[Long], HnswGraph)]]
    val ef = math.max(params.efConstruction, K)
    var routeNs = 0L
    var walkNs = 0L
    var evals = 0L
    var n = 0
    for (pass <- 0 until 3; (qid, q) <- queries) {
      val t0 = now()
      val probes = run.tracer.span("IvfIndex.probeOrder", qid)(model.probeOrder(q).take(NProbe))
      val t1 = now()
      val cells = probes.map(c => graphs.getOrElseUpdate(c, cellGraphs(index, c, params)))
      var w = 0L
      cells.foreach(_.foreach { case (_, g) =>
        val e0 = g.distEvals
        val s = now()
        run.tracer.span("HnswGraph.searchEf", qid)(g.searchEf(q, K, ef))
        w += now() - s
        if (pass == 2) evals += g.distEvals - e0
      })
      if (pass == 2) { routeNs += t1 - t0; walkNs += w; n += 1 }
    }
    run.layers("route_us") = routeNs / 1e3 / n
    run.layers("walk_us") = walkNs / 1e3 / n
    run.layers("dist_evals_per_query") = evals.toDouble / n
  }

  /** Traced-only: the first read pass after a build, split per cell
    * load. Each cell a query touches first costs one Spark job; the
    * time of queries that loaded cells is charged to those cells. */
  def fillBreakdown(run: Run, loadNs: Long, cellsLoaded: Long, prefix: String = ""): Unit = {
    run.layers(prefix + "cells_loaded") = cellsLoaded.toDouble
    run.layers(prefix + "cell_load_ms") =
      if (cellsLoaded == 0) 0.0 else loadNs / 1e6 / cellsLoaded
  }

  /** Point queries through `searchLocal`, one client, closed loop.
    * Returns per-query latencies (ns) and the last pass's results. */
  def pointPass(run: Run, db: VectorDB, queries: Array[(Long, Array[Float])],
      wrapped: Array[Seq[Float]], traced: Boolean): (Array[Long], Array[Seq[(Long, Double)]]) = {
    val lat = new Array[Long](queries.length)
    val res = new Array[Seq[(Long, Double)]](queries.length)
    var i = 0
    while (i < queries.length) {
      val t0 = now()
      res(i) =
        if (traced) run.tracer.span("VectorDB.searchLocal", queries(i)._1)(db.searchLocal(wrapped(i), K))
        else db.searchLocal(wrapped(i), K)
      lat(i) = now() - t0
      i += 1
    }
    run.attempted += queries.length
    (lat, res)
  }

  /** The fill pass: the first `searchLocal` over the read set after a
    * build or upsert. Reports the pass time, and in traced runs the
    * number of cells loaded (one job each) and the time charged to them. */
  def fillPass(run: Run, db: VectorDB, queries: Array[(Long, Array[Float])],
      wrapped: Array[Seq[Float]]): (Double, Long, Long) = {
    if (!run.trace) {
      val t0 = now()
      pointPass(run, db, queries, wrapped, traced = false)
      return (secs(t0, now()), 0L, 0L)
    }
    var loadNs = 0L
    var loaded = 0L
    var total = 0L
    var jobs = run.tel.jobsSoFar()
    var i = 0
    while (i < queries.length) {
      val t0 = now()
      run.tracer.span("VectorDB.searchLocal", queries(i)._1)(db.searchLocal(wrapped(i), K))
      val dt = now() - t0
      total += dt
      val j = run.tel.jobsSoFar()
      if (j > jobs) { loadNs += dt; loaded += j - jobs; jobs = j }
      i += 1
    }
    run.attempted += queries.length
    (total / 1e9, loaded, loadNs)
  }

  /** Loops whole point passes until `budget` seconds have gone (at
    * least `minPasses`), after untimed warm-up passes. In traced runs
    * it alternates traced and untraced passes; with `overhead` it also
    * records the tracing overhead on the median latency. */
  def pointLoop(run: Run, db: VectorDB, queries: Array[(Long, Array[Float])],
      wrapped: Array[Seq[Float]], budget: Double, minPasses: Int,
      metric: String, overhead: Boolean = true): Array[Seq[(Long, Double)]] = {
    // untimed passes first, until the point path has run WarmQueries
    // times, so the timed passes see compiled code
    var warmed = 0
    while (warmed < WarmQueries) {
      pointPass(run, db, queries, wrapped, traced = false)
      warmed += queries.length
    }
    val start = now()
    var passes = 0
    var last: Array[Seq[(Long, Double)]] = null
    val plain = mutable.ArrayBuffer.empty[Long]
    val traced = mutable.ArrayBuffer.empty[Long]
    while (passes < minPasses || secs(start, now()) < budget) {
      val withSpans = run.trace && passes % 2 == 1
      val (lat, res) = pointPass(run, db, queries, wrapped, withSpans)
      lat.foreach(l => run.sample(metric, l / 1e6))
      if (withSpans) traced ++= lat else plain ++= lat
      last = res
      passes += 1
    }
    if (overhead && run.trace && traced.nonEmpty) {
      def med(xs: Seq[Long]) = { val s = xs.sorted; s(s.length / 2).toDouble }
      run.layers("trace_overhead_pct") = (med(traced.toSeq) / med(plain.toSeq) - 1.0) * 100.0
    }
    last
  }
}

object Serve {
  import Main._

  /** One corpus through an index's life. An untimed warm-up round takes
    * every path the timed part takes once: build, fill, a batch, a small
    * upsert and the read pass after it. Then, timed: a build and its fill
    * pass; warm point passes and batches on that build; and one upsert
    * (remove, then add) on that served handle,
    * followed by its first read pass and untimed checks. Traced runs then
    * time the index layer's calls and serve the corpus from an IVF-PQ
    * handle. */
  def run(run: Run): Unit = {
    val spark = run.spark
    val corpus = spark.read.parquet(run.path("corpus.parquet"))
    val db = VectorDB.fromDataFrame(corpus, Dims)
    db.nprobe = NProbe
    val queries = readQueries(run)
    val wrapped = queries.map(q => ArraySeq.unsafeWrapArray(q._2): Seq[Float])
    val qdf = queryFrame(spark, queries)
    val Seq(warmRemoval, warmAddition, removal, addition) =
      Seq("remove_warm", "add_warm", "remove", "add").map(f => spark.read.parquet(run.path(s"$f.parquet")))
    setupDone(run)

    run.tel.phase("warmup_build") {
      run.tracer.span("VectorDB.buildIndexIvf", 0)(db.buildIndexIvf(NumCells, Iters).count())
    }
    // the read passes of the warm-up round load only the cells their
    // first queries probe: the first loads of a JVM carry its one-time cost
    val (warmQ, warmW) = (queries.take(WarmFillQueries), wrapped.take(WarmFillQueries))
    run.tel.phase("warmup_fill")(fillPass(run, db, warmQ, warmW))
    run.tel.phase("warmup_batch")(db.searchBatch(qdf, K).collect())
    val warmUp = run.tel.phase("warmup_upsert")(upsert(run, db, warmRemoval, warmAddition, 0))
    run.tel.phase("warmup_refill")(fillPass(run, warmUp, warmQ, warmW))
    run.attempted += 3

    val t0 = now()
    run.tel.phase("build") {
      run.tracer.span("VectorDB.buildIndexIvf", 1)(db.buildIndexIvf(NumCells, Iters).count())
    }
    val build = secs(t0, now())
    val (fill, loaded, loadNs) = run.tel.phase("fill")(fillPass(run, db, queries, wrapped))
    run.attempted += 1
    run.sample("build_s", build)
    run.sample("fill_s", fill)
    if (run.trace) fillBreakdown(run, loadNs, loaded)
    val local = run.tel.phase("point") {
      pointLoop(run, db, queries, wrapped, run.seconds * 0.1, 3, "op_ms")
    }
    // the warm-up round's batch has warmed this path
    val batch = batches(run, "rate_per_s", 0, Batches,
      "VectorDB.searchBatch", queries.length, db.searchBatch(qdf, K).collect())

    // exhaustive settings: every cell probed, beam wider than any cell
    val rows = db.len.toInt
    db.nprobe = NumCells
    db.efSearch = rows
    val exhaustive = queries.indices.filter(_ % 10 == 0)
      .map(i => Seq(i, hits(db.searchLocal(wrapped(i), K))))
    db.nprobe = NProbe
    db.efSearch = -1

    // the upsert, on the handle just served, and its first read pass
    val u0 = now()
    val up = run.tel.phase("upsert")(upsert(run, db, removal, addition, 1))
    val u1 = now()
    val (refill, _, _) = run.tel.phase("refill")(fillPass(run, up, queries, wrapped))
    run.attempted += 1
    val addRows = addition.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val changed = addRows.length + removal.count()
    run.sample("upsert_s", secs(u0, u1))
    run.sample("refill_s", refill)
    run.sample("upsert_rows_per_s", changed / secs(u0, u1))
    run.sample("ready_s", build + fill + secs(u0, u1) + refill)
    val after = pointPass(run, up, queries, wrapped, traced = false)._2
    // checks, untimed: self-queries at exhaustive beam width, and len
    val len = up.len
    up.efSearch = len.toInt
    val self = addRows.map { case (id, v) =>
      val top = up.searchLocal(ArraySeq.unsafeWrapArray(v), 1)
      Seq(id, top.headOption.map(_._1).getOrElse(-1L), top.headOption.map(_._2).getOrElse(-1.0))
    }
    run.out("results") = Map(
      "local" -> local.map(hits),
      "batch" -> batchHits(batch, queries.length),
      "exhaustive" -> exhaustive,
      "upsert" -> Map("local" -> after.map(hits), "self" -> self.toSeq, "len" -> len))
    if (run.trace) {
      traceIndex(run, db, queries, removal, addition)
      servePq(run, db, queries, wrapped, qdf)
    }
  }

  /** `remove` then `add` on `db`; the maintained index is materialized
    * by `add`. */
  def upsert(run: Run, db: VectorDB, removal: DataFrame, addition: DataFrame, op: Int): VectorDB =
    run.tracer.span("VectorDB.upsert", op) {
      val removed = run.tracer.span("VectorDB.remove", op)(db.remove(removal))
      run.tracer.span("VectorDB.add", op)(removed.add(addition))
    }

  /** IVF-PQ on the same handle (the build replaces the HNSW index). */
  def servePq(run: Run, db: VectorDB, queries: Array[(Long, Array[Float])],
      wrapped: Array[Seq[Float]], qdf: DataFrame): Unit = {
    val p0 = now()
    run.tel.phase("pq_build") {
      run.tracer.span("VectorDB.buildIndexPq", 0) {
        db.buildIndexPq(NumCells, Iters, PqSub, PqCodes, PqIters).count()
      }
    }
    run.sample("pq_build_s", secs(p0, now()))
    val (pqFill, pqLoaded, pqLoadNs) = run.tel.phase("pq_fill")(fillPass(run, db, queries, wrapped))
    run.sample("pq_fill_s", pqFill)
    fillBreakdown(run, pqLoadNs, pqLoaded, "pq_")
    val pqLocal = run.tel.phase("pq_point") {
      // millisecond PQ queries would dilute the span cost: the overhead
      // stays the one measured on the IVF-HNSW loop
      pointLoop(run, db, queries, wrapped, 0.0, 2, "pq_op_ms", overhead = false)
    }
    val refined = batches(run, "pq_rate_per_s", 1, 1, "VectorDB.searchBatchRefined",
      queries.length, db.searchBatchRefined(qdf, K, Refine).collect(), "pq_batch")
    // the distributed ADC path, for the local-equals-distributed check
    val adc = db.searchBatch(qdf, K).collect()
    tracePq(run, db)
    run.out("results") = run.out("results").asInstanceOf[Map[String, Any]] ++ Map(
      "pq_local" -> pqLocal.map(hits),
      "adc_batch" -> batchHits(adc, queries.length),
      "refined" -> batchHits(refined, queries.length))
  }

  /** `timed` batches after `warm` untimed ones; samples queries per
    * second per batch. A fixed count, so every run attempts the same
    * operations. Traced PQ runs also record the rows the ADC scoring
    * join emitted. */
  def batches(run: Run, metric: String, warm: Int, timed: Int, span: String, n: Int,
      call: => Array[org.apache.spark.sql.Row],
      phase: String = "batch"): Array[org.apache.spark.sql.Row] = {
    for (_ <- 0 until warm) { run.tel.phase(phase + "_warmup")(call); run.attempted += 1 }
    var b = 0
    var last: Array[org.apache.spark.sql.Row] = null
    while (b < timed) {
      val t0 = now()
      last = run.tel.phase(phase)(run.tracer.span(span, b)(call))
      run.sample(metric, n / secs(t0, now()))
      run.attempted += 1
      b += 1
    }
    if (run.trace && phase == "pq_batch")
      run.layers("batch_rows_scored") = run.tel.report(phase)("join_rows") / b
    last
  }

  def batchHits(rows: Array[org.apache.spark.sql.Row], n: Int): Seq[Seq[Seq[Any]]] = {
    val byQ = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
      r.getAs[Long]("vec_id"), r.getAs[Double]("dist"))).groupBy(_._1)
    (0 until n).map { q =>
      byQ.getOrElse(q.toLong, Array.empty).sortBy(_._2).map(t => Seq(t._3, t._4)).toSeq
    }
  }

  /** Traced-only: `buildIndexIvf` decomposed into the index layer's
    * calls (train, assign, per-cell graph build), then route/walk, then
    * the maintenance calls behind `remove`/`add` made directly on that
    * index with the timed upsert's batch, and the cells the batch
    * touches. */
  def traceIndex(run: Run, db: VectorDB, queries: Array[(Long, Array[Float])],
      removal: DataFrame, addition: DataFrame): Unit =
    run.tel.phase("trace_index") {
      val src = db.vectors
      val t0 = now()
      val m = run.tracer.span("IvfIndex.train", 0)(IvfIndex.train(src, NumCells, Iters))
      run.layers("ivf_train_s") = secs(t0, now())
      val t1 = now()
      val parted = run.tracer.span("IvfIndex.assign", 0) {
        val p = IvfIndex.assign(src, m).withColumn("part", col("cell"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        p.count(); p
      }
      run.layers("ivf_assign_s") = secs(t1, now())
      val t2 = now()
      val idx = run.tracer.span("HnswIndex.build", 0) {
        val i = HnswIndex.build(parted, db.params).persist(StorageLevel.MEMORY_AND_DISK)
        i.count(); i
      }
      run.layers("hnsw_build_s") = secs(t2, now())
      routeAndWalk(run, m, idx, queries, db.params)

      val added = IvfIndex.assign(addition, m).withColumn("part", col("cell"))
      val cellsRm = idx.join(broadcast(removal.select(col("vec_id").as("vector_id"))), "vector_id")
        .select("part").distinct().collect().map(_.getInt(0)).toSet
      val cellsAdd = added.select("part").distinct().collect().map(_.getInt(0)).toSet
      run.layers("cells_touched_per_round") = (cellsRm ++ cellsAdd).size.toDouble
      val s0 = now()
      val afterRm = run.tracer.span("HnswIndex.removeBatch", 0) {
        val i = HnswIndex.removeBatch(idx, removal, db.params).persist(StorageLevel.MEMORY_AND_DISK)
        i.count(); i
      }
      val s1 = now()
      val afterAdd = run.tracer.span("HnswIndex.addBatch", 0) {
        val i = HnswIndex.addBatch(afterRm, added, db.params).persist(StorageLevel.MEMORY_AND_DISK)
        i.count(); i
      }
      run.layers("maintain_remove_s") = secs(s0, s1)
      run.layers("maintain_add_s") = secs(s1, now())
      afterAdd.unpersist(); afterRm.unpersist(); idx.unpersist(); parted.unpersist()
    }

  /** Traced-only: the PQ build's training calls, and PQ routing. */
  def tracePq(run: Run, db: VectorDB): Unit =
    run.tel.phase("trace_index") {
      val src = db.vectors
      val t0 = now()
      run.tracer.span("IvfIndex.train", 1)(IvfIndex.train(src, NumCells, Iters))
      run.layers("pq_router_train_s") = secs(t0, now())
      val t1 = now()
      run.tracer.span("ProductQuantizer.train", 0)(ProductQuantizer.train(src, PqSub, PqCodes, PqIters))
      run.layers("pq_train_s") = secs(t1, now())
    }
}

object DedupRun {
  import Main._

  /** Cold dedup passes over unseen shards: shingling and LSH with exact
    * verify (`MinHash.lshDedup`), then `Dedup.connectedComponents` and
    * `Dedup.exactDupGroups`. The session cache is cleared between
    * passes, so no pass reuses another's cached tables. */
  def run(run: Run): Unit = {
    val spark = run.spark
    val shards = Iterator.from(0).takeWhile(s =>
      new java.io.File(run.path(s"shard_$s.parquet")).exists())
      .map(s => spark.read.parquet(run.path(s"shard_$s.parquet"))).toIndexedSeq
    setupDone(run)

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var p = 0
    // WarmPasses untimed passes, then DedupPasses timed ones, each over
    // an unseen shard
    while (p < WarmPasses + DedupPasses) {
      spark.catalog.clearCache()
      val docs = shards(p)
      val t0 = now()
      val (pairs, pairRows) = run.tel.phase("lsh") {
        run.tracer.span("MinHash.lshDedup", p) {
          val ck = MinHash.lshDedup(docs, Tau).localCheckpoint()
          (ck, ck.collect())
        }
      }
      val t1 = now()
      val comps = run.tel.phase("cc") {
        run.tracer.span("Dedup.connectedComponents", p)(Dedup.connectedComponents(pairs).collect())
      }
      val t2 = now()
      val groups = run.tel.phase("exact") {
        run.tracer.span("Dedup.exactDupGroups", p)(Dedup.exactDupGroups(docs).collect())
      }
      val t3 = now()
      org.apache.spark.sql.graft.CheckpointBridge.release(pairs)
      run.attempted += 1
      if (p >= WarmPasses) {
        run.sample("ready_s", secs(t0, t3))
        run.sample("op_ms", secs(t0, t1) * 1e3)
        run.sample("rate_per_s", docs.count() / secs(t0, t1))
        run.sample("lsh_s", secs(t0, t1))
        run.sample("cc_s", secs(t1, t2))
        run.sample("exact_groups_s", secs(t2, t3))
      }
      passes += Map(
        "shard" -> p,
        "pairs" -> pairRows.map(r => Seq(r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
        "components" -> comps.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq,
        "groups" -> groups.map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
      p += 1
    }
    run.out("results") = Map("passes" -> passes)
    if (run.trace) traceStages(run, shards, p)
  }

  /** Traced-only: the pipeline's stages timed one by one on fresh
    * shards -- shingling, hashing + signatures, LSH candidates against
    * verified pairs, and the rounds of the components loop. */
  def traceStages(run: Run, shards: IndexedSeq[DataFrame], used: Int): Unit = {
    val spark = run.spark
    val n = math.min(3, shards.length)
    var sh = 0.0; var sig = 0.0; var cand = 0L; var ver = 0L; var ccJobs = 0L
    var lsh = 0.0; var cc = 0.0
    for (s <- 0 until n) {
      spark.catalog.clearCache()
      val docs = shards(s)
      val shingled = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      val t0 = now()
      run.tracer.span("Dedup.shingles", s)(shingled.agg(sum(size(col("sh")))).collect())
      val t1 = now()
      run.tracer.span("MinHash.signature", s) {
        shingled.select(MinHash.signature(transform(col("sh"), x => MinHash.polyHash(x))).as("sig"))
          .agg(sum(element_at(col("sig"), 1))).collect()
      }
      val t2 = now()
      cand += run.tracer.span("MinHash.estimatePairs", s)(MinHash.estimatePairs(docs).count())
      spark.catalog.clearCache()
      val t3 = now()
      val pairs = run.tracer.span("MinHash.lshDedup", s)(MinHash.lshDedup(docs, Tau).localCheckpoint())
      val t4 = now()
      ver += pairs.count()
      val j0 = run.tel.jobsSoFar()
      val t5 = now()
      run.tracer.span("Dedup.connectedComponents", s)(Dedup.connectedComponents(pairs).collect())
      val t6 = now()
      ccJobs += run.tel.jobsSoFar() - j0
      if (s > 0) { sh += secs(t0, t1); sig += secs(t1, t2); lsh += secs(t3, t4); cc += secs(t5, t6) }
    }
    val timed = math.max(1, n - 1)
    run.layers("shingle_s") = sh / timed
    run.layers("signature_s") = sig / timed
    run.layers("lsh_s") = lsh / timed
    run.layers("cc_s") = cc / timed
    run.layers("lsh_candidates") = cand.toDouble / n
    run.layers("lsh_verified") = ver.toDouble / n
    run.layers("lsh_verified_ratio") = ver.toDouble / math.max(1L, cand)
    run.layers("cc_rounds") = ccJobs.toDouble / n
    val ex = run.samples.getOrElse("exact_groups_s", Seq(0.0))
    run.layers("exact_groups_s") = ex.sorted.apply(ex.length / 2)
  }
}
