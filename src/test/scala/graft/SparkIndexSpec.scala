package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{HnswIndex, HnswParams}
import graft.operators.Knn

/** Distributed index tests over the sf0.001 fixture: the reference's
  * mmap/self-query test (`/root/reference/src/lib.rs:516-550`) plus the
  * recall@k gate SURVEY.md §5 calls for (the correctness metric the
  * reference implies but never measures). */
class SparkIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val P = HnswParams(16, 32)

  /** Messages down the cause chain (executor-side guard errors arrive
    * wrapped in SparkException layers). */
  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  test("open + len + dimension validation (ref src/lib.rs:319-333, 350-352)") {
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64)
    assert(db.len == 500L)
    db.validate() // all-valid corpus passes the eager check
    // open is pay-as-you-go (no validation job): a wrong-dims open
    // succeeds, the eager check throws, and the fused guard fires at
    // the first action that evaluates the vector column
    val lazyBad = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 128)
    val eager = intercept[IllegalArgumentException](lazyBad.validate())
    assert(eager.getMessage.contains("dimension mismatch"))
    val guard = intercept[Exception](lazyBad.search(Seq.fill(128)(0f), 1).collect())
    assert(messages(guard).exists(_.contains("dimension mismatch")),
      s"expected the fused guard to fire on first evaluation: ${messages(guard)}")
  }

  test("ingest append validates dimensions per batch (ref src/lib.rs:62-72)") {
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64)
    val good = spark.range(1).select(lit(9999L).as("vec_id"),
      array_repeat(lit(0.5f), 64).as("embedding"))
    assert(db.add(good).len == 501L)
    db.add(good).validate()
    val badRows = spark.range(1).select(lit(10000L).as("vec_id"),
      array_repeat(lit(0.5f), 32).as("embedding"))
    // add launches no job; the bad batch rejects eagerly via validate()
    // or at the first action through the fused guard
    val grown = db.add(badRows)
    val e = intercept[IllegalArgumentException](grown.validate())
    assert(e.getMessage.contains("dimension mismatch"))
    val g = intercept[Exception](grown.search(Seq.fill(64)(0f), 1).collect())
    assert(messages(g).exists(_.contains("dimension mismatch")),
      s"expected the fused guard to fire on first evaluation: ${messages(g)}")
    assert(db.len == 500L, "a rejected batch must not mutate the table")
  }

  test("remove drops ids through the public handle without mutating the source") {
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64)
    val ids = spark.range(10).select((col("id") * 7).as("vec_id"))
    val shrunk = db.remove(ids)
    assert(shrunk.len == 490L)
    assert(db.len == 500L, "remove must not mutate the source handle")
    // absent ids are a no-op (idempotent removal)
    assert(shrunk.remove(ids).len == 490L)
    val gone = shrunk.search(Seq.fill(64)(0f), 500)
      .collect().map(_.getLong(0)).toSet
      .intersect((0 until 10).map(_ * 7L).toSet)
    assert(gone.isEmpty, s"removed ids still served: $gone")
  }

  test("self-query invariant through the full index (ref src/lib.rs:546-549)") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = HnswIndex.build(e.withColumn("part", col("label")), P)
    val queries = e.filter(col("vec_id").isin(5L, 123L, 400L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val hits = HnswIndex.search(idx, queries, k = 1, P).collect()
    assert(hits.length == 3)
    hits.foreach { r =>
      assert(r.getAs[Long]("vector_id") == r.getAs[Long]("qid"), s"self-query miss: $r")
      assert(r.getAs[Double]("dist") < 1e-4)
    }
  }

  test("every cell's layer-0 graph is one connected component (exhaustive-ef exactness precondition)") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val byCell = e.select(col("label"), col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Int, Long, Array[Float])].collect()
      .groupBy(_._1)
    byCell.foreach { case (cell, rows) =>
      val sorted = rows.sortBy(_._2)
      val vecs: IndexedSeq[Array[Float]] = sorted.map(_._3).toIndexedSeq
      val ids = sorted.map(_._2)
      val g = graft.index.HnswGraph.build(P, vecs,
        ord => graft.index.Hnsw.levelFor(ids(ord), P.mL))
      assert(g.layer0Components == 1,
        s"cell $cell layer-0 graph has ${g.layer0Components} components — " +
          "degree-cap pruning orphaned nodes; q_ann_hnsw's oracle assumption breaks")
    }
  }

  test("index degree caps hold after pruning (ref src/lib.rs:271-290)") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = HnswIndex.build(e.withColumn("part", col("label")), P)
    val viol = idx.toDF()
      .select(posexplode(col("layers")).as(Seq("layer", "nbrs")))
      .filter(
        (col("layer") === 0 && size(col("nbrs")) > P.mMax0) ||
        (col("layer") > 0 && size(col("nbrs")) > P.mEff))
      .count()
    assert(viol == 0L, s"$viol adjacency lists exceed their degree cap")
  }

  test("cosine ANN via L2 graph on normalized vectors matches exact cosine ranking") {
    import graft.functions.VectorFunctions._
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val normed = e.select(col("vec_id"), l2Normalize(col("embedding")).as("embedding"), col("label"))
    val idx = HnswIndex.build(normed.withColumn("part", col("label")), P)
    val queries = normed.filter(col("vec_id").isin(3L, 77L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // exhaustive ef -> exact L2 top-5 on normalized vectors
    val viaGraph = HnswIndex.search(idx, queries, k = 5, P, efSearch = 4096)
      .select("qid", "rank", "vector_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).zip(
        HnswIndex.search(idx, queries, k = 5, P, efSearch = 4096)
          .select("vector_id").collect().map(_.getLong(0))).map { case ((q, r), v) => (q, r, v) }.toSet
    // exact cosine top-5 on the raw vectors (descending similarity)
    val exact = queries.collect().flatMap { qr =>
      val qid = qr.getLong(0)
      Knn.searchKnnById(e, qid, k = 5, metric = Knn.Cosine).collect()
        .zipWithIndex.map { case (r, i) => (qid, i + 1, r.getLong(0)) }
    }.toSet
    assert(viaGraph == exact,
      s"normalized-L2 ranking must equal cosine ranking:\n$viaGraph\nvs\n$exact")
  }

  test("index save/load round-trip serves identical results") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = HnswIndex.build(e.withColumn("part", col("label")), P)
    val path = java.nio.file.Files.createTempDirectory("graft_idx").toString + "/hnsw"
    HnswIndex.save(idx, path)
    val loaded = HnswIndex.load(spark, path)
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val fresh = HnswIndex.search(idx, queries, k = 5, P).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val served = HnswIndex.search(loaded, queries, k = 5, P).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served == fresh, "persisted index must serve the same hits")
  }

  test("VectorDB save/load restores router + knobs and launches no corpus-scale job") {
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    db.buildIndexIvf(numCells = 4, iters = 1)
    db.nprobe = 2
    db.efSearch = 4096
    val qv = Seq.tabulate(64)(i => (i % 7) / 10.0f)
    val before = db.search(qv, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val path = java.nio.file.Files.createTempDirectory("graft_vdb_spec").toString
    db.save(path)
    // a restart must NOT re-aggregate the corpus: the only data load
    // reads is the O(#cells·d) router table (plus parquet footers) —
    // count task input records across every job load launches
    val recs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          recs.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val loaded =
      try {
        val l = VectorDB.load(spark, path)
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
        l
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(recs.get() < 100,
      s"load read ${recs.get()} records — a restart must not re-aggregate the corpus (500 rows)")
    assert(loaded.nprobe == 2 && loaded.efSearch == 4096,
      "serving knobs must survive the restart")
    val after = loaded.search(qv, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before, s"restart changed served results:\n$before\nvs\n$after")

    // cosine metric survives too: a cosine handle must keep cosine
    // ranking semantics across save/load
    val cdb = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    cdb.buildIndexIvf(numCells = 4, iters = 1, metric = Knn.Cosine)
    cdb.efSearch = 4096
    cdb.nprobe = 4
    val cpath = java.nio.file.Files.createTempDirectory("graft_vdb_spec_cos").toString
    cdb.save(cpath)
    val cBefore = cdb.search(qv, 5).collect().map(_.getLong(0)).toSeq
    val cAfter = VectorDB.load(spark, cpath).search(qv, 5).collect().map(_.getLong(0)).toSeq
    assert(cAfter == cBefore, "cosine serving must survive the restart")
  }

  test("searchWhere filters on payload attributes through ANN, exact, and compressed arms") {
    import org.apache.spark.sql.functions.element_at
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    db.buildIndexIvf(numCells = 4, iters = 1, payloadCols = Seq("label"))
    db.efSearch = 4096
    db.nprobe = 4
    val qv = Seq.tabulate(64)(i => (i % 5) / 10.0f)
    val pred = element_at(col("payload"), "label").cast("int") === 2
    val ann = db.searchWhere(qv, 5, pred).collect().map(_.getLong(0)).toSeq
    assert(ann.nonEmpty)
    val label2 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("label") === 2).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ann.forall(label2.contains), s"a wrong-label row surfaced: $ann")
    // remove-derived handles now MAINTAIN the index incrementally — a
    // no-op removal serves the identical ANN answer through the
    // carried index
    val removed = db.remove(spark.range(1).select(lit(-1L).as("vec_id"))) // no-op removal
    assert(removed.hasIndex, "remove must maintain the index, not drop it")
    val kept = removed.searchWhere(qv, 5, pred).collect().map(_.getLong(0)).toSeq
    assert(kept == ann,
      s"maintained-index payload filtering must equal the parent's:\n$ann\nvs\n$kept")
    // compressed serving packs the payload map into its codes rows at
    // build: an SQ handle built WITH payloadCols serves searchWhere,
    // and a remove-derived compressed handle keeps serving ADC through
    // its MAINTAINED codes (no silent downgrade to brute force)
    val pdb = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    pdb.buildIndexSq(numCells = 4, routerIters = 1, payloadCols = Seq("label"))
    pdb.nprobe = 4
    val adc = pdb.searchWhere(qv, 5, pred).collect().map(_.getLong(0)).toSeq
    assert(adc.nonEmpty && adc.forall(label2.contains),
      s"a wrong-label row surfaced from the codes payload: $adc")
    val prunedH = pdb.remove(spark.range(1).select(lit(-1L).as("vec_id")))
    assert(!prunedH.hasIndex && prunedH.servedCodes.isDefined,
      "remove on a compressed handle must maintain the codes, not degrade to exact")
    assert(prunedH.stats.head().getAs[String]("serving") == "sq",
      "the derived handle's census must still report compressed serving")
    val pruned = prunedH.searchWhere(qv, 5, pred).collect().map(_.getLong(0)).toSeq
    assert(pruned == adc,
      s"maintained-codes payload filtering must equal the parent's:\n$adc\nvs\n$pruned")
    // id predicates on codes still work
    assert(pdb.searchWhere(qv, 5, col("vector_id") % 2 === 0)
      .collect().forall(_.getLong(0) % 2 == 0))
    // a payload predicate against codes built WITHOUT payloads matches
    // nothing (empty map, same as the exact arm) rather than guessing
    val cdb = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    cdb.buildIndexSq(numCells = 4, routerIters = 1)
    cdb.nprobe = 4
    assert(cdb.searchWhere(qv, 5, pred).collect().isEmpty)
  }

  test("as-of join: null before first right row, same-instant right row matches") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    val left = Seq((1L, 100L, 10L), (1L, 200L, 11L), (2L, 50L, 12L))
      .toDF("k", "ts", "lid")
    // tieBreak column ("lid" here) must exist on both sides — it is the
    // shared within-timestamp ordering (both sides' own event id)
    val right = Seq((1L, 100L, 900L), (1L, 150L, 901L))
      .toDF("k", "ts", "lid").withColumn("payload", col("lid"))
    val out = AsOfJoin.asOf(left, right, "k", "ts", "payload", "lid")
      .collect().map(r => (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(out(10L) == Some(900L), "same-instant right row must match (<= semantics)")
    assert(out(11L) == Some(901L), "latest prior right row wins")
    assert(out(12L) == None, "no prior right row -> null")
  }

  test("addBatch rebuilds only dirty cells and serves the new vectors") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = HnswIndex.build(e.withColumn("part", col("label")), P)
    val before3 = idx.filter(col("part") === 3).collect().map(r => (r.vector_id, r.layers.map(_.toSeq).toSeq)).toSet
    val adds = spark.range(3).select(
      lit(5).as("part"),
      (col("id") + 1000L).as("vec_id"),
      array_repeat((col("id") + 1).cast("float") / 10f, 64).as("embedding"))
    val idx2 = HnswIndex.addBatch(idx, adds, P)
    assert(idx2.count() == 503L)
    val after3 = idx2.filter(col("part") === 3).collect().map(r => (r.vector_id, r.layers.map(_.toSeq).toSeq)).toSet
    assert(after3 == before3, "untouched cell must pass through byte-identical")
    // the new vector is findable through the updated index
    val q = Seq((1000L, Array.fill(64)(0.1f))).toDF("qid", "qv")
    val hit = HnswIndex.search(idx2, q, k = 1, P).collect()(0)
    assert(hit.getAs[Long]("vector_id") == 1000L && hit.getAs[Double]("dist") < 1e-9)
  }

  test("add/remove maintain the index incrementally through the handle") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    db.buildIndexIvf(numCells = 4, iters = 1)
    db.efSearch = 8192
    db.nprobe = 4
    val qv = e.filter(col("vec_id") === 7L)
      .select("embedding").head().getSeq[Float](0).toSeq
    // add a shifted twin of row 7: the grown handle must surface BOTH
    // zero-distance rows through its maintained index
    val grown = db.add(e.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding")))
    assert(grown.hasIndex, "add must maintain the index, not drop it")
    val top = grown.search(qv, 2).collect().map(_.getLong(0)).toSeq
    assert(top == Seq(7L, 9007L),
      s"the added twin must serve from the maintained index: $top")
    // remove row 7: it must disappear from ANN serving
    val shrunk = db.remove(e.filter(col("vec_id") === 7L).select("vec_id"))
    assert(shrunk.hasIndex, "remove must maintain the index, not drop it")
    val after = shrunk.search(qv, 5).collect().map(_.getLong(0)).toSeq
    assert(!after.contains(7L), s"removed row still served: $after")
    // a cosine handle's additions are unit-normalized before they
    // enter the unit-space graph — the twin must still serve at
    // cosine distance 0
    val cdb = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    cdb.buildIndexIvf(numCells = 4, iters = 1, metric = Knn.Cosine)
    cdb.efSearch = 8192
    cdb.nprobe = 4
    val cGrown = cdb.add(e.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding")))
    assert(cGrown.hasIndex)
    val cTop = cGrown.search(qv, 2).collect().map(_.getLong(0)).toSeq
    assert(cTop == Seq(7L, 9007L),
      s"cosine maintained-add must serve the unit-normalized twin: $cTop")
  }

  test("upsert replaces by id through the maintained index; searchRange matches the scan") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    db.buildIndexIvf(numCells = 4, iters = 1)
    db.efSearch = 8192
    db.nprobe = 4
    // replace row 7 with row 8's embedding: querying with row 8's
    // embedding must surface BOTH ids at dist 0
    val up = db.upsert(e.filter(col("vec_id") === 8L)
      .select(lit(7L).as("vec_id"), col("embedding")))
    assert(up.hasIndex, "upsert must maintain the index")
    assert(up.len == db.len, "upsert of an existing id must not grow the corpus")
    val qv = e.filter(col("vec_id") === 8L)
      .select("embedding").head().getSeq[Float](0).toSeq
    val top = up.search(qv, 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top.map(_._1) == Seq(7L, 8L) && top.forall(_._2 < 1e-9),
      s"the upserted embedding must serve from the maintained index: $top")
    // range search equals the brute-force radius scan, under both metrics
    val inRange = db.searchRange(qv, radius = 2.0).collect().map(_.getLong(0)).toSeq
    val brute = e.select(col("vec_id"),
        graft.functions.VectorFunctions.l2SqNative(col("embedding"),
          graft.functions.VectorFunctions.vecLit(qv)).as("d"))
      .filter(col("d") <= 2.0).orderBy(col("d"), col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(inRange == brute, s"range serve != radius scan:\n$inRange\nvs\n$brute")
    val cdb = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    cdb.buildIndexIvf(numCells = 4, iters = 1, metric = Knn.Cosine)
    val cosRows = cdb.searchRange(qv, radius = 0.05)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(cosRows.forall(_._2 <= 0.05), s"cosine range served out-of-radius rows")
  }

  test("cosine handle: filtered-to-empty search returns no rows; unfiltered serves k") {
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64)
    db.buildIndexIvf(numCells = 4, iters = 1, metric = Knn.Cosine)
    db.efSearch = 4096
    db.nprobe = 4
    val q = Seq.fill(64)(0.1f)
    // empty hit set must flow through the pushed-down re-scan cleanly
    assert(db.searchFiltered(q, 5, _ => lit(false)).count() == 0L)
    assert(db.search(q, 5).count() == 5L)
  }

  test("filtered search admits only matching rows and equals filtered brute force at exhaustive ef") {
    import org.apache.spark.sql.functions.pmod
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = HnswIndex.build(e.withColumn("part", col("label")), P)
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val hits = HnswIndex.search(idx, queries, k = 5, P, efSearch = 4096,
        candidateFilter = Some(pmod(col("vector_id"), lit(3)) === 0))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(hits.forall(_._3 % 3 == 0), s"a filtered-out row surfaced as a hit: $hits")
    // exhaustive ef ⇒ must equal brute force over the matching subset
    val exact = Knn.knnJoin(e.filter(col("vec_id") % 3 === 0), queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(hits == exact, s"filtered ANN != filtered brute force:\n$hits\nvs\n$exact")
    // a never-matching filter returns no hits (and doesn't throw on the
    // empty result heap)
    assert(HnswIndex.search(idx, queries, k = 5, P, efSearch = 4096,
      candidateFilter = Some(lit(false))).count() == 0L)
  }

  test("removeBatch drops exactly the removed ids, passes untouched cells through, and is idempotent") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = HnswIndex.build(e.withColumn("part", col("label")), P)
    val gone = e.filter(col("vec_id") % 5 === 2 && col("label") < 4).select("vec_id")
    val goneIds = gone.collect().map(_.getLong(0)).toSet
    assert(goneIds.nonEmpty)
    val removed = HnswIndex.removeBatch(idx, gone, P)

    val servedIds = removed.select("vector_id").collect().map(_.getLong(0)).toSet
    assert(servedIds.intersect(goneIds).isEmpty, "tombstoned ids still present")
    assert(servedIds.size == 500 - goneIds.size, "a survivor was dropped")

    // untouched cells (labels 4+) pass through byte-identical
    val before = idx.filter(col("part") >= 4).collect()
      .map(r => (r.vector_id, r.layers.map(_.toSeq).toSeq)).toSet
    val after = removed.filter(col("part") >= 4).collect()
      .map(r => (r.vector_id, r.layers.map(_.toSeq).toSeq)).toSet
    assert(after == before, "untouched cell must pass through unchanged")

    // removing the same ids again is a no-op (tombstones are idempotent)
    val again = HnswIndex.removeBatch(removed, gone, P)
    assert(again.collect().map(r => (r.vector_id, r.part)).toSet ==
      removed.collect().map(r => (r.vector_id, r.part)).toSet)

    // compact interaction: compacting the post-delete index still
    // serves exhaustive-ef results equal to brute force over survivors
    val compacted = HnswIndex.compact(removed, P, minCellSize = 16)
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val served = HnswIndex.search(compacted, queries, k = 5, P, efSearch = 4096)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = Knn.knnJoin(e.filter(!col("vec_id").isin(goneIds.toSeq: _*)), queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served == exact, "post-delete compaction corrupted served results")
  }

  test("compact folds undersized cells and preserves exhaustive-ef search results") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // 10 healthy label cells carry vec_id < 400; the remaining 100
    // vectors scatter into 20 debris cells of ~5 (many addBatch
    // generations' worth of trickle ingest)
    val parted = e.withColumn("part",
      when(col("vec_id") < 400, col("label"))
        .otherwise(lit(100) + pmod(col("vec_id"), lit(20))))
    val idx = HnswIndex.build(parted, P)
    val compacted = HnswIndex.compact(idx, P, minCellSize = 20)

    val pre = idx.groupBy("part").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val post = compacted.groupBy("part").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(pre.count(_._2 < 20) == 20, s"expected 20 debris cells, got $pre")
    assert(post.values.forall(_ >= 20), s"undersized cells remain: $post")
    assert(post.keySet.subsetOf(pre.keySet), "compaction must not invent cells")
    assert(compacted.count() == 500L &&
      compacted.select("vector_id").distinct().count() == 500L,
      "compaction must preserve the vector set")

    // exhaustive ef per cell ≡ exact regardless of partitioning, so the
    // served top-k must be identical before and after
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def top(ds: org.apache.spark.sql.Dataset[HnswIndex.IndexRow]) =
      HnswIndex.search(ds, queries, k = 5, P, efSearch = 4096)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(top(compacted) == top(idx), "compaction changed served results")

    // an already-healthy index is returned as-is (no rebuild churn)
    val again = HnswIndex.compact(compacted, P, minCellSize = 20)
    assert(again.groupBy("part").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == post)
  }

  test("cell-size cap splits a skewed mega-cell into bounded sub-parts without changing results") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // labels 0-7 collapse into one hot cell of ~400 vectors — far over
    // the 64-vector cap, the skew shape that would OOM one build task
    // at 100x if the cell materialized whole
    val skewed = e.withColumn("part",
      when(col("label") < 8, lit(0)).otherwise(col("label").cast("int")))
    val capped = HnswIndex.build(skewed, P, maxCellSize = 64)

    // the bound the cap exists for: NO build/search task materializes
    // more than maxCellSize vectors — group sizes per (part, sub) ARE
    // the per-task materialization
    val groups = capped.groupBy("part", "sub").count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(groups.values.forall(_ <= 64L),
      s"a sub-part exceeds the cap: ${groups.filter(_._2 > 64L)}")
    val hotSubs = groups.keys.count(_._1 == 0)
    assert(hotSubs >= 2, s"hot cell did not split: $hotSubs sub-part(s)")
    // cells under the cap stay whole (single sub-part 0)
    assert(groups.keys.filter(_._1 != 0).forall(_._2 == 0),
      "an under-cap cell was split")
    // no vector lost or duplicated across the split
    assert(capped.count() == 500L &&
      capped.select("vector_id").distinct().count() == 500L)

    // exhaustive ef per sub-graph ≡ exact regardless of the split: the
    // capped index serves exactly what an uncapped build serves
    val uncapped = HnswIndex.build(skewed, P, maxCellSize = Int.MaxValue)
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def top(ds: org.apache.spark.sql.Dataset[HnswIndex.IndexRow]) =
      HnswIndex.search(ds, queries, k = 5, P, efSearch = 4096)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(top(capped) == top(uncapped), "cell cap changed served results")

    // REBALANCE: the hot cell's rows become first-class cells, each
    // within the cap, with nothing lost or duplicated — and the
    // rebalanced layout serves the same exhaustive-ef answers
    val rebal = HnswIndex.rebalance(capped, P, maxCellSize = 64)
    val rSizes = rebal.groupBy("part").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rSizes.values.forall(_ <= 64L),
      s"rebalanced cell exceeds the cap: ${rSizes.filter(_._2 > 64L)}")
    assert(!rSizes.contains(0), "the oversized source cell must dissolve")
    assert(rSizes.values.sum == 500L &&
      rebal.select("vector_id").distinct().count() == 500L)
    assert(top(rebal) == top(capped), "rebalance changed served results")
    // idempotence: a balanced layout passes through unchanged
    assert(HnswIndex.rebalance(rebal, P, maxCellSize = 64)
      .groupBy("part").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == rSizes)

    // ROUTED composition: a probed cell's sub-parts are all searched —
    // routing a capped layout serves exactly what routing the uncapped
    // layout serves (same router, exhaustive ef within probed cells)
    val router = graft.index.IvfIndex.fromPartitionMeans(
      skewed.select(col("part"), col("embedding").as("vec")), "part", "vec")
    def routedTop(ds: org.apache.spark.sql.Dataset[HnswIndex.IndexRow]) =
      HnswIndex.search(ds, queries, k = 5, P, efSearch = 4096,
          router = Some(router), nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(routedTop(capped) == routedTop(uncapped),
      "routed search over a capped layout missed sub-parts of a probed cell")
  }

  test("shard merge: two independently built indexes serve the union corpus without a rebuild") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val parted = e.withColumn("part", col("label"))
    // both shards number their cells from the SAME label space — the
    // colliding-part-id case merge must re-key, not just union
    val a = HnswIndex.build(parted.filter(col("vec_id") % 2 === 0), P)
    val b = HnswIndex.build(parted.filter(col("vec_id") % 2 === 1), P)
    val merged = HnswIndex.merge(a, b)

    // nothing lost, nothing duplicated, and the shards' cells stay
    // disjoint after the re-key (every (shardA cell, shardB cell) pair
    // lands on a distinct merged part id)
    assert(merged.count() == 500L &&
      merged.select("vector_id").distinct().count() == 500L)
    val nA = a.select("part").distinct().count()
    val nB = b.select("part").distinct().count()
    assert(merged.select("part").distinct().count() == nA + nB,
      "merge interleaved two shards' cells under one part id")

    // merged-search ≡ a single build over the union corpus at
    // exhaustive ef (graph layouts differ; served answers must not)
    val single = HnswIndex.build(parted, P)
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def top(ds: org.apache.spark.sql.Dataset[HnswIndex.IndexRow], ef: Int) =
      HnswIndex.search(ds, queries, k = 5, P, efSearch = ef)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = top(single, 4096)
    assert(top(merged, 4096) == exact,
      "merged index serves different exhaustive-ef answers than a single build")

    // finite-ef recall floor (NOT graph isomorphism — each shard keeps
    // its own deterministic graph): production-ef merged recall vs the
    // exhaustive truth stays high
    val got = top(merged, 64)
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.8, s"merged finite-ef recall $recall below the floor")

    // duplicate vector ids across shards fail loudly, not double-serve
    val eDup = intercept[Exception] { HnswIndex.merge(a, a).count() }
    assert(messages(eDup).exists(_.contains("unique vector ids")), s"$eDup")

    // an empty shard passes the other side through
    val none = b.filter(lit(false))
    assert(top(HnswIndex.merge(a, none), 4096) == top(a, 4096))
    assert(top(HnswIndex.merge(none, b), 4096) == top(b, 4096))
  }

  test("mergeAll over N shards serves exactly what the binary-merge fold serves") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val parted = e.withColumn("part", col("label"))
    val shards = (0 until 4).map(p =>
      HnswIndex.build(parted.filter(col("vec_id") % 4 === p), P))
    val nary = HnswIndex.mergeAll(shards)
    val folded = shards.reduce(HnswIndex.merge(_, _))
    assert(nary.count() == 500L &&
      nary.select("vector_id").distinct().count() == 500L)
    // part labelings differ (packed vs max-shifted) but cells stay
    // disjoint and served answers are identical
    val nCells = shards.map(_.select("part").distinct().count()).sum
    assert(nary.select("part").distinct().count() == nCells)
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def top(ds: org.apache.spark.sql.Dataset[HnswIndex.IndexRow]) =
      HnswIndex.search(ds, queries, k = 5, P, efSearch = 4096)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(top(nary) == top(folded), "N-way merge drifted from the fold")
    // duplicate ids still fail loudly through the single check
    val eDup = intercept[Exception] {
      HnswIndex.mergeAll(Seq(shards(0), shards(1), shards(0))).count()
    }
    assert(messages(eDup).exists(_.contains("unique vector ids")), s"$eDup")
    // single-shard and all-empty inputs pass through
    assert(top(HnswIndex.mergeAll(Seq(shards(0)))) == top(shards(0)))
    val none = shards(0).filter(lit(false))
    assert(HnswIndex.mergeAll(Seq(none, none)).count() == 0L)
  }

  test("handle merge: two shard handles serve the union corpus; unsound merges fail loudly") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def shard(parity: Int) = {
      val db = VectorDB.fromDataFrame(
        e.filter(col("vec_id") % 2 === parity), dims = 64, P)
      db.buildIndexIvf(numCells = 4, iters = 1)
      db
    }
    val merged = shard(0).mergeWith(shard(1))
    assert(merged.len == 500L, "corpus union lost rows")
    val st = merged.stats.head()
    merged.nprobe = st.getAs[Long]("n_cells").toInt
    merged.efSearch = math.max(4096L, st.getAs[Long]("max_cell") + 1L).toInt
    // exhaustive probing over the merged handle == one handle over the
    // whole corpus (both exhaustive => both are brute force)
    val whole = VectorDB.fromDataFrame(e, dims = 64, P)
    val q = e.filter(col("vec_id") === 7).head().getSeq[Float](1)
    val got = merged.search(q, 5).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1000))).toSeq
    val want = whole.search(q, 5).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1000))).toSeq
    assert(got == want, s"merged handle drifted: $got vs $want")

    // rejections: dims, compressed state, dot metric — each loud
    val half = shard(0)
    val eDim = intercept[IllegalArgumentException] {
      half.mergeWith(VectorDB.fromDataFrame(e, dims = 32, P))
    }
    assert(messages(eDim).exists(_.contains("dimension")), s"$eDim")
    val pq = shard(1)
    pq.buildIndexPq(numCells = 4, routerIters = 1, numSub = 8,
      codebookK = 16, pqIters = 0)
    val ePq = intercept[IllegalArgumentException] { half.mergeWith(pq) }
    assert(messages(ePq).exists(_.contains("REBUILD")), s"$ePq")
    val dup = intercept[Exception] { shard(0).mergeWith(shard(0)) }
    assert(messages(dup).exists(_.contains("unique vector ids")), s"$dup")
  }

  test("merge -> rebalance composition: bounded cells, a recall floor, and merged local point serving") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def shard(parity: Int) = {
      val db = VectorDB.fromDataFrame(
        e.filter(col("vec_id") % 2 === parity), dims = 64, P)
      db.buildIndexIvf(numCells = 4, iters = 1)
      db
    }
    val merged = shard(0).mergeWith(shard(1))
    // the composition the 100 TB lifecycle runs: merged layouts keep
    // Σ shard-cells forever, rebalance restores the bounded-cell
    // layout a single build would produce and re-derives the router
    val rb = merged.rebalance(maxCellSize = 64)
    val st = rb.stats.head()
    assert(st.getAs[Long]("max_cell") <= 64L,
      s"rebalanced merged layout kept an over-cap cell: $st")
    assert(st.getAs[Long]("n_vectors") == 500L &&
      st.getAs[Long]("n_indexed") == 500L, s"composition lost rows: $st")
    val qv = e.filter(col("vec_id") === 7).head().getSeq[Float](1)

    // recall floor at PRODUCTION settings (finite nprobe/ef) vs the
    // exhaustive truth — the composed router + split graphs must still
    // route well, not merely serve exhaustively. The two parity shards'
    // cell sets overlap spatially (each shard's router covered the
    // whole space), so a query's true neighbors spread across ~2× the
    // cells a single build would use — the probe budget reflects that
    val exact = graft.operators.Knn.searchKnn(e, qv, 5)
      .collect().map(_.getLong(0)).toSet
    rb.nprobe = 6
    rb.efSearch = 128
    val got = rb.search(qv, 5).collect().map(_.getLong(0)).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.8, s"composed-path recall $recall below the floor")

    // the re-derived router serves the zero-job LOCAL point path on a
    // merged handle too: exhaustive knobs make local ≡ distributed ≡
    // brute force
    val m2 = shard(0).mergeWith(shard(1))
    val st2 = m2.stats.head()
    m2.nprobe = st2.getAs[Long]("n_cells").toInt
    m2.efSearch = math.max(4096L, st2.getAs[Long]("max_cell") + 1L).toInt
    val local = m2.searchLocal(qv, 5)
    val dist = m2.search(qv, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .sortBy { case (id, d) => (d, id) }
    assert(local == dist, "merged-handle local point serving diverged")
  }

  test("searchLocal serves the distributed routed results driver-side, with zero jobs when warm") {
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    db.buildIndexIvf(numCells = 16, iters = 1)
    db.efSearch = 4096 // exhaustive per cell at this fixture
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 8).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))

    // identity: local point serving == the distributed routed path,
    // (dist, id)-ordered, for every probe pattern the 8 queries hit
    for ((qid, qv) <- qs) {
      val local = db.searchLocal(qv, 5)
      val dist = db.search(qv, 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        .sortBy { case (id, d) => (d, id) }
      assert(local == dist, s"local/distributed divergence for query $qid")
    }

    // the warm path launches NO Spark job: every probed cell graph is
    // already driver-resident, so the query routes + walks in-process
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    val before = jobs.get()
    val t0 = System.nanoTime()
    val warmRuns = 100
    var i = 0
    while (i < warmRuns) { db.searchLocal(qs.head._2, 5); i += 1 }
    val perQueryMs = (System.nanoTime() - t0) / 1e6 / warmRuns
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    assert(jobs.get() == before, "warm searchLocal must launch no Spark job")
    info(f"warm searchLocal point latency: $perQueryMs%.3f ms/query over $warmRuns runs")
    // generous JIT/GC margin — the real bound is "no 0.2s job floor"
    assert(perQueryMs < 50.0, f"warm point query too slow: $perQueryMs%.3f ms")

    // an oversized probed cell falls back to the distributed path and
    // still serves the identical answer (db2's cap trips before any
    // cell can cache, so every probe takes the fallback arm)
    val db2 = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    db2.buildIndexIvf(numCells = 16, iters = 1)
    db2.efSearch = 4096
    db2.localCellRowCap = 1
    assert(db.searchLocal(qs.head._2, 5) == db2.searchLocal(qs.head._2, 5),
      "cap-breach fallback diverged from local serving")

    // restart story: a save()d + load()ed handle serves the same point
    // answers locally — the cold path reads only the probed cells'
    // parquet subtrees, never the corpus
    val p = java.nio.file.Files.createTempDirectory("graft_local_")
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
    db.save(p.toString)
    val loaded = VectorDB.load(spark, p.toString)
    assert(loaded.searchLocal(qs.head._2, 5) == db.searchLocal(qs.head._2, 5),
      "persisted handle's local point serving diverged")
  }

  test("searchLocal serves cosine and dot handles: identity with the distributed re-score, zero jobs warm") {
    def distOf(db: VectorDB, qv: Seq[Float]) =
      db.search(qv, 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        .sortBy { case (id, d) => (d, id) }
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 6).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))

    val cos = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    cos.buildIndexIvf(numCells = 16, iters = 1, metric = graft.operators.Knn.Cosine)
    cos.efSearch = 4096
    for ((qid, qv) <- qs) {
      val local = cos.searchLocal(qv, 5)
      val dist = distOf(cos, qv)
      assert(local.map(_._1) == dist.map(_._1),
        s"cosine local/distributed id divergence for query $qid")
      // local re-scores the STORED unit vectors, distributed the raw
      // corpus rows — scale-invariant up to float normalization
      local.zip(dist).foreach { case ((_, dl), (_, dd)) =>
        assert(math.abs(dl - dd) < 1e-6,
          s"cosine local dist drifted: $dl vs $dd for query $qid")
      }
    }

    val dot = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    dot.buildIndexIvf(numCells = 16, iters = 1, metric = graft.operators.Knn.Dot)
    dot.efSearch = 4096
    for ((qid, qv) <- qs) {
      // −dot over the padded query is bit-identical to the distributed
      // exact re-score, so the whole (id, dist) sequence must match
      assert(dot.searchLocal(qv, 5) == distOf(dot, qv),
        s"dot local/distributed divergence for query $qid")
    }

    // warm cosine point queries launch no Spark job (the reference's
    // semantic-search workload shape served in-process)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    val before = jobs.get()
    val warmRuns = 100
    val t0 = System.nanoTime()
    var i = 0
    while (i < warmRuns) { cos.searchLocal(qs.head._2, 5); i += 1 }
    val perQueryMs = (System.nanoTime() - t0) / 1e6 / warmRuns
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    assert(jobs.get() == before, "warm cosine searchLocal must launch no Spark job")
    info(f"warm cosine searchLocal latency: $perQueryMs%.3f ms/query over $warmRuns runs")
    assert(perQueryMs < 50.0, f"warm cosine point query too slow: $perQueryMs%.3f ms")
  }

  test("cache loss never changes answers: serving recomputes from lineage after clearCache") {
    // the executor-failure story: every cached generation (index rows,
    // codes) must be a pure performance artifact — blowing away the
    // entire cache manager state and re-serving must give identical
    // results through lineage recompute, for the HNSW, PQ, and BQ
    // serving modes and for a maintained (add-derived) handle
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qv = e.filter(col("vec_id") === 31L)
      .select("embedding").head().getSeq[Float](0)
    def hits(db: VectorDB) = db.search(qv, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .sortBy { case (id, d) => (d, id) }

    val hnsw = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    hnsw.buildIndexIvf(numCells = 16, iters = 1)
    hnsw.efSearch = 4096; hnsw.nprobe = 16
    val pq = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    pq.buildIndexPq(numCells = 16, routerIters = 1)
    val bq = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    bq.buildIndexBq(numCells = 16, routerIters = 1)
    val grown = hnsw.add(e.filter(col("vec_id") < 3)
      .select(col("vec_id") + 100000L as "vec_id", col("embedding")))
    grown.efSearch = 4096; grown.nprobe = 16

    val before = Seq(hnsw, pq, bq, grown).map(hits)
    spark.sqlContext.clearCache() // every persisted generation gone
    val after = Seq(hnsw, pq, bq, grown).map(hits)
    assert(before == after,
      "serving diverged after cache loss — a cached generation was load-bearing")
  }

  test("handle rebalance: mega-cells split, router re-derived, serving unchanged") {
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    // 4 cells => ~125 rows each; rebalance at 64 must split every cell
    db.buildIndexIvf(numCells = 4, iters = 1)
    db.nprobe = 4
    db.efSearch = 4096
    val qv = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 17L).select("embedding").head().getSeq[Float](0)
    val before = db.search(qv, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .sortBy { case (id, d) => (d, id) }
    val preCells = db.stats.head().getAs[Long]("n_cells")
    val rb = db.rebalance(maxCellSize = 64)
    val st = rb.stats.head()
    assert(st.getAs[Long]("n_cells") > preCells, "no cell split")
    assert(st.getAs[Long]("max_cell") <= 64L,
      s"a rebalanced cell exceeds the cap: ${st.getAs[Long]("max_cell")}")
    assert(st.getAs[Long]("n_indexed") == 500L)
    // every (new) cell probed at exhaustive ef => identical answers
    rb.nprobe = st.getAs[Long]("n_cells").toInt
    val after = rb.search(qv, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .sortBy { case (id, d) => (d, id) }
    assert(after == before, s"rebalance changed served answers:\n$before\nvs\n$after")
    // the re-derived router serves routed queries over the new cells
    rb.nprobe = 3
    assert(rb.search(qv, 5).collect().length == 5)
  }

  test("adaptive nprobe: in-cluster queries probe fewer cells, boundary queries fan wide") {
    import graft.index.IvfIndex
    // three well-separated 1-d centroids: the probe geometry is exact
    val m = IvfIndex.Model(Array(Array(0.0), Array(10.0), Array(20.0)))
    // deep inside cluster 0: next centroid is 100x farther -> 1 probe
    assert(m.probeAdaptive(Array(0.5f), alpha = 4.0, maxProbes = 3).toSeq == Seq(0))
    // midpoint of clusters 0/1: near-tied -> both probed, far cell dropped
    assert(m.probeAdaptive(Array(5.2f), alpha = 4.0, maxProbes = 3).toSeq == Seq(1, 0))
    // alpha large enough degenerates to fixed nprobe order
    assert(m.probeAdaptive(Array(5.2f), alpha = 1e9, maxProbes = 3).toSeq ==
      m.probeOrder(Array(5.2f)).take(3).toSeq)

    // end-to-end: with a huge alpha the adaptive routed search serves
    // exactly what the fixed-nprobe routed search serves
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = HnswIndex.build(e.withColumn("part", col("label")), P)
    val router = IvfIndex.fromPartitionMeans(e, "label", "embedding")
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def served(alpha: Option[Double]) =
      HnswIndex.search(idx, queries, k = 5, P, efSearch = 4096,
          router = Some(router), nprobe = 3, adaptiveAlpha = alpha)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served(Some(1e9)) == served(None))
  }

  test("cosine serving: routed recall@10 at production ef tracks the L2 pipeline on normalized fixtures") {
    import graft.functions.VectorFunctions._
    import graft.index.IvfIndex
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val normed = e.select(col("vec_id"), l2Normalize(col("embedding")).as("embedding"), col("label"))
    val cosIdx = HnswIndex.build(normed.withColumn("part", col("label")), P)
    val l2Idx = HnswIndex.build(e.withColumn("part", col("label")), P)
    val cosRouter = IvfIndex.fromPartitionMeans(normed, "label", "embedding")
    val l2Router = IvfIndex.fromPartitionMeans(e, "label", "embedding")
    val qids = Seq(0L, 7L, 42L, 99L, 250L, 333L, 444L, 499L)

    def recallOf(idx: org.apache.spark.sql.Dataset[HnswIndex.IndexRow],
        queries: org.apache.spark.sql.DataFrame, router: IvfIndex.Model,
        ef: Int, exact: Map[Long, Set[Long]]): Double = {
      val ann = HnswIndex.search(idx, queries, k = 10, P, efSearch = ef,
          router = Some(router), nprobe = 3)
        .select("qid", "vector_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      qids.map(q => ann(q).intersect(exact(q)).size / 10.0).sum / qids.length
    }
    def exactTop(metric: String): Map[Long, Set[Long]] = qids.map { q =>
      q -> Knn.searchKnnById(e, q, k = 10, metric = metric)
        .collect().map(_.getLong(0)).toSet
    }.toMap

    val qCos = normed.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val qL2 = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // Exhaustive ef isolates ROUTING coverage (the fraction of true
    // top-10 living in the 3 probed cells) — on this fixture the label
    // cells are raw-space clusters, so cosine neighbors scatter wider
    // than L2 neighbors and absolute routed recall is data-limited.
    // Parity is therefore measured as BEAM loss vs each pipeline's own
    // routing ceiling: the normalized-L2 walk must lose no more to its
    // beam than the raw-L2 walk loses to its own.
    val exactCos = exactTop(Knn.Cosine)
    val exactL2 = exactTop(Knn.L2)
    val cosCeil = recallOf(cosIdx, qCos, cosRouter, 4096, exactCos)
    val cosProd = recallOf(cosIdx, qCos, cosRouter, 32, exactCos)
    val l2Ceil = recallOf(l2Idx, qL2, l2Router, 4096, exactL2)
    val l2Prod = recallOf(l2Idx, qL2, l2Router, 32, exactL2)
    assert(cosCeil > 0.5, s"routing coverage ceiling degenerate: $cosCeil")
    assert(cosProd >= cosCeil - 0.05,
      s"cosine beam loses too much vs its routing ceiling: $cosProd vs $cosCeil")
    assert((cosCeil - cosProd) <= (l2Ceil - l2Prod) + 0.1,
      s"cosine beam loss (${cosCeil - cosProd}) must track L2 beam loss (${l2Ceil - l2Prod})")
  }

  test("dot metric: indexed search equals brute-force max inner product; add maintains the augmented index") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qv = e.filter(col("vec_id") === 7L).select("embedding").head().getSeq[Float](0)
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    db.buildIndexIvf(numCells = 4, iters = 1, metric = Knn.Dot)
    db.efSearch = 4096
    db.nprobe = 4
    val got = db.search(qv, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = Knn.searchKnn(e, qv, 10, metric = Knn.Dot)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      s"MIPS ranking diverged: ${got.toSeq} vs ${want.toSeq}")
    got.zip(want).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) < 1e-9, s"re-scored dot must be exact: $g vs $w") }
    // incremental add with a norm ABOVE the build-time max: the
    // augmentation clamps (over-ranks in the walk — recall-safe) and
    // the exact re-score places it correctly: 3·q dominates dot(·, q)
    val dominant = spark.range(1).select(lit(99999L).as("vec_id"),
      typedLit(qv.map(x => x * 3f)).as("embedding"))
    val grown = db.add(dominant)
    assert(grown.hasIndex, "add must maintain the dot index incrementally")
    val top = grown.search(qv, 3).collect().map(_.getLong(0))
    assert(top.head == 99999L, s"dominant-dot vector must rank first: ${top.toSeq}")
  }

  test("VectorDB.compact dissolves shrunken cells, refreshes the router, and preserves search") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    db.buildIndexIvf(numCells = 8, iters = 1)
    db.nprobe = 8
    db.efSearch = 4096
    // remove-heavy churn: 80% of rows leave, every cell shrinks
    val shrunk = db.remove(e.filter(col("vec_id") % 5 =!= 0).select("vec_id"))
    val preCells = shrunk.stats.select("n_cells").head().getLong(0)
    val compacted = shrunk.compact(minCellSize = (shrunk.len / 8 + 1).toInt)
    val st = compacted.stats.head()
    assert(st.getAs[Long]("n_cells") < preCells,
      s"adaptive threshold must dissolve at least one cell: ${st.getAs[Long]("n_cells")} vs $preCells")
    assert(st.getAs[Long]("n_indexed") == shrunk.len,
      "compaction must preserve the indexed vector set")
    assert(st.getAs[Boolean]("has_router"),
      "the refreshed router must survive compaction")
    val qv = e.filter(col("vec_id") === 5L).select("embedding").head().getSeq[Float](0)
    val got = compacted.search(qv, 10).collect().map(_.getLong(0)).toSeq
    val want = Knn.searchKnn(e.filter(col("vec_id") % 5 === 0), qv, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == want, s"compacted serving diverged from brute force: $got vs $want")
  }

  test("searchRefined re-ranks ADC candidates with exact distances") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qv = e.filter(col("vec_id") === 11L).select("embedding").head().getSeq[Float](0)
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    db.buildIndexPq(numCells = 4, routerIters = 1)
    db.nprobe = 4
    // refine wide enough to cover the whole 500-row corpus: the exact
    // re-rank must then equal exact brute force BIT-FOR-BIT — ADC
    // approximation error cannot reach the output
    val refined = db.searchRefined(qv, k = 10, refine = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = Knn.searchKnn(e, qv, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(refined.toSeq == exact.toSeq,
      s"wide refine must equal exact brute force: ${refined.toSeq} vs ${exact.toSeq}")
    // plain ADC at the same k generally DIFFERS in distances (it ranks
    // by codebook approximation) — the refine pass is what fixes them
    val adc = db.search(qv, 10).collect().map(_.getDouble(1))
    assert(!(adc.toSeq == exact.map(_._2).toSeq),
      "ADC distances should be approximate; if exact, the refine gate is vacuous")
    // non-compressed handles reject loudly
    val plain = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    intercept[IllegalStateException](plain.searchRefined(qv, 5))
  }

  test("searchBatchRefined equals the per-query searchRefined loop") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    db.buildIndexPq(numCells = 4, routerIters = 1)
    db.nprobe = 2
    val qids = Seq(3L, 17L)
    val queries = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = db.searchBatchRefined(queries, k = 5, refine = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val single = qids.flatMap { qid =>
      val qv = e.filter(col("vec_id") === qid).select("embedding").head().getSeq[Float](0)
      db.searchRefined(qv, k = 5, refine = 3).collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1, r.getLong(0), r.getDouble(1)) }
    }.toSet
    assert(batch == single, s"batch refine diverged:\n$batch\nvs\n$single")
  }

  test("stats reports the serving census across exact, hnsw, and compressed modes") {
    val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
    val ex = db.stats.head()
    assert(ex.getAs[Long]("n_vectors") == 500L && ex.getAs[Int]("dims") == 64)
    assert(ex.getAs[String]("serving") == "exact" && ex.getAs[Long]("n_cells") == 0L)
    assert(!ex.getAs[Boolean]("has_router"))
    db.buildIndexIvf(numCells = 4, iters = 1)
    val ix = db.stats.head()
    assert(ix.getAs[String]("serving") == "hnsw" && ix.getAs[String]("metric") == "l2")
    assert(ix.getAs[Long]("n_indexed") == 500L && ix.getAs[Long]("n_cells") <= 4L)
    assert(ix.getAs[Long]("min_cell") >= 1L &&
      ix.getAs[Long]("max_cell") <= 500L && ix.getAs[Boolean]("has_router"))
    db.buildIndexSq(numCells = 4)
    val sq = db.stats.head()
    assert(sq.getAs[String]("serving") == "sq" && sq.getAs[Long]("n_indexed") == 500L)
  }

  test("recall@10 >= 0.9 vs exact brute force at production ef") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = HnswIndex.build(e.withColumn("part", col("label")), P)
    val qids = Seq(0L, 7L, 42L, 99L, 250L, 333L, 444L, 499L)
    val queries = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

    val ann = HnswIndex.search(idx, queries, k = 10, P) // ef = max(efc, k) = 32
      .select("qid", "vector_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    val exact = Knn.knnJoin(e, queries, k = 10)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    val recalls = qids.map { q => ann(q).intersect(exact(q)).size / 10.0 }
    val avg = recalls.sum / recalls.length
    assert(avg >= 0.9, s"avg recall@10 = $avg (per-query: ${qids.zip(recalls)})")
  }

  test("cellDrift: identical epochs census equal, PSI 0; a moved slice shifts exactly its cells") {
    import graft.index.IvfIndex
    import spark.implicits._
    // two well-separated cells at +/-10 on the first axis
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) -10.0f else 10.0f
      (i.toLong, Array(base, i.toFloat / 100f))
    }.toDF("vec_id", "embedding")
    val model = IvfIndex.fromPartitionMeans(
      vecs.withColumn("label", (col("vec_id") % 2).cast("int")))
    val same = IvfIndex.cellDrift(model, vecs, vecs).localCheckpoint()
    assert(same.filter(col("ca") =!= col("cb")).count() == 0)
    assert(graft.operators.Profile.psiFromCensus(same)
      .head().getLong(3) == 0L) // psi_micro
    // epoch B pushes every 4th vector across the axis: exactly 10 of
    // the 20 negative-cell vectors (ids ≡ 0 mod 4) land in cell 1
    val b = vecs.withColumn("embedding",
      when(col("vec_id") % 4 === 0,
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(20.0f)).otherwise(x)))
        .otherwise(col("embedding")))
    val moved = IvfIndex.cellDrift(model, vecs, b).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(moved == Map(0 -> (20L, 10L), 1 -> (20L, 30L)), moved.toString)
  }

  test("served plan size is constant along an upsert chain (HNSW and PQ)") {
    // each generation reads its parent through a leaf over the parent's
    // cached rows, so the n-th generation's plan is the first's size
    // (a plan that nested every ancestor grew ~30x per upsert)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def lines(db: VectorDB): Int =
      db.servedTable.get.queryExecution.executedPlan.treeString.split("\n").length
    def batch(g: Int) = e.filter(col("vec_id") % 50 === g).select("vec_id", "embedding")
    val qv = e.filter(col("vec_id") === 3L).select("embedding").head().getSeq[Float](0)
    Seq("hnsw", "pq").foreach { mode =>
      val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
      if (mode == "hnsw") db.buildIndexIvf(numCells = 4, iters = 1)
      else db.buildIndexPq(numCells = 4, routerIters = 1)
      db.nprobe = 4
      db.efSearch = 4096
      val g1 = db.upsert(batch(1))
      val first = lines(g1)
      val g3 = g1.upsert(batch(2)).upsert(batch(3))
      val third = lines(g3)
      assert(third == first, s"$mode: served plan grew from $first to $third lines over 3 upserts")
      assert(g3.len == 500L)
      assert(g3.search(qv, 1).head().getLong(0) == 3L, s"$mode: the chain lost self-serving")
    }
  }

  test("derived and reloaded handles keep the recorded build shape and every serving knob") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val inBound = e.filter(col("vec_id") < 3)
      .select((col("vec_id") + 950000L).as("vec_id"), col("embedding"))
    val big = spark.range(1).select(lit(990001L).as("vec_id"),
      array_repeat(lit(9.9f), 64).as("embedding"))
    def knobs(db: VectorDB) = (db.nprobe, db.efSearch, db.adaptiveAlpha, db.graphRouteEf)
    def cells(db: VectorDB) = db.stats.head().getAs[Long]("n_cells")
    Seq("ivf", "pq", "opq", "sq", "bq").foreach { mode =>
      val db = VectorDB.open(spark, s"$sfDir/embeddings.parquet", dims = 64, P)
      mode match {
        case "ivf" => db.buildIndexIvf(numCells = 4, iters = 1, metric = Knn.Dot)
        case "pq"  => db.buildIndexPq(numCells = 4, metric = Knn.Dot)
        case "opq" => db.buildIndexOpq(numCells = 4, metric = Knn.Dot)
        case "sq"  => db.buildIndexSq(numCells = 4, metric = Knn.Dot)
        case "bq"  => db.buildIndexBq(numCells = 4, metric = Knn.Dot)
      }
      db.nprobe = 2
      db.efSearch = 77
      db.adaptiveAlpha = Some(1.5)
      db.graphRouteEf = 2
      val want = knobs(db)
      val dir = java.nio.file.Files.createTempDirectory(s"graft-knobs-$mode").toString
      db.save(dir)
      // an in-bound add maintains; a norm-expanding add on ITS result
      // rebuilds with the shape recorded at the first build
      val grown = db.add(inBound)
      val rebuilt = grown.add(big)
      if (mode == "ivf") assert(cells(rebuilt) <= 4L, s"$mode rebuild ignored numCells = 4")
      else assert(cells(rebuilt) == 4L, s"$mode rebuild ignored numCells = 4: ${cells(rebuilt)}")
      val removed = rebuilt.remove(inBound.select("vec_id"))
      val derived = Seq("add" -> grown, "rebuild" -> rebuilt, "remove" -> removed,
        "compact" -> removed.compact(minCellSize = 1),
        "load" -> VectorDB.load(spark, dir)) ++
        (if (mode == "ivf") Seq("rebalance" -> removed.rebalance(maxCellSize = 4096)) else Nil)
      derived.foreach { case (how, h) =>
        assert(knobs(h) == want, s"$mode handle derived by $how lost its knobs: ${knobs(h)}")
      }
    }
  }
}
