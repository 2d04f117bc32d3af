package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.TopKAggregator

/** Native codegen kernels must agree bit-for-bit with the
  * higher-order-function reference forms (same fold order, same
  * widening); plus bounded-heap aggregator unit behavior. */
class KernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("native kernels == HOF kernels bit-for-bit on the fixture") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 3L).select(col("embedding").as("qv"))
    val diff = e.crossJoin(broadcast(q))
      .select(
        (l2SqNative(col("embedding"), col("qv")) =!= l2Sq(col("embedding"), col("qv"))).as("d1"),
        (dotNative(col("embedding"), col("qv")) =!= dotProduct(col("embedding"), col("qv"))).as("d2"),
        (cosineNative(col("embedding"), col("qv")) =!= cosineSimilarity(col("embedding"), col("qv"))).as("d3"))
      .filter(col("d1") || col("d2") || col("d3"))
      .count()
    assert(diff == 0L, s"$diff rows diverge between native and HOF kernels")
  }

  test("IvfAssign interpreted eval matches the driver-side model (ties + pruning)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import spark.implicits._
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val model = graft.index.IvfIndex.train(e, k = 16, iters = 0)
    val flat = model.centroids.flatten
    val dim = model.centroids.head.length
    val vecs = e.select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    // interpreted path: Expression.eval, never codegen — must agree with
    // the pure-Scala model (IvfIndexSpec covers the codegen path)
    vecs.foreach { case (id, v) =>
      val in = Literal.create(v, ArrayType(FloatType, containsNull = false))
      val got = graft.functions.expressions.IvfAssign(in, flat, Array.empty[Int], dim)
        .eval(null).asInstanceOf[Int]
      assert(got == model.assignOne(v), s"vec $id: interpreted $got != model")
    }
    // a duplicated centroid must tie to the lower ordinal in both paths
    val dup = flat.take(dim) ++ flat.take(dim)
    val in0 = Literal.create(vecs.head._2, ArrayType(FloatType, containsNull = false))
    assert(graft.functions.expressions.IvfAssign(in0, dup, Array.empty[Int], dim)
      .eval(null).asInstanceOf[Int] == 0)
    // sparse cell-id routing resolves through cellIds, not ordinals
    assert(graft.functions.expressions.IvfAssign(in0, dup, Array(7, 1900000), dim)
      .eval(null).asInstanceOf[Int] == 7)
  }

  test("native cosine zero-vector guard returns 0.0, not NaN") {
    val df = spark.sql("SELECT array(1.0F, 2.0F) AS a, array(0.0F, 0.0F) AS z")
    val r = df.select(cosineNative(col("a"), col("z")), cosineNative(col("z"), col("z"))).collect()(0)
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
  }

  test("int8 quantization: decode error bounded, quantized ranking near-exact") {
    import graft.index.ScalarQuantizer
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (lo, hi) = ScalarQuantizer.bounds(ScalarQuantizer.train(e))
    // max per-dim reconstruction error is one code step
    val maxStep = lo.zip(hi).map { case (l, h) => (h - l) / 255.0 }.max
    val err = e.select(ScalarQuantizer.decodeExpr(
        ScalarQuantizer.encodeExpr(col("embedding"), lo, hi), lo, hi).as("dec"),
        col("embedding"))
      .select(aggregate(
        zip_with(col("dec"), col("embedding"), (x, y) => abs(x - y.cast("double"))),
        lit(0.0), (a, v) => greatest(a, v)).as("e"))
      .agg(max(col("e"))).collect()(0).getDouble(0)
    assert(err <= maxStep + 1e-12, s"decode error $err exceeds code step $maxStep")
    // quantized top-10 overlaps exact top-10 by >= 8
    val q = e.filter(col("vec_id") === 7L).select(col("embedding").as("qv"))
    val exact = e.crossJoin(broadcast(q))
      .select(col("vec_id"), l2SqNative(col("embedding"), col("qv")).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    val quant = e.select(col("vec_id"),
        ScalarQuantizer.encodeExpr(col("embedding"), lo, hi).as("codes"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), ScalarQuantizer.adcL2Sq(col("codes"), col("qv"), lo, hi).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(exact.intersect(quant).size >= 8, s"overlap ${exact.intersect(quant).size}")
  }

  test("product quantization: trained codebooks rank near-exact, training deterministic") {
    import graft.index.ProductQuantizer
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val m1 = ProductQuantizer.train(e, numSub = 8, k = 16, iters = 2)
    val m2 = ProductQuantizer.train(e, numSub = 8, k = 16, iters = 2)
    assert(m1.codebooks.flatten.flatten.toSeq == m2.codebooks.flatten.flatten.toSeq,
      "PQ training must be deterministic")
    val q = e.filter(col("vec_id") === 7L).select(col("embedding").as("qv"))
    val exact = e.crossJoin(broadcast(q))
      .select(col("vec_id"), l2SqNative(col("embedding"), col("qv")).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    val pq = e.select(col("vec_id"), ProductQuantizer.encodeExpr(col("embedding"), m1).as("codes"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), ProductQuantizer.adcExpr(col("codes"), col("qv"), m1).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    val overlap = exact.intersect(pq).size
    assert(overlap >= 5, s"trained PQ top-10 overlap with exact: $overlap/10")
  }

  /** Run `body` with every projection compiled (whole-stage codegen,
    * no interpreted fallback) or with every projection interpreted. */
  private def inMode[T](codegen: Boolean)(body: => T): T = {
    val confs =
      if (codegen) Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
      else Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("every native expression: generated code == interpreted eval, malformed rows included") {
    import graft.functions.expressions._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    val (dim, numSub, k, bands, rowBits) = (64, 4, 16, 4, 8)
    val rnd = new scala.util.Random(7)
    def gauss(n: Int) = Array.fill(n)(rnd.nextGaussian())
    val centroids = gauss(8 * dim)
    val cellIds = Array.tabulate(8)(c => 10 + 3 * c)
    val pqFlat = gauss(numSub * k * (dim / numSub))
    val lo = Array.fill(dim)(-0.5)
    val hi = Array.tabulate(dim)(i => if (i == 5) -0.5 else 0.5) // dim 5 degenerate
    val planes = gauss(bands * rowBits * dim)
    val as = Array.tabulate(16)(j => 1000L + 7 * j)
    val bs = Array.tabulate(16)(j => 12345L + 101 * j)
    // the fixture plus malformed rows: every 7th vector cut short, every
    // 5th code array holding an out-of-range code, every 11th input
    // NULL. Checkpointed, so the kernels' own projection is a plain
    // scan + project stage (the higher-order functions that build the
    // codes would keep it out of whole-stage codegen)
    val id = col("vec_id")
    def codes(n: Int, range: Int): Column = {
      val c = transform(slice(col("embedding"), 1, n), x => (abs(x) * 1000).cast("int") % range)
      when(id % 5 === 0, transform(c, x => x + range)).otherwise(c)
    }
    val vectors = spark.read.parquet(s"$sfDir/embeddings.parquet").select(id.as("key"),
      when(id % 11 === 0, lit(null)).when(id % 7 === 0, slice(col("embedding"), 1, 3))
        .otherwise(col("embedding")).as("v"),
      reverse(col("embedding")).as("q"),
      codes(numSub, k).as("pq_codes"), codes(dim, 256).as("sq_codes")).localCheckpoint()
    val text = when(col("doc_id") % 11 === 0, lit(null)).otherwise(col("text"))
    val texts = spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id").as("key"),
      text.as("text"),
      transform(split(text, " "), w => pmod(xxhash64(w), lit(2147483647L))).as("hs"))
      .localCheckpoint()
    val Seq(ve, qe, te, he, pqCodes, sqCodes) =
      Seq("v", "q", "text", "hs", "pq_codes", "sq_codes").map(c => toExpr(col(c)))
    // (column, Kernels method, expression)
    val vectorCases: Seq[(String, String, Expression)] = Seq(
      ("l2", "l2sq", L2SquaredDistance(ve, qe)),
      ("dp", "dot", DotProductNative(ve, qe)),
      ("cos", "cosine", CosineSimilarityNative(ve, qe)),
      ("cell", "ivfAssign", IvfAssign(ve, centroids, cellIds, dim)),
      ("cell_d", "ivfAssign",
        IvfAssign(toExpr(col("v").cast("array<double>")), centroids, Array.empty[Int], dim)),
      ("cells", "ivfAssignTopK", IvfAssignTopK(ve, centroids, cellIds, dim, 3)),
      ("pq", "pqEncode", PqEncode(ve, pqFlat, numSub, k, dim / numSub)),
      ("pq_adc", "pqAdc", PqAdc(pqCodes, ve, pqFlat, numSub, k, dim / numSub)),
      ("sq", "sqEncode", SqEncode(ve, lo, hi)),
      ("sq_adc", "sqAdc", SqAdc(sqCodes, ve, lo, hi)),
      ("bits", "signPack", SignPack(ve, dim)),
      ("ham", "hamming", HammingWords(SignPack(ve, dim), SignPack(qe, dim))),
      ("srp", "srpSignature", SrpSignature(ve, planes, bands, rowBits)))
    val textCases: Seq[(String, String, Expression)] = Seq(
      ("ph", "polyHash", PolyHash(te, 1000000007L)),
      ("cuts", "cdcCuts", CdcCuts(te, 8, 16)),
      ("mh", "minHashSignature", MinHashSignature(he, as, bs, 2147483647L)),
      ("sh", "simHash64", SimHash64(he)))
    assert((vectorCases ++ textCases).map(_._2).distinct.size == 16)

    // per frame, rows by key (key dropped); no shuffle, so one stage
    def run(codegen: Boolean): Seq[Seq[Seq[Any]]] = inMode(codegen) {
      Seq(vectors -> vectorCases, texts -> textCases).map { case (base, cases) =>
        val df = base.select(col("key") +: cases.map { case (c, _, e) => toCol(e).as(c) }: _*)
        val rows = df.collect().sortBy(_.getLong(0)).map(_.toSeq.tail).toSeq
        if (codegen) {
          // the compiled stage calls each kernel: no silent eval fallback
          val code = org.apache.spark.sql.execution.debug
            .codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString
          cases.foreach { case (c, kernel, _) =>
            assert(code.contains(s"${Kernels.Name}.$kernel("), s"$c: no compiled call to $kernel")
          }
        }
        rows
      }
    }
    val (compiled, interpreted) = (run(codegen = true), run(codegen = false))
    Seq(vectorCases, textCases).zipWithIndex.foreach { case (cases, f) =>
      cases.zipWithIndex.foreach { case ((c, _, _), j) =>
        assert(compiled(f).map(_(j)) == interpreted(f).map(_(j)),
          s"$c: generated code != interpreted eval")
      }
    }
    // malformed rows reach the NULL paths: more NULLs than NULL inputs
    val vectorRows = compiled.head
    def nulls(c: String) = vectorRows.count(_(vectorCases.indexWhere(_._1 == c)) == null)
    assert(nulls("l2") > 0)
    Seq("cell", "cell_d", "cells", "pq", "pq_adc", "sq", "sq_adc", "srp").foreach { c =>
      assert(nulls(c) > nulls("l2"), s"$c: malformed rows must give NULL")
    }

    // a Hamming width mismatch raises the same error on both paths
    def widthError(codegen: Boolean): String = inMode(codegen) {
      val e = intercept[Exception] {
        vectors.select(toCol(HammingWords(SignPack(qe, dim), SignPack(qe, dim + 32)))).collect()
      }
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x.getMessage }
        .getOrElse(fail(s"no width error in $e"))
    }
    assert(widthError(codegen = true) == widthError(codegen = false))
    assert(widthError(codegen = true).contains("packed at different widths (2 vs 3 words)"))
    Seq(vectors, texts).foreach(_.unpersist())
  }

  test("TopKAggregator: reduce keeps k smallest with id tiebreak, merge preserves order") {
    val agg = new TopKAggregator(3)
    val buf = Seq((5.0, 1L), (1.0, 9L), (3.0, 2L), (1.0, 3L), (7.0, 0L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(buf == List((1.0, 3L), (1.0, 9L), (3.0, 2L)))
    val other = Seq((0.5, 7L), (2.0, 4L)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.merge(buf, other) == List((0.5, 7L), (1.0, 3L), (1.0, 9L)))
    assert(agg.merge(agg.zero, agg.zero) == Nil)
  }

  test("TopKAggregator ignores entries worse than a full heap") {
    val agg = new TopKAggregator(2)
    val buf = Seq((1.0, 1L), (2.0, 2L), (9.0, 9L)).foldLeft(agg.zero)(agg.reduce)
    assert(buf == List((1.0, 1L), (2.0, 2L)))
  }
}
