package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.NaiveBayes

/** Multinomial NB confusion census: separable fixture classifies to
  * the diagonal, indistinguishable groups split by the deterministic
  * tiebreak, priors matter, and the decimal-exact scoring is
  * partition-invariant. */
class NaiveBayesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def run(rows: Seq[(Long, String, String)]): Map[(String, String), Long] = {
    import spark.implicits._
    NaiveBayes.confusion(rows.toDF("doc_id", "src", "text"),
        col("doc_id"), col("src"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  test("separable vocabularies classify to the diagonal") {
    val rows = (1L to 6L).map(i => (i, "a", "apple apple banana")) ++
      (7L to 12L).map(i => (i, "b", "zebra zebra yak"))
    assert(run(rows) == Map(("a", "a") -> 6L, ("b", "b") -> 6L))
  }

  test("identical vocabularies with equal priors split by the group tiebreak") {
    // every doc scores identically for both groups -> argmax tie ->
    // the smaller group name wins for ALL docs
    val rows = (1L to 4L).map(i => (i, "a", "same words here")) ++
      (5L to 8L).map(i => (i, "b", "same words here"))
    assert(run(rows) == Map(("a", "a") -> 4L, ("b", "a") -> 4L))
  }

  test("the prior breaks otherwise-identical likelihoods") {
    // same text everywhere, but group b has 3x the documents: the
    // larger prior must win every argmax
    val rows = Seq((1L, "a", "x y z")) ++
      (2L to 4L).map(i => (i, "b", "x y z"))
    assert(run(rows) == Map(("a", "b") -> 1L, ("b", "b") -> 3L))
  }

  test("scoreWide: an empty corpus keeps the nonempty score type, weighted or not") {
    import spark.implicits._
    val cand = Seq(("a", 10.0, BigDecimal("-0.693147"))).toDF("cand", "den", "lprior")
      .select(col("cand"), col("den"), col("lprior").cast("decimal(18,6)"))
    val model = Seq(("a", "x", 3L)).toDF("g", "tok", "c")
    val spine = Seq((1L, "a")).toDF("doc_id", "g")
    val toks = Seq((1L, "x", 2L)).toDF("doc_id", "tok", "c")
    Seq(false, true).foreach { weighted =>
      // names and types; the empty path's NULL literals are nullable
      def fields(c: org.apache.spark.sql.DataFrame) =
        NaiveBayes.scoreWide(c, model, spine, toks, weighted).schema.map(f => (f.name, f.dataType))
      assert(fields(cand.limit(0)) == fields(cand), s"weighted = $weighted")
    }
  }

  test("result is partition-invariant (decimal-exact scoring)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val words = Vector("red", "green", "blue", "cyan", "teal", "plum")
    val rows = (1L to 60L).map { i =>
      val g = if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"
      (i, g, Seq.fill(8)(words(rnd.nextInt(words.size))).mkString(" "))
    }
    val one = NaiveBayes.confusion(rows.toDF("doc_id", "src", "text").coalesce(1),
        col("doc_id"), col("src"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val many = NaiveBayes.confusion(rows.toDF("doc_id", "src", "text").repartition(7),
        col("doc_id"), col("src"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(one == many, "confusion census must not depend on partitioning")
  }
}
