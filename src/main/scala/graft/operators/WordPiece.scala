package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece merge learning (Schuster & Nakajima, ICASSP 2012; the
  * BERT tokenizer's trainer) — the THIRD production tokenizer class
  * beside BPE (q_bpe_*) and unigram-LM (q_unigram_*), completing the
  * trio an LLM data pipeline actually chooses between. WordPiece is
  * BPE with a different merge OBJECTIVE: instead of the most frequent
  * adjacent pair, each round merges the pair maximizing the
  * likelihood gain of a unigram LM over symbols,
  *
  *   score(a, b) = count(ab) / (count(a) · count(b)),
  *
  * which prefers pairs whose parts rarely occur apart (morpheme-like
  * units) over merely frequent collocations — the reason BERT's
  * vocabulary splits "playing" as play + ##ing while frequency-greedy
  * BPE first glues the corpus's commonest letter pairs.
  *
  * Everything else is shared machinery with [[Bpe]] — the
  * double-space word form, the exact `replace`-based merge
  * application, the census-then-model scale shape (the ONLY
  * corpus-scale stage is the word census; every round operates on
  * the censused vocabulary, a bounded model artifact):
  *
  * Numeric convention: the score is selected by its EXACT integer
  * floor `score_units = (count(ab)·10¹²) div (count(a)·count(b))`,
  * products evaluated in DECIMAL(38,0) (symbol counts on a 100 TB
  * census leave int64 when multiplied), ties broken (pair-count DESC,
  * a ASC, b ASC) — every round replays bit-for-bit in a SQL oracle,
  * the [[Graph.pageRank]] integer-unit discipline applied to merge
  * selection.
  *
  * Presentation: trained merges operate on the shared `</w>`-marked
  * form (so the two trainers are census-compatible and the encode
  * path is the same codegen'd replace chain); the classic `##`
  * continuation prefix is applied at ENCODE-time presentation —
  * non-initial pieces of a word print as `##piece` ([[encode]]).
  */
object WordPiece {

  /** One WordPiece merge step: the winning pair, its adjacent-pair
    * count, and the exact integer score floor it was selected by. */
  final case class Merge(step: Int, left: String, right: String,
      cnt: Long, scoreUnits: Long)

  private def toks(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(w, "  "), t => length(t) > 0)

  /** Learn `nMerges` merges from a `(w, cnt)` vocabulary census
    * ([[Bpe.vocabCensus]]). Per round: ONE symbol census + ONE
    * adjacent-pair census over the vocabulary (both map-side-combined
    * aggregates on the model-sized artifact), a two-join score
    * assembly, a 1-row argmax collect, and the map-only rewrite.
    * Rounds short-circuit when no pair remains. */
  def learnMerges(vocab0: DataFrame, nMerges: Int): Seq[Merge] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    // a round is (w, cnt, t): the token arrays feed both censuses, so
    // they are written once, with the round, instead of split twice
    def withToks(v: DataFrame): DataFrame =
      v.select(col("w"), col("cnt"), toks(col("w")).as("t"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    Rounds.run(withToks(vocab0), nMerges) { r =>
      val tt = r.frame
      val syms = tt
        .select(explode(col("t")).as("sym"), col("cnt"))
        .groupBy("sym").agg(sum(col("cnt")).as("c"))
      val pairs = tt
        .filter(size(col("t")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("a"),
            element_at(col("t"), i + 1).as("b")))).as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("s"))
      pairs
        .join(syms.select(col("sym").as("a"), col("c").as("ca")), "a")
        .join(syms.select(col("sym").as("b"), col("c").as("cb")), "b")
        .withColumn("su", expr(
          """CAST((CAST(s AS DECIMAL(38,0)) * 1000000000000)
            |DIV (CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)""".stripMargin))
        .orderBy(col("su").desc, col("s").desc, col("a"), col("b"))
        .limit(1).collect()
        .headOption.map { best =>
          val (a, b) = (best.getAs[String]("a"), best.getAs[String]("b"))
          merges += Merge(r.index + 1, a, b, best.getAs[Long]("s"), best.getAs[Long]("su"))
          withToks(tt.select(Bpe.rewrite(col("w"), a, b).as("w"), col("cnt")))
        }
    }
    merges.toSeq
  }

  /** Apply a learned merge table to one double-space word form —
    * identical codegen'd replace chain as [[Bpe.applyMerges]]. */
  def applyMerges(spaced: org.apache.spark.sql.Column,
      merges: Seq[Merge]): org.apache.spark.sql.Column =
    merges.foldLeft(spaced)((c, m) => Bpe.rewrite(c, m.left, m.right))

  /** Encode a text column into WordPiece sub-tokens with the classic
    * `##` continuation presentation: the first piece of each word is
    * bare, every following piece prefixed `##`. Map-only at any
    * corpus size (the model is a driver-side literal chain). */
  def encode(df: DataFrame, text: org.apache.spark.sql.Column,
      merges: Seq[Merge]): DataFrame =
    // spread before the merge-chain map (the Bpe.encode single-input-
    // task lesson; measured 1.4 s of q_wordpiece_encode's 1.6 s at
    // sf0.1 on one task)
    // width from leaf bytes with the core-count floor (graft.Spread):
    // at bench SFs the floor binds (plan unchanged); at cluster scale
    // the width follows the data instead of the core count
    df.repartition(graft.Spread.count(df))
      .select(explode(split(text, " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(toks(applyMerges(Bpe.spacedForm(col("tok")), merges)).as("pieces"))
      .select(explode(transform(col("pieces"),
        (p, i) => when(i === 0, p).otherwise(concat(lit("##"), p)))).as("subtok"))

  /** Inverse of the `##` presentation for ONE word's piece sequence —
    * the detokenization arm a serving path needs beside [[encode]]:
    * continuation markers strip, pieces concatenate, and the terminal
    * `</w>` end-of-word marker drops. Column form; round-trip
    * `decode(pieces of w) == w` holds for every whitespace token by
    * construction (the merge chain only ever concatenates adjacent
    * pieces of the spaced form) — the q_wordpiece_roundtrip gate
    * counts that identity over the whole corpus. */
  def decode(pieces: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      // the marker strips from CONTINUATIONS only — [[encode]] adds it
      // at i > 0, so a first piece that genuinely starts with ## (a
      // word beginning "##") survives: decode is the exact inverse
      array_join(transform(pieces, (p, i) =>
        when(i === 0, p).otherwise(regexp_replace(p, "^##", ""))), ""),
      "</w>$", "")

  /** [[decode]], LOCAL point arm. */
  def decodeLocal(pieces: Seq[String]): String =
    pieces.zipWithIndex.map { case (p, i) =>
      if (i == 0) p else p.replaceFirst("^##", "")
    }.mkString.replaceFirst("</w>$", "")

  /** [[encode]], LOCAL point arm (single-string tokenization is a
    * serving call): the same spaced-form regex, literal replace chain,
    * and `##` continuation presentation as the distributed column
    * expressions — the merge table is `(left, right)` pairs in learned
    * order. Agrees with [[encode]] token-for-token (WordPieceSpec pins
    * the identity over the fixture corpus). */
  def encodeLocal(text: String, merges: Seq[(String, String)]): Seq[String] =
    text.split(" ", -1).iterator.filter(_.nonEmpty).flatMap { tok =>
      val spaced = "  " + tok.replaceAll("(.)", "$1  ") + "</w>  "
      val merged = merges.foldLeft(spaced) { case (w, (a, b)) =>
        w.replace(s" $a  $b ", s" $a$b ")
      }
      merged.split("  ", -1).iterator.filter(_.nonEmpty).zipWithIndex
        .map { case (p, i) => if (i == 0) p else s"##$p" }
    }.toSeq
}
