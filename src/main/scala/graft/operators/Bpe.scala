package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning (Sennrich et al., ACL 2016) — the
  * tokenizer-training primitive of an LLM data pipeline (extension; the
  * reference has no text surface at all).
  *
  * Scale shape: the ONLY corpus-scale stage is the word census (one
  * map-side-combined hash aggregate); every merge round then operates
  * on the censused VOCABULARY — the bounded model artifact (sub-linear
  * in the corpus), exactly how production BPE trainers consume a
  * 100 TB corpus. Per round: one pair-count aggregate over the vocab,
  * one O(1)-row argmax collect (count DESC, pair ASC — deterministic),
  * one map-only merge rewrite. All arithmetic is exact integer counts,
  * so every round replays bit-for-bit in a SQL oracle.
  *
  * Word representation — the DOUBLE-SPACE form: tokens are separated
  * by exactly two spaces and the word is padded with two spaces at
  * each end (`"low"` → `"  l  o  w  </w>  "`). A merge (a, b)
  * rewrites `" a  b "` → `" ab "` (single-space pattern edges): the
  * match consumes only ONE space of each boundary pair, so the
  * leftover space seeds the very next adjacent match. This makes a
  * plain left-to-right non-overlapping `replace` — available and
  * identically specified in Spark (codegen'd) and ANSI SQL — exactly
  * equivalent to the classic BPE application (Sennrich's
  * lookaround-regex `(?<!\S)a b(?!\S)` substitution, which RE2-based
  * SQL engines cannot express):
  *  - a pattern edge space can only align with the SECOND space of a
  *    boundary pair (tokens contain no spaces, so the char after the
  *    first space of a pair is a space, never a token head), hence
  *    every match is a true token-boundary match;
  *  - after a match, the scan resumes on `" <next-token>"` — the
  *    un-consumed half of the trailing boundary — so an immediately
  *    adjacent (a, b) pair matches too (`"a a a a"` → `"aa aa"`, not
  *    the `"aa a a"` a single-space sentinel form would give);
  *  - a merged token can never re-match as `a` at its own position
  *    (that would need `a + b == a`, impossible for non-empty `b`),
  *    which is precisely the classic scan's "resume after the
  *    consumed pair" non-overlap rule.
  * BpeSpec pins this equivalence against an independent token-array
  * implementation of the classic scan.
  */
object Bpe {

  /** One BPE merge step. */
  final case class Merge(step: Int, left: String, right: String, cnt: Long)

  /** The double-space token form with the `</w>` marker:
    * `"low"` → `"  l  o  w  </w>  "`. */
  def spacedForm(word: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("  "), regexp_replace(word, "(.)", "$1  "), lit("</w>  "))

  /** Tokens of a double-space form (drops the empty pad fragments). */
  private def toks(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(w, "  "), t => length(t) > 0)

  /** The `(word-form, cnt)` vocabulary census of a text column —
    * the single corpus-scale aggregate. */
  def vocabCensus(df: DataFrame, text: org.apache.spark.sql.Column): DataFrame =
    df.select(explode(split(text, " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(spacedForm(col("tok")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** One classic merge application on the double-space form (see the
    * object doc for why plain `replace` is exact here). Shared with
    * [[WordPiece]], which differs only in merge SELECTION. */
  private[operators] def rewrite(w: org.apache.spark.sql.Column, a: String,
      b: String): org.apache.spark.sql.Column =
    replace(w, lit(s" $a  $b "), lit(s" $a$b "))

  /** Learn `nMerges` merges from a vocabulary census. Returns the
    * merge table in order; each round's argmax collects exactly one
    * row (count DESC, left ASC, right ASC). Rounds short-circuit when
    * no pair remains (fully merged vocabulary). Pair counting is the
    * classic position census (every adjacent position, including
    * overlapping repeats — Sennrich's `get_stats`). */
  def learnMerges(vocab0: DataFrame, nMerges: Int): Seq[Merge] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    Rounds.run(vocab0, nMerges) { r =>
      val pairs = r.frame.select(toks(col("w")).as("t"), col("cnt"))
        .filter(size(col("t")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("a"),
            element_at(col("t"), i + 1).as("b")))).as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("s"))
      pairs.orderBy(col("s").desc, col("a"), col("b")).limit(1).collect()
        .headOption.map { best =>
          val (a, b) = (best.getString(0), best.getString(1))
          merges += Merge(r.index + 1, a, b, best.getLong(2))
          r.frame.select(rewrite(col("w"), a, b).as("w"), col("cnt"))
        }
    }
    merges.toSeq
  }

  /** End-to-end: census + merges as a DataFrame gate surface. */
  def learn(df: DataFrame, text: org.apache.spark.sql.Column,
      nMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    learnMerges(vocabCensus(df, text), nMerges).toDF()
      .select(col("step"), col("left"), col("right"), col("cnt"))
  }

  /** Apply a learned merge table to one double-space word form — the
    * ENCODE side of the tokenizer: the merge list is the bounded
    * driver-side model artifact, folded in order into a chain of
    * codegen'd `replace` expressions (each the exact classic
    * application — see the object doc), so encoding is map-only at
    * any corpus size and encodes UNSEEN words by construction. */
  def applyMerges(spaced: org.apache.spark.sql.Column,
      merges: Seq[Merge]): org.apache.spark.sql.Column =
    merges.foldLeft(spaced)((c, m) => rewrite(c, m.left, m.right))

  /** Encode a text column into sub-word tokens under a merge table:
    * one row per (doc token occurrence, sub-word token). */
  def encode(df: DataFrame, text: org.apache.spark.sql.Column,
      merges: Seq[Merge]): DataFrame =
    // spread before the merge-chain map: a single input file otherwise
    // runs the whole codegen'd replace chain on one task (measured
    // 1.0 s of q_bpe_encode's 1.2 s at sf0.1); round-robin is safe —
    // every consumer aggregates and the chain is per-row
    // width from leaf bytes, core-count floor (graft.Spread; floor
    // binds at bench SFs so the plan is unchanged)
    df.repartition(graft.Spread.count(df))
      .select(explode(split(text, " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(explode(toks(applyMerges(spacedForm(col("tok")), merges)))
        .as("subtok"))
}
