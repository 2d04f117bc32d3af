package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Multinomial Naive Bayes over token counts (extension — the
  * provenance/contamination diagnostic): train per-group token models
  * on the corpus, score every document against every group, and
  * census the confusion matrix. A source whose documents the model
  * can't tell from another source's is a mixing/labeling problem the
  * pipeline wants surfaced BEFORE per-source curation thresholds are
  * trusted.
  */
object NaiveBayes {

  /** Resubstitution confusion census: Laplace-smoothed multinomial NB
    * — P(tok|g) = (c_gt + 1)/(n_g + V), prior P(g) = docs_g/docs —
    * scored as log sums, predicted = argmax (ties → smaller group
    * name), output `(group, predicted, n)`.
    *
    * Determinism: each per-token log-probability casts to
    * DECIMAL(18,6) FIRST, so the per-document sum is exact integer
    * arithmetic in 1e-6 units whatever the parallelism, and the
    * argmax compares decimals — no float merge-order noise anywhere
    * (the [[NgramLm.bigramLogProb]] convention). Each ln's INPUT is a
    * ratio of exact integers, identical in both engines.
    *
    * Scale shape: ONE tokenize pass feeds a per-(doc, tok) census that
    * both the model table and the scoring pass derive from
    * (resubstitution scores the training corpus, so re-tokenizing it
    * for scoring was pure recompute); the vocabulary size, per-group
    * totals, and priors all derive from the same census in-plan.
    * Scoring is WIDE, not fanned-out: the model census
    * pivots to one row per token carrying all |groups| counts (groups
    * are a bounded census — the classic NB model matrix), broadcasts,
    * and each document token left-joins it ONCE; the per-(doc, group)
    * decimal sums run as |groups| parallel aggregates of one
    * partial-aggregating groupBy(doc), and the argmax folds map-side
    * over the |groups| score columns (ties → smaller group name).
    * The previous shape fanned every token ×|groups| through the
    * join AND a row_number window — |groups|× the shuffled rows plus
    * a corpus-sized sort, for the same exact decimal scores
    * (addition order is irrelevant: every addend is an exact
    * DECIMAL(18,6)). */
  def confusion(docs: DataFrame, id: Column, group: Column, textCol: Column)
      : DataFrame = {
    // spread the corpus before the heavy map chain (tokenize → ×|groups|
    // fan-out → ln + decimal cast): a single input file would otherwise
    // run the whole scoring pass on one task (measured 4.7 s of the
    // gate's 6.3 s at sf0.1). The partition count is EXPLICIT because
    // AQE's byte-based coalescing folds this sub-MB shuffle back into
    // one partition — the cost here is per-row compute downstream, not
    // input bytes, exactly what the advisory-size heuristic can't see.
    // ONE tokenize pass for the whole gate: the per-(doc, tok) census
    // checkpoints (resubstitution scoring reads the SAME corpus the
    // model trains on), and both the model table and the scoring pass
    // derive from it — the previous shape re-read and re-exploded the
    // corpus a second time for scoring (466 ms of the gate's 2.3 s at
    // sf0.1). Scoring with multiplicity c is exact: each occurrence
    // added the same DECIMAL(18,6) lp, so c × lp is the identical sum
    val td = docs
      .repartition(graft.Spread.count(docs), id)
      .select(id.as("doc_id"), group.cast("string").as("g"),
        explode(tokens(textCol)).as("tok"))
      .groupBy("doc_id", "g", "tok").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cg = td.groupBy("g", "tok").agg(sum(col("c")).as("c"))
    val ng = cg.groupBy("g").agg(sum(col("c")).as("n_g"))
    val prior = docs.select(group.cast("string").as("g")).groupBy("g")
      .agg(count(lit(1)).as("d_g"))
    // candidate table: one row per group carrying its smoothing
    // denominator and decimal log-prior — O(groups). Vocabulary size
    // and the doc total ride IN-PLAN as 1-row cross-joined aggregates
    // (nDocs = Σ d_g: every doc lands in exactly one prior group), so
    // the ONE scoreWide collect computes everything — the previous
    // shape spent two extra driver actions (distinct().count() and
    // docs.count()) plus their planning per call. Same longs, same
    // double division, same decimal cast — identical scores
    val cand = ng.join(prior, "g")
      .crossJoin(cg.agg(count_distinct(col("tok")).as("__v")))
      .crossJoin(prior.agg(sum(col("d_g")).as("__nd")))
      .select(col("g").as("cand"),
        (col("n_g") + col("__v")).cast("double").as("den"),
        log(col("d_g").cast("double") / col("__nd").cast("double"))
          .cast("decimal(18,6)").as("lprior"))
    scoreWide(cand,
      cg.select(col("g"), col("tok"), col("c")),
      docs.select(id.as("doc_id"), group.cast("string").as("g")),
      td.select(col("doc_id"), col("tok"), col("c")), weighted = true)
      .groupBy(col("g").as("group"), col("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  /** The shared WIDE scoring pass (used by [[confusion]] and
    * [[LangId.classify]]): given the per-group candidate table
    * `(cand, den, lprior)`, the model census `(g, tok, c)`, the doc
    * spine `(doc_id, g?)` (one row per scored doc; any extra columns
    * ride through), and the scored token/gram table `(doc_id, tok)`,
    * returns the spine plus `predicted` (argmax group, ties → smaller
    * name) and `score` (the winning decimal).
    *
    * One broadcast join of the token table against the token-pivoted
    * model, one partial-aggregating groupBy(doc_id), a map-side
    * argmax — no per-group row fan-out, no window. Token-less docs
    * score on priors alone via the left spine join. Per-token
    * log-probs cast to DECIMAL(18,6) before the sums, so scores are
    * exact whatever the plan shape.
    *
    * Spine contract: ONE output row per spine row — a duplicated
    * doc_id in `spine` yields duplicated scored rows (the pre-r17
    * window shape deduped by row_number; every caller passes a
    * distinct-keyed spine, so the simpler contract is pinned here per
    * ADVICE r17). */
  private[graft] def scoreWide(cand: DataFrame, model: DataFrame,
      spine: DataFrame, toks: DataFrame, weighted: Boolean = false): DataFrame = {
    // ONE collect of the group census (bounded by contract). The
    // literal round-trip is LOSSLESS: a collected Double re-enters the
    // plan with identical IEEE bits, the DECIMAL(18,6) log-prior with
    // identical unscaled value and scale — so every downstream double
    // division / ln / decimal addition sees exactly the in-plan values
    val cands = cand.select(col("cand"), col("den"), col("lprior"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDecimal(2)))
      // code-point order, not String's UTF-16 code-unit order: the
      // replaced window ordered cand ASC in UTF8String (code-point)
      // semantics, and the two differ when a supplementary-plane name
      // ties against one in [U+E000, U+FFFF] (ADVICE r17)
      .sortBy(_._1)(codePointOrdering).toSeq
    // weighted: `toks` carries a per-(doc, tok) multiplicity `c`
    // (one tokenize pass upstream) — c × lp is exactly the sum of c
    // identical DECIMAL(18,6) addends, so scores are bit-identical
    // to the per-occurrence shape
    def addend(lp: Column): Column = if (weighted) lp * col("c") else lp
    def score(lprior: Column, summed: Column): Column =
      lprior.cast("decimal(18,6)") + coalesce(summed, lit(0).cast("decimal(28,6)"))
    // empty training corpus → empty scored frame with the full output
    // schema (the pre-r17 window shape's behavior on degenerate input;
    // ADVICE r17 — a throw here broke confusion()/classify() on empty
    // corpora). The score type is read off the nonempty path's own
    // expressions: decimal(29,6) unweighted, wider when `c` scales
    // the addends.
    if (cands.isEmpty) {
      val scoreType = toks.limit(0)
        .agg(sum(addend(lit(0).cast("decimal(18,6)"))).as("s"))
        .select(score(lit(0), col("s"))).schema.head.dataType
      return spine.limit(0).select(spine.columns.map(col).toSeq ++ Seq(
        lit(null).cast("string").as("predicted"),
        lit(null).cast(scoreType).as("score")): _*)
    }
    val names = cands.map(_._1)
    def cn(i: Int) = s"__c$i"
    def sn(i: Int) = s"__s$i"
    // token-pivoted model: one row per token, all group counts wide
    // ((groups × vocab)-sized — the model matrix — so it broadcasts)
    val pivAggs = names.zipWithIndex.map { case (g, i) =>
      sum(when(col("g") === g, col("c"))).as(cn(i))
    }
    val piv = model.groupBy(col("tok")).agg(pivAggs.head, pivAggs.tail: _*)
    // one probe per token; lp_i = ln((c_i + 1)/den_i) as DECIMAL(18,6)
    // — identical per-token values to the fanned-out shape
    val sumAggs = cands.zipWithIndex.map { case ((_, den, _), i) =>
      val lp = log((coalesce(col(cn(i)), lit(0L)).cast("double") + lit(1.0)) /
        lit(den)).cast("decimal(18,6)")
      sum(addend(lp)).as(sn(i))
    }
    val sums = toks
      .join(broadcast(piv), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(sumAggs.head, sumAggs.tail: _*)
    val scoreCols = cands.zipWithIndex.map { case ((_, _, lprior), i) =>
      score(lit(lprior), col(sn(i))).as(s"__sc$i")
    }
    val wide = spine
      .join(sums, Seq("doc_id"), "left")
      .select(spine.columns.map(col).toSeq ++ scoreCols: _*)
    // map-side argmax: greatest() over the score columns, first
    // (smallest-name) group at the max — exactly the window's
    // (score DESC, cand ASC) row_number = 1
    val mx =
      if (names.size == 1) col("__sc0")
      else greatest(names.indices.map(i => col(s"__sc$i")): _*)
    val pred = names.indices.tail.foldLeft(
      when(col("__sc0") === mx, names.head)) { (acc, i) =>
      acc.when(col(s"__sc$i") === mx, names(i))
    }
    wide.select(spine.columns.map(col).toSeq ++
      Seq(pred.as("predicted"), mx.as("score")): _*)
  }

  /** Unicode code-point lexicographic order — UTF8String's comparison
    * semantics (String.compareTo is UTF-16 code-UNIT order; the two
    * disagree when a supplementary-plane character meets one in
    * [U+E000, U+FFFF]). */
  private[graft] val codePointOrdering: Ordering[String] = (x, y) => {
    val xi = x.codePoints().iterator()
    val yi = y.codePoints().iterator()
    var r = 0
    while (r == 0 && xi.hasNext && yi.hasNext)
      r = Integer.compare(xi.nextInt(), yi.nextInt())
    if (r != 0) r
    else if (xi.hasNext) 1
    else if (yi.hasNext) -1
    else 0
  }
}
