package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.graft.CheckpointBridge

/** The one loop behind every iterative operator (k-core, PageRank,
  * weighted PageRank, k-hop reach, label propagation, HITS, both
  * connected-components variants, and the BPE and WordPiece merge
  * learners). An operator supplies a seed and a step; `Rounds` owns the
  * policy:
  *
  *  - '''cadence''': every round the step returns is `localCheckpoint`ed
  *    eagerly, so the plan a round builds reads one LogicalRDD and never
  *    the round before it. Plan size is then constant in the round
  *    count. Lazy rounds were tried twice and lost. PageRank's lazy
  *    A/B on q_textrank (warm): 2.3 s eager, 3.2–3.7 s lazy with a final
  *    materialize, 3.9 s plain lazy, because the repeated `nodes`/`ed`
  *    references re-plan and partly recompute under one big plan. HITS
  *    ran lazy in the broadcast regime until the full `graft.Bench`
  *    run (sf0.1, 8 g heap) measured it slower than eager at both core
  *    counts (local[8] 3.64 → 4.26 s, local[32] 10.6 → 15.6 s), and
  *    each normalize reading its input twice made its plan grow ~4×
  *    per round;
  *  - '''census''': optional aggregate columns observed on the same
  *    action that checkpoints a round (a CollectMetrics accumulator), so
  *    a fixpoint count or a sink mass costs no extra job. The step reads
  *    it as [[Round.census]];
  *  - '''stop''': after `maxRounds` steps, or earlier when the step
  *    returns `None` (its fixpoint test, or nothing left to do);
  *  - '''release''': once a round has materialized, the round it
  *    superseded is released through [[CheckpointBridge.release]]
  *    (asynchronous, `blocking = false`), so a loop holds one round of
  *    blocks at a time, not `maxRounds`.
  *
  * The seed is round 0. A seed the caller already materialized (a
  * checkpoint, or a persisted frame) is read as it is and stays the
  * caller's: `Rounds` never releases it. Any other seed, or any seed a
  * census must be read off, is checkpointed as round 0 and released like
  * every later round. The last round is returned unreleased: it is the
  * caller's result. */
private[graft] object Rounds {

  /** Round `index` of a loop: its checkpointed frame and the census row
    * observed while it was written (null without a census, or for a
    * seed read as it is). `settled` marks a last round after which the
    * step declined to go on. */
  final case class Round(index: Int, frame: DataFrame, census: Row,
      settled: Boolean = false)

  def run(seed: DataFrame, maxRounds: Int, census: Column*)
      (step: Round => Option[DataFrame]): Round = {
    def checkpoint(df: DataFrame, index: Int): Round =
      if (census.isEmpty) Round(index, df.localCheckpoint(), null)
      else {
        val name = s"round_$index"
        val observed = df.observe(name, census.head, census.tail: _*)
        val frame = observed.localCheckpoint()
        Round(index, frame, observed.queryExecution.observedMetrics(name))
      }
    val callersSeed = census.isEmpty &&
      (CheckpointBridge.isCheckpoint(seed) ||
        seed.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    var cur = if (callersSeed) Round(0, seed, null) else checkpoint(seed, 0)
    while (cur.index < maxRounds && !cur.settled) step(cur) match {
      case None => cur = cur.copy(settled = true)
      case Some(df) =>
        val next = checkpoint(df, cur.index + 1)
        if (cur.index > 0 || !callersSeed) CheckpointBridge.release(cur.frame)
        cur = next
    }
    cur
  }
}
