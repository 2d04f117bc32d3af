package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Session-scoped residency ledger for persisted / localCheckpoint'd
  * RDDs (guide §5: "unpersist when done").
  *
  * The engine uses two kinds of cached state:
  *
  *   1. session-lived memo state (ANN indexes, routers, prepared
  *      graphs, pair censuses) built once per session + fixture by
  *      [[graft.queries.IndexQueries.SessionMemo]] and reused by many
  *      queries — this must stay resident for the whole run;
  *   2. per-execution state — mid-plan `localCheckpoint()` barriers and
  *      scratch `persist()`s created while one query computes. Their
  *      only consumer is that query's own action; once it returns they
  *      are garbage. Nothing unpersists them (a query fn cannot — its
  *      result still references them until the caller's action
  *      completes), so across a 328-query bench/verify run they
  *      accumulate into gigabytes of dead heap blocks. On the default
  *      8 g bench JVM at local[32] that resident set is what GC-
  *      thrashes the whole board (round-17 verdict item 1: live set
  *      grows monotonically; 29 queries ran 2-8x slower at 32 cores
  *      than at 8).
  *
  * [[pinning]] brackets a memo build and records every persistent RDD
  * id the build created as session-lived. [[sweep]] — called by the
  * harness loops (Bench, Verify) between queries, always OUTSIDE the
  * timed window — unpersists every persistent RDD that is not pinned.
  * Un-pinned `persist()`ed data recomputes from lineage if something
  * unexpectedly re-reads it (correct, just slower); un-pinned
  * `localCheckpoint` data is only ever per-execution (audited: every
  * cross-query checkpoint is built inside a SessionMemo), so nothing
  * can re-read it.
  *
  * Ledger keys include applicationId + startTime: RDD ids restart at 0
  * in a new SparkContext, so pins must never outlive their session.
  */
object Residency {

  private val pinned = scala.collection.concurrent.TrieMap
    .empty[String, java.util.Set[Int]]

  /** Total seconds spent inside [[pinning]] builds this JVM — the memo
    * build cost the bench's untimed warmup absorbs; reported in the
    * bench detail file (round-17 verdict item 8). */
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong

  private def key(sc: SparkContext): String =
    sc.applicationId + ":" + sc.startTime

  /** Run `build`, pinning every persistent RDD it creates (directly or
    * via nested builds) as session-lived state exempt from [[sweep]]. */
  def pinning[T](s: SparkSession)(build: => T): T = {
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val v = build
    buildNanos.addAndGet(System.nanoTime() - t0)
    val set = pinned.getOrElseUpdate(key(sc),
      java.util.concurrent.ConcurrentHashMap.newKeySet[Int]())
    (sc.getPersistentRDDs.keySet -- before).foreach(set.add)
    v
  }

  /** Drop the one WARN each swept checkpoint logs ("RDD n was locally
    * checkpointed, its lineage has been truncated and cannot be
    * recomputed after unpersisting"; ~650 expected lines per harness
    * run). A context-wide message filter, not a logger level: every
    * other RDD-layer warning still reaches the captured logs. */
  def quietSweepWarnings(): Unit =
    try {
      import org.apache.logging.log4j.core.{Filter, LoggerContext}
      val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.addFilter(org.apache.logging.log4j.core.filter.RegexFilter.createFilter(
        ".*was locally checkpointed, its lineage has been truncated.*", null, false,
        Filter.Result.DENY, Filter.Result.NEUTRAL))
      ctx.updateLoggers()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Unpersist every CHECKPOINTED persistent RDD of the session that
    * no [[pinning]] build claimed.
    *
    * Checkpoints only: a `localCheckpoint()` produces a fresh
    * LogicalRDD per execution, so a finished query's checkpoint blocks
    * can never be reused by any later execution — they are pure
    * garbage, and they are the unbounded accumulator (~650 query
    * executions × per-call barriers). Plain `persist()` entries are
    * DIFFERENT: they live in the CacheManager keyed by analyzed plan,
    * so a later execution of the same query plan-matches and reuses
    * them (the warm-state convention the bench's untimed warmup has
    * always provided — BASELINE.md r12/r14; sweeping those was A/B'd
    * here and made timed q_pipeline_corpus/q_bpe_encode 3-6× slower by
    * forcing cold recompute), and re-persisting an already-cached plan
    * reuses the entry, so they are bounded at one entry per distinct
    * plan, not one per execution.
    *
    * Blocking by default: the harness calls this between timed
    * queries, and async removal would otherwise contend with the NEXT
    * query's tasks on the block manager inside its timed window. */
  def sweep(s: SparkSession, blocking: Boolean = true): Unit = {
    val sc = s.sparkContext
    val keep = pinned.get(key(sc))
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (rdd.isCheckpointed && !keep.exists(_.contains(id)))
        rdd.unpersist(blocking)
    }
  }

  /** Seconds spent in pinned (memo) builds so far this JVM. */
  def memoBuildSec: Double = buildNanos.get() / 1e9

  /** (memory bytes, disk bytes, block count) currently held by PINNED
    * rdds — the session-lived memo footprint, for the bench detail. */
  def pinnedFootprint(s: SparkSession): (Long, Long, Int) = {
    val sc = s.sparkContext
    val keep = pinned.get(key(sc))
    val infos = sc.getRDDStorageInfo.filter(i => keep.exists(_.contains(i.id)))
    (infos.map(_.memSize).sum, infos.map(_.diskSize).sum, infos.length)
  }
}
