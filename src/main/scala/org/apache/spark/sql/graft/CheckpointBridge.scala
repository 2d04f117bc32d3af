package org.apache.spark.sql.graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to release the storage blocks behind a
  * `Dataset.localCheckpoint()` result (same sql-private-access pattern
  * as [[ColumnBridge]]).
  *
  * `Dataset.unpersist()` only uncaches CacheManager entries; a local
  * checkpoint is backed by a persisted internal `RDD[InternalRow]`
  * wrapped in a [[LogicalRDD]], so its blocks survive until the
  * ContextCleaner happens to GC the driver-side reference. Iterative
  * operators run through [[graft.operators.Rounds]], which uses
  * [[release]] to drop a superseded round's blocks as soon as the next
  * round has materialized, bounding in-flight residency to one round
  * instead of `iters` (guide §5: unpersist when done). */
object CheckpointBridge {
  /** Unpersist the RDD backing `ds` if its plan root is a LogicalRDD
    * (the shape `localCheckpoint()` returns); no-op otherwise. Safe
    * ONLY when nothing will read `ds` again: a localCheckpoint's
    * lineage is truncated, so its data is unrecoverable once dropped. */
  def release(ds: Dataset[_]): Unit = ds match {
    case c: ClassicDataset[_] => c.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
    case _ => ()
  }

  /** `ds` re-read through a LogicalRDD leaf over the rows its plan
    * produces — its cached blocks when `ds` is persisted. This is the
    * shape `Dataset.checkpoint` builds, without truncating lineage:
    * the leaf's RDD still recomputes from `ds`'s plan when blocks are
    * lost, but a plan built on the leaf never nests `ds`'s plan, so a
    * chain of derived generations keeps a constant plan size. */
  def leaf[T](ds: Dataset[T]): Dataset[T] = ds match {
    case c: ClassicDataset[T] =>
      // a fresh QueryExecution, so the cache lookup sees `ds`'s entry
      // even when `ds` itself was planned before it was persisted
      val fresh = ClassicDataset.ofRows(c.sparkSession, c.queryExecution.logical)
      val rel = LogicalRDD.fromDataset(fresh.queryExecution.toRdd, fresh, c.isStreaming)
      ClassicDataset.ofRows(c.sparkSession, rel).as[T](c.encoder)
  }

  /** True when `ds` is itself a checkpoint (its plan root is a
    * LogicalRDD). */
  def isCheckpoint(ds: Dataset[_]): Boolean = ds match {
    case c: ClassicDataset[_] => c.queryExecution.analyzed.isInstanceOf[LogicalRDD]
    case _ => false
  }

  /** True when any leaf of `ds`'s plan is a LogicalRDD (a checkpoint,
    * or another RDD-backed frame). */
  def readsCheckpoint(ds: Dataset[_]): Boolean = ds match {
    case c: ClassicDataset[_] =>
      c.queryExecution.analyzed.find(_.isInstanceOf[LogicalRDD]).isDefined
    case _ => false
  }
}
