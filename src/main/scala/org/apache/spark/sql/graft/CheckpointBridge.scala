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
