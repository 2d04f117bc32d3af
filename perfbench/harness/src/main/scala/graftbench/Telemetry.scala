package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime counters as graft drives it: jobs, stages, tasks, task
  * CPU, shuffle and spill bytes (SparkListener), planning time and the
  * rows out of the widest join of each query (QueryExecutionListener),
  * and GC time (GC MXBeans). Counters are read per named phase; the
  * listener bus is drained before each read, outside timed windows. */
final class Telemetry(spark: SparkSession) {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shRead = new AtomicLong
  private val shWrite = new AtomicLong
  private val spill = new AtomicLong
  private val planMs = new AtomicLong
  private val joinRows = new AtomicLong

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planMs.addAndGet(qe.tracker.phases.iterator
        .filter(_._1 != "parsing").map(_._2.durationMs).sum)
      joinRows.addAndGet(Telemetry.widestJoinRows(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  private def read(): Array[Long] = {
    BusDrain(spark.sparkContext)
    Array(jobs.get, stages.get, tasks.get, cpuNs.get, shRead.get, shWrite.get,
      spill.get, planMs.get, joinRows.get, gcMs)
  }

  private val totals = mutable.LinkedHashMap.empty[String, Array[Double]]

  /** Runs `body` as part of phase `name`, adding the counters it moved
    * (and its wall time) to that phase's totals. */
  def phase[T](name: String)(body: => T): T = {
    val before = read()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val after = read()
    val acc = totals.getOrElseUpdate(name, new Array[Double](Telemetry.Fields.length))
    var i = 0
    while (i < before.length) { acc(i) += (after(i) - before(i)).toDouble; i += 1 }
    acc(before.length) += wall
    out
  }

  /** Jobs started so far in this session, read after a drain. */
  def jobsSoFar(): Long = { BusDrain(spark.sparkContext); jobs.get }

  def report: Map[String, Map[String, Double]] =
    totals.map { case (name, acc) =>
      name -> Telemetry.Fields.indices.map(i => Telemetry.Fields(i) -> Telemetry.scale(i, acc(i))).toMap
    }.toMap
}

object Telemetry extends AdaptiveSparkPlanHelper {
  val Fields: Seq[String] = Seq("jobs", "stages", "tasks", "task_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "planning_ms",
    "join_rows", "gc_ms", "wall_s")

  private def scale(i: Int, v: Double): Double = if (Fields(i) == "task_cpu_s") v / 1e9 else v

  /** Output rows of the widest join in an executed plan (AQE stages
    * included): for a scoring query, the number of (query, candidate)
    * rows the distance kernel was evaluated on. */
  def widestJoinRows(plan: SparkPlan): Long = {
    val joins = collect(plan) {
      case j: BroadcastHashJoinExec => j: SparkPlan
      case j: ShuffledHashJoinExec => j: SparkPlan
      case j: SortMergeJoinExec => j: SparkPlan
    }
    joins.flatMap(_.metrics.get("numOutputRows").map(_.value)).foldLeft(0L)(math.max)
  }
}

/** In-memory spans: (name, start, end, parent, operation id). Disabled
  * tracers record nothing and cost one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val names = mutable.ArrayBuffer.empty[String]
  private val startBuf = mutable.ArrayBuffer.empty[Long]
  private val endBuf = mutable.ArrayBuffer.empty[Long]
  private val parentBuf = mutable.ArrayBuffer.empty[Int]
  private val opBuf = mutable.ArrayBuffer.empty[Long]
  private var open: List[Int] = Nil

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val idx = names.length
      names += name
      startBuf += System.nanoTime()
      endBuf += 0L
      parentBuf += open.headOption.getOrElse(-1)
      opBuf += op
      open = idx :: open
      try body
      finally {
        endBuf(idx) = System.nanoTime()
        open = open.tail
      }
    }

  /** Self time per span name, summed (seconds): each span's duration
    * minus the part of it its direct children cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](names.length)
    names.indices.foreach { i =>
      val p = parentBuf(i)
      if (p >= 0) childNs(p) += endBuf(i) - startBuf(i)
    }
    names.indices.groupBy(names(_)).map { case (name, is) =>
      name -> is.map(i => endBuf(i) - startBuf(i) - childNs(i)).sum / 1e9
    }
  }

  def rows: Seq[Seq[Any]] = names.indices.map { i =>
    Seq(names(i), startBuf(i), endBuf(i), parentBuf(i), opBuf(i))
  }.toSeq
}
