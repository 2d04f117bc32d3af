package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Residency.sweep unpersists localCheckpoint'd per-query scratch by
    // design; keep its expected WARNs out of the capture
    Residency.quietSweepWarnings()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // dev loop only (the driver never sets it): SPARK_GRAFT_BENCH_ONLY
    // restricts the run to a comma-separated query subset for A/Bs.
    // Unknown names FAIL LOUDLY (a typo or stale env var must not
    // yield a partial run indistinguishable from a canonical one),
    // and any active filter tags the output JSON as partial.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
      System.err.println(s"[bench] PARTIAL run: SPARK_GRAFT_BENCH_ONLY " +
        s"filter active (${names.size} of ${SparkEntry.queries.size} queries)")
    }
    val partialTag = if (only.isDefined) "\"partial\":true," else ""
    val sorted = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy(_._1)
    // per-query shuffle volume: wall-clock in the fixed-cost regime
    // hides data-movement growth, so record task-level shuffle
    // read/write deltas alongside the timings (the scale sweep flags
    // super-linear BYTES growth too)
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    // listener events are async: drain before each snapshot so deltas
    // attribute to the query that ran them. Drains happen OUTSIDE the
    // timed window — the wait is instrumentation cost, not query cost.
    def drain(): Unit =
      try org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      catch { case scala.util.control.NonFatal(_) => () }
    // one untimed warmup pass: JVM/JIT + codegen compilation + parquet
    // footer caching are session costs, not per-query engine cost.
    // Residency.sweep between queries drops each query's per-execution
    // checkpoint/persist scratch (memo state is pinned and survives):
    // without it ~650 query executions accumulate gigabytes of dead
    // blocks and GC-thrash the default 8g heap (round-17 regression).
    val warmT0 = System.nanoTime()
    sorted.foreach { case (_, fn) =>
      try fn(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(_) => () }
      Residency.sweep(spark)
    }
    val warmupSec = (System.nanoTime() - warmT0) / 1e9
    val rowCounts = scala.collection.mutable.LinkedHashMap[String, Long]()
    val shuffles = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    val results = sorted.flatMap { case (name, fn) =>
      drain()
      val (r0, w0) = (shufRead.get(), shufWrite.get())
      val t0 = System.nanoTime()
      try {
        rowCounts(name) = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        drain()
        shuffles(name) = (shufRead.get() - r0, shufWrite.get() - w0)
        // outside the timed window: drop this query's per-execution
        // checkpoint/persist scratch so it cannot tax later queries
        Residency.sweep(spark)
        Some(name -> dt)
      } catch {
        // NonFatal only: a dying JVM (OOM, interrupt) must kill the
        // bench loudly, not mask itself as one query's error and
        // mis-attribute the next query's shuffle delta
        case scala.util.control.NonFatal(e) =>
          errors(name) = e.getClass.getSimpleName
          Residency.sweep(spark)
          None
      }
    }
    // Locale.ROOT: a non-dot-decimal default locale must not emit
    // "0,123" into the JSON
    def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", d)
    // minimal JSON string escaper for error keys/values: today the
    // values are exception simple names (safe), but a future switch to
    // getMessage must not emit malformed JSON
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the FULL file keeps raw doubles — sub-ms queries must not
    // truncate to 0.000 in the line the scale sweep consumes
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val rows = rowCounts.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val shufR = shuffles.map { case (k, v) => s"\"" + k + "\":" + v._1 }
      .mkString("{", ",", "}")
    val shufW = shuffles.map { case (k, v) => s"\"" + k + "\":" + v._2 }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // STDOUT gets ONE budget-capped JSON line. The downstream capture
    // keeps only a ~2000-char tail of the run's output (with sbt's
    // "[success] ..." line after ours), so a line carrying all ~100
    // query names can never survive it intact. Spend the budget on the
    // EXPENSIVE queries — sort by time descending, include entries
    // while they fit — which is exactly the set a performance
    // comparison needs; the full per-query detail (raw times, rows,
    // shuffle bytes) always lands in the detail file.
    val lineBudget = 1850
    // the errors object rides in the uncapped head, so IT must fit the
    // budget too: a run with many failing queries would otherwise push
    // the whole line past the capture's tail window exactly when the
    // error detail matters — keep the first errors verbatim and
    // truncate the rest to a count (full detail is in the file)
    val errsCapped = {
      val entries = errors.toSeq.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      val errBudget = 600
      var used = 0
      val kept = entries.takeWhile { e =>
        val fits = used + e.length + 1 <= errBudget
        if (fits) used += e.length + 1
        fits
      }
      val dropped = entries.size - kept.size
      val tail = if (dropped > 0) Seq(s"\"_truncated\":\"+$dropped more\"") else Nil
      (kept ++ tail).mkString("{", ",", "}")
    }
    val head =
      s"""{"metric":"total",$partialTag"value":${fmt(total)},"unit":"sec","n_timed":${results.size},""" +
        s""""errors":$errsCapped,"sf":"${new java.io.File(sfDir).getName}",""" +
        s""""detail":"/tmp/graft_bench.json","queries":{"""
    var used = head.length + 2 // closing "}}"
    val picked = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    results.sortBy(-_._2).foreach { case (k, v) =>
      val cost = k.length + 3 + fmt(v).length + (if (picked.isEmpty) 0 else 1)
      if (used + cost <= lineBudget) { picked += (k -> v); used += cost }
    }
    val qs = picked.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString(",")
    val compact = head + qs + "}}"
    // memo/residency accounting (round-17 verdict item 8): what the
    // untimed warmup paid to build session memos, and the pinned
    // footprint those memos hold for the rest of the run
    val (pinMem, pinDisk, pinN) = Residency.pinnedFootprint(spark)
    val full =
      s"""{"metric":"total",$partialTag"value":$total,"unit":"sec","queries":$qsFull,"rows":$rows,""" +
        s""""shuffle_read":$shufR,"shuffle_write":$shufW,"errors":$errs,""" +
        s""""warmup_sec":${fmt(warmupSec)},"memo_build_sec":${fmt(Residency.memoBuildSec)},""" +
        s""""pinned_mem_bytes":$pinMem,"pinned_disk_bytes":$pinDisk,"pinned_rdds":$pinN,"sf":"$sfDir"}"""
    // persist the full line FIRST: stdout can be lost to log truncation
    // when the harness captures only a tail. Two copies: /tmp for the
    // scale sweep's dev loop, and BENCH_DETAIL.json in the repo root so
    // the COMMITTED round artifact carries every per-query time (the
    // budget-capped stdout line only fits the ~70 most expensive
    // entries; a 127-entry map cannot survive the capture's tail
    // window at any encoding).
    for (p <- Seq("/tmp/graft_bench.json", "BENCH_DETAIL.json")) {
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(p),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.stop()
    // print LAST, after stop(): nothing (shutdown WARNs included) may
    // land between this line and process exit and push it out of the
    // capture's tail window
    println(compact)
  }
}
