package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Spread.Ops

/** Relational coverage over the TPC-H-ish fixture tables: scan, filter
  * pushdown, hash aggregate, broadcast + shuffle joins, window
  * functions, global top-k, JSON extraction, gap-based sessionization.
  * (Extensions beyond the reference, which has no relational surface —
  * SURVEY.md §2.1.)
  *
  * Numeric determinism: every SUM over a double column casts per-row to
  * DECIMAL(18,6) first, so Spark and DuckDB accumulate identical exact
  * decimals; the final cast back to double is then bit-identical. Raw
  * double pass-through columns (no arithmetic) are also bit-identical.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def decSum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,6)")).cast("double")

  /** TPC-H Q1-shaped pricing summary: filter pushdown + hash agg with
    * map-side partials. */
  def qAggPricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("sum_disc_price"),
        (sum(col("l_discount").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Multi-level aggregate: ROLLUP over (returnflag, linestatus) in
    * one pass — detail, per-flag subtotals, and the grand total come
    * from a single expand + hash aggregate (one shuffle), not three
    * separate scans. Subtotal NULLs render as 'ALL' (the fixture
    * columns are non-null, so the marker is unambiguous). */
  def qRollupPricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("sum_price"), col("n"))
      .orderBy("rf", "ls")

  /** Revenue per nation: shuffle join (orders x customer) + broadcast
    * join against the tiny nation dim. */
  def qJoinRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(decSum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("n_name")

  /** TPC-H Q3-shaped shipping priority: the classic SELECTIVE
    * dimension filter (one market segment ≈ 20% of customers) + two
    * date predicates that must reach their parquet scans, a 3-way
    * join AQE sizes (the filtered customer side broadcasts), and a
    * top-10 over the join's revenue aggregate — TakeOrderedAndProject,
    * never a global sort. Revenue sums the per-row double product
    * DECIMAL-exactly (merge-order-free, the decSum convention). */
  def qShipPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-06-01").cast("timestamp")
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < cut)
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > cut)
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** Bucketed co-located join ([[graft.operators.Layout.writeBucketed]]
    * — both fact tables written with 8 hash buckets on the order key,
    * once per session via the memo): the orders↔lineitem revenue join
    * then runs bucket-to-bucket with ZERO Exchange (pinned in
    * LayoutSpec), the layout a recurring 100 TB fact-join warrants.
    * The oracle replays the join from the raw parquet — bucketing is
    * layout, never semantics. */
  private val bucketMemo = new IndexQueries.SessionMemo[(String, String)]
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (to, tl) = bucketMemo.get(s, dir) {
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val (no, nl) = (s"orders_bkt$tag", s"lineitem_bkt$tag")
      graft.operators.Layout.writeBucketed(t(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority"),
        s"/tmp/graft_bucketed/$tag/orders", no, "o_orderkey", 8)
      graft.operators.Layout.writeBucketed(t(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        s"/tmp/graft_bucketed/$tag/lineitem", nl, "l_orderkey", 8)
      (no, nl)
    }
    s.table(to).join(s.table(tl), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** Top-3 orders per customer — ranking window function. */
  def qWindowOrders(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rnk")
  }

  /** Global top-10 lineitem rows by price — TakeOrderedAndProject (the
    * distributed bounded heap, same algorithm as ref `src/lib.rs:74-97`
    * applied relationally). */
  def qTopnPrice(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(10)

  /** Hourly event rollup with JSON property extraction. `ts` is
    * normalized to a micros timestamp by [[EventsFixture]] whatever
    * dtype the fixture shipped. */
  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    EventsFixture.events(s, dir)
      .select(
        date_format(col("ts"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"),
        col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("hour", "event_type")
      .agg(
        count(lit(1)).as("n"),
        decSum(col("value")).as("sum_value"),
        sum(col("k")).as("sum_k"))
      .orderBy("hour", "event_type")

  /** Exponentially time-decayed event census per type (Cormode et al.
    * time-decayed streams — the freshness-weighted popularity a
    * mixing/trending pipeline uses where a plain count forgets
    * nothing): each event weighs 2^-age_days against the corpus max
    * timestamp (one-day half-life).
    *
    * Exactness convention: the weights are EXACT powers of two, so
    * each term enters the sum as the integer `2^(30 − age_days)` in
    * 2^-30 units — the sum is pure integer arithmetic (no float
    * accumulation at all), events older than 30 days contribute 0
    * (below one part in 2^30 — the documented truncation), and the
    * final division by 2^30 is an exact binary scale. The per-type
    * unit sums stay < 2^53 at any fixture SF (600 k × 2^30 ≈ 2^49.2),
    * so even the double rendering is bit-exact in both engines.
    *
    * Scale shape: ONE max-timestamp aggregate (1-row crossJoin back —
    * never collected) + ONE map-side-combined hash aggregate per
    * type. At 100 TB this is the cheapest possible shape: two narrow
    * scans' worth of work in one pass each, shuffle O(#types). */
  def qDecayCounts(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsFixture.events(s, dir)
      .select(col("event_type"), unix_timestamp(col("ts")).as("sec"))
    val ref = ev.agg(max(col("sec")).as("ref"))
    ev.crossJoin(ref)
      .withColumn("age", expr("(ref - sec) div 86400"))
      .withColumn("w_units",
        when(col("age") <= 30L,
          expr("shiftleft(1L, cast(30 - age as int))")).otherwise(0L))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("w_units")).as("decay_units"),
        (sum(col("w_units")).cast("double") / lit(1073741824.0d)).as("decayed"))
      .orderBy("event_type")
  }

  /** Gap-based sessionization (30-min inactivity): the batch rendering
    * of the streaming session-window operator. */
  /** SCD type-2 history: per-user validity intervals of the event_type
    * attribute (the slowly-changing-dimension rendering a warehouse
    * derives from a change stream): consecutive repeats compress away
    * (only CHANGES open a new version), `valid_to` is the next
    * version's start (NULL while current), version numbers count
    * changes. One per-user window pass — bounded per-key state, no
    * corpus-wide sort; (ts, event_id) total order. All
    * integer/timestamp arithmetic — exactly oracle-replayable. */
  /** CDC / MERGE application ([[graft.operators.Cdc.applyChanges]] —
    * the current-snapshot complement of the SCD2 history gate): a
    * deterministic two-wave change batch over `orders` — wave 1
    * deletes keys ≡ 0 (mod 7) and re-prices keys ≡ 1, 2 (mod 7) at
    * ×1.1, plus inserts (key + 1e6) for keys ≡ 0 (mod 13); wave 2
    * (higher seq — latest-wins is what the gate pins) resurrects
    * keys ≡ 0 (mod 14) at ×2.0 and deletes keys ≡ 1 (mod 7) ∧ ≡ 0
    * (mod 3) that wave 1 had upserted. The oracle replays the batch,
    * the per-key winner, and the merge row-for-row. */
  /** The deterministic two-wave change batch over `orders` — ONE
    * definition shared by the batch gate (q_cdc_apply) and the
    * streaming maintenance gate (q_stream_cdc, which stages the waves
    * as ordered files). `waveNo = 0` returns both waves. */
  private[queries] def cdcChanges(base: DataFrame, waveNo: Int = 0): DataFrame = {
    val k = col("o_orderkey")
    def wave(f: DataFrame => DataFrame, opv: org.apache.spark.sql.Column,
        seqv: Int,
        price: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
        keyShift: Long = 0L,
        status: Option[String] = None): DataFrame =
      f(base).select(
        (k + lit(keyShift)).as("o_orderkey"), col("o_custkey"),
        status.map(lit(_)).getOrElse(col("o_orderstatus")).as("o_orderstatus"),
        price(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"),
        opv.as("op"), lit(seqv).as("seq"))
    val w1 = wave(_.filter(k % 7 < 3),
        when(k % 7 === 0, "D").otherwise("U"), 1, _ * lit(1.1))
      .unionByName(wave(_.filter(k % 13 === 0), lit("U"), 1, identity,
        keyShift = 1000000L, status = Some("I")))
    val w2 = wave(_.filter(k % 14 === 0), lit("U"), 2, _ * lit(2.0))
      .unionByName(wave(_.filter(k % 7 === 1 && k % 3 === 0), lit("D"), 2, identity))
    waveNo match {
      case 1 => w1
      case 2 => w2
      case _ => w1.unionByName(w2)
    }
  }

  /** The q_cdc_apply / q_stream_cdc output rendering — shared so the
    * two gates share the oracle too. */
  private[queries] def cdcSnapshotOut(snap: DataFrame): DataFrame =
    snap.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy("o_orderkey")

  /** The batch-gate oracle SQL — also the streaming gate's (sequential
    * wave application ≡ latest-wins batch application). */
  private[queries] val cdcOracleSql: String =
      """WITH chg AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice,
        |         o_orderdate, o_orderpriority,
        |         CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op, 1 AS seq
        |  FROM orders WHERE o_orderkey % 7 < 3
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, o_custkey, 'I', o_totalprice,
        |         o_orderdate, o_orderpriority, 'U', 1
        |  FROM orders WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice * CAST(2.0 AS DOUBLE),
        |         o_orderdate, o_orderpriority, 'U', 2
        |  FROM orders WHERE o_orderkey % 14 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, 'D', 2
        |  FROM orders WHERE o_orderkey % 7 = 1 AND o_orderkey % 3 = 0),
        |latest AS (SELECT * FROM (
        |    SELECT chg.*, row_number() OVER (PARTITION BY o_orderkey
        |                    ORDER BY seq DESC) AS rn
        |    FROM chg) r WHERE rn = 1),
        |merged AS (
        |  SELECT coalesce(l.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN l.op = 'U' THEN l.o_custkey ELSE b.o_custkey END AS o_custkey,
        |    CASE WHEN l.op = 'U' THEN l.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
        |    CASE WHEN l.op = 'U' THEN l.o_totalprice ELSE b.o_totalprice END AS o_totalprice,
        |    CASE WHEN l.op = 'U' THEN l.o_orderdate ELSE b.o_orderdate END AS o_orderdate,
        |    CASE WHEN l.op = 'U' THEN l.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority,
        |    l.op AS op
        |  FROM orders b FULL OUTER JOIN latest l ON b.o_orderkey = l.o_orderkey)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
        |FROM merged WHERE op IS NULL OR op = 'U'
        |ORDER BY o_orderkey""".stripMargin

  def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
    cdcSnapshotOut(
      graft.operators.Cdc.applyChanges(base, cdcChanges(base), "o_orderkey"))
  }

  /** Snapshot diff ([[graft.operators.Cdc.snapshotDiff]]) gated as the
    * literal inverse of the MERGE gate: diffing the base `orders`
    * snapshot against the CDC-applied snapshot must recover exactly
    * the net change feed — the wave-1 inserts surface as `added`, the
    * un-resurrected deletes as `removed`, every re-priced key as
    * `changed`, and the untouched corpus mass (the overwhelming
    * majority) is filtered out before it reaches the output. */
  def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
    val applied =
      graft.operators.Cdc.applyChanges(base, cdcChanges(base), "o_orderkey")
    graft.operators.Cdc.snapshotDiff(base, applied, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  def qScd2History(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val changes = EventsFixture.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("__prev", lag(col("event_type"), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col("event_type"))
    val wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes
      .withColumn("version", row_number().over(wc))
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(wc))
      .select(col("user_id"), col("version"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"))
      .orderBy("user_id", "version")
  }

  /** Trailing-window anomaly census: per event_type hourly counts
    * z-scored against the previous 24 full hours ((x−μ)/σ with μ, σ²
    * assembled from EXACT integer window sums — the only float ops
    * are two divisions and one IEEE-correctly-rounded sqrt, so both
    * engines agree; z rounds to 4 dp). The drift alarm a pipeline
    * runs on its ingest volumes; per-type bounded window state, no
    * global sort. Rows with a full 24-hour history and σ² > 0. */
  def qAnomalyHourly(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = EventsFixture.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(-24, -1)
    hourly
      .withColumn("__cnt", count(col("n")).over(w))
      .withColumn("__s1", sum(col("n")).over(w))
      .withColumn("__s2", sum(col("n") * col("n")).over(w))
      .filter(col("__cnt") === 24)
      .withColumn("mean", col("__s1").cast("double") / lit(24.0))
      .withColumn("__var",
        (col("__s2").cast("double") - col("__s1").cast("double") *
          col("__s1").cast("double") / lit(24.0)) / lit(24.0))
      .filter(col("__var") > 0)
      .select(col("hour"), col("event_type"), col("n"),
        round(col("mean"), 4).as("mean"),
        round((col("n").cast("double") - col("mean")) / sqrt(col("__var")), 4).as("z"))
      .orderBy("hour", "event_type")
  }

  def qEventsSessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    // gaps compare in exact epoch micros on both engines (the
    // normalized ts is micros precision; the oracle truncates
    // epoch_ns // 1000 to the same micros before the cut) — no
    // ambiguity even if the fixture reverts to nanos precision.
    EventsFixture.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("gap").isNull || col("gap") <= lit(1800L * 1000000L), 0).otherwise(1))
      .groupBy("user_id")
      .agg(
        (sum(col("new_s")) + 1).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** As-of join: each purchase event attributed to the user's latest
    * click at-or-before it (null when none) — the temporal-join
    * primitive, via the union-window rendering in operators/AsOfJoin. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_id").as("click_id"))
    graft.operators.AsOfJoin
      .asOf(purchases, clicks, key = "user_id", ts = "ts",
        payloadCol = "click_id", tieBreak = "event_id")
      // null-free output: no-prior-click encodes as -1 so the driver's
      // value hashing never sees engine-specific NULL renderings
      .select(col("event_id").as("purchase_id"), col("user_id"),
        coalesce(col("asof_click_id"), lit(-1L)).as("asof_click_id"))
      .orderBy("purchase_id")
  }

  /** Time-range join: for each purchase event, the number of clicks by
    * the same user in the trailing hour — operators/RangeJoin's binned
    * rendering (each purchase meets exactly two (user, hour-bin)
    * buckets; the oracle states the same semantics as the naive
    * inequality join, so the bin decomposition is proven exactly
    * equivalent). Timestamps compare in epoch micros on both engines. */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsFixture.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us"))
    graft.operators.RangeJoin.countInWindow(
        purchases, clicks, key = "user_id", leftId = "event_id",
        leftTs = "us", rightTs = "us",
        windowMicros = 3600L * 1000000L, outCol = "n_clicks")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("n_clicks"))
      .orderBy("purchase_id")
  }

  /** Ordered step funnel (signup → click → purchase): per user, the
    * first signup, then the first click strictly AFTER it, then the
    * first purchase strictly after THAT — the sequential-pattern
    * analytics shape. Each stage is one per-user min-aggregate joined
    * to the previous stage's survivors, so the plan is three bounded
    * hash-agg + join rounds, never a per-user event sort. The stage
    * joins carry NO broadcast hint: the per-user aggregate grows with
    * the corpus, so a forced broadcast would OOM executors at 100× —
    * AQE broadcasts when a side is genuinely small and shuffles
    * otherwise (PlanShapeSpec pins the no-forced-broadcast shape).
    * Timestamps compare in epoch micros on both engines. */
  def qEventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsFixture.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val t1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("us").as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, Seq("user_id"))
      .filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min("us").as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, Seq("user_id"))
      .filter(col("us") > col("t2"))
      .groupBy("user_id").agg(min("us").as("t3"))
    def stage(df: DataFrame, step: Int, name: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).cast("int").as("step"), lit(name).as("event_type"),
          col("n_users"))
    stage(t1, 1, "signup")
      .unionByName(stage(t2, 2, "click"))
      .unionByName(stage(t3, 3, "purchase"))
      .orderBy("step")
  }

  /** Weekly cohort retention: users bucket into the week of their
    * FIRST event (the cohort), and the matrix counts distinct active
    * users per (cohort, activity week) — the standard retention
    * rollup. Two shuffles (per-user min, then the matrix group-by);
    * weeks truncate to ISO Mondays identically on both engines. */
  def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val w = EventsFixture.events(s, dir)
      .select(col("user_id"),
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("wk"))
    val cohort = w.groupBy("user_id").agg(min("wk").as("cohort"))
    w.join(cohort, Seq("user_id"))
      .groupBy("cohort", "wk")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort", "wk")
  }

  /** Salted skew join: lineitem ⋈ part on partkey with the hot keys
    * spread over 8 salt buckets (operators/SkewJoin) — the structural
    * answer to Zipfian join keys at 100 TB, where AQE's post-shuffle
    * splitting isn't enough. The salt is internal: the join result is
    * identical to the plain equi-join by construction, which is
    * exactly what the oracle checks (plain JOIN SQL). Aggregated per
    * brand so the gated output is stable and small. */
  def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .select(col("l_partkey").as("partkey"), col("l_extendedprice"))
    val small = t(s, dir, "part")
      .select(col("p_partkey").as("partkey"), col("p_brand"))
    graft.operators.SkewJoin.salted(big, small, key = "partkey", salt = 8)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), decSum(col("l_extendedprice")).as("sum_price"))
      .orderBy("p_brand")
  }

  /** Join-key skew census — the pre-shuffle diagnostic that decides
    * whether a join needs [[graft.operators.SkewJoin.salted]] / AQE
    * skew handling BEFORE it runs: per-key occurrence counts rolled
    * into (rows, distinct keys, max key count, top-1 share in basis
    * points, self-join size Σcnt²) plus the top-5 hottest keys. The
    * `selfjoin_size` column is exactly what [[graft.operators.
    * Sketches.F2]] estimates from O(d·w) state when the exact census
    * is itself too hot to shuffle. One map-side-combined aggregate +
    * a bounded top-k (no window sort); all-integer output. */
  def qKeySkew(s: SparkSession, dir: String): DataFrame = {
    val keyed = t(s, dir, "lineitem").select(col("l_partkey").as("k"))
    val perKey = keyed.groupBy("k").agg(count(lit(1)).as("c"))
    val census = perKey.agg(
      sum(col("c")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("c")).as("max_c"),
      sum(col("c") * col("c")).as("selfjoin_size"))
    val top = perKey.orderBy(col("c").desc, col("k")).limit(5)
      .select(col("k"), col("c"))
      .agg(collect_list(struct(col("c"), col("k"))).as("tl"))
      .select(transform(array_sort(col("tl"),
        (a, b) => when(a("c") > b("c"), -1).when(a("c") < b("c"), 1)
          .when(a("k") < b("k"), -1).when(a("k") > b("k"), 1).otherwise(0)),
        x => x("k")).as("top_keys"))
    census.crossJoin(top)
      .select(col("n_rows"), col("n_keys"), col("max_c"),
        expr("max_c * 10000 div n_rows").as("top1_share_bp"),
        col("selfjoin_size"),
        concat_ws(",", col("top_keys")).as("top_keys"))
  }

  /** Pivot rollup: per-user event counts by type as columns. */
  def qPivotEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont`: both linear interpolation at p·(n−1)). */
  def qPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** KMV distinct-count sketch vs truth: the bounded-memory
    * cardinality estimate over lineitem's order keys (k=256 smallest
    * distinct hashes → (k−1)·2³² / h_k), alongside the exact distinct
    * count — the oracle replays the hash, the bottom-k cut, and the
    * estimator arithmetic exactly. */
  def qDistinctKmv(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    graft.operators.Sketches.kmvDistinct(li, col("l_orderkey"), k = 256)
      .crossJoin(li.agg(countDistinct(col("l_orderkey")).as("n_exact")))
  }

  /** KMV over a TEXT key (VERDICT r10 item #3 — the sketch suite's
    * natural 100 TB input is token/shingle text, which the numeric
    * surface now rejects loudly): distinct word 3-shingles of the
    * document corpus, sketched through the md5 string fingerprint.
    * The oracle replays the shingling, the fingerprint
    * (`('0x'||substr(md5(s),1,15))::BIGINT`), the bottom-k cut, and
    * the estimator; the exact distinct count rides beside it so the
    * gate also publishes sketch-vs-truth. */
  def qDistinctKmvText(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    graft.operators.Sketches.kmvDistinctText(sh, col("tok3"), k = 256)
      .crossJoin(sh.agg(countDistinct(col("tok3")).as("n_exact")))
  }

  /** HyperLogLog distinct-shingle census ([[graft.operators.Sketches.Hll]]
    * — the mergeable REGISTER sketch beside the bottom-k KMV gate):
    * the oracle replays the md5 fingerprint split (low 9 bits →
    * register, trailing-zero rank of the 51-bit suffix → rho), the
    * element-wise MAX register table, the exact integer indicator sum
    * and the one-division estimate; the exact distinct count rides
    * beside it (sketch-vs-truth). */
  def qDistinctHll(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    graft.operators.Sketches.Hll.distinctText(sh, col("tok3"))
      .crossJoin(sh.agg(countDistinct(col("tok3")).as("n_exact")))
  }

  /** The one-pass GLOBAL HLL build replayed in SQL — shared verbatim
    * by q_distinct_hll (whose engine arm builds globally) and
    * q_hll_union (whose engine arm builds per-source shards and
    * merges), so the cross-engine hash doubles as the merge ≡ global
    * equivalence proof. */
  private val distinctHllOracleSql: String = {
    import graft.operators.Sketches.Hll.{EstNum, M, RhoCap}
    s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents
       |              WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (SELECT unnest(list_transform(range(1, len(t) - 1),
       |                i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS tok3
       |       FROM toks),
       |h AS (SELECT ('0x' || substr(md5(tok3), 1, 15))::BIGINT AS fp FROM sh),
       |reg AS (SELECT fp % $M AS idx,
       |          max(CASE WHEN fp // $M = 0 THEN $RhoCap
       |               ELSE CAST(floor(log2((fp // $M) & -(fp // $M))) AS INT) + 1 END) AS rho
       |        FROM h GROUP BY 1),
       |a AS (SELECT count(*) AS nz,
       |        coalesce(sum(CAST(1 AS BIGINT) << ($RhoCap - rho)), 0) AS s_obs FROM reg),
       |b AS (SELECT CAST($M AS INT) AS m, CAST($M - nz AS INT) AS v_zero,
       |        CAST(s_obs + ($M - nz) * (CAST(1 AS BIGINT) << $RhoCap) AS BIGINT)
       |          AS s_units FROM a)
       |SELECT m, v_zero, s_units,
       |  round(CASE WHEN v_zero > 0
       |              AND CAST($EstNum AS DOUBLE) / CAST(s_units AS DOUBLE)
       |                  <= CAST(${2.5 * M} AS DOUBLE)
       |        THEN CAST($M AS DOUBLE) * ln(CAST($M AS DOUBLE) / CAST(v_zero AS DOUBLE))
       |        ELSE CAST($EstNum AS DOUBLE) / CAST(s_units AS DOUBLE) END, 2) AS est,
       |  (SELECT count(DISTINCT tok3) FROM sh) AS n_exact
       |FROM b""".stripMargin
  }

  /** The mergeability pin for the HLL family
    * ([[graft.operators.Sketches.Hll.registersBy]] + `mergeAll`):
    * per-SOURCE register tables — the shard-local builds a 100 TB
    * layout actually produces — merged by element-wise max, then
    * estimated. The oracle is the GLOBAL one-pass build verbatim
    * (q_distinct_hll's SQL), so the driver hash itself proves
    * merge(shard sketches) ≡ global sketch, register-for-register. */
  def qHllUnion(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    import graft.operators.Sketches.Hll
    Hll.estimate(Hll.mergeAll(Hll.registersBy(sh, col("source"), col("tok3"))))
      .crossJoin(sh.agg(countDistinct(col("tok3")).as("n_exact")))
  }

  /** `(source, tok3)` word 3-shingles of the document corpus — shared
    * by the global and grouped text-KMV gates. The token array
    * materializes before shingling (the shinglesFromTokens lesson:
    * HOF lambdas re-evaluate nested expressions per element; an
    * attribute reference is free). */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(transform(
        sequence(lit(1), size(col("t")) - 2),
        i => concat_ws("_", element_at(col("t"), i),
          element_at(col("t"), i + 1), element_at(col("t"), i + 2)))).as("tok3"))

  /** Per-SOURCE distinct-shingle census from the GROUPED KMV sketch
    * ([[graft.operators.Sketches.kmvGroupedText]] — the batch
    * groupBy arm of the bounded Aggregator already gated streaming by
    * q_stream_kmv): the "vocabulary per domain" data-mixing QA where
    * per-group COUNT(DISTINCT shingle) would shuffle the corpus. k=64
    * so the estimator path (not the exact small-cardinality path) is
    * what the gate pins; the exact per-group count rides beside it. */
  def qKmvGrouped(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    graft.operators.Sketches.kmvGroupedText(sh, col("source"), col("tok3"), k = 64)
      .withColumnRenamed("grp", "source")
      .join(sh.groupBy("source").agg(countDistinct(col("tok3")).as("n_exact")), "source")
      .orderBy("source")
  }

  /** Per-SOURCE HLL register sketch
    * ([[graft.operators.Sketches.hllGroupedText]] — the grouped twin
    * of q_distinct_hll, beside the grouped KMV gate): per-domain
    * distinct-shingle registers at O(m) state per group; the exact
    * count rides beside (sketch-vs-truth). */
  def qHllGrouped(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    graft.operators.Sketches.hllGroupedText(sh, col("source"), col("tok3"))
      .withColumnRenamed("grp", "source")
      .join(sh.groupBy("source").agg(countDistinct(col("tok3")).as("n_exact")),
        "source")
      .orderBy("source")
  }

  /** PageRank centrality over the supplier↔part co-purchase graph
    * ([[graft.operators.Graph.pageRank]] — the link-graph quality
    * prior of a web-scale corpus pipeline, run here on the fixture's
    * natural bipartite graph): distinct (l_suppkey, l_partkey) pairs
    * symmetrized into a directed edge list (part nodes offset into
    * their own id namespace), 3 damped iterations in exact 1e-12
    * integer-unit arithmetic, top-50 by (rank DESC, node). The
    * oracle unrolls all three iterations as CTEs with the identical
    * floor/unit convention. */
  /** The symmetrized supplier↔part link graph, PREPARED (distinct +
    * degree-annotated cache + sink-flagged nodes) once per session +
    * fixture: the uniform and personalized PageRank gates rank the
    * SAME graph under different teleport vectors, so the loop-
    * invariant O(E) build is shared (the ccMemo rationale). The
    * dangling gate (orders graph) and TextRank (word graph) rank
    * different graphs and keep their own builds. */
  private val suppPartGraphMemo =
    new IndexQueries.SessionMemo[graft.operators.Graph.PreparedGraph]
  private def suppPartGraph(s: SparkSession, dir: String) =
    suppPartGraphMemo.get(s, dir) {
      val base = t(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("s"),
          (col("l_partkey").cast("long") + 1000000L).as("p"))
        .distinct()
      val edges = base.select(col("s").as("src"), col("p").as("dst"))
        .union(base.select(col("p").as("src"), col("s").as("dst")))
      graft.operators.Graph.prepare(edges)
    }

  def qPageRank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRankPrepared(suppPartGraph(s, dir), iters = 3)
      .orderBy(col("rank").desc, col("node")).limit(50)

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004 §3) —
    * [[graft.operators.Graph.pageRank]] COMPOSED over the word
    * co-occurrence graph instead of a link graph: adjacent content
    * tokens (length ≥ 4, the cheap replayable stopword screen) become
    * symmetrized edges, 3 exact integer-unit damped iterations rank
    * the vocabulary, top-15 keywords by (rank DESC, word). Words
    * enter the long-id node space via the established md5-prefix
    * fingerprint and map back by a collision-safe min(word).
    *
    * Scale shape: the ONLY corpus-scale work is tokenize + adjacent-
    * pair emission (map-only) followed by the edge distinct — the
    * graph itself is O(vocab²∩observed), a model-sized artifact, and
    * the iteration cost is [[Graph.pageRank]]'s (per-round: one O(N)
    * rank shuffle against the degree-annotated edge cache). */
  def qTextrank(s: SparkSession, dir: String): DataFrame = {
    def fp(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
    // spread before the tokenize→pair pass (the single-input-task
    // lesson: one parquet file otherwise runs the corpus scan's pair
    // emission on one task — 0.36 s at sf0.1)
    val tk = t(s, dir, "documents")
      .spread(col("doc_id"))
      .select(split(col("text"), "\\s+").as("tk"))
    val pairs = tk
      .select(explode(filter(
        transform(sequence(lit(0), size(col("tk")) - 2),
          i => struct(element_at(col("tk"), i + 1).as("a"),
            element_at(col("tk"), i + 2).as("b"))),
        p => length(p("a")) >= 4 && length(p("b")) >= 4 && p("a") =!= p("b")))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // ONE tokenize→pair pass feeds both the fingerprint edge list and
    // the word→id mapback table: distinct pairs are vocabulary²-bounded
    // (tiny vs the corpus), so materializing them here means the heavy
    // corpus scan never re-runs for the second consumer (it did — the
    // words branch re-tokenized the whole corpus, measured in the
    // BASELINE.md textrank A/B)
    val wordPairs = pairs.distinct().localCheckpoint()
    val base = wordPairs.select(fp(col("a")).as("s"), fp(col("b")).as("p")).distinct()
    val edges = base.select(col("s").as("src"), col("p").as("dst"))
      .union(base.select(col("p").as("src"), col("s").as("dst")))
    val words = wordPairs.select(col("a").as("word"))
      .union(wordPairs.select(col("b").as("word"))).distinct()
      .groupBy(fp(col("word")).as("node")).agg(min(col("word")).as("word"))
    graft.operators.Graph.pageRank(edges, iters = 3)
      .join(words, "node")
      .orderBy(col("rank").desc, col("word").asc)
      .limit(15)
      .select(col("word"), col("rank"))
  }

  /** PERSONALIZED PageRank ([[graft.operators.Graph.pageRankPersonalized]]
    * — teleport mass on a 3-supplier seed set instead of uniform, so
    * rank measures proximity TO THE SEEDS over the symmetric
    * supplier↔part graph: the "related items from these anchors"
    * serving query). Same exact integer-unit rounds; the teleport
    * vector is itself 12-dp floored, and the oracle unrolls all three
    * rounds with the per-node t(v) term. */
  def qPageRankPersonalized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seeds = Seq(1L, 2L, 3L).toDF("node")
    graft.operators.Graph.pageRankPrepared(suppPartGraph(s, dir),
        iters = 3, teleport = Some(seeds))
      .orderBy(col("rank").desc, col("node")).limit(50)
  }

  /** PageRank over a graph WITH sinks — the directed customer→order
    * bipartite graph, where every order node is dangling
    * ([[graft.operators.Graph.pageRank]] with `danglingRedistribute`:
    * Page et al. '99 §2.7, sink mass split uniformly per round in the
    * same exact integer units). The oracle unrolls all three rounds
    * including the per-round dangling census CTE. */
  /** The distinct directed customer→order edge list, built once per
    * session + fixture (the suppPartGraph convention): the dangling
    * PageRank gate and the HITS gate rank the SAME graph under
    * different recurrences, so the O(E) scan + distinct is shared. */
  private val custOrderEdgesMemo = new IndexQueries.SessionMemo[DataFrame]
  private def custOrderEdges(s: SparkSession, dir: String): DataFrame =
    custOrderEdgesMemo.get(s, dir) {
      t(s, dir, "orders")
        .select(col("o_custkey").cast("long").as("src"),
          (col("o_orderkey").cast("long") + 2000000L).as("dst"))
        .distinct()
        .localCheckpoint()
    }

  def qPageRankDangling(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRank(custOrderEdges(s, dir),
        iters = 3, danglingRedistribute = true)
      .orderBy(col("rank").desc, col("node")).limit(50)

  /** Label-propagation communities
    * ([[graft.operators.Graph.labelPropagate]] — Raghavan et al. '07
    * made synchronous + deterministic) over the supplier↔part
    * bipartite graph: 2 rounds, labels seeded by node id, most-
    * frequent-neighbour-label updates with smallest-label tie-break,
    * output = the community-size census (top 50 by size, label
    * tiebreak). The oracle unrolls both rounds — the per-round
    * (node, label) count census and the (count DESC, label ASC)
    * argmax window — exactly. */
  /** The 2-round LPA labels over the supplier↔part graph, computed
    * once per session + fixture: q_lpa censuses them and q_modularity
    * grades them — the SAME labeling both times by construction, so
    * the second gate pays a lookup, not a second 2-round propagation
    * (the suppPartGraph memo convention one level up). The returned
    * frame is fully materialized (labelPropagate localCheckpoints its
    * result). */
  private val lpaLabelsMemo = new IndexQueries.SessionMemo[DataFrame]
  private def lpaLabels(s: SparkSession, dir: String): DataFrame =
    lpaLabelsMemo.get(s, dir) {
      graft.operators.Graph.labelPropagate(suppPartGraph(s, dir).e, rounds = 2)
    }

  def qLpa(s: SparkSession, dir: String): DataFrame = {
    // share the session-memoized supplier↔part graph with the PageRank
    // gates (the ccMemo convention): its persisted `e` is already the
    // symmetric distinct edge list, so the operator's normalization
    // pass runs over the cache instead of re-scanning lineitem
    lpaLabels(s, dir)
      .groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("label"))
      .limit(50)
  }

  /** Newman modularity Q over the q_lpa communities
    * ([[graft.operators.Graph.modularity]] — the falsifiable quality
    * number for the community gate, the way RecallSpec floors the ANN
    * gates): one exact-integer census row (n_communities, 2m, internal
    * edges, q_num/q_den, floor(Q·10⁹)).
    *
    * HONESTY NOTE (the metric working as intended): on this BIPARTITE
    * supplier↔part graph, synchronous label propagation OSCILLATES —
    * each round every supplier adopts a part-side label and vice versa
    * (the known synchronous-LPA bipartite pathology; Raghavan et al.
    * '07 §III discuss label oscillation on bipartite structure) — so
    * after any fixed even round count NO edge is internal (e_in = 0,
    * probed 0 at all three SFs) and Q is NEGATIVE (−0.5/−0.43/−0.04 by
    * SF). That is exactly what a modularity census is FOR: it flags
    * that this partition is anti-community, which the size census
    * (q_lpa) alone cannot see. The positive arm (two disjoint cliques
    * → Q = +½ exactly) is pinned by hand in GraphSpec. */
  def qModularity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.modularity(suppPartGraph(s, dir).e, lpaLabels(s, dir))

  /** HITS hubs-and-authorities ([[graft.operators.Graph.hits]] —
    * Kleinberg '99, L1-normalized integer units) over the directed
    * customer→order graph: hubs are customers weighted by the
    * authority of the orders they place, authorities are orders
    * weighted by their customer's hub score — after 2 rounds the hub
    * side ranks customers by reinforced order volume, the side
    * PageRank's single score can't separate (q_pagerank_dangling ranks
    * the SAME graph by in-mass only). Output is the two-sided census:
    * top-25 authorities and top-25 hubs, each tagged, so a gate
    * exercises BOTH score vectors. The oracle unrolls both rounds —
    * transfer sums and the `(raw·1e12) // Σraw` L1 re-normalizations —
    * exactly (`//` in DuckDB and `DIV` in Spark agree: all values
    * non-negative). */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    // shares the session-memoized distinct edge list with
    // q_pagerank_dangling (both rank the customer→order graph)
    val edges = custOrderEdges(s, dir)
    val hb = graft.operators.Graph.hits(edges, rounds = 2)
    def top(c: String, side: String) = hb
      .orderBy(col(c).desc, col("node")).limit(25)
      .select(lit(side).as("side"), col("node"), col(c).as("units"))
    top("auth_units", "auth").unionAll(top("hub_units", "hub"))
      .orderBy(col("side"), col("units").desc, col("node"))
  }

  /** WEIGHTED PageRank ([[graft.operators.Graph.pageRankWeighted]] —
    * mass splits across out-edges proportionally to weight, the
    * general form of the uniform recurrence) over the supplier↔part
    * graph weighted by lineitem multiplicity per pair: rank now
    * reflects interaction VOLUME, not mere adjacency. The oracle
    * unrolls all three rounds with the exact integer per-edge share
    * `(floor(rank·1e12) · w) // W_src`. */
  private val wSuppPartGraphMemo =
    new IndexQueries.SessionMemo[graft.operators.Graph.PreparedWGraph]
  def qPageRankWeighted(s: SparkSession, dir: String): DataFrame = {
    // session-memoized weighted graph build (the suppPartGraph /
    // ccMemo convention): the O(E) fold + weight-sum + census runs
    // once per session; repeat invocations pay only the 3 rounds
    val g = wSuppPartGraphMemo.get(s, dir) {
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").cast("long").as("s"),
          (col("l_partkey").cast("long") + 1000000L).as("p"))
        .agg(count(lit(1)).as("w"))
      val edges = base.select(col("s").as("src"), col("p").as("dst"), col("w"))
        .union(base.select(col("p").as("src"), col("s").as("dst"), col("w")))
      graft.operators.Graph.prepareWeighted(edges)
    }
    graft.operators.Graph.pageRankWeightedPrepared(g, iters = 3)
      .orderBy(col("rank").desc, col("node")).limit(50)
  }

  /** One unrolled weighted-PageRank round for the q_pagerank_weighted
    * oracle — the integer per-edge share `(u · w) // W` beside
    * [[prIterSql]]'s uniform `floor(rank/deg·1e12)`. */
  private def wprIterSql(k: Int): String =
    s"""i$k AS (SELECT e.dst AS node,
       |        sum((CAST(floor(r.rank * 1e12) AS BIGINT) * e.w) // ws.ws) AS u
       |      FROM e JOIN ws ON e.src = ws.src
       |             JOIN r${k - 1} r ON e.src = r.node GROUP BY 1),
       |r$k AS (SELECT nodes.node,
       |        floor(((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
       |               + CAST(0.85 AS DOUBLE) * (CAST(coalesce(u, 0) AS DOUBLE) / 1e12)) * 1e12) / 1e12 AS rank
       |      FROM nodes CROSS JOIN nn LEFT JOIN i$k ON nodes.node = i$k.node)""".stripMargin

  /** 2-hop reach census ([[graft.operators.Graph.kHopReach]] — the
    * friend-of-friend neighbourhood size per node, the expansion
    * profile behind seed-set sizing and near-dup-graph QA) over the
    * supplier↔part bipartite graph: exact distinct-pair BFS (one
    * self-join + union + distinct), top-50 by (reach DESC, node).
    *
    * The gate runs on the part-key-bounded induced subgraph (the
    * MMR/mutual-kNN bounded-pool contract): 2-hop reach's inherent
    * cost is the wedge count Σ deg², which on the FULL fixture
    * bipartite graph is ~374M pairs at sf0.1 (and ~28M at the DENSER sf0.01, whose 100 suppliers share 2000 parts) — the true answer's own
    * size, not a missing filter, so the fixture bounds the pool the
    * way a production caller bounds it (a blocking bucket, a
    * community, a category subgraph). The predicate pushes to the
    * parquet scan. */
  def qKhop(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "lineitem")
      .filter(col("l_partkey") < 500)
      .select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000L).as("dst"))
    graft.operators.Graph.kHopReach(edges, k = 2)
      .orderBy(col("reach").desc, col("node")).limit(50)
  }

  /** k-core peeling over the supplier↔part bipartite graph
    * ([[graft.operators.Graph.kCorePeel]] — Seidman degeneracy cores,
    * the graph-cleanup pass before centrality/community work): 3
    * fixed peel rounds at k = 25 (≥ the measured fixpoint depth on
    * every fixture SF, so the gate IS the true 25-core), output =
    * survivors with their in-core degree. At sf0.001 every part has
    * degree ≤ 10, so the whole graph peels — the all-peeled edge
    * case rides the gate there; the nontrivial cores (1370/2100
    * nodes at sf0.01) gate the other two SFs. All-integer
    * arithmetic; the oracle unrolls the rounds from one shared CTE
    * definition. */
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    // no caller-side distinct: kCorePeel normalizes + dedups the pair
    // list itself, so one here would just add an extra O(E) shuffle
    val pairs = t(s, dir, "lineitem")
      .select(col("l_suppkey").cast("long").as("a"),
        (col("l_partkey").cast("long") + 1000000L).as("b"))
    graft.operators.Graph.kCorePeel(pairs, k = 25, rounds = 3)
      .orderBy("node")
  }

  /** A-Priori frequent co-purchase pairs
    * ([[graft.operators.Itemsets.frequentPairs]] — the two-pass
    * Agrawal-Srikant shape over order baskets): items = parts, baskets
    * = orders; pass 1 keeps parts ordered ≥ 30 times (about half the
    * catalog at every fixture SF — the pruning is real), pass 2
    * counts pairs of surviving parts co-ordered in one basket and
    * keeps support ≥ 3. All-integer; the oracle replays both passes
    * verbatim. Non-empty at all three SFs (231/36/1 pairs). */
  def qFreqPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Itemsets.frequentPairs(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", itemMinSupport = 30L, pairMinSupport = 3L)
      .orderBy("item_a", "item_b")

  /** The r-th k-core peel round as oracle CTEs: degree census over
    * the surviving edges, keep set, filtered edge list. */
  /** One unrolled label-propagation round for the q_lpa oracle: the
    * (node, label) neighbour census over the symmetric edge CTE `e`,
    * then the (count DESC, label ASC) argmax. Round 1 seeds labels
    * with node ids inline. */
  private def lpaRoundSql(k: Int): String = {
    val prev =
      if (k == 1) "(SELECT DISTINCT src AS node, src AS lbl FROM e)"
      else s"l${k - 1}"
    s"""c$k AS (SELECT e.dst AS node, l.lbl, count(*) AS cnt
       |      FROM e JOIN $prev l ON l.node = e.src GROUP BY 1, 2),
       |l$k AS (SELECT node, lbl FROM (
       |        SELECT node, lbl,
       |          row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
       |        FROM c$k) WHERE rn = 1)""".stripMargin
  }

  /** The k-th HITS round as oracle CTEs: authority transfer sum +
    * L1 re-norm (`a{k}raw`/`a{k}s`/`a{k}`), then the hub half
    * (`h{k}raw`/`h{k}s`/`h{k}`). `//` floors in DuckDB; every value is
    * non-negative so it agrees with Spark's truncating DIV. */
  private def hitsRoundSql(k: Int): String = {
    val hPrev = if (k == 1) "h0" else s"h${k - 1}"
    s"""a${k}raw AS (SELECT e.dst AS node, sum(p.h) AS raw
       |  FROM e JOIN $hPrev p ON e.src = p.node GROUP BY 1),
       |a${k}s AS (SELECT sum(raw) AS s FROM a${k}raw),
       |a$k AS (SELECT node, CAST((raw * 1000000000000) // s AS BIGINT) AS a
       |  FROM a${k}raw, a${k}s),
       |h${k}raw AS (SELECT e.src AS node, sum(q.a) AS raw
       |  FROM e JOIN a$k q ON e.dst = q.node GROUP BY 1),
       |h${k}s AS (SELECT sum(raw) AS s FROM h${k}raw),
       |h$k AS (SELECT node, CAST((raw * 1000000000000) // s AS BIGINT) AS h
       |  FROM h${k}raw, h${k}s)""".stripMargin
  }

  private def kcoreRoundSql(r: Int, k: Int): String =
    s"""d$r AS (SELECT u, count(*) AS deg FROM e${r - 1} GROUP BY u),
       |k$r AS (SELECT u FROM d$r WHERE deg >= $k),
       |e$r AS (SELECT e.u, e.v FROM e${r - 1} e
       |        JOIN k$r a ON e.u = a.u JOIN k$r b ON e.v = b.u)""".stripMargin

  /** The k-th dangling-aware PageRank iteration as oracle CTEs
    * (`d{k}` sink census, `i{k}` contributions, `r{k}`). */
  private def prIterDangSql(k: Int): String =
    s"""d$k AS (SELECT coalesce(sum(CAST(floor(r.rank * 1e12) AS BIGINT)), 0) AS du
       |        FROM r${k - 1} r LEFT JOIN deg ON r.node = deg.src
       |        WHERE deg.src IS NULL),
       |i$k AS (SELECT e.dst AS node,
       |        sum(CAST(floor(r.rank / d.deg * 1e12) AS BIGINT)) AS u
       |      FROM e JOIN deg d ON e.src = d.src
       |             JOIN r${k - 1} r ON e.src = r.node GROUP BY 1),
       |r$k AS (SELECT nodes.node,
       |        floor(((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
       |               + CAST(0.85 AS DOUBLE) * (CAST(coalesce(u, 0) AS DOUBLE) / 1e12
       |                 + CAST(dd.du AS DOUBLE) / 1e12 / nn.n)) * 1e12) / 1e12 AS rank
       |      FROM nodes CROSS JOIN nn CROSS JOIN d$k dd
       |           LEFT JOIN i$k ON nodes.node = i$k.node)""".stripMargin

  /** The k-th PERSONALIZED PageRank iteration as oracle CTEs — the
    * teleport term is the per-node 12-dp-floored t(v) from the `tvv`
    * CTE, scaled by (1 − d), mirroring the engine's
    * `lit(1 - damping) * tv`. */
  private def pprIterSql(k: Int): String =
    s"""i$k AS (SELECT e.dst AS node,
       |        sum(CAST(floor(r.rank / d.deg * 1e12) AS BIGINT)) AS u
       |      FROM e JOIN deg d ON e.src = d.src
       |             JOIN r${k - 1} r ON e.src = r.node GROUP BY 1),
       |r$k AS (SELECT nodes.node,
       |        floor(((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * tvv.t
       |               + CAST(0.85 AS DOUBLE) * (CAST(coalesce(u, 0) AS DOUBLE) / 1e12)) * 1e12) / 1e12 AS rank
       |      FROM nodes JOIN tvv ON nodes.node = tvv.node
       |           LEFT JOIN i$k ON nodes.node = i$k.node)""".stripMargin

  /** The k-th PageRank iteration as oracle CTEs (`i{k}`, `r{k}` from
    * `r{k-1}`) — ONE definition of the integer-unit arithmetic shared
    * across all three unrolled rounds. */
  private def prIterSql(k: Int): String =
    s"""i$k AS (SELECT e.dst AS node,
       |        sum(CAST(floor(r.rank / d.deg * 1e12) AS BIGINT)) AS u
       |      FROM e JOIN deg d ON e.src = d.src
       |             JOIN r${k - 1} r ON e.src = r.node GROUP BY 1),
       |r$k AS (SELECT nodes.node,
       |        floor(((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
       |               + CAST(0.85 AS DOUBLE) * (CAST(coalesce(u, 0) AS DOUBLE) / 1e12)) * 1e12) / 1e12 AS rank
       |      FROM nodes CROSS JOIN nn LEFT JOIN i$k ON nodes.node = i$k.node)""".stripMargin

  /** Cross-corpus overlap census from two KMV sketches (lineitem's
    * order keys vs the orders table): Jaccard and intersection
    * estimated from the k smallest union hashes, beside the exact
    * intersection — neither corpus joins the other; the oracle replays
    * both sketches, the union cut, and the estimator arithmetic. */
  def qOverlapKmv(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    val exact = li.select(col("l_orderkey")).distinct()
      .join(ord.select(col("o_orderkey")).distinct(),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n_exact_common"))
    graft.operators.Sketches.kmvOverlap(
        li, col("l_orderkey"), ord, col("o_orderkey"), k = 256)
      .crossJoin(exact)
  }

  /** Deterministic 32-bin equi-width histogram of the lineitem price
    * column — the numeric-profiling pass before layout/skew decisions;
    * the exact min/max grid and floor binning replay bit-for-bit. */
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogram(
        t(s, dir, "lineitem"), col("l_extendedprice"), bins = 32)
      .select(col("bin"), col("lo"), col("hi"), col("n"))

  /** Robust location/scale census
    * ([[graft.operators.Profile.robustStats]] — exact median, MAD,
    * and the 3·1.4826·MAD robust-outlier count over lineitem prices;
    * the contamination-proof twin of the moments profile: a plain
    * z threshold moves with the outliers it hunts, median/MAD has
    * 50% breakdown). Two bin-pruned order-statistic passes, never a
    * global sort; the oracle is the direct rank definition. */
  def qRobustStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.robustStats(
      t(s, dir, "lineitem"), col("l_extendedprice"))

  /** CUBE pricing summary — all four grouping sets of (returnflag,
    * linestatus) in ONE pass (Catalyst plans cube as a single Expand
    * + hash aggregate — here the ×4 row expansion is the POINT, four
    * censuses for one scan, unlike the tableProfile case where Expand
    * would be waste); `grouping_id` disambiguates the NULL markers,
    * sums are decimal-exact. Completes the rollup gate's lattice. */
  def qCubePricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        decSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /** Whole-table column profile over lineitem
    * ([[graft.operators.Profile.tableProfile]] — per-column row/NULL/
    * exact-distinct census via one column-pruned pass per column,
    * deliberately never the Expand-based multi-countDistinct). */
  def qProfileTable(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.tableProfile(
      t(s, dir, "lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_linestatus", "l_quantity", "l_shipdate"))
      .orderBy("column")

  /** Top-10 behavioural event paths
    * ([[graft.operators.Attribution.topPaths]] — consecutive
    * event-type triples per user sequence, corpus census, bounded
    * top-k). */
  def qEventPaths(s: SparkSession, dir: String): DataFrame =
    graft.operators.Attribution.topPaths(EventsFixture.events(s, dir),
      col("user_id"), col("ts"), col("event_id"), col("event_type"), k = 10)

  /** Last-touch conversion attribution
    * ([[graft.operators.Attribution.lastTouch]] — each purchase
    * credits the user's most recent prior non-purchase event type;
    * no prior touch → "none"). One user-partitioned window + one
    * census; decimal-exact value sums, 4-dp reported. */
  def qAttribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Attribution.lastTouch(EventsFixture.events(s, dir),
      col("user_id"), col("ts"), col("event_id"), col("event_type"),
      col("value"), convType = "purchase")
      .orderBy("touch_type")

  /** k-anonymity release census
    * ([[graft.operators.Curation.kAnonLadder]] — the privacy gate
    * beside PII redaction): quasi-identifier (nation, market
    * segment) at k = 5; an under-k group generalizes to segment-only
    * and suppresses if even that is under k. Per-group `anon_level`
    * ∈ {0 publish, 1 generalize, 2 suppress}; all-integer. */
  def qKAnon(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.kAnonLadder(
      t(s, dir, "customer"),
      level0 = Seq("c_nationkey", "c_mktsegment"),
      level1 = Seq("c_mktsegment"), k = 5L)
      .orderBy("c_nationkey", "c_mktsegment")

  /** Distinct l-diversity release census
    * ([[graft.operators.Curation.lDiversity]] — the homogeneity-attack
    * check k-anonymity alone cannot make): quasi-identifier
    * (order status, order month) at k = 5, sensitive attribute
    * o_orderpriority at l = 3. Per-group verdict ∈ {0 publish,
    * 1 suppress-on-k, 2 suppress-on-l}; all three arms live at
    * sf0.001 (probed 173/58/6), densifying toward publish-all at
    * sf0.1 — the k-arm/l-arm semantics are hand-pinned in
    * CurationSpec. All-integer. */
  def qLDiversity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.lDiversity(
      t(s, dir, "orders")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM")),
      qi = Seq("o_orderstatus", "o_month"),
      sensitive = "o_orderpriority", k = 5L, l = 3L)
      .orderBy("o_orderstatus", "o_month")

  /** Exact two-sample Kolmogorov-Smirnov drift test
    * ([[graft.operators.Profile.ksTwoSample]] — returned-vs-delivered
    * quantity distributions: the nonparametric drift statistic beside
    * the binned-KL census, all-integer until the final reported
    * millionth division). l_quantity is already discrete (50 values),
    * the operator's documented domain contract. */
  def qKsDrift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.ksTwoSample(
      t(s, dir, "lineitem"), col("l_quantity"),
      col("l_returnflag") === "A", col("l_returnflag") === "N")

  /** Exact ROC-AUC census ([[graft.operators.Profile.aucCensus]] —
    * Mann-Whitney form, ties at ½, all-integer over the quantized
    * score domain): does event `value` rank purchases? The one-row
    * calibration number (≈0.5 on this fixture — value does NOT
    * predict purchase, which is the honest answer a threshold-tuner
    * needs before trusting a value cut). `value` is cent-quantized
    * by the generator, satisfying the discrete-domain contract the
    * KS family documents. */
  def qAucPurchase(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.aucCensus(
      EventsFixture.events(s, dir), col("value"),
      col("event_type") === "purchase")

  /** Population Stability Index between the same two slices q_ks_drift
    * compares ([[graft.operators.Profile.psi]] — the mass-based
    * industry drift number beside the rank-based KS: how much
    * probability mass rebalanced, log-odds weighted, add-one
    * smoothed). One all-integer row; reading both statistics over the
    * same slices is exactly how a drift review runs. */
  def qPsiDrift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.psi(
      t(s, dir, "lineitem"), col("l_quantity"),
      col("l_returnflag") === "A", col("l_returnflag") === "N")

  /** Youden optimal threshold ([[graft.operators.Profile.youden]] —
    * the q_auc_purchase consumer: AUC says whether `value` ranks
    * purchases at all; J says where a value cut would sit and how
    * little it buys (≈0 on this fixture, consistent with the ≈0.5
    * AUC — the honest "don't ship this threshold" answer). Exact
    * integer j_num over the cent-quantized domain; smallest-threshold
    * tie-break. */
  def qYouden(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.youden(
      EventsFixture.events(s, dir), col("value"),
      col("event_type") === "purchase")

  /** Calibration census ([[graft.operators.Profile.calibrationCensus]]
    * — the ranking trio's diagnostic: does `value`'s MAGNITUDE mean
    * anything for purchase probability, bin by bin, or does it only
    * (fail to) rank? 10 equi-width bins over the cent-quantized
    * domain, DECIMAL-exact sums, the histogram grid convention). */
  def qCalibration(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.calibrationCensus(
      EventsFixture.events(s, dir), col("value"),
      col("event_type") === "purchase", bins = 10)

  /** Average precision ([[graft.operators.Profile.averagePrecision]]
    * — the eval trio's third leg beside q_auc_purchase and q_youden:
    * ROC-AUC says whether value ranks purchases, Youden says where a
    * cut would sit, AP says what the ranking is worth on the
    * IMBALANCED reading that doesn't credit easy negatives; ≈
    * prevalence on this fixture, the consistent "value doesn't rank
    * purchases" answer). Tie-aware block form over the cent-quantized
    * domain, per-term integer floor. */
  def qPrAuc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.averagePrecision(
      EventsFixture.events(s, dir), col("value"),
      col("event_type") === "purchase")

  /** Per-event-type one-vs-rest AUC
    * ([[graft.operators.Profile.aucByGroup]] — the separability
    * screen over all five event types at once: which types' value
    * distributions are rankably different from the rest). The
    * purchase row must reproduce q_auc_purchase exactly (spec-pinned
    * identity). */
  def qAucTypes(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.aucByGroup(
      EventsFixture.events(s, dir), col("event_type"), col("value"))
      .orderBy("group")

  /** EXACT quantiles in two narrow passes + a per-quantile bin-pruned
    * order-statistic fetch ([[graft.operators.Profile.exactQuantiles]]
    * — the scale shape replacing a full global sort; ranks are
    * rational-exact `ceil(num·N/den)` so both engines agree without a
    * float boundary). The oracle is the direct k-th order statistic
    * over the whole column — the engine's multi-pass composition must
    * land on exactly the same values. */
  def qQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.exactQuantiles(
      t(s, dir, "lineitem"), col("l_extendedprice"),
      quantiles = Seq((1, 100), (1, 4), (1, 2), (3, 4), (9, 10), (99, 100)))

  /** Per-SOURCE exact length quantiles
    * ([[graft.operators.Profile.groupedQuantiles]] — the corpus-QA
    * "p50/p90 doc length per source" census): shared-grid (group, bin)
    * counts, driver rank location over the O(groups·bins) census, ONE
    * windowed fetch job over only the needed (group, bin) partitions.
    * The oracle is the direct per-group k-th order statistic. */
  def qQuantilesGrouped(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.groupedQuantiles(
      t(s, dir, "documents"), col("source"), col("n_chars"),
      quantiles = Seq((1, 2), (9, 10)))

  /** Exact moments + null census for two lineitem columns in one
    * map-side-combined aggregate each — DECIMAL per-row casts make the
    * sums order-independent, so mean/variance are bit-stable at any
    * parallelism. */
  def qProfileMoments(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def one(c: String) = graft.operators.Profile.moments(li, col(c))
      .withColumn("col_name", lit(c))
    // mean at 4dp and the coefficient of variation at 6dp: the DECIMAL
    // sums are exact, but casting a >2^53-scaled decimal to double is
    // correctly rounded in Spark and two-step (int128 -> double ->
    // scale) in DuckDB — an engine ulp the RELATIVE statistics absorb
    // while raw variance (abs magnitude ~1e9) would surface it
    one("l_extendedprice").unionByName(one("l_discount"))
      .select(col("col_name"), col("n"), col("n_null"),
        col("min"), col("max"), round(col("mean"), 4).as("mean"),
        round(sqrt(greatest(col("variance"), lit(0.0))) / col("mean"), 6).as("cv"))
      .orderBy("col_name")
  }

  /** Morton z-values over (l_orderkey, l_partkey) — the storage-layout
    * kernel behind two-dimensional data skipping, bit-for-bit
    * replayed from the shared expression generator. */
  def qZorder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").filter(col("l_orderkey") < 200)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        graft.operators.Layout.zValue(col("l_orderkey"), col("l_partkey")).as("z"))
      .orderBy("z", "l_orderkey", "l_linenumber")

  /** Hourly OHLC bars per user — the time-series downsampling
    * primitive. Open/close resolve by MIN/MAX over (ts, event_id,
    * value) STRUCTS in one hash aggregate (map-side combinable — a
    * window rendering would sort every (user, hour) group in one
    * task), so a hot user never serializes the job; the (ts, event_id)
    * tiebreak makes first/last deterministic, and volume sums in exact
    * decimals. */
  def qOhlcBars(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsFixture.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
    ev.groupBy(col("user_id"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("hour"))
      .agg(
        min(struct(col("us"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("us"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("n"),
        decSum(col("value")).as("volume"))
      .orderBy("user_id", "hour")
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_ohlc_bars", qOhlcBars, Some(
      """WITH w AS (SELECT user_id,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, value,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM events)
        |SELECT user_id, hour,
        |  min(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  min(CASE WHEN rd = 1 THEN value END) AS close,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
        |FROM w GROUP BY user_id, hour ORDER BY user_id, hour""".stripMargin)),
    QueryDef("q_zorder", qZorder, Some(
      s"""SELECT l_orderkey, l_linenumber, l_partkey,
         |  ${graft.operators.Layout.zValueSql("l_orderkey", "l_partkey")} AS z
         |FROM lineitem WHERE l_orderkey < 200
         |ORDER BY z, l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("q_histogram", qHistogram, Some(
      """WITH mm AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo,
        |                   max(CAST(l_extendedprice AS DOUBLE)) AS hi
        |            FROM lineitem),
        |w AS (SELECT lo, hi, (hi - lo) / 32 AS width FROM mm),
        |b AS (SELECT CASE WHEN w.width = 0 THEN 0
        |             ELSE least(CAST(floor((CAST(l_extendedprice AS DOUBLE) - w.lo) / w.width) AS INT), 31)
        |             END AS bin
        |      FROM lineitem, w WHERE l_extendedprice IS NOT NULL)
        |SELECT CAST(bin AS INT) AS bin, w.lo + bin * w.width AS lo,
        |  w.lo + (bin + 1) * w.width AS hi, count(*) AS n
        |FROM b, w GROUP BY bin, w.lo, w.width ORDER BY bin""".stripMargin)),
    QueryDef("q_cube_pricing", qCubePricing, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),
    QueryDef("q_profile_table", qProfileTable, Some(
      """SELECT 'l_orderkey' AS "column", count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  count(DISTINCT l_orderkey) AS n_distinct FROM lineitem
        |UNION ALL SELECT 'l_partkey', count(*),
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT l_partkey) FROM lineitem
        |UNION ALL SELECT 'l_suppkey', count(*),
        |  CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT l_suppkey) FROM lineitem
        |UNION ALL SELECT 'l_returnflag', count(*),
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT l_returnflag) FROM lineitem
        |UNION ALL SELECT 'l_linestatus', count(*),
        |  CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT l_linestatus) FROM lineitem
        |UNION ALL SELECT 'l_quantity', count(*),
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT l_quantity) FROM lineitem
        |UNION ALL SELECT 'l_shipdate', count(*),
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT l_shipdate) FROM lineitem
        |ORDER BY 1""".stripMargin)),
    QueryDef("q_event_paths", qEventPaths, Some(
      """WITH s AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
        |  FROM events)
        |SELECT t1 || '>' || t2 || '>' || t3 AS path, count(*) AS n
        |FROM s WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin)),
    QueryDef("q_attribution", qAttribution, Some(
      """WITH w AS (SELECT event_type AS t, value AS v,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT coalesce(touch, 'none') AS touch_type, count(*) AS n_conv,
        |  round(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 4) AS value_sum
        |FROM w WHERE t = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q_k_anon", qKAnon, Some(
      """WITH g0 AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |g1 AS (SELECT c_mktsegment, CAST(sum(n) AS BIGINT) AS n1 FROM g0 GROUP BY 1)
        |SELECT g0.c_nationkey, g0.c_mktsegment, g0.n,
        |  CAST(CASE WHEN g0.n >= 5 THEN 0 WHEN g1.n1 >= 5 THEN 1 ELSE 2 END AS BIGINT) AS anon_level
        |FROM g0 JOIN g1 USING (c_mktsegment)
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),
    QueryDef("q_l_diversity", qLDiversity, Some(
      """WITH cells AS (SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m') AS o_month,
        |    o_orderpriority, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2, 3),
        |g AS (SELECT o_orderstatus, o_month, CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS l_distinct
        |  FROM cells GROUP BY 1, 2)
        |SELECT o_orderstatus, o_month, n, l_distinct,
        |  CAST(CASE WHEN n < 5 THEN 1 WHEN l_distinct < 3 THEN 2 ELSE 0 END
        |    AS BIGINT) AS verdict
        |FROM g ORDER BY o_orderstatus, o_month""".stripMargin)),
    QueryDef("q_ks_drift", qKsDrift, Some(
      """WITH r AS (SELECT l_quantity AS v,
        |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM lineitem WHERE l_returnflag IN ('A', 'N') GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |          CAST(sum(cb) AS BIGINT) AS n_b FROM r),
        |c AS (SELECT v, CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cua,
        |        CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cub FROM r),
        |g AS (SELECT v, abs(cua * t.n_b - cub * t.n_a) AS gap FROM c, tot t),
        |mx AS (SELECT max(gap) AS d_num FROM g),
        |av AS (SELECT min(v) AS at_value FROM g, mx WHERE g.gap = mx.d_num)
        |SELECT t.n_a, t.n_b, mx.d_num,
        |  (mx.d_num * 1000000) // (t.n_a * t.n_b) AS d_micro, av.at_value
        |FROM tot t, mx, av""".stripMargin)),
    QueryDef("q_auc_purchase", qAucPurchase, Some(
      """WITH r AS (SELECT value AS s,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cn
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1),
        |c AS (SELECT cp, cn, sum(cn) OVER (ORDER BY s) AS cun FROM r),
        |a AS (SELECT sum(CAST(cp AS HUGEINT) * (2 * cun - cn)) AS num2,
        |        CAST(sum(cp) AS BIGINT) AS n_pos,
        |        CAST(sum(cn) AS BIGINT) AS n_neg FROM c)
        |SELECT n_pos, n_neg, CAST(num2 AS BIGINT) AS num2,
        |  CAST((num2 * 1000000) // (CAST(n_pos AS HUGEINT) * n_neg * 2) AS BIGINT)
        |    AS auc_micro
        |FROM a""".stripMargin)),
    QueryDef("q_psi_drift", qPsiDrift, Some(
      """WITH r AS (SELECT l_quantity AS v,
        |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM lineitem WHERE l_returnflag IN ('A', 'N') GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
        |          CAST(count(*) AS BIGINT) AS n_bins FROM r),
        |t AS (SELECT n_a, n_b, n_bins,
        |        (ca + 1) * (n_b + n_bins) - (cb + 1) * (n_a + n_bins) AS dn,
        |        CAST(CAST(ln(CAST((ca + 1) * (n_b + n_bins) AS DOUBLE)
        |                     / ((cb + 1) * (n_a + n_bins))) AS DECIMAL(18,6))
        |             * 1000000 AS BIGINT) AS lnr
        |      FROM r, tot)
        |SELECT n_a, n_b, n_bins,
        |  CAST(sum(CAST(dn AS HUGEINT) * lnr)
        |       // (CAST(n_a + n_bins AS HUGEINT) * (n_b + n_bins)) AS BIGINT) AS psi_micro
        |FROM t GROUP BY 1, 2, 3""".stripMargin)),
    QueryDef("q_calibration", qCalibration, Some(
      """WITH mm AS (SELECT min(CAST(value AS DOUBLE)) AS lo,
        |                   max(CAST(value AS DOUBLE)) AS hi FROM events),
        |w AS (SELECT lo, hi, (hi - lo) / 10 AS width FROM mm),
        |b AS (SELECT CASE WHEN w.width = 0 THEN 0
        |             ELSE least(CAST(floor((CAST(value AS DOUBLE) - w.lo) / w.width) AS INT), 9)
        |             END AS bin,
        |        CAST(value AS DOUBLE) AS v,
        |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
        |      FROM events, w WHERE value IS NOT NULL)
        |SELECT CAST(bin AS INT) AS bin, w.lo + bin * w.width AS lo,
        |  w.lo + (bin + 1) * w.width AS hi, count(*) AS n,
        |  CAST(sum(p) AS BIGINT) AS n_pos,
        |  round(CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS mean_score,
        |  round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS pos_rate
        |FROM b, w GROUP BY bin, w.lo, w.width ORDER BY bin""".stripMargin)),
    QueryDef("q_pr_auc", qPrAuc, Some(
      """WITH r AS (SELECT CAST(value AS DOUBLE) AS v,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cn
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
        |          CAST(sum(cn) AS BIGINT) AS n_neg FROM r),
        |g AS (SELECT cp,
        |        CAST(sum(cp) OVER (ORDER BY v DESC) AS BIGINT) AS tp,
        |        CAST(sum(cn) OVER (ORDER BY v DESC) AS BIGINT) AS fp
        |      FROM r),
        |t AS (SELECT (CAST(cp AS HUGEINT) * tp * 1000000) // (tp + fp) AS term FROM g)
        |SELECT n_pos, n_neg,
        |  CAST((SELECT sum(term) FROM t) // n_pos AS BIGINT) AS ap_micro
        |FROM tot""".stripMargin)),
    QueryDef("q_youden", qYouden, Some(
      """WITH r AS (SELECT CAST(value AS DOUBLE) AS v,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cn
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
        |          CAST(sum(cn) AS BIGINT) AS n_neg FROM r),
        |g AS (SELECT v,
        |        CAST(sum(cp) OVER (ORDER BY v DESC) AS BIGINT) AS tp,
        |        CAST(sum(cn) OVER (ORDER BY v DESC) AS BIGINT) AS fp
        |      FROM r),
        |j AS (SELECT g.v, g.tp, g.fp, tot.n_pos, tot.n_neg,
        |        g.tp * tot.n_neg - g.fp * tot.n_pos AS j_num FROM g, tot),
        |mx AS (SELECT max(j_num) AS jm FROM j),
        |sel AS (SELECT j.*, row_number() OVER (ORDER BY v) AS rn
        |        FROM j, mx WHERE j.j_num = mx.jm)
        |SELECT n_pos, n_neg, v AS threshold, tp, fp, j_num,
        |  CAST((CAST(j_num AS HUGEINT) * 1000000)
        |       // (CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS j_micro
        |FROM sel WHERE rn = 1""".stripMargin)),
    QueryDef("q_auc_types", qAucTypes, Some(
      """WITH r AS (SELECT event_type AS g, value AS v,
        |             CAST(count(*) AS BIGINT) AS c FROM events
        |           WHERE value IS NOT NULL AND event_type IS NOT NULL
        |           GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g FROM r GROUP BY 1),
        |na AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM r),
        |pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS ct FROM r GROUP BY 1),
        |pt AS (SELECT v, ct, CAST(sum(ct) OVER (ORDER BY v) AS BIGINT) AS cum_t FROM pv),
        |grid AS (SELECT gg.g, vv.v
        |         FROM (SELECT DISTINCT g FROM r) gg, (SELECT DISTINCT v FROM r) vv),
        |cg AS (SELECT grid.g, grid.v, coalesce(r.c, 0) AS c,
        |         CAST(sum(coalesce(r.c, 0)) OVER (PARTITION BY grid.g ORDER BY grid.v) AS BIGINT) AS cum_g
        |       FROM grid LEFT JOIN r ON r.g = grid.g AND r.v = grid.v),
        |term AS (SELECT cg.g,
        |           CAST(cg.c AS HUGEINT) *
        |           (2 * ((pt.cum_t - pt.ct) - (cg.cum_g - cg.c)) + (pt.ct - cg.c)) AS t
        |         FROM cg JOIN pt USING (v)),
        |agg AS (SELECT g, sum(t) AS num2 FROM term GROUP BY 1)
        |SELECT agg.g AS "group", tot.n_g AS n_pos,
        |  CAST(na.n_all - tot.n_g AS BIGINT) AS n_neg,
        |  CAST(agg.num2 AS BIGINT) AS num2,
        |  CAST((agg.num2 * 1000000)
        |       // (CAST(tot.n_g AS HUGEINT) * (na.n_all - tot.n_g) * 2) AS BIGINT)
        |    AS auc_micro
        |FROM agg JOIN tot ON tot.g = agg.g, na
        |ORDER BY 1""".stripMargin)),
    QueryDef("q_robust_stats", qRobustStats, Some(
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
        |           WHERE l_extendedprice IS NOT NULL),
        |nn AS (SELECT count(*) AS n FROM v),
        |m AS (SELECT x AS med FROM
        |        (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v) t, nn
        |      WHERE rn = (nn.n + 1) // 2),
        |d AS (SELECT abs(x - med) AS dx FROM v CROSS JOIN m),
        |md AS (SELECT dx AS mad FROM
        |         (SELECT dx, row_number() OVER (ORDER BY dx) AS rn FROM d) t2, nn
        |       WHERE rn = (nn.n + 1) // 2)
        |SELECT m.med AS median, md.mad AS mad, nn.n AS n,
        |  (SELECT count(*) FROM v CROSS JOIN m CROSS JOIN md
        |   WHERE abs(x - med) > (CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE)) * mad) AS n_outliers
        |FROM m CROSS JOIN md CROSS JOIN nn""".stripMargin)),
    QueryDef("q_quantiles", qQuantiles, Some(
      """WITH p AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
        |           WHERE l_extendedprice IS NOT NULL),
        |nn AS (SELECT count(*) AS n FROM p),
        |qs(qn, qd) AS (VALUES (1, 100), (1, 4), (1, 2), (3, 4), (9, 10), (99, 100)),
        |ks AS (SELECT qn, qd, (qn * nn.n + qd - 1) // qd AS k FROM qs, nn),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM p)
        |SELECT CAST(ks.qn AS DOUBLE) / ks.qd AS q, r.v AS value
        |FROM ks JOIN r ON r.rn = ks.k
        |ORDER BY q""".stripMargin)),
    QueryDef("q_quantiles_grouped", qQuantilesGrouped, Some(
      """WITH p AS (SELECT CAST(source AS VARCHAR) AS g, CAST(n_chars AS DOUBLE) AS v
        |           FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |nn AS (SELECT g, count(*) AS n FROM p GROUP BY 1),
        |qs(qn, qd) AS (VALUES (1, 2), (9, 10)),
        |ks AS (SELECT nn.g, qn, qd, (qn * nn.n + qd - 1) // qd AS k FROM nn, qs),
        |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM p)
        |SELECT r.g AS "group", CAST(ks.qn AS DOUBLE) / ks.qd AS q, r.v AS value
        |FROM ks JOIN r ON r.g = ks.g AND r.rn = ks.k
        |ORDER BY "group", q""".stripMargin)),
    QueryDef("q_profile_moments", qProfileMoments, Some(
      """WITH s AS (
        |  SELECT 'l_extendedprice' AS col_name,
        |    count(l_extendedprice) AS n,
        |    count(*) - count(l_extendedprice) AS n_null,
        |    min(CAST(l_extendedprice AS DOUBLE)) AS mn,
        |    max(CAST(l_extendedprice AS DOUBLE)) AS mx,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS s2
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', count(l_discount), count(*) - count(l_discount),
        |    min(CAST(l_discount AS DOUBLE)), max(CAST(l_discount AS DOUBLE)),
        |    CAST(sum(CAST(CAST(l_discount AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE),
        |    CAST(sum(CAST(CAST(l_discount AS DOUBLE) * CAST(l_discount AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
        |  FROM lineitem)
        |SELECT col_name, n, n_null, mn AS min, mx AS max,
        |  round(s1 / n, 4) AS mean,
        |  round(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) / (s1 / n), 6) AS cv
        |FROM s ORDER BY col_name""".stripMargin)),
    QueryDef("q_overlap_kmv", qOverlapKmv, Some(
      """WITH ha AS (SELECT DISTINCT (l_orderkey * 2654435761 + 987654321) % 4294967296 AS hv
        |            FROM lineitem),
        |ba AS (SELECT hv FROM ha ORDER BY hv LIMIT 256),
        |hb AS (SELECT DISTINCT (o_orderkey * 2654435761 + 987654321) % 4294967296 AS hv
        |       FROM orders),
        |bb AS (SELECT hv FROM hb ORDER BY hv LIMIT 256),
        |u AS (SELECT hv, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        |        SELECT hv, 1 AS in_a, 0 AS in_b FROM ba
        |        UNION ALL SELECT hv, 0 AS in_a, 1 AS in_b FROM bb) t
        |      GROUP BY hv ORDER BY hv LIMIT 256),
        |su AS (SELECT count(*) AS n, max(hv) AS kth, sum(in_a * in_b) AS n_both FROM u),
        |sa AS (SELECT count(*) AS n, max(hv) AS kth FROM ba),
        |sb AS (SELECT count(*) AS n, max(hv) AS kth FROM bb),
        |es AS (SELECT
        |  CASE WHEN sa.n < 256 THEN CAST(sa.n AS DOUBLE)
        |       ELSE round(255.0 * 4294967296.0 / sa.kth, 2) END AS est_a,
        |  CASE WHEN sb.n < 256 THEN CAST(sb.n AS DOUBLE)
        |       ELSE round(255.0 * 4294967296.0 / sb.kth, 2) END AS est_b,
        |  CASE WHEN su.n < 256 THEN CAST(su.n AS DOUBLE)
        |       ELSE round(255.0 * 4294967296.0 / su.kth, 2) END AS est_union,
        |  CAST(su.n_both AS DOUBLE) / su.n AS jac_raw
        |  FROM su, sa, sb),
        |ex AS (SELECT count(*) AS n_exact_common
        |       FROM (SELECT DISTINCT l_orderkey FROM lineitem) l
        |       JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |         ON l.l_orderkey = o.o_orderkey)
        |SELECT 256 AS k, est_a, est_b, est_union,
        |  round(jac_raw, 4) AS jaccard,
        |  round(jac_raw * est_union, 2) AS est_common,
        |  n_exact_common
        |FROM es, ex""".stripMargin)),
    QueryDef("q_distinct_kmv", qDistinctKmv, Some(
      """WITH h AS (SELECT DISTINCT (l_orderkey * 2654435761 + 987654321) % 4294967296 AS hv
        |           FROM lineitem),
        |b AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
        |s AS (SELECT count(*) AS n_cand, max(hv) AS kth FROM b)
        |SELECT 256 AS k, kth AS kth_hash,
        |  CASE WHEN n_cand < 256 THEN CAST(n_cand AS DOUBLE)
        |       ELSE round(255.0 * 4294967296.0 / kth, 2) END AS est,
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_exact
        |FROM s""".stripMargin)),
    QueryDef("q_distinct_kmv_text", qDistinctKmvText, Some(
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents
        |              WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT unnest(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS tok3
        |       FROM toks),
        |h AS (SELECT DISTINCT ('0x' || substr(md5(tok3), 1, 15))::BIGINT % 4294967296 AS hv
        |      FROM sh),
        |b AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
        |s AS (SELECT count(*) AS n_cand, max(hv) AS kth FROM b)
        |SELECT 256 AS k, kth AS kth_hash,
        |  CASE WHEN n_cand < 256 THEN CAST(n_cand AS DOUBLE)
        |       ELSE round(255.0 * 4294967296.0 / kth, 2) END AS est,
        |  (SELECT count(DISTINCT tok3) FROM sh) AS n_exact
        |FROM s""".stripMargin)),
    QueryDef("q_distinct_hll", qDistinctHll, Some(distinctHllOracleSql)),
    // the SAME global-build SQL gates the shard-merged arm: hash
    // equality IS the merge ≡ global proof (register-for-register)
    QueryDef("q_hll_union", qHllUnion, Some(distinctHllOracleSql)),
    QueryDef("q_cdc_apply", qCdcApply, Some(cdcOracleSql)),
    QueryDef("q_snapshot_diff", qSnapshotDiff, Some {
      // the MERGE oracle's `merged` pipeline, full-outer re-joined to
      // the base snapshot and classified (null-safe compares)
      val mergedCtes = cdcOracleSql
        .split("\nSELECT o_orderkey, o_custkey")(0) // chg/latest/merged CTEs
      s"""$mergedCtes,
         |snap AS (SELECT o_orderkey, o_custkey, o_orderstatus,
         |           o_totalprice, o_orderdate, o_orderpriority
         |         FROM merged WHERE op IS NULL OR op = 'U'),
         |d AS (SELECT coalesce(b.o_orderkey, s.o_orderkey) AS o_orderkey,
         |  CASE WHEN b.o_orderkey IS NULL THEN 'added'
         |       WHEN s.o_orderkey IS NULL THEN 'removed'
         |       WHEN b.o_custkey IS DISTINCT FROM s.o_custkey
         |         OR b.o_orderstatus IS DISTINCT FROM s.o_orderstatus
         |         OR b.o_totalprice IS DISTINCT FROM s.o_totalprice
         |         OR b.o_orderdate IS DISTINCT FROM s.o_orderdate
         |         OR b.o_orderpriority IS DISTINCT FROM s.o_orderpriority
         |       THEN 'changed' END AS change_type
         |  FROM orders b FULL OUTER JOIN snap s ON b.o_orderkey = s.o_orderkey)
         |SELECT o_orderkey, change_type FROM d
         |WHERE change_type IS NOT NULL ORDER BY o_orderkey""".stripMargin
    }),
    QueryDef("q_hll_grouped", qHllGrouped, Some {
      import graft.operators.Sketches.Hll.{EstNum, M, RhoCap}
      s"""WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents
         |              WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (SELECT source, unnest(list_transform(range(1, len(t) - 1),
         |                i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS tok3
         |       FROM toks),
         |h AS (SELECT source, ('0x' || substr(md5(tok3), 1, 15))::BIGINT AS fp FROM sh),
         |reg AS (SELECT source, fp % $M AS idx,
         |          max(CASE WHEN fp // $M = 0 THEN $RhoCap
         |               ELSE CAST(floor(log2((fp // $M) & -(fp // $M))) AS INT) + 1 END) AS rho
         |        FROM h GROUP BY 1, 2),
         |a AS (SELECT source, count(*) AS nz,
         |        sum(CAST(1 AS BIGINT) << ($RhoCap - rho)) AS s_obs FROM reg GROUP BY 1),
         |b AS (SELECT source, CAST($M - nz AS INT) AS v_zero,
         |        CAST(s_obs + ($M - nz) * (CAST(1 AS BIGINT) << $RhoCap) AS BIGINT)
         |          AS s_units FROM a),
         |e AS (SELECT source, count(DISTINCT tok3) AS n_exact FROM sh GROUP BY 1)
         |SELECT b.source, v_zero, s_units,
         |  round(CASE WHEN v_zero > 0
         |              AND CAST($EstNum AS DOUBLE) / CAST(s_units AS DOUBLE)
         |                  <= CAST(${2.5 * M} AS DOUBLE)
         |        THEN CAST($M AS DOUBLE) * ln(CAST($M AS DOUBLE) / CAST(v_zero AS DOUBLE))
         |        ELSE CAST($EstNum AS DOUBLE) / CAST(s_units AS DOUBLE) END, 2) AS est,
         |  n_exact
         |FROM b JOIN e ON b.source = e.source ORDER BY b.source""".stripMargin
    }),
    QueryDef("q_scd2_history", qScd2History, Some(
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |     FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM e
        |      WHERE prev IS NULL OR prev <> event_type),
        |v AS (SELECT user_id, event_type, ts,
        |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_ts
        |     FROM c)
        |SELECT user_id, version, event_type,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S') AS valid_to
        |FROM v ORDER BY user_id, version""".stripMargin)),
    QueryDef("q_anomaly_hourly", qAnomalyHourly, Some(
      """WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |             event_type, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT hour, event_type, n,
        |        count(n) OVER win AS cnt,
        |        sum(n) OVER win AS s1,
        |        sum(n * n) OVER win AS s2
        |      FROM h WINDOW win AS (PARTITION BY event_type ORDER BY hour
        |        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |g AS (SELECT hour, event_type, n,
        |        CAST(s1 AS DOUBLE) / CAST(24 AS DOUBLE) AS mean,
        |        (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |           / CAST(24 AS DOUBLE)) / CAST(24 AS DOUBLE) AS var
        |      FROM w WHERE cnt = 24)
        |SELECT hour, event_type, n, round(mean, 4) AS mean,
        |  round((CAST(n AS DOUBLE) - mean) / sqrt(var), 4) AS z
        |FROM g WHERE var > 0 ORDER BY hour, event_type""".stripMargin)),
    QueryDef("q_pagerank", qPageRank, Some(
      s"""WITH e0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
         |              CAST(l_partkey AS BIGINT) + 1000000 AS p FROM lineitem),
         |e AS (SELECT s AS src, p AS dst FROM e0
         |      UNION ALL SELECT p AS src, s AS dst FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node, floor(CAST(1.0 AS DOUBLE) / nn.n * 1e12) / 1e12 AS rank
         |       FROM nodes CROSS JOIN nn),
         |${prIterSql(1)},
         |${prIterSql(2)},
         |${prIterSql(3)}
         |SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 50""".stripMargin)),
    QueryDef("q_pagerank_weighted", qPageRankWeighted, Some(
      s"""WITH b0 AS (SELECT CAST(l_suppkey AS BIGINT) AS s,
         |              CAST(l_partkey AS BIGINT) + 1000000 AS p,
         |              CAST(count(*) AS BIGINT) AS w
         |            FROM lineitem GROUP BY 1, 2),
         |e AS (SELECT s AS src, p AS dst, w FROM b0
         |      UNION ALL SELECT p AS src, s AS dst, w FROM b0),
         |ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS ws FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node, floor(CAST(1.0 AS DOUBLE) / nn.n * 1e12) / 1e12 AS rank
         |       FROM nodes CROSS JOIN nn),
         |${wprIterSql(1)},
         |${wprIterSql(2)},
         |${wprIterSql(3)}
         |SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 50""".stripMargin)),
    QueryDef("q_pagerank_personalized", qPageRankPersonalized, Some(
      s"""WITH e0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
         |              CAST(l_partkey AS BIGINT) + 1000000 AS p FROM lineitem),
         |e AS (SELECT s AS src, p AS dst FROM e0
         |      UNION ALL SELECT p AS src, s AS dst FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |ns AS (SELECT count(*) AS ns FROM nodes WHERE node IN (1, 2, 3)),
         |tvv AS (SELECT node,
         |          CASE WHEN node IN (1, 2, 3)
         |               THEN floor(CAST(1.0 AS DOUBLE) / ns.ns * 1e12) / 1e12
         |               ELSE CAST(0.0 AS DOUBLE) END AS t
         |        FROM nodes CROSS JOIN ns),
         |r0 AS (SELECT node, t AS rank FROM tvv),
         |${pprIterSql(1)},
         |${pprIterSql(2)},
         |${pprIterSql(3)}
         |SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 50""".stripMargin)),
    QueryDef("q_textrank", qTextrank, Some(
      s"""WITH tok AS (SELECT string_split_regex(text, '\\s+') AS tk FROM documents),
         |pr AS (SELECT tk[i] AS a, tk[i+1] AS b
         |       FROM tok, unnest(range(1, len(tk))) AS u(i)
         |       WHERE len(tk[i]) >= 4 AND len(tk[i+1]) >= 4 AND tk[i] <> tk[i+1]),
         |e0 AS (SELECT DISTINCT ('0x' || substr(md5(a), 1, 15))::BIGINT AS s,
         |                       ('0x' || substr(md5(b), 1, 15))::BIGINT AS p FROM pr),
         |e AS (SELECT s AS src, p AS dst FROM e0
         |      UNION SELECT p AS src, s AS dst FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node, floor(CAST(1.0 AS DOUBLE) / nn.n * 1e12) / 1e12 AS rank
         |       FROM nodes CROSS JOIN nn),
         |${prIterSql(1)},
         |${prIterSql(2)},
         |${prIterSql(3)},
         |wm AS (SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT AS node, min(w) AS word
         |       FROM (SELECT a AS w FROM pr UNION SELECT b FROM pr) GROUP BY 1)
         |SELECT wm.word, r3.rank FROM r3 JOIN wm ON wm.node = r3.node
         |ORDER BY r3.rank DESC, wm.word LIMIT 15""".stripMargin)),
    QueryDef("q_pagerank_dangling", qPageRankDangling, Some(
      s"""WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
         |             CAST(o_orderkey AS BIGINT) + 2000000 AS dst FROM orders),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node, floor(CAST(1.0 AS DOUBLE) / nn.n * 1e12) / 1e12 AS rank
         |       FROM nodes CROSS JOIN nn),
         |${prIterDangSql(1)},
         |${prIterDangSql(2)},
         |${prIterDangSql(3)}
         |SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 50""".stripMargin)),
    QueryDef("q_kcore", qKcore, Some(
      s"""WITH base AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS u,
         |                CAST(l_partkey AS BIGINT) + 1000000 AS v FROM lineitem),
         |e0 AS (SELECT u, v FROM base UNION ALL SELECT v, u FROM base),
         |${kcoreRoundSql(1, 25)},
         |${kcoreRoundSql(2, 25)},
         |${kcoreRoundSql(3, 25)}
         |SELECT u AS node, count(*) AS deg FROM e3 GROUP BY u ORDER BY node""".stripMargin)),
    QueryDef("q_lpa", qLpa, Some(
      s"""WITH b0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
         |              CAST(l_partkey AS BIGINT) + 1000000 AS p FROM lineitem),
         |e AS (SELECT s AS src, p AS dst FROM b0
         |      UNION SELECT p AS src, s AS dst FROM b0),
         |${lpaRoundSql(1)},
         |${lpaRoundSql(2)}
         |SELECT lbl AS label, count(*) AS n_members
         |FROM l2 GROUP BY 1 ORDER BY n_members DESC, label LIMIT 50""".stripMargin)),
    QueryDef("q_modularity", qModularity, Some(
      s"""WITH b0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
         |              CAST(l_partkey AS BIGINT) + 1000000 AS p FROM lineitem),
         |e AS (SELECT s AS src, p AS dst FROM b0
         |      UNION SELECT p AS src, s AS dst FROM b0),
         |${lpaRoundSql(1)},
         |${lpaRoundSql(2)},
         |lab AS (SELECT ls.lbl AS sl, ld.lbl AS dl FROM e
         |        JOIN l2 ls ON e.src = ls.node JOIN l2 ld ON e.dst = ld.node),
         |perc AS (SELECT sl AS label, count(*) AS deg_c,
         |           CAST(sum(CASE WHEN sl = dl THEN 1 ELSE 0 END) AS BIGINT) AS e_c
         |         FROM lab GROUP BY 1),
         |a AS (SELECT count(*) AS n_communities, CAST(sum(deg_c) AS BIGINT) AS two_m,
         |        CAST(sum(e_c) AS BIGINT) AS e_in,
         |        CAST(sum(deg_c * deg_c) AS BIGINT) AS deg_sq
         |      FROM perc)
         |SELECT n_communities, two_m, e_in,
         |  CAST(e_in * two_m - deg_sq AS BIGINT) AS q_num,
         |  CAST(two_m * two_m AS BIGINT) AS q_den,
         |  CAST(CASE WHEN e_in * two_m - deg_sq >= 0
         |    THEN (CAST(e_in * two_m - deg_sq AS HUGEINT) * 1000000000) // (two_m * two_m)
         |    ELSE -((CAST(deg_sq - e_in * two_m AS HUGEINT) * 1000000000 + two_m * two_m - 1)
         |           // (two_m * two_m))
         |    END AS BIGINT) AS q_units
         |FROM a""".stripMargin)),
    QueryDef("q_hits", qHits, Some(
      s"""WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
         |             CAST(o_orderkey AS BIGINT) + 2000000 AS dst FROM orders),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
         |${hitsRoundSql(1)},
         |${hitsRoundSql(2)},
         |f AS (SELECT n.node,
         |        CAST(coalesce(a2.a, 0) AS BIGINT) AS auth_units,
         |        CAST(coalesce(h2.h, 0) AS BIGINT) AS hub_units
         |      FROM nodes n LEFT JOIN a2 ON n.node = a2.node
         |        LEFT JOIN h2 ON n.node = h2.node),
         |ta AS (SELECT 'auth' AS side, node, auth_units AS units FROM f
         |       ORDER BY auth_units DESC, node LIMIT 25),
         |th AS (SELECT 'hub' AS side, node, hub_units AS units FROM f
         |       ORDER BY hub_units DESC, node LIMIT 25)
         |SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
         |ORDER BY side, units DESC, node""".stripMargin)),
    QueryDef("q_khop", qKhop, Some(
      """WITH b0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
        |              CAST(l_partkey AS BIGINT) + 1000000 AS p FROM lineitem
        |            WHERE l_partkey < 500),
        |e AS (SELECT s AS src, p AS dst FROM b0
        |      UNION SELECT p AS src, s AS dst FROM b0),
        |p2 AS (SELECT a.src, b.dst FROM e a JOIN e b ON a.dst = b.src
        |       WHERE a.src <> b.dst
        |       UNION SELECT src, dst FROM e)
        |SELECT src AS node, count(*) AS reach FROM p2
        |GROUP BY 1 ORDER BY reach DESC, node LIMIT 50""".stripMargin)),
    QueryDef("q_freq_pairs", qFreqPairs, Some(
      """WITH b AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS basket,
        |             CAST(l_partkey AS BIGINT) AS item FROM lineitem),
        |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 30),
        |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item))
        |SELECT x.item AS item_a, y.item AS item_b, count(*) AS supp
        |FROM fb x JOIN fb y ON x.basket = y.basket AND x.item < y.item
        |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY 1, 2""".stripMargin)),
    QueryDef("q_kmv_grouped", qKmvGrouped, Some(
      """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents
        |              WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT source, unnest(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS tok3
        |       FROM toks),
        |h AS (SELECT DISTINCT source,
        |        ('0x' || substr(md5(tok3), 1, 15))::BIGINT % 4294967296 AS hv
        |      FROM sh),
        |r AS (SELECT source, hv,
        |        row_number() OVER (PARTITION BY source ORDER BY hv) AS rn,
        |        count(*) OVER (PARTITION BY source) AS tot
        |      FROM h),
        |s AS (SELECT source, CAST(least(tot, 64) AS INT) AS n_cand,
        |        max(CASE WHEN rn <= 64 THEN hv END) AS kth_hash
        |      FROM r GROUP BY source, tot),
        |e AS (SELECT source, count(DISTINCT tok3) AS n_exact FROM sh GROUP BY source)
        |SELECT s.source, n_cand, kth_hash,
        |  CASE WHEN n_cand < 64 THEN CAST(n_cand AS DOUBLE)
        |       ELSE round(63.0 * 4294967296.0 / kth_hash, 2) END AS est,
        |  e.n_exact
        |FROM s JOIN e ON s.source = e.source ORDER BY s.source""".stripMargin)),
    QueryDef("q_asof_join", qAsofJoin, Some(
      """WITH u AS (
        |  SELECT user_id, ts, event_id, 0 AS tag, event_id AS p FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, 1, NULL FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT user_id, ts, event_id, tag,
        |        last_value(p IGNORE NULLS) OVER (PARTITION BY user_id
        |          ORDER BY ts, tag, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
        |      FROM u)
        |SELECT event_id AS purchase_id, user_id,
        |  coalesce(asof_click_id, -1) AS asof_click_id
        |FROM w WHERE tag = 1 ORDER BY purchase_id""".stripMargin)),
    QueryDef("q_events_funnel", qEventsFunnel, Some(
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |t1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
        |SELECT CAST(1 AS INT) AS step, 'signup' AS event_type, count(*) AS n_users FROM t1
        |UNION ALL SELECT 2, 'click', count(*) FROM t2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM t3
        |ORDER BY step""".stripMargin)),
    QueryDef("q_cohort_retention", qCohortRetention, Some(
      """WITH w AS (SELECT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS wk
        |           FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort FROM w GROUP BY 1)
        |SELECT c.cohort, w.wk, count(DISTINCT w.user_id) AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, wk""".stripMargin)),
    QueryDef("q_range_join", qRangeJoin, Some(
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS pus
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS cus
        |      FROM events WHERE event_type = 'click')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |  count(c.cus) AS n_clicks
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND c.cus >= p.pus - CAST(3600 AS BIGINT) * 1000000
        |  AND c.cus < p.pus
        |GROUP BY 1, 2 ORDER BY purchase_id""".stripMargin)),
    QueryDef("q_key_skew", qKeySkew, Some(
      """WITH pk AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |census AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |             max(c) AS max_c, CAST(sum(c * c) AS BIGINT) AS selfjoin_size
        |           FROM pk),
        |top AS (SELECT array_to_string(list(k ORDER BY c DESC, k)[1:5], ',') AS top_keys
        |        FROM pk)
        |SELECT n_rows, n_keys, max_c,
        |  CAST(max_c * 10000 // n_rows AS BIGINT) AS top1_share_bp,
        |  selfjoin_size, top_keys
        |FROM census, top""".stripMargin)),
    QueryDef("q_skew_join", qSkewJoin, Some(
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    QueryDef("q_pivot_events", qPivotEvents, Some(
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QueryDef("q_percentiles", qPercentiles, Some(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QueryDef("q_rollup_pricing", qRollupPricing, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin)),
    QueryDef("q_agg_pricing", qAggPricing, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QueryDef("q_join_revenue", qJoinRevenue, Some(
      """SELECT n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    QueryDef("q_ship_priority", qShipPriority, Some(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin)),
    QueryDef("q_bucketed_join", qBucketedJoin, Some(
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
        |           AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QueryDef("q_window_orders", qWindowOrders, Some(
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |SELECT o_custkey, CAST(rnk AS INT) AS rnk, o_orderkey, o_totalprice
        |FROM r WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)),
    QueryDef("q_topn_price", qTopnPrice, Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin)),
    QueryDef("q_decay_counts", qDecayCounts, Some(
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |ref AS (SELECT max(sec) AS ref FROM ev),
        |w AS (SELECT event_type,
        |        CASE WHEN (ref - sec) // 86400 <= 30
        |             THEN (CAST(1 AS BIGINT) << CAST(30 - (ref - sec) // 86400 AS INT))
        |             ELSE CAST(0 AS BIGINT) END AS w_units
        |      FROM ev, ref)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(w_units) AS BIGINT) AS decay_units,
        |  CAST(sum(w_units) AS DOUBLE) / 1073741824.0 AS decayed
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("q_events_hourly", qEventsHourly, Some(
      """SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),
    // gaps cut at MICROS on both engines (epoch_ns // 1000 = the same
    // truncation normalizeTs applies), and the window orders by the
    // truncated value too — a fixture revert to nanos precision can't
    // diverge the two engines at the 1800 s boundary or on sub-µs
    // event orderings (same convention as q_stream_sessions)
    QueryDef("q_events_sessions", qEventsSessions, Some(
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        |g AS (SELECT user_id, event_id,
        |  us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
        |  FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN gap IS NULL OR gap <= CAST(1800 AS BIGINT) * 1000000 THEN 0 ELSE 1 END) + 1 AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),
  )
}
