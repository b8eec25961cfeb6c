package graft.queries

import graft.{QueryDef, Tables}
import graft.PinnedRdds.view
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming transforms verified in batch mode (SURVEY §2.5): the same
  * plan runs under readStream (StreamingSpec), here the driver checks
  * its batch output against DuckDB.
  */
object Streaming {

  def sTumblingAgg(spark: SparkSession, dir: String): DataFrame =
    Streams.tumblingAgg(Tables.load(spark, dir, "events"))

  val sTumblingAggSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
              count(*) AS n_events, round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1, 2"""

  /** Hours where a type's event rate spikes past mean + 3σ
    * ([[Streams.rateAnomalies]]): per-type moments from exact integer
    * sums, one broadcast join, flag arithmetic bit-identical across
    * engines (the single sqrt is applied to identical doubles).
    */
  def sRateAnomaly(spark: SparkSession, dir: String): DataFrame =
    Streams.rateAnomalies(Tables.load(spark, dir, "events"))

  val sRateAnomalySql: String =
    """WITH hourly AS (
         SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS c
         FROM events GROUP BY 1, 2),
       st AS (
         SELECT event_type AS et, count(*) AS n,
                CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
         FROM hourly GROUP BY 1)
       SELECT h.window_start, h.event_type, h.c AS n_events,
              round(s / CAST(n AS DOUBLE), 4) AS mean_rate,
              round(sqrt((ss - s * s / CAST(n AS DOUBLE)) / (n - 1)), 4)
                AS sd_rate
       FROM hourly h JOIN st ON h.event_type = st.et
       WHERE n > 1 AND h.c > s / CAST(n AS DOUBLE) +
             3.0 * sqrt((ss - s * s / CAST(n AS DOUBLE)) / (n - 1))"""

  /** Seasonality-adjusted rate anomalies ([[Streams
    * .seasonalAnomalies]]): the s_rate_anomaly detector conditioned on
    * hour-of-day — the baseline a real ops screen uses, because traffic
    * has a daily cycle: a quiet-hour spike flags even though it is
    * below the busy-hour mean, and the busy-hour peak stops flagging.
    * Exact integer moments per (type, hour-of-day) cell.
    */
  def sSeasonalAnomaly(spark: SparkSession, dir: String): DataFrame =
    Streams.seasonalAnomalies(Tables.load(spark, dir, "events"))

  val sSeasonalAnomalySql: String =
    """WITH hourly AS (
         SELECT date_trunc('hour', ts) AS window_start, event_type,
                CAST(extract(hour FROM ts) AS INT) AS hod, count(*) AS c
         FROM events GROUP BY 1, 2, 3),
       st AS (
         SELECT event_type AS et, hod AS h, count(*) AS n,
                CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
         FROM hourly GROUP BY 1, 2)
       SELECT hy.window_start, hy.event_type, hy.hod, hy.c AS n_events,
              round(s / CAST(n AS DOUBLE), 4) AS mean_rate,
              round(sqrt((ss - s * s / CAST(n AS DOUBLE)) / (n - 1)), 4)
                AS sd_rate
       FROM hourly hy JOIN st ON hy.event_type = st.et AND hy.hod = st.h
       WHERE n > 1 AND hy.c > s / CAST(n AS DOUBLE) +
             3.0 * sqrt((ss - s * s / CAST(n AS DOUBLE)) / (n - 1))"""

  /** CUSUM drift detection ([[Streams.cusumDrift]]) — the SUSTAINED-
    * shift member of the ops screen family: 39j/39t flag single-hour
    * spikes; CUSUM accumulates small excesses over the reference rate
    * and fires when the cumulative drift crosses 3k, catching slow
    * ramps no point threshold sees. The sequential max(0, ·)
    * recurrence compiles to two windows via the running-sum −
    * running-min identity; all-integer, bit-identical flags.
    */
  def sCusum(spark: SparkSession, dir: String): DataFrame =
    Streams.cusumReport(Tables.load(spark, dir, "events"))

  /** EWMA control chart over the per-type hourly series
    * ([[graft.streaming.Streams.ewmaChart]]): moving-baseline spike
    * screen, α = 1/4. Oracle: the SAME sequential recurrence as a
    * recursive CTE — both engines fold the identical double operations
    * in hour order, so the trajectory (and every flag) is
    * bit-identical; the displayed ewma is 6 dp-rounded on both sides.
    */
  def sEwma(spark: SparkSession, dir: String): DataFrame =
    Streams.ewmaChart(Tables.load(spark, dir, "events"))

  val sEwmaSql: String =
    """WITH RECURSIVE hourly AS (
         SELECT date_trunc('hour', ts) AS window_start, event_type,
                CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY 1, 2),
       ord AS (
         SELECT *, row_number() OVER (
           PARTITION BY event_type ORDER BY window_start) AS rn
         FROM hourly),
       rec AS (
         SELECT event_type, window_start, c, rn,
                CAST(c AS DOUBLE) AS s, CAST(NULL AS DOUBLE) AS sp
         FROM ord WHERE rn = 1
         UNION ALL
         SELECT o.event_type, o.window_start, o.c, o.rn,
                CAST(0.25 AS DOUBLE) * o.c + CAST(0.75 AS DOUBLE) * r.s,
                r.s
         FROM ord o JOIN rec r
           ON o.event_type = r.event_type AND o.rn = r.rn + 1)
       SELECT event_type, window_start, c, round(s, 6) AS ewma,
              CASE WHEN sp IS NULL THEN false
                   ELSE c > CAST(2.0 AS DOUBLE) * sp END AS flagged
       FROM rec"""

  val sCusumSql: String =
    """WITH hourly AS (
         SELECT date_trunc('hour', ts) AS window_start, event_type,
                CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY 1, 2),
       kk AS (SELECT event_type AS et,
                     (2 * CAST(sum(c) AS BIGINT) + count(*))
                       // (2 * count(*))
                       + 1 + (CAST(sum(c) AS BIGINT) // count(*)) // 10 AS k
              FROM hourly GROUP BY 1),
       r AS (SELECT h.window_start, h.event_type, h.c, kk.k,
                    CAST(sum(h.c - kk.k) OVER
                      (PARTITION BY h.event_type ORDER BY h.window_start)
                      AS BIGINT) AS r
             FROM hourly h JOIN kk ON h.event_type = kk.et),
       s AS (SELECT window_start, event_type, c, k,
                    r - least(CAST(0 AS BIGINT), CAST(min(r) OVER
                      (PARTITION BY event_type ORDER BY window_start)
                      AS BIGINT)) AS cusum
             FROM r)
       SELECT event_type, any_value(k) AS ref_rate,
              CAST(max(cusum) AS BIGINT) AS max_cusum,
              CAST(sum(CASE WHEN cusum > 3 * k THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hours_flagged,
              min(CASE WHEN cusum > 3 * k THEN window_start END)
                AS first_flag
       FROM s GROUP BY event_type"""

  /** Per-hour heavy hitters over the event stream — the windowed face
    * of the Misra-Gries sketch. Capacity 64 exceeds the event-type
    * domain, so the sketch runs in its exact regime and the plain
    * GROUP BY oracle hash-matches; the eviction regime (the 100 TB
    * contract) stays under FreqSketchSpec's planted-skew tests.
    */
  def sHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    Streams.windowedHeavyHitters(Tables.load(spark, dir, "events"),
      "event_type", capacity = 64)

  val sHeavyHittersSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type AS item,
              count(*) AS est_count
       FROM events GROUP BY 1, 2"""

  /** The k highest-value events per hour window — the windowed face of
    * the TopK partial aggregate (§2.4 row 36b proves the aggregator
    * against the window formulation on static groups; this face keys it
    * by tumbling window, the "largest transactions each hour" report).
    * k=3 is a real cutoff at every window (~100 events/hour here), so
    * the oracle exercises the eviction path, not just the exact regime.
    */
  def sTopkWindow(spark: SparkSession, dir: String): DataFrame =
    Streams.windowedTopK(Tables.load(spark, dir, "events"),
      "value", "event_id", k = 3)

  val sTopkWindowSql: String =
    """WITH ranked AS (
         SELECT date_trunc('hour', ts) AS window_start, event_id, value,
                row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                   ORDER BY value DESC, event_id) AS rank
         FROM events)
       SELECT window_start, rank, event_id, value
       FROM ranked WHERE rank <= 3"""

  /** Hourly p50/p90/p99 of transaction value (in exact cents) through
    * the HDR quantile window ([[Streams.windowedQuantiles]]) — the
    * streaming latency-percentile dashboard. Hash-green: the sketch's
    * integer bucketing mirrors into SQL, and the rank-extraction
    * identity (estimate ≡ bucket of the exact quantile) is proved in
    * HdrSketchSpec; StreamingSpec pins stream ≡ batch bit-identity
    * across real micro-batch boundaries.
    */
  def sQuantile(spark: SparkSession, dir: String): DataFrame =
    Streams.windowedQuantiles(Tables.load(spark, dir, "events"),
      round(col("value") * 100, 0).cast("long"))

  val sQuantileSql: String = {
    val rep = graft.operators.HdrSketch.repSql("cents")
    s"""WITH v AS (SELECT date_trunc('hour', ts) AS ws,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events),
        b AS (SELECT ws, $rep AS rep, CAST(count(*) AS BIGINT) AS cnt
              FROM v GROUP BY 1, 2),
        c AS (SELECT ws, rep,
                     CAST(sum(cnt) OVER (PARTITION BY ws ORDER BY rep)
                          AS BIGINT) AS cum,
                     CAST(sum(cnt) OVER (PARTITION BY ws) AS BIGINT) AS n
              FROM b)
        SELECT CAST(ws AS TIMESTAMP) AS window_start, n AS n_events,
               min(CASE WHEN cum >= (1*n + 1) // 2 THEN rep END) AS p50,
               min(CASE WHEN cum >= (9*n + 9) // 10 THEN rep END) AS p90,
               min(CASE WHEN cum >= (99*n + 99) // 100 THEN rep END) AS p99
        FROM c GROUP BY ws, n"""
  }

  /** Multi-file copy of the events table, written once per (session,
    * dir) — the harness that lets a file-source stream deliver the
    * change log as GENUINE multiple micro-batches
    * (maxFilesPerTrigger=1): a single parquet file is always one
    * batch, which would leave the cross-batch fold untested.
    */
  private def cdcSourceDir(spark: SparkSession, dir: String): String =
    Streams.fileSource(spark, dir, "cdcSrc") {
      Tables.load(spark, dir, "events")
        .repartition(3)
    }

  private def toChanges(events: DataFrame): DataFrame =
    events.select(col("user_id").as("c_custkey"),
      round(col("value"), 2).as("balance"), col("ts"), col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"))

  /** STREAMING CDC compaction — the stream face of q_cdc_merge, and
    * the gate check of [[graft.store.CdcMerge.compact]]'s
    * ASSOCIATIVITY claim: the change log arrives as three real
    * micro-batches (file source, one file per trigger) and folds into
    * the customer snapshot via `foreachBatch`; the state retains each
    * key's winning order columns and keeps D tombstones, so the final
    * visible face must equal the one-shot batch MERGE whatever the
    * batch boundaries — hash-checked against the SAME oracle SQL as
    * q_cdc_merge. This is the streaming-materialized-view maintenance
    * pattern a lakehouse sink runs.
    */
  def sCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("balance"))
    val src = cdcSourceDir(spark, dir)
    val orderCols = Seq("ts", "event_id")
    var state = graft.store.CdcMerge
      .initState(base, toChanges(spark.read.parquet(src)), "c_custkey",
        orderCols, "op")
      .localCheckpoint()
    Streams.replay(spark, src) { b =>
      state = graft.store.CdcMerge
        .compact(state, toChanges(b), "c_custkey", orderCols, "op")
        .localCheckpoint()
    }
    graft.store.CdcMerge.visible(state, orderCols, "op")
  }

  val sCdcMergeSql: String = graft.queries.Relational.qCdcMergeSql

  /** STREAMING Bloom first-seen dedup, gate-checked: the event stream
    * arrives as three REAL micro-batches (the multi-file source, one
    * file per trigger), [[Streams.bloomDedupStream]] keeps per-bucket
    * Bloom state across batches via flatMapGroupsWithState, and the
    * surviving first-seen keys aggregate to per-type distinct-user
    * counts against the plain DISTINCT oracle. The probabilistic drop
    * is provably absent at this sizing, which is what makes the face
    * oracle-checkable: 10k-capacity/1e-6-fpp filters hold ≤ ~500 keys
    * per bucket (7.5k keys / 16 buckets at sf0.1), a ≤ 3% fill whose
    * per-test false-positive probability is ~0.03²⁰ ≈ 1e-30 — the
    * deployment sizing rule (capacity ≥ expected keys) stated as a
    * checkable gate bound, while the over-fill regime stays under
    * StreamingSpec's planted tests. Key-set output is batch-order
    * invariant (WHICH duplicate copy survives varies with file order;
    * whether a key survives does not), so the multi-batch run is
    * deterministic under any file enumeration.
    */
  def sDedupBloom(spark: SparkSession, dir: String): DataFrame = {
    val src = cdcSourceDir(spark, dir)
    val stream = Streams.fileStream(spark, src)
    Streams.toMemory(spark, Streams.bloomDedupStream(stream,
        struct(col("user_id"), col("event_type")),
        buckets = 16, expectedPerBucket = 10000L, fpp = 1e-6), src)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_first_seen"))
  }

  val sDedupBloomSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_first_seen
       FROM events GROUP BY event_type"""

  /** The events table as a single-file stream, with the same
    * TIMESTAMP(NANOS)-as-long conversion as Tables.load. The file
    * source needs a DIRECTORY: stream the sf dir with a glob filter
    * selecting only the events file.
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val raw = spark.readStream.schema(batch.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    if (batch.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }

  /** STREAMING ordered funnel, gate-checked against the batch funnel's
    * chained-CTE oracle (q_funnel's SQL): the face drives the REAL
    * Structured Streaming operator — a file-source readStream over the
    * same events parquet, [[Streams.funnelStream]]'s
    * flatMapGroupsWithState with its CONSTANT per-user state (step
    * index + one timestamp), a memory sink — then aggregates the
    * emitted step completions to per-step user counts. Greedy-in-time
    * order ≡ the batch earliest-completion recursion (StreamingSpec
    * pins the multi-batch + decoy cases), so the streaming run must
    * reproduce the batch oracle EXACTLY — the q_cdc_merge discipline
    * of gating a streaming operator on a batch-SQL truth.
    */
  def sFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val steps = Seq("view", "click", "purchase")
    val events = eventsStream(spark, dir)
    val counts = Streams.toMemory(spark, Streams.funnelStream(events, steps),
        s"$dir/events.parquet")
      .groupBy(col("step").cast("long").as("step"))
      .agg(count(lit(1)).as("users"))
    steps.zipWithIndex.map { case (n, i) => ((i + 1).toLong, n) }
      .toDF("step", "step_name")
      .join(counts, Seq("step"), "left")
      .select(col("step"), col("step_name"),
        coalesce(col("users"), lit(0L)).as("users"))
  }

  val sFunnelSql: String = graft.queries.Relational.qFunnelSql

  /** STREAMING CEP pattern detection, gate-checked against a batch-SQL
    * truth (the s_funnel discipline): drive the REAL
    * [[Streams.cepStream]] — readStream over the events parquet,
    * flatMapGroupsWithState with the bounded per-user click-window
    * state, a memory sink — then aggregate the per-purchase verdicts to
    * per-user (n_purchases, n_matches). The oracle DEFINES the pattern
    * independently: a purchase matches iff ∃ (view, click) with
    * view < click < purchase on the (µs, event_id) total order,
    * consecutive gaps ≤ 24 h, and no error strictly between the view
    * and the purchase.
    */
  def sPatternDetect(spark: SparkSession, dir: String): DataFrame = {
    val events = eventsStream(spark, dir)
    Streams.toMemory(spark, Streams.cepStream(events,
        Seq("view", "click", "purchase"), guard = "error", windowSec = 86400L),
        s"$dir/events.parquet")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        count(when(col("matched"), 1)).as("n_matches"))
  }

  val sPatternDetectSql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS s
                   FROM events)
       SELECT p.user_id, count(*) AS n_purchases,
              count(*) FILTER (WHERE EXISTS (
                SELECT 1 FROM ev c, ev v
                WHERE c.user_id = p.user_id AND v.user_id = p.user_id
                  AND c.event_type = 'click' AND v.event_type = 'view'
                  AND (c.s < p.s OR (c.s = p.s AND c.event_id < p.event_id))
                  AND p.s - c.s <= 86400000000
                  AND (v.s < c.s OR (v.s = c.s AND v.event_id < c.event_id))
                  AND c.s - v.s <= 86400000000
                  AND NOT EXISTS (
                    SELECT 1 FROM ev x
                    WHERE x.user_id = p.user_id AND x.event_type = 'error'
                      AND (x.s > v.s OR (x.s = v.s AND x.event_id > v.event_id))
                      AND (x.s < p.s OR (x.s = p.s AND x.event_id < p.event_id)))))
                AS n_matches
       FROM ev p WHERE p.event_type = 'purchase'
       GROUP BY p.user_id"""

  /** Derived time-INTERLEAVED file source for the late-data face: the
    * events table split into three files by event_id mod 3 — each file
    * spans the whole time range, so replaying them as micro-batches
    * makes the second and third batches arrive with event times far
    * behind the advanced watermark (real late data, unlike the
    * time-ordered single-file replay every other stream face uses) —
    * plus two far-future '__flush' sentinel files that advance the
    * watermark past every real window and then give the engine a batch
    * to evict them in. File modification times are staggered so the
    * file source's oldest-first ordering equals the batch design.
    */
  private def lateSourceDir(spark: SparkSession, dir: String): String =
    view(spark, dir, "lateSrc") {
      import java.nio.file.{Files, Paths}
      val out = graft.streaming.Streams.scratchDir("graft_late_src")
      val ev = Tables.load(spark, dir, "events")
      val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      def writeOne(df: DataFrame, name: String, mtime: Long): Unit = {
        val staging = graft.streaming.Streams.scratchDir("graft_late_stage")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(out, name))
        new java.io.File(out, name).setLastModified(mtime)
        ()
      }
      val base = System.currentTimeMillis() - 3600000L
      for (b <- 0 to 2)
        writeOne(ev.filter(pmod(col("event_id"), lit(3L)) === b.toLong),
          s"b$b.parquet", base + b * 2000L)
      def sentinel(plusDays: Int, id: Long) = ev.limit(1).select(
        lit(id).as("event_id"),
        (col("ts") - col("ts") + lit(new java.sql.Timestamp(
          maxTs.getTime + plusDays * 86400000L))).as("ts"),
        lit(0L).as("user_id"), lit("__flush").as("event_type"),
        lit(0.0).as("value"), lit("").as("props"))
      writeOne(sentinel(30, -1L), "f0.parquet", base + 6000L)
      writeOne(sentinel(60, -2L), "f1.parquet", base + 8000L)
      out
    }

  /** STREAMING windowed aggregation under REAL late data: the events
    * table replayed as three time-interleaved micro-batches (file
    * source, one file per trigger) through
    * [[Streams.lateDataAgg]]'s watermarked day-window count — the
    * watermark advanced by batch 1 genuinely DISCARDS late rows of
    * batch 3. The oracle replays the exact drop rule in SQL
    * (WatermarkProbeSpec pins the boundary; the batch-lag was measured
    * on this very pipeline): Spark keeps TWO watermarks (SPARK-42376) —
    * late-event FILTERING uses the previous micro-batch's value, i.e.
    * max(ts over batches ≤ i−2) − 1 h for batch i, while state EVICTION
    * uses the current one (max over ≤ i−1). A row survives iff its
    * day-window end > the late-event watermark of its batch; the
    * filter/eviction split can never double-emit a group (eviction at
    * batch i requires end ≤ currentWm(i), and batch-(i+1) late rows
    * pass the filter only if end > that same value). This face is the
    * deployment
    * question "what did the watermark cost me" made checkable: the
    * per-window counts ARE the post-drop truth.
    */
  def sLateData(spark: SparkSession, dir: String): DataFrame = {
    val src = lateSourceDir(spark, dir)
    val stream = Streams.fileStream(spark, src)
    Streams.toMemory(spark, Streams.lateDataAgg(stream), src)
      .filter(col("event_type") =!= "__flush")
      .select(col("window_start"), col("event_type"), col("n"))
  }

  val sLateDataSql: String =
    """WITH ev AS (SELECT event_id, ts, event_type, event_id % 3 AS b
                   FROM events),
       bm AS (SELECT b, max(ts) AS mt FROM ev GROUP BY b),
       wm AS (SELECT b, max(mt) OVER (ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - INTERVAL 1 HOUR AS w
              FROM bm),
       keep AS (SELECT e.ts, e.event_type FROM ev e
                LEFT JOIN wm ON wm.b = e.b - 2
                WHERE wm.w IS NULL
                   OR date_trunc('day', e.ts) + INTERVAL 1 DAY > wm.w)
       SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
              event_type, count(*) AS n
       FROM keep GROUP BY 1, 2"""

  def sSessionize(spark: SparkSession, dir: String): DataFrame =
    Streams.sessionize(Tables.load(spark, dir, "events"), gapSeconds = 1800L)
      .select(col("user_id"), col("session_idx").cast("long").as("session_idx"),
        col("session_start"), col("session_end"), col("n_events"))

  val sSessionizeSql: String =
    """WITH marked AS (
         SELECT user_id, ts, event_id,
                CASE WHEN lag(epoch(ts)) OVER w IS NULL
                       OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                     THEN 1 ELSE 0 END AS is_new
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       sess AS (
         SELECT user_id, ts,
                CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS session_idx
         FROM marked)
       SELECT user_id, session_idx,
              min(ts) AS session_start, max(ts) AS session_end,
              count(*) AS n_events
       FROM sess GROUP BY user_id, session_idx"""

  /** Session bounce rate: per user, the share of sessions containing a
    * single event — the engagement metric every product dashboard pairs
    * with sessionization. Pure projection of the [[Streams.sessionize]]
    * output (no new shuffle beyond the session windows); integer counts
    * with one 4dp-sealed rate.
    */
  def sBounce(spark: SparkSession, dir: String): DataFrame =
    Streams.sessionize(Tables.load(spark, dir, "events"), gapSeconds = 1800L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("user_id"), col("n_sessions"), col("n_bounces"),
        // exact integer round-half-up (the half-rounding class)
        (expr("(n_bounces * 20000 + n_sessions) DIV (2 * n_sessions)")
          .cast("double") / 10000.0).as("bounce_rate"))

  val sBounceSql: String =
    """WITH marked AS (
         SELECT user_id, ts, event_id,
                CASE WHEN lag(epoch(ts)) OVER w IS NULL
                       OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                     THEN 1 ELSE 0 END AS is_new
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       sess AS (
         SELECT user_id, ts,
                sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_idx
         FROM marked),
       per_session AS (
         SELECT user_id, session_idx, count(*) AS n_events
         FROM sess GROUP BY 1, 2)
       SELECT user_id, count(*) AS n_sessions,
              CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_bounces,
              CAST((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 20000
                    + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0
                AS bounce_rate
       FROM per_session GROUP BY user_id"""

  /** Batch face of the engine-native `session_window` sessionizer
    * ([[Streams.sessionizeNative]]). The oracle mirrors session_window's
    * OWN boundary convention — an arrival exactly `gap` after the
    * previous event SPLITS (merge requires next < prev + gap), hence
    * `>= 1800` below, where `s_sessionize`'s gap-split uses `> 1800`.
    * The two faces agree everywhere except an exact-gap arrival; the
    * oracle is exact either way, not data-dependent.
    */
  def sSessionNative(spark: SparkSession, dir: String): DataFrame =
    Streams.sessionizeNative(Tables.load(spark, dir, "events"),
      gapSeconds = 1800L, withWatermark = false)

  val sSessionNativeSql: String =
    """WITH marked AS (
         SELECT user_id, ts, event_id,
                CASE WHEN lag(epoch(ts)) OVER w IS NULL
                       OR epoch(ts) - lag(epoch(ts)) OVER w >= 1800
                     THEN 1 ELSE 0 END AS is_new
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       sess AS (
         SELECT user_id, ts,
                sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         FROM marked)
       SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
              count(*) AS n_events
       FROM sess GROUP BY user_id, session_idx"""

  /** Batch face of the streaming dedup (SURVEY §2.5 row 39b): which
    * (user, event_type) keys survive. The key set is deterministic even
    * though dropDuplicates' surviving ROW is not, so this is the
    * oracle-safe projection.
    */
  def sDedupKeys(spark: SparkSession, dir: String): DataFrame =
    Streams.dedupStream(Tables.load(spark, dir, "events"),
        Seq("user_id", "event_type"), withWatermark = false)
      .select(col("user_id"), col("event_type"))

  val sDedupKeysSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** Batch face of the sliding-window aggregate. Oracle: every event
    * contributes to two 30-minute-aligned window starts (its own
    * bucket and the one 30 minutes earlier); DuckDB's `time_bucket`
    * origin (2000-01-03, epoch 946857600 — divisible by 1800) aligns
    * 30-minute buckets identically to Spark's epoch-aligned windows.
    */
  def sSlidingAgg(spark: SparkSession, dir: String): DataFrame =
    Streams.slidingAgg(Tables.load(spark, dir, "events"))

  val sSlidingAggSql: String =
    """WITH sl AS (
         SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                        time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE])
                  AS window_start,
                event_type, value
         FROM events)
       SELECT window_start, event_type, count(*) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM sl GROUP BY 1, 2"""

  /** Batch face of the stream-stream interval join — same attribution
    * semantics as q_range_join (deliberately the same oracle: the
    * bucketized operator and the watermark-join formulation must agree).
    */
  def sStreamJoin(spark: SparkSession, dir: String): DataFrame =
    Streams.intervalJoin(Tables.load(spark, dir, "events"), windowSeconds = 1800L)

  val sStreamJoinSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
       FROM events c JOIN events p
         ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts"""

  /** LEFT OUTER stream-stream interval join ([[Streams.intervalJoinOuter]]):
    * every click with its attributed purchase or NULL — the unmatched
    * side only emits after watermark eviction in streaming mode
    * (StreamingSpec pins the timing); batch face is the plain left
    * join below.
    */
  def sStreamJoinOuter(spark: SparkSession, dir: String): DataFrame =
    Streams.intervalJoinOuter(Tables.load(spark, dir, "events"),
      windowSeconds = 1800L)

  val sStreamJoinOuterSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
       FROM events c LEFT JOIN events p
         ON c.user_id = p.user_id
        AND p.event_type = 'purchase'
        AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
       WHERE c.event_type = 'click'"""

  /** Batch face of the stream-static enrichment: events joined to the
    * customer→nation dimension (broadcast), hourly counts per nation.
    */
  def sEnrichAgg(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val nat = Tables.load(spark, dir, "nation")
    val dim = cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    Streams.enrichAgg(Tables.load(spark, dir, "events"), dim,
      dimKey = "c_custkey", dimAttr = "n_name")
  }

  val sEnrichAggSql: String =
    """SELECT date_trunc('hour', e.ts) AS window_start, n.n_name,
              count(*) AS n_events, round(sum(e.value), 2) AS sum_value
       FROM events e
       JOIN customer c ON e.user_id = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       GROUP BY 1, 2"""

  /** Peak session concurrency per day — the sweep-line interval
    * aggregation (max overlapping intervals) over the verified
    * sessionizer's output: +1 at each session start, −1 at each end,
    * running sum, per-day max. Boundary deltas are NETTED PER INSTANT
    * before the prefix (a session ending exactly when another starts is
    * net 0), which removes all tie-order ambiguity — the output is
    * exact integers.
    *
    * Scale posture: the prefix sum is NOT one global window — boundaries
    * pre-aggregate to distinct instants, the within-day running sum
    * partitions by day, and cross-day carry is a prefix over the tiny
    * day table joined back: the two-level scan a 100 TB sweep line
    * actually runs (the only single-partition window is over ~days
    * rows).
    */
  def qConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = Streams.sessionize(Tables.load(spark, dir, "events"),
      gapSeconds = 1800L)
    val b = sess.select(col("session_start").as("ts"), lit(1L).as("d"))
      .unionByName(sess.select(col("session_end").as("ts"), lit(-1L).as("d")))
    val perTs = b.groupBy(col("ts")).agg(sum(col("d")).as("delta"))
      .withColumn("day", to_date(col("ts")))
    val wDay = Window.partitionBy(col("day")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inDay = perTs.withColumn("run_in_day", sum(col("delta")).over(wDay))
    val wDays = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dayOffset = perTs.groupBy(col("day"))
      .agg(sum(col("delta")).as("day_delta"))
      .withColumn("off", coalesce(sum(col("day_delta")).over(wDays), lit(0L)))
      .select(col("day"), col("off"))
    inDay.join(dayOffset, "day")
      .withColumn("conc", col("run_in_day") + col("off"))
      .groupBy(col("day"))
      .agg(max(col("conc")).as("peak_concurrent"),
        count(lit(1)).as("n_boundaries"))
  }

  val qConcurrencySql: String =
    """WITH marked AS (
         SELECT user_id, ts, event_id,
                CASE WHEN lag(epoch(ts)) OVER w IS NULL
                       OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                     THEN 1 ELSE 0 END AS is_new
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (
         SELECT user_id, ts,
                sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         FROM marked),
       sess AS (
         SELECT user_id, session_idx, min(ts) AS st, max(ts) AS en
         FROM s GROUP BY 1, 2),
       b AS (SELECT st AS ts, 1 AS d FROM sess
             UNION ALL SELECT en, -1 FROM sess),
       pt AS (SELECT ts, sum(d) AS delta FROM b GROUP BY ts),
       run AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                      CAST(sum(delta) OVER (ORDER BY ts) AS BIGINT) AS conc
               FROM pt)
       SELECT day, max(conc) AS peak_concurrent, count(*) AS n_boundaries
       FROM run GROUP BY day"""

  /** Hourly approximate distinct users (KMV k=256) — rows-only: the
    * estimator is seeded-hash arithmetic with no SQL mirror; exactness
    * below k and streaming↔batch sketch identity live in
    * StreamingSpec/KmvSpec.
    */
  def sDistinctKmv(spark: SparkSession, dir: String): DataFrame =
    Streams.windowedDistinctKmv(
      Tables.load(spark, dir, "events"), "user_id", k = 256)

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("s_tumbling_agg", sTumblingAgg, sTumblingAggSql),
    QueryDef.rowsOnly("s_distinct_kmv", sDistinctKmv),
    QueryDef.sql("s_quantile", sQuantile, sQuantileSql),
    QueryDef.sql("s_seasonal_anomaly", sSeasonalAnomaly, sSeasonalAnomalySql),
    QueryDef.sql("s_cusum", sCusum, sCusumSql),
    QueryDef.sql("s_ewma", sEwma, sEwmaSql),
    QueryDef.sql("q_concurrency", qConcurrency, qConcurrencySql),
    QueryDef.sql("s_sessionize", sSessionize, sSessionizeSql),
    QueryDef.sql("s_session_native", sSessionNative, sSessionNativeSql),
    QueryDef.sql("s_bounce", sBounce, sBounceSql),
    QueryDef.sql("s_dedup_keys", sDedupKeys, sDedupKeysSql),
    QueryDef.sql("s_sliding_agg", sSlidingAgg, sSlidingAggSql),
    QueryDef.sql("s_stream_join", sStreamJoin, sStreamJoinSql),
    QueryDef.sql("s_stream_join_outer", sStreamJoinOuter, sStreamJoinOuterSql),
    QueryDef.sql("s_enrich_agg", sEnrichAgg, sEnrichAggSql),
    QueryDef.sql("s_heavy_hitters", sHeavyHitters, sHeavyHittersSql),
    QueryDef.sql("s_rate_anomaly", sRateAnomaly, sRateAnomalySql),
    QueryDef.sql("s_topk_window", sTopkWindow, sTopkWindowSql),
    QueryDef.sql("s_funnel", sFunnel, sFunnelSql),
    QueryDef.sql("s_pattern_detect", sPatternDetect, sPatternDetectSql),
    QueryDef.sql("s_late_data", sLateData, sLateDataSql),
    QueryDef.sql("s_cdc_merge", sCdcMerge, sCdcMergeSql),
    QueryDef.sql("s_dedup_bloom", sDedupBloom, sDedupBloomSql))
}
