package graft.queries

import graft.{QueryDef, Tables}
import graft.PinnedRdds.{pinning, view}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational analytics core (SURVEY §2.4) — the generalization of the
  * reference's MATCH + property-filter surface to full scan/filter/join/
  * aggregate/window plans. These are also the bench headliners, so each
  * plan is written for scale: minimal projections (column pruning reaches
  * the parquet scan), filters applied before joins (pushdown), dimension
  * tables broadcast, facts shuffled on the join key only once.
  */
object Relational {

  /** Pricing summary (TPC-H Q1 shape). One scan, one shuffle (groupBy). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-01'
       GROUP BY l_returnflag, l_linestatus"""

  /** ROLLUP subtotal hierarchy (flag → flag+status → grand total) — the
    * multi-level reporting aggregate. Spark plans rollup as ONE Expand +
    * aggregate pass (each input row expands to its grouping sets; no
    * per-level rescan), which is exactly the plan you want at 100 TB:
    * grouping-set count multiplies the shuffle, never the scan.
    */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"))

  val qRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
       FROM lineitem
       GROUP BY ROLLUP (l_returnflag, l_linestatus)"""

  /** CUBE over (returnflag, linestatus): all four grouping sets in the
    * same ONE Expand + one aggregation pass as rollup — the full
    * cross-dimensional reporting aggregate.
    */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"))

  val qCubeSql: String =
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
       FROM lineitem
       GROUP BY CUBE (l_returnflag, l_linestatus)"""

  /** Top-k per group as a custom partial AGGREGATE
    * ([[graft.operators.TopK]]) — the scale-preferred alternative to the
    * window formulation `q_topk_per_group`: the shuffle carries ≤ k
    * entries per (group, map partition), no reducer-side full-group
    * sort. Same task, same oracle shape — the two formulations must
    * agree row for row.
    */
  def qTopkAgg(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TopK.topKPerGroup(
        Tables.load(spark, dir, "orders"),
        groupCol = "o_custkey", valueCol = "o_totalprice", idCol = "o_orderkey",
        k = 3)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))

  val qTopkAggSql: String =
    """SELECT o_custkey, CAST(rank AS BIGINT) AS rank, o_orderkey,
              round(o_totalprice, 2) AS o_totalprice
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rank
             FROM orders)
       WHERE rank <= 3"""

  /** Pivot (long → wide): per-user event-type value matrix. Spark plans
    * pivot over an explicit value list as ONE aggregate pass with a
    * conditional-agg column per value — no per-column rescan, same as
    * the FILTER formulation the oracle runs.
    */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", eventTypes)
      .agg(round(sum(col("value")), 2))

  val qPivotSql: String = {
    val cols = eventTypes.map(t =>
      s"round(sum(value) FILTER (WHERE event_type = '$t'), 2) AS $t").mkString(", ")
    s"SELECT user_id, $cols FROM events GROUP BY user_id"
  }

  /** Weekly cohort retention: users grouped by first-activity week,
    * counted per week-offset of later activity — the standard retention
    * matrix. Two aggregations + one join on user_id; week arithmetic is
    * exact day counts between Monday-truncated dates (both engines
    * truncate weeks to Monday).
    */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val first = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("w0"))
    val active = ev.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("w")).distinct()
    active.join(first, "user_id")
      .select(col("w0").as("cohort_week"),
        // Monday-to-Monday day counts are exact multiples of 7
        (datediff(col("w"), col("w0")) / 7).cast("long").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      // (user, week) rows are distinct, so the count IS distinct users
      .agg(count(lit(1)).as("n_active"))
  }

  val qRetentionSql: String =
    """WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS w0
                  FROM events GROUP BY user_id),
       a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
             FROM events)
       SELECT f.w0 AS cohort_week,
              CAST(datediff('day', f.w0, a.w) // 7 AS BIGINT) AS week_offset,
              count(*) AS n_active
       FROM a JOIN f USING (user_id)
       GROUP BY 1, 2"""

  /** Shipping-priority (TPC-H Q3 shape): filtered 3-way join + agg + top-k.
    * customer is small relative to the facts → broadcast; lineitem and
    * orders each shuffle once on l_orderkey/o_orderkey.
    */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1999-03-15"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1999-03-15"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  val q3ShippingSql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1999-03-15'
         AND l_shipdate > TIMESTAMP '1999-03-15'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, o_orderdate, l_orderkey
       LIMIT 10"""

  /** Top supplier (TPC-H Q15 shape): an aggregate view compared against
    * its own scalar MAX — the "which key(s) attain the group-wise
    * extreme" pattern (Spark plans the scalar as a broadcast one-row
    * subplan; the revenue view is computed once and reused for both
    * sides). Equality against an aggregate is ULP-fragile on floats, so
    * revenue is EXACT integer arithmetic end-to-end: price cents ×
    * (100 − discount points) summed as longs — both engines compare
    * identical integers and divide once for display (the dataset-card
    * discipline applied to a TPC-H classic; Q15's float SUM is the
    * textbook case of tie-detection ambiguity).
    */
  def qTopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val discPts = floor(col("l_discount") * 100 + 0.5).cast("long")
    val rev = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents * (lit(100L) - discPts)).as("rev4"))
    val mx = rev.agg(max(col("rev4")).as("max_rev4"))
    Tables.load(spark, dir, "supplier")
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(mx))
      .where(col("rev4") === col("max_rev4"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev4").cast("double") / 1e4, 2).as("total_revenue"))
  }

  val qTopSupplierSql: String =
    """WITH rev AS (
         SELECT l_suppkey,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                         * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                  AS BIGINT) AS rev4
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1996-04-01'
         GROUP BY 1)
       SELECT s_suppkey, s_name,
              round(CAST(rev4 AS DOUBLE) / 10000.0, 2) AS total_revenue
       FROM supplier JOIN rev ON s_suppkey = l_suppkey
       WHERE rev4 = (SELECT max(rev4) FROM rev)"""

  /** Local-supplier volume (TPC-H Q5 shape): 6-way star join. All four
    * dimension legs (region→nation→customer / supplier) broadcast; the
    * only shuffles are lineitem⋈orders on the order key and the final
    * groupBy on n_name.
    */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = Tables.load(spark, dir, "nation")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.load(spark, dir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_nationkey"), col("n_name"))
    val supp = Tables.load(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
  }

  val q5MultiJoinSql: String =
    """SELECT n_name,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
       FROM lineitem
       JOIN orders   ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
       JOIN nation   ON c_nationkey = n_nationkey
       JOIN region   ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1998-01-01'
       GROUP BY n_name"""

  /** Window rank: each customer's 3 largest orders. row_number with a
    * full tiebreak (price desc, key) keeps the result deterministic.
    */
  /** EXISTS semi-join (TPC-H Q4 shape): order-priority counts over
    * orders with at least one near-max-quantity lineitem. `left_semi`
    * keeps the probe side single-copy — the build side is only ever
    * tested for existence, never multiplied into the output, so the
    * join cannot fan out rows no matter how many qualifying items an
    * order has.
    */
  def qExistsSemi(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    val big = Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"))
    ord.join(big, ord("o_orderkey") === big("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** Funnel step-transition latencies ([[graft.operators.Funnel
    * .latencies]]): the time-to-convert distribution per transition over
    * the SAME survivor frames q_funnel counts — where users stall, not
    * just where they drop. Exact interpolated percentiles for the gate;
    * `approx_percentile` is the at-scale swap.
    */
  def qFunnelLatency(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.latencies(Tables.load(spark, dir, "events"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))

  val qFunnelLatencySql: String =
    """WITH s1 AS (
         SELECT user_id AS u, min(ts) AS t1 FROM events
         WHERE event_type = 'view' GROUP BY 1),
       s2 AS (
         SELECT e.user_id AS u, min(e.ts) AS t2
         FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t1
         WHERE e.event_type = 'click' GROUP BY 1),
       s3 AS (
         SELECT e.user_id AS u, min(e.ts) AS t3
         FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t2
         WHERE e.event_type = 'purchase' GROUP BY 1),
       l1 AS (SELECT epoch(t2) - epoch(t1) AS lat FROM s2 JOIN s1 USING (u)),
       l2 AS (SELECT epoch(t3) - epoch(t2) AS lat FROM s3 JOIN s2 USING (u))
       SELECT CAST(1 AS BIGINT) AS step, 'view->click' AS transition,
              count(*) AS users,
              round(quantile_cont(lat, 0.5), 2) AS p50_sec,
              round(quantile_cont(lat, 0.9), 2) AS p90_sec,
              round(max(lat), 2) AS max_sec
       FROM l1
       UNION ALL
       SELECT CAST(2 AS BIGINT), 'click->purchase', count(*),
              round(quantile_cont(lat, 0.5), 2),
              round(quantile_cont(lat, 0.9), 2),
              round(max(lat), 2)
       FROM l2"""

  /** Pairwise Pearson correlation matrix over the lineitem numeric
    * columns — the data-exploration one-liner, computed as ONE
    * aggregation pass (every `corr` is a moment aggregate, so all six
    * pairs partial-merge in the same map-side combine) and
    * long-formatted by a stack projection of the single stats row.
    */
  def qCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.length
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 6).as(s"${a}__$b")
    }
    val stackArgs = pairs
      .map { case (a, b) => s"'$a', '$b', `${a}__$b`" }.mkString(", ")
    li.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${pairs.length}, $stackArgs) AS (col_a, col_b, pearson_r)")
  }

  val qCorrMatrixSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.length
    } yield (cols(i), cols(j))
    pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
                round(corr($a, $b), 6) AS pearson_r
         FROM lineitem"""
    }.mkString("\nUNION ALL\n")
  }

  /** Robust outlier screen per group: median + MAD (median absolute
    * deviation), flagging values beyond 3 scaled MADs — the
    * quality-control screen that survives the heavy tails that break
    * mean/stddev z-scores. Exact interpolated `percentile` here (the
    * driver gate hashes values); the deployment swap at 100 TB is
    * `approx_percentile`, same plan shape. Two grouped percentile
    * passes (median, then median of deviations) + one counting pass,
    * all keyed on the group — no global sort anywhere.
    */
  def qMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val dev = ev.join(med, "event_type")
      .select(col("event_type"), col("value"), col("med"),
        abs(col("value") - col("med")).as("adev"))
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.join(mad, "event_type")
      .groupBy(col("event_type"))
      .agg(round(first(col("med")), 4).as("med"),
        round(first(col("mad")), 4).as("mad"),
        sum(when(abs(col("value") - col("med")) >
            lit(3.0) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"),
        count(lit(1)).as("n"))
  }

  /** Winsorized robust preprocessing per event type: cap values at the
    * exact p05/p95 group percentiles and report the cap rates plus
    * raw-vs-winsorized means — the heavy-tail treatment a feature
    * pipeline applies BEFORE normalization (the capping complement of
    * the MAD screen, which flags; this one repairs). Two group-keyed
    * passes (percentile fit + capped re-aggregation), no global sort;
    * `approx_percentile` is the 100 TB swap with the identical plan
    * shape (the q_mad_outliers note applies verbatim). Percentile
    * interpolation parity Spark `percentile` ≡ DuckDB `quantile_cont`
    * is the proven q_mad_outliers contract; means ride the standing
    * round(·, 4) seal.
    */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value"))
    val q = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.05)).as("lo"),
        percentile(col("value"), lit(0.95)).as("hi"))
    ev.join(q, "event_type")
      .groupBy(col("event_type"))
      .agg(round(first(col("lo")), 4).as("lo"),
        round(first(col("hi")), 4).as("hi"),
        count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L))
          .as("n_capped_low"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L))
          .as("n_capped_high"),
        round(avg(col("value")), 4).as("raw_mean"),
        round(avg(least(greatest(col("value"), col("lo")), col("hi"))), 4)
          .as("wins_mean"))
  }

  val qWinsorizeSql: String =
    """WITH q AS (
         SELECT event_type, quantile_cont(value, 0.05) AS lo,
                quantile_cont(value, 0.95) AS hi
         FROM events GROUP BY 1)
       SELECT e.event_type, round(min(q.lo), 4) AS lo,
              round(min(q.hi), 4) AS hi, count(*) AS n,
              CAST(sum(CASE WHEN e.value < q.lo THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_capped_low,
              CAST(sum(CASE WHEN e.value > q.hi THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_capped_high,
              round(avg(e.value), 4) AS raw_mean,
              round(avg(least(greatest(e.value, q.lo), q.hi)), 4)
                AS wins_mean
       FROM events e JOIN q USING (event_type)
       GROUP BY 1"""

  val qMadOutliersSql: String =
    """WITH med AS (
         SELECT event_type, median(value) AS med
         FROM events GROUP BY 1),
       dev AS (
         SELECT e.event_type, e.value, m.med,
                abs(e.value - m.med) AS adev
         FROM events e JOIN med m USING (event_type)),
       mad AS (
         SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1)
       SELECT d.event_type,
              round(min(d.med), 4) AS med,
              round(min(a.mad), 4) AS mad,
              CAST(sum(CASE WHEN abs(d.value - d.med) >
                  3.0 * 1.4826 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
                AS n_outliers,
              count(*) AS n
       FROM dev d JOIN mad a USING (event_type)
       GROUP BY 1"""

  /** Cumulative distinct reach (running count of users ever seen, per
    * day) — the audience-growth curve. The classic trap is a running
    * COUNT(DISTINCT) window (quadratic re-scan per day); the linear
    * form aggregates each user to their FIRST day (one user-keyed
    * shuffle), counts new users per day, and prefix-sums over the
    * calendar-bounded day table — the single-partition window touches
    * only days, never events, so the plan holds at any event volume.
    */
  def qCumDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val newPerDay = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val days = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.join(newPerDay, Seq("day"), "left")
      .select(col("day"), col("n_events"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        sum(coalesce(col("new_users"), lit(0L))).over(w).as("cum_users"))
  }

  val qCumDistinctSql: String =
    """WITH fd AS (
         SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS day
         FROM events GROUP BY 1),
       npd AS (SELECT day, count(*) AS new_users FROM fd GROUP BY 1),
       days AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                       count(*) AS n_events
                FROM events GROUP BY 1)
       SELECT d.day, d.n_events,
              coalesce(npd.new_users, 0) AS new_users,
              CAST(sum(coalesce(npd.new_users, 0)) OVER (
                ORDER BY d.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS cum_users
       FROM days d LEFT JOIN npd USING (day)"""

  /** Calendar gap-fill + LOCF (last-observation-carried-forward): the
    * time-series densification every metrics store runs — per user,
    * generate the full daily calendar between first and last purchase
    * (`sequence` + explode: the calendar explode is Σ user spans, never
    * a global cross join) and carry the last observed daily reading
    * across missing days with an ignoreNulls running `last` window.
    * One shuffle by user for the window; the daily pre-aggregate is
    * round-sealed BEFORE the fill so carried values are bit-identical
    * to observed ones.
    */
  def qGapfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .filter(col("user_id") < 20 && col("event_type") === "purchase")
    val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(max(col("value")), 4).as("reading"))
    val cal = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        round(last(col("reading"), ignoreNulls = true).over(w), 4)
          .as("reading"),
        col("reading").isNull.as("filled"))
  }

  val qGapfillSql: String =
    """WITH daily AS (
         SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                round(max(value), 4) AS reading
         FROM events WHERE user_id < 20 AND event_type = 'purchase'
         GROUP BY 1, 2),
       span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
                FROM daily GROUP BY 1),
       cal AS (SELECT user_id,
                      CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                        AS DATE) AS day
               FROM span)
       SELECT c.user_id, c.day,
              round(last_value(d.reading IGNORE NULLS) OVER (
                PARTITION BY c.user_id ORDER BY c.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                AS reading,
              d.reading IS NULL AS filled
       FROM cal c LEFT JOIN daily d
       ON c.user_id = d.user_id AND c.day = d.day"""

  /** One-pass table profile ([[graft.operators.Profiler]]) over the
    * events stream table — the SUMMARIZE datasheet: per column, null
    * count, exact distinct count, numeric min/max, mean string length.
    * ONE aggregation pass (the multi-distinct Expand is the only row
    * multiplier; `exact = false` swaps it for mergeable HLL partials at
    * deployment scale), long-formatted by a pure stack projection of
    * the single stats row.
    */
  def qProfile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiler.summarize(Tables.load(spark, dir, "events"))

  val qProfileSql: String = {
    def face(name: String, dtype: String, numeric: Boolean,
        str: Boolean): String = {
      val minMax =
        if (numeric)
          s"round(CAST(min($name) AS DOUBLE), 4) AS min_d, " +
            s"round(CAST(max($name) AS DOUBLE), 4) AS max_d"
        else "CAST(NULL AS DOUBLE) AS min_d, CAST(NULL AS DOUBLE) AS max_d"
      val avgLen =
        if (str) s"round(avg(length($name)), 2) AS avg_len"
        else "CAST(NULL AS DOUBLE) AS avg_len"
      s"""SELECT '$name' AS col_name, '$dtype' AS dtype,
                count(*) AS n_rows,
                CAST(sum(CASE WHEN $name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_null,
                count(DISTINCT $name) AS n_distinct, $minMax, $avgLen
         FROM events"""
    }
    Seq(
      face("event_id", "bigint", numeric = true, str = false),
      face("ts", "timestamp", numeric = false, str = false),
      face("user_id", "bigint", numeric = true, str = false),
      face("event_type", "string", numeric = false, str = true),
      face("value", "double", numeric = true, str = false),
      face("props", "string", numeric = false, str = true))
      .mkString("\nUNION ALL\n")
  }

  /** Bloom-pruned exact semi join ([[graft.operators.BloomJoin]]): the
    * runtime-filter join for dims too big to broadcast — fact rows that
    * can't match die inside the scan stage on a codegen'd
    * `might_contain`, and only survivors pay the exact semi-join
    * shuffle. Output is bit-equal to the plain semi join (false
    * positives cost shuffle bytes, never correctness), which is exactly
    * what the EXISTS oracle checks.
    */
  def qBloomSemi(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val dim = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 150000.0)
    graft.operators.BloomJoin
      .semiJoin(li, dim, "l_orderkey", "o_orderkey", expectedItems = 50000L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  val qBloomSemiSql: String =
    """SELECT l_returnflag, count(*) AS n_items,
              round(sum(l_quantity), 2) AS sum_qty
       FROM lineitem l
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_orderkey = l.l_orderkey
                       AND o.o_orderpriority = '1-URGENT'
                       AND o.o_totalprice > 150000.0)
       GROUP BY l_returnflag"""

  /** Bloom-pruned exact ANTI join — the decontamination shape (keep
    * fact rows matching NOTHING in the dim). Bloom filters have no
    * false negatives, so a key that misses the filter skips the
    * exchange entirely and goes straight to the output; only the
    * might-contain survivors (true matches + fpp) pay the exact
    * anti-join shuffle. At a 100 TB fact with a selective dim this
    * routes ~all of the fact around the shuffle.
    */
  def qBloomAnti(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val dim = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 150000.0)
    graft.operators.BloomJoin
      .antiJoin(li, dim, "l_orderkey", "o_orderkey", expectedItems = 50000L)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
  }

  val qBloomAntiSql: String =
    """SELECT l_linestatus, count(*) AS n_items,
              round(sum(l_extendedprice), 2) AS sum_price
       FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_orderkey = l.l_orderkey
                           AND o.o_orderpriority = '1-URGENT'
                           AND o.o_totalprice > 150000.0)
       GROUP BY l_linestatus"""

  val qExistsSemiSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders o
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
       GROUP BY o_orderpriority"""

  /** Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER
    * join so zero-order customers survive with count 0, then the
    * distribution over that count — the two-level aggregation that
    * exercises outer-join null semantics in the first groupBy.
    */
  def qCustDist(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer").select(col("c_custkey"))
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"))
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count")) // count skips nulls
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val qCustDistSql: String =
    """SELECT c_count, count(*) AS custdist
       FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
             FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
             GROUP BY c.c_custkey)
       GROUP BY c_count"""

  /** Moving-frame window aggregate: per-user 3-event trailing average
    * over the event stream — the ROWS BETWEEN frame family (running /
    * sliding computations inside a partition), distinct from the
    * row_number ranking windows. One shuffle on user_id; the frame
    * is O(1) incremental per row.
    */
  def qMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    ev.select(col("user_id"), col("event_id"),
      round(avg(col("value")).over(w), 4).as("avg3"))
  }

  val qMovingAvgSql: String =
    """SELECT user_id, event_id,
              round(avg(value) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg3
       FROM events"""

  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("rn"))
  }

  val qWindowRankSql: String =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders)
       WHERE rn <= 3"""

  /** Top-k per group: 5 priciest parts per brand. */
  def qTopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(spark, dir, "part")
      .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    part.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("p_brand"), col("p_partkey"), col("p_name"),
        round(col("p_retailprice"), 2).as("p_retailprice"), col("rn"))
  }

  val qTopkPerGroupSql: String =
    """SELECT p_brand, p_partkey, p_name, round(p_retailprice, 2) AS p_retailprice, rn
       FROM (SELECT p_brand, p_partkey, p_name, p_retailprice,
               row_number() OVER (PARTITION BY p_brand
                 ORDER BY p_retailprice DESC, p_partkey) AS rn
             FROM part)
       WHERE rn <= 5"""

  /** As-of join: for every purchase event, the most recent prior click by
    * the same user. Implemented the scalable way — union the two sides,
    * one sort within each user partition, carry the last click forward —
    * a single shuffle on user_id, no pairwise join blowup. The oracle
    * verifies the semantics with a plain (quadratic) SQL formulation.
    */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("click_value"), lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(null).cast("double").as("click_value"), col("event_id").as("purchase_id"))
    // Within a user, order by (ts, event_id); clicks sort before any
    // simultaneous purchase because event ids are generation-ordered.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_click", last(col("click_value"), ignoreNulls = true).over(w))
      .filter(col("purchase_id").isNotNull)
      .select(col("purchase_id"), col("user_id"),
        round(col("asof_click"), 4).as("asof_click"))
  }

  val qAsofJoinSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
       round((SELECT c.value FROM events c
              WHERE c.event_type = 'click' AND c.user_id = p.user_id
                AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
              ORDER BY c.ts DESC, c.event_id DESC LIMIT 1), 4) AS asof_click
       FROM events p
       WHERE p.event_type = 'purchase'"""

  /** The reusable [[graft.operators.AsOf]] operator on the same
    * enrichment task, oracle'd by DuckDB's native ASOF JOIN.
    */
  def qAsofOperator(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    graft.operators.AsOf.backward(purchases, clicks, "user_id", "ts", Seq("value"))
      .select(col("purchase_id"), col("user_id"),
        round(col("asof_value"), 4).as("asof_value"))
  }

  val qAsofOperatorSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
              round(c.value, 4) AS asof_value
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id AND c.ts <= p.ts"""

  /** FORWARD as-of ([[graft.operators.AsOf.forward]]): for every
    * purchase, the EARLIEST same-user click at or after it — the
    * "what did the buyer do next" enrichment (pandas merge_asof
    * direction='forward'). Same one-shuffle union-sort-carry plan as
    * the backward face with the window order reversed; ties among
    * same-(user, ts) clicks take the smallest payload (the documented
    * mirror of backward's largest — no duplicates exist in this data,
    * the rule is determinism insurance). Oracle: correlated min-after
    * subquery with the same tie order.
    */
  def qAsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    graft.operators.AsOf.forward(purchases, clicks, "user_id", "ts",
        Seq("value"))
      .select(col("purchase_id"), col("user_id"),
        round(col("asof_value"), 4).as("next_click"))
  }

  val qAsofForwardSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
              round((SELECT c.value FROM events c
                     WHERE c.event_type = 'click' AND c.user_id = p.user_id
                       AND c.ts >= p.ts
                     ORDER BY c.ts ASC, c.value ASC LIMIT 1), 4) AS next_click
       FROM events p
       WHERE p.event_type = 'purchase'"""

  /** NEAREST as-of within a ±10-minute tolerance
    * ([[graft.operators.AsOf.nearest]]): the closest same-user click on
    * either side of each purchase, backward preferred on equal
    * distance (the pandas nearest/kdb wj pick). Distances compare as
    * identically-derived epoch-second doubles on both engines (µs ÷
    * 1e6, one IEEE op — seal-before-compare by construction); the
    * matched timestamp is emitted so the face audits its own distance.
    * Two window carries over one union — still no pairwise join.
    */
  def qAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    graft.operators.AsOf.nearest(purchases, clicks, "user_id", "ts",
        Seq("value"), toleranceSeconds = 600.0)
      .select(col("purchase_id"), col("user_id"), col("asof_ts"),
        round(col("asof_value"), 4).as("asof_value"))
  }

  val qAsofNearestSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
              m.ts AS asof_ts, round(m.value, 4) AS asof_value
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       LEFT JOIN LATERAL (
         SELECT c.ts, c.value FROM events c
         WHERE c.event_type = 'click' AND c.user_id = p.user_id
           AND abs(epoch(c.ts) - epoch(p.ts)) <= 600
         ORDER BY abs(epoch(c.ts) - epoch(p.ts)) ASC, c.ts ASC,
                  CASE WHEN c.ts <= p.ts THEN -c.value ELSE c.value END ASC
         LIMIT 1) m ON true"""

  /** Attribution-window range join via [[graft.operators.RangeJoin]]:
    * every click within the 30 minutes before a same-user purchase.
    */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        expr("ts - INTERVAL 30 MINUTE").as("w_start"), col("ts").as("w_end"))
    graft.operators.RangeJoin.pointInInterval(
        clicks, "ts", purchases, "w_start", "w_end",
        bucketWidthSeconds = 1800L, extraKeys = Seq("user_id"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  val qRangeJoinSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
       FROM events c JOIN events p
         ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts"""

  /** Hot-user attribution through [[graft.operators.SkewJoin]]: the
    * event stream (power-law user activity at real scale) joins the
    * customer dimension salted across 8 sub-keys, then aggregates value
    * per market segment. Salting is result-invariant — the oracle is the
    * plain equi-join — which is exactly the point: same answer, no
    * single-reducer hot key.
    */
  def qSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id").as("custkey"), col("value"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    graft.operators.SkewJoin.salted(ev, cust, Seq("custkey"), saltFactor = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
  }

  val qSkewJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 2) AS total_value
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY c_mktsegment"""

  /** Ordered conversion funnel view → click → purchase over the event
    * stream via [[graft.operators.Funnel]]: per-step user counts where
    * each step must occur strictly after the user's previous step time.
    */
  def qFunnel(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.counts(Tables.load(spark, dir, "events"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))

  val qFunnelSql: String =
    """WITH s1 AS (SELECT user_id AS u, min(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY 1),
       s2 AS (SELECT s1.u, min(e.ts) AS t2 FROM s1 JOIN events e
              ON e.user_id = s1.u AND e.event_type = 'click' AND e.ts > s1.t1
              GROUP BY 1),
       s3 AS (SELECT s2.u, min(e.ts) AS t3 FROM s2 JOIN events e
              ON e.user_id = s2.u AND e.event_type = 'purchase' AND e.ts > s2.t2
              GROUP BY 1)
       SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
              (SELECT count(*) FROM s1) AS users
       UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
       UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)"""

  /** Snapshot ⊕ CDC compaction via [[graft.store.CdcMerge]]: the event
    * stream read as an after-image change log on customer balances
    * (error ⇒ delete, anything else ⇒ upsert of `value`), merged into
    * the customer snapshot — last change per key wins, untouched keys
    * keep their base row. Oracle: the same window + full-outer-join in
    * SQL.
    */
  def qCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("balance"))
    val changes = Tables.load(spark, dir, "events")
      .select(col("user_id").as("c_custkey"),
        round(col("value"), 2).as("balance"), col("ts"), col("event_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"))
    graft.store.CdcMerge.merge(base, changes, "c_custkey",
      Seq("ts", "event_id"), "op")
  }

  val qCdcMergeSql: String =
    """WITH last AS (
         SELECT * FROM (
           SELECT user_id AS k, round(value, 2) AS balance,
                  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1),
       b AS (SELECT c_custkey AS k, round(c_acctbal, 2) AS balance FROM customer)
       SELECT coalesce(b.k, l.k) AS c_custkey,
              CASE WHEN l.op IS NOT NULL THEN l.balance ELSE b.balance END AS balance
       FROM b FULL OUTER JOIN last l ON b.k = l.k
       WHERE l.op IS NULL OR l.op <> 'D'"""

  /** Z-order layout key for the event table via the codegen
    * [[graft.functions.ZOrder]] expression: sort/range-partition by
    * this at write time and min/max zone maps prune scans filtered on
    * EITHER user or time-ish id, not just the leading sort key. The
    * oracle replays the mathematical bit-interleave definition
    * (the Spark side runs the branch-free magic-number spread — same
    * function, different formulation).
    */
  def qZorder(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"),
        graft.functions.ZOrder(col("user_id"), col("event_id")).as("z"))

  val qZorderSql: String =
    """SELECT event_id,
              CAST(list_sum(list_transform(range(31), i ->
                (((user_id & 2147483647) >> i & 1) << (2 * i)) +
                (((event_id & 2147483647) >> i & 1) << (2 * i + 1))))
                AS BIGINT) AS z
       FROM events"""

  /** Hilbert-curve position of (user_id, event_id) on the 2¹⁶ grid —
    * [[graft.functions.HilbertEncode]], the better-locality layout
    * sibling of q_zorder (HilbertSpec proves the unit-step adjacency
    * property Morton order lacks and measures the locality win). Oracle
    * replays the identical xy2d recurrence as a recursive CTE over the
    * 16 bit levels, carrying the rotated frame per row.
    */
  def qHilbert(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"),
        graft.functions.HilbertEncode(col("user_id"), col("event_id")).as("h"))

  val qHilbertSql: String =
    """WITH RECURSIVE hw(event_id, x, y, d, s) AS (
         SELECT event_id, user_id & 65535, event_id & 65535,
                CAST(0 AS BIGINT), CAST(32768 AS BIGINT)
         FROM events
         UNION ALL
         SELECT event_id,
                CASE WHEN (y & s) > 0 THEN x
                     WHEN (x & s) > 0 THEN 65535 - y
                     ELSE y END,
                CASE WHEN (y & s) > 0 THEN y
                     WHEN (x & s) > 0 THEN 65535 - x
                     ELSE x END,
                d + s * s * (CASE WHEN (x & s) > 0 AND (y & s) > 0 THEN 2
                                  WHEN (x & s) > 0 THEN 3
                                  WHEN (y & s) > 0 THEN 1 ELSE 0 END),
                s // 2
         FROM hw WHERE s > 0)
       SELECT event_id, d AS h FROM hw WHERE s = 0"""

  /** Zone-map data skipping MEASURED across three write layouts —
    * natural (event_id order), Morton (37e), Hilbert (37o): rows are
    * bucketed into 64 "files" by the distributed exact NTILE over each
    * layout's total sort order, per-bucket min/max of user_id form the
    * zone map, and every probe user_id ≤ 100 counts the buckets whose
    * zone interval admits it — the average buckets-scanned per point
    * query IS the layout's skip quality. The natural layout spreads
    * every user across every file (no pruning); the curves cluster both
    * dimensions, Hilbert at least as tightly as Morton. This face turns
    * the §5 layout claim into a hash-checked number.
    */
  def qLayoutSkip(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        graft.functions.ZOrder(col("user_id"), col("event_id")).as("z"),
        graft.functions.HilbertEncode(col("user_id"), col("event_id")).as("h"))
      .localCheckpoint()
    def zones(order: Seq[org.apache.spark.sql.Column], layout: String): DataFrame =
      graft.operators.Ntile.distributed(base, 64, order, "bucket")
        .groupBy(col("bucket"))
        .agg(min(col("user_id")).as("lo"), max(col("user_id")).as("hi"))
        .select(lit(layout).as("layout"), col("lo"), col("hi"))
    val allZones = zones(Seq(col("event_id")), "natural")
      .unionByName(zones(Seq(col("z"), col("event_id")), "zorder"))
      .unionByName(zones(Seq(col("h"), col("event_id")), "hilbert"))
    val probes = base.select(col("user_id")).distinct()
      .filter(col("user_id") <= 100)
    // zone-interval probe through the bucketized range join (the
    // operator the BETWEEN shape exists for): zones are first CLIPPED
    // to the probe domain [0, 100] — a zone with lo > 100 admits no
    // probe, and for probes ≤ 100 `p BETWEEN lo AND least(hi, 100)`
    // ⟺ `p BETWEEN lo AND hi` — so the per-interval bucket explode is
    // ≤ 14 rows regardless of how wide the natural layout's zones are
    val clipped = allZones.filter(col("lo") <= 100)
      .withColumn("hi_c", least(col("hi"), lit(100L)))
    graft.operators.RangeJoin.pointInInterval(
        probes, "user_id", clipped, "lo", "hi_c", bucketWidthSeconds = 8L)
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("buckets_scanned"))
      .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_probes"))))
      .select(col("layout"), col("buckets_scanned"), col("n_probes"),
        (expr("(buckets_scanned * 20000 + n_probes) DIV (2 * n_probes)")
          .cast("double") / 10000.0).as("avg_buckets"))
  }

  val qLayoutSkipSql: String =
    """WITH RECURSIVE hw(event_id, x, y, d, s) AS (
         SELECT event_id, user_id & 65535, event_id & 65535,
                CAST(0 AS BIGINT), CAST(32768 AS BIGINT)
         FROM events
         UNION ALL
         SELECT event_id,
                CASE WHEN (y & s) > 0 THEN x
                     WHEN (x & s) > 0 THEN 65535 - y
                     ELSE y END,
                CASE WHEN (y & s) > 0 THEN y
                     WHEN (x & s) > 0 THEN 65535 - x
                     ELSE x END,
                d + s * s * (CASE WHEN (x & s) > 0 AND (y & s) > 0 THEN 2
                                  WHEN (x & s) > 0 THEN 3
                                  WHEN (y & s) > 0 THEN 1 ELSE 0 END),
                s // 2
         FROM hw WHERE s > 0),
       base AS (
         SELECT e.event_id, e.user_id,
                CAST(list_sum(list_transform(range(31), i ->
                  (((e.user_id & 2147483647) >> i & 1) << (2 * i)) +
                  (((e.event_id & 2147483647) >> i & 1) << (2 * i + 1))))
                  AS BIGINT) AS z,
                hv.d AS h
         FROM events e JOIN hw hv ON hv.event_id = e.event_id AND hv.s = 0),
       nat AS (SELECT user_id, ntile(64) OVER (ORDER BY event_id) AS bucket FROM base),
       zb AS (SELECT user_id, ntile(64) OVER (ORDER BY z, event_id) AS bucket FROM base),
       hb AS (SELECT user_id, ntile(64) OVER (ORDER BY h, event_id) AS bucket FROM base),
       zones AS (
         SELECT 'natural' AS layout, bucket, min(user_id) AS lo, max(user_id) AS hi
         FROM nat GROUP BY 2
         UNION ALL
         SELECT 'zorder', bucket, min(user_id), max(user_id) FROM zb GROUP BY 2
         UNION ALL
         SELECT 'hilbert', bucket, min(user_id), max(user_id) FROM hb GROUP BY 2),
       probes AS (SELECT DISTINCT user_id FROM events WHERE user_id <= 100),
       hits AS (SELECT layout, count(*) AS buckets_scanned
                FROM zones zz JOIN probes p ON p.user_id BETWEEN zz.lo AND zz.hi
                GROUP BY 1),
       np AS (SELECT count(*) AS n_probes FROM probes)
       SELECT layout, buckets_scanned, n_probes,
              CAST((buckets_scanned * 20000 + n_probes) // (2 * n_probes)
                   AS DOUBLE) / 10000.0 AS avg_buckets
       FROM hits, np"""

  /** Distribution window functions (ntile / cume_dist / percent_rank)
    * over customer balances within nation — quartile bucketing and
    * relative standing, the analyst scorecard trio. The ORDER BY is made
    * total (balance, then key) so ntile's positional split is
    * deterministic across engines; all three functions plan into the
    * ONE per-nation sort the window already pays.
    */
  def qNtileCume(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val wp = Window.partitionBy(col("c_nationkey"))
    // the ORDER is total (custkey tiebreak), so cume_dist ≡ rn/n and
    // percent_rank ≡ (rn−1)/(n−1) with no peers — which lets both be
    // 6dp-sealed by EXACT integer round-half-up ((2·k·10⁶ + n) DIV 2n):
    // round(k/n, 6) lands on an exact .5 for unlucky (k, n) and the
    // engines split on halves (sf0.1 hit cume_dist = 41/640)
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal"), 2).as("c_acctbal"),
        ntile(4).over(w).cast("long").as("quartile"),
        row_number().over(w).cast("long").as("rn"),
        count(lit(1)).over(wp).as("n"))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        col("quartile"),
        (expr("(rn * 2000000 + n) DIV (2 * n)").cast("double") / 1000000.0)
          .as("cd"),
        when(col("n") === 1, lit(0.0))
          .otherwise(expr("((rn - 1) * 2000000 + (n - 1)) DIV (2 * (n - 1))")
            .cast("double") / 1000000.0).as("pr"))
  }

  val qNtileCumeSql: String =
    """WITH r AS (
         SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS c_acctbal,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                CAST(row_number() OVER w AS BIGINT) AS rn,
                CAST(count(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n
         FROM customer
         WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey))
       SELECT c_custkey, c_nationkey, c_acctbal, quartile,
              CAST((rn * 2000000 + n) // (2 * n) AS DOUBLE) / 1000000.0 AS cd,
              CASE WHEN n = 1 THEN 0.0
                   ELSE CAST(((rn - 1) * 2000000 + (n - 1)) // (2 * (n - 1))
                        AS DOUBLE) / 1000000.0 END AS pr
       FROM r"""

  /** GROUPING SETS with non-hierarchical sets — (flag, status), the
    * orthogonal (ship year), and the grand total in ONE Expand +
    * aggregate pass (rollup/cube are the special cases; this is the
    * general form). Grouping-set count multiplies the shuffle rows,
    * never the scan — the property that matters at 100 TB.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")).cast("long"))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("ship_year")), Seq()),
        col("l_returnflag"), col("l_linestatus"), col("ship_year"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"))

  val qGroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
              round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (year(l_shipdate)), ())"""

  /** Correlated scalar subqueries through Catalyst decorrelation:
    * customers ordering more than their nation's per-customer average.
    * Written as SQL text (the one query face where the subquery surface
    * exists) — Catalyst rewrites both correlated subqueries into
    * aggregate + join, so the executed plan is two shuffles, not a
    * per-row loop. Counts are integers, so the avg is an exact
    * small-rational double and the > boundary is engine-stable.
    */
  def qCorrSub(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("graft_customer")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql(
      """WITH oc AS (
           SELECT c_custkey, c_nationkey,
                  (SELECT count(*) FROM graft_orders o
                   WHERE o.o_custkey = c.c_custkey) AS n_orders
           FROM graft_customer c)
         SELECT c_custkey, n_orders FROM oc
         WHERE n_orders > (SELECT avg(n_orders) FROM oc i
                           WHERE i.c_nationkey = oc.c_nationkey)""")
  }

  val qCorrSubSql: String =
    """WITH oc AS (
         SELECT c_custkey, c_nationkey,
                (SELECT count(*) FROM orders o
                 WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c)
       SELECT c_custkey, n_orders FROM oc
       WHERE n_orders > (SELECT avg(n_orders) FROM oc i
                         WHERE i.c_nationkey = oc.c_nationkey)"""

  /** Set operations (INTERSECT / EXCEPT) over yearly customer cohorts —
    * retained vs churned buyers. Spark plans INTERSECT as a left-semi
    * and EXCEPT as a left-anti over distinct inputs — hash joins, no
    * sort — which is the shape that scales; the tag column folds both
    * results into one verifiable output.
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    def cohort(y: Int) = orders
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey"))
    cohort(1995).intersect(cohort(1996))
      .select(lit("retained").as("tag"), col("o_custkey"))
      .unionByName(
        cohort(1995).except(cohort(1996))
          .select(lit("churned").as("tag"), col("o_custkey")))
  }

  val qSetOpsSql: String =
    """SELECT 'retained' AS tag, o_custkey FROM (
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
       UNION ALL
       SELECT 'churned' AS tag, o_custkey FROM (
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)"""

  /** Fixed-width histogram of order values — the distribution profile
    * every monitoring dashboard wants. Buckets by exact integer floor
    * arithmetic (engine-identical; no corpus-derived bounds), one
    * aggregation pass.
    */
  def qHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(least(floor(col("o_totalprice") / 25000.0), lit(23L)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))

  val qHistogramSql: String =
    """SELECT CAST(least(floor(o_totalprice / 25000.0), 23) AS BIGINT) AS bucket,
              count(*) AS n
       FROM orders GROUP BY 1"""

  /** Unpivot (wide → long, the inverse of `q_pivot`): four lineitem
    * measures melted to (metric, value) rows in ONE Expand pass — the
    * scan is read once, not once per metric (the oracle's UNION ALL of
    * per-metric aggregates is the semantics, not the plan).
    */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .unpivot(
        Array.empty[org.apache.spark.sql.Column],
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "metric", "value")
      .groupBy(col("metric"))
      .agg(round(avg(col("value")), 4).as("avg_value"),
        count(lit(1)).as("n"))

  val qUnpivotSql: String =
    """SELECT 'l_quantity' AS metric, round(avg(l_quantity), 4) AS avg_value,
              count(*) AS n FROM lineitem
       UNION ALL
       SELECT 'l_extendedprice', round(avg(l_extendedprice), 4), count(*) FROM lineitem
       UNION ALL
       SELECT 'l_discount', round(avg(l_discount), 4), count(*) FROM lineitem
       UNION ALL
       SELECT 'l_tax', round(avg(l_tax), 4), count(*) FROM lineitem"""

  /** Semi-structured JSON extraction from the event props column —
    * schema-on-read over an embedded document field, aggregated per
    * event type. `get_json_object` is codegen'd; at 100 TB the same
    * query runs after `from_json` promotes hot fields to columns at
    * ingest, but the extract-in-place form is the exploration surface.
    */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        round(avg(col("k")), 4).as("avg_k"),
        max(col("k")).as("max_k"))

  val qJsonExtractSql: String =
    """SELECT event_type,
              count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
              round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
              max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
       FROM events GROUP BY event_type"""

  /** SCD-2 dimension build from a change log: each (user, value) change
    * becomes a validity interval [valid_from, valid_to) with the
    * current row open-ended — lead() over the per-key event order, ONE
    * shuffle. The slowly-changing-dimension load every warehouse runs.
    */
  def qScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value"), 2).as("value"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("ts").as("valid_from"), col("valid_to"),
        col("value"), col("valid_to").isNull.as("is_current"))
  }

  val qScd2Sql: String =
    """SELECT user_id, ts AS valid_from,
              lead(ts) OVER w AS valid_to,
              round(value, 2) AS value,
              lead(ts) OVER w IS NULL AS is_current
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""

  /** First-order Markov transition matrix of user behavior: counts and
    * row-normalized probabilities of event_type → next event_type per
    * user timeline. lead() pairs consecutive events in the ONE per-user
    * sort; the row totals ride back as a (k²-bounded) join — the
    * session-flow model behind next-action prediction.
    */
  def qMarkov(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.load(spark, dir, "events")
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / col("tot"), 6).as("p"))
  }

  val qMarkovSql: String =
    """WITH pairs AS (
         SELECT event_type AS from_type,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS to_type
         FROM events),
       c AS (SELECT from_type, to_type, count(*) AS n FROM pairs
             WHERE to_type IS NOT NULL GROUP BY 1, 2),
       t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
       SELECT c.from_type, c.to_type, c.n,
              round(c.n / t.tot, 6) AS p
       FROM c JOIN t USING (from_type)"""

  /** Top-20 session navigation paths: gap-sessionize (1800 s, the
    * s_sessionize cut), concatenate each session's event types in
    * (ts, event_id) order into a path string, rank paths by session
    * count with a lexicographic tiebreak — the "what do users actually
    * do" product-analytics report that generalizes the single-step
    * q_markov transition matrix to whole trajectories. Shape: the
    * session window (one user-keyed shuffle), one groupBy per session
    * (collect_list bounded by session length), one path-keyed count,
    * and a 20-row global top-k — the final rank runs on the path-COUNT
    * table (path-cardinality-bounded, already tiny), never the event
    * stream. All-integer output; the path order inside a session is the
    * unique (ts, event_id) total order, so the face is deterministic.
    */
  def qSessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val marked = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(lag(col("ts"), 1).over(w).isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)) > 1800,
          1L).otherwise(0L).as("is_new"))
    val sess = marked.withColumn("session_idx",
      sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val paths = sess.groupBy(col("user_id"), col("session_idx"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))),
        _.getField("event_type")), ">").as("path"))
    // distributed top-20 cut before the rank window (TakeOrdered — the
    // distinct-path table is unbounded at corpus scale; 20 is not)
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))))
      .select(col("rank").cast("long").as("rank"), col("path"),
        col("n_sessions"))
  }

  val qSessionPathsSql: String =
    """WITH marked AS (
         SELECT user_id, ts, event_id, event_type,
                CASE WHEN lag(epoch(ts)) OVER w IS NULL
                       OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                     THEN 1 ELSE 0 END AS is_new
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       sess AS (
         SELECT user_id, ts, event_id, event_type,
                sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_idx
         FROM marked),
       paths AS (
         SELECT user_id, session_idx,
                string_agg(event_type, '>' ORDER BY ts, event_id) AS path
         FROM sess GROUP BY 1, 2),
       counts AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1)
       SELECT CAST(rnk AS BIGINT) AS rank, path, n_sessions FROM (
         SELECT path, n_sessions,
                row_number() OVER (ORDER BY n_sessions DESC, path) AS rnk
         FROM counts)
       WHERE rnk <= 20"""

  /** Time-interval RANGE window frame — trailing-hour running aggregate
    * per user (the RATE/velocity feature behind fraud and engagement
    * scoring). Unlike a ROWS frame, the frame is bounded by the VALUE
    * of the ordering column, so bursts widen the window's row count;
    * Spark plans it in the same ONE per-user sort as any other frame.
    */
  def qRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").cast("long"))
      .rangeBetween(-3600L, 0L)
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(sum(col("value")).over(w), 4).as("hour_sum"),
        count(lit(1)).over(w).as("hour_n"))
  }

  val qRangeFrameSql: String =
    """SELECT event_id, user_id, ts,
              round(sum(value) OVER w, 4) AS hour_sum,
              count(*) OVER w AS hour_n
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)"""

  /** Blocked fuzzy matching (entity resolution): near-duplicate part
    * names by edit distance ≤ 2 via [[graft.operators.FuzzyMatch]] —
    * see there for the blocking key, the prefix-DP cut, and the opt-in
    * hot-block cap + audit (uncapped here: part names have no hot
    * suffix block; a skewed corpus opts in via `maxBlockSize`).
    */
  /** The verified fuzzy-match pair stream over part names — the ER
    * match-pair materialization shared by q_fuzzy_match (reports the
    * pairs) and q_entity_res (chains them into entities): a deployment
    * persists the blocked+verified pair set once and derives both
    * reports from it, never paying the per-block quadratic verify
    * twice. Pinned like the graph family's loop invariants.
    */
  private def fuzzyPairsCached(spark: SparkSession, dir: String): DataFrame =
    view(spark, dir, "fuzzyPairs") {
      val pairs = graft.operators.FuzzyMatch.matchPairs(
        Tables.load(spark, dir, "part"), "p_partkey", "p_name", maxDist = 2)
      pinning(spark) { pairs.localCheckpoint() }
    }

  /** Build the pinned relational materialized views ahead of queries —
    * same load-time contract as [[GraphOps.warmViews]].
    */
  def warmViews(spark: SparkSession, dir: String): Unit = {
    fuzzyPairsCached(spark, dir)
    ()
  }

  def qFuzzyMatch(spark: SparkSession, dir: String): DataFrame =
    fuzzyPairsCached(spark, dir)

  val qFuzzyMatchSql: String =
    """WITH p AS (
         SELECT p_partkey, p_name,
                string_split(p_name, ' ')[-1] AS blk,
                length(p_name) AS len
         FROM part)
       SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
              a.p_name AS name_a, b.p_name AS name_b,
              CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
       FROM p a JOIN p b ON a.blk = b.blk AND a.len = b.len
        AND a.p_partkey < b.p_partkey AND a.p_name <> b.p_name
       WHERE levenshtein(a.p_name, b.p_name) <= 2"""

  /** Entity-resolution canonicalization: the fuzzy-match pairs chained
    * into entity clusters. Pairs alone don't resolve entities when
    * matches chain (a~b, b~c with d(a,c) > threshold) — the standard
    * closure step runs connected components over the match graph and
    * elects the minimum key as the surviving record. Output: one row
    * per MATCHED record (unmatched rows are their own entity trivially
    * and stay out of the report) with its entity id, entity size, and
    * the canonical member's name.
    *
    * Scale posture: the node set is only the matched keys (≪ corpus),
    * the edge set is the blocked pair stream (per-block quadratic,
    * cappable), and the closure is the same co-partitioned CC loop the
    * graph family runs — no all-pairs step anywhere. The relational
    * mirror of `p_dedup_clusters`, closing the dedup trilogy:
    * pair generation (q_fuzzy_match) → closure (here) → survivorship.
    */
  def qEntityRes(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(spark, dir, "part")
    // the pinned pair materialization: CC's undirected union reads it
    // as two subtrees, and an unmaterialized input would run the
    // blocked levenshtein join twice
    val pairs = fuzzyPairsCached(spark, dir)
      .select(col("key_a"), col("key_b"))
    val nodes = pairs.select(col("key_a").as("gid"))
      .unionByName(pairs.select(col("key_b").as("gid"))).distinct()
    val comp = graft.graph.Algorithms.connectedComponents(
      nodes, pairs.select(col("key_a").as("gsrc"), col("key_b").as("gdst")))
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("entity_size"))
    comp.join(sizes, "comp")
      .join(part.select(col("p_partkey").as("comp"), col("p_name").as("rep_name")),
        "comp")
      .select(col("gid").as("p_partkey"), col("comp").as("entity_id"),
        col("entity_size"), col("rep_name"))
  }

  val qEntityResSql: String =
    """WITH RECURSIVE p AS (
         SELECT p_partkey, p_name,
                string_split(p_name, ' ')[-1] AS blk,
                length(p_name) AS len
         FROM part),
       e AS MATERIALIZED (
         SELECT a.p_partkey AS s, b.p_partkey AS d
         FROM p a JOIN p b ON a.blk = b.blk AND a.len = b.len
          AND a.p_partkey < b.p_partkey AND a.p_name <> b.p_name
         WHERE levenshtein(a.p_name, b.p_name) <= 2),
       n AS (SELECT DISTINCT s AS k FROM e UNION SELECT DISTINCT d FROM e),
       und AS (SELECT s, d FROM e UNION ALL SELECT d AS s, s AS d FROM e),
       reach(v, m) AS (
         SELECT k, k FROM n
         UNION
         SELECT r.v, u.d FROM reach r JOIN und u ON u.s = r.m),
       comp AS (SELECT v AS p_partkey, min(m) AS entity_id FROM reach GROUP BY v),
       sz AS (SELECT entity_id, count(*) AS entity_size FROM comp GROUP BY entity_id)
       SELECT c.p_partkey, c.entity_id, s.entity_size, rp.p_name AS rep_name
       FROM comp c JOIN sz s USING (entity_id)
       JOIN part rp ON rp.p_partkey = c.entity_id"""

  /** Abandonment screen — the temporal NOT-EXISTS face: views with no
    * same-user purchase inside the following hour, reported as a
    * per-user abandonment rate. The anti-join carries the user equi-key
    * plus the interval predicate, so it shuffles once on user and never
    * compares across users — the bounded form of "event not followed
    * by event" (a time-window NOT EXISTS is otherwise the classic
    * accidental cross product). Integer counts; one 4dp-sealed rate.
    */
  def qAbandoned(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val abandoned = v.join(p,
        col("user_id") === col("pu") && col("pts") > col("vts") &&
          col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"),
        "left_anti")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_abandoned"))
    // rate sealed by EXACT integer round-half-up (the half-rounding
    // class: round(k/n, 4) halves exactly when 2^5 | n)
    v.groupBy(col("user_id")).agg(count(lit(1)).as("n_views"))
      .join(abandoned, Seq("user_id"), "left")
      .select(col("user_id"), col("n_views"),
        coalesce(col("n_abandoned"), lit(0L)).as("n_abandoned"))
      .select(col("user_id"), col("n_views"), col("n_abandoned"),
        (expr("(n_abandoned * 20000 + n_views) DIV (2 * n_views)")
          .cast("double") / 10000.0).as("abandon_rate"))
  }

  val qAbandonedSql: String =
    """WITH v AS (SELECT user_id, ts AS vts FROM events
                  WHERE event_type = 'view'),
       p AS (SELECT user_id AS pu, ts AS pts FROM events
             WHERE event_type = 'purchase'),
       ab AS (
         SELECT user_id, count(*) AS n_abandoned
         FROM v WHERE NOT EXISTS (
           SELECT 1 FROM p
           WHERE p.pu = v.user_id AND p.pts > v.vts
             AND p.pts <= v.vts + INTERVAL 1 HOUR)
         GROUP BY 1)
       SELECT v.user_id, count(*) AS n_views,
              coalesce(any_value(ab.n_abandoned), 0) AS n_abandoned,
              CAST((coalesce(any_value(ab.n_abandoned), 0) * 20000 + count(*))
                   // (2 * count(*)) AS DOUBLE) / 10000.0 AS abandon_rate
       FROM v LEFT JOIN ab ON v.user_id = ab.user_id
       GROUP BY v.user_id"""

  /** Revenue-concentration (Pareto/Lorenz) report: customers ranked by
    * exact-cents revenue, cut into rank deciles, each decile's share of
    * total revenue — "the top 10% of customers produce X%". The decile
    * cut runs through [[graft.operators.Ntile.distributed]] — the
    * rank-over-count bucketing path (range-partitioned sort + exact
    * global rank, NO single-partition window anywhere in the plan),
    * bit-identical to the ntile window by NtileSpec + the unchanged
    * oracle. Shares divide exact integer cent sums, sealed at 6dp.
    */
  def qPareto(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val deciles = graft.operators.Ntile.distributed(perCust, 10,
        Seq(col("cents").desc, col("o_custkey")), "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("dc"))
    val total = perCust.agg(sum(col("cents")).as("tc"))
    deciles.crossJoin(broadcast(total))
      .select(col("decile").cast("long").as("decile"), col("n_customers"),
        round(col("dc") / 100.0, 2).as("decile_revenue"),
        round(col("dc").cast("double") / col("tc"), 6).as("revenue_share"))
  }

  val qParetoSql: String =
    """WITH pc AS (
         SELECT o_custkey,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders GROUP BY 1),
       dec AS (
         SELECT cents,
                ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
         FROM pc),
       agg AS (
         SELECT decile, count(*) AS n_customers,
                CAST(sum(cents) AS BIGINT) AS dc
         FROM dec GROUP BY 1)
       SELECT CAST(decile AS BIGINT) AS decile, n_customers,
              round(dc / 100.0, 2) AS decile_revenue,
              round(dc / CAST((SELECT sum(cents) FROM pc) AS DOUBLE), 6)
                AS revenue_share
       FROM agg"""

  /** Period-over-period report: monthly revenue with previous-month
    * delta and percent change — the standard reporting face (lag over
    * the MONTH table, which is calendar-bounded, so the unpartitioned
    * window is a few dozen rows at any corpus scale). Exact-cents
    * monthly sums; delta exact; pct change is one sealed division.
    */
  def qMom(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.load(spark, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("month"))
    monthly
      .withColumn("prev", lag(col("cents"), 1).over(w))
      .select(col("month"), col("n_orders"),
        round(col("cents") / 100.0, 2).as("revenue"),
        round((col("cents") - col("prev")) / 100.0, 2).as("mom_delta"),
        round((col("cents") - col("prev")).cast("double") / col("prev"), 4)
          .as("mom_pct"))
  }

  val qMomSql: String =
    """WITH monthly AS (
         SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents,
                count(*) AS n_orders
         FROM orders GROUP BY 1)
       SELECT month, n_orders,
              round(cents / 100.0, 2) AS revenue,
              round((cents - lag(cents) OVER (ORDER BY month)) / 100.0, 2)
                AS mom_delta,
              round((cents - lag(cents) OVER (ORDER BY month)) /
                    CAST(lag(cents) OVER (ORDER BY month) AS DOUBLE), 4)
                AS mom_pct
       FROM monthly"""

  /** RFM customer segmentation: recency (days since last order,
    * against the corpus max date), frequency (order count), monetary
    * (exact-cents total), each cut into quintiles over the CUSTOMER
    * aggregate with deterministic tiebreaks, combined into the classic
    * R-F-M segment code. Each quintile cut runs through
    * [[graft.operators.Ntile.distributed]] (rank-over-count bucketing,
    * no single-partition window in the plan — the q_pareto swap made
    * code); three successive range-partitioned passes over the
    * customer aggregate, never orders. All cut decisions are integer
    * comparisons.
    */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val perCust = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val maxDate = o.agg(max(col("o_orderdate")).as("maxd"))
    val scored = perCust.crossJoin(broadcast(maxDate))
      .select(col("o_custkey"),
        datediff(col("maxd"), col("last_order")).cast("long").as("recency_days"),
        col("frequency"), col("cents"))
    val s1 = graft.operators.Ntile.distributed(scored, 5,
      Seq(col("recency_days"), col("o_custkey")), "r_score")
    val s2 = graft.operators.Ntile.distributed(s1, 5,
      Seq(col("frequency").desc, col("o_custkey")), "f_score")
    val s3 = graft.operators.Ntile.distributed(s2, 5,
      Seq(col("cents").desc, col("o_custkey")), "m_score")
    s3
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        round(col("cents") / 100.0, 2).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"))
      .withColumn("segment",
        concat_ws("-", col("r_score"), col("f_score"), col("m_score")))
  }

  val qRfmSql: String =
    """WITH pc AS (
         SELECT o_custkey, max(o_orderdate) AS last_order,
                count(*) AS frequency,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders GROUP BY 1),
       sc AS (
         SELECT o_custkey,
                CAST(datediff('day', last_order,
                     (SELECT max(o_orderdate) FROM orders)) AS BIGINT)
                  AS recency_days,
                frequency, cents
         FROM pc)
       SELECT o_custkey, recency_days, frequency,
              round(cents / 100.0, 2) AS monetary,
              CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS BIGINT)
                AS r_score,
              CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
                AS f_score,
              CAST(ntile(5) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT)
                AS m_score,
              concat_ws('-',
                ntile(5) OVER (ORDER BY recency_days, o_custkey),
                ntile(5) OVER (ORDER BY frequency DESC, o_custkey),
                ntile(5) OVER (ORDER BY cents DESC, o_custkey)) AS segment
       FROM sc"""

  /** 2-D skyline (Pareto frontier; Börzsönyi et al. 2001): parts not
    * dominated on (price, size) — no other part at most as expensive
    * AND at most as large with one strict. Done as the scale-correct
    * sweep, never the quadratic dominance self-join: reduce to the
    * per-price min-size table (one shuffle on the exact-cents key),
    * prefix-min over the price-DISTINCT table (single partition, but
    * bounded by the price DOMAIN, not the row count), join survivors
    * back. Equal (price, size) ties all survive (dominance needs one
    * strict inequality) — the join-back keeps them by construction.
    * All-integer comparisons.
    */
  def qSkyline(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "part")
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("cents"),
        col("p_size").cast("long").as("p_size"))
    val minsz = p.groupBy(col("cents")).agg(min(col("p_size")).as("msz"))
    val wPrev = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = minsz
      .withColumn("m1", min(col("msz")).over(wPrev))
      .filter(col("m1").isNull || col("m1") > col("msz"))
      .select(col("cents").as("fc"), col("msz"))
    p.join(frontier, col("cents") === col("fc") && col("p_size") === col("msz"))
      .select(col("p_partkey"), round(col("cents") / 100.0, 2).as("price"),
        col("p_size"))
  }

  val qSkylineSql: String =
    """WITH p AS (
         SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
                CAST(p_size AS BIGINT) AS p_size
         FROM part),
       minsz AS (SELECT cents, min(p_size) AS msz FROM p GROUP BY 1),
       frontier AS (
         SELECT cents AS fc, msz FROM (
           SELECT cents, msz,
                  min(msz) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1
           FROM minsz)
         WHERE m1 IS NULL OR m1 > msz)
       SELECT p.p_partkey, round(p.cents / 100.0, 2) AS price, p.p_size
       FROM p JOIN frontier f ON p.cents = f.fc AND p.p_size = f.msz"""

  /** Gaps-and-islands: longest consecutive-day activity streak per
    * user — the canonical islands detection via the date-minus-dense-
    * rank constant: within a user's DISTINCT active days ordered by
    * date, day − row_number() is constant exactly on a consecutive run.
    * One user-keyed dedup + one user-keyed window + one (user, island)
    * aggregation — no self-joins, no day-by-day iteration; all
    * integers. Top-100 by (streak, active days, user) so the cutoff is
    * deterministic.
    */
  def qStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = days
      .select(col("user_id"), col("day"),
        (datediff(col("day"), lit("1970-01-01")) -
          row_number().over(w)).as("grp"))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"))
      .orderBy(col("longest_streak").desc, col("n_active_days").desc,
        col("user_id"))
      .limit(100)
  }

  val qStreaksSql: String =
    """WITH days AS (
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       isl AS (
         SELECT user_id,
                datediff('day', DATE '1970-01-01', day) -
                  row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
         FROM days),
       runs AS (
         SELECT user_id, grp, count(*) AS len
         FROM isl GROUP BY 1, 2),
       per_user AS (
         SELECT user_id, max(len) AS longest_streak,
                CAST(sum(len) AS BIGINT) AS n_active_days,
                count(*) AS n_streaks
         FROM runs GROUP BY 1)
       SELECT user_id, longest_streak, n_active_days, n_streaks
       FROM per_user
       ORDER BY longest_streak DESC, n_active_days DESC, user_id
       LIMIT 100"""

  /** Last-touch marketing attribution: each purchase credits its value
    * to the user's most recent PRECEDING engagement touchpoint (click
    * or view), 'none' when the purchase has no prior touch. One
    * user-keyed window pass (the running last-non-null touch with an
    * end-exclusive frame, so a purchase never attributes to itself),
    * then a touch-type-bounded aggregation — no self-join of events
    * against events, which is the quadratic formulation at 100 TB.
    * Values sum as exact integer cents.
    */
  def qAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"),
        last(when(col("event_type").isin("click", "view"), col("event_type")),
          ignoreNulls = true).over(w).as("touch"))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("none")).as("touch"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("cents")) / 100.0, 2).as("attributed_value"))
  }

  val qAttributionSql: String =
    """WITH t AS (
         SELECT event_type,
                CAST(round(value * 100) AS BIGINT) AS cents,
                last_value(CASE WHEN event_type IN ('click', 'view')
                                THEN event_type END IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
         FROM events)
       SELECT coalesce(touch, 'none') AS touch,
              count(*) AS n_purchases,
              round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS attributed_value
       FROM t WHERE event_type = 'purchase'
       GROUP BY 1"""

  /** Unbounded-depth hierarchy rollup — the recursive-CTE face
    * (reference MATCH chains are fixed-depth; this is the WITH
    * RECURSIVE generalization). A synthetic customer forest (parent =
    * custkey/10, roots at custkey < 10) is closed transitively by
    * [[graft.operators.Hierarchy.closure]] — pointer doubling, O(log d)
    * shuffle rounds where the linear recursion a recursive CTE runs
    * pays O(d) — then each ancestor's subtree is rolled up: descendant
    * count, max depth, and subtree balance. Balances sum as exact
    * integer cents (acctbal is 2dp) so the rollup is order-independent
    * in both engines; the only float op is the final /100 display
    * division. Oracle: the same forest via an actual WITH RECURSIVE.
    */
  def qHierRollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val parents = c.select(col("c_custkey").as("node"),
        floor(col("c_custkey") / 10).cast("long").as("parent"))
      .filter(col("parent") >= 1)
    val anc = graft.operators.Hierarchy.closure(parents)
    val cents = c.select(col("c_custkey").as("ck"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
    anc.join(cents, col("node") === col("ck"))
      .groupBy(col("anc").as("ancestor"))
      .agg(count(lit(1)).as("n_desc"),
        max(col("depth")).as("max_depth"),
        round(sum(col("cents")) / 100.0, 2).as("desc_balance"))
  }

  val qHierRollupSql: String =
    """WITH RECURSIVE anc AS (
         SELECT c_custkey AS node, c_custkey // 10 AS anc,
                CAST(1 AS BIGINT) AS depth
         FROM customer WHERE c_custkey // 10 >= 1
         UNION ALL
         SELECT node, anc // 10, depth + 1 FROM anc WHERE anc // 10 >= 1)
       SELECT a.anc AS ancestor,
              count(*) AS n_desc,
              max(a.depth) AS max_depth,
              round(CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
                    / 100.0, 2) AS desc_balance
       FROM anc a JOIN customer c ON a.node = c.c_custkey
       GROUP BY 1"""

  /** Join-size estimation from CMS statistics ([[graft.operators
    * .CountMin.joinSizeEstimate]]) — the optimizer-grade question
    * behind every broadcast-vs-shuffle and salting decision at 100 TB:
    * self-join sizes (Σ f(k)², the AMS F₂ / skew barometer) for the
    * two skewed key domains, estimated from kilobyte bucket tables and
    * reported NEXT TO the exact moment so the face is the estimator's
    * error profile (est ≥ exact always; overcount_frac is the
    * collision mass). Rows-only by design (the bucket hash has no SQL
    * mirror); the bound and tightness live in CountMinSpec.
    */
  def qJoinSize(spark: SparkSession, dir: String): DataFrame = {
    def one(df: DataFrame, c: String, name: String): DataFrame = {
      val exact = df.groupBy(col(c)).agg(count(lit(1)).as("f"))
        .agg(sum(col("f") * col("f")).as("exact_size"))
      // width is THE accuracy knob: expected collision mass is
      // (e/width)·N_a·N_b, so size it to the row-count product — 2^16
      // holds the overcount to single-digit percent at gate scale and
      // is still a half-megabyte bucket table
      graft.operators.CountMin.joinSizeEstimate(df, c, df, c, width = 65536)
        .crossJoin(broadcast(exact))
        .select(lit(name).as("join_key"), col("exact_size"),
          col("est_join_size"),
          round((col("est_join_size") - col("exact_size")).cast("double")
            / col("exact_size"), 6).as("overcount_frac"))
    }
    one(Tables.load(spark, dir, "lineitem").select(col("l_partkey")),
      "l_partkey", "lineitem_selfjoin_partkey")
      .unionByName(
        one(Tables.load(spark, dir, "events").select(col("user_id")),
          "user_id", "events_selfjoin_user"))
  }

  /** Partition-skew audit of the four join-key domains — the numbers
    * behind every salt-or-broadcast decision (q_skew_join executes the
    * salted plan; this face tells you WHEN you need it): per domain
    * the key cardinality, the heaviest key's share, the top-10 share
    * (both via the k-bounded TopK aggregate — no global sort), the
    * coefficient of variation from exact integer moments, and the
    * self-join skew factor F₂·K/N² (= 1 for uniform keys, grows with
    * concentration — the exact form of what q_join_size estimates by
    * sketch). Everything reduces over the KEY-frequency table, never
    * ranks it; all ratios 6dp-sealed from exact longs.
    */
  def qSkewAudit(spark: SparkSession, dir: String): DataFrame = {
    def one(df: DataFrame, c: String, name: String): DataFrame = {
      val freq = df.groupBy(col(c).as("k")).agg(count(lit(1)).as("f"))
      val top = graft.operators.TopK.topKPerGroup(
        freq.withColumn("g", lit(1)), "g", "f", "k", k = 10)
        .agg(sum(when(col("rank") === 1, col("f"))).cast("long").as("top1"),
          sum(col("f")).cast("long").as("top10"))
      freq.agg(count(lit(1)).as("n_keys"), sum(col("f")).as("n_rows"),
          sum(col("f") * col("f")).as("f2"))
        .crossJoin(broadcast(top))
        .select(lit(name).as("key_domain"), col("n_rows"), col("n_keys"),
          round(col("top1").cast("double") / col("n_rows"), 6)
            .as("top1_share"),
          round(col("top10").cast("double") / col("n_rows"), 6)
            .as("top10_share"),
          round(sqrt((col("f2").cast("double")
              - col("n_rows").cast("double") * col("n_rows") / col("n_keys"))
              / col("n_keys"))
            / (col("n_rows").cast("double") / col("n_keys")), 6).as("cv"),
          round(col("f2").cast("double") * col("n_keys")
            / (col("n_rows").cast("double") * col("n_rows")), 6)
            .as("skew_factor"))
    }
    one(Tables.load(spark, dir, "lineitem"), "l_partkey", "lineitem.partkey")
      .unionByName(one(Tables.load(spark, dir, "lineitem"), "l_suppkey",
        "lineitem.suppkey"))
      .unionByName(one(Tables.load(spark, dir, "orders"), "o_custkey",
        "orders.custkey"))
      .unionByName(one(Tables.load(spark, dir, "events"), "user_id",
        "events.user"))
  }

  val qSkewAuditSql: String = {
    def one(tbl: String, c: String, name: String): String =
      s"""SELECT '$name' AS key_domain,
                 CAST(sum(f) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 round((SELECT CAST(max(f) AS DOUBLE) FROM
                          (SELECT count(*) AS f FROM $tbl GROUP BY $c))
                       / sum(f), 6) AS top1_share,
                 round((SELECT CAST(sum(f) AS DOUBLE) FROM
                          (SELECT f FROM
                             (SELECT count(*) AS f FROM $tbl GROUP BY $c)
                           ORDER BY f DESC LIMIT 10))
                       / sum(f), 6) AS top10_share,
                 round(sqrt((CAST(sum(f * f) AS DOUBLE)
                     - CAST(sum(f) AS DOUBLE) * sum(f) / count(*))
                     / count(*))
                   / (CAST(sum(f) AS DOUBLE) / count(*)), 6) AS cv,
                 round(CAST(sum(f * f) AS DOUBLE) * count(*)
                   / (CAST(sum(f) AS DOUBLE) * sum(f)), 6) AS skew_factor
          FROM (SELECT count(*) AS f FROM $tbl GROUP BY $c)"""
    Seq(one("lineitem", "l_partkey", "lineitem.partkey"),
      one("lineitem", "l_suppkey", "lineitem.suppkey"),
      one("orders", "o_custkey", "orders.custkey"),
      one("events", "user_id", "events.user")).mkString("\nUNION ALL\n")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef.rowsOnly("q_join_size", qJoinSize),
    QueryDef.sql("q_skew_audit", qSkewAudit, qSkewAuditSql),
    QueryDef.sql("q1_agg", q1Agg, q1AggSql),
    QueryDef.sql("q_hier_rollup", qHierRollup, qHierRollupSql),
    QueryDef.sql("q_attribution", qAttribution, qAttributionSql),
    QueryDef.sql("q_streaks", qStreaks, qStreaksSql),
    QueryDef.sql("q_pareto", qPareto, qParetoSql),
    QueryDef.sql("q_abandoned", qAbandoned, qAbandonedSql),
    QueryDef.sql("q_skyline", qSkyline, qSkylineSql),
    QueryDef.sql("q_rfm", qRfm, qRfmSql),
    QueryDef.sql("q_mom", qMom, qMomSql),
    QueryDef.sql("q_rollup", qRollup, qRollupSql),
    QueryDef.sql("q_cube", qCube, qCubeSql),
    QueryDef.sql("q_topk_agg", qTopkAgg, qTopkAggSql),
    QueryDef.sql("q_pivot", qPivot, qPivotSql),
    QueryDef.sql("q_retention", qRetention, qRetentionSql),
    QueryDef.sql("q_funnel", qFunnel, qFunnelSql),
    QueryDef.sql("q_cdc_merge", qCdcMerge, qCdcMergeSql),
    QueryDef.sql("q_zorder", qZorder, qZorderSql),
    QueryDef.sql("q_hilbert", qHilbert, qHilbertSql),
    QueryDef.sql("q_layout_skip", qLayoutSkip, qLayoutSkipSql),
    QueryDef.sql("q_asof_operator", qAsofOperator, qAsofOperatorSql),
    QueryDef.sql("q_asof_fwd", qAsofForward, qAsofForwardSql),
    QueryDef.sql("q_asof_near", qAsofNearest, qAsofNearestSql),
    QueryDef.sql("q_range_join", qRangeJoin, qRangeJoinSql),
    QueryDef.sql("q_skew_join", qSkewJoin, qSkewJoinSql),
    QueryDef.sql("q3_shipping", q3Shipping, q3ShippingSql),
    QueryDef.sql("q_top_supplier", qTopSupplier, qTopSupplierSql),
    QueryDef.sql("q5_multijoin", q5MultiJoin, q5MultiJoinSql),
    QueryDef.sql("q_window_rank", qWindowRank, qWindowRankSql),
    QueryDef.sql("q_exists_semi", qExistsSemi, qExistsSemiSql),
    QueryDef.sql("q_bloom_semi", qBloomSemi, qBloomSemiSql),
    QueryDef.sql("q_bloom_anti", qBloomAnti, qBloomAntiSql),
    QueryDef.sql("q_profile", qProfile, qProfileSql),
    QueryDef.sql("q_gapfill", qGapfill, qGapfillSql),
    QueryDef.sql("q_cum_distinct", qCumDistinct, qCumDistinctSql),
    QueryDef.sql("q_corr_matrix", qCorrMatrix, qCorrMatrixSql),
    QueryDef.sql("q_funnel_latency", qFunnelLatency, qFunnelLatencySql),
    QueryDef.sql("q_mad_outliers", qMadOutliers, qMadOutliersSql),
    QueryDef.sql("q_winsorize", qWinsorize, qWinsorizeSql),
    QueryDef.sql("q_custdist", qCustDist, qCustDistSql),
    QueryDef.sql("q_moving_avg", qMovingAvg, qMovingAvgSql),
    QueryDef.sql("q_topk_per_group", qTopkPerGroup, qTopkPerGroupSql),
    QueryDef.sql("q_ntile_cume", qNtileCume, qNtileCumeSql),
    QueryDef.sql("q_grouping_sets", qGroupingSets, qGroupingSetsSql),
    QueryDef.sql("q_corr_subquery", qCorrSub, qCorrSubSql),
    QueryDef.sql("q_set_ops", qSetOps, qSetOpsSql),
    QueryDef.sql("q_histogram", qHistogram, qHistogramSql),
    QueryDef.sql("q_unpivot", qUnpivot, qUnpivotSql),
    QueryDef.sql("q_json_extract", qJsonExtract, qJsonExtractSql),
    QueryDef.sql("q_scd2", qScd2, qScd2Sql),
    QueryDef.sql("q_markov", qMarkov, qMarkovSql),
    QueryDef.sql("q_session_paths", qSessionPaths, qSessionPathsSql),
    QueryDef.sql("q_range_frame", qRangeFrame, qRangeFrameSql),
    QueryDef.sql("q_fuzzy_match", qFuzzyMatch, qFuzzyMatchSql),
    QueryDef.sql("q_entity_res", qEntityRes, qEntityResSql),
    QueryDef.sql("q_asof_join", qAsofJoin, qAsofJoinSql))
}
