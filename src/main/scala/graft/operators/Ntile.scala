package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed exact ntile — the scale swap for the single-partition
  * `ntile(n).over(Window.orderBy(...))` bucket windows (q_pareto /
  * q_rfm). A totally-ordered ntile window forces every row through ONE
  * partition; this operator computes the bit-identical bucket with no
  * unpartitioned window at all:
  *
  *   1. `repartitionByRange` on the total order (the distributed sort —
  *      partition i's keys all precede partition i+1's) +
  *      `sortWithinPartitions`, so partition-iteration order IS the
  *      global order;
  *   2. `monotonically_increasing_id` then encodes (partitionId << 33)
  *      + local index, giving each row its local rank without any
  *      window (and without a second exchange — the id is narrow);
  *   3. per-partition counts (a partition-count-bounded aggregate) turn
  *      into rank offsets via a triangle self-join over that tiny
  *      table — window-free, broadcast back;
  *   4. the exact ntile bucket is pure arithmetic on the global rank:
  *      with N rows and n buckets, the first N mod n buckets hold
  *      ⌈N/n⌉ rows and the rest ⌊N/n⌋ — exactly Spark's (and every
  *      SQL engine's) NTILE contract.
  *
  * Requires a TOTAL order (include a unique tiebreak column): range
  * boundaries may fall anywhere, and the result is boundary-invariant
  * only because no two rows compare equal. `NtileSpec` pins
  * bit-equality to the window formulation on randomized data
  * (N mod n ≠ 0, N < n, duplicate sort values with unique tiebreaks).
  */
object Ntile {

  /** df + an `out` LongType column holding ntile(n) under `order`.
    *
    * Internal column names are `_nt_`-prefixed; the input must not use
    * that prefix. Output column order: input columns, then `out`.
    *
    * The per-partition rank offsets are collected to the driver — a
    * PARTITION-COUNT-bounded array (the bounded-codebook discipline,
    * not a data collect) — and inlined as literals together with the
    * bucket arithmetic, so beyond the one range shuffle the plan adds
    * a single tiny count job and ZERO extra joins.
    */
  def distributed(df: DataFrame, n: Int, order: Seq[Column], out: String,
      numPartitions: Int = 0): DataFrame = {
    require(n > 0, s"ntile bucket count must be positive, got $n")
    val inputCols = df.columns.toSeq
    // Materialize the input ONCE, observing its row count on the same
    // job: repartitionByRange otherwise executes the upstream twice
    // (its range-sampling job, then the shuffle itself), and the
    // session shuffle width is the wrong range width for a small
    // aggregate — a 32-way range shuffle over a 10k-row table pays 32
    // task floors per downstream stage for microseconds of sort work
    // (the r13 scaling audit's q_rfm pocket). The width derives from
    // the observed size, clamped to cluster width: at real scale
    // rows/target exceeds any cluster and this is defaultParallelism
    // unchanged; at small scale it collapses to 1, which also
    // short-circuits RangePartitioner's sampling pass entirely. Bucket
    // values are width-invariant (NtileSpec pins bit-equality to the
    // window formulation), so only the plan changes. A caller-fixed
    // width needs no row count, so it checkpoints without the observe.
    val (pre, parts) =
      if (numPartitions > 0) (df.localCheckpoint(), numPartitions)
      else {
        val (cp, m) = graft.Superstep.step("ntile.input", df)
        (cp, graft.Width.forRows(df, m.getLong(0)))
      }
    // sorted-order ids: materialize once (two consumers: counts + rows)
    val ranged = pre.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_nt_mid", monotonically_increasing_id())
      .localCheckpoint()
    // `ranged` no longer reads the input copy: free it now rather than
    // at the caller's next cleanup
    pre.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }
    val base = ranged
      .withColumn("_nt_pid", shiftrightunsigned(col("_nt_mid"), 33))
      .withColumn("_nt_lrn", col("_nt_mid").bitwiseAND(lit((1L << 33) - 1)) + 1)
    // per-partition counts: ≤ `parts` rows, driver-bounded by design
    val byPid = base.groupBy(col("_nt_pid")).agg(count(lit(1)).as("_nt_pc"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val counts = (0 until parts).map(p => byPid.getOrElse(p, 0L))
    val offsets = counts.scanLeft(0L)(_ + _) // offsets(p) = rows before p
    val total = counts.sum
    if (total == 0L)
      return df.withColumn(out, lit(null).cast("long"))
        .select((inputCols.map(col) :+ col(out)): _*)
    // NTILE row-split arithmetic as literals: first `rem` buckets hold
    // q+1 rows, the rest q
    val q = total / n
    val rem = total % n
    val big = rem * (q + 1)
    val offLit = array(offsets.take(parts).map(lit): _*)
    val grn = element_at(offLit, col("_nt_pid").cast("int") + 1) + col("_nt_lrn")
    // integer DIV keeps the arithmetic exact at any scale (a double
    // quotient would lose exactness past 2^53 rows)
    val bucket =
      if (q == 0L) grn // N < n: every row its own bucket
      else when(grn <= big, expr(s"(_nt_grn - 1) DIV ${q + 1} + 1"))
        .otherwise(expr(s"$rem + (_nt_grn - $big - 1) DIV $q + 1"))
    base.withColumn("_nt_grn", grn)
      .withColumn(out, bucket)
      .select((inputCols.map(col) :+ col(out)): _*)
  }
}
