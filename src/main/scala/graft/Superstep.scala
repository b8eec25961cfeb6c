package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.{count, lit}

/** The superstep discipline of the iterative graph loops, written once
  * (the Pregelix split: the loop writes the round's dataflow, one driver
  * owns how a round runs). A loop body builds its round as a lazy
  * DataFrame and hands it to [[step]], which taps it for the plan audit,
  * fuses the round's convergence scalar into the checkpoint job via
  * `observe`, and truncates lineage with `localCheckpoint`; the loop runs
  * inside [[scope]], which pins the session conf every round plan needs.
  * No loop observes, taps or sets session conf itself (SuperstepSpec
  * scans the sources for it).
  *
  * Superstep also owns where loop state lives. A round has more than
  * one physical plan, and the size of the state picks it (the Pregelix
  * framing), by two bounds in bytes ([[bytes]]: rows × Spark's per-row
  * estimate). Below [[DriverBytes]] a loop collects its live state once
  * and finishes the identical recurrence on the driver; below
  * [[BroadcastBytes]] it broadcasts its state each round instead of
  * co-partitioning it with the edges. Every loop with a driver tail or
  * a broadcast fork takes the bound as a parameter (`driverBytes`,
  * `broadcastBytes`) defaulting to these constants; pass 0 to force the
  * distributed (or co-partitioned) path and `Long.MaxValue` to force
  * the driver (or broadcast) path. Both paths give identical results.
  * Each decision reads a row count the loop already has (a step's
  * observed row or an existing `count()`), so deciding runs no job.
  */
object Superstep {

  /** Live loop state at or below this many bytes finishes on the driver
    * (about 350k rows of (long, long) edges). Placed by an A/B of the
    * loop faces at sf0.1 (4 CPUs): every tail decision there is the same
    * anywhere from 3.8 to 7 MB, except MIS, whose first-round state
    * (7.0 MB) fits 8 MiB and finished faster on the driver; at 64 MiB
    * g_cc's 57 MB edge set went to the driver and ran slower than the
    * distributed loop. */
  val DriverBytes: Long = 8L << 20

  /** Loop state at or below this many bytes is broadcast each round;
    * above it the state is co-partitioned with the edges and joined
    * shuffle-hash, the formulation that also works when state outgrows
    * one executor. 100k rows of (long, long) state, where the A/B at
    * sf0.1 put the crossover (a ~20k-row broadcast build costs ~20 ms;
    * at 186k rows the per-round collect and build dominated). */
  val BroadcastBytes: Long = 2400000L

  /** Spark's size estimate for `rows` rows of `df`: rows × the per-row
    * size Catalyst's statistics use (8 bytes of row overhead plus each
    * column type's default size; a string counts 20, an array one
    * element). Reads only the analyzed schema, so it runs no job. */
  def bytes(df: DataFrame, rows: Long): Long =
    rows * EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output).toLong

  /** One metric name for every round. Reuse is safe because [[step]]
    * checkpoints each observed frame at once and returns only the
    * checkpoint: no plan ever holds two observations of the name (which
    * fails analysis), and a fixed name keeps round plans identical. */
  private val Metric = "graft_step"

  /** Run one round: tap `df` under `tag` ([[PlanAudit]]), observe `agg`
    * on the checkpoint job itself (no extra scan), `localCheckpoint` it,
    * and return the checkpoint with the observed row (`agg`'s value at
    * index 0; a Long for the default row count). The observed frame is
    * never returned, so no caller can chain a second observation onto
    * it. */
  def step(tag: String, df: DataFrame, agg: Column = count(lit(1))): (DataFrame, Row) = {
    val observed = PlanAudit.tap(tag, df.observe(Metric, agg.as("v")))
    val cp = observed.localCheckpoint()
    (cp, observed.queryExecution.observedMetrics(Metric))
  }

  /** Audit a round plan the caller returns lazily instead of
    * checkpointing (a drain's final one-row result, which its consumer
    * executes once anyway: a checkpoint would add a job). */
  def audit(tag: String, df: DataFrame): DataFrame = PlanAudit.tap(tag, df)

  /** Run `body` with AQE off, the shuffle width pinned to `width` and the
    * codegen stage id kept out of generated class names, on the session
    * of `df`. Inside the loops every join strategy is pinned by
    * exact-count hints and widths are sized from known row counts, so AQE
    * only adds a materialize-and-replan barrier per exchange per round;
    * and a frame checkpointed under an adaptive plan loses its output
    * partitioning, so co-partitioned loop state must be checkpointed
    * inside the scope. Round plans are structurally identical, but the
    * stage id in the class name makes each round's source unique and
    * defeats the janino compile cache (measured: g_hits 28 → 7 compiles,
    * 5.2 → 4.1 s at sf0.1 with the id off). Scopes nest: each restores
    * what it found, also when `body` throws. The conf is session-wide,
    * which is safe because graft calls are driver-sequential per session.
    */
  def scope[T](df: DataFrame, width: Int)(body: => T): T =
    withConf(df.sparkSession,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.codegen.useIdInClassName" -> "false")(body)

  /** Set `settings` on `spark`'s conf for the duration of `body`, then
    * restore the values found, also when `body` throws. The one place
    * graft sets session conf ([[scope]] and the stream driver's width
    * scope). */
  private[graft] def withConf[T](spark: SparkSession, settings: (String, String)*)(
      body: => T): T = {
    val conf = spark.conf
    val prev = settings.map { case (k, _) => k -> conf.get(k) }
    settings.foreach { case (k, v) => conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => conf.set(k, v) }
  }
}
