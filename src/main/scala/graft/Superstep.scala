package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
  */
object Superstep {

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
