package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The partition-count rule: a width comes from the data's size and is
  * clamped to cluster width, never a constant tuned for one scale. At
  * real scale the clamp dominates long before the per-partition target
  * does, so the rule only narrows SMALL inputs, where fewer, fuller tasks
  * are strictly better.
  */
object Width {

  /** Cluster width: the clamp of every rule here. */
  def cluster(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Width for `rows` rows of loop state: 250k rows per partition, the
    * measured per-task fixed-cost floor (at 50k rows/task the rank loops
    * spent more wall-clock scheduling 32 tasks/stage than computing —
    * sf0.1, local[32]: g_hits 7.7 → 4.6 s, g_ppr 6.4 → 3.6 s, g_pagerank
    * 5.7 → 4.2 s at 250k). */
  def forRows(df: DataFrame, rows: Long): Int =
    clamp(df.sparkSession, rows / 250000L + 1L)

  /** Width for `bytes` of input: one partition per 64 MiB. */
  def forBytes(spark: SparkSession, bytes: Long): Int =
    clamp(spark, bytes / (64L << 20) + 1L)

  private def clamp(spark: SparkSession, parts: Long): Int =
    math.max(1, math.min(cluster(spark).toLong, parts).toInt)
}
