package graft

import org.apache.spark.sql.SparkSession

/** The local session the graft mains (Bench, Verify, PlanDump, ScaleData) run on. */
object GraftSession {
  /** SPARK_GRAFT_CPUS, else every core: the bench contract is local[32]
    * on a 32-cpu box, and an unset variable must not quietly run 4.
    */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // unpersisting truncated-lineage checkpoints between queries is
    // deliberate (PinnedRdds cleanup) — the per-RDD warning it triggers
    // would flood the output hundreds of times per run
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
