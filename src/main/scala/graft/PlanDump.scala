package graft

/** Writes `.explain("formatted")` output for named declared queries to
  * files — the optimization rounds' plan-evidence artifact
  * (plans/rNN/<query>_<tag>.txt). Usage:
  *   runMain graft.PlanDump <outDir> <tag> <name>[,<name>...]
  * Reads the data dir from SPARK_GRAFT_SF_DIR like Bench.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <tag> <names,comma-sep>")
    val Array(outDir, tag, namesCsv) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = SparkEntry.queries
    // GRAFT_DUMP_LOOP=1: additionally capture the PER-ROUND loop-body
    // plans the PlanAudit taps hand out during execution (the final
    // explain of an iterative face shows only a projection over the
    // checkpointed last round — evidentially empty for loop claims;
    // r13 verdict item #7). Writes every distinct tapped plan shape,
    // labeled by tap tag + round index, to <name>_loop_<tag>.txt.
    val dumpLoop = sys.env.contains("GRAFT_DUMP_LOOP")
    namesCsv.split(",").foreach { name =>
      val rounds =
        new scala.collection.mutable.ArrayBuffer[(String, String)]
      if (dumpLoop)
        PlanAudit.hook = (t, qe) => rounds.synchronized {
          rounds += ((t, qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)))
        }
      val df =
        try {
          val d = qs(name)(spark, sfDir)
          if (dumpLoop) d.count()
          d
        } finally PlanAudit.hook = null
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      if (dumpLoop && rounds.nonEmpty) {
        val body = rounds.zipWithIndex.map { case ((t, p), i) =>
          s"== loop tap [$t] round ${i + 1} ==\n$p"
        }.mkString("\n")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_loop_$tag.txt"),
          body.getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/${name}_loop_$tag.txt " +
          s"(${rounds.size} round plans)")
      }
      PinnedRdds.dropUnpinned(spark)
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
