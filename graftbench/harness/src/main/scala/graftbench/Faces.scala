package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** A face workload: one `SparkEntry.queries` face called again and
  * again, each result collected to the driver. The first collected
  * result is written out for the oracle check.
  */
object Faces {
  /** The face each face workload runs. */
  val ByWorkload: Map[String, String] = Map(
    "stream_incr" -> "s_cc_incr",
    "corpus_batch" -> "p_dedup_ngram")

  /** Untimed calls after the set-up, whole ones, for at least this
    * long per face workload. The JIT is still compiling through the
    * first calls: without this, the median call on `corpus_batch` moved
    * by 27% between runs. An `s_cc_incr` call keeps getting faster
    * through its first four or five, so `stream_incr` warms up for
    * longer: with 5 s, some runs' timed calls were still on that
    * descent and the median call moved by up to 38% between runs.
    */
  val WarmupS: Map[String, Double] = Map("stream_incr" -> 15.0, "corpus_batch" -> 5.0)

  /** Timed calls per run, at least: the median rests on four or more. */
  val MinPasses = 4

  /** One call of every benchmarked face on one session, for the
    * class-data archive the build dumps at exit.
    */
  def archive(o: Opts): scala.collection.Map[String, Any] = {
    val spark = Harness.session(o)
    ByWorkload.values.toSeq.sorted.foreach(f =>
      graft.SparkEntry.queries(f)(spark, o.data).collect())
    Map("workload" -> o.workload)
  }

  def run(o: Opts, face: String): scala.collection.Map[String, Any] = {
    val fn = graft.SparkEntry.queries.getOrElse(face, sys.error(s"no face $face"))

    // Set-up, timed from JVM start: session start, then an untimed warm
    // pass of the face on the measured tables, which also builds the
    // views it pins (the modules' warmViews build every view of their
    // module: about 40 s for GraphOps on a warm JVM).
    val start = Harness.jvmStartNs
    val spark = Harness.session(o)
    def warmPass(): Unit = {
      try fn(spark, o.data).collect()
      catch { case e: Throwable => System.err.println(s"[graftbench] warm $face: $e") }
      graft.PinnedRdds.dropUnpinned(spark)
    }
    val tw = System.nanoTime()
    warmPass()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = (System.nanoTime() - start) / 1e9
    val tj = System.nanoTime()
    val warmMs = mutable.ArrayBuffer.empty[Double]
    do { val t = System.nanoTime(); warmPass(); warmMs += Harness.ms(t, System.nanoTime()) }
    while (System.nanoTime() - tj < WarmupS(o.workload) * 1e9)
    val heapWarm = Harness.retainedHeapMb()
    val checkDir = s"${o.out}/check"
    Files.createDirectories(Paths.get(checkDir))

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    val counters = mutable.ArrayBuffer.empty[OpCounters]
    val errors = mutable.LinkedHashMap.empty[String, String]
    var timedMs = 0.0
    var gcTotal = 0L
    var cgCount = 0L
    var cgNs = 0L
    var dropped = 0L
    var pass = 0
    while (pass < MinPasses || timedMs < o.seconds * 1000) {
      pass += 1
      tracer.foreach(_.begin(ops.size))
      val gc0 = Harness.gcMs
      val cg0 = Harness.codegenCount
      val cgn0 = Harness.codegenNs
      val t0 = System.nanoTime()
      var t1 = t0
      var ok = true
      var result: (Array[Row], StructType) = null
      try {
        val df: DataFrame = fn(spark, o.data)
        t1 = System.nanoTime()
        result = (df.collect(), df.schema)
      } catch {
        case e: Throwable =>
          ok = false
          errors(s"$face pass $pass") = String.valueOf(e.getMessage).take(300)
          if (t1 == t0) t1 = System.nanoTime()
      }
      val t2 = System.nanoTime()
      gcTotal += Harness.gcMs - gc0
      cgCount += Harness.codegenCount - cg0
      cgNs += Harness.codegenNs - cgn0
      tracer.foreach(t => counters += t.end())
      // the first collected result is kept for the oracle check,
      // outside the timed window; no result stays on the heap
      if (result != null && !ops.exists(_("ok") == true))
        spark.createDataFrame(java.util.Arrays.asList(result._1: _*), result._2)
          .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$face")
      result = null
      val before = spark.sparkContext.getPersistentRDDs.size
      graft.PinnedRdds.dropUnpinned(spark)
      dropped += before - spark.sparkContext.getPersistentRDDs.size
      System.gc() // no call pays for the last one's garbage
      timedMs += Harness.ms(t0, t2)
      ops += mutable.LinkedHashMap("face" -> face, "pass" -> pass, "ok" -> ok,
        "ms" -> Harness.ms(t0, t2), "build_ms" -> Harness.ms(t0, t1),
        "exec_ms" -> Harness.ms(t1, t2), "persisted" -> before)
    }
    val heapEnd = Harness.retainedHeapMb()

    val layers = tracer.map { t =>
      t.uninstall()
      val m = Harness.layerMetrics(o, counters.toSeq, ops.map(_("ms").asInstanceOf[Double]).toSeq,
        gcTotal, cgCount, cgNs)
      m ++= Seq(
        "queries.build_s" -> ops.map(_("build_ms").asInstanceOf[Double]).sum / 1000,
        "queries.exec_s" -> ops.map(_("exec_ms").asInstanceOf[Double]).sum / 1000,
        "views.warm_s" -> warmS,
        "views.pinned" -> spark.sparkContext.getPersistentRDDs.size.toLong,
        "views.pinned_mb" -> Harness.persistedMb(spark),
        "views.dropped" -> dropped,
        "trace.overhead_s" -> t.overheadS)
      Harness.writeFile(s"${o.out}/spans.jsonl", Harness.spansJson(t))
      m
    }

    graft.SparkEntry.oracleSql.get(face).foreach(sql =>
      Harness.writeFile(s"$checkDir/oracle.sql", sql))

    mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload,
      "face" -> face,
      "setup_s" -> setupS,
      "ops" -> ops.toSeq,
      "errors" -> errors,
      "heap_mb" -> Seq(heapWarm, heapEnd),
      "warm_ms" -> warmMs.toSeq,
      "layers" -> layers)
  }
}
