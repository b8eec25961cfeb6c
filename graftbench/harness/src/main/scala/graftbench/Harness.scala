package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Options passed by `graftbench/run.py`: the benchmark's own arguments
  * and the run's directories.
  */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    out: String,
    work: String) {
  val cpus: Int = Runtime.getRuntime.availableProcessors
}

/** The measuring main. One JVM, `local[cpus]`, one driver thread
  * issuing operations in a closed loop. Writes `result.json` (raw
  * per-operation samples plus, when tracing, per-layer counters) and the
  * outputs to check into `--out`; `run.py` turns those into metrics.
  *
  * Usage: graftbench.Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR --work DIR
  * W is `statements`, a face workload of [[Faces.ByWorkload]], or
  * `archive` (one call of every face, for the build's class-data archive).
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      data = need("data"),
      out = need("out"),
      work = need("work"))
    Files.createDirectories(Paths.get(o.out))
    val result = o.workload match {
      case "statements" => Statements.run(o)
      case "archive" => Faces.archive(o)
      case w => Faces.run(o, Faces.ByWorkload.getOrElse(w, sys.error(s"no workload $w")))
    }
    writeFile(s"${o.out}/result.json", Json.write(result))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The session every graft main builds (same conf as `graft.Bench`),
    * with Spark's scratch and warehouse directories under `work`.
    */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JVM start on the `System.nanoTime` clock: set-up is timed from here. */
  def jvmStartNs: Long =
    System.nanoTime() - (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Heap still in use once Spark has cleaned up, in MB. Spark's
    * cleaner threads free unpersisted blocks and shuffle state only
    * after a collection finds them unreachable, so one collection can
    * leave up to 40 MB more than the next: collect again, 50 ms apart,
    * until a collection frees less than 1 MB (five at most). Each value
    * is the heap pools' usage as the collection left it.
    */
  def retainedHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var used = collect()
    var freed = Double.MaxValue
    var n = 1
    while (n < 5 && freed >= 1) {
      Thread.sleep(50)
      val next = collect()
      freed = used - next
      used = next
      n += 1
    }
    used
  }

  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Bytes held by the persisted RDDs still registered with the context. */
  def persistedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def writeFile(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Per-layer metrics of the operations in the timed window. */
  def layerMetrics(o: Opts, cs: Seq[OpCounters],
      wallMs: Seq[Double], gcMsTotal: Long, codegenCount: Long,
      codegenNs: Long): scala.collection.mutable.LinkedHashMap[String, Any] = {
    val wallS = wallMs.sum / 1000
    val taskS = cs.map(_.taskRunMs).sum / 1000.0
    val busyS = cs.map(_.busyMs).sum / 1000.0
    val stages = cs.map(_.stages).sum
    val tasks = cs.map(_.tasks).sum
    val roundsOps = cs.filter(_.rounds > 0)
    val rounds = roundsOps.map(_.rounds).sum
    val triggerOps = cs.zip(wallMs).filter(_._1.triggers > 0)
    val triggerS = cs.map(_.triggerMs).sum / 1000.0
    val mb = 1048576.0
    scala.collection.mutable.LinkedHashMap[String, Any](
      "spark.jobs" -> cs.map(_.jobs).sum,
      "spark.stages" -> stages,
      "spark.tasks" -> tasks,
      "spark.tasks_per_stage" -> (if (stages > 0) tasks.toDouble / stages else 0.0),
      "spark.task_s" -> taskS,
      "spark.task_overhead_s" -> (cs.map(_.taskDurMs).sum / 1000.0 - taskS),
      "spark.job_busy_s" -> busyS,
      "spark.driver_gap_s" -> (wallS - busyS),
      "spark.core_util" -> (if (wallS > 0) taskS / (wallS * o.cpus) else 0.0),
      "spark.shuffle_read_mb" -> cs.map(_.shuffleReadB).sum / mb,
      "spark.shuffle_write_mb" -> cs.map(_.shuffleWriteB).sum / mb,
      "spark.spill_mb" -> cs.map(_.spillB).sum / mb,
      "spark.input_mb" -> cs.map(_.inputB).sum / mb,
      "spark.plan_s" -> cs.map(_.planMs).sum / 1000.0,
      "spark.sql_execs" -> cs.map(_.sqlExecs).sum,
      "spark.codegen_compiles" -> codegenCount,
      "spark.codegen_s" -> codegenNs / 1e9,
      "jvm.gc_s" -> gcMsTotal / 1000.0,
      "graph.rounds" -> rounds,
      "graph.jobs_per_round" ->
        (if (rounds > 0) roundsOps.map(_.jobs).sum.toDouble / rounds else 0.0),
      "streaming.triggers" -> cs.map(_.triggers).sum,
      "streaming.trigger_s" -> triggerS,
      "streaming.batch_s" -> cs.map(_.addBatchMs).sum / 1000.0,
      "streaming.machinery_s" -> cs.map(c => c.triggerMs - c.addBatchMs).sum / 1000.0,
      "streaming.drain_s" -> (triggerOps.map(_._2).sum / 1000.0 - triggerS),
      "streaming.input_rows" -> cs.map(_.inputRows).sum,
      "streaming.state_rows" -> cs.map(_.stateRows.values.sum).sum,
      "streaming.state_mb" -> cs.map(_.stateBytes.values.sum).sum / mb)
  }

  def spansJson(t: Tracer): String =
    t.spans.synchronized(t.spans.toList).map { s =>
      Json.write(Map("kind" -> s.kind, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }.mkString("", "\n", "\n")
}
