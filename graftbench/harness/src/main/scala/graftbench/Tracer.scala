package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation layer counters, filled by the listeners while one
  * operation (a face call or a statement) is in flight.
  */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskDurMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var inputB = 0L
  var sqlExecs = 0L
  var planMs = 0L
  var triggers = 0L
  var triggerMs = 0L
  var addBatchMs = 0L
  var inputRows = 0L
  var rounds = 0L
  val stateRows = mutable.Map.empty[String, Long]
  val stateBytes = mutable.Map.empty[String, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  def startJob(id: Int, t: Long): Unit = { jobs += 1; jobStart(id) = t }
  def endJob(id: Int, t: Long): Unit =
    jobStart.remove(id).foreach(s => jobIntervals += ((s, t)))

  /** Milliseconds during which at least one job was running. */
  def busyMs: Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One timed span of the traced run, written out at the end. */
final case class Span(kind: String, name: String, op: Int, startMs: Long, endMs: Long)

/** Records per-layer work from outside the program: Spark's listener
  * hooks (jobs, stages, tasks, SQL executions, streaming progress) and
  * the library's public `PlanAudit.hook` (iterative-loop rounds). The
  * harness brackets each operation with [[begin]] / [[end]]; both drain
  * the listener bus so every event lands on the operation that caused
  * it. Listener time is summed as the tracing overhead.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var cur: OpCounters = null
  @volatile private var curOp: Int = -1
  private val overheadNs = new java.util.concurrent.atomic.AtomicLong
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stageStart = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  private def onCur(f: OpCounters => Unit): Unit = {
    val c = cur
    if (c != null) c.synchronized(f(c))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobStart.synchronized(jobStart(e.jobId) = e.time)
      onCur(_.startJob(e.jobId, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      onCur(_.endJob(e.jobId, e.time))
      val s = jobStart.synchronized(jobStart.remove(e.jobId)).getOrElse(e.time)
      val op = curOp
      if (op >= 0) spans.synchronized(spans += Span("job", e.jobId.toString, op, s, e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      e.stageInfo.submissionTime.foreach(t =>
        stageStart.synchronized(stageStart(e.stageInfo.stageId) = t))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val si = e.stageInfo
      onCur(_.stages += 1)
      val op = curOp
      val s = stageStart.synchronized(stageStart.remove(si.stageId))
        .orElse(si.submissionTime).getOrElse(0L)
      if (op >= 0) spans.synchronized(spans += Span("stage",
        s"${si.stageId}:${si.numTasks}", op, s, si.completionTime.getOrElse(s)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      onCur { c =>
        c.tasks += 1
        c.taskDurMs += e.taskInfo.duration
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputB += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      onCur { c => c.sqlExecs += 1; c.planMs += planMs }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val trig = d("triggerExecution")
      val q = p.runId.toString
      onCur { c =>
        c.triggers += 1
        c.triggerMs += trig
        c.addBatchMs += d("addBatch")
        c.inputRows += math.max(p.numInputRows, 0L)
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        val bytes = p.stateOperators.map(_.memoryUsedBytes).sum
        c.stateRows(q) = math.max(c.stateRows.getOrElse(q, 0L), rows)
        c.stateBytes(q) = math.max(c.stateBytes.getOrElse(q, 0L), bytes)
      }
      val op = curOp
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + trig
      if (op >= 0) spans.synchronized(spans += Span("trigger", p.batchId.toString, op,
        end - trig, end))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    graft.PlanAudit.hook = (_: String, _: QueryExecution) => {
      val t0 = System.nanoTime()
      val c = cur
      if (c != null) c.synchronized(c.rounds += 1)
      overheadNs.addAndGet(System.nanoTime() - t0)
    }
  }

  def uninstall(): Unit = {
    graft.PlanAudit.hook = null
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def flush(): Unit =
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark.sparkContext, 10000L)

  def begin(op: Int): OpCounters = {
    flush()
    val c = new OpCounters
    curOp = op
    cur = c
    c
  }

  def end(): OpCounters = {
    flush()
    val c = cur
    cur = null
    curOp = -1
    c
  }

  def overheadS: Double = overheadNs.get / 1e9
}
