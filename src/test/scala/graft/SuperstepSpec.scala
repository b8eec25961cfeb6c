package graft

import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The loop driver's contract ([[Superstep.step]] and [[Superstep.scope]])
  * and the guard that no other file observes, taps or sets session conf
  * itself.
  */
class SuperstepSpec extends SparkSpec {

  /** Jobs `body` starts in this thread's job group, listener bus drained
    * on both sides (the InterpreterSpec pattern). */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.Bridge
    val sc = spark.sparkContext
    val group = s"superstep-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    Bridge.flushListenerBus(sc, 10000)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "superstep")
    try body
    finally {
      sc.clearJobGroup()
      Bridge.flushListenerBus(sc, 10000)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  private def tapped(run: => Unit): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    PlanAudit.hook = (t: String, _: QueryExecution) => buf.synchronized { buf += t }
    try run finally PlanAudit.hook = null
    buf.synchronized(buf.toList)
  }

  test("step returns a LogicalRDD checkpoint with its observed row count, in one job") {
    val df = spark.range(0, 1000, 1, 4).toDF("id").filter(col("id") % 3 === 0)
    var out: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Row) = null
    val jobs = jobsOf { out = Superstep.step("test.round", df) }
    val (cp, m) = out
    assert(jobs === 1)
    assert(cp.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(m.getLong(0) === 334L)
    assert(cp.count() === 334L)
  }

  test("step observes a caller-given aggregate") {
    val (_, m) = Superstep.step("test.round", spark.range(1, 5).toDF("x"),
      sum(col("x").cast("double")))
    assert(m.getDouble(0) === 10.0)
  }

  test("the audit hook sees a step's tag once per step") {
    val tags = tapped {
      Superstep.step("a.round", spark.range(3).toDF("x"))
      Superstep.step("b.round", spark.range(3).toDF("x"))
      Superstep.step("a.round", spark.range(3).toDF("x"))
    }
    assert(tags === Seq("a.round", "b.round", "a.round"))
  }

  test("three chained steps, each fed the previous checkpoint, share one metric name") {
    val divisors = Seq(2, 3, 5)
    var state = spark.range(0, 100).toDF("id")
    val counts = divisors.map { d =>
      val (next, m) = Superstep.step("chain.round", state.filter(col("id") % d =!= 0))
      state = next
      m.getLong(0)
    }
    val expected = divisors.indices.map(i =>
      (0 until 100).count(x => divisors.take(i + 1).forall(x % _ != 0)).toLong)
    assert(counts === expected)
    assert(state.count() === expected.last)
  }

  test("nested scopes restore the session conf, also when the body throws") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.codegen.useIdInClassName")
    val conf = spark.conf
    val before = keys.map(conf.get)
    val df = spark.range(1).toDF("x")
    val e = intercept[IllegalStateException] {
      Superstep.scope(df, 2) {
        assert(keys.map(conf.get) === Seq("false", "2", "false"))
        Superstep.scope(df, 3) {
          assert(conf.get("spark.sql.shuffle.partitions") === "3")
        }
        assert(conf.get("spark.sql.shuffle.partitions") === "2")
        Superstep.scope(df, 5) {
          throw new IllegalStateException("round failed")
        }
      }
    }
    assert(e.getMessage === "round failed")
    assert(keys.map(conf.get) === before)
  }

  private val root = new java.io.File("src/main/scala")

  /** (file, 1-based line number, line) for every Scala source line under
    * `dir`, skipping `allowed` paths (relative to src/main/scala). */
  private def sourceLines(dir: java.io.File, allowed: Set[String] = Set.empty)
      : Seq[(java.io.File, Int, String)] = {
    assert(dir.isDirectory)
    val skip = allowed.map(p => new java.io.File(root, p).getCanonicalFile)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    for {
      f <- files(dir) if f.getName.endsWith(".scala") && !skip(f.getCanonicalFile)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq.zipWithIndex
    } yield (f, i + 1, line)
  }

  test("no file outside Superstep.scala and PlanAudit.scala observes, taps or sets conf") {
    val banned = Seq(".observe(", "observedMetrics", "PlanAudit.tap(", "conf.set(")
    val hits = for {
      (f, n, line) <- sourceLines(root, Set("graft/Superstep.scala", "graft/PlanAudit.scala"))
      b <- banned if line.contains(b)
    } yield s"${f.getPath}:$n: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("graph loops read no env or system property, and only Superstep defines a size bound") {
    val envReads = for {
      (f, n, line) <- sourceLines(new java.io.File(root, "graft/graph"))
      b <- Seq("sys.env", "sys.props", "System.getProperty") if line.contains(b)
    } yield s"${f.getPath}:$n: $b"
    val bound = """\b(val|def)\s+\w*(FinishBound|StateBound)\b""".r
    val bounds = for {
      (f, n, line) <- sourceLines(root, Set("graft/Superstep.scala"))
      if bound.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:$n: ${line.trim}"
    assert((envReads ++ bounds).isEmpty, (envReads ++ bounds).mkString("\n"))
  }
}
