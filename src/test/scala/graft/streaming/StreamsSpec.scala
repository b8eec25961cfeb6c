package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The stream driver's contract: [[Streams.replay]] hands every file of
  * a multi-file source to the batch body as its own micro-batch, and it
  * leaves nothing behind — no active query, no changed shuffle width —
  * even when a batch throws. [[Streams.toMemory]] leaves no sink view.
  * And no face outside `Streams.scala` drives a streaming query itself.
  */
class StreamsSpec extends SparkSpec {

  private val width = "spark.sql.shuffle.partitions"

  private val sources = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fresh three-file source of ids 0 until 30 (a new view key each
    * call, so no test replays another's pinned source).
    */
  private def threeFiles(): String =
    Streams.fileSource(spark, s"streams-spec-${sources.incrementAndGet()}", "src") {
      spark.range(30).select(col("id")).repartition(3, col("id"))
    }

  test("replay hands each file of a three-file source to onBatch as one batch") {
    val src = threeFiles()
    var batches = List.empty[DataFrame]
    Streams.replay(spark, src) { b => batches = b.localCheckpoint() :: batches }
    assert(batches.size == 3)
    val seen = batches.reduce(_ unionByName _).collect().map(_.getLong(0)).sorted
    assert(seen.toSeq == spark.read.parquet(src).collect().map(_.getLong(0)).sorted.toSeq)
    assert(seen.toSeq == (0L until 30L))
  }

  test("replay rethrows a failing batch, stops its query and restores the width") {
    val src = threeFiles()
    val prev = spark.conf.get(width)
    spark.conf.set(width, "7")
    try {
      var n = 0
      var inside = ""
      val e = intercept[Exception] {
        Streams.replay(spark, src) { _ =>
          n += 1
          inside = spark.conf.get(width)
          if (n == 2) throw new IllegalStateException("second batch fails")
        }
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(_.getMessage == "second batch fails"), e)
      assert(n == 2)
      assert(inside == "1") // a few KB of source: one partition
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.get(width) == "7")
    } finally spark.conf.set(width, prev)
  }

  test("two s_funnel calls leave no memory-sink temp view behind") {
    val first = graft.queries.Streaming.sFunnel(spark, sf()).collect()
    val second = graft.queries.Streaming.sFunnel(spark, sf()).collect()
    assert(first.toSeq == second.toSeq)
    assert(first.map(_.getLong(2)).sum > 0)
    val sinks = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).filter(_.contains("_sink_"))
    assert(sinks.isEmpty, sinks.mkString(","))
    assert(spark.streams.active.isEmpty)
  }

  test("no file outside Streams.scala starts, drains or stops a streaming query") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory)
    val driver = new java.io.File(root, "graft/streaming/Streams.scala").getCanonicalFile
    val banned = Seq(".foreachBatch", "processAllAvailable", ".writeStream",
      "\"maxFilesPerTrigger\"")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = for {
      f <- files(root) if f.getName.endsWith(".scala") && f.getCanonicalFile != driver
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${f.getPath}:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
