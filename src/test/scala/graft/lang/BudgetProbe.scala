package graft.lang

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** Measures one label's statement latency and retained heap on each
  * path, at the label sizes given, to place
  * [[Interpreter.driverBudget]]. Each row of the label is
  * `(_id: long, name: string, n: long)`, like the labels of the
  * benchmark's `statements` workload.
  *
  * {{{
  * SPARK_DRIVER_MEM=2g SPARK_GRAFT_CPUS=4 sbt "Test/runMain graft.lang.BudgetProbe driver 7 1000 10000"
  * }}}
  * The arguments are the path, `driver` (no budget) or `spark` (budget
  * 0), the length of each name (at least 7), then the label sizes.
  * Prints one line per size: the label's estimated bytes
  * ([[Interpreter.rowBytes]] summed), the heap it retains, and the
  * median milliseconds of a MATCH, an UPDATE, a DELETE, and an INSERT
  * followed by the MATCH that serves it. Run one path per JVM, so one
  * path's leftover blocks do not count against the other.
  */
object BudgetProbe {
  private def heapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val budget = if (args(0) == "driver") Long.MaxValue else 0L
    val pad = "_" * (args(1).toInt - 7)
    for (n <- args.drop(2).map(_.toInt)) {
      val heap0 = heapMb()
      val it = new Interpreter(spark, budget)
      it.executeScript("CREATE NODE P (name: string, n: int);")
      val batch = 5000
      (0 until n by batch).foreach { lo =>
        it.executeScript((lo until math.min(n, lo + batch))
          .map(i => f"INSERT NODE P (name: 'p$i%06d$pad', n: $i);").mkString("\n"))
      }
      val est = it.nodes("P").collect().iterator.map(Interpreter.rowBytes).sum
      def ms(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }
      val times = (1 to 9).map { r =>
        val k = f"p${(r * 7919) % n}%06d$pad"
        (ms(it.executeScript(s"MATCH P WHERE name: '$k';").get.collect()),
          ms(it.executeScript(s"UPDATE NODE P SET n: $r WHERE name: '$k';")),
          ms(it.executeScript(s"DELETE NODE P WHERE name: 'x${r - 1}';")),
          ms {
            it.executeScript(s"INSERT NODE P (name: 'x$r', n: 0);")
            it.executeScript(s"MATCH P WHERE name: 'x$r';").get.collect()
          })
      }.drop(2)
      val heap = heapMb() - heap0
      println(f"[probe] path=${args(0)} chars=${args(1)} rows=$n est_mb=${est / 1048576.0}%.1f " +
        f"heap_mb=$heap%.1f match_ms=${median(times.map(_._1))}%.1f " +
        f"update_ms=${median(times.map(_._2))}%.1f delete_ms=${median(times.map(_._3))}%.1f " +
        f"insert_match_ms=${median(times.map(_._4))}%.1f")
      assert(it.nodes("P").count() == n + 1, "probe label lost rows")
    }
    spark.stop()
  }
}
