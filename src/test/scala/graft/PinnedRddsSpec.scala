package graft

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The view registry: one build per (session, dir, name), even under
  * concurrent requests, and a pin scope that the build chooses.
  */
class PinnedRddsSpec extends SparkSpec {
  private val seq = new AtomicInteger
  /** A dir no other test (or earlier run in this JVM) has used. */
  private def freshDir(): String = s"pinned-rdds-spec-${seq.incrementAndGet()}"

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def pinned(): Set[Int] = persisted().filter(PinnedRdds.isPinned(spark, _))

  test("view: two concurrent requests run the build once and pin one set of RDDs") {
    val dir = freshDir()
    val builds = new AtomicInteger
    val barrier = new CyclicBarrier(2)
    val before = pinned()
    val request: Callable[DataFrame] = () => {
      barrier.await()
      PinnedRdds.view(spark, dir, "v") {
        builds.incrementAndGet()
        // hold the build open so the second request arrives during it
        Thread.sleep(500)
        PinnedRdds.pinning(spark) { spark.range(10).toDF("id").localCheckpoint() }
      }
    }
    val pool = Executors.newFixedThreadPool(2)
    val results =
      try Seq(pool.submit(request), pool.submit(request)).map(_.get(120, TimeUnit.SECONDS))
      finally pool.shutdown()
    assert(builds.get == 1)
    assert(results(0) eq results(1))
    assert((pinned() -- before).size == 1)
  }

  test("view: a different dir or name builds separately; a failed build memoizes nothing") {
    val dir = freshDir()
    var builds = 0
    def v(d: String, name: String): String =
      PinnedRdds.view(spark, d, name) { builds += 1; s"$d/$name" }
    assert(v(dir, "a") == s"$dir/a")
    assert(v(dir, "a") == s"$dir/a")
    assert(v(dir, "b") == s"$dir/b")
    assert(v(s"$dir-2", "a") == s"$dir-2/a")
    assert(builds == 3)
    intercept[IllegalStateException](
      PinnedRdds.view[Int](spark, dir, "c")(throw new IllegalStateException("boom")))
    assert(PinnedRdds.view(spark, dir, "c")(7) == 7)
  }

  test("view: pinning only the final checkpoint of a 3-round loop leaves one pinned RDD") {
    val dir = freshDir()
    PinnedRdds.dropUnpinned(spark)
    val before = persisted()
    // every round stays referenced until the cleanup: the context tracks
    // persisted RDDs by weak reference, so a garbage-collected round
    // would leave the map without dropUnpinned
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val out = PinnedRdds.view(spark, dir, "loop") {
      rounds += spark.range(100).toDF("id").localCheckpoint()
      for (_ <- 1 to 3) rounds += rounds.last.select((col("id") + 1).as("id")).localCheckpoint()
      PinnedRdds.pinning(spark) { rounds.last.select((col("id") * 2).as("id")).localCheckpoint() }
    }
    assert((persisted() -- before).size == 5) // 4 loop checkpoints + the result
    PinnedRdds.dropUnpinned(spark)
    val left = persisted() -- before
    assert(left.size == 1)
    assert(left.forall(PinnedRdds.isPinned(spark, _)))
    assert(out.agg(org.apache.spark.sql.functions.sum(col("id"))).first().getLong(0) ==
      2L * (0 until 100).map(_ + 3L).sum)
    assert(PinnedRdds.view(spark, dir, "loop")(spark.emptyDataFrame) eq out)
  }
}
