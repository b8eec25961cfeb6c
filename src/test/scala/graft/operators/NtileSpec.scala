package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bit-equality of [[Ntile.distributed]] against the single-partition
  * `ntile(n)` window — the contract that lets q_pareto / q_rfm swap
  * the window out without the oracle noticing. Covers the uneven
  * N mod n regimes, N < n, duplicate sort values under a unique
  * tiebreak, descending orders, and partition counts that force many
  * near-empty range partitions.
  */
class NtileSpec extends SparkSpec {

  private def windowNtile(df: org.apache.spark.sql.DataFrame, n: Int,
      order: Seq[org.apache.spark.sql.Column]) =
    df.withColumn("bucket",
      ntile(n).over(Window.orderBy(order: _*)).cast("long"))

  test("distributed ntile ≡ window ntile on randomized data (all regimes)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for {
      rows <- Seq(3, 10, 37, 101, 1000) // covers N<n, N%n!=0, N%n==0
      n <- Seq(4, 5, 10)
      parts <- Seq(1, 4, 13)
    } {
      // duplicate-heavy value column; id is the unique tiebreak
      val df = (1 to rows).map(i => (i.toLong, rnd.nextInt(7).toLong))
        .toDF("id", "v")
      val order = Seq(col("v").desc, col("id"))
      val got = Ntile.distributed(df, n, order, "bucket", parts)
        .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = windowNtile(df, n, order)
        .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"rows=$rows n=$n parts=$parts")
    }
  }

  test("ascending order with unique keys, n divides N exactly") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, (1000 - i).toLong)).toDF("id", "v")
    val order = Seq(col("v"), col("id"))
    val got = Ntile.distributed(df, 5, order, "b", 7)
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = windowNtile(df, 5, order).withColumnRenamed("bucket", "b")
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // exact split: 20 per quintile
    assert(got.values.groupBy(identity).view.mapValues(_.size).toMap ===
      (1L to 5L).map(_ -> 20).toMap)
  }

  test("the plan is window-free (the single-partition sort is gone)") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, (i % 9).toLong)).toDF("id", "v")
    val out = Ntile.distributed(df, 4, Seq(col("v").desc, col("id")), "b")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"distributed ntile planned a window:\n$plan")
  }

  test("only the range-sorted checkpoint stays persisted: the input copy is freed") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, (i % 9).toLong)).toDF("id", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // held until the assertion: the context tracks persisted RDDs by weak
    // reference, so a collected result could take its checkpoint along
    val out = Ntile.distributed(df, 4, Seq(col("v"), col("id")), "b")
    out.collect()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).size == 1)
    assert(out.count() == 50)
  }
}
