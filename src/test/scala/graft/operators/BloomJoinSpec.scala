package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BloomJoinSpec extends SparkSpec with graft.TempDirs {

  private def factDim() = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // fact keys span 0..999; dim holds a sparse 10% subset, so most fact
    // rows are prunable and some bloom false positives are inevitable at
    // the tiny bit budget used below
    val fact = (1 to 5000).map(i => (i.toLong, rnd.nextInt(1000).toLong))
      .toDF("row_id", "k").repartition(7)
    val dim = rnd.shuffle((0 until 1000).toList).take(100)
      .map(k => (k.toLong, s"dim$k")).toDF("dk", "payload")
    (fact, dim)
  }

  test("semiJoin is bit-equal to the plain left_semi join") {
    val (fact, dim) = factDim()
    val got = BloomJoin.semiJoin(fact, dim, "k", "dk", expectedItems = 100L)
      .select("row_id").collect().map(_.getLong(0)).sorted
    val want = fact.join(dim, fact("k") === dim("dk"), "left_semi")
      .select("row_id").collect().map(_.getLong(0)).sorted
    assert(got.length > 0 && got.toSeq === want.toSeq)
  }

  test("antiJoin is bit-equal to the plain left_anti join, nulls kept") {
    import spark.implicits._
    val (fact0, dim) = factDim()
    // anti joins KEEP null-key rows (null matches nothing); the bloom
    // route must agree even though might_contain(null) is NULL
    val fact = fact0.unionAll(
      Seq((90001L, Option.empty[Long]), (90002L, Option.empty[Long]))
        .toDF("row_id", "k"))
    val got = BloomJoin.antiJoin(fact, dim, "k", "dk", expectedItems = 100L)
      .select("row_id").collect().map(_.getLong(0)).sorted
    val want = fact.join(dim, fact("k") === dim("dk"), "left_anti")
      .select("row_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === want.toSeq)
    assert(got.contains(90001L) && got.contains(90002L))
  }

  test("false positives exist at a tight bit budget yet never leak to output") {
    val (fact, dim) = factDim()
    // 64 bits for 100 keys: the filter saturates, nearly everything
    // "might" match — the exact second join must still be the arbiter
    val bf = BloomJoin.build(dim, "dk", expectedItems = 100L, fpp = 0.99)
    val pruned = fact.filter(BloomJoin.mightContain(bf, col("k"))).count()
    val exact = fact.join(dim, fact("k") === dim("dk"), "left_semi").count()
    assert(pruned > exact, "expected bloom false positives at fpp=0.99")
    val got = BloomJoin.semiJoin(fact, dim, "k", "dk",
      expectedItems = 100L, fpp = 0.99).count()
    assert(got === exact)
  }

  test("the bloom probe prunes in the fact scan stage, below the join") {
    // parquet-backed fact: over a LocalRelation the optimizer folds the
    // probe filter away at plan time (ConvertToLocalRelation), hiding
    // the plan shape this test pins
    val (fact0, dim) = factDim()
    val dir = tempDir("bloomjoin").toString
    fact0.write.mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    val plan = BloomJoin.semiJoin(fact, dim, "k", "dk", expectedItems = 100L)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("LeftSemi"), plan)
    // the probe filter is a CHILD of the join (deeper in the printed
    // tree): fact rows die in the scan stage, before any join exchange
    val lines = plan.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("LeftSemi"))
    val probeIdx = lines.indexWhere(_.contains("might_contain"))
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe should sit under the join in the printed tree:\n$plan")
  }

  test("antiJoin emits null-key fact rows exactly once even when the dim holds a NULL key") {
    import spark.implicits._
    // xxhash64 is non-nullable (NULL hashes to the seed), so a NULL dim
    // key guarantees might_contain(NULL fact key) = true — the shape
    // that double-emitted null-key rows before the exclusive partition
    val (fact0, dim0) = factDim()
    val fact = fact0.unionAll(
      Seq((90001L, Option.empty[Long])).toDF("row_id", "k"))
    val dim = dim0.unionAll(
      Seq((Option.empty[Long], "dimnull")).toDF("dk", "payload"))
    val got = BloomJoin.antiJoin(fact, dim, "k", "dk", expectedItems = 100L)
      .select("row_id").collect().map(_.getLong(0)).sorted
    val want = fact.join(dim, fact("k") === dim("dk"), "left_anti")
      .select("row_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === want.toSeq)
    assert(got.count(_ == 90001L) === 1)
  }

  test("empty dim: semiJoin returns nothing, antiJoin returns every fact row") {
    import spark.implicits._
    val (fact, dim) = factDim()
    val empty = dim.filter(lit(false))
    // BloomFilterAggregate yields NULL over zero rows; both faces must
    // match the plain joins rather than probe a null filter literal
    assert(BloomJoin.semiJoin(fact, empty, "k", "dk", 100L).count() === 0L)
    val got = BloomJoin.antiJoin(fact, empty, "k", "dk", 100L).count()
    assert(got === fact.count())
  }

  test("filter size is fixed by the bit budget, not dim cardinality") {
    import spark.implicits._
    val small = (0 until 50).map(_.toLong).toDF("dk")
    val large = (0 until 5000).map(_.toLong).toDF("dk")
    val a = BloomJoin.build(small, "dk", expectedItems = 10000L).length
    val b = BloomJoin.build(large, "dk", expectedItems = 10000L).length
    // same expectedItems → same serialized size (± header bytes)
    assert(math.abs(a - b) <= 16, s"$a vs $b")
  }
}
