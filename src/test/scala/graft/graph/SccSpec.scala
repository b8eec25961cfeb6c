package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Strongly connected components: the distributed forward–backward
  * min-label peeling must equal the canonical (min-member) labeling —
  * checked against an independent driver-side Tarjan on planted and
  * randomized digraphs, with the driver tail BOTH forced off
  * (driverBytes = 0: the distributed loop runs to empty) and forced on
  * (driverBytes = huge: pure Tarjan path) to pin their identity.
  */
class SccSpec extends SparkSpec {

  private def run(edges: Seq[(Long, Long)], driverBytes: Long): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("gsrc", "gdst")
    val n = e.select(col("gsrc").as("gid"))
      .unionByName(e.select(col("gdst").as("gid"))).distinct()
    Algorithms.stronglyConnectedComponents(n, e, driverBytes = driverBytes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    val adj = edges.filter(e => e._1 != e._2).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).distinct }
    Algorithms.tarjanSccMin(nodes, adj.map { case (k, v) => k -> v.toSeq })
  }

  test("planted: a 3-cycle, a 2-cycle, a chain, and an isolated pair of arcs") {
    // 1→2→3→1 (SCC {1,2,3}), 10⇄11 (SCC {10,11}), 20→21→22 (singletons),
    // 3→10 bridges the cycles one-way
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (10, 11), (11, 10), (20, 21), (21, 22), (3, 10))
    val want = Map[Long, Long](1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L, 22L -> 22L)
    assert(run(edges, driverBytes = 0L) == want)
    assert(run(edges, driverBytes = Long.MaxValue) == want)
  }

  test("distributed path ≡ driver Tarjan on random digraphs (both cutover regimes)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 30 + trial * 20
      val m = n * 3
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val want = reference(edges)
      assert(run(edges, driverBytes = 0L) == want, s"distributed, trial $trial")
      assert(run(edges, driverBytes = Long.MaxValue) == want, s"cutover, trial $trial")
    }
  }

  test("acyclic graph: every node its own SCC") {
    val edges = Seq[(Long, Long)]((1, 2), (1, 3), (2, 4), (3, 4), (4, 5))
    val want = (1L to 5L).map(v => v -> v).toMap
    assert(run(edges, driverBytes = 0L) == want)
  }

  test("one giant cycle settles in a single phase") {
    val n = 40L
    val edges = (1L to n).map(i => (i, i % n + 1))
    val want = (1L to n).map(v => v -> 1L).toMap
    assert(run(edges, driverBytes = 0L) == want)
  }

  test("edge-budget guard: a dense sub-node-bound remainder stays distributed, and the driver collect is remainder-induced") {
    // complete digraph on 56 nodes (3,080 edges) + a 5-node chain:
    // the budget holds 61 node rows (16 B each: gid) and 3,050 edge
    // rows (24 B each: a, b), so the nodes alone fit at ENTRY but nodes
    // plus the 3,084 edges do not — the r8 latent hazard shape, where
    // the old code collected the FULL edge table. Now the loop must run
    // a distributed phase first (settling the dense SCC and the chain
    // head), leaving a 4-node / 3-edge remainder for the driver — the
    // in-loop require asserts the collected set is within budget.
    val dense = for { a <- 100L to 155L; b <- 100L to 155L; if a != b }
      yield (a, b)
    val chain = Seq[(Long, Long)]((1, 2), (2, 3), (3, 4), (4, 5))
    val edges = dense ++ chain
    val want = reference(edges)
    assert(run(edges, driverBytes = 61L * 16 + 3050L * 24) == want,
      "edge-budget-forced phase")
    // plain within-budget cutover unchanged
    assert(run(edges, driverBytes = Long.MaxValue) == want, "immediate cutover")
  }

  private def foldVsRefit(edges: Seq[(Long, Long)], isBase: ((Long, Long)) => Boolean): Unit = {
    import spark.implicits._
    val base = edges.filter(isBase)
    val delta = edges.filterNot(isBase)
    val be = base.toDF("gsrc", "gdst")
    val bn = be.select(col("gsrc").as("gid"))
      .unionByName(be.select(col("gdst").as("gid"))).distinct()
    val baseLabels = Algorithms.stronglyConnectedComponents(bn, be)
      .localCheckpoint()
    val baseDag = be
      .join(baseLabels.select(col("gid").as("gsrc"), col("scc").as("ca")), Seq("gsrc"))
      .join(baseLabels.select(col("gid").as("gdst"), col("scc").as("cb")), Seq("gdst"))
      .filter(col("ca") =!= col("cb"))
      .select(col("ca").as("a"), col("cb").as("b")).distinct()
    val got = Algorithms.sccIncremental(baseLabels, baseDag,
        delta.toDF("gsrc", "gdst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == reference(edges),
      s"fold diverged from refit (|base|=${base.size}, |delta|=${delta.size})")
    // the distributed frontier-sweep path (cutover forced off) computes
    // the identical labeling — both reachability regimes stay covered
    val gotDist = Algorithms.sccIncrementalWithDag(baseLabels, baseDag,
        delta.toDF("gsrc", "gdst"), driverBytes = 0L)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == got, "distributed reachability path diverged")
    // chained folds with DAG maintenance (the s_scc_incr contract):
    // splitting the delta across two sccIncrementalWithDag calls —
    // feeding fold 2 the labels AND condensation fold 1 returned —
    // must land on the same labeling as the one-shot fold
    if (delta.size >= 2) {
      import spark.implicits._
      val (d1, d2) = delta.splitAt(delta.size / 2)
      val (l1, dag1) = Algorithms.sccIncrementalWithDag(baseLabels, baseDag,
        d1.toDF("gsrc", "gdst"))
      val chained = Algorithms.sccIncremental(l1.localCheckpoint(),
          dag1.localCheckpoint(), d2.toDF("gsrc", "gdst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(chained == got,
        s"chained folds diverged (|d1|=${d1.size}, |d2|=${d2.size})")
    }
  }

  test("incremental fold ≡ full refit: planted cycle-closing, DAG-path merge, and delta-only shapes") {
    // base: 1→2→3 chain + SCC {10,11}; delta closes 3→1 (merges 1,2,3),
    // adds a DAG-path merge 20→10 … 11→20 via base path, and a pure
    // delta cycle on unseen nodes 30⇄31
    val base = Seq[(Long, Long)]((1, 2), (2, 3), (10, 11), (11, 10), (11, 20))
    val delta = Seq[(Long, Long)]((3, 1), (20, 10), (30, 31), (31, 30), (3, 30))
    foldVsRefit(base ++ delta, base.contains)
  }

  test("incremental fold ≡ full refit on randomized base/delta splits") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 4) {
      val n = 30 + trial * 15
      val m = n * 3
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      // random ~30% delta; membership decided per edge, deterministically
      foldVsRefit(edges, e => (e._1 * 31 + e._2 * 17) % 10 < 7)
    }
  }

  test("incremental fold with an empty or no-op delta returns the base labeling unchanged") {
    import spark.implicits._
    val base = Seq[(Long, Long)]((1, 2), (2, 1), (2, 3))
    // delta edge inside an existing SCC is a no-op
    foldVsRefit(base :+ (1L, 1L), base.contains)
    val be = base.toDF("gsrc", "gdst")
    val bn = be.select(col("gsrc").as("gid"))
      .unionByName(be.select(col("gdst").as("gid"))).distinct()
    val labels = Algorithms.stronglyConnectedComponents(bn, be).localCheckpoint()
    val empty = Seq.empty[(Long, Long)].toDF("gsrc", "gdst")
    val got = Algorithms.sccIncremental(labels,
        spark.emptyDataFrame.select(lit(0L).as("a"), lit(0L).as("b")).limit(0),
        empty)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == reference(base))
  }
}

/** DAG level sweep used by the condensation face: level(v) = longest
  * path ending at v; the round budget doubles as a cycle detector.
  */
class DagLevelsSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def levels(edges: Seq[(Long, Long)], maxIter: Int = 200): Map[Long, Long] = {
    import spark.implicits._
    val e: DataFrame = edges.toDF("a", "b")
    Algorithms.dagLevels(e, maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("diamond + tail: longest path wins over the short arm") {
    // 1→2→4, 1→3, 3→5→4, 4→6: level(4)=3 via 1-3-5-4, level(6)=4
    val edges = Seq[(Long, Long)]((1, 2), (2, 4), (1, 3), (3, 5), (5, 4), (4, 6))
    assert(levels(edges) == Map(1L -> 0L, 2L -> 1L, 3L -> 1L,
      5L -> 2L, 4L -> 3L, 6L -> 4L))
  }

  test("randomized: levels equal a driver-side longest-path DP on random DAGs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 20
      // random DAG: only forward edges i < j
      val edges = Seq.fill(n * 3) {
        val i = rnd.nextInt(n - 1); val j = i + 1 + rnd.nextInt(n - 1 - i)
        (i.toLong, j.toLong)
      }.distinct
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val byDst = edges.groupBy(_._2)
      val dp = scala.collection.mutable.Map.empty[Long, Long]
      for (v <- nodes) // nodes sorted = topological for forward edges
        dp(v) = byDst.getOrElse(v, Seq.empty)
          .map(e => dp.getOrElse(e._1, 0L) + 1L).foldLeft(0L)(math.max)
      assert(levels(edges) == dp.toMap, s"trial $trial")
    }
  }

  test("cycle input exhausts the round budget and throws") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (3, 1))
    val ex = intercept[Exception](levels(edges, maxIter = 10))
    assert(ex.getMessage.contains("cycle"))
  }
}
