package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-graph exactness for the iterative algorithms (SURVEY §2.3
  * rows 26-30) — the oracle-infeasible half of the graph surface.
  */
class GraphAlgSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def edgeDf(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("gsrc", "gdst")
  }
  private def nodeDf(ids: Long*) = {
    import spark.implicits._
    ids.toDF("gid")
  }

  test("bfs computes min hop distance, bounded") {
    // 1→2→3→4→5 chain plus shortcut 1→4
    val edges = edgeDf(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 1L -> 4L)
    val res = Algorithms.bfs(edges, nodeDf(1L), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(res === Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
  }

  test("bfs respects maxHops") {
    val edges = edgeDf(1L -> 2L, 2L -> 3L)
    val res = Algorithms.bfs(edges, nodeDf(1L), maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(res === Map(1L -> 0, 2L -> 1))
  }

  test("bfsMulti equals one bfs per source") {
    // two chains sharing node 3: 1→2→3→4 and 6→3, plus isolate source 9
    val edges = edgeDf(1L -> 2L, 2L -> 3L, 3L -> 4L, 6L -> 3L)
    val srcs = Seq(1L, 6L, 9L)
    val multi = {
      import spark.implicits._
      Algorithms.bfsMulti(edges, srcs.toDF("src"), maxHops = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    }
    val singles = srcs.flatMap { s =>
      Algorithms.bfs(edges, nodeDf(s), maxHops = 3)
        .collect().map(r => (s, r.getLong(0)) -> r.getInt(1))
    }.toMap
    assert(multi === singles)
  }

  test("bfsMulti sigma counts shortest paths: diamond doubles, longer routes don't") {
    import spark.implicits._
    // diamond 1→{2,3}→4 plus a longer detour 1→5→6→4 that must NOT
    // count toward sigma(4) (it isn't shortest)
    val edges = edgeDf(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L,
      1L -> 5L, 5L -> 6L, 6L -> 4L)
    val res = Algorithms.bfsMulti(edges, Seq(1L).toDF("src"), maxHops = 3)
      .collect().map(r => r.getLong(1) -> (r.getInt(2), r.getLong(3))).toMap
    assert(res === Map(1L -> (0, 1L), 2L -> (1, 1L), 3L -> (1, 1L),
      5L -> (1, 1L), 4L -> (2, 2L), 6L -> (2, 1L)))
  }

  test("betweenness: Brandes hand-check on path and diamond") {
    import spark.implicits._
    // undirected path 1-2-3, seeds {1, 3}: node 2 carries the (1,3)
    // and (3,1) pairs -> bc(2) = 2; endpoints never accumulate
    val p = edgeDf(1L -> 2L, 2L -> 3L)
    val und = p.unionByName(p.select(col("gdst").as("gsrc"), col("gsrc").as("gdst")))
    val fit = Algorithms.bfsMulti(und, Seq(1L, 3L).toDF("src"), maxHops = 3)
    val bc = Algorithms.betweenness(fit, und, maxHop = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bc === Map(2L -> 2.0))
    // directed diamond 1→{2,3}→4 from seed 1: sigma(4)=2 splits the
    // dependency, delta(2) = delta(3) = 1/2
    val dia = edgeDf(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L)
    val dfit = Algorithms.bfsMulti(dia, Seq(1L).toDF("src"), maxHops = 3)
    val dbc = Algorithms.betweenness(dfit, dia, maxHop = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dbc === Map(2L -> 0.5, 3L -> 0.5))
  }

  test("eccentricity from bfsMulti: path-graph ends see the diameter, centers half") {
    import spark.implicits._
    // undirected path 1-2-3-4-5: ecc(1)=4, ecc(3)=2, diameter 4
    val und = edgeDf(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
      .unionByName(edgeDf(2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    val ecc = Algorithms.bfsMulti(und, Seq(1L, 3L).toDF("src"), maxHops = 10)
      .filter(col("hop") > 0)
      .groupBy(col("src")).agg(max(col("hop")).as("ecc"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ecc === Map(1L -> 4, 3L -> 2))
    assert(ecc.values.max === 4) // the diameter_lb the query reports
  }

  test("ssspPaths: dist matches sssp, path witnesses it, ties break lexicographically") {
    import spark.implicits._
    // 1→2→4 (1+1) and 1→3→4 (1+1): equal dist, path [1,2,4] < [1,3,4]
    // 1→5 weight 5 vs 1→2→5 weight 1+1: multi-hop must win
    val edges = Seq(
      (1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 4L, 1.0), (3L, 4L, 1.0),
      (1L, 5L, 5.0), (2L, 5L, 1.0)).toDF("gsrc", "gdst", "w")
    val got = Algorithms.ssspPaths(edges, nodeDf(1L), maxHops = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Long](2).toList))).toMap
    assert(got(4L) === ((2.0, List(1L, 2L, 4L))))
    assert(got(5L) === ((2.0, List(1L, 2L, 5L))))
    assert(got(2L) === ((1.0, List(1L, 2L))))
    // distances agree with the path-free loop on every node
    val plain = Algorithms.sssp(edges, nodeDf(1L), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.view.mapValues(_._1).toMap === plain)
    // every path is a real walk of the claimed weight
    val w = edges.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { case (v, (d, p)) =>
      assert(p.head === 1L && p.last === v)
      assert(p.sliding(2).collect { case Seq(a, b) => w(a -> b) }.sum === d)
    }
  }

  test("k-core peels the tail off a clique-plus-path graph") {
    // K4 on {1,2,3,4} plus a path 4-5-6: the 3-core is exactly the K4
    val edges = edgeDf(
      1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
      4L -> 5L, 5L -> 6L)
    val core3 = Algorithms.kCore(edges, k = 3).collect().map(_.getLong(0)).toSet
    assert(core3 === Set(1L, 2L, 3L, 4L))
    // 1-core keeps everything connected by an edge
    val core1 = Algorithms.kCore(edges, k = 1).collect().map(_.getLong(0)).toSet
    assert(core1 === Set(1L, 2L, 3L, 4L, 5L, 6L))
    // beyond the densest core: empty
    assert(Algorithms.kCore(edges, k = 4).isEmpty)
  }

  test("weighted k-core peels by weighted degree, not edge count") {
    import spark.implicits._
    // triangle {1,2,3} with heavy edges (w=5 each → wdeg 10) plus hub 4
    // attached to all three by light edges (w=1 each → wdeg 3): at
    // minWeight=6 the hub peels even though its plain degree (3) equals
    // the triangle nodes'; after the peel the triangle is stable at 10.
    val wedges = Seq(
      (1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L),
      (1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L)).toDF("gsrc", "gdst", "w")
    val core = Algorithms.kCoreWeighted(wedges, minWeight = 6)
      .collect().map(_.getLong(0)).toSet
    assert(core === Set(1L, 2L, 3L))
    // at minWeight=3 nothing peels; far above the densest wdeg: empty
    val all = Algorithms.kCoreWeighted(wedges, minWeight = 3)
      .collect().map(_.getLong(0)).toSet
    assert(all === Set(1L, 2L, 3L, 4L))
    assert(Algorithms.kCoreWeighted(wedges, minWeight = 11).isEmpty)
    // a cascade: peeling the hub drops a borderline node next round
    // path 5-6 (w=2) hanging off the triangle via 6: 6's wdeg = 2+5;
    val wedges2 = Seq(
      (1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L),
      (3L, 6L, 5L), (5L, 6L, 2L)).toDF("gsrc", "gdst", "w")
    // minWeight=7: 5 peels (wdeg 2), then 6 (5), triangle stable (10)
    val c2 = Algorithms.kCoreWeighted(wedges2, minWeight = 7)
      .collect().map(_.getLong(0)).toSet
    assert(c2 === Set(1L, 2L, 3L))
  }

  test("swing discounts overlapping container pairs and skips the seed") {
    import spark.implicits._
    // containers: u1={A,B}, u2={A,B}, u3={A,C}, u4={A,B,C} (A=1,B=2,C=3)
    val op = Seq(
      (10L, 1L), (10L, 2L),
      (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 3L),
      (40L, 1L), (40L, 2L), (40L, 3L)).toDF("o", "p")
    val seeds = Seq(1L).toDF("p")
    val got = Algorithms.swingFor(op, seeds, alpha = 1.0, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // swing(A,B): pairs (u1,u2) k=2, (u1,u4) k=2, (u2,u4) k=2 → 3·(1/3)
    // swing(A,C): pair (u3,u4) k=2 → 1/3; (u1,u3) etc. share only {A}
    assert(got((1L, 2L)) === ((3L, 0.999999)))
    assert(got((1L, 3L)) === ((1L, 0.333333)))
    assert(got.size === 2)
  }

  test("sssp prefers a lighter multi-hop path and respects the hop bound") {
    import spark.implicits._
    // 1→4 direct costs 10; 1→2→3→4 costs 3; 1→5 only via 4 edges
    val edges = Seq(
      (1L, 4L, 10.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
      (4L, 5L, 1.0)).toDF("gsrc", "gdst", "w")
    val got3 = Algorithms.sssp(edges, Seq(1L).toDF("gid"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got3 === Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0, 4L -> 3.0, 5L -> 11.0))
    // one more hop: 5 now reachable through the cheap path
    val got4 = Algorithms.sssp(edges, Seq(1L).toDF("gid"), maxHops = 4)
    assert(got4.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap.apply(5L) === 4.0)
  }

  test("connected components finds two components and an isolate") {
    // component {1,2,3}, component {10,11}, isolate {20}
    val edges = edgeDf(1L -> 2L, 2L -> 3L, 10L -> 11L)
    val nodes = nodeDf(1L, 2L, 3L, 10L, 11L, 20L)
    val comp = Algorithms.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) === 1L && comp(2L) === 1L && comp(3L) === 1L)
    assert(comp(10L) === 10L && comp(11L) === 10L)
    assert(comp(20L) === 20L)
  }

  test("pagerank sums to 1 and ranks the star center highest") {
    // star: 1,2,3,4 all point at 5
    val edges = edgeDf(1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 5L)
    val nodes = nodeDf(1L, 2L, 3L, 4L, 5L)
    val pr = Algorithms.pageRank(nodes, edges, iters = 15)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    assert(pr(5L) > pr(1L) * 2)
    // leaves are symmetric
    assert(math.abs(pr(1L) - pr(4L)) < 1e-12)
  }

  test("katz matches the driver power series and ranks the star center highest") {
    val edges = edgeDf(1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 5L, 5L -> 1L)
    val nodes = nodeDf(1L, 2L, 3L, 4L, 5L)
    val alpha = 0.1
    val iters = 12
    val got = Algorithms.katz(
        Algorithms.prepareRankGraph(nodes, edges), iters, alpha)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver reference: x_i = 1 + alpha * A^T x_{i-1}, same recurrence
    val adjIn = Map(5L -> Seq(1L, 2L, 3L, 4L), 1L -> Seq(5L))
      .withDefaultValue(Seq.empty)
    var x = Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0, 5L -> 1.0)
    for (_ <- 1 to iters)
      x = x.keys.map(v => v -> (1.0 + alpha * adjIn(v).map(x).sum)).toMap
    got.foreach { case (v, g) => assert(math.abs(g - x(v)) < 1e-12, s"node $v") }
    assert(got(5L) > got(1L) && got(1L) > got(2L))
    assert(got(2L) === got(3L) && got(3L) === got(4L)) // symmetric leaves
  }

  test("weighted label propagation degrades to mode on unit weights and follows the heavy tie") {
    import spark.implicits._
    // path 1-2-3 plus pendant 4 on 2: with unit weights node 2 adopts
    // the lowest frequent neighbor label, exactly the unweighted mode
    val canon = Seq((1L, 2L), (2L, 3L), (2L, 4L))
    val nodes = nodeDf(1L, 2L, 3L, 4L)
    val unit = canon.toDF("gsrc", "gdst").select(col("gsrc"), col("gdst"),
      lit(1L).as("w"))
    val classic = Algorithms.labelPropagation(nodes,
        canon.toDF("gsrc", "gdst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaW = Algorithms.labelPropagationWeighted(nodes, unit, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaW === classic)
    // weight 3-2 heavily: node 2's first-round vote must follow label 3
    // (9) over the lighter 1+4 mass (2) despite 1 being the lowest label
    val skew = Seq((1L, 2L, 1L), (2L, 3L, 9L), (2L, 4L, 1L))
      .toDF("gsrc", "gdst", "w")
    val one = Algorithms.labelPropagationWeighted(nodes, skew, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(2L) === 3L, one.toString)
  }

  test("weighted pagerank degrades to classic on unit weights and follows the heavy edge") {
    import spark.implicits._
    val edges = edgeDf(1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 5L, 5L -> 1L, 5L -> 2L)
    val nodes = nodeDf(1L, 2L, 3L, 4L, 5L)
    // unit weights: weighted frac = 1/outdeg exactly — results identical
    val unit = edges.select(col("gsrc"), col("gdst"), lit(1.0).as("w"))
    val classic = Algorithms.pageRank(nodes, edges, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaW = Algorithms.weightedPageRank(nodes, unit, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    classic.foreach { case (gid, pr) =>
      assert(math.abs(viaW(gid) - pr) < 1e-12, s"gid $gid") }
    // skew 5's mass toward node 1 (weight 9 vs 1): rank must follow
    val skew = Seq((1L, 5L, 1.0), (2L, 5L, 1.0), (3L, 5L, 1.0), (4L, 5L, 1.0),
      (5L, 1L, 9.0), (5L, 2L, 1.0)).toDF("gsrc", "gdst", "w")
    val wpr = Algorithms.weightedPageRank(nodes, skew, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(wpr.values.sum - 1.0) < 1e-6)
    assert(wpr(1L) > wpr(2L) * 2, s"${wpr(1L)} vs ${wpr(2L)}")
  }

  test("hits matches a driver power iteration and ranks the shared target highest") {
    // three hubs point at 5, only hub 1 also points at 4 (asymmetric:
    // 5 must out-authority 4, and 1 — pointing at both — out-hubs 2,3)
    val edges = Seq(1L -> 5L, 2L -> 5L, 3L -> 5L, 1L -> 4L)
    val nodes = 1L to 5L
    val g = Algorithms.prepareRankGraph(
      nodeDf(nodes: _*), edgeDf(edges: _*))
    val got = Algorithms.hits(g, iters = 8)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // driver model: same recurrence — unnormalized rounds (norms factor
    // out of the linear recurrence), final auth off the final hub state,
    // one L1 normalization at the end
    var hub = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to 8) {
      val aRaw = nodes.map(v => v -> edges.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
      hub = nodes.map(u => u -> edges.filter(_._1 == u).map(e => aRaw(e._2)).sum).toMap
    }
    val aRaw = nodes.map(v => v -> edges.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
    val aN = math.max(aRaw.values.sum, Double.MinPositiveValue)
    val hN = math.max(hub.values.sum, Double.MinPositiveValue)
    val auth = aRaw.view.mapValues(_ / aN).toMap
    hub = hub.view.mapValues(_ / hN).toMap
    nodes.foreach { v =>
      assert(math.abs(got(v)._1 - auth(v)) < 1e-9, s"auth($v)")
      assert(math.abs(got(v)._2 - hub(v)) < 1e-9, s"hub($v)")
    }
    // structure: 5 (in-degree from both strong hubs) out-ranks 4; hub 1
    // (points at both authorities) out-ranks hubs 2 and 3
    assert(got(5L)._1 > got(4L)._1)
    assert(got(1L)._2 > got(2L)._2 && got(1L)._2 > got(3L)._2)
    // L1 invariants: each phase is normalized
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("triangle count on K4 is 4 regardless of orientation/duplicates") {
    val edges = edgeDf(
      1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
      2L -> 1L, 3L -> 1L) // reversed dups must not double-count
    val n = Algorithms.triangleCount(edges).collect()(0).getLong(0)
    assert(n === 4L)
  }

  test("clustering coefficient: K4 corners are closed, a pendant dilutes its anchor") {
    // K4 on 1-4 plus pendant 5-1
    val edges = edgeDf(
      1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L, 5L -> 1L)
    val got = Algorithms.clusteringCoefficient(edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // pure K4 corners: deg 3, 3 triangles, cc = 2·3/(3·2) = 1
    Seq(2L, 3L, 4L).foreach(v => assert(got(v) === ((3L, 3L, 1.0)), s"node $v"))
    // node 1 gains the pendant: deg 4, still 3 triangles → 6/12
    assert(got(1L) === ((4L, 3L, 0.5)))
    // the pendant itself: deg 1, no triangles, cc 0
    assert(got(5L) === ((1L, 0L, 0.0)))
  }

  test("k-truss peels bridges and triangles but keeps cliques") {
    // two disjoint K4s (1-4, 11-14) joined by a bridge 4-11, plus a
    // dangling triangle 21-22-23 hanging off node 1 via 21-1
    val edges = edgeDf(
      1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
      11L -> 12L, 11L -> 13L, 11L -> 14L, 12L -> 13L, 12L -> 14L, 13L -> 14L,
      4L -> 11L, 21L -> 22L, 22L -> 23L, 23L -> 21L, 21L -> 1L)
    def trussEdges(k: Int): Set[(Long, Long)] =
      Algorithms.kTruss(edges, k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val k4edges = Set(
      1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
      11L -> 12L, 11L -> 13L, 11L -> 14L, 12L -> 13L, 12L -> 14L, 13L -> 14L)
    // k=4: every K4 edge sits in 2 triangles among survivors; the
    // bridge (0 triangles), the pendant, and the lone triangle (1) peel
    assert(trussEdges(4) === k4edges)
    // k=3: the triangle survives too (each edge in 1 triangle)
    assert(trussEdges(3) === k4edges ++ Set(21L -> 22L, 22L -> 23L, 21L -> 23L))
    // k high enough empties the graph
    assert(trussEdges(6) === Set.empty)
  }

  test("co-partitioned (large-state) path matches the broadcast path") {
    // force the shuffle-hash loop the bench only exercises at scale:
    // with broadcastBytes = 0 every loop takes the co-partitioned
    // branch, with Long.MaxValue the broadcast one; results must be
    // identical for every loop that has both formulations
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val nodes = nodeDf(1L to 60L: _*)
    val pairs = Seq.fill(120)((rnd.nextInt(60) + 1L, rnd.nextInt(60) + 1L))
      .filter(p => p._1 != p._2)
    val edges = edgeDf(pairs: _*)
    // (broadcast, shuffle-hash) joins in the tapped round plans: proves
    // each bound really switched the formulation
    def joins[T](body: => T): (T, (Int, Int)) = {
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
      val plans = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.execution.SparkPlan]
      graft.PlanAudit.hook = (_, qe) => plans.synchronized { plans += qe.executedPlan }
      val out = try body finally graft.PlanAudit.hook = null
      val ops = plans.synchronized(plans.toList).flatMap(_.collect { case p => p })
      (out, (ops.count(_.isInstanceOf[BroadcastHashJoinExec]),
        ops.count(_.isInstanceOf[ShuffledHashJoinExec])))
    }
    def both[T](body: Long => T): Unit = {
      val (co, (coB, coS)) = joins(body(0L))
      val (bc, (bcB, bcS)) = joins(body(Long.MaxValue))
      assert(co === bc)
      assert(bcB > coB && coS > bcS, s"co ($coB, $coS) vs broadcast ($bcB, $bcS)")
    }
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    both(b => pairSet(Algorithms.connectedComponents(nodes, edges,
      driverBytes = 0L, broadcastBytes = b)))
    // SCC's minLabel fixpoint: driver tail off, so every phase loops
    both(b => pairSet(Algorithms.stronglyConnectedComponents(nodes, edges,
      driverBytes = 0L, broadcastBytes = b)))
    // dagLevels over the acyclic orientation of the same edges
    val dag = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("a", "b")
    both(b => pairSet(Algorithms.dagLevels(dag, broadcastBytes = b)))
    val temporal = pairs.zipWithIndex
      .map { case ((a, b), i) => (a, b, (i % 17).toLong) }.toDF("a", "b", "tsec")
      .select(col("a"), col("b"), timestamp_seconds(col("tsec")).as("t"))
    both(b => Algorithms.temporalEarliestArrival(temporal, nodeDf(1L, 2L),
        timestamp_seconds(lit(0L)), broadcastBytes = b)
      .select(col("gid"), unix_timestamp(col("arr"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    both(b => pairSet(Algorithms.louvain(nodes, edges, broadcastBytes = b)))
  }

  test("adamic-adar scores non-adjacent pairs by hub-discounted common neighbors") {
    // square 1-2-3-4-1: the two diagonals are the only non-adjacent
    // pairs, each with common neighbors {the other two}, all degree 2
    val square = edgeDf(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    val res = Algorithms.adamicAdar(square, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val expected = BigDecimal(2.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(res.keySet === Set((1L, 3L), (2L, 4L)))
    assert(res((1L, 3L)) === ((expected, 2L)))
    assert(res((2L, 4L)) === ((expected, 2L)))
  }

  test("seed-anchored adamic-adar scores only pairs whose first endpoint is a seed") {
    val square = edgeDf(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    val res = Algorithms.adamicAdarFor(square, nodeDf(1L), topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val expected = BigDecimal(2.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(res === Map((1L, 3L) -> ((expected, 2L))))
  }

  test("adamic-adar maxCenterDegree drops hub-mediated wedges") {
    // star: center 0 (degree 3) is the only wedge center
    val star = edgeDf(0L -> 1L, 0L -> 2L, 0L -> 3L)
    assert(Algorithms.adamicAdar(star, topK = 10).count() === 3L)
    assert(Algorithms.adamicAdar(star, topK = 10, maxCenterDegree = 2L).count() === 0L)
  }

  test("label propagation converges on two cliques joined by one edge") {
    // cliques {1,2,3} and {11,12,13} with a bridge 3-11
    val cliq = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 11L -> 12L, 11L -> 13L, 12L -> 13L, 3L -> 11L)
    val labels = Algorithms.labelPropagation(nodeDf(1L, 2L, 3L, 11L, 12L, 13L), edgeDf(cliq: _*), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) === labels(2L))
    assert(labels(12L) === labels(13L))
  }

  test("HyperANF neighborhood function tracks exact ball sums (small-ball exact regime) and hop-0 identity") {
    // chain 1-2-3-4-5 (undirected balls): N(0)=5, N(1)=5+2*4-2... computed
    // directly by a driver BFS below rather than by hand
    import scala.util.Random
    (601 to 606).foreach { seed =>
      val rnd = new Random(seed)
      val n = 4 + rnd.nextInt(9)
      val nodes = (0L until n.toLong).toSeq
      val m = rnd.nextInt(3 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val simple = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.toSet
      val nbrs = nodes.map(v => v -> simple.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }.toSet).toMap
      def ball(v: Long, h: Int): Set[Long] = {
        var s = Set(v)
        (1 to h).foreach(_ => s = s ++ s.flatMap(nbrs))
        s
      }
      val maxH = 3
      val exact = (0 to maxH).map(h => nodes.map(v => ball(v, h).size.toLong).sum)
      import spark.implicits._
      val ndf = nodes.toDF("gid")
      val edf =
        if (edges.isEmpty) Seq((0L, 0L)).toDF("gsrc", "gdst").limit(0)
        else edges.toDF("gsrc", "gdst")
      val got = Algorithms.neighborhoodFunction(ndf, edf, maxHops = maxH)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      (0 to maxH).foreach { h =>
        // balls of ≤ 12 nodes sit in the sketch's exact coupon regime
        assert(got(h) === exact(h),
          s"seed=$seed hop=$h got=${got(h)} exact=${exact(h)}")
      }
    }
  }
}
