package graft

import org.apache.spark.sql.execution.QueryExecution

/** Per-round plan hygiene for the iterative loop families (rank / peel /
  * frontier / stream-fold / drain / walk) — the faces the global PlanShapeSpec sweep
  * excludes because their CONSTRUCTORS run the loops. The loops already
  * checkpoint a representative DataFrame per round; [[PlanAudit.tap]]
  * hands those QueryExecutions out, and this spec runs the same
  * structural walker ([[PlanWalk]]) over every captured round: no
  * product join (modulo the one-row-aggregate exemption), no full-width
  * wide-table scan. A de-optimized Spark upgrade that degrades a loop
  * join to a cartesian — or un-prunes a scan feeding a loop — fails
  * here by family even though the face-level result stays correct.
  */
class LoopBodyPlanSpec extends SparkSpec with PlanWalk {

  private def captured(run: => Unit): Seq[(String, QueryExecution)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, QueryExecution)]
    PlanAudit.hook = (t, qe) => buf.synchronized { buf += ((t, qe)) }
    try run finally PlanAudit.hook = null
    buf.synchronized(buf.toList)
  }

  private def assertClean(family: String,
      rounds: Seq[(String, QueryExecution)]): Unit = {
    assert(rounds.nonEmpty, s"$family: no round plans captured — tap lost")
    for ((tag, qe) <- rounds) {
      val plan = qe.executedPlan
      val bad = productOffenders(plan) ++ unprunedScans(plan)
      assert(bad.isEmpty, s"$tag round plan offends: $bad\n$plan")
    }
    info(s"$family: ${rounds.size} round plans walked, clean")
  }

  test("rank family: every pagerank round plan is product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.gPagerank(spark, sf()).collect() }
    assertClean("rank", rounds.filter(_._1 == "rank.round"))
  }

  test("peel family: every k-core contraction plan is product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.gKcore(spark, sf()).collect() }
    assertClean("peel", rounds.filter(_._1 == "peel.contract"))
  }

  test("frontier family: every CC round plan is product-free and pruned") {
    // r13: small graphs take the driver union-find cutover (no loop
    // rounds to tap) — force the distributed loop for the plan walk via
    // the threaded cutover parameter (gCcLoop), not a global sys.props
    // mutation that would leak into concurrently running suites
    val rounds = captured {
      queries.GraphOps.gCcLoop(spark, sf()).collect()
    }
    assertClean("frontier", rounds.filter(_._1 == "frontier.round"))
  }

  test("stream-fold family: every per-trigger incremental fold plan is product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.sCcIncr(spark, sf()).collect() }
    assertClean("stream-fold", rounds.filter(_._1 == "stream.fold"))
  }

  test("stream-fold family: every DBSCAN density-fold plan is product-free and pruned") {
    val rounds = captured {
      queries.Pipeline.sDbscanIncr(spark, sf()).collect() }
    assertClean("stream-fold(dbscan)", rounds.filter(_._1 == "stream.fold"))
  }

  test("stream-fold family: k-core maintenance reach/peel round plans are product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.sKcoreIncr(spark, sf()).collect() }
    assertClean("stream-fold(kcore)", rounds.filter(t =>
      t._1 == "frontier.round" || t._1 == "peel.contract"))
  }

  test("stream-fold family: truss maintenance reach/peel round plans are product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.sTrussIncr(spark, sf()).collect() }
    assertClean("stream-fold(truss)", rounds.filter(t =>
      t._1 == "frontier.round" || t._1 == "peel.contract"))
  }

  test("drain family: triangle inclusion-exclusion drain plan is product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.sTrianglesIncr(spark, sf()).collect() }
    assertClean("drain(triangles)", rounds.filter(_._1 == "drain.fold"))
  }

  test("drain family: Katz drain re-bake plans are product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.sKatzIncr(spark, sf()).collect() }
    assertClean("drain(katz)", rounds.filter(_._1 == "drain.fold"))
  }

  test("drain family: weighted-rank drain re-bake plans are product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.sPagerankWIncr(spark, sf()).collect() }
    assertClean("drain(pagerank_w)", rounds.filter(_._1 == "drain.fold"))
  }

  test("frontier family: every BFS hop plan is product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.gBfs(spark, sf()).collect() }
    assertClean("frontier(bfs)", rounds.filter(_._1 == "frontier.round"))
  }

  test("frontier family: every SSSP relaxation plan is product-free and pruned") {
    // the fit is a per-session view: this is its only caller in the
    // suite, so the loop runs here
    val rounds = captured {
      queries.GraphOps.gSssp(spark, sf()).collect() }
    assertClean("frontier(sssp)", rounds.filter(_._1 == "frontier.round"))
  }

  test("peel family: every MIS selection and contraction plan is product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.gMis(spark, sf()).collect() }
    assertClean("peel(mis)", rounds.filter(_._1 == "peel.contract"))
  }

  test("peel family: every coloring conflict and contraction plan is product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.gColoring(spark, sf()).collect() }
    assertClean("peel(coloring)", rounds.filter(_._1 == "peel.contract"))
  }

  test("peel family: every k-truss support peel plan is product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.gTruss(spark, sf()).collect() }
    assertClean("peel(truss)", rounds.filter(_._1 == "peel.contract"))
  }

  test("rank family: every Katz and HITS round plan is product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.gKatz(spark, sf()).collect()
      queries.GraphOps.gHits(spark, sf()).collect()
    }
    // 8 rounds each
    assertClean("rank(katz, hits)", rounds.filter(_._1 == "rank.round"))
  }

  test("frontier family: every ANF hop and label-propagation round plan is product-free and pruned") {
    // the faces read per-session pinned fits, so call the loops directly
    // over the same co-purchase graph: the rounds run here
    import org.apache.spark.sql.functions._
    val (nodes, edges) = queries.GraphOps.copurchaseGraph(spark, sf())
    val weighted = edges.select(col("gsrc"), col("gdst"), lit(1L).as("w"))
      .filter(col("gsrc") < col("gdst"))
    val rounds = captured {
      graph.Algorithms.neighborhoodFunction(nodes, edges, maxHops = 3).collect()
      graph.Algorithms.labelPropagation(nodes, edges, iters = 3).collect()
      graph.Algorithms.labelPropagationWeighted(nodes, weighted, iters = 3).collect()
    }
    assertClean("frontier(anf, label prop)", rounds.filter(_._1 == "frontier.round"))
  }

  test("walk family: every uniform and node2vec walk step plan is product-free and pruned") {
    val rounds = captured {
      queries.GraphOps.gRandomWalks(spark, sf()).collect()
      queries.GraphOps.gNode2vec(spark, sf()).collect()
    }
    assertClean("walk", rounds.filter(_._1 == "walk.step"))
  }

  test("tap self-test: a planted cartesian seen through the tap is reported") {
    // proves the tap → walker path is awake: if productOffenders went
    // vacuous (or the hook stopped capturing), this offender would
    // pass silently and so would every family above
    val rounds = captured {
      val a = spark.range(5).toDF("x")
      val b = spark.range(4).toDF("y")
      PlanAudit.tap("selftest", a.crossJoin(b)).collect()
      ()
    }
    val planted = rounds.filter(_._1 == "selftest")
    assert(planted.nonEmpty, "tap lost — hook not capturing")
    val offenders = planted.flatMap(t => productOffenders(t._2.executedPlan))
    assert(offenders.nonEmpty,
      "walker failed to report a planted cartesian through the tap")
  }
}
