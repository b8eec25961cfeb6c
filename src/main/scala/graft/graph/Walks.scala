package graft.graph

import graft.{Superstep, Width}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derandomized random-walk corpus generation — the DeepWalk/node2vec
  * input step (Perozzi et al. 2014): one fixed-length walk per seed
  * node over the undirected graph, emitted as a path string ready to
  * feed a skip-gram trainer exactly like a text corpus feeds an LM.
  *
  * "Random" is re-expressed as a PURE FUNCTION of (walk_id, step,
  * candidate): each step keeps the neighbor minimizing
  * md5(walk_id:step:neighbor) — per-walk-independent, uniform over the
  * neighbor set, reproducible across runs, engines, and partitionings,
  * and therefore exactly unrollable into a SQL oracle (the same
  * derandomization discipline as the md5 split/sample family).
  *
  * Loop discipline matches [[Algorithms]]: AQE off with the width
  * pinned, the edge list hash-partitioned by source ONCE, the walk
  * state hash-partitioned by walk_id ONCE and preserved by each step's
  * checkpoint ([[graft.Superstep.step]], family tag `walk.step`). Per
  * step only the (walk_id, cur) frontier shuffles — the growing path
  * strings never leave their walk_id partition: the
  * neighbor selection is ONE fused codegen loop over the node-keyed
  * sorted adjacency array ([[graft.functions.WalkPick]]), and the
  * join-back onto the path state is exchange-free on both sides.
  * Dead ends (isolated seeds) carry their path unchanged.
  *
  * Both walk families accept a prepared [[Algorithms.AdjGraph]] so the
  * undirected union/checkpoint they need is the SAME pinned invariant
  * the neighborhood-scoring queries already materialize — a walk query
  * then pays zero per-call derivation of the graph itself.
  */
object Walks {

  /** Node-keyed sorted adjacency arrays at the loop width — the walk
    * families' shared loop invariant (BOTH pick expressions fold over
    * exactly this table): derive once per graph snapshot and pin, like
    * the other materialized invariants. Built from the already-deduped
    * undirected invariant, so collect_set vs collect_list is
    * indifferent and array_sort fixes the fold order the oracles pin.
    */
  def prepareWalkNbrs(g: Algorithms.AdjGraph): DataFrame = {
    val width = Width.forRows(g.und, g.und.count())
    Superstep.scope(g.und, width) {
      g.und.repartition(width, col("a"))
        .groupBy(col("a").as("na"))
        .agg(array_sort(collect_set(col("b"))).as("nbrs"))
        .localCheckpoint()
    }
  }

  /** Uniform walks over the pinned adjacency invariant — skips the
    * per-call undirected-union derivation + checkpoint. Pass the
    * pinned [[prepareWalkNbrs]] table to also skip the per-call
    * array-build aggregation (the preferred deployment shape).
    */
  def randomWalks(g: Algorithms.AdjGraph, nodes: DataFrame, steps: Int): DataFrame =
    uniformLoop(g.und, None, nodes, steps)

  def randomWalks(g: Algorithms.AdjGraph, nbrs: DataFrame, nodes: DataFrame,
      steps: Int): DataFrame =
    uniformLoop(g.und, Some(nbrs), nodes, steps)

  def randomWalks(nodes: DataFrame, edges: DataFrame, steps: Int): DataFrame = {
    val und0 = edges.select(col("gsrc").as("a"), col("gdst").as("b"))
      .unionByName(edges.select(col("gdst").as("a"), col("gsrc").as("b")))
      .localCheckpoint()
    uniformLoop(und0, None, nodes, steps)
  }

  private def uniformLoop(und0: DataFrame, nbrs0: Option[DataFrame],
      nodes: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val width = Width.forRows(und0, und0.count())
    Superstep.scope(und0, width) {
    // node-keyed sorted adjacency arrays: the argmin over N(cur) runs as
    // ONE fused codegen loop over the array per walker per step
    // ([[graft.functions.UniformWalkPick]]) — no candidate-row
    // explosion, no per-step groupBy, and no interpreted higher-order
    // fold (the r6 `aggregate()` formulation was CodegenFallback: ~12M
    // boxed md5 evals per step at sf0.1, a full-run GC liability).
    // The expression keeps the (md5-hex, nb) minimum; collect_set's
    // dedup is pick-invariant (min over a set = min over the multiset).
    val nbrs = nbrs0.getOrElse(
      und0.repartition(width, col("a"))
        .groupBy(col("a").as("na"))
        .agg(array_sort(collect_set(col("b"))).as("nbrs"))
        .localCheckpoint())
    var walks = nodes.select(col("gid").as("walk_id"), col("gid").as("cur"),
        col("gid").cast("string").as("path"))
      .repartition(width, col("walk_id")).localCheckpoint()
    for (step <- 1 to steps) {
      // frontier only: (walk_id, cur) meets the node-keyed array table;
      // the growing path strings never leave their walk_id partition
      val pick = walks.select(col("walk_id"), col("cur"))
        .join(nbrs.hint("shuffle_hash"), col("cur") === col("na"), "left")
        .select(col("walk_id"),
          graft.functions.WalkFunctions
            .uniformWalkPick(col("walk_id"), col("nbrs"), step).as("nb"))
      walks = Superstep.step("walk.step", walks
        .join(pick.hint("shuffle_hash"), Seq("walk_id"))
        .select(col("walk_id"),
          coalesce(col("nb"), col("cur")).as("cur"),
          when(col("nb").isNotNull,
            concat(col("path"), lit("->"), col("nb")))
            .otherwise(col("path")).as("path")))._1
    }
    walks.select(col("walk_id"), col("path"))
    } // scope
  }

  /** node2vec-biased walks (Grover & Leskovec 2016): the same
    * derandomized machinery as [[randomWalks]], but each step picks
    * among neighbors with the p/q search bias — α = 1/p for returning
    * to the previous node, 1 for neighbors of the previous node
    * (BFS-ish), 1/q for everything farther (DFS-ish). The weighted
    * "random" choice is the A-ES key (pow(u, 1/α) maximized, u an
    * md5-derived uniform of (walk_id, step, candidate) — the recipe
    * [[graft.pipeline.Splits.weightedSample]] proves portable), rounded
    * to 9 dp so cross-engine pow ULP can't flip a pick.
    *
    * The second-order "is the candidate adjacent to the PREVIOUS node"
    * test joins the candidate stream against a NODE-keyed table of
    * sorted neighbor arrays on `prev` alone and evaluates
    * `array_contains(nbrs, candidate)` — a node-sized build side. The
    * earlier formulation joined candidates against the FULL edge list
    * on the composite (prev, candidate) key: at 100× scale that is an
    * edge-sized build and the widest shuffle in the repo, where the
    * adjacency-array build is node-sized (the array payload totals the
    * edge count, but it rides a build relation keyed and partitioned by
    * node, built exchange-free from the already-hash(a) edge layout).
    */
  def node2vecWalks(g: Algorithms.AdjGraph, nodes: DataFrame, steps: Int,
      p: Double, q: Double): DataFrame =
    node2vecLoop(g.und, None, nodes, steps, p, q)

  def node2vecWalks(g: Algorithms.AdjGraph, nbrs: DataFrame, nodes: DataFrame,
      steps: Int, p: Double, q: Double): DataFrame =
    node2vecLoop(g.und, Some(nbrs), nodes, steps, p, q)

  def node2vecWalks(nodes: DataFrame, edges: DataFrame, steps: Int,
      p: Double, q: Double): DataFrame = {
    val und0 = edges.select(col("gsrc").as("a"), col("gdst").as("b"))
      .unionByName(edges.select(col("gdst").as("a"), col("gsrc").as("b")))
      .distinct().localCheckpoint()
    node2vecLoop(und0, None, nodes, steps, p, q)
  }

  private def node2vecLoop(und0: DataFrame, nbrs0: Option[DataFrame],
      nodes: DataFrame, steps: Int,
      p: Double, q: Double): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    require(p > 0 && q > 0, "p and q must be positive")
    val width = Width.forRows(und0, und0.count())
    Superstep.scope(und0, width) {
    // node-keyed sorted adjacency arrays are the ONLY graph
    // representation the loop touches: the A-ES argmax over N(cur) runs
    // as ONE fused codegen loop per walker per step
    // ([[graft.functions.Node2vecWalkPick]] — the r6 higher-order fold
    // was CodegenFallback, a full-run GC liability), with the
    // second-order "adjacent to prev" test a binary search against
    // N(prev) CARRIED IN THE WALKER STATE from the previous step (the
    // array was already in hand when the walker stepped — carrying it
    // forward replaces the per-step membership join entirely). Per step:
    // one node-keyed join + one codegen'd pick; no wedge-volume
    // candidate stream, no per-candidate array duplication, no groupBy.
    val nbrs = nbrs0.getOrElse(
      und0.repartition(width, col("a"))
        .groupBy(col("a").as("na"))
        .agg(array_sort(collect_set(col("b"))).as("nbrs"))
        .localCheckpoint())
    var walks = nodes.select(col("gid").as("walk_id"),
        lit(null).cast("long").as("prev"), col("gid").as("cur"),
        col("gid").cast("string").as("path"),
        lit(null).cast("array<bigint>").as("pnbrs"))
      .repartition(width, col("walk_id")).localCheckpoint()
    for (step <- 1 to steps) {
      // frontier (walk_id, prev, cur, pnbrs) meets the array table on
      // cur; path strings never leave their walk_id partition. At step 1
      // prev/pnbrs are null → the uniform 1/q branch, exactly the former
      // composite-join behavior.
      val pick = walks.select(col("walk_id"), col("prev"), col("cur"),
          col("pnbrs"))
        .join(nbrs.hint("shuffle_hash"), col("cur") === col("na"), "left")
        .select(col("walk_id"), col("nbrs"),
          graft.functions.WalkFunctions.node2vecWalkPick(col("walk_id"),
            col("nbrs"), col("pnbrs"), col("prev"), step, p, q).as("nb"))
      walks = Superstep.step("walk.step", walks
        .join(pick.hint("shuffle_hash"), Seq("walk_id"))
        .select(col("walk_id"),
          when(col("nb").isNotNull, col("cur")).otherwise(col("prev"))
            .as("prev"),
          coalesce(col("nb"), col("cur")).as("cur"),
          when(col("nb").isNotNull,
            concat(col("path"), lit("->"), col("nb")))
            .otherwise(col("path")).as("path"),
          when(col("nb").isNotNull, col("nbrs")).otherwise(col("pnbrs"))
            .as("pnbrs")))._1
    }
    walks.select(col("walk_id"), col("path"))
    } // scope
  }
}
