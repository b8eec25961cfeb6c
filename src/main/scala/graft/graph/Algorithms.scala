package graft.graph

import graft.{Superstep, Width}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LoopCheckpoint

/** Distributed graph algorithms over (gsrc, gdst) edge DataFrames.
  *
  * All loops are DataFrame-iterative: each round is one lazy plan that
  * [[Superstep.step]] taps, checkpoints (truncating lineage: a
  * 100-iteration lazy chain would blow up the Catalyst plan) and
  * observes, so a convergence count rides the checkpoint job. Where the
  * state lives, on the driver, broadcast or co-partitioned, is decided
  * by Superstep's two byte bounds, passed in as `driverBytes` and
  * `broadcastBytes`. The reference computes none of these (its MATCH
  * stops at property filters), but they are the analytics payoff of
  * holding the graph in Spark.
  */
object Algorithms {

  /** Checkpointed loop state is a `LogicalRDD` — Catalyst has no stats
    * for it, so every join against it plans sort-merge. The driver DOES
    * know the exact row count (loops track it anyway for convergence),
    * so hint broadcast when the state side is provably small and let the
    * join fall back to shuffle strategies past the bound. 5M rows of
    * (long, long/double) ≈ 120 MB build side — safe on any executor
    * sized for 100 TB work.
    */
  private val BroadcastRowBound = 5000000L

  private def hintSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastRowBound) broadcast(df) else df

  /** The label loops' convergence scalar, observed by [[Superstep.step]]:
    * how many rows of the round changed their `changed`-flagged label. */
  private def changedRows: Column = coalesce(sum(col("changed").cast("long")), lit(0L))

  /** The driver tail of the min-label loops (CC, `ccIncremental`, the
    * MSF contraction): collect the (long, long) edge frame `e` and run a
    * min-root union-find over it, returning (gid, comp) for every
    * endpoint. Union points the larger root at the smaller, so each root
    * IS the component minimum: the exact min-label fixpoint. The find is
    * iterative: union-by-value has no depth bound (a sorted path-shaped
    * edge order builds an O(n) chain), and a recursive walk at the
    * driver budget can overflow a thread stack (streaming foreachBatch
    * threads have ~1 MB), so it walks to the root first, then compresses
    * the path in a second pass.
    */
  private def minRootFrame(e: DataFrame): DataFrame = {
    val es = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(v: Long): Long = {
      var r = v
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = v
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    e.sparkSession.createDataFrame(es.iterator.flatMap { case (a, b) => Iterator(a, b) }
      .toSeq.distinct.map(v => (v, find(v)))).toDF("gid", "comp")
  }

  /** Collect a (src, dst) long edge frame into a driver adjacency map —
    * the straggler tails' bounded driver state. */
  private def collectAdj(e: DataFrame)
      : scala.collection.mutable.Map[Long, scala.collection.mutable.ArrayBuffer[Long]] = {
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    e.collect().foreach { r =>
      adj.getOrElseUpdate(r.getLong(0),
        scala.collection.mutable.ArrayBuffer.empty) += r.getLong(1)
    }
    adj
  }

  /** The state side of a loop join: broadcast when the state fits
    * [[Superstep.BroadcastBytes]] (`small`), else shuffle-hash over the
    * co-partitioned layout. */
  private def stateHint(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df.hint("shuffle_hash")

  /** Cap the partition count of loop-invariant state at cluster width.
    * Upstream unions of fanned-out scans can arrive with hundreds of
    * partitions; every loop iteration then schedules that many tasks per
    * stage, and fixed per-task cost dwarfs the per-row work.
    * Unconditional `coalesce` — it only ever merges (a plan already at
    * or below the target is untouched), needs no shuffle, and avoids
    * probing `df.rdd.getNumPartitions`, which under AQE executes the
    * whole upstream plan just to learn the count.
    */
  private def capParts(df: DataFrame): DataFrame =
    df.coalesce(Width.cluster(df.sparkSession))

  /** Materialize a loop-invariant input once — UNLESS it is already a
    * cheap view over materialized state (projections/filters on a
    * checkpointed `LogicalRDD`, e.g. a pinned materialized view), in
    * which case re-checkpointing would copy the whole table again for
    * nothing.
    */
  private def materializeInvariant(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    def cheap(p: LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case pr: Project => cheap(pr.child)
      case f: Filter => cheap(f.child)
      case _ => false
    }
    if (cheap(df.queryExecution.optimizedPlan)) capParts(df)
    else capParts(df).localCheckpoint()
  }

  /** Hop distance from a seed set by frontier BFS over a directed edge
    * list (pass an undirected graph as edges ∪ reversed edges). Returns
    * (gid, hop) with the minimum hop per reached node. Each iteration is
    * one shuffle: frontier ⋈ edges, minus visited.
    */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    // loop-invariant: materialize once (with AQE — edge derivations can
    // be arbitrary join trees), not re-derived from source per hop
    val e0 = materializeInvariant(edges.select(col("gsrc"), col("gdst")))
    val width = Width.forRows(edges, e0.count())
    val e = e0.coalesce(width)
    var visited = seeds.select(col("gid"), lit(0).as("hop")).localCheckpoint()
    var visitedRows = visited.count()
    var frontier = visited.select("gid")
    var frontierRows = visitedRows
    var hop = 0
    Superstep.scope(edges, width) { while (hop < maxHops && frontierRows > 0) {
      hop += 1
      // one checkpoint + one action per hop: `next` is the only new
      // state; `visited` stays a shallow union of ≤ maxHops checkpointed
      // frontiers, so it needs no materialization of its own
      // frontier size observed during the checkpoint job: one job per
      // hop, not two
      val (next, m) = Superstep.step("frontier.round", hintSmall(frontier, frontierRows)
        .join(e, frontier("gid") === e("gsrc"))
        .select(e("gdst").as("gid")).distinct()
        .join(hintSmall(visited.select(col("gid").as("v")), visitedRows),
          col("gid") === col("v"), "left_anti")
        .withColumn("hop", lit(hop)))
      frontierRows = m.getLong(0)
      visitedRows += frontierRows
      visited = visited.unionByName(next)
      frontier = next.select("gid")
    } }
    visited
  }

  /** Multi-source labeled BFS: per-(source, node) hop distances, state
    * keyed by the pair so each source's wavefront expands independently
    * in the SAME per-hop shuffle (one frontier ⋈ edges join per hop, not
    * one per source — the batched form sampled-centrality estimators
    * need). State volume is bounded by |seeds| × |reachable|, the
    * quantity the caller chose by picking the sample size.
    *
    * Also counts shortest paths: `sigma(src, v)` = number of minimum-hop
    * paths from `src` to `v`, accumulated in the same sweep (a node
    * first reached at hop h receives Σ sigma over its hop-(h−1)
    * predecessors — the frontier IS exactly the hop-(h−1) set, so one
    * groupBy per hop computes it; the path counter every sampled
    * betweenness/stress estimator needs, and it is cap-invariant:
    * extending `maxHops` never changes sigma at distances already
    * reached). `edges` must be deduplicated — a repeated (gsrc, gdst)
    * row would double-count paths (all callers pass deduped unions).
    *
    * @param seeds (src) source ids; each starts at hop 0 from itself
    * @return (src, gid, hop, sigma) minimum hops + shortest-path counts
    */
  def bfsMulti(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val e0 = materializeInvariant(edges.select(col("gsrc"), col("gdst")))
    val width = Width.forRows(edges, e0.count())
    val e = e0.coalesce(width)
    var visited = seeds.select(col("src"), col("src").as("gid"), lit(0).as("hop"),
        lit(1L).as("sigma"))
      .localCheckpoint()
    var visitedRows = visited.count()
    var frontier = visited.select(col("src"), col("gid"), col("sigma"))
    var frontierRows = visitedRows
    var hop = 0
    Superstep.scope(edges, width) { while (hop < maxHops && frontierRows > 0) {
      hop += 1
      // sum-then-anti-join: every contribution comes from the hop-(h-1)
      // frontier, so the grouped sigma is correct for nodes that turn
      // out to be new; rediscovered nodes drop with their sums
      val (next, m) = Superstep.step("frontier.round", hintSmall(frontier, frontierRows)
        .join(e, frontier("gid") === e("gsrc"))
        .select(frontier("src"), e("gdst").as("gid"), frontier("sigma"))
        .groupBy(col("src"), col("gid")).agg(sum(col("sigma")).as("sigma"))
        .join(hintSmall(visited.select(col("src").as("vs"), col("gid").as("vg")),
            visitedRows),
          col("src") === col("vs") && col("gid") === col("vg"), "left_anti")
        .withColumn("hop", lit(hop))
        .select(col("src"), col("gid"), col("hop"), col("sigma")))
      frontierRows = m.getLong(0)
      visitedRows += frontierRows
      visited = visited.unionByName(next)
      frontier = next.select(col("src"), col("gid"), col("sigma"))
    } }
    visited
  }

  /** Hop-bounded sampled betweenness (Brandes 2001, k-source): the
    * backward dependency accumulation over a σ-carrying [[bfsMulti]]
    * fit. δ_s(v) = Σ_{w ∈ succ_s(v)} σ_sv/σ_sw · (1 + δ_s(w)),
    * accumulated level by level in descending hop order — per level ONE
    * join of the (seed-bounded) level table against edges and the
    * already-computed deeper deltas, never per-source work. bc(v) =
    * Σ_s δ_s(v); sources and per-source endpoints are excluded by
    * construction (δ is only defined for hop ≥ 1 interior roles).
    * Output keeps only δ > 0 rows — an EXACT condition (a sum of
    * positive terms can't cancel), so the row set is float-stable.
    *
    * @param fit   (src, gid, hop, sigma) from [[bfsMulti]], already
    *              capped at the caller's hop bound
    * @param edges deduplicated directed edge list the fit was run on
    * @return (gid, bc) raw (unnormalized, unrounded) betweenness
    */
  def betweenness(fit: DataFrame, edges: DataFrame, maxHop: Int): DataFrame = {
    val e = materializeInvariant(edges.select(col("gsrc"), col("gdst")))
    val levels = (0 to maxHop).map(h => fit.filter(col("hop") === h))
    // deltas(h): (src, gid, delta) for level-h nodes with >= 1 successor
    val deltas = scala.collection.mutable.Map.empty[Int, DataFrame]
    for (h <- (maxHop - 1) to 1 by -1) {
      val v = levels(h).select(col("src"), col("gid").as("v"), col("sigma").as("sv"))
      val wBase = levels(h + 1).select(
        col("src").as("ws"), col("gid").as("w"), col("sigma").as("sw"))
      val w = deltas.get(h + 1) match {
        case Some(d) => wBase.join(
            d.select(col("src").as("ds"), col("gid").as("dg"), col("delta")),
            col("ws") === col("ds") && col("w") === col("dg"), "left")
          .select(col("ws"), col("w"), col("sw"),
            coalesce(col("delta"), lit(0.0)).as("dw"))
        case None => wBase.select(col("ws"), col("w"), col("sw"),
          lit(0.0).as("dw"))
      }
      val d = v.join(e, col("v") === col("gsrc"))
        .join(w, col("src") === col("ws") && col("gdst") === col("w"))
        .groupBy(col("src"), col("v").as("gid"))
        .agg(sum(col("sv").cast("double") / col("sw") * (lit(1.0) + col("dw")))
          .as("delta"))
        .localCheckpoint()
      deltas(h) = d
    }
    if (deltas.isEmpty)
      fit.select(col("gid"), lit(0.0).as("bc")).limit(0)
    else deltas.values.reduce(_ unionByName _)
      .groupBy(col("gid")).agg(sum(col("delta")).as("bc"))
      .filter(col("bc") > 0)
  }

  /** Hop-bounded weighted single-source shortest paths (Bellman-Ford
    * with delta/frontier propagation): after k rounds, `dist` holds the
    * minimum path weight over all paths of ≤ k edges from the seed set —
    * exactly the quantity a hop-bounded recursive-CTE oracle computes.
    * Only nodes whose distance improved last round relax their out-edges
    * (the frontier invariant keeps this equal to full Bellman-Ford), so
    * per-round work tracks the wavefront, not the graph. Negative
    * weights are fine (the hop bound replaces a convergence check);
    * one shuffle per round plus the improved-set merge.
    *
    * @param edges (gsrc, gdst, w) directed weighted edge list
    * @param seeds (gid) source set, distance 0
    * @return (gid, dist) minimum ≤-maxHops-edge path weight per reached node
    */
  def sssp(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val e0 = materializeInvariant(edges.select(col("gsrc"), col("gdst"), col("w")))
    val width = Width.forRows(edges, e0.count())
    val e = e0.coalesce(width)
    var dist = seeds.select(col("gid"), lit(0.0).as("dist")).localCheckpoint()
    var frontier = dist
    var frontierRows = frontier.count()
    var distRowBound = frontierRows // upper bound: grows by ≤ frontier per round
    var hop = 0
    Superstep.scope(edges, width) { while (hop < maxHops && frontierRows > 0) {
      hop += 1
      // candidate distances through last round's improved nodes
      val cand = hintSmall(frontier.select(col("gid").as("fgid"), col("dist").as("fdist")),
          frontierRows)
        .join(e, col("fgid") === e("gsrc"))
        .groupBy(e("gdst").as("gid")).agg(min(col("fdist") + col("w")).as("nd"))
      // keep only strict improvements over the best known distance
      val (improved, m) = Superstep.step("frontier.round", cand
        .join(hintSmall(dist.select(col("gid").as("dgid"), col("dist")), distRowBound),
          col("gid") === col("dgid"), "left")
        .filter(col("dist").isNull || col("nd") < col("dist"))
        .select(col("gid"), col("nd").as("dist")))
      frontierRows = m.getLong(0)
      distRowBound += frontierRows
      dist = dist
        .join(hintSmall(improved.select(col("gid").as("igid")), frontierRows),
          col("gid") === col("igid"), "left_anti")
        .unionByName(improved)
        .localCheckpoint()
      frontier = improved
    } }
    dist
  }

  /** [[sssp]] with PATH RECONSTRUCTION — the loop state carries the
    * (dist, path) pair and relaxes under the LEXICOGRAPHIC order
    * min(dist, then path-as-gid-sequence). With strictly positive
    * weights that order is extension-monotone (equal-dist paths to one
    * node can never be prefixes of each other — a prefix relation would
    * imply a zero-weight cycle — so appending an edge preserves every
    * comparison), which makes tuple-Bellman-Ford converge to the
    * arg-min over ALL ≤ maxHops-edge walks: exactly what a walk-
    * enumerating recursive-CTE oracle computes. Paths are ≤ maxHops+1
    * gids, so the extra state per node is hop-bounded, not graph-bound.
    *
    * @param edges (gsrc, gdst, w) directed, w > 0 required for the
    *              tie-break determinism argument above
    * @return (gid, dist, path) minimum (dist, path) per reached node
    */
  def ssspPaths(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val e0 = materializeInvariant(edges.select(col("gsrc"), col("gdst"), col("w")))
    val width = Width.forRows(edges, e0.count())
    val e = e0.coalesce(width)
    var state = seeds.select(col("gid"), lit(0.0).as("dist"),
      array(col("gid")).as("path")).localCheckpoint()
    var frontier = state
    var frontierRows = frontier.count()
    var bound = frontierRows
    var hop = 0
    Superstep.scope(edges, width) { while (hop < maxHops && frontierRows > 0) {
      hop += 1
      val cand = hintSmall(frontier.select(col("gid").as("fgid"),
          col("dist").as("fdist"), col("path").as("fpath")), frontierRows)
        .join(e, col("fgid") === e("gsrc"))
        .select(e("gdst").as("gid"), (col("fdist") + col("w")).as("nd"),
          concat(col("fpath"), array(e("gdst"))).as("npath"))
        .groupBy(col("gid"))
        .agg(min(struct(col("nd"), col("npath"))).as("b"))
        .select(col("gid"), col("b.nd").as("nd"), col("b.npath").as("npath"))
      val (improved, m) = Superstep.step("frontier.round", cand
        .join(hintSmall(state.select(col("gid").as("sgid"), col("dist"),
            col("path")), bound),
          col("gid") === col("sgid"), "left")
        .filter(col("dist").isNull ||
          struct(col("nd"), col("npath")) < struct(col("dist"), col("path")))
        .select(col("gid"), col("nd").as("dist"), col("npath").as("path")))
      frontierRows = m.getLong(0)
      bound += frontierRows
      state = state
        .join(hintSmall(improved.select(col("gid").as("igid")), frontierRows),
          col("gid") === col("igid"), "left_anti")
        .unionByName(improved)
        .localCheckpoint()
      frontier = improved
    } }
    state
  }

  /** Connected components by iterative min-label propagation: every node
    * adopts the smallest component id among itself and its neighbors
    * until fixpoint. O(diameter) rounds of one shuffle each; isolated
    * nodes keep their own id. Returns (gid, comp).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 50,
      driverBytes: Long = Superstep.DriverBytes,
      broadcastBytes: Long = Superstep.BroadcastBytes): DataFrame = {
    val und0 = edges.select(col("gsrc").as("a"), col("gdst").as("b"))
      .unionByName(edges.select(col("gdst").as("a"), col("gsrc").as("b")))
      .distinct().localCheckpoint()
    val undRows = und0.count()
    // Driver tail: when the whole edge set fits the budget, a min-root
    // union-find replaces the O(diameter)-round loop; the label map is
    // endpoint-bounded metadata, broadcast back onto the node set
    // (isolated nodes keep their own id, as in the loop).
    if (Superstep.bytes(und0, undRows) <= driverBytes) {
      return nodes.select(col("gid"))
        .join(broadcast(minRootFrame(und0).withColumnRenamed("comp", "__c")),
          Seq("gid"), "left")
        .select(col("gid"), coalesce(col("__c"), col("gid")).as("comp"))
    }
    val width = Width.forRows(edges, undRows)
    // Strategy by measured state size (see [[stateHint]]): broadcast the
    // tiny state vector per round, or co-partition edge list + state
    // once (checkpointed inside the AQE-off scope so the partitioning
    // survives into the LogicalRDD) and shuffle-hash-join over
    // already-satisfied distributions — each round's only exchange is
    // then the neighbor-min groupBy, with no broadcast build jobs and
    // no requirement that state fit in one executor.
    Superstep.scope(edges, width) {
    var comp = nodes.select(col("gid"), col("gid").as("comp"))
    val small = Superstep.bytes(comp, comp.count()) <= broadcastBytes
    val undirected =
      if (small) und0.coalesce(width)
      else und0.repartition(width, col("b")).localCheckpoint()
    comp =
      if (small) comp.localCheckpoint()
      else comp.repartition(width, col("gid")).localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      // min over each node's own comp and its neighbors' comps
      val neighborMin = undirected
        .join(stateHint(comp, small), col("b") === col("gid"))
        .groupBy(col("a")).agg(min(col("comp")).as("ncomp"))
      // the changed COUNT is observed during the checkpoint job itself:
      // the convergence probe costs zero extra jobs instead of one
      // isEmpty scan per round
      val (next, m) = Superstep.step("frontier.round", comp
        .join(stateHint(neighborMin, small), comp("gid") === col("a"), "left")
        .select(comp("gid"),
          least(comp("comp"), coalesce(col("ncomp"), comp("comp"))).as("comp"),
          (least(comp("comp"), coalesce(col("ncomp"), comp("comp"))) =!= comp("comp"))
            .as("changed")),
        changedRows)
      converged = m.getLong(0) == 0L
      comp = next.select(col("gid"), col("comp"))
    }
    comp
    } // scope
  }

  /** PageRank with uniform teleport and dangling-mass redistribution,
    * fixed iteration count (deterministic, oracle-replicable). One
    * shuffle per iteration (contribution groupBy); the dangling-mass
    * scalar is carried as a broadcast cross join so the loop stays lazy
    * apart from the per-round checkpoint.
    */
  /** Loop invariants of the PageRank family, built once and reusable
    * across calls (classic + personalized share them; callers serving
    * several rank queries should prepare once and pin): the edge list
    * hash-partitioned by gsrc, the (gid, outdeg) base hash-partitioned
    * by gid — both checkpointed inside the AQE-off scope so the
    * partitioning survives — plus the node count and loop width.
    */
  /** `e` is hash(gsrc, width) — the PageRank-family layout; `eDst` is
    * the same edge set hash(gdst, width), LAZY so PageRank-only callers
    * never pay for it — HITS forces it on first use and `PinnedRdds`
    * pins it with the rest of the invariants.
    */
  final case class RankGraph(e: DataFrame, eDst: () => DataFrame,
      base0: DataFrame, n: Double, width: Int)

  def prepareRankGraph(nodes: DataFrame, edges: DataFrame): RankGraph = {
    val e0 = materializeInvariant(edges.select(col("gsrc"), col("gdst")))
    val width = Width.forRows(edges, e0.count())
    Superstep.scope(edges, width) {
      val e = e0.repartition(width, col("gsrc")).localCheckpoint()
      val deg = e.groupBy(col("gsrc").as("dgid")).agg(count(lit(1)).as("outdeg"))
      val base0 = nodes.select(col("gid"))
        .join(deg.hint("shuffle_hash"), col("gid") === col("dgid"), "left")
        .select(col("gid"), col("outdeg"))
        .repartition(width, col("gid"))
        .localCheckpoint()
      rankGraph(e, base0, base0.count().toDouble, width)
    }
  }

  /** A [[RankGraph]] whose `eDst` is built on first use and memoized:
    * checkpointing inside the loop scope preserves the hash(gdst)
    * partitioning, exactly as for `e` (§9). */
  private def rankGraph(e: DataFrame, base0: DataFrame, n: Double, width: Int): RankGraph = {
    lazy val eDst = Superstep.scope(e, width) {
      e.repartition(width, col("gdst")).localCheckpoint()
    }
    RankGraph(e, () => eDst, base0, n, width)
  }

  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame =
    pageRank(prepareRankGraph(nodes, edges), iters, damping)

  /** Katz centrality (Katz 1953), fixed rounds: x₀ = 1,
    * xᵢ = 1 + α·Aᵀxᵢ₋₁ — the truncated path series Σⱼ α^j·(#paths of
    * length j ending at v). The attenuation-weighted completion of the
    * centrality family: unlike PageRank it does not normalize by
    * out-degree (a prolific source passes FULL mass to every target),
    * and unlike HITS there is no per-round normalization scan, so each
    * round is exactly one edge⋈state shuffle-hash join + one
    * neighbor-sum aggregation over the pinned co-partitioned layout —
    * the classic rank-loop plan shape with its cheapest possible body.
    * Deterministic given (layout, α, rounds); callers keep α below
    * 1/λ_max (λ_max ≤ max in-degree) so the series contracts.
    */
  def katz(g: RankGraph, iters: Int, alpha: Double): DataFrame =
    katzLoop(g, iters, alpha,
      g.base0.select(col("gid"), lit(1.0).as("x")))

  /** Warm-start Katz — [[pageRankFrom]]'s discipline for the
    * attenuated-path-count member: iterate x = 1 + α·Aᵀx from the
    * previous vector over the folded layout (fresh nodes seed at 1.0,
    * the cold x₀ — their own path mass accrues in the warm rounds).
    * Katz passes FULL mass along out-edges (no degree normalization),
    * so the delta fold needs NO degree re-bake — the layout fold's
    * outdeg adjustment is simply unread by this loop; only the edge
    * union matters. Deterministic given (layout, prev, iters, α) —
    * oracle-replicable as unrolled SQL seeded with the same prior
    * state.
    */
  def katzFrom(g: RankGraph, prev: DataFrame, iters: Int,
      alpha: Double): DataFrame =
    katzLoop(g, iters, alpha,
      g.base0.select(col("gid"))
        .join(prev.select(col("gid").as("pgid"), col("x").as("px")),
          col("gid") === col("pgid"), "left")
        .select(col("gid"), coalesce(col("px"), lit(1.0)).as("x")))

  private def katzLoop(g: RankGraph, iters: Int, alpha: Double,
      init: DataFrame): DataFrame =
    Superstep.scope(g.e, g.width) {
      var x = init.localCheckpoint()
      for (_ <- 1 to iters) {
        val contribs = g.e
          .join(x.hint("shuffle_hash"), g.e("gsrc") === col("gid"))
          .groupBy(g.e("gdst").as("cgid"))
          .agg(sum(col("x")).as("contrib"))
        x = Superstep.step("rank.round", g.base0.select(col("gid"))
          .join(contribs.hint("shuffle_hash"), col("gid") === col("cgid"),
            "left")
          .select(col("gid"),
            (lit(1.0) + lit(alpha) * coalesce(col("contrib"), lit(0.0)))
              .as("x")))._1
      }
      x
    }

  def pageRank(g: RankGraph, iters: Int, damping: Double): DataFrame =
    pageRankLoop(g, iters, damping, teleportOf = base =>
      base.withColumn("tele", lit(1.0 / g.n)))

  /** WARM-START PageRank: iterate from a given prior rank vector
    * instead of the uniform init — the incremental-maintenance face of
    * the rank family (the g_cc_incr discipline extended from labels to
    * rank). After folding a delta edge batch into the layout
    * ([[foldDeltaIntoRankGraph]]), a few rounds from the previous
    * batch's vector recover fixpoint-quality ranks at a fraction of a
    * cold start's rounds — the previous state already carries the
    * graph's structure; the delta only perturbs it locally. Nodes
    * absent from `prev` (new arrivals) start at their teleport mass.
    * Deterministic given (layout, prev, iters) — oracle-replicable as
    * unrolled SQL seeded with the same prior state.
    */
  def pageRankFrom(g: RankGraph, prev: DataFrame, iters: Int,
      damping: Double): DataFrame =
    pageRankLoop(g, iters, damping, teleportOf = base =>
      base.withColumn("tele", lit(1.0 / g.n)), initPr = Some(prev))

  /** Warm-start personalized PageRank: the seeded-teleport twin of
    * [[pageRankFrom]] — prior vector where known, seed-concentrated
    * teleport mass for fresh nodes (0 for non-seeds, exactly the cold
    * r0 a fresh node would get).
    */
  def personalizedPageRankFrom(g: RankGraph, seeds: DataFrame,
      prev: DataFrame, iters: Int, damping: Double): DataFrame =
    pageRankLoop(g, iters, damping, teleportOf = { base =>
      val s = seeds.select(col("gid").as("sgid")).distinct().localCheckpoint()
      val nS = s.count().toDouble
      require(nS > 0, "personalized pagerank requires a non-empty seed set")
      base.join(broadcast(s), col("gid") === col("sgid"), "left")
        .select(col("gid"), col("outdeg"),
          when(col("sgid").isNotNull, lit(1.0 / nS)).otherwise(lit(0.0)).as("tele"))
    }, initPr = Some(prev))

  /** Fold a delta edge batch into an existing classic-rank layout at
    * DELTA cost plus one corpus repartition (the loop needs the edge
    * union co-partitioned — that single shuffle is the floor):
    * out-degrees of touched sources are ADJUSTED by a delta-scale
    * aggregate joined onto the node-scale base (never a corpus edge
    * re-aggregation), and delta-only nodes append with their delta
    * degree. Width is preserved so the folded layout joins the warm
    * loop exactly like the original.
    */
  def foldDeltaIntoRankGraph(g: RankGraph, deltaNodes: DataFrame,
      deltaEdges: DataFrame): RankGraph =
    foldDeltaIntoRankGraph(g, deltaNodes, deltaEdges, None)

  /** As [[foldDeltaIntoRankGraph]], but accepting the touched-source
    * degree-bump aggregate already computed (the streaming path folds
    * it per micro-batch via [[foldRankDeltaBatch]] — recomputing it
    * from the unioned delta here would discard those folds). `ddegPre`
    * must equal `deltaEdges.groupBy(gsrc).count` — additive-integer
    * folds over any batching of the delta satisfy this exactly.
    */
  def foldDeltaIntoRankGraph(g: RankGraph, deltaNodes: DataFrame,
      deltaEdges: DataFrame, ddegPre: Option[DataFrame]): RankGraph = {
    val d0 = materializeInvariant(deltaEdges.select(col("gsrc"), col("gdst")))
    // scope the AQE-off window by g.e, NOT d0: in the streaming faces
    // the delta edges are checkpointed inside foreachBatch and carry
    // the micro-batch CLONE session, while the fold's own checkpoints
    // below bind to g.e's (main) session — setting the flags on the
    // clone left the fold checkpointing under an adaptive plan, which
    // drops the hash partitioning from the LogicalRDD and made every
    // warm round re-exchange BOTH the edge layout and the base
    // (measured: 3 Exchanges per round instead of 1 in s_pagerank_incr)
    Superstep.scope(g.e, g.width) {
      val (e, _) = Superstep.step("drain.fold", g.e.unionByName(d0)
        .repartition(g.width, col("gsrc")))
      val ddeg = ddegPre.getOrElse(d0.groupBy(col("gsrc").as("dgid"))
        .agg(count(lit(1)).as("ddeg")).localCheckpoint())
      // outdeg: null means dangling — stays null only if BOTH sides
      // have no out-edges for the node
      val adjusted = g.base0
        .join(ddeg.hint("shuffle_hash"), col("gid") === col("dgid"), "left")
        .select(col("gid"),
          when(col("outdeg").isNull && col("ddeg").isNull,
            lit(null).cast("long"))
            .otherwise(coalesce(col("outdeg"), lit(0L)) +
              coalesce(col("ddeg"), lit(0L))).as("outdeg"))
      val fresh = deltaNodes.select(col("gid")).distinct()
        .join(g.base0.select(col("gid").as("bgid")),
          col("gid") === col("bgid"), "left_anti")
        .join(ddeg, col("gid") === col("dgid"), "left")
        .select(col("gid"), col("ddeg").as("outdeg"))
      // node count observed during the checkpoint job itself: no
      // separate count scan per fold
      val (base0, m) = Superstep.step("drain.fold", adjusted.unionByName(fresh)
        .repartition(g.width, col("gid")))
      rankGraph(e, base0, m.getLong(0).toDouble, g.width)
    }
  }

  /** Fold ONE streaming micro-batch of delta edges into a pending
    * (edges, degree-bump) accumulator at pure DELTA scale — no corpus
    * repartition, no node-scale base rebuild (each trigger previously
    * paid both via a full [[foldDeltaIntoRankGraph]]; at n batches
    * that is n corpus edge rewrites for one drain). The batch's
    * out-degree counts merge into the pending aggregate by integer
    * SUM — associative and commutative, so the drained accumulator is
    * a pure function of the delta edge SET, independent of batch
    * boundaries (the s_pagerank_incr contract, now exercised where
    * the per-batch work actually happens). Apply once after the drain
    * with `foldDeltaIntoRankGraph(g, nodes, edges, Some(ddeg))` —
    * one corpus co-partitioning shuffle total.
    *
    * @param pending (unioned checkpointed batch edges, folded ddeg)
    *                from prior triggers, or None on the first
    * @return the accumulator including this batch
    */
  def foldRankDeltaBatch(pending: Option[(DataFrame, DataFrame)],
      batchEdges: DataFrame): (DataFrame, DataFrame) = {
    val b = batchEdges.select(col("gsrc"), col("gdst")).localCheckpoint()
    val bd = b.groupBy(col("gsrc").as("dgid")).agg(count(lit(1)).as("ddeg"))
    pending match {
      case None => (b, bd.localCheckpoint())
      case Some((pe, pd)) =>
        val merged = pd.unionByName(bd).groupBy(col("dgid"))
          .agg(sum(col("ddeg")).cast("long").as("ddeg")).localCheckpoint()
        (pe.unionByName(b), merged)
    }
  }

  /** Weighted-rank layout: same shape as [[prepareRankGraph]], but the
    * edge list carries each edge's contribution FRACTION `w / wout(src)`
    * precomputed — the fraction is a loop invariant (weights are
    * static), so baking it at prepare time turns every weighted
    * iteration into the exact plan of the unweighted one (join +
    * sum(pr·frac)), with zero per-round weight arithmetic. `outdeg` in
    * the base holds the weighted out-degree (null ⇒ dangling, same
    * contract). Cross-engine float parity: graft's edge weights are
    * integral doubles, so the wout sums are EXACT in any summation
    * order and frac is one deterministic division; only the per-round
    * contribution sums carry ULP noise, sealed by the caller's 8dp
    * round exactly as in classic PageRank.
    */
  def prepareWeightedRankGraph(nodes: DataFrame, edges: DataFrame): RankGraph = {
    val e0 = materializeInvariant(edges.select(col("gsrc"), col("gdst"), col("w")))
    val width = Width.forRows(edges, e0.count())
    Superstep.scope(edges, width) {
      val eP = e0.repartition(width, col("gsrc")).localCheckpoint()
      val wdeg = eP.groupBy(col("gsrc").as("dgid")).agg(sum(col("w")).as("wout"))
      val e = eP.join(wdeg.hint("shuffle_hash"), eP("gsrc") === col("dgid"))
        .select(eP("gsrc"), eP("gdst"), (col("w") / col("wout")).as("frac"))
        .localCheckpoint()
      val base0 = nodes.select(col("gid"))
        .join(wdeg.hint("shuffle_hash"), col("gid") === col("dgid"), "left")
        .select(col("gid"), col("wout").as("outdeg"))
        .repartition(width, col("gid"))
        .localCheckpoint()
      rankGraph(e, base0, base0.count().toDouble, width)
    }
  }

  /** PageRank where a node's rank distributes along its out-edges in
    * proportion to edge WEIGHT instead of uniformly — the variant the
    * typed edge-property model stores but the classic face ignores.
    * Same loop, same dangling/teleport semantics; the only change is
    * the contribution term pr·frac over the weighted layout.
    */
  def weightedPageRank(nodes: DataFrame, weightedEdges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame =
    weightedPageRank(prepareWeightedRankGraph(nodes, weightedEdges), iters, damping)

  def weightedPageRank(g: RankGraph, iters: Int, damping: Double): DataFrame =
    pageRankLoop(g, iters, damping, teleportOf = base =>
      base.withColumn("tele", lit(1.0 / g.n)),
      contribExpr = col("pr") * col("frac"))

  /** Warm-start WEIGHTED PageRank — [[pageRankFrom]] over the weighted
    * layout (contribution pr·frac), completing the incremental rank
    * family's weighted half.
    */
  def weightedPageRankFrom(g: RankGraph, prev: DataFrame, iters: Int,
      damping: Double): DataFrame =
    pageRankLoop(g, iters, damping, teleportOf = base =>
      base.withColumn("tele", lit(1.0 / g.n)),
      contribExpr = col("pr") * col("frac"), initPr = Some(prev))

  /** Fold a delta of WEIGHTED edges into an existing weighted-rank
    * layout. Unlike the classic fold, a touched source's per-edge
    * contribution FRACTIONS w/wout all change when its weighted
    * out-degree does — so the fold recomputes fracs for TOUCHED
    * sources only (their raw edges re-read from `rawBaseEdges`, a
    * delta-degree-bounded set) and keeps every untouched source's
    * edges verbatim; out-degrees adjust via the same delta-scale
    * aggregate as [[foldDeltaIntoRankGraph]]. Work: delta-scale
    * recompute + one scan of the edge layout + the one co-partitioning
    * shuffle the loop requires.
    *
    * @param rawBaseEdges the base graph's (gsrc, gdst, w) — the
    *                     pre-frac weighted edge source the layout was
    *                     prepared from
    * @param dwOpt pre-folded per-source delta weight sums
    *              (dgid, dwout), when the caller maintains them
    *              incrementally (the streaming face folds additive
    *              chunks per trigger — exact in any chunking because
    *              edge weights are integral doubles); None recomputes
    *              from the delta edges
    */
  def foldDeltaIntoWeightedRankGraph(g: RankGraph, rawBaseEdges: DataFrame,
      deltaNodes: DataFrame, deltaEdges: DataFrame,
      dwOpt: Option[DataFrame] = None): RankGraph = {
    val d0 = materializeInvariant(
      deltaEdges.select(col("gsrc"), col("gdst"), col("w")))
    // g.e-scoped for the same clone-session reason as
    // [[foldDeltaIntoRankGraph]] (the fold executes on g.e's session)
    Superstep.scope(g.e, g.width) {
      val dW = dwOpt.getOrElse(d0.groupBy(col("gsrc").as("dgid"))
        .agg(sum(col("w")).as("dwout")).localCheckpoint())
      val adjusted = g.base0
        .join(dW.hint("shuffle_hash"), col("gid") === col("dgid"), "left")
        .select(col("gid"),
          when(col("outdeg").isNull && col("dwout").isNull,
            lit(null).cast("double"))
            .otherwise(coalesce(col("outdeg"), lit(0.0)) +
              coalesce(col("dwout"), lit(0.0))).as("outdeg"))
      val fresh = deltaNodes.select(col("gid")).distinct()
        .join(g.base0.select(col("gid").as("bgid")),
          col("gid") === col("bgid"), "left_anti")
        .join(dW, col("gid") === col("dgid"), "left")
        .select(col("gid"), col("dwout").as("outdeg"))
      // node count observed during the checkpoint job
      val (base0, m) = Superstep.step("drain.fold", adjusted.unionByName(fresh)
        .repartition(g.width, col("gid")))
      // frac re-bake for touched sources only; everyone else verbatim
      val touched = dW.select(col("dgid").as("tsrc"))
      val keep = g.e.join(broadcast(touched),
        col("gsrc") === col("tsrc"), "left_anti")
      val touchedRaw = rawBaseEdges.select(col("gsrc"), col("gdst"), col("w"))
        .join(broadcast(touched), col("gsrc") === col("tsrc"), "left_semi")
        .unionByName(d0)
      val wAll = base0.select(col("gid").as("wgid"), col("outdeg").as("wout"))
      val recomputed = touchedRaw
        .join(wAll.hint("shuffle_hash"), col("gsrc") === col("wgid"))
        .select(col("gsrc"), col("gdst"), (col("w") / col("wout")).as("frac"))
      val (e, _) = Superstep.step("drain.fold", keep.unionByName(recomputed)
        .repartition(g.width, col("gsrc")))
      rankGraph(e, base0, m.getLong(0).toDouble, g.width)
    }
  }

  /** Personalized PageRank: teleport (and dangling mass) returns to the
    * seed set instead of uniformly — the standard seeded-relevance
    * variant. Nodes unreachable from the seeds converge to rank 0. Same
    * co-partitioned loop; the only difference is the teleport vector
    * carried inside the rank state.
    */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
      iters: Int, damping: Double = 0.85): DataFrame =
    personalizedPageRank(prepareRankGraph(nodes, edges), seeds, iters, damping)

  def personalizedPageRank(g: RankGraph, seeds: DataFrame, iters: Int,
      damping: Double): DataFrame =
    pageRankLoop(g, iters, damping, teleportOf = { base =>
      val s = seeds.select(col("gid").as("sgid")).distinct().localCheckpoint()
      val nS = s.count().toDouble
      require(nS > 0, "personalized pagerank requires a non-empty seed set")
      base.join(broadcast(s), col("gid") === col("sgid"), "left")
        .select(col("gid"), col("outdeg"),
          when(col("sgid").isNotNull, lit(1.0 / nS)).otherwise(lit(0.0)).as("tele"))
    })

  /** The shared iteration: rank state carries (gid, outdeg, tele, pr)
    * where `tele` is any teleport distribution summing to 1 — uniform
    * reproduces classic PageRank, seed-concentrated gives the
    * personalized variant. Dangling mass redistributes along `tele`.
    *
    * Loop invariants materialize once: edge list, and the rank base with
    * the static out-degree attached (null ⇒ dangling). Carrying outdeg
    * inside the rank vector removes a pr×deg join from every iteration —
    * the dangling-mass term becomes a scan-agg over pr alone.
    * Co-partitioned loop: edges hash-partitioned by gsrc and the rank
    * vector by gid, both at the loop width, ONCE. localCheckpoint
    * preserves the physical partitioning, and every per-iteration join
    * is a shuffle-hash join whose inputs already satisfy the required
    * distribution — the only exchange per round is the contribution
    * groupBy. (Broadcasting the rank vector instead costs two
    * build-side jobs with driver collects per round, and at real scale
    * the rank vector outgrows broadcast anyway.)
    */
  private def pageRankLoop(g: RankGraph, iters: Int,
      damping: Double, teleportOf: DataFrame => DataFrame,
      contribExpr: Column = col("pr") / col("outdeg"),
      initPr: Option[DataFrame] = None): DataFrame = {
    val n = g.n
    val e = g.e
    // IMPORTANT: everything here runs (and checkpoints) INSIDE the
    // AQE-off scope — a Dataset checkpointed under an adaptive plan does
    // not carry its output partitioning into the LogicalRDD, and every
    // downstream join then re-exchanges it per iteration (verified with
    // explain("formatted")). base0 is already hash(gid, width), and the
    // teleport attachment (projection or broadcast join) preserves that,
    // so no re-exchange happens here either.
    Superstep.scope(g.e, g.width) {
    val base = teleportOf(g.base0).localCheckpoint()
    // loop state is (gid, outdeg, pr) — `tele` is a loop INVARIANT that
    // the per-round projection reads from `base`, so carrying it
    // through every round's checkpointed state was a pure copy cost
    var pr = initPr match {
      case None => base.select(col("gid"), col("outdeg"),
        col("tele").as("pr"))
      case Some(prev) =>
        // warm start: prior vector where known, teleport mass for new
        // nodes; one node-scale join before the loop
        base.join(
            prev.select(col("gid").as("pgid"), col("pr").as("ppr"))
              .hint("shuffle_hash"),
            col("gid") === col("pgid"), "left")
          .select(col("gid"), col("outdeg"),
            coalesce(col("ppr"), col("tele")).as("pr"))
          .localCheckpoint()
    }
    // the dangling-mass scalar for round i+1 is observed DURING round
    // i's checkpoint job (Dataset.observe piggybacks an agg on the same
    // pass) — no separate scan job per iteration; only round 1 pays an
    // explicit scan-agg of the initial vector
    var nextDm: Option[Double] = None
    for (i <- 1 to iters) {
      val dm = nextDm.getOrElse {
        pr.filter(col("outdeg").isNull)
          .agg(coalesce(sum(col("pr")), lit(0.0))).first().getDouble(0)
      }
      // shuffle-hash, not broadcast: a broadcast build is its own job
      // with a driver collect — two of those per iteration cost more in
      // orchestration latency than re-exchanging a rank vector that is
      // tiny relative to the edge set (and at real scale the rank vector
      // outgrows broadcast anyway, so this is also the 100 TB plan)
      val contribs = e
        .join(pr.filter(col("outdeg").isNotNull).hint("shuffle_hash"),
          e("gsrc") === col("gid"))
        .groupBy(e("gdst").as("cgid"))
        .agg(sum(contribExpr).as("contrib"))
      // the dangling-mass scalar rides in a zero-arg UDF instead of a
      // literal: the VALUE changes every round, and a changing literal
      // is inlined into the generated source, forcing a fresh janino
      // compile per round. The UDF closure lives in the plan's
      // `references`, so every round shares one compiled class. The
      // arithmetic is unchanged (same double, same multiply), so the
      // oracle-sealed values are bit-identical. The closure must capture
      // this round's `val dm` (a captured `var` would serialize whatever
      // value it holds when a job runs), and the round must stay
      // eagerly checkpointed below: a lazily executed round would run
      // against a later round's dm, with no error to show it.
      val dmCol = udf(() => dm).apply()
      // checkpoint every round: pr feeds three branches of the next
      // iteration's plan — lazy chaining recomputes the subtree
      // exponentially
      val (next, m) = Superstep.step("rank.round", base
        .join(contribs.hint("shuffle_hash"), col("gid") === col("cgid"), "left")
        .select(col("gid"), col("outdeg"),
          (lit(1.0 - damping) * col("tele") +
            lit(damping) * (coalesce(col("contrib"), lit(0.0)) + dmCol * col("tele"))).as("pr")),
        sum(when(col("outdeg").isNull, col("pr")).otherwise(lit(0.0))))
      pr = next
      nextDm = Some(m.getDouble(0))
    }
    pr.select(col("gid"), col("pr"))
    } // scope
  }

  /** HITS hubs & authorities (Kleinberg 1999, re-expressed as a
    * co-partitioned DataFrame loop): per round, auth(v) = Σ_{u→v} hub(u)
    * then hub(u) = Σ_{u→v} auth(v), each phase L1-normalized. Fixed
    * iteration count (deterministic, oracle-replicable as unrolled SQL).
    *
    * Same loop discipline as [[pageRankLoop]], with one extra trick for
    * the normalization scalars: the L1 norm of the NEXT phase's raw
    * contributions is a linear function of the CURRENT state —
    * Σ_v auth_raw(v) = Σ_u hub(u)·outdeg(u) and Σ_u hub_raw(u) =
    * Σ_v auth(v)·indeg(v) — so each norm is `observe`d during the
    * checkpoint job of the state it derives from (degrees ride in the
    * state exactly like PageRank's outdeg). Per half-round the plan is
    * one contribution shuffle + the co-partitioned join back onto the
    * base; no separate normalization scan ever runs. The hub phase uses
    * a second edge copy hash-partitioned by gdst (built once; at 100 TB
    * this is the same both-sides layout a bucketed edge table gives for
    * free).
    */
  def hits(g: RankGraph, iters: Int): DataFrame = {
    Superstep.scope(g.e, g.width) {
    val eSrc = g.e
    val eDst = g.eDst() // pinned invariant, built once per session
    val base = g.base0.select(col("gid")) // projection keeps hash(gid)
    // The recurrence is linear, so per-round normalization only rescales
    // — run it UNNORMALIZED and normalize once at the end (λ^iters stays
    // far inside double range for any physical graph), which fuses each
    // round's two phases into ONE checkpointed plan: two contribution
    // shuffles per round but a single per-round job, halving the
    // driver-floor cost that dominates iterative loops (§9).
    def authOf(hub: DataFrame): DataFrame = {
      val aRaw = eSrc
        .join(hub.filter(col("hub") =!= 0.0).hint("shuffle_hash"),
          eSrc("gsrc") === col("gid"))
        .groupBy(eSrc("gdst").as("agid"))
        .agg(sum(col("hub")).as("raw"))
      base.join(aRaw.hint("shuffle_hash"), col("gid") === col("agid"), "left")
        .select(col("gid"), coalesce(col("raw"), lit(0.0)).as("auth"))
    }
    // One checkpoint per round. Chaining several lazy rounds per
    // checkpoint was MEASURED SLOWER (6.3 s → 10 s at sf0.1): with no
    // per-round driver scalar the chain is legal (each state feeds
    // exactly one consumer), but the deep multi-round plans pay more in
    // planning + whole-stage-codegen compilation than the per-round
    // job floor costs — the same economics that keep the PageRank loop
    // checkpointed per round (§9).
    var h = base.withColumn("hub", lit(1.0))
    for (_ <- 1 to iters) {
      val a = authOf(h)
      h = Superstep.step("rank.round", base
        .join(eDst
            .join(a.filter(col("auth") =!= 0.0).hint("shuffle_hash"),
              eDst("gdst") === col("gid"))
            .groupBy(eDst("gsrc").as("hgid"))
            .agg(sum(col("auth")).as("raw"))
            .hint("shuffle_hash"),
          col("gid") === col("hgid"), "left")
        .select(col("gid"), coalesce(col("raw"), lit(0.0)).as("hub")))._1
    }
    // final auth off the last hub state; checkpointed because it feeds
    // both the norm scalar and the output join
    val a = authOf(h).localCheckpoint()
    val aS = a.agg(sum(col("auth")).as("as"))
    val hS = h.agg(sum(col("hub")).as("hs"))
    // both states are hash(gid, width): the output join is exchange-free
    a.join(h.select(col("gid").as("hgid"), col("hub")).hint("shuffle_hash"),
        col("gid") === col("hgid"))
      .crossJoin(broadcast(aS)).crossJoin(broadcast(hS))
      .select(col("gid"),
        when(col("as") > 0, col("auth") / col("as")).otherwise(lit(0.0)).as("auth"),
        when(col("hs") > 0, col("hub") / col("hs")).otherwise(lit(0.0)).as("hub"))
    } // scope
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k,
    * found by iterative peeling — drop nodes with (surviving-)degree
    * < k, shrink the edge set to surviving endpoints, repeat to
    * fixpoint. Returns the member nodes (gid). Each round is one
    * degree groupBy + two semi-joins against the (shrinking) survivor
    * set; the edge set only ever shrinks, so round cost tracks the
    * remaining subgraph. Isolated nodes peel in round one for any
    * k ≥ 1.
    */
  /** Deterministic Luby-style MAXIMAL INDEPENDENT SET over an
    * undirected graph: fixed node priority pri(gid) = md5(gid) — an
    * engine-portable string that acts as a random permutation, the
    * derandomized stand-in for Luby's per-round coin flips — and each
    * round admits every still-undecided node whose priority is strictly
    * below all of its undecided neighbors' (vacuously: undecided nodes
    * with no undecided neighbor), then removes the admitted nodes and
    * their neighbors from play. This converges to THE greedy MIS of the
    * priority order — unique, layout-independent, a pure function of
    * the graph (the parallel rounds compute exactly the sequential
    * greedy; Blelloch, Fineman & Shun 2012) — in O(log n) expected
    * rounds under a hash-random order. MIS is the standard distributed
    * symmetry-breaking primitive (coloring seeds, landmark/coverage
    * selection, scheduling) that a sequential in-memory engine never
    * needs to parallelize; here each round is two keyed shuffles
    * against the SHRINKING undecided set with the edge list as the
    * loop invariant.
    *
    * @return (gid, mis_round) for MIS members, rounds starting at 1 —
    *         the round attribution doubles as a convergence trace
    */
  def maximalIndependentSet(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 100, driverBytes: Long = Superstep.DriverBytes): DataFrame = {
    val und0 = edges.select(col("gsrc").as("a"), col("gdst").as("b"))
      .filter(col("a") =!= col("b"))
      .unionByName(edges.select(col("gdst").as("a"), col("gsrc").as("b"))
        .filter(col("a") =!= col("b")))
      .distinct().localCheckpoint()
    val width = Width.forRows(edges, und0.count())
    Superstep.scope(edges, width) {
      val e = und0.coalesce(width)
      var undec = nodes.select(col("gid"),
          md5(col("gid").cast("string")).as("pri"))
        .localCheckpoint()
      var undecRows = undec.count()
      var mis: DataFrame = null
      var round = 0
      while (undecRows > 0 && round < maxIter) {
        round += 1
        // min priority over each node's UNDECIDED neighbors; decided
        // neighbors no longer block, which is why the edge table can
        // stay invariant (the state join filters them out)
        val minNbr = e
          .join(hintSmall(undec.select(col("gid").as("nb"),
              col("pri").as("npri")), undecRows),
            col("b") === col("nb"))
          .groupBy(col("a")).agg(min(col("npri")).as("mp"))
        val (sel, mSel) = Superstep.step("peel.contract", undec
          .join(hintSmall(minNbr, undecRows), undec("gid") === col("a"), "left")
          .filter(col("mp").isNull || undec("pri") < col("mp"))
          .select(undec("gid"), lit(round).as("mis_round")))
        val selRows = mSel.getLong(0)
        val killed = e
          .join(hintSmall(sel.select(col("gid").as("sa")), selRows),
            col("a") === col("sa"), "left_semi")
          .select(col("b").as("gid"))
          .unionByName(sel.select(col("gid")))
          .distinct()
        val (undecNext, mUnd) = Superstep.step("peel.contract",
          undec.join(killed, Seq("gid"), "left_anti"))
        undec = undecNext
        undecRows = mUnd.getLong(0)
        mis = if (mis == null) sel else mis.unionByName(sel)
        // Driver tail (the speculativeColoring pattern): finish the
        // identical recurrence driver-side once the undecided frontier
        // and its induced edges fit the driver budget — the tail rounds
        // are scheduling floor.
        val undecBytes = Superstep.bytes(undec, undecRows)
        if (undecRows > 0 && undecBytes <= driverBytes) {
          val liveE = e
            .join(hintSmall(undec.select(col("gid").as("ua")), undecRows),
              col("a") === col("ua"), "left_semi")
            .join(hintSmall(undec.select(col("gid").as("ub")), undecRows),
              col("b") === col("ub"), "left_semi")
            .localCheckpoint()
          if (undecBytes + Superstep.bytes(liveE, liveE.count()) <= driverBytes) {
            val adj = collectAdj(liveE)
            val pri = scala.collection.mutable.Map.empty[Long, String]
            undec.collect().foreach(r => pri(r.getLong(0)) = r.getString(1))
            var u = pri.keySet.toSet
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
            while (u.nonEmpty && round < maxIter) {
              round += 1
              val selLocal = u.filter(v => !adj.getOrElse(v, Nil)
                .exists(w => u.contains(w) && pri(w) < pri(v)))
              selLocal.foreach(v => out += ((v, round)))
              val killedLocal = selLocal ++
                selLocal.flatMap(v => adj.getOrElse(v, Nil))
              u = u -- killedLocal
            }
            require(u.isEmpty,
              s"maximalIndependentSet: $maxIter rounds exhausted with ${u.size} undecided")
            mis = mis.unionByName(
              nodes.sparkSession.createDataFrame(out.toSeq).toDF("gid", "mis_round"))
            undecRows = 0
          }
        }
      }
      require(undecRows == 0,
        s"maximalIndependentSet: $maxIter rounds exhausted with $undecRows undecided")
      if (mis == null) nodes.select(col("gid"), lit(0).as("mis_round")).limit(0)
      else mis
    } // scope
  }

  /** Speculative greedy graph coloring (the Gebremedhin–Manne
    * distributed-memory scheme): EVERY uncolored node tentatively takes
    * the mex (minimum excludant) of its already-colored neighbors’
    * colors each round; conflicts — adjacent uncolored nodes proposing
    * the SAME color — are broken by the fixed md5 priority (the smaller
    * priority keeps its color, the larger retries next round against
    * the now-larger colored neighborhood). Deterministic: the result is
    * a pure function of the graph + the hash order, independent of
    * layout and round batching, using ≤ Δ+1 colors (every tentative is
    * a mex over ≤ deg colors).
    *
    * Chosen over Jones–Plassmann deliberately: JP’s rounds equal the
    * longest decreasing-priority PATH, which on hub-heavy or
    * clique-bearing graphs is O(hub chain) — measured 46 rounds on the
    * sf0.001 heterogeneous graph and >200 on the clique-union
    * co-purchase graph — while speculation’s rounds track conflict
    * CASCADES only (measured ≤ 5 on the heterogeneous graph at every
    * gate SF; a k-clique still takes its information-theoretic k
    * rounds). Progress is guaranteed — in any same-color conflict
    * group the priority minimum wins — and winners never conflict with
    * winners, so the coloring is proper by construction.
    *
    * Per round: one colored-neighbor collect_set + mex (pure array
    * arithmetic, `array_except(sequence(0, |colors|), colors)` —
    * nonempty by pigeonhole), one conflict self-join of the tentative
    * table on the edge list. All joins shrink with the uncolored set;
    * the edge table is the loop invariant. Greedy coloring is the
    * workhorse symmetry-breaking assignment (conflict-free scheduling
    * of updates, channel/slot assignment, sparse-factorization
    * ordering).
    *
    * @return (gid, color, colored_round) for every node in `nodes` —
    *         the round attribution doubles as a convergence trace
    */
  def speculativeColoring(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 100, driverBytes: Long = Superstep.DriverBytes): DataFrame =
    speculativeColoringUnd(nodes,
      edges.select(col("gsrc").as("a"), col("gdst").as("b"))
        .filter(col("a") =!= col("b"))
        .unionByName(edges.select(col("gdst").as("a"), col("gsrc").as("b"))
          .filter(col("a") =!= col("b")))
        .distinct().localCheckpoint(),
      maxIter, driverBytes)

  /** [[speculativeColoring]] over an already-canonicalized (and
    * materialized) undirected edge table (a, b) in both directions —
    * the pinned-invariant entry point (a deployment derives the
    * symmetric edge view once per snapshot). `und0` must be
    * self-loop-free and symmetric; endpoints must be drawn from
    * `nodes`.
    *
    * `round1Palette` (the r10 A/B WINNER, shipped by the driver face):
    * round 1 proposes (first 8 md5-priority hex digits as an integer)
    * mod (deg+1) instead of the uniform mex(∅)=0, so neighbors usually
    * propose DIFFERENT colors and ~99.7% of the graph commits in ONE
    * round instead of only the priority-local-minima independent set —
    * measured 6.9 → 2.8 s at sf0.1 (round count 21 → 3). Properness,
    * ≤ Δ+1 and determinism all survive (round-1 winners ≤ deg; later
    * rounds are the unchanged mex recurrence — RandomizedAlgSpec pins
    * the variant); what it trades is color-count tightness (palette
    * colors are scattered ≤ deg, not dense-from-0). Drawing the
    * palette from the SAME md5 string the conflict rule orders by is
    * what makes the oracle mirror exact:
    * ('0x' || substring(md5(gid), 1, 8))::BIGINT in DuckDB ≡
    * conv(substring(md5(gid), 1, 8), 16, 10) here. Default false =
    * the classic Jones–Plassmann-style recurrence for library callers.
    */
  def speculativeColoringUnd(nodes: DataFrame, und0: DataFrame,
      maxIter: Int = 100,
      driverBytes: Long = Superstep.DriverBytes,
      round1Palette: Boolean = false): DataFrame = {
    val width = Width.forRows(und0, und0.count())
    Superstep.scope(und0, width) {
      // Loop state is fully incremental — the committed color table is
      // never re-read inside the loop: each uncolored node CARRIES the
      // color set of its already-colored neighbors (`cs`, fed by the
      // winners adjacent to it when they commit), and the live edge
      // set keeps only loser–loser edges (the only ones that can still
      // conflict or notify). Both shrink geometrically with the
      // uncolored set, so rounds 3+ cost the straggler tail, not the
      // graph.
      var eLive = und0.coalesce(width)
      val uncol0 = nodes.select(col("gid"),
        md5(col("gid").cast("string")).as("pri"),
        array().cast("array<long>").as("cs"))
      var uncol = (if (!round1Palette) uncol0
        else {
          // the speculation palette: one degree aggregation, used only
          // by round 1's tentative. Drawn from the SAME md5 priority
          // string the conflict rule already orders by (first 8 hex
          // digits as an integer, mod deg+1 — ≤ deg keeps the Δ+1
          // bound), so the oracle mirrors it exactly:
          // ('0x' || substring(md5(gid), 1, 8))::BIGINT % (deg + 1)
          val deg = und0.groupBy(col("a").as("dgid"))
            .agg(count(lit(1)).cast("long").as("__deg"))
          uncol0.join(deg, col("gid") === col("dgid"), "left")
            .select(col("gid"), col("pri"), col("cs"),
              pmod(conv(substring(col("pri"), 1, 8), 16, 10).cast("long"),
                coalesce(col("__deg"), lit(0L)) + 1L).as("palette"))
        })
        .localCheckpoint()
      var uncolRows = uncol.count()
      val sels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var round = 0
      while (uncolRows > 0 && round < maxIter) {
        round += 1
        // tentative = mex over the carried colored-neighbor colors
        // (round 1 under the A/B knob: the hash palette instead of the
        // uniform 0 — cs is empty, so there is nothing to mex around)
        val mex = when(size(col("cs")) === 0, lit(0L)).otherwise(
          array_min(array_except(
            sequence(lit(0L), size(col("cs")).cast("long")),
            col("cs"))))
        val tent = uncol.select(col("gid"), col("pri"),
            col("cs"),
            (if (round1Palette && round == 1) col("palette") else mex)
              .as("tent"))
          .localCheckpoint()
        // losers: a live neighbor proposes the same color with smaller
        // priority — the conflict-group minimum always wins
        val tl = hintSmall(tent.select(col("gid").as("la"),
          col("pri").as("lpri"), col("tent").as("ltent")), uncolRows)
        val tr = hintSmall(tent.select(col("gid").as("rb"),
          col("pri").as("rpri"), col("tent").as("rtent")), uncolRows)
        val (loserIds, mLoser) = Superstep.step("peel.contract", eLive
          .join(tl, col("a") === col("la"))
          .join(tr, col("b") === col("rb") && col("ltent") === col("rtent") &&
            col("rpri") < col("lpri"), "left_semi")
          .select(col("la").as("gid")).distinct())
        val loserRows = mLoser.getLong(0)
        val sel = tent
          .join(hintSmall(loserIds.select(col("gid").as("lg")), loserRows),
            tent("gid") === col("lg"), "left_anti")
          .select(tent("gid"), col("tent").as("color"),
            lit(round).as("colored_round"))
          .localCheckpoint()
        sels += sel
        // notify surviving losers of their new colored neighbors, then
        // contract the live edges to loser–loser pairs
        val winNbr = eLive
          .join(hintSmall(sel.select(col("gid").as("wb"),
              col("color").as("wcolor")), uncolRows - loserRows),
            col("b") === col("wb"))
          .groupBy(col("a")).agg(collect_set(col("wcolor")).as("addCs"))
        val (uncolNext, mUncol) = Superstep.step("peel.contract", tent
          .join(hintSmall(loserIds.select(col("gid").as("lg")), loserRows),
            tent("gid") === col("lg"), "left_semi")
          .join(winNbr, tent("gid") === col("a"), "left")
          .select(tent("gid"), col("pri"),
            array_union(col("cs"),
              coalesce(col("addCs"), array().cast("array<long>"))).as("cs")))
        uncol = uncolNext
        uncolRows = mUncol.getLong(0)
        if (uncolRows > 0) {
          eLive = eLive
            .join(hintSmall(loserIds.select(col("gid").as("sa")), loserRows),
              col("a") === col("sa"), "left_semi")
            .join(hintSmall(loserIds.select(col("gid").as("sb")), loserRows),
              col("b") === col("sb"), "left_semi")
            .localCheckpoint()
          // Driver tail: the conflict cascade shrinks geometrically,
          // but each distributed round still pays the fixed scheduling
          // floor (~0.25 s at 32 threads) — measured 17 tail rounds
          // carrying < 8% of the nodes. Once the uncolored frontier and
          // its live edges fit the driver budget, finish the IDENTICAL
          // recurrence in memory: same tentative/mex, same conflict
          // rule, same round numbering — bit-equal to the distributed
          // rounds (the equality the RandomizedAlgSpec replay pins).
          val uncolBytes = Superstep.bytes(uncol, uncolRows)
          if (uncolBytes <= driverBytes &&
              uncolBytes + Superstep.bytes(eLive, eLive.count()) <= driverBytes) {
            val adj = collectAdj(eLive)
            val pri = scala.collection.mutable.Map.empty[Long, String]
            val cs = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
            uncol.collect().foreach { r =>
              pri(r.getLong(0)) = r.getString(1)
              cs(r.getLong(0)) = scala.collection.mutable.Set(
                r.getSeq[Long](2): _*)
            }
            var undec = pri.keySet.toSet
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
            while (undec.nonEmpty && round < maxIter) {
              round += 1
              val tent = undec.iterator.map { v =>
                v -> Iterator.from(0).map(_.toLong).find(!cs(v).contains(_)).get
              }.toMap
              val losers = undec.filter(v =>
                adj.getOrElse(v, Nil).exists(w => undec.contains(w) &&
                  tent(w) == tent(v) && pri(w) < pri(v)))
              val winners = undec -- losers
              winners.foreach(v => out += ((v, tent(v), round)))
              losers.foreach(v => adj.getOrElse(v, Nil).foreach { w =>
                if (winners.contains(w)) cs(v) += tent(w)
              })
              undec = losers
            }
            require(undec.isEmpty,
              s"speculativeColoring: $maxIter rounds exhausted with ${undec.size} uncolored")
            sels += nodes.sparkSession.createDataFrame(out.toSeq)
              .toDF("gid", "color", "colored_round")
            uncolRows = 0
          }
        }
      }
      require(uncolRows == 0,
        s"speculativeColoring: $maxIter rounds exhausted with $uncolRows uncolored")
      if (sels.isEmpty)
        nodes.select(col("gid"), lit(0L).as("color"),
          lit(0).as("colored_round")).limit(0)
      else sels.reduce(_ unionByName _)
    } // scope
  }

  /** HyperANF (Boldi, Rosa & Vigna, WWW 2011): the approximate
    * neighborhood function N(h) = Σ_v |ball(v, h)| via per-node HLL
    * sketches — THE way to profile distances on graphs where exact
    * all-pairs BFS is infeasible (the neighborhood function yields
    * effective diameter, average distance, and reachability mass).
    * Each node starts as the singleton sketch of itself; one round
    * unions every node's sketch with its neighbors' (register-wise
    * max — commutative, associative, idempotent, so the state is a
    * pure function of the ball CONTENTS, independent of layout,
    * batching, or union order), and N(h) reads as the sum of
    * per-node estimates. Per round: one edge⋈state join + one
    * sketch-merging groupBy — the sketch (2^lgK registers, ~KBs)
    * replaces the Θ(n)-bit reachable set that makes exact ANF
    * quadratic; hop-h state stays n × sketch-size at any graph size.
    * Small balls sit in the sketch's exact (coupon) regime, so on
    * gate-scale graphs the estimates are exact-tracking; the ~1.6%
    * (lgK = 12) relative σ applies to the large-ball regime —
    * GraphAlgSpec pins both.
    *
    * @return (hop, n_reachable_pairs) for hop = 0..maxHops — hop 0 is
    *         n (every node reaches itself), a built-in sanity row
    */
  def neighborhoodFunction(nodes: DataFrame, edges: DataFrame,
      maxHops: Int, lgK: Int = 12): DataFrame =
    neighborhoodFunctionUnd(nodes,
      edges.select(col("gsrc").as("a"), col("gdst").as("b"))
        .filter(col("a") =!= col("b"))
        .unionByName(edges.select(col("gdst").as("a"), col("gsrc").as("b"))
          .filter(col("a") =!= col("b")))
        .distinct().localCheckpoint(),
      maxHops, lgK)

  /** [[neighborhoodFunction]] over an already-symmetric materialized
    * undirected edge view — the pinned-invariant entry point. Edge
    * endpoints must be drawn from `nodes` (the standing contract of
    * this module): an endpoint absent from `nodes` would materialize
    * as phantom state after one union round. */
  def neighborhoodFunctionUnd(nodes: DataFrame, und0: DataFrame,
      maxHops: Int, lgK: Int = 12): DataFrame = {
    val width = Width.forRows(und0, und0.count())
    Superstep.scope(und0, width) {
      val e = und0.coalesce(width)
      // each hop's total rides its checkpoint job as the observed
      // aggregate. hll_sketch_estimate is integer-valued (LongType) in
      // Spark, so the total is an exact integer sum — no float order
      // sensitivity anywhere in the output
      val total = sum(hll_sketch_estimate(col("sk")))
      val (st0, m0) = Superstep.step("frontier.round", nodes.groupBy(col("gid"))
        .agg(hll_sketch_agg(col("gid"), lgK).as("sk")), total)
      var st = st0
      val out = scala.collection.mutable.ArrayBuffer((0, m0.getLong(0)))
      for (h <- 1 to maxHops) {
        val (next, mh) = Superstep.step("frontier.round",
          e.join(st.select(col("gid").as("bg"), col("sk")),
              col("b") === col("bg"))
            .select(col("a").as("gid"), col("sk"))
            .unionByName(st)
            .groupBy(col("gid")).agg(hll_union_agg(col("sk")).as("sk")),
          total)
        st = next
        out += ((h, mh.getLong(0)))
      }
      nodes.sparkSession.createDataFrame(out.toSeq).toDF("hop", "n_reachable_pairs")
    } // scope
  }

  /** Deterministic greedy MAXIMAL MATCHING: fixed edge priority
    * pri(a,b) = md5("a_b") over the canonical (a < b) simple edge list,
    * each round admitting every live edge whose priority beats every
    * edge sharing an endpoint (= the edge is the minimum at BOTH its
    * endpoints), then removing the matched endpoints and their
    * incident edges. This is [[maximalIndependentSet]] on the line
    * graph — and unlike vertex coloring, line-graph cliques (stars)
    * are harmless: a star resolves one edge per its whole clique in
    * one round, so rounds stay O(log m) expected even on hub-heavy
    * graphs. The result is THE sequential greedy matching of the
    * priority order — unique, layout-independent — and its matched
    * endpoints form the classic 2-approximate minimum vertex cover.
    * Per round: one endpoint-exploded groupBy (each endpoint's minimum
    * incident priority) and one double equi-join re-admitting the
    * two-sided minima; the live edge set shrinks by every matched
    * star.
    *
    * @return (a, b, match_round) for matched edges, rounds from 1
    */
  def maximalMatching(edges: DataFrame, maxIter: Int = 100,
      driverBytes: Long = Superstep.DriverBytes): DataFrame = {
    val canon0 = edges.select(
        least(col("gsrc"), col("gdst")).as("a"),
        greatest(col("gsrc"), col("gdst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .withColumn("pri", md5(concat_ws("_", col("a"), col("b"))))
      .localCheckpoint()
    val width = Width.forRows(canon0, canon0.count())
    Superstep.scope(canon0, width) {
      var live = canon0.coalesce(width)
      var liveRows = canon0.count()
      val sels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var round = 0
      while (liveRows > 0 && round < maxIter) {
        round += 1
        val ends = live.select(col("a").as("v"), col("pri"))
          .unionByName(live.select(col("b").as("v"), col("pri")))
        val nodeMin = ends.groupBy(col("v")).agg(min(col("pri")).as("mp"))
        val sel = live
          .join(hintSmall(nodeMin.select(col("v").as("va"), col("mp").as("mpa")),
            2 * liveRows), col("a") === col("va") && col("pri") === col("mpa"))
          .join(hintSmall(nodeMin.select(col("v").as("vb"), col("mp").as("mpb")),
            2 * liveRows), col("b") === col("vb") && col("pri") === col("mpb"))
          .select(col("a"), col("b"), lit(round).as("match_round"))
          .localCheckpoint()
        sels += sel
        val matchedNodes = sel.select(col("a").as("v"))
          .unionByName(sel.select(col("b").as("v"))).distinct()
        val (liveNext, mLive) = Superstep.step("peel.contract", live
          .join(matchedNodes.select(col("v").as("ma")),
            col("a") === col("ma"), "left_anti")
          .join(matchedNodes.select(col("v").as("mb")),
            col("b") === col("mb"), "left_anti"))
        live = liveNext
        liveRows = mLive.getLong(0)
        // Driver tail (the speculativeColoring pattern): once the live
        // edge set fits the driver budget, finish the identical
        // recurrence in memory — the tail rounds are scheduling floor,
        // and the in-memory rounds are the same recurrence the
        // RandomizedAlgSpec sequential-greedy equality pins.
        if (liveRows > 0 && Superstep.bytes(live, liveRows) <= driverBytes) {
          val rows = live.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getString(2)))
          var liveSeq = rows.toSeq
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
          while (liveSeq.nonEmpty && round < maxIter) {
            round += 1
            val minAt = scala.collection.mutable.Map.empty[Long, String]
            liveSeq.foreach { case (a, b, pri) =>
              if (!minAt.get(a).exists(_ <= pri)) minAt(a) = pri
              if (!minAt.get(b).exists(_ <= pri)) minAt(b) = pri
            }
            val won = liveSeq.filter { case (a, b, pri) =>
              minAt(a) == pri && minAt(b) == pri }
            won.foreach { case (a, b, _) => out += ((a, b, round)) }
            val matched = won.flatMap { case (a, b, _) => Seq(a, b) }.toSet
            liveSeq = liveSeq.filter { case (a, b, _) =>
              !matched.contains(a) && !matched.contains(b) }
          }
          require(liveSeq.isEmpty,
            s"maximalMatching: $maxIter rounds exhausted with ${liveSeq.size} live edges")
          sels += live.sparkSession.createDataFrame(out.toSeq).toDF("a", "b", "match_round")
          liveRows = 0
        }
      }
      require(liveRows == 0,
        s"maximalMatching: $maxIter rounds exhausted with $liveRows live edges")
      if (sels.isEmpty)
        canon0.select(col("a"), col("b"), lit(0).as("match_round")).limit(0)
      else sels.reduce(_ unionByName _)
    } // scope
  }

  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val und0 = edges.select(col("gsrc").as("a"), col("gdst").as("b"))
      .filter(col("a") =!= col("b"))
      .unionByName(edges.select(col("gdst").as("a"), col("gsrc").as("b"))
        .filter(col("a") =!= col("b")))
      .distinct().localCheckpoint()
    val width = Width.forRows(edges, und0.count())
    Superstep.scope(edges, width) {
    var e = und0.coalesce(width)
    var aliveRows = -1L
    var converged = false
    var iter = 0
    var alive = e.select(col("a").as("gid")).distinct().localCheckpoint()
    while (!converged && iter < maxIter) {
      iter += 1
      // each undirected edge appears as (a,b) AND (b,a), so the groupBy
      // on `a` counts every node's full degree in the surviving subgraph
      val (survivors, m) = Superstep.step("peel.contract",
        e.groupBy(col("a")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("a").as("gid")))
      val n = m.getLong(0)
      converged = n == aliveRows
      aliveRows = n
      alive = survivors
      if (!converged && n > 0) {
        e = Superstep.step("peel.contract", e
          .join(hintSmall(survivors.select(col("gid").as("sa")), n),
            col("a") === col("sa"), "left_semi")
          .join(hintSmall(survivors.select(col("gid").as("sb")), n),
            col("b") === col("sb"), "left_semi"))._1
      } else if (n == 0) converged = true
    }
    alive
    } // scope
  }

  /** INCREMENTAL fixed-k core maintenance under edge ARRIVALS — the
    * cohesion-state member of the incremental family (beside CC labels,
    * triangles, MSF, SCC). k-core membership is MONOTONE under
    * insertion: the old core's induced subgraph is unchanged-or-denser,
    * so old members never leave, and the EXACT joiner set is a cascade
    * the base fit's maximality pins to a bounded region. A non-core
    * node with no new edge and no joining neighbor would need ≥ k OLD
    * edges into the old core — but then (old core ∪ {v}) was already a
    * k-core subgraph, contradicting the base peel's maximality. So
    * every joiner lies in R = nodes reachable from the delta endpoints
    * through {non-core, post-batch degree ≥ k} nodes — a
    * frontier-bounded BFS — and the joiner set is exactly the fixed-k
    * peel on R with PERMANENT degree credits for old-core neighbors
    * (old-core nodes are never peeled: they cannot leave). Per-batch
    * cost is the cascade region's edges, never the corpus — the
    * g_cc_incr discipline applied to cohesion state.
    *
    * @param baseCore pinned old-core membership, one `gid` column
    * @param und      POST-batch undirected symmetric DEDUPED edge list
    *                 (a, b) — base ∪ delta pairs distinct'd before
    *                 symmetrization (a base pair re-observed in the
    *                 delta must not double a degree)
    * @param seeds    delta-pair endpoints, one `gid` column
    * @param degOpt   post-batch degree table (a, d) over the deduped
    *                 edge view, when the caller maintains it
    *                 incrementally (the streaming face folds additive
    *                 bumps per trigger); None recomputes from `und`
    */
  def kCoreIncremental(baseCore: DataFrame, und: DataFrame, seeds: DataFrame,
      k: Int, maxIter: Int = 100, degOpt: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // chained folds pass an already-checkpointed core — skip the copy
    val core = materializeInvariant(baseCore.select(col("gid")))
    // candidate universe: non-core nodes that post-batch COULD have k
    // core-or-candidate neighbors (degree < k disqualifies outright)
    val cand = degOpt
      .getOrElse(und.groupBy(col("a")).agg(count(lit(1)).as("d")))
      .filter(col("d") >= k).select(col("a").as("gid"))
      .join(core, Seq("gid"), "left_anti")
      .localCheckpoint()
    // reach: BFS from the delta endpoints through the candidate set
    var visited = seeds.select(col("gid")).distinct()
      .join(cand, Seq("gid"), "left_semi").localCheckpoint()
    var frontier = visited
    var frontierN = frontier.count()
    var iter = 0
    while (frontierN > 0 && iter < maxIter) {
      iter += 1
      val (next, m) = Superstep.step("frontier.round", und
          .join(hintSmall(frontier.select(col("gid").as("a")), frontierN),
            Seq("a"), "left_semi")
          .select(col("b").as("gid")).distinct()
          .join(cand, Seq("gid"), "left_semi")
          .join(visited, Seq("gid"), "left_anti"))
      frontier = next
      frontierN = m.getLong(0)
      if (frontierN > 0) visited = visited.unionByName(frontier).localCheckpoint()
    }
    require(frontierN == 0,
      s"kCoreIncremental reach: $maxIter BFS rounds exhausted before fixpoint")
    // peel R with permanent credits for old-core neighbors
    val rEdges = und
      .join(visited.select(col("gid").as("a")), Seq("a"), "left_semi")
      .localCheckpoint() // a ∈ R, b anywhere — read by credits + region legs
    val credits = rEdges
      .join(core.select(col("gid").as("b")), Seq("b"), "left_semi")
      .groupBy(col("a")).agg(count(lit(1)).as("cr"))
      .localCheckpoint()
    var alive = visited
    var aliveEdges = rEdges
      .join(visited.select(col("gid").as("b")), Seq("b"), "left_semi")
      .localCheckpoint()
    var aliveN = -1L
    var converged = false
    iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      val (survivors, m) = Superstep.step("peel.contract", alive.select(col("gid").as("a"))
        .join(credits, Seq("a"), "left")
        .join(aliveEdges.groupBy(col("a")).agg(count(lit(1)).as("rd")),
          Seq("a"), "left")
        .filter(coalesce(col("cr"), lit(0L)) +
          coalesce(col("rd"), lit(0L)) >= k)
        .select(col("a").as("gid")))
      val n = m.getLong(0)
      converged = n == aliveN
      aliveN = n
      alive = survivors
      if (!converged && n > 0) {
        aliveEdges = Superstep.step("peel.contract", aliveEdges
            .join(hintSmall(survivors.select(col("gid").as("sa")), n),
              col("a") === col("sa"), "left_semi")
            .join(hintSmall(survivors.select(col("gid").as("sb")), n),
              col("b") === col("sb"), "left_semi"))._1
      } else if (n == 0) converged = true
    }
    require(converged,
      s"kCoreIncremental peel: $maxIter rounds exhausted before fixpoint")
    core.unionByName(alive)
  }

  /** Incremental connected-components maintenance: fold a batch of NEW
    * edges into an existing (gid, comp) labeling with DELTA-SCALE work —
    * the incremental-view-maintenance face of [[connectedComponents]].
    * New edges can only MERGE components, so contracting each touched
    * component to its label and running CC on that contracted graph
    * (delta-edge-scale: its node set is touched components + unseen
    * nodes, its edge set is the delta) yields the exact merge map; the
    * corpus-scale labeling is then one label-keyed remap join. Min-gid
    * labels are preserved exactly: the contracted node ids are the old
    * min-gids (plus unseen nodes as themselves), so the contracted CC's
    * min IS the merged component's global min — bit-identical to a full
    * recompute, never an approximation. A 100 TB deployment pays
    * O(delta + touched-components) per batch instead of refitting the
    * graph; this is the CDC-merge discipline applied to graph state.
    */
  def ccIncremental(prevLabels: DataFrame, newEdges: DataFrame,
      maxIter: Int = 50,
      driverBytes: Long = Superstep.DriverBytes): DataFrame = {
    // materializeInvariant, not an unconditional checkpoint: in the
    // chained-fold faces prevLabels is ALREADY the previous trigger's
    // checkpointed label state, and re-copying a node-scale table per
    // trigger is pure overhead
    val lab = materializeInvariant(prevLabels.select(col("gid"), col("comp")))
    val e = newEdges.select(col("gsrc"), col("gdst"))
    // delta endpoints relabeled to their previous component; unseen
    // nodes act as their own (singleton) component
    val (rel, mRel) = Superstep.step("stream.fold", e
      .join(lab.select(col("gid").as("gsrc"), col("comp").as("csrc")),
        Seq("gsrc"), "left")
      .join(lab.select(col("gid").as("gdst"), col("comp").as("cdst")),
        Seq("gdst"), "left")
      .select(coalesce(col("csrc"), col("gsrc")).as("gsrc"),
        coalesce(col("cdst"), col("gdst")).as("gdst")))
    val relRows = mRel.getLong(0)
    // Driver tail: the contracted graph is delta-scale BY CONSTRUCTION
    // — when it fits the driver budget, a min-root union-find replaces
    // the multi-round distributed CC loop (the per-trigger fold faces
    // otherwise pay the whole loop's scheduling floor per batch). Past
    // the budget the checkpointed loop takes over.
    val merged = if (Superstep.bytes(rel, relRows) <= driverBytes) minRootFrame(rel)
    else {
      val cNodes = rel.select(col("gsrc").as("gid"))
        .unionByName(rel.select(col("gdst").as("gid"))).distinct()
      // the CC loop already returns a projection over its checkpointed
      // final round — materializeInvariant skips the redundant copy
      materializeInvariant(connectedComponents(cNodes, rel, maxIter, driverBytes))
    }
    // remap previous labels through the merge map (untouched components
    // pass through), then add the delta-only nodes with their labels
    val prevMapped = lab
      .join(merged.select(col("gid").as("comp"), col("comp").as("nc")),
        Seq("comp"), "left")
      .select(col("gid"), coalesce(col("nc"), col("comp")).as("comp"))
    val deltaOnly = e.select(col("gsrc").as("gid"))
      .unionByName(e.select(col("gdst").as("gid"))).distinct()
      .join(lab.select(col("gid")), Seq("gid"), "left_anti")
      .join(merged.select(col("gid"), col("comp")), Seq("gid"))
    prevMapped.unionByName(deltaOnly)
  }

  /** Weighted k-core: iterative peeling by WEIGHTED degree — drop nodes
    * whose incident edge-weight sum is < minWeight, shrink the edge set
    * to surviving endpoints, repeat to fixpoint. The strength-of-ties
    * face of [[kCore]] (reference stores typed edge properties the
    * unweighted core ignores — same motivation as the weighted
    * rank/label-prop variants). `wEdges` is the canonical undirected
    * edge list (gsrc < gdst) with an integer weight column `w`; integer
    * weights keep every peeling decision exact in any partitioning
    * order, so cross-engine parity needs no float discipline. Same
    * loop/plan shape as kCore: per round one weighted-degree groupBy +
    * two semi-joins against the shrinking survivor set.
    */
  def kCoreWeighted(wEdges: DataFrame, minWeight: Long,
      maxIter: Int = 100): DataFrame = {
    require(minWeight >= 1, s"minWeight must be >= 1, got $minWeight")
    val und0 = wEdges.select(col("gsrc").as("a"), col("gdst").as("b"), col("w"))
      .filter(col("a") =!= col("b"))
      .unionByName(wEdges
        .select(col("gdst").as("a"), col("gsrc").as("b"), col("w"))
        .filter(col("a") =!= col("b")))
      .localCheckpoint()
    val width = Width.forRows(wEdges, und0.count())
    Superstep.scope(wEdges, width) {
    val base = und0.coalesce(width)
    // Depth-1 lineage per round: the round-k subgraph is the BASE edge
    // list induced on the CURRENT survivor set (survivors only shrink,
    // so filtering the immutable base ≡ iteratively shrinking an edge
    // state) — one checkpointed node-set per round instead of kCore's
    // two materializations (edge state + survivors), and both semi-join
    // probes broadcast the (node-scale) survivor set into the base scan.
    var aliveRows = -1L
    var converged = false
    var iter = 0
    var alive = base.select(col("a").as("gid")).distinct().localCheckpoint()
    while (!converged && iter < maxIter) {
      iter += 1
      val e =
        if (iter == 1) base
        else base
          .join(hintSmall(alive.select(col("gid").as("sa")), aliveRows),
            col("a") === col("sa"), "left_semi")
          .join(hintSmall(alive.select(col("gid").as("sb")), aliveRows),
            col("b") === col("sb"), "left_semi")
      val (survivors, m) = Superstep.step("peel.contract",
        e.groupBy(col("a")).agg(sum(col("w")).as("wdeg"))
          .filter(col("wdeg") >= minWeight)
          .select(col("a").as("gid")))
      val n = m.getLong(0)
      converged = n == aliveRows || n == 0
      aliveRows = n
      alive = survivors
    }
    alive
    } // scope
  }

  /** Global triangle count over an undirected simple graph given as
    * (gsrc, gdst) pairs (any orientation, multiplicity allowed — they
    * are canonicalized to a<b and deduped here).
    *
    * Degree-ordered node-iterator: orient every edge from its
    * lower-(degree, id) endpoint to the higher one, build wedges from
    * each node's out-neighbors, and close them against the canonical
    * edge set. Orienting by degree bounds every out-degree by O(√m), so
    * wedge volume is O(m^1.5) even on skewed graphs — id-ordered
    * self-joins blow up quadratically on high-degree hubs. The
    * (potentially expensive) upstream edge derivation is checkpointed
    * once instead of recomputed per join leg.
    *
    * Counting is edge-iterator over adjacency arrays rather than a wedge
    * self-join: for each oriented edge (u,w) the triangle count is
    * |N⁺(u) ∩ N⁺(w)|, computed by `array_intersect` on collected
    * out-neighbor arrays. Total CPU is still the wedge volume, but no
    * wedge row ever hits the wire — the only shuffles are the adjacency
    * groupBy and two m-row joins (AQE broadcasts the adjacency side when
    * it fits; each array is ≤ O(√m) entries by the orientation bound).
    */
  /** The degree-ordered edge-iterator invariants shared by the triangle
    * family (global count + per-node clustering coefficient): degree
    * table, oriented edges, adjacency lists. Prepared once and pinned
    * per session like RankGraph/AdjGraph.
    */
  final case class OrientedGraph(deg: DataFrame, oriented: DataFrame, adj: DataFrame)

  def prepareOriented(edges: DataFrame): OrientedGraph = {
    val (d, o, a) = orientedAdjacency(edges)
    OrientedGraph(d, o, a)
  }

  /** Shared triangle machinery: canonical undirected simple edges, the
    * degree table, and the degree-ordered orientation with its adjacency
    * lists (the edge-iterator layout — wedge volume O(m^1.5), no wedge
    * row ever shuffled).
    */
  private def orientedAdjacency(edges: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val canon = edges.select(
      least(col("gsrc"), col("gdst")).as("a"),
      greatest(col("gsrc"), col("gdst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val deg = canon.select(col("a").as("v")).unionAll(canon.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient low-rank → high-rank, rank = (degree, id)
    val oriented = canon
      .join(deg.select(col("v").as("va"), col("d").as("da")), col("a") === col("va"))
      .join(deg.select(col("v").as("vb"), col("d").as("db")), col("b") === col("vb"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("w")))
          .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
      .localCheckpoint()
    val adj = oriented.groupBy(col("u")).agg(collect_list(col("w")).as("nbrs"))
    (deg, oriented, adj)
  }

  def triangleCount(edges: DataFrame): DataFrame =
    triangleCount(prepareOriented(edges))

  def triangleCount(g: OrientedGraph): DataFrame =
    // inner joins: an endpoint absent from adj has no out-neighbors and
    // contributes 0 triangles on that edge anyway
    g.oriented
      .join(g.adj.select(col("u").as("au"), col("nbrs").as("nu")), col("u") === col("au"))
      .join(g.adj.select(col("u").as("aw"), col("nbrs").as("nw")), col("w") === col("aw"))
      .select(size(array_intersect(col("nu"), col("nw"))).cast("long").as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("triangles"))

  /** INCREMENTAL triangle maintenance — the cohesion member of the
    * incremental family (CC labels, rank vectors, LSH indexes, and now
    * triangle counts pay the DELTA, not the corpus): given the base
    * graph's canonical pair set, its undirected adjacency arrays, and
    * its exact triangle count, fold a batch of candidate new edges and
    * return the exact FULL-graph count.
    *
    * Inclusion–exclusion over new-edge membership: a triangle with k
    * new edges is counted k − C(k,2) + C(k,3) = 1 time by
    * S1 − S2 + S3, where
    *  - S1 = Σ over new edges (a,b) of |N_full(a) ∩ N_full(b)| — and
    *    both endpoints of a new edge are TOUCHED vertices, so only the
    *    delta-scale merged adjacency (base arrays ∪ new neighbors) is
    *    ever built;
    *  - S2 = new-edge pairs sharing a vertex whose closing third edge
    *    exists (in base or among the new edges) — delta²-bounded
    *    candidates, base membership via ONE broadcast-probed scan of
    *    the base pair set (no corpus shuffle);
    *  - S3 = triangles among the new edges alone (delta-scale exact
    *    count).
    * The candidate batch may overlap the base pair set — true new
    * edges are extracted with the same broadcast-probe (the base is
    * scanned, never shuffled). Exactness is provable at the gate: the
    * driver face's oracle is the FULL-recount SQL, so hash-green means
    * incremental ≡ full, bit-for-bit.
    */
  def triangleCountIncremental(basePairs: DataFrame, baseUndAdj: DataFrame,
      baseTriangles: Long, deltaPairs: DataFrame): DataFrame = {
    val delta = deltaPairs.select(col("a"), col("b")).distinct().localCheckpoint()
    // overlap = base rows matching the (small, broadcast) delta —
    // base pairs are SCANNED map-side, never shuffled
    val overlap = basePairs
      .join(broadcast(delta), Seq("a", "b"), "left_semi").localCheckpoint()
    val ne = delta.join(broadcast(overlap), Seq("a", "b"), "left_anti")
      .localCheckpoint()
    // merged adjacency for touched vertices only (delta-scale)
    val newNbrs = ne.select(col("a").as("v"), col("b").as("u"))
      .unionByName(ne.select(col("b").as("v"), col("a").as("u")))
      .groupBy(col("v")).agg(collect_set(col("u")).as("newn"))
      .localCheckpoint()
    // broadcast-probe the node-scale adjacency for TOUCHED vertices
    // first (one scan, no shuffle of the array table), then merge small
    // against small
    val touchedAdj = baseUndAdj
      .join(broadcast(newNbrs.select(col("v").as("tv"))),
        col("v") === col("tv"), "left_semi")
      .select(col("v").as("bv"), col("nbrs"))
    val merged = newNbrs
      .join(broadcast(touchedAdj), col("v") === col("bv"), "left")
      .select(col("v"),
        array_sort(array_union(coalesce(col("nbrs"),
          array().cast("array<long>")), col("newn"))).as("nbrs"))
      .localCheckpoint()
    val s1 = ne
      .join(merged.select(col("v").as("va"), col("nbrs").as("na")), col("a") === col("va"))
      .join(merged.select(col("v").as("vb"), col("nbrs").as("nb")), col("b") === col("vb"))
      .agg(coalesce(sum(size(array_intersect(col("na"), col("nb"))).cast("long")),
        lit(0L)).as("s1"))
    // new-edge pairs sharing a vertex → closing third edge (u1 < u2)
    val d1 = ne.select(col("a").as("v"), col("b").as("u"))
      .unionByName(ne.select(col("b").as("v"), col("a").as("u")))
    val d2 = d1.select(col("v").as("v2"), col("u").as("u2"))
    val cand = d1.join(d2, col("v") === col("v2") && col("u") < col("u2"))
      .select(col("u").as("a"), col("u2").as("b"))
      .localCheckpoint()
    val thirdInBase = basePairs
      .join(broadcast(cand.distinct()), Seq("a", "b"), "left_semi")
    val s2a = cand.join(broadcast(thirdInBase), Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("s2a"))
    val s2b = cand.join(ne, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("s2b"))
    val s3 = triangleCount(ne.select(col("a").as("gsrc"), col("b").as("gdst")))
      .select(col("triangles").as("s3"))
    // every side is a one-row aggregate: hint them so a cold planner
    // never shuffles a scalar (the sibling faces' discipline)
    Superstep.audit("drain.fold",
      s1.crossJoin(broadcast(s2a)).crossJoin(broadcast(s2b))
        .crossJoin(broadcast(s3))
        .select((lit(baseTriangles) + col("s1") - col("s2a") - col("s2b") +
          col("s3")).as("triangles")))
  }

  /** DOULION sampled triangle estimate (Tsourakakis et al. KDD 2009)
    * for the exact-infeasible regime: keep each canonical edge
    * independently with probability p, count triangles EXACTLY on the
    * sampled graph with the same degree-ordered edge-iterator, scale
    * by 1/p³ — an unbiased estimator whose expected work drops by p in
    * edges and p³ in wedge volume (the O(m^1.5) exact pass is fine
    * here but painful at 100× on a denser graph; p is THE knob, with
    * variance ∝ 1/p³ per triangle). The keep decision is a seeded
    * hash of the canonical edge — derandomized, engine- and
    * partitioning-independent, so the estimate is a pure function of
    * (graph, p, seed); error bounds vs exact are pinned in
    * RandomizedAlgSpec.
    */
  def triangleCountSampled(edges: DataFrame, p: Double,
      seed: Long): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"sampling rate must be in (0,1], got $p")
    val grain = 1L << 20
    val keep = pmod(
      xxhash64(least(col("gsrc"), col("gdst")),
        greatest(col("gsrc"), col("gdst")), lit(seed)),
      lit(grain)) < lit(math.round(p * grain))
    triangleCount(edges.filter(keep))
      .select(round(col("triangles") / lit(p * p * p), 1).as("triangles_est"),
        lit(p).as("sample_p"))
  }

  /** Per-node triangle participation + local clustering coefficient
    * cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — how close each node's
    * neighborhood is to a clique (community-density / spam-structure
    * signal). Same edge-iterator as [[triangleCount]]; instead of
    * summing intersection SIZES, the intersection ELEMENTS explode so
    * each triangle credits its three corners — 3 rows per triangle,
    * shuffled on the node key once. Nodes with deg < 2 report cc 0.
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame =
    clusteringCoefficient(prepareOriented(edges))

  def clusteringCoefficient(g: OrientedGraph): DataFrame = {
    val (deg, oriented, adj) = (g.deg, g.oriented, g.adj)
    val corners = oriented
      .join(adj.select(col("u").as("au"), col("nbrs").as("nu")), col("u") === col("au"))
      .join(adj.select(col("u").as("aw"), col("nbrs").as("nw")), col("w") === col("aw"))
      .select(col("u"), col("w"), explode(array_intersect(col("nu"), col("nw"))).as("x"))
      .select(explode(array(col("u"), col("w"), col("x"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("tri"))
    deg.join(corners.withColumnRenamed("v", "cv"), col("v") === col("cv"), "left")
      .select(col("v"), col("d"),
        coalesce(col("tri"), lit(0L)).as("triangles"),
        when(col("d") >= 2,
          round(lit(2.0) * coalesce(col("tri"), lit(0L)) /
            (col("d") * (col("d") - 1)), 6)).otherwise(lit(0.0)).as("cc"))
  }

  /** k-truss: the maximal subgraph in which every EDGE participates in
    * ≥ k−2 triangles (edge-level cohesion — one level up from k-core's
    * node degrees; the community-backbone extractor). Peeling loop:
    * per round, count per-edge support with the degree-ordered
    * edge-iterator (same O(m^1.5)-wedge layout as [[triangleCount]] —
    * intersections happen on adjacency ARRAYS, each triangle ships as
    * exactly 3 (edge, +1) credit rows, no wedge row ever hits the
    * wire), drop under-supported edges, repeat to fixpoint. The edge
    * set only shrinks, so round cost tracks the surviving subgraph; a
    * support drop can only be caused by a removed edge, which is why
    * peeling converges rather than oscillates.
    *
    * Returns the canonical (a < b) surviving edges.
    */
  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    val minSup = k - 2
    val canon0 = edges.select(
        least(col("gsrc"), col("gdst")).as("a"),
        greatest(col("gsrc"), col("gdst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint()
    val width = Width.forRows(edges, canon0.count())
    Superstep.scope(edges, width) {
      var e = canon0.coalesce(width)
      var rows = -1L
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        iter += 1
        val g = prepareOriented(
          e.select(col("a").as("gsrc"), col("b").as("gdst")))
        // each triangle (u,w,x) credits its three canonical edges
        val support = g.oriented
          .join(g.adj.select(col("u").as("au"), col("nbrs").as("nu")),
            col("u") === col("au"))
          .join(g.adj.select(col("u").as("aw"), col("nbrs").as("nw")),
            col("w") === col("aw"))
          .select(col("u"), col("w"),
            explode(array_intersect(col("nu"), col("nw"))).as("x"))
          .select(explode(array(
            struct(least(col("u"), col("w")).as("a"),
              greatest(col("u"), col("w")).as("b")),
            struct(least(col("u"), col("x")).as("a"),
              greatest(col("u"), col("x")).as("b")),
            struct(least(col("w"), col("x")).as("a"),
              greatest(col("w"), col("x")).as("b")))).as("te"))
          .select(col("te.a").as("a"), col("te.b").as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
        // edges in no triangle have no support row: the inner filter on
        // the aggregated table drops them exactly like support 0 would
        val (kept, m) = Superstep.step("peel.contract",
          support.filter(col("sup") >= minSup).select(col("a"), col("b")))
        val n = m.getLong(0)
        converged = n == rows || n == 0
        rows = n
        e = kept
      }
      // mirror the SQL oracle's fixpoint assertion (trussSql errors on
      // non-convergence): a truncated peel is NOT a k-truss and must
      // fail loudly, not surface as a downstream hash mismatch
      require(converged, s"kTruss: $maxIter rounds exhausted before fixpoint")
      e
    } // scope
  }

  /** INCREMENTAL fixed-k truss maintenance under edge ARRIVALS — the
    * edge-cohesion member of the incremental family, completing the
    * cohesion ladder (CC labels → core membership → triangle counts →
    * truss backbone) at delta cost. Truss membership is MONOTONE under
    * insertion (the old truss's supporting triangles are intact), and
    * the base peel's MAXIMALITY pins the joiner cascade exactly as for
    * k-core, one level up: a triangle-adjacency component of joining
    * edges with no delta edge attached would have every supporting
    * triangle inside (old truss ∪ component) using only OLD edges —
    * i.e. the base graph already contained a larger k-truss,
    * contradicting maximality. So joiners live in R = edges reachable
    * from the (non-base) delta edges through triangles of the
    * post-batch graph whose stepped-onto edge is VIABLE (post-batch
    * support ≥ k−2 — checked lazily per touched edge as
    * |N(u) ∩ N(v)|, never a corpus support pass), and the exact joiner
    * set is the support peel on R where a triangle credits an R-edge
    * iff its other two edges are in (old truss ∪ R-alive) — old-truss
    * edges are permanent members and are never peeled. Per-round
    * membership checks broadcast-PROBE the pinned truss (map-side scan
    * keyed by the round's candidate edges), never shuffle it.
    *
    * @param baseTruss pinned old-truss canonical edge list (a, b)
    * @param adj       POST-batch undirected adjacency arrays (v, nbrs)
    *                  over the deduped simple graph
    * @param deltaEdges new canonical edges (a, b), a < b. Re-observed
    *                  base-TRUSS edges are dropped here; callers
    *                  should anti-join other base re-observations
    *                  (they change nothing — the graph is simple — but
    *                  would seed the reach BFS and inflate the cascade
    *                  region under heavy base-overlapping deltas)
    */
  def kTrussIncremental(baseTruss: DataFrame, adj: DataFrame,
      deltaEdges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    val minSup = k - 2
    val truss = baseTruss.select(col("a"), col("b")).localCheckpoint()
    // viability + triangle steps both read two adjacency arrays per edge
    def withNbrs(e: DataFrame): DataFrame = e
      .join(adj.select(col("v").as("a"), col("nbrs").as("na")), Seq("a"))
      .join(adj.select(col("v").as("b"), col("nbrs").as("nb")), Seq("b"))
    def viable(e: DataFrame): DataFrame = withNbrs(e)
      .filter(size(array_intersect(col("na"), col("nb"))) >= minSup)
      .select(col("a"), col("b"))
    // the two non-frontier edges of each triangle on a frontier edge
    def triStep(e: DataFrame): DataFrame = withNbrs(e)
      .select(col("a"), col("b"),
        explode(array_intersect(col("na"), col("nb"))).as("x"))
      .select(explode(array(
        struct(least(col("a"), col("x")).as("a"),
          greatest(col("a"), col("x")).as("b")),
        struct(least(col("b"), col("x")).as("a"),
          greatest(col("b"), col("x")).as("b")))).as("te"))
      .select(col("te.a").as("a"), col("te.b").as("b"))
      .distinct()
    // reach: BFS from the genuinely-new delta edges through viable edges
    var visited = viable(
        deltaEdges.select(col("a"), col("b")).distinct()
          .join(truss, Seq("a", "b"), "left_anti"))
      .localCheckpoint()
    var frontier = visited
    var frontierN = frontier.count()
    var iter = 0
    while (frontierN > 0 && iter < maxIter) {
      iter += 1
      val (next, m) = Superstep.step("frontier.round", viable(
          triStep(frontier)
            .join(truss, Seq("a", "b"), "left_anti")
            .join(visited, Seq("a", "b"), "left_anti")))
      frontier = next
      frontierN = m.getLong(0)
      if (frontierN > 0) visited = visited.unionByName(frontier).localCheckpoint()
    }
    require(frontierN == 0,
      s"kTrussIncremental reach: $maxIter BFS rounds exhausted before fixpoint")
    // peel R: a triangle credits an alive edge iff BOTH other edges are
    // old-truss or alive
    var alive = visited
    var aliveN = -1L
    var converged = false
    iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      val tris = withNbrs(alive)
        .select(col("a"), col("b"),
          explode(array_intersect(col("na"), col("nb"))).as("x"))
        .select(col("a"), col("b"),
          least(col("a"), col("x")).as("e1a"), greatest(col("a"), col("x")).as("e1b"),
          least(col("b"), col("x")).as("e2a"), greatest(col("b"), col("x")).as("e2b"))
        .localCheckpoint()
      val (ce, mCe) = Superstep.step("peel.contract",
        tris.select(col("e1a").as("a"), col("e1b").as("b"))
          .unionByName(tris.select(col("e2a").as("a"), col("e2b").as("b")))
          .distinct())
      val ceN = mCe.getLong(0)
      // membership subset: one map-side probe of the corpus-scale truss
      // (build side = the round's bounded candidate-edge set) + alive;
      // the cascade region is usually tiny but is NOT bounded a priori,
      // so the broadcast goes through the same size gate as the k-core
      // sibling's frontier/survivor probes
      val members = truss.join(hintSmall(ce, ceN), Seq("a", "b"), "left_semi")
        .unionByName(alive.join(hintSmall(ce, ceN), Seq("a", "b"), "left_semi"))
        .localCheckpoint()
      val (survivors, m) = Superstep.step("peel.contract", tris
          .join(members.select(col("a").as("e1a"), col("b").as("e1b")),
            Seq("e1a", "e1b"), "left_semi")
          .join(members.select(col("a").as("e2a"), col("b").as("e2b")),
            Seq("e2a", "e2b"), "left_semi")
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
          .filter(col("sup") >= minSup)
          .select(col("a"), col("b")))
      val n = m.getLong(0)
      converged = n == aliveN
      aliveN = n
      alive = survivors
      if (n == 0) converged = true
    }
    require(converged,
      s"kTrussIncremental peel: $maxIter rounds exhausted before fixpoint")
    truss.unionByName(alive)
  }

  /** Adamic-Adar link prediction over an undirected simple graph:
    * score(x,y) = Σ_{z ∈ N(x)∩N(y)} 1/ln(deg z) for NON-adjacent pairs
    * sharing at least one neighbor — the classic common-neighbor signal
    * weighted against hub centers. Returns the top-k pairs as
    * (x, y, score rounded to 6 dp, common) ordered by the ROUNDED score
    * (then x, y): rounding before the cutoff keeps the selected set
    * identical across engines despite summation-order ULP noise (same
    * rationale as PageRank's top-100).
    *
    * Shape: wedges enumerate through their center (one self-join of the
    * neighbor list on the center key — the same O(Σ deg²) volume as
    * triangle counting, shuffled on the center key only), aggregate on
    * the pair, anti-join the edge set. deg(z)=1 centers produce no
    * wedge, so 1/ln(deg) never divides by zero. At corpus scale the
    * optional `maxCenterDegree` drops mega-hub centers from wedge
    * generation — a hub's per-pair contribution 1/ln(deg) is already
    * negligible, and the cap bounds the quadratic blowup on skewed
    * graphs (opt-in, default unbounded, same posture as the dedup
    * bucket caps).
    */
  def adamicAdar(edges: DataFrame, topK: Int,
      maxCenterDegree: Long = Long.MaxValue): DataFrame = {
    val canon = edges.select(
        least(col("gsrc"), col("gdst")).as("a"),
        greatest(col("gsrc"), col("gdst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint()
    val und = canon.unionByName(canon.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("z")).agg(count(lit(1)).as("dz"))
    val nb = und.select(col("a").as("z"), col("b").as("n"))
      .join(deg.filter(col("dz") <= maxCenterDegree), "z")
    val wedges = nb.select(col("z"), col("n").as("x"), col("dz"))
      .join(nb.select(col("z").as("z2"), col("n").as("y")),
        col("z") === col("z2") && col("x") < col("y"))
      .select(col("x"), col("y"), (lit(1.0) / log(col("dz").cast("double"))).as("w"))
    val scores = wedges.groupBy(col("x"), col("y"))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("common"))
    scores
      .join(canon, scores("x") === canon("a") && scores("y") === canon("b"), "left_anti")
      .select(col("x"), col("y"), round(col("score"), 6).as("score"), col("common"))
      .orderBy(col("score").desc, col("x"), col("y")).limit(topK)
  }

  /** Seed-bounded Adamic-Adar — the recommender form, and the one that
    * scales: score only pairs whose FIRST endpoint is in `seeds`
    * ((gid); directed output, x ∈ seeds). Full-pair AA enumerates every
    * wedge (Σ deg²/2 — 148M on the sf0.1 co-purchase graph, which is
    * near-REGULAR at avg degree ~120, so no degree cap can prune it);
    * anchoring one endpoint bounds the volume at |seeds|·avg_deg²,
    * independent of graph size — the per-item/per-user candidate
    * generation real recommenders run. Same scoring, rounding, and
    * deterministic top-k cutoff as [[adamicAdar]].
    */
  /** Loop/lookup invariants of neighborhood-scoring queries over one
    * graph: the deduped undirected edge set (both orientations) and the
    * degree-annotated neighbor list — built once, reusable across seed
    * sets (callers serving several queries pin them, like [[RankGraph]]).
    */
  final case class AdjGraph(und: DataFrame, nb: DataFrame)

  def prepareAdjacency(edges: DataFrame): AdjGraph = {
    val canon = edges.select(
        least(col("gsrc"), col("gdst")).as("a"),
        greatest(col("gsrc"), col("gdst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint()
    val und = canon.unionByName(canon.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint() // feeds deg, both wedge legs, and the anti-join
    val deg = und.groupBy(col("a").as("z")).agg(count(lit(1)).as("dz"))
    val nb = und.select(col("a").as("z"), col("b").as("n")).join(deg, "z")
      .localCheckpoint()
    AdjGraph(und, nb)
  }

  def adamicAdarFor(edges: DataFrame, seeds: DataFrame, topK: Int): DataFrame =
    adamicAdarFor(prepareAdjacency(edges), seeds, topK)

  def adamicAdarFor(g: AdjGraph, seeds: DataFrame, topK: Int): DataFrame = {
    // wedges anchored on a seed endpoint: (z, s∈seeds) × (z, y), s ≠ y
    val seedNb = g.nb.join(broadcast(seeds.select(col("gid").as("n"))), "n")
    val wedges = seedNb.select(col("z"), col("n").as("s"), col("dz"))
      .join(g.nb.select(col("z").as("z2"), col("n").as("y")),
        col("z") === col("z2") && col("s") =!= col("y"))
      .select(col("s"), col("y"), (lit(1.0) / log(col("dz").cast("double"))).as("w"))
    val scores = wedges.groupBy(col("s"), col("y"))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("common"))
    // drop already-adjacent pairs: und holds both orientations, so one
    // directed anti-join covers (s,y) adjacency either way
    scores
      .join(g.und, scores("s") === g.und("a") && scores("y") === g.und("b"), "left_anti")
      .select(col("s").as("x"), col("y"), round(col("score"), 6).as("score"), col("common"))
      .orderBy(col("score").desc, col("x"), col("y")).limit(topK)
  }

  /** Borůvka minimum spanning forest. Each round every component picks
    * its minimum incident cross-edge under the TOTAL order
    * (w, a, b) — the lexicographic perturbation that makes the MSF
    * unique and the per-round selection cycle-free even with tied
    * weights — then components merge by connected components over the
    * selected component-graph (re-using [[connectedComponents]];
    * that table is component-count sized and shrinks ≥2× per round, so
    * the outer loop is O(log n) rounds of edge-relabel + argmin
    * shuffles). The classic distributed MST recipe (Borůvka 1926 /
    * GHS lineage): per-round work is linear in surviving cross-edges,
    * state is one label per node.
    *
    * @param edges (gsrc, gdst, w) undirected weighted (direction ignored)
    * @return forest edges (a, b, w), a < b
    */
  def minimumSpanningForest(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 20, driverBytes: Long = Superstep.DriverBytes): DataFrame =
    minimumSpanningForestWithComponents(nodes, edges, maxRounds, driverBytes)._1

  /** [[minimumSpanningForest]] plus the forest's connected components
    * (gid, comp) for free: Borůvka's contraction merges labels exactly
    * along the picked edges starting from singletons, so the final
    * label table IS the forest's (equivalently the graph's) component
    * assignment — callers that need both (e.g. a spanning-forest
    * summary: n_components + acyclicity) must not pay a second CC fit
    * over the forest they just built.
    */
  def minimumSpanningForestWithComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 20,
      driverBytes: Long = Superstep.DriverBytes): (DataFrame, DataFrame) = {
    val canon = edges.select(
        least(col("gsrc"), col("gdst")).as("a"),
        greatest(col("gsrc"), col("gdst")).as("b"), col("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .localCheckpoint()
    var comp = nodes.select(col("gid"), col("gid").as("comp")).localCheckpoint()
    // per-round selections accumulate lazily (≤ log n rounds, each a
    // checkpointed leaf — no per-round forest materialization)
    val picked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      val ec = canon
        .join(comp.select(col("gid").as("a"), col("comp").as("ca")), "a")
        .join(comp.select(col("gid").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      // every component sees its incident cross-edges from both sides
      val inc = ec.select(col("ca").as("c"),
          struct(col("w"), col("a"), col("b"), col("cb").as("oc")).as("e"))
        .unionByName(ec.select(col("cb").as("c"),
          struct(col("w"), col("a"), col("b"), col("ca").as("oc")).as("e")))
      // zero extra actions per round: the selection count (termination
      // probe + contraction-strategy pivot) rides the checkpoint job
      val (sel, mSel) = Superstep.step("peel.contract",
        inc.groupBy(col("c")).agg(min(col("e")).as("e"))
          .select(col("c"), col("e.w").as("w"), col("e.a").as("a"),
            col("e.b").as("b"), col("e.oc").as("oc")))
      val selCnt = mSel.getLong(0)
      if (selCnt == 0) done = true
      else {
        picked += sel.select(col("a"), col("b"), col("w"))
        // contract along the selected component graph. The pair table is
        // component-count bounded and halves per round — when it fits
        // the driver budget, a driver union-find replaces the
        // distributed CC loop (the mapping is label-sized metadata,
        // never node-sized data); past the budget the checkpointed CC
        // loop takes over.
        val pairs = sel.select(col("c").as("gsrc"), col("oc").as("gdst"))
        val mapping = (if (Superstep.bytes(pairs, selCnt) <= driverBytes)
            broadcast(minRootFrame(pairs))
          else connectedComponents(comp.select(col("comp").as("gid")).distinct(),
            pairs, driverBytes = driverBytes))
          .select(col("gid").as("oldc"), col("comp").as("newc"))
        comp = comp.select(col("gid"), col("comp").as("oldc"))
          .join(mapping, Seq("oldc"), "left")
          .select(col("gid"), coalesce(col("newc"), col("oldc")).as("comp"))
          .localCheckpoint()
      }
    }
    val forest =
      if (picked.isEmpty) canon.select(col("a"), col("b"), col("w")).limit(0)
      else picked.reduce(_ unionByName _).distinct()
    (forest, comp)
  }

  /** INCREMENTAL minimum spanning forest under edge insertions and
    * weight DECREASES — the sparsification identity (Eppstein et al.'s
    * certificate lineage) applied as CDC maintenance: the new MSF is
    * contained in (base forest ∪ updated edges), so one MSF run over a
    * node-scale + delta-scale candidate set replaces the corpus
    * re-peel.
    *
    * Correctness (cut/cycle property under the lexicographic total
    * order (w, a, b) that makes the MSF unique): take any old edge f
    * outside both the base forest and the update set. f ∉ MSF(G_old)
    * means f is the strict maximum on some cycle C under the total
    * order. In G', every other edge of C either kept its weight or
    * DECREASED (the only update this fold admits — insertions are
    * decreases from +∞), and f's weight is unchanged, so f is still
    * the maximum on C and stays outside MSF(G'). Hence MSF(G') ⊆
    * baseForest ∪ updated, and because the candidate set spans the
    * same components as G', the unique MSF of the candidate set IS
    * MSF(G') — bit-identical to a full refit, which is what the
    * shared-oracle gate and the randomized spec assert. A weight
    * INCREASE or deletion breaks the argument (an evicted edge must
    * re-enter) — callers with non-monotone updates re-run the full
    * fit; the co-purchase substrate (w = 1/support, support only
    * grows) is decrease-only by construction.
    *
    * @param baseForest (a, b, w) — the pinned previous fit, a < b
    * @param updated    (a, b, w) — delta-touched edges carrying their
    *                   NEW weights (new edges included); a < b
    * @return (forest edges, component labels) as
    *         [[minimumSpanningForestWithComponents]]
    */
  def msfIncremental(nodes: DataFrame, baseForest: DataFrame,
      updated: DataFrame, maxRounds: Int = 20): (DataFrame, DataFrame) = {
    val upd = updated.select(col("a"), col("b"), col("w")).localCheckpoint()
    val keep = baseForest
      .join(upd.select(col("a").as("ua"), col("b").as("ub")),
        col("a") === col("ua") && col("b") === col("ub"), "left_anti")
    minimumSpanningForestWithComponents(nodes,
      keep.unionByName(upd)
        .select(col("a").as("gsrc"), col("b").as("gdst"), col("w")),
      maxRounds)
  }

  /** Seed-anchored neighborhood Jaccard — the set-overlap
    * link-prediction score: J(s,y) = |N(s)∩N(y)| / |N(s)∪N(y)| for
    * non-adjacent pairs with s ∈ seeds. Same anchored-wedge shape (and
    * the same |seeds|·avg_deg² volume bound) as [[adamicAdarFor]];
    * the union size needs both endpoint degrees, picked up by two joins
    * against the degree face of `nb` after the pair aggregation — so
    * the degree lookups ride on the already-reduced pair table, never
    * the wedge stream. Rounded-score cutoff as everywhere.
    */
  def jaccardFor(g: AdjGraph, seeds: DataFrame, topK: Int): DataFrame = {
    val seedNb = g.nb.join(broadcast(seeds.select(col("gid").as("n"))), "n")
    val wedges = seedNb.select(col("z"), col("n").as("s"))
      .join(g.nb.select(col("z").as("z2"), col("n").as("y")),
        col("z") === col("z2") && col("s") =!= col("y"))
      .select(col("s"), col("y"))
    val common = wedges.groupBy(col("s"), col("y"))
      .agg(count(lit(1)).as("common"))
    val deg = g.nb.select(col("z"), col("dz")).distinct()
    val scored = common
      .join(deg.select(col("z").as("s"), col("dz").as("ds")), "s")
      .join(deg.select(col("z").as("y"), col("dz").as("dy")), "y")
      .select(col("s"), col("y"), col("common"),
        round(col("common").cast("double") /
          (col("ds") + col("dy") - col("common")), 6).as("jaccard"))
    scored
      .join(g.und, scored("s") === g.und("a") && scored("y") === g.und("b"), "left_anti")
      .select(col("s").as("x"), col("y"), col("jaccard"), col("common"))
      .orderBy(col("jaccard").desc, col("x"), col("y")).limit(topK)
  }

  /** Seed-anchored Swing item-similarity over a bipartite
    * (container, item) incidence table — the substitute-detection
    * recommender from Alibaba's production stack (Yang et al. 2020,
    * "Large Scale Product Graph Construction for Recommendation"):
    * items i,j are similar when many CONTAINER PAIRS co-hold both, and
    * each pair's vote is discounted by how much the two containers
    * overlap overall — 1/(α + |I_u ∩ I_v|) — so two near-identical
    * carts add little evidence while independent co-occurrences add a
    * lot (the robustness-to-cliques property common-neighbor scores
    * lack). Anchoring pairs on a seed item bounds the container-pair
    * volume by Σ_seed |U_seed|² — graph-size-independent, the same
    * scale discipline as [[adamicAdarFor]]; the per-pair intersection
    * runs on sorted adjacency arrays inside the map stage (the
    * edge-iterator trick), never as a joined item stream.
    *
    * Float discipline: contributions are exact integers
    * floor(1e6/(α+k) + 0.5), summed as longs, divided once at the end
    * (the BM25/dataset-card treatment), so the top-k cutoff is
    * ULP-stable in any engine.
    *
    * @param incidence (o, p) distinct container-item pairs
    * @param seeds     one-column item frame (p) to anchor on
    */
  def swingFor(incidence: DataFrame, seeds: DataFrame, alpha: Double,
      topK: Int): DataFrame = {
    val items = incidence.groupBy(col("o"))
      .agg(array_sort(collect_set(col("p"))).as("ps"))
      .localCheckpoint() // feeds both sides of the pair join
    val so = incidence
      .join(broadcast(seeds.select(col("p").as("seed"))), col("p") === col("seed"))
      .select(col("seed"), col("o"))
    val pairs = so.select(col("seed"), col("o").as("u"))
      .join(so.select(col("seed").as("s2"), col("o").as("v")),
        col("seed") === col("s2") && col("u") < col("v"))
      .select(col("seed"), col("u"), col("v"))
    val inter = pairs
      .join(items.select(col("o").as("u2"), col("ps").as("psu")), col("u") === col("u2"))
      .join(items.select(col("o").as("v2"), col("ps").as("psv")), col("v") === col("v2"))
      .select(col("seed"), array_intersect(col("psu"), col("psv")).as("sh"))
    val contrib = inter
      .select(col("seed"),
        explode(col("sh")).as("j"),
        floor(lit(1e6) / (lit(alpha) + size(col("sh"))) + lit(0.5))
          .cast("long").as("c6"))
      .filter(col("j") =!= col("seed"))
    contrib.groupBy(col("seed"), col("j"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("c6")).as("s6"))
      .select(col("seed").as("part_a"), col("j").as("part_b"), col("n_pairs"),
        round(col("s6") / 1e6, 6).as("swing"))
      .orderBy(col("swing").desc, col("part_a"), col("part_b")).limit(topK)
  }

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * across the undirected edge list (each edge contributing both
    * orientations — the standard estimator for undirected graphs).
    * Positive = hubs attach to hubs; negative = hub-leaf (disassortative,
    * the common shape of co-occurrence graphs). One degree aggregation,
    * two node-sized shuffle joins, one corr() scalar: corr is
    * scale-invariant so the (n-1) normalization convention cancels and
    * any engine agrees to ULP.
    */
  def degreeAssortativity(g: AdjGraph): DataFrame = {
    val deg = g.nb.select(col("z"), col("dz")).distinct()
    g.und
      .join(deg.select(col("z").as("a"), col("dz").as("da")), "a")
      .join(deg.select(col("z").as("b"), col("dz").as("db")), "b")
      .agg(round(corr(col("da").cast("double"), col("db").cast("double")), 6)
          .as("assortativity"),
        (count(lit(1)) / 2).cast("long").as("n_edges"))
  }

  /** Community detection by synchronous label propagation with a
    * deterministic tie-break (smallest label among the most frequent).
    * Fixed iteration count keeps it reproducible.
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val und0 = edges.select(col("gsrc").as("a"), col("gdst").as("b"))
      .unionByName(edges.select(col("gdst").as("a"), col("gsrc").as("b")))
      .localCheckpoint()
    val width = Width.forRows(edges, und0.count())
    // ALWAYS co-partitioned, unlike the size-adaptive siblings: label
    // prop re-broadcasts TWO state tables per round (labels + votes),
    // and the A/B at sf0.1 has the co-partitioned loop faster even in
    // isolation (4.3 s vs 6.1 s) and far more robust inside a full
    // 100-query bench run (5.3 s vs 9-26 s) — the per-round driver
    // collect+build behind each broadcast is the part that stalls under
    // full-run driver-heap pressure, and this path does zero of them.
    Superstep.scope(edges, width) {
    val undirected = und0.repartition(width, col("b")).localCheckpoint()
    var labels = nodes.select(col("gid"), col("gid").as("community"))
      .repartition(width, col("gid")).localCheckpoint()
    for (_ <- 1 to iters) {
      // majority vote with smallest-label tie-break in ONE aggregation:
      // mode(deterministic = true) is "most frequent, ties broken by the
      // lowest value" — exactly these semantics — and as a typed
      // imperative aggregate it partial-merges per-group count maps, so
      // one exchange per round instead of the count-then-argmax pair
      val best = undirected.join(labels.hint("shuffle_hash"), col("b") === col("gid"))
        .groupBy(col("a"))
        .agg(mode(col("community"), deterministic = true).as("newc"))
      labels = Superstep.step("frontier.round", labels
        .join(best.hint("shuffle_hash"), labels("gid") === col("a"), "left")
        .select(labels("gid"), coalesce(col("newc"), col("community")).as("community")))._1
    }
    labels
    } // scope
  }

  /** WEIGHTED label propagation: each neighbor's vote counts with its
    * edge weight (tie at equal weight mass → lowest label, the same
    * deterministic rule as [[labelPropagation]]'s mode). Integer-typed
    * weights keep the vote sums exact in any summation/partitioning
    * order — full cross-engine parity with no float discipline needed.
    *
    * `wEdges` is the canonical undirected edge list (gsrc < gdst) with
    * a weight column `w`; both directions are materialized here. Per
    * round: one (node, label)-keyed vote aggregation + one node-keyed
    * argmax + the co-partitioned join back — two exchanges instead of
    * mode's one (weighted mode has no builtin typed aggregate; the vote
    * table is bounded by the label count per neighborhood, so the extra
    * exchange is node-scale, never edge-scale).
    */
  def labelPropagationWeighted(nodes: DataFrame, wEdges: DataFrame,
      iters: Int): DataFrame = {
    val und0 = wEdges.select(col("gsrc").as("a"), col("gdst").as("b"), col("w"))
      .unionByName(wEdges.select(col("gdst").as("a"), col("gsrc").as("b"), col("w")))
      .localCheckpoint()
    val width = Width.forRows(wEdges, und0.count())
    Superstep.scope(wEdges, width) {
    val undirected = und0.repartition(width, col("b")).localCheckpoint()
    var labels = nodes.select(col("gid"), col("gid").as("community"))
      .repartition(width, col("gid")).localCheckpoint()
    for (_ <- 1 to iters) {
      val votes = undirected.join(labels.hint("shuffle_hash"), col("b") === col("gid"))
        .groupBy(col("a"), col("community")).agg(sum(col("w")).as("wv"))
      // max(struct(wv, -community)): heaviest vote mass first, then the
      // LOWEST label on a tie — the weighted mirror of deterministic mode
      val best = votes.groupBy(col("a"))
        .agg(max(struct(col("wv"), (-col("community")).as("negc"))).as("m"))
        .select(col("a"), (-col("m.negc")).as("newc"))
      labels = Superstep.step("frontier.round", labels
        .join(best.hint("shuffle_hash"), labels("gid") === col("a"), "left")
        .select(labels("gid"), coalesce(col("newc"), col("community")).as("community")))._1
    }
    labels
    } // scope
  }

  /** Exact strongly connected components of a DIRECTED (gsrc, gdst)
    * edge set, by forward–backward min-label peeling — the distributed
    * SCC scheme (FW-BW / coloring family, cf. Hong et al. "On Fast
    * Parallel Detection of Strongly Connected Components"): each phase
    * propagates, over the still-unsettled subgraph, the minimum node id
    * reachable FORWARD from each node (F) and BACKWARD (B) to fixpoint;
    * a node with F(v) = B(v) = m reaches m and is reached by m, so it
    * lies in SCC(m) — and m is that SCC's minimum (any smaller mutual
    * reacher would have lowered F). Settled nodes leave the subgraph
    * and the phase repeats. Progress is guaranteed: the remaining
    * subgraph's global-minimum id always settles its own SCC, so phases
    * ≤ #SCCs (in practice a handful — each phase also settles every
    * node whose F and B happen to agree, which sweeps all sources/sinks
    * of the condensation reachable from their own minimum).
    *
    * Output (gid, scc) with scc = the SCC's minimum member id — the
    * CANONICAL labeling, a pure function of the graph independent of
    * algorithm, phase batching, or layout (which is what makes the face
    * oracle-checkable against a closure-based SQL definition).
    *
    * Each inner fixpoint round is one join + groupBy-min on the live
    * edge set (same shape as [[connectedComponents]], directed); rounds
    * are bounded by the longest min-label chain. Driver tail: once the
    * unsettled nodes AND their remainder-INDUCED edge set together fit
    * the driver budget (a small remainder can still carry a dense
    * million-edge subgraph, the MIS/matching edge-guard lesson), finish
    * with a driver-side Tarjan — legitimate here BECAUSE the output is
    * canonical (SccSpec pins distributed ≡ driver on random digraphs).
    * The collected edge set is always the remainder-induced one; over
    * the budget the distributed phases simply continue.
    */
  def stronglyConnectedComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 500,
      driverBytes: Long = Superstep.DriverBytes,
      broadcastBytes: Long = Superstep.BroadcastBytes): DataFrame = {
    val dirE = edges.select(col("gsrc").as("a"), col("gdst").as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val dirECount = dirE.count()
    val width = Width.forRows(edges, dirECount)
    Superstep.scope(edges, width) {
      var remaining = nodes.select(col("gid")).distinct().localCheckpoint()
      var remRows = remaining.count()
      var result: DataFrame = null
      var liveE = dirE.coalesce(width).localCheckpoint()
      // invariant from here: liveE is induced on `remaining` after every
      // phase, and liveECount tracks it — at entry the remainder is all
      // of `nodes`, so dirE is trivially induced
      var liveECount = dirECount
      def liveBytes = Superstep.bytes(remaining, remRows) + Superstep.bytes(liveE, liveECount)
      var rounds = 0
      var phase = 0
      while (remRows > 0 && liveBytes > driverBytes) {
        phase += 1
        require(phase <= maxRounds,
          s"stronglyConnectedComponents: $maxRounds phases exhausted with $remRows unsettled")
        // min-label fixpoint along out-edges (F) and in-edges (B) on
        // the live subgraph; both run the connectedComponents loop
        // shape with the state broadcast/shuffle crossover
        def minLabel(e: DataFrame): DataFrame = {
          var lab = remaining.select(col("gid"), col("gid").as("m"))
          val small = Superstep.bytes(lab, remRows) <= broadcastBytes
          lab = (if (small) lab else lab.repartition(width, col("gid")))
            .localCheckpoint()
          var converged = false
          while (!converged) {
            rounds += 1
            require(rounds <= maxRounds,
              s"stronglyConnectedComponents: $maxRounds rounds exhausted")
            val nbrMin = e
              .join(stateHint(lab.select(col("gid").as("nb"), col("m").as("nm")), small),
                col("b") === col("nb"))
              .groupBy(col("a")).agg(min(col("nm")).as("nmin"))
            val (next, m) = Superstep.step("frontier.round", lab
              .join(stateHint(nbrMin, small), lab("gid") === col("a"), "left")
              .select(lab("gid"),
                least(lab("m"), coalesce(col("nmin"), lab("m"))).as("m"),
                (least(lab("m"), coalesce(col("nmin"), lab("m"))) =!= lab("m"))
                  .as("changed")),
              changedRows)
            converged = m.getLong(0) == 0L
            lab = next.select(col("gid"), col("m"))
          }
          lab
        }
        val fwd = minLabel(liveE)
        val bwd = minLabel(liveE.select(col("b").as("a"), col("a").as("b")))
        val settled = fwd.join(bwd.select(col("gid"), col("m").as("bm")), Seq("gid"))
          .filter(col("m") === col("bm"))
          .select(col("gid"), col("m").as("scc"))
          .localCheckpoint()
        result = if (result == null) settled else result.unionByName(settled)
        remaining = remaining
          .join(settled.select(col("gid")), Seq("gid"), "left_anti")
          .localCheckpoint()
        remRows = remaining.count()
        if (remRows > 0) {
          liveE = liveE
            .join(hintSmall(remaining.select(col("gid").as("ra")), remRows),
              col("a") === col("ra"), "left_semi")
            .join(hintSmall(remaining.select(col("gid").as("rb")), remRows),
              col("b") === col("rb"), "left_semi")
            .localCheckpoint()
          liveECount = liveE.count()
        } else liveECount = 0L
      }
      if (remRows > 0) {
        // driver-side Tarjan on the unsettled remainder: the canonical
        // min-member labeling is algorithm-independent, so this is the
        // identical FUNCTION, not merely the identical recurrence. The
        // loop condition guarantees the collected set is the
        // remainder-induced edge set within the driver budget — never
        // the raw edge table (the r8 latent-OOM finding)
        require(liveBytes <= driverBytes,
          s"scc driver tail: $liveECount induced edges exceed $driverBytes bytes")
        val remSet = remaining.collect().map(_.getLong(0)).toSet
        val out = tarjanSccMin(remSet,
          collectAdj(liveE).map { case (v, ws) => v -> ws.filter(remSet) })
        val local = nodes.sparkSession.createDataFrame(out.toSeq).toDF("gid", "scc")
        result = if (result == null) local else result.unionByName(local)
      }
      if (result == null)
        nodes.select(col("gid"), col("gid").as("scc")).limit(0)
      else result
    } // scope
  }

  /** Distributed Louvain community detection (Blondel et al. 2008,
    * distributed-memory formulation à la Grappolo/Spark-Louvain):
    * repeated LOCAL-MOVE rounds — every node evaluates the modularity
    * gain of adopting each neighbor community and the positive-gain
    * winners move — followed by graph CONTRACTION (communities become
    * super-nodes carrying self-loop weight), for `levels` levels.
    *
    * Determinism and correctness of simultaneous moves:
    * - Gains compare in EXACT integer arithmetic: the float ΔQ is
    *   scaled by 2m² → gain2 = 2m·(w_{v→B} − w_{v→A∖v}) −
    *   k_v·(Σtot(B) − Σtot(A) + k_v), every term an integer (unit/
    *   summed edge weights) — no ULP ties, so the argmax with the
    *   (gain2 desc, community asc) tie-break is a pure function of the
    *   graph.
    * - Every positive-gain winner OF THE ROUND'S PARITY CLASS moves
    *   simultaneously each round (the
    *   parallel Louvain sweep — one-mover-per-neighborhood schemes were
    *   measured to starve dense graphs: 8 rounds moved <10% of the
    *   co-purchase nodes). Simultaneity admits one persistent
    *   oscillator — two adjacent SINGLETON communities adopting each
    *   other's label forever — broken by the Grappolo min-label rule
    *   (singleton→singleton moves only toward the smaller community
    *   id; Lu, Halappanavar & Kalyanaraman 2015). Other stale-gain
    *   interactions are second-order and damped by re-evaluation next
    *   round; rounds are FIXED-count so the algorithm is a
    *   deterministic fold regardless.
    *
    * Self-loops (contracted intra-community mass) ride along: they
    * never affect move gains (a node's self-loop moves with it and
    * stays intra) but contribute to strengths and to m, which is where
    * the level-2 arithmetic needs them.
    *
    * Returns (gid, community) on the ORIGINAL node ids, community =
    * min member id (canonical labeling). One shuffle per round (the
    * neighbor-community weight groupBy) — label-prop cost with a
    * modularity objective; contraction is one groupBy on community
    * pairs. LouvainSpec pins planted recovery, determinism, and
    * modularity ≥ the label-prop partition on the real graph.
    */
  def louvain(nodes: DataFrame, edges: DataFrame, levels: Int = 2,
      rounds: Int = 8, broadcastBytes: Long = Superstep.BroadcastBytes): DataFrame = {
    val canon0 = edges.select(
        least(col("gsrc"), col("gdst")).as("a"),
        greatest(col("gsrc"), col("gdst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .select(col("a"), col("b"), lit(1L).as("w"))
      .localCheckpoint()
    val width = Width.forRows(edges, canon0.count())
    // every loop-state checkpoint is stats-clamped (see LoopCheckpoint:
    // this loop joins state-derived frames against each other, the shape
    // that compounds carried size estimates geometrically)
    def ck(df: DataFrame): DataFrame = LoopCheckpoint.clampStats(df.localCheckpoint())
    Superstep.scope(edges, width) {
      // level-local state: canon (a<b, w), selfW (gid, sw), projection
      // from original gid to current-level node
      var canon = ck(canon0.coalesce(width))
      var selfW = ck(nodes.select(col("gid"), lit(0L).as("sw")))
      var proj = nodes.select(col("gid"), col("gid").as("node"))
      for (level <- 1 to levels) {
        val und = ck(canon.select(col("a"), col("b"), col("w"))
          .unionByName(canon.select(col("b").as("a"), col("a").as("b"), col("w"))))
        // strength k(v) = Σ incident w + 2·selfW; m = Σ w + Σ selfW
        val strength = selfW
          .join(und.groupBy(col("a").as("gid")).agg(sum(col("w")).as("iw")),
            Seq("gid"), "left")
          .select(col("gid"),
            (coalesce(col("iw"), lit(0L)) + lit(2L) * col("sw")).as("k"))
          .transform(ck)
        val mRow = canon.agg(sum(col("w")).as("ew")).collect()(0)
        val swRow = selfW.agg(sum(col("sw")).as("sw")).collect()(0)
        val m = (if (mRow.isNullAt(0)) 0L else mRow.getLong(0)) +
          (if (swRow.isNullAt(0)) 0L else swRow.getLong(0))
        var lab = ck(strength.select(col("gid"), col("gid").as("community")))
        val small = Superstep.bytes(lab, lab.count()) <= broadcastBytes
        // convergence is parity-aware: round r only admits movers of
        // parity r mod 2, so a single zero-mover round proves nothing
        // about the OTHER class — stop only after two consecutive zero
        // rounds (one per parity), with `rounds` as the outer bound
        var zeroStreak = 0
        var r = 0
        while (zeroStreak < 2 && r < rounds) {
          r += 1
          val tot = lab.join(stateHint(strength, small), Seq("gid"))
            .groupBy(col("community")).agg(sum(col("k")).as("tot"))
          // w(v → C) for every neighbor community C, own community
          // included — the round's ONE edge-sized join, checkpointed so
          // the own-community split and the candidate scoring both read
          // the materialized node×community table instead of re-running
          // the edge join
          val nbrW = ck(und
            .join(stateHint(lab.select(col("gid").as("b"), col("community").as("cb")),
              small), Seq("b"))
            .groupBy(col("a").as("gid"), col("cb"))
            .agg(sum(col("w")).as("wvc")))
          // own-community neighbor weight (0 when v has no intra edge)
          val scored = nbrW.join(stateHint(
            lab.select(col("gid"), col("community").as("ca")), small), Seq("gid"))
          val wOwn = scored.filter(col("cb") === col("ca"))
            .select(col("gid"), col("wvc").as("wva"))
          val cand = scored
            .filter(col("cb") =!= col("ca"))
            .join(stateHint(wOwn, small), Seq("gid"), "left")
            .join(stateHint(strength, small), Seq("gid"))
            .join(stateHint(tot.select(col("community").as("ca"),
              col("tot").as("totA")), small), Seq("ca"))
            .join(stateHint(tot.select(col("community").as("cb"),
              col("tot").as("totB")), small), Seq("cb"))
            .select(col("gid"), col("ca"), col("cb"),
              (lit(2L) * lit(m) * (col("wvc") - coalesce(col("wva"), lit(0L))) -
                col("k") * (col("totB") - col("totA") + col("k"))).as("gain2"))
            .filter(col("gain2") > 0L)
          // per node: best target by (gain2 desc, community asc); every
          // positive-gain winner moves simultaneously (the parallel
          // Louvain sweep), EXCEPT the classic oscillator — two adjacent
          // SINGLETON communities each adopting the other's label swap
          // forever — which the Grappolo min-label rule breaks: a
          // singleton may join another singleton only toward the
          // SMALLER community id (Lu, Halappanavar & Kalyanaraman,
          // "Parallel heuristics for scalable community detection").
          val csize = lab.groupBy(col("community")).agg(count(lit(1)).as("cs"))
          val moversF = cand
            .groupBy(col("gid"))
            .agg(max(struct(col("gain2"), (-col("cb")).as("negc"),
              col("ca"))).as("mx"))
            .select(col("gid"), (-col("mx.negc")).as("target"),
              col("mx.ca").as("ca"))
            .join(stateHint(csize.select(col("community").as("ca"),
              col("cs").as("sizeA")), small), Seq("ca"))
            .join(stateHint(csize.select(col("community").as("target"),
              col("cs").as("sizeB")), small), Seq("target"))
            .filter(col("sizeA") > 1L || col("sizeB") > 1L ||
              col("target") < col("ca"))
            // parity-alternating sweep (round r moves only gids ≡ r mod
            // 2): the standard distributed-Louvain damping — halves the
            // simultaneous-move set so stale-gain churn can't sustain
            // itself. A/B at sf0.1: modularity 0.048 → 0.058 and the
            // mover count finally CONTRACTS (268-per-round plateau →
            // monotone decline) at the same wall-clock.
            .filter(pmod(col("gid"), lit(2L)) === lit(r % 2))
            .select(col("gid"), col("target"))
          val (moversCp, mMovers) = Superstep.step("frontier.round", moversF)
          val movers = LoopCheckpoint.clampStats(moversCp)
          val nMovers = mMovers.getLong(0)
          if (nMovers == 0) zeroStreak += 1
          else {
            zeroStreak = 0
            lab = ck(lab.join(hintSmall(movers, nMovers), Seq("gid"), "left")
              .select(col("gid"),
                coalesce(col("target"), col("community")).as("community")))
          }
        }
        // canonicalize community ids as min member (stable across levels)
        val cmin = lab.groupBy(col("community"))
          .agg(min(col("gid")).as("cmin"))
        lab = ck(lab.join(stateHint(cmin, small), Seq("community"))
          .select(col("gid"), col("cmin").as("community")))
        proj = ck(proj.join(lab.select(col("gid").as("node"), col("community")),
            Seq("node"))
          .select(col("gid"), col("community").as("node")))
        if (level < levels) {
          // contract: communities → nodes; intra mass (incl. member
          // self-loops) becomes the super-node self-loop
          val labA = lab.select(col("gid").as("a"), col("community").as("ca"))
          val labB = lab.select(col("gid").as("b"), col("community").as("cb"))
          val mapped = canon.join(stateHint(labA, small), Seq("a"))
            .join(stateHint(labB, small), Seq("b"))
            .select(col("ca"), col("cb"), col("w"))
          val inter = mapped.filter(col("ca") =!= col("cb"))
            .select(least(col("ca"), col("cb")).as("a"),
              greatest(col("ca"), col("cb")).as("b"), col("w"))
            .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
            .transform(ck)
          val intra = mapped.filter(col("ca") === col("cb"))
            .groupBy(col("ca").as("gid")).agg(sum(col("w")).as("iw"))
          val memberSelf = selfW
            .join(stateHint(lab.select(col("gid"), col("community")), small), Seq("gid"))
            .groupBy(col("community").as("gid")).agg(sum(col("sw")).as("msw"))
          selfW = lab.select(col("community").as("gid")).distinct()
            .join(intra, Seq("gid"), "left")
            .join(memberSelf, Seq("gid"), "left")
            .select(col("gid"),
              (coalesce(col("iw"), lit(0L)) + coalesce(col("msw"), lit(0L))).as("sw"))
            .transform(ck)
          canon = inter
        }
      }
      proj.select(col("gid"), col("node").as("community"))
    } // scope
  }

  /** INCREMENTAL SCC maintenance: fold a batch of new directed edges
    * into a previous canonical (min-member) SCC labeling without
    * re-peeling the graph. Edge arrivals can only MERGE SCCs, and a
    * merge happens exactly when new edges close a cycle through the
    * base CONDENSATION — so the fold works entirely on the contracted
    * graph H = base DAG edges ∪ delta edges mapped to component labels
    * (unseen endpoints act as their own singleton components, the
    * [[ccIncremental]] convention):
    *
    *  1. Delta edges whose endpoints map to the SAME component are
    *     no-ops and drop out.
    *  2. AFFECTED REGION: every node of a ≥2-node SCC of H lies on a
    *     cycle through some delta edge (the base DAG is acyclic), so
    *     it is forward-reachable from a delta target AND
    *     backward-reachable from a delta source. Two frontier BFS
    *     sweeps over H ([[bfs]]) intersect to the affected component
    *     set — delta-anchored, not condensation-wide.
    *  3. SCCs of the affected-induced subgraph of H are exactly the
    *     merge groups (the induced subgraph contains every merged SCC
    *     whole, and a subgraph can't merge what H doesn't). Component
    *     ids ARE min member gids, so the merged label (min contracted
    *     id) is the min member gid — canonical labels are preserved
    *     through contraction, exactly as in the CC fold.
    *  4. Remap: previous labels route through the merge map (untouched
    *     components pass through); delta-only nodes take their merge
    *     label or themselves.
    *
    * Work is delta-anchored: the BFS sweeps and the inner SCC touch
    * only components reachable to/from the batch on the PINNED
    * condensation — never the node-scale base labeling (that table is
    * touched once, by the final remap join).
    *
    * @param prevLabels (gid, scc) canonical base labeling
    * @param baseDag    (a, b) base inter-component edges — the pinned
    *                   condensation view (a ≠ b, deduped)
    * @param deltaEdges (gsrc, gdst) the arriving batch
    */
  def sccIncremental(prevLabels: DataFrame, baseDag: DataFrame,
      deltaEdges: DataFrame): DataFrame =
    sccIncrementalWithDag(prevLabels, baseDag, deltaEdges)._1

  /** [[sccIncremental]] plus the UPDATED condensation DAG — the state
    * pair a streaming maintainer chains fold-to-fold: the next fold's
    * `baseDag` must be the condensation of everything folded so far,
    * and it falls out of this fold for free (relabel the working edge
    * set `h` through the merge map, drop now-intra edges). Each fold
    * is exact given consistent (labels, dag) inputs, so chained folds
    * are exact on the union by induction — the s_scc_incr contract.
    */
  def sccIncrementalWithDag(prevLabels: DataFrame, baseDag: DataFrame,
      deltaEdges: DataFrame,
      driverBytes: Long = Superstep.DriverBytes)
      : (DataFrame, DataFrame) = {
    // materializeInvariant, not an unconditional checkpoint: chained
    // folds pass the previous trigger's already-checkpointed labels
    val lab = materializeInvariant(prevLabels.select(col("gid"), col("scc")))
    val d0 = deltaEdges.select(col("gsrc"), col("gdst"))
      .filter(col("gsrc") =!= col("gdst")).distinct().localCheckpoint()
    val rel = d0
      .join(lab.select(col("gid").as("gsrc"), col("scc").as("cs")),
        Seq("gsrc"), "left")
      .join(lab.select(col("gid").as("gdst"), col("scc").as("cd")),
        Seq("gdst"), "left")
      .select(coalesce(col("cs"), col("gsrc")).as("cs"),
        coalesce(col("cd"), col("gdst")).as("cd"))
      .filter(col("cs") =!= col("cd"))
      .distinct().localCheckpoint()
    val h = baseDag.select(col("a"), col("b"))
      .unionByName(rel.select(col("cs").as("a"), col("cd").as("b")))
      .distinct().localCheckpoint()
    // the frontier sweeps run over COMPONENT edges (condensation +
    // delta images), never corpus edges — when that table fits the
    // driver budget, two in-memory reachability sweeps replace
    // 2×(DAG-depth) scheduling-floor rounds (the driver-tail
    // discipline; set is exact either way, SccSpec runs both paths)
    val affected = (if (Superstep.bytes(h, h.count()) <= driverBytes) {
      val es = h.collect().map(r => (r.getLong(0), r.getLong(1)))
      val starts = rel.select(col("cs"), col("cd")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      def reach(adj: Map[Long, Seq[Long]], from: Iterable[Long]): Set[Long] = {
        val seen = scala.collection.mutable.Set(from.toSeq: _*)
        var frontier = from.toSeq
        while (frontier.nonEmpty)
          frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
            .filter(seen.add)
        seen.toSet
      }
      val fwdSet = reach(es.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap,
        starts.map(_._2).distinct)
      val bwdSet = reach(es.groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap,
        starts.map(_._1).distinct)
      val sess = h.sparkSession
      import sess.implicits._
      (fwdSet & bwdSet).toSeq.toDF("gid")
    } else {
      val fwd = bfs(h.select(col("a").as("gsrc"), col("b").as("gdst")),
        rel.select(col("cd").as("gid")).distinct(), maxHops = Int.MaxValue)
      val bwd = bfs(h.select(col("b").as("gsrc"), col("a").as("gdst")),
        rel.select(col("cs").as("gid")).distinct(), maxHops = Int.MaxValue)
      fwd.select(col("gid"))
        .join(bwd.select(col("gid")), Seq("gid"), "left_semi")
    }).localCheckpoint()
    val induced = h
      .join(affected.select(col("gid").as("ia")), col("a") === col("ia"),
        "left_semi")
      .join(affected.select(col("gid").as("ib")), col("b") === col("ib"),
        "left_semi")
    val merged = stronglyConnectedComponents(affected,
        induced.select(col("a").as("gsrc"), col("b").as("gdst")),
        driverBytes = driverBytes)
      .filter(col("gid") =!= col("scc"))
      .select(col("gid").as("c"), col("scc").as("nc"))
      .localCheckpoint()
    val prevMapped = lab
      .join(merged.select(col("c").as("scc"), col("nc")), Seq("scc"), "left")
      .select(col("gid"), coalesce(col("nc"), col("scc")).as("scc"))
    val deltaOnly = d0.select(col("gsrc").as("gid"))
      .unionByName(d0.select(col("gdst").as("gid"))).distinct()
      .join(lab.select(col("gid")), Seq("gid"), "left_anti")
      .join(merged.select(col("c").as("gid"), col("nc")), Seq("gid"), "left")
      .select(col("gid"), coalesce(col("nc"), col("gid")).as("scc"))
    // updated condensation: relabel the working component-edge set
    // through the merge map, drop edges that became intra-SCC
    val newDag = h
      .join(merged.select(col("c").as("a"), col("nc").as("na")),
        Seq("a"), "left")
      .join(merged.select(col("c").as("b"), col("nc").as("nb")),
        Seq("b"), "left")
      .select(coalesce(col("na"), col("a")).as("a"),
        coalesce(col("nb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    (prevMapped.unionByName(deltaOnly), newDag)
  }

  /** Longest-path level of every node in a DAG (level(v) = length of
    * the longest path ENDING at v): iterative relaxation — one
    * edge ⋈ level join + groupBy-max per round, rounds = DAG depth.
    * Diverges on a cyclic input by construction, so the round budget is
    * a cycle detector: exceeding it throws rather than returning wrong
    * levels (callers feed condensation DAGs, which are acyclic by
    * definition).
    */
  def dagLevels(edges: DataFrame, maxIter: Int = 2000,
      broadcastBytes: Long = Superstep.BroadcastBytes): DataFrame = {
    val dirE = edges.select(col("a"), col("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val nodes = dirE.select(col("a").as("gid"))
      .unionByName(dirE.select(col("b").as("gid"))).distinct()
    val width = Width.forRows(edges, dirE.count())
    Superstep.scope(edges, width) {
      var lev = nodes.select(col("gid"), lit(0L).as("lev")).localCheckpoint()
      val small = Superstep.bytes(lev, lev.count()) <= broadcastBytes
      var converged = false
      var iter = 0
      while (!converged) {
        iter += 1
        require(iter <= maxIter,
          s"dagLevels: $maxIter rounds exhausted — input has a cycle?")
        val push = dirE
          .join(stateHint(lev.select(col("gid").as("a"), col("lev").as("la")),
            small), Seq("a"))
          .groupBy(col("b").as("gid")).agg(max(col("la") + 1L).as("nl"))
        val (next, m) = Superstep.step("frontier.round",
          lev.join(stateHint(push, small), Seq("gid"), "left")
            .select(col("gid"),
              greatest(col("lev"), coalesce(col("nl"), col("lev"))).as("lev"),
              (greatest(col("lev"), coalesce(col("nl"), col("lev"))) =!= col("lev"))
                .as("changed")),
          changedRows)
        converged = m.getLong(0) == 0L
        lev = next.select(col("gid"), col("lev"))
      }
      lev
    } // scope
  }

  /** Temporal earliest-arrival reachability (Wu et al., VLDB 2014):
    * over edges (a, b, t) a path is TIME-RESPECTING iff its edge times
    * are non-decreasing, and arr(v) = the minimum last-edge time over
    * all time-respecting paths from the seed set. Label-correcting
    * relaxation: each round joins the temporal edge table against the
    * current arrival state (t ≥ arr(src) — the one filter that
    * distinguishes this from plain BFS), takes min(t) per destination,
    * and folds improvements into the state. Arrivals only ever
    * DECREASE and the (node, time) domain is finite, so the fold is a
    * monotone fixpoint — convergence is guaranteed and partition-order
    * independent (min is commutative); rounds are bounded by the
    * longest time-respecting path, `maxIter` is a safety valve. ONE
    * edges ⋈ state shuffle per round, state is node-scale — the SSSP
    * loop discipline with time as the distance metric.
    */
  /** `init`: a prior (gid, arr) state to WARM-START from — every entry
    * must be witnessed by a real time-respecting path over some subset
    * of `edges` (e.g. the fixpoint over yesterday's edge set). Edge
    * ADDITIONS only ever improve arrivals and the seeds ride in the
    * state, so relaxation from a sound prior reaches the identical
    * minimal fixpoint while paying only the NEW diffusion depth —
    * TemporalReachSpec asserts warm ≡ cold on random splits.
    */
  def temporalEarliestArrival(edges: DataFrame, seeds: DataFrame,
      t0: Column, maxIter: Int = 500,
      init: Option[DataFrame] = None,
      broadcastBytes: Long = Superstep.BroadcastBytes): DataFrame = {
    val e = edges.select(col("a"), col("b"), col("t"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val eCnt = e.count()
    val width = Width.forRows(edges, eCnt)
    Superstep.scope(edges, width) {
      var arr = init
        .getOrElse(seeds.select(col("gid"), t0.as("arr")))
        .select(col("gid"), col("arr")).localCheckpoint()
      // state grows toward the reached set; bound it by dst-count + seeds,
      // not the seed count, so the broadcast decision survives growth
      val small = Superstep.bytes(arr, eCnt + arr.count()) <= broadcastBytes
      var converged = false
      var iter = 0
      while (!converged) {
        iter += 1
        require(iter <= maxIter,
          s"temporalEarliestArrival: $maxIter rounds exhausted")
        val prop = e
          .join(stateHint(arr.select(col("gid").as("a"), col("arr").as("aa")),
            small), Seq("a"))
          .filter(col("t") >= col("aa"))
          .groupBy(col("b").as("gid")).agg(min(col("t")).as("cand"))
        // A broadcast hint on a full-outer build side is unsupported —
        // Spark logged the fallback every round and planned a
        // SORT-merge join. shuffle_hash IS supported for full outer
        // (since 3.1): same exchanges, no per-round sorts, still one
        // job per round (an A/B of a two-broadcast-leg decomposition
        // measured SLOWER — two broadcast-build jobs per round cost
        // more in orchestration than the exchanges they saved, the
        // pageRankLoop economics).
        val (next, m) = Superstep.step("frontier.round", arr
          .join(prop.hint("shuffle_hash"), Seq("gid"), "full")
          .select(col("gid"),
            least(coalesce(col("arr"), col("cand")),
              coalesce(col("cand"), col("arr"))).as("arr"),
            (col("arr").isNull ||
              (col("cand").isNotNull && col("cand") < col("arr")))
              .as("changed")),
          changedRows)
        converged = m.getLong(0) == 0L
        arr = next.select(col("gid"), col("arr"))
      }
      arr
    } // scope
  }

  /** Iterative Tarjan over a driver-local adjacency, returning the
    * canonical (node → min SCC member) map. Used by the SCC straggler
    * cutover and by SccSpec as the independent reference.
    */
  private[graph] def tarjanSccMin(nodes: scala.collection.Set[Long],
      adj: scala.collection.Map[Long, scala.collection.Seq[Long]])
      : Map[Long, Long] = {
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val st = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    for (root <- nodes.toSeq.sorted if !index.contains(root)) {
      // explicit-stack DFS: (node, iterator over remaining neighbors)
      val stack = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Iterator[Long])]
      def push(v: Long): Unit = {
        index(v) = counter; low(v) = counter; counter += 1
        st += v; onStack += v
        stack += ((v, adj.getOrElse(v, Nil).iterator))
      }
      push(root)
      while (stack.nonEmpty) {
        val (v, it) = stack.last
        var descended = false
        while (!descended && it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) { push(w); descended = true }
          else if (onStack.contains(w)) low(v) = math.min(low(v), index(w))
        }
        if (!descended) {
          stack.remove(stack.length - 1)
          if (stack.nonEmpty) {
            val p = stack.last._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val comp = scala.collection.mutable.ArrayBuffer.empty[Long]
            var done = false
            while (!done) {
              val w = st.remove(st.length - 1); onStack -= w; comp += w
              done = w == v
            }
            val m = comp.min
            comp.foreach(w => out(w) = m)
          }
        }
      }
    }
    out.toMap
  }
}
