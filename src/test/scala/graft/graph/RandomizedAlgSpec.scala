package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Randomized cross-checks of the distributed graph algorithms against
  * exhaustive driver-side reference implementations. These operators are
  * rows-only in the driver's oracle gate (no tractable SQL fixpoint), so
  * seeded random graphs are the strongest correctness evidence: planted
  * examples catch the happy path, random multigraphs with self-loops,
  * duplicates, and isolates catch the rest.
  */
class RandomizedAlgSpec extends SparkSpec {

  private def randomGraph(seed: Int): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new Random(seed)
    val n = 4 + rnd.nextInt(9) // 4..12 nodes
    val nodes = (0L until n.toLong).toSeq
    val m = rnd.nextInt(3 * n)
    val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    (nodes, edges)
  }

  private def toDf(nodes: Seq[Long], edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    (nodes.toDF("gid"),
      if (edges.isEmpty) Seq((0L, 0L)).toDF("gsrc", "gdst").limit(0)
      else edges.toDF("gsrc", "gdst"))
  }

  test("triangle count matches brute-force enumeration on random multigraphs") {
    (1 to 8).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (_, edf) = toDf(nodes, edges)
      val got = Algorithms.triangleCount(edf).first().getLong(0)
      val simple = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.toSet
      val vs = simple.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val expected = (for {
        i <- vs.indices; j <- (i + 1) until vs.size; k <- (j + 1) until vs.size
        a = vs(i); b = vs(j); c = vs(k)
        if simple((a, b)) && simple((a, c)) && simple((b, c))
      } yield 1).size.toLong
      assert(got === expected, s"seed=$seed edges=$simple")
    }
  }

  test("incremental triangle maintenance ≡ full recount on random base/delta splits (incl. overlapping candidates)") {
    import spark.implicits._
    (171 to 178).foreach { seed =>
      val rnd = new Random(seed)
      val n = 8 + rnd.nextInt(8)
      // random simple graph, canonical unique edges
      val all = (for {
        i <- 0 until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.4
      } yield (i.toLong, j.toLong)).toSeq
      if (all.nonEmpty) {
        val (base, deltaOnly) = all.partition(_ => rnd.nextDouble() < 0.6)
        // candidate batch overlaps the base (the derivation dedups
        // within a batch, not across) — the fold must ignore those
        val overlap = base.filter(_ => rnd.nextDouble() < 0.3)
        val basePairs = (if (base.isEmpty) Seq((0L, 1L)).take(0) else base)
          .toDF("a", "b").localCheckpoint()
        val adj = basePairs.select(col("a").as("v"), col("b").as("u"))
          .unionByName(basePairs.select(col("b").as("v"), col("a").as("u")))
          .groupBy(col("v"))
          .agg(array_sort(collect_list(col("u"))).as("nbrs"))
        val baseTri = Algorithms.triangleCount(
            basePairs.select(col("a").as("gsrc"), col("b").as("gdst")))
          .first().getLong(0)
        val delta = (deltaOnly ++ overlap)
        val deltaDf = (if (delta.isEmpty) Seq((0L, 1L)).take(0) else delta)
          .toDF("a", "b")
        val got = Algorithms.triangleCountIncremental(
            basePairs, adj, baseTri, deltaDf)
          .first().getLong(0)
        val want = Algorithms.triangleCount(
            all.toDF("gsrc", "gdst"))
          .first().getLong(0)
        assert(got === want, s"seed=$seed base=${base.size} delta=${delta.size}")
      }
    }
  }

  test("DOULION sampled triangles: p=1 exact, bounded relative error and near-unbiased mean on planted graphs") {
    import spark.implicits._
    // planted: two 20-cliques bridged by a path — 2 * C(20,3) = 2280
    // triangles, enough mass for the 1/p^3 estimator to concentrate
    def clique(off: Long, n: Int) =
      for (i <- 0 until n; j <- (i + 1) until n) yield (off + i, off + j)
    val edges = (clique(0L, 20) ++ clique(100L, 20) ++
      Seq((19L, 50L), (50L, 60L), (60L, 100L))).toDF("gsrc", "gdst")
    val exact = 2280.0
    assert(Algorithms.triangleCount(edges).first().getLong(0) === exact.toLong)
    // p = 1 must reproduce the exact count bit-for-bit
    assert(Algorithms.triangleCountSampled(edges, p = 1.0, seed = 1L)
      .first().getDouble(0) === exact)
    val ests = (1 to 6).map { seed =>
      Algorithms.triangleCountSampled(edges, p = 0.7, seed = seed.toLong)
        .first().getDouble(0)
    }
    ests.foreach { e =>
      assert(math.abs(e - exact) / exact <= 0.35,
        s"estimate $e strayed >35% from $exact (ests=$ests)")
    }
    val mean = ests.sum / ests.size
    assert(math.abs(mean - exact) / exact <= 0.15,
      s"seed-mean $mean strayed >15% from $exact (ests=$ests)")
    // determinism: same (graph, p, seed) → same estimate
    assert(Algorithms.triangleCountSampled(edges, p = 0.7, seed = 3L)
      .first().getDouble(0) ===
      Algorithms.triangleCountSampled(edges, p = 0.7, seed = 3L)
        .first().getDouble(0))
  }

  test("seed-anchored Jaccard matches driver set computation on random graphs") {
    import spark.implicits._
    (61 to 66).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (_, edf) = toDf(nodes, edges)
      val adjg = Algorithms.prepareAdjacency(edf)
      val seeds = nodes.filter(_ < 5)
      val got = Algorithms.jaccardFor(adjg, seeds.toDF("gid"), topK = 1000)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getLong(3))))
        .toMap
      // driver model over the simple undirected graph
      val simple = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.toSet
      val und = simple.flatMap { case (a, b) => Set(a -> b, b -> a) }
      val nb = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val expected = (for {
        s <- seeds if nb.contains(s)
        y <- nb.values.flatten.toSet if y != s && !und(s -> y)
        common = nb(s).intersect(nb.getOrElse(y, Set.empty))
        if common.nonEmpty
      } yield {
        val j = common.size.toDouble /
          (nb(s).size + nb.getOrElse(y, Set.empty).size - common.size)
        (s, y) -> ((BigDecimal(j).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, common.size.toLong))
      }).toMap
      assert(got === expected, s"seed=$seed edges=$simple")
    }
  }

  test("Boruvka forest matches Kruskal on random weighted multigraphs") {
    import spark.implicits._
    (41 to 48).foreach { seed =>
      val rnd = new Random(seed)
      val n = 4 + rnd.nextInt(9)
      val nodes = (0L until n.toLong).toSeq
      val m = rnd.nextInt(3 * n)
      // small integer weights force ties → exercises the (w, a, b) order
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
        (1 + rnd.nextInt(4)).toDouble))
      val ndf = nodes.toDF("gid")
      val edf =
        if (edges.isEmpty) Seq((0L, 0L, 0.0)).toDF("gsrc", "gdst", "w").limit(0)
        else edges.toDF("gsrc", "gdst", "w")
      val got = Algorithms.minimumSpanningForest(ndf, edf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // driver Kruskal under the same (w, a, b) total order
      val canon = edges.map { case (x, y, w) => (math.min(x, y), math.max(x, y), w) }
        .filter { case (a, b, _) => a != b }
        .groupBy { case (a, b, _) => (a, b) }
        .map { case ((a, b), es) => (a, b, es.map(_._3).min) }.toSeq
        .sortBy { case (a, b, w) => (w, a, b) }
      val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
      def find(v: Long): Long =
        if (parent(v) == v) v else { parent(v) = find(parent(v)); parent(v) }
      val kruskal = canon.filter { case (a, b, _) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(ra) = rb; true } else false
      }.toSet
      assert(got === kruskal, s"seed=$seed")
    }
  }

  test("incremental MSF fold ≡ full refit under support growth (random count splits)") {
    // the g_mst_incr contract: pair supports only grow (w = 1/cnt only
    // decreases, insertions are decreases from +∞), so the new MSF is
    // contained in (base forest ∪ touched pairs re-weighted) and the
    // fold is BIT-identical to a refit under the unique (w, a, b) order
    import spark.implicits._
    (171 to 176).foreach { seed =>
      val rnd = new Random(seed)
      val n = 5 + rnd.nextInt(10)
      val nodes = (0L until n.toLong).toSeq
      // base: random pair supports; delta: bump a random subset + new pairs
      val allPairs = (for (a <- nodes; b <- nodes if a < b) yield (a, b))
      val baseCnt = rnd.shuffle(allPairs).take(2 * n)
        .map(p => p -> (1L + rnd.nextInt(4))).toMap
      val deltaCnt = rnd.shuffle(allPairs).take(n)
        .map(p => p -> (1L + rnd.nextInt(3))).toMap
      val fullCnt = (baseCnt.keySet ++ deltaCnt.keySet).map(p =>
        p -> (baseCnt.getOrElse(p, 0L) + deltaCnt.getOrElse(p, 0L))).toMap
      def wdf(m: Map[(Long, Long), Long]) =
        m.toSeq.map { case ((a, b), c) => (a, b, 1.0 / c) }
          .toDF("gsrc", "gdst", "w")
      val ndf = nodes.toDF("gid")
      val refit = Algorithms.minimumSpanningForest(ndf, wdf(fullCnt))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val baseForest = Algorithms.minimumSpanningForest(ndf, wdf(baseCnt))
        .select(col("a"), col("b"), col("w"))
      val touched = deltaCnt.toSeq.map { case ((a, b), d) =>
        (a, b, 1.0 / (baseCnt.getOrElse((a, b), 0L) + d))
      }.toDF("a", "b", "w")
      val (folded, _) = Algorithms.msfIncremental(ndf, baseForest, touched)
      val got = folded.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === refit, s"seed=$seed base=$baseCnt delta=$deltaCnt")
    }
  }

  test("connected components match union-find on random multigraphs") {
    (11 to 18).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (ndf, edf) = toDf(nodes, edges)
      val got = Algorithms.connectedComponents(ndf, edf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver union-find with min-label canonicalization
      val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
      def find(v: Long): Long = if (parent(v) == v) v else { val r = find(parent(v)); parent(v) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = nodes.map(v => v -> find(v)).toMap
      assert(got === expected, s"seed=$seed edges=$edges")
    }
  }

  test("r13: CC distributed loop ≡ driver union-find cutover (both paths forced)") {
    (301 to 306).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (ndf, edf) = toDf(nodes, edges)
      val viaLoop = Algorithms.connectedComponents(ndf, edf, driverBytes = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaCutover = Algorithms
        .connectedComponents(ndf, edf, driverBytes = Long.MaxValue)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaLoop === viaCutover, s"seed=$seed")
      // same identity for the incremental fold's contracted graph
      val rnd = new Random(seed)
      val (baseE, deltaE) = edges.partition(_ => rnd.nextBoolean())
      import spark.implicits._
      val bn = baseE.flatMap(e => Seq(e._1, e._2)).distinct match {
        case Nil => Seq(0L).toDF("gid").limit(0)
        case xs => xs.toDF("gid")
      }
      val be = if (baseE.isEmpty) Seq((0L, 0L)).toDF("gsrc", "gdst").limit(0)
        else baseE.toDF("gsrc", "gdst")
      val de = if (deltaE.isEmpty) Seq((0L, 0L)).toDF("gsrc", "gdst").limit(0)
        else deltaE.toDF("gsrc", "gdst")
      val prev = Algorithms.connectedComponents(bn, be).localCheckpoint()
      val iLoop = Algorithms.ccIncremental(prev, de, driverBytes = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val iCut = Algorithms.ccIncremental(prev, de,
          driverBytes = Long.MaxValue)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(iLoop === iCut, s"seed=$seed incremental")
    }
  }

  test("r14: union-find cutover survives a worst-case chain (sorted path edges)") {
    // Path edges processed in DESCENDING order make union-by-value
    // build one O(n) parent chain; the final find(n) then walks the
    // whole chain. The old recursive find overflowed the thread stack
    // here (~150k frames); the iterative find must not. With empty
    // prior labels the relabel join is a broadcast pass-through, so the
    // driver cutover consumes the edges in exactly this order.
    import spark.implicits._
    val n = 150000
    val prev = Seq.empty[(Long, Long)].toDF("gid", "comp")
    val de = ((n - 1) to 1 by -1).map(k => (k.toLong, (k + 1).toLong))
      .toDF("gsrc", "gdst")
    val got = Algorithms.ccIncremental(prev, de, driverBytes = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === n)
    assert(got.values.forall(_ == 1L), "every node joins the min-label component")
  }

  test("driver tails ≡ distributed rounds (driverBytes 0 vs Long.MaxValue): MIS, matching, coloring, MSF, SCC reach") {
    // each loop finishes on the driver once its live state fits
    // driverBytes: 0 keeps every round distributed, Long.MaxValue takes
    // the driver tail after the first round; both must agree exactly
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    (601 to 604).foreach { seed =>
      val rnd = new Random(seed)
      val n = 30 + rnd.nextInt(30)
      val edges = Seq.fill(3 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val ndf = (0L until n.toLong).toDF("gid")
      val edf = edges.toDF("gsrc", "gdst")
      def same(what: String)(run: Long => org.apache.spark.sql.DataFrame): Unit =
        assert(rows(run(0L)) === rows(run(Long.MaxValue)), s"seed=$seed $what")
      same("MIS")(d => Algorithms.maximalIndependentSet(ndf, edf, driverBytes = d))
      same("matching")(d => Algorithms.maximalMatching(edf, driverBytes = d))
      same("coloring")(d => Algorithms.speculativeColoring(ndf, edf, driverBytes = d))
      val wdf = edges.map { case (a, b) => (a, b, (1 + rnd.nextInt(4)).toDouble) }
        .toDF("gsrc", "gdst", "w")
      same("MSF forest")(d =>
        Algorithms.minimumSpanningForestWithComponents(ndf, wdf, driverBytes = d)._1)
      same("MSF components")(d =>
        Algorithms.minimumSpanningForestWithComponents(ndf, wdf, driverBytes = d)._2)
      // SCC fold: base labels + condensation, then a delta batch
      val (base, delta) = edges.filter(e => e._1 != e._2).splitAt(2 * n)
      val be = base.toDF("gsrc", "gdst")
      val labels = Algorithms.stronglyConnectedComponents(ndf, be).localCheckpoint()
      val dag = be
        .join(labels.select(col("gid").as("gsrc"), col("scc").as("ca")), Seq("gsrc"))
        .join(labels.select(col("gid").as("gdst"), col("scc").as("cb")), Seq("gdst"))
        .filter(col("ca") =!= col("cb"))
        .select(col("ca").as("a"), col("cb").as("b")).distinct().localCheckpoint()
      val de = delta.toDF("gsrc", "gdst")
      same("SCC fold labels")(d =>
        Algorithms.sccIncrementalWithDag(labels, dag, de, driverBytes = d)._1)
      same("SCC fold DAG")(d =>
        Algorithms.sccIncrementalWithDag(labels, dag, de, driverBytes = d)._2)
    }
  }

  test("bfs hop distances match driver BFS on random digraphs") {
    (21 to 26).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (_, edf) = toDf(nodes, edges)
      val seeds = nodes.take(2)
      import spark.implicits._
      val got = Algorithms.bfs(edf, seeds.toDF("gid"), maxHops = 4)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // driver BFS
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var dist = seeds.map(_ -> 0).toMap
      var frontier = seeds.toSet
      var hop = 0
      while (hop < 4 && frontier.nonEmpty) {
        hop += 1
        val next = frontier.flatMap(v => adj.getOrElse(v, Nil)).diff(dist.keySet)
        dist ++= next.map(_ -> hop)
        frontier = next
      }
      assert(got === dist, s"seed=$seed edges=$edges")
    }
  }

  test("sssp matches driver hop-bounded Bellman-Ford on random weighted digraphs") {
    (31 to 38).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val rnd = new Random(seed * 7)
      val weighted = edges.map { case (a, b) => (a, b, (1 + rnd.nextInt(9)).toDouble) }
      import spark.implicits._
      val edf =
        if (weighted.isEmpty) Seq((0L, 0L, 0.0)).toDF("gsrc", "gdst", "w").limit(0)
        else weighted.toDF("gsrc", "gdst", "w")
      val seedsSeq = nodes.take(2)
      val maxHops = 4
      val got = Algorithms.sssp(edf, seedsSeq.toDF("gid"), maxHops)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // driver Bellman-Ford: min weight over paths of <= maxHops edges
      var dist = seedsSeq.map(_ -> 0.0).toMap
      for (_ <- 1 to maxHops) {
        val relaxed = weighted.flatMap { case (a, b, w) =>
          dist.get(a).map(d => b -> (d + w))
        }.groupBy(_._1).map { case (v, ds) => v -> ds.map(_._2).min }
        dist = (dist.keySet ++ relaxed.keySet).map { v =>
          v -> math.min(dist.getOrElse(v, Double.MaxValue),
            relaxed.getOrElse(v, Double.MaxValue))
        }.toMap
      }
      assert(got === dist, s"seed=$seed edges=$weighted")
    }
  }

  test("k-core matches driver peeling on random multigraphs") {
    (41 to 48).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (_, edf) = toDf(nodes, edges)
      (1 to 3).foreach { k =>
        val got = Algorithms.kCore(edf, k)
          .collect().map(_.getLong(0)).toSet
        // driver peeling over the simple undirected graph
        val simple = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          .filter { case (a, b) => a != b }.distinct
        var alive = simple.map(_._1).toSet
        var changed = true
        while (changed) {
          val deg = simple.filter { case (a, b) => alive(a) && alive(b) }
            .groupBy(_._1).view.mapValues(_.size).toMap
          val next = alive.filter(v => deg.getOrElse(v, 0) >= k)
          changed = next != alive
          alive = next
        }
        assert(got === alive, s"seed=$seed k=$k edges=$edges")
      }
    }
  }

  test("incremental k-core fold ≡ full re-peel on random base/delta splits") {
    import spark.implicits._
    (61 to 66).foreach { seed =>
      val rnd = new Random(seed)
      val (nodes, edges) = randomGraph(seed)
      val (_, edf) = toDf(nodes, edges)
      // random split; delta may re-observe base pairs (the dedup-before-
      // symmetrize contract) and may touch unseen nodes
      val (base, delta) = edges.partition(_ => rnd.nextBoolean())
      val (_, bdf) = toDf(nodes, base)
      val canon = edges.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val und =
        if (canon.isEmpty) Seq((0L, 0L)).toDF("a", "b").limit(0)
        else (canon ++ canon.map(_.swap)).toDF("a", "b")
      val seedIds = delta.flatMap { case (a, b) => Seq(a, b) }.distinct
      val seedDf =
        if (seedIds.isEmpty) Seq(0L).toDF("gid").limit(0)
        else seedIds.toDF("gid")
      (1 to 3).foreach { k =>
        val baseCore = Algorithms.kCore(bdf, k)
        val got = Algorithms.kCoreIncremental(baseCore, und, seedDf, k)
          .collect().map(_.getLong(0)).toSet
        val want = Algorithms.kCore(edf, k)
          .collect().map(_.getLong(0)).toSet
        assert(got === want, s"seed=$seed k=$k base=$base delta=$delta")
        // chained folds (the streaming face): split the delta into two
        // waves; each fold's und is the pairs-so-far, deduped — the
        // arrived-pair discipline — with the maintained degree table
        val baseCanon = base.filter { case (a, b) => a != b }
          .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
        val (d1, d2) = delta.zipWithIndex.partition(_._2 % 2 == 0)
        var soFar = baseCanon
        var core = baseCore
        for (wave <- Seq(d1.map(_._1), d2.map(_._1))) {
          val wCanon = wave.filter { case (a, b) => a != b }
            .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
            .distinct.filterNot(soFar.contains)
          soFar = soFar ++ wCanon
          val undW =
            if (soFar.isEmpty) Seq((0L, 0L)).toDF("a", "b").limit(0)
            else (soFar ++ soFar.map(_.swap)).toDF("a", "b")
          val degW = undW.groupBy(col("a")).agg(count(lit(1)).as("d"))
          val seedsW = wCanon.flatMap { case (a, b) => Seq(a, b) }.distinct
          val sdf =
            if (seedsW.isEmpty) Seq(0L).toDF("gid").limit(0)
            else seedsW.toDF("gid")
          core = Algorithms.kCoreIncremental(core, undW, sdf, k,
            degOpt = Some(degW))
        }
        val chained = core.collect().map(_.getLong(0)).toSet
        assert(chained === want, s"chained: seed=$seed k=$k delta=$delta")
      }
    }
  }

  test("incremental k-truss fold ≡ full re-peel on random base/delta splits") {
    import spark.implicits._
    (71 to 76).foreach { seed =>
      val rnd = new Random(seed)
      // denser than randomGraph so trusses actually exist
      val n = 8 + rnd.nextInt(5)
      val nodes = (0L until n.toLong).toSeq
      val edges = (for {
        a <- 0L until n.toLong; b <- (a + 1) until n.toLong
        if rnd.nextDouble() < 0.45
      } yield (a, b)).toSeq
      val (base, delta) = edges.partition(_ => rnd.nextBoolean())
      val (_, edf) = toDf(nodes, edges)
      val (_, bdf) = toDf(nodes, base)
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toSeq
        .map { case (v, us) => (v, us) }
        .toDF("v", "nbrs")
      // the batch RE-OBSERVES some base edges (the driver faces' shape:
      // a delta order re-purchasing a base co-purchase pair) — they
      // must not change the result, whether or not the caller
      // anti-joins them away
      val overlapped = delta ++ base.take(3)
      val deltaDf =
        if (overlapped.isEmpty) Seq((0L, 0L)).toDF("a", "b").limit(0)
        else overlapped.toDF("a", "b")
      for (k <- Seq(3, 4)) {
        val baseTruss = Algorithms.kTruss(bdf, k)
        val got = Algorithms.kTrussIncremental(baseTruss, adj, deltaDf, k)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = Algorithms.kTruss(edf, k)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === want, s"seed=$seed k=$k base=$base delta=$delta")
      }
    }
  }

  test("incremental cc equals full recompute on random edge splits") {
    (81 to 88).foreach { seed =>
      val rnd = new Random(seed)
      val (nodes, edges) = randomGraph(seed)
      val (ndf, edf) = toDf(nodes, edges)
      val full = Algorithms.connectedComponents(ndf, edf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // random split into base/delta; base nodes = endpoints of base
      // edges plus a random subset of isolates
      val (baseE, deltaE) = edges.partition(_ => rnd.nextBoolean())
      import spark.implicits._
      val baseNodes = (baseE.flatMap(e => Seq(e._1, e._2)) ++
        nodes.filter(_ => rnd.nextBoolean())).distinct
      val bn = if (baseNodes.isEmpty) Seq(0L).toDF("gid").limit(0)
        else baseNodes.toDF("gid")
      val be = if (baseE.isEmpty) Seq((0L, 0L)).toDF("gsrc", "gdst").limit(0)
        else baseE.toDF("gsrc", "gdst")
      val de = if (deltaE.isEmpty) Seq((0L, 0L)).toDF("gsrc", "gdst").limit(0)
        else deltaE.toDF("gsrc", "gdst")
      val prev = Algorithms.connectedComponents(bn, be)
      val incr = Algorithms.ccIncremental(prev, de)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // semilattice fold (the s_cc_incr contract): chaining the delta
      // through two ccIncremental calls in any split lands on the same
      // labeling — label merge is pointwise min, associative/commutative
      if (deltaE.size >= 2) {
        val cut = 1 + rnd.nextInt(deltaE.size - 1)
        val (d1, d2) = deltaE.splitAt(cut)
        val chained = Algorithms.ccIncremental(
            Algorithms.ccIncremental(prev, d1.toDF("gsrc", "gdst"))
              .localCheckpoint(),
            d2.toDF("gsrc", "gdst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(chained === incr, s"seed=$seed cut=$cut")
      }
      // nodes never reaching either batch stay out of the incremental
      // view (the face adds them as isolates) — compare on its domain,
      // then check the domain is exactly base nodes ∪ delta endpoints
      val domain = baseNodes.toSet ++ deltaE.flatMap(e => Seq(e._1, e._2))
      assert(incr.keySet === domain, s"seed=$seed")
      domain.foreach { v =>
        assert(incr(v) === full(v), s"seed=$seed node=$v base=$baseE delta=$deltaE")
      }
    }
  }

  test("swing matches driver enumeration on random bipartite incidences") {
    (71 to 76).foreach { seed =>
      import spark.implicits._
      val rnd = new Random(seed)
      val nO = 3 + rnd.nextInt(5)
      val nP = 3 + rnd.nextInt(4)
      val inc = Seq.fill(4 * nO)((rnd.nextInt(nO).toLong, rnd.nextInt(nP).toLong))
        .distinct
      val incDf = inc.toDF("o", "p")
      val seeds = Seq(0L, 1L).toDF("p")
      val got = Algorithms.swingFor(incDf, seeds, alpha = 1.0, topK = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      // driver enumeration with the same integer-sealed contributions
      val items = inc.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val acc = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
      for {
        s <- Seq(0L, 1L)
        us = items.filter(_._2.contains(s)).keys.toSeq.sorted
        u <- us; v <- us if u < v
        shared = items(u) & items(v)
        c6 = math.floor(1e6 / (1.0 + shared.size) + 0.5).toLong
        j <- shared if j != s
      } {
        val k = (s, j)
        val (n, t) = acc.getOrElse(k, (0L, 0L))
        acc(k) = (n + 1, t + c6)
      }
      val expected = acc.view.mapValues { case (n, t) =>
        (n, math.round(t / 1e6 * 1e6) / 1e6)
      }.toMap
      assert(got === expected, s"seed=$seed inc=$inc")
    }
  }

  test("weighted k-core matches driver peeling on random weighted graphs") {
    (61 to 68).foreach { seed =>
      import spark.implicits._
      val rnd = new Random(seed)
      val n = 4 + rnd.nextInt(9)
      val m = rnd.nextInt(3 * n)
      // canonical a<b weighted simple edges (the operator's contract)
      val wedges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }
        .groupBy(identity).map { case ((a, b), dup) => (a, b, dup.size.toLong) }
        .toSeq
      val edf =
        if (wedges.isEmpty) Seq((0L, 1L, 1L)).toDF("gsrc", "gdst", "w").limit(0)
        else wedges.toDF("gsrc", "gdst", "w")
      (1 to 4).foreach { minW =>
        val got = Algorithms.kCoreWeighted(edf, minW.toLong)
          .collect().map(_.getLong(0)).toSet
        val und = wedges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
        var alive = und.map(_._1).toSet
        var changed = true
        while (changed) {
          val wdeg = und.filter { case (a, b, _) => alive(a) && alive(b) }
            .groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
          val next = alive.filter(v => wdeg.getOrElse(v, 0L) >= minW)
          changed = next != alive
          alive = next
        }
        assert(got === alive, s"seed=$seed minW=$minW edges=$wedges")
      }
    }
  }

  test("warm-start Katz over a folded delta ≡ driver recurrence from the same init") {
    // the g_katz_incr contract: fold delta edges into the base layout
    // (no degree re-bake — Katz passes full mass), warm 3 rounds from
    // the base 4-round vector, fresh nodes seeded at the cold x₀ = 1.0
    import spark.implicits._
    (181 to 184).foreach { seed =>
      val rnd = new Random(seed)
      val (baseNodes, baseEdges) = randomGraph(seed)
      val newNodes = Seq(300L + seed)
      val allNodes = baseNodes ++ newNodes
      val deltaEdges = Seq.fill(3 + rnd.nextInt(5))(
        (allNodes(rnd.nextInt(allNodes.size)), allNodes(rnd.nextInt(allNodes.size))))
      val (bndf, bedf) = toDf(baseNodes, baseEdges)
      val gBase = Algorithms.prepareRankGraph(bndf, bedf)
      val prev = Algorithms.katz(gBase, iters = 4, alpha = 0.05)
      val folded = Algorithms.foldDeltaIntoRankGraph(gBase,
        newNodes.toDF("gid"), deltaEdges.toDF("gsrc", "gdst"))
      val got = Algorithms.katzFrom(folded, prev, iters = 3, alpha = 0.05)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // driver recurrence on the full graph from the same init
      val full = baseEdges ++ deltaEdges
      val prevM = prev.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      var x = allNodes.map(v => v -> prevM.getOrElse(v, 1.0)).toMap
      (1 to 3).foreach { _ =>
        val contrib = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        full.foreach { case (u, t) => contrib(t) += x(u) }
        x = allNodes.map(v => v -> (1.0 + 0.05 * contrib(v))).toMap
      }
      assert(got.keySet === x.keySet, s"seed=$seed delta=$deltaEdges")
      allNodes.foreach { v =>
        assert(math.abs(got(v) - x(v)) < 1e-9,
          s"seed=$seed node=$v delta=$deltaEdges")
      }
    }
  }

  test("pagerank matches driver power iteration on random digraphs") {
    (31 to 35).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (ndf, edf) = toDf(nodes, edges)
      val got = Algorithms.pageRank(ndf, edf, iters = 6)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // driver power iteration, identical semantics
      val n = nodes.size.toDouble
      val d = 0.85
      val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var pr = nodes.map(_ -> 1.0 / n).toMap
      (1 to 6).foreach { _ =>
        val dm = nodes.filterNot(out.contains).map(pr).sum
        val contrib = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        adj.foreach { case (u, ts) => ts.foreach(t => contrib(t) += pr(u) / out(u)) }
        pr = nodes.map(v => v -> ((1 - d) / n + d * (contrib(v) + dm / n))).toMap
      }
      nodes.foreach { v =>
        assert(math.abs(got(v) - pr(v)) < 1e-9, s"seed=$seed node=$v edges=$edges")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
  }

  test("warm-start pagerank over a folded delta ≡ driver power iteration from the same init on random base/delta splits") {
    import spark.implicits._
    (141 to 146).foreach { seed =>
      val rnd = new Random(seed)
      val (baseNodes, baseEdges) = randomGraph(seed)
      // delta: new edges among existing nodes + a couple of NEW nodes
      // with edges in/out (the arriving-orders shape)
      val newNodes = Seq(100L + seed, 200L + seed)
      val allNodes = baseNodes ++ newNodes
      val deltaEdges = Seq.fill(1 + rnd.nextInt(5))(
        (allNodes(rnd.nextInt(allNodes.size)), allNodes(rnd.nextInt(allNodes.size))))
        .filter { case (a, b) => newNodes.contains(a) || newNodes.contains(b) } ++
        Seq.fill(rnd.nextInt(4))(
          (baseNodes(rnd.nextInt(baseNodes.size)), baseNodes(rnd.nextInt(baseNodes.size))))
      val (bndf, bedf) = toDf(baseNodes, baseEdges)
      val gBase = Algorithms.prepareRankGraph(bndf, bedf)
      val prev = Algorithms.pageRank(gBase, iters = 6, damping = 0.85)
      // Spark warm start: fold the delta, 3 rounds from prev
      val (dn, de) = toDf(newNodes, deltaEdges)
      val folded = Algorithms.foldDeltaIntoRankGraph(gBase, dn, de)
      val got = Algorithms.pageRankFrom(folded, prev, iters = 3, damping = 0.85)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // driver model: SAME init (prev where known, 1/n_full for new
      // nodes), 3 rounds of the identical recurrence on the FULL graph
      val fullEdges = baseEdges ++ deltaEdges
      val n = allNodes.size.toDouble
      val d = 0.85
      val out = fullEdges.groupBy(_._1).view.mapValues(_.size).toMap
      val adj = fullEdges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val prevM = prev.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      var pr = allNodes.map(v => v -> prevM.getOrElse(v, 1.0 / n)).toMap
      (1 to 3).foreach { _ =>
        val dm = allNodes.filterNot(out.contains).map(pr).sum
        val contrib = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        adj.foreach { case (u, ts) => ts.foreach(t => contrib(t) += pr(u) / out(u)) }
        pr = allNodes.map(v => v -> ((1 - d) / n + d * (contrib(v) + dm / n))).toMap
      }
      assert(got.keySet === pr.keySet, s"seed=$seed delta=$deltaEdges")
      allNodes.foreach { v =>
        assert(math.abs(got(v) - pr(v)) < 1e-9,
          s"seed=$seed node=$v base=$baseEdges delta=$deltaEdges")
      }
    }
  }

  test("rank-layout delta folds are associative: chunked folds ≡ one-shot fold (random splits)") {
    // the s_pagerank_incr contract — a stream may deliver the delta in
    // any number of batches; the folded layout (degrees + edge set +
    // node set) must not depend on the boundaries
    (161 to 164).foreach { seed =>
      val rnd = new Random(seed)
      val (baseNodes, baseEdges) = randomGraph(seed)
      val newNodes = Seq(300L + seed, 400L + seed)
      val allNodes = baseNodes ++ newNodes
      val deltaEdges = Seq.fill(4 + rnd.nextInt(6))(
        (allNodes(rnd.nextInt(allNodes.size)), allNodes(rnd.nextInt(allNodes.size))))
      val (bndf, bedf) = toDf(baseNodes, baseEdges)
      val cut = 1 + rnd.nextInt(deltaEdges.size - 1)
      val (d1, d2) = deltaEdges.splitAt(cut)
      def nodesOf(es: Seq[(Long, Long)]) = es.flatMap(e => Seq(e._1, e._2)).distinct
      def layout(g: Algorithms.RankGraph): (Set[(Long, Long)], Map[Long, Option[Long]]) = (
        g.e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        g.base0.collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap)
      val oneShot = layout(Algorithms.foldDeltaIntoRankGraph(
        Algorithms.prepareRankGraph(bndf, bedf),
        toDf(nodesOf(deltaEdges), Seq.empty)._1, toDf(Seq.empty, deltaEdges)._2))
      val chunked = layout(Algorithms.foldDeltaIntoRankGraph(
        Algorithms.foldDeltaIntoRankGraph(
          Algorithms.prepareRankGraph(bndf, bedf),
          toDf(nodesOf(d1), Seq.empty)._1, toDf(Seq.empty, d1)._2),
        toDf(nodesOf(d2), Seq.empty)._1, toDf(Seq.empty, d2)._2))
      assert(chunked === oneShot, s"seed=$seed cut=$cut delta=$deltaEdges")
      // the streaming accumulator path (per-batch DELTA-scale ddeg
      // folds + one layout application after the drain — the shape
      // s_pagerank_incr actually runs) must land on the same layout
      val batches = Seq(d1, d2).map(es => toDf(Seq.empty, es)._2)
      val pending = batches.foldLeft(Option.empty[(org.apache.spark.sql.DataFrame,
          org.apache.spark.sql.DataFrame)]) {
        (p, b) => Some(Algorithms.foldRankDeltaBatch(p, b))
      }.get
      val streamed = layout(Algorithms.foldDeltaIntoRankGraph(
        Algorithms.prepareRankGraph(bndf, bedf),
        toDf(nodesOf(deltaEdges), Seq.empty)._1, pending._1, Some(pending._2)))
      assert(streamed === oneShot, s"seed=$seed cut=$cut delta=$deltaEdges (accumulator path)")
    }
  }

  test("weighted warm-start over a folded weighted delta ≡ driver power iteration from the same init") {
    import spark.implicits._
    (151 to 155).foreach { seed =>
      val rnd = new Random(seed)
      val (baseNodes, be0) = randomGraph(seed)
      val baseEdges = be0.map { case (a, b) => (a, b, (1 + rnd.nextInt(5)).toDouble) }
      val newNodes = Seq(300L + seed)
      val allNodes = baseNodes ++ newNodes
      val deltaEdges = (Seq.fill(2 + rnd.nextInt(4))(
        (allNodes(rnd.nextInt(allNodes.size)), allNodes(rnd.nextInt(allNodes.size)),
          (1 + rnd.nextInt(5)).toDouble)))
      val bndf = baseNodes.toDF("gid")
      val bedf = baseEdges.toDF("gsrc", "gdst", "w")
      val gw = Algorithms.prepareWeightedRankGraph(bndf, bedf)
      val prev = Algorithms.weightedPageRank(gw, iters = 5, damping = 0.85)
      val folded = Algorithms.foldDeltaIntoWeightedRankGraph(gw, bedf,
        newNodes.toDF("gid"), deltaEdges.toDF("gsrc", "gdst", "w"))
      val got = Algorithms.weightedPageRankFrom(folded, prev, iters = 3,
          damping = 0.85)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // driver model on the FULL weighted graph from the same init
      val full = baseEdges ++ deltaEdges
      val n = allNodes.size.toDouble
      val d = 0.85
      val wout = full.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val adj = full.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
      val prevM = prev.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      var pr = allNodes.map(v => v -> prevM.getOrElse(v, 1.0 / n)).toMap
      (1 to 3).foreach { _ =>
        val dm = allNodes.filterNot(wout.contains).map(pr).sum
        val contrib = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        adj.foreach { case (u, ts) =>
          ts.foreach { case (t, w) => contrib(t) += pr(u) * (w / wout(u)) } }
        pr = allNodes.map(v => v -> ((1 - d) / n + d * (contrib(v) + dm / n))).toMap
      }
      assert(got.keySet === pr.keySet, s"seed=$seed")
      allNodes.foreach { v =>
        assert(math.abs(got(v) - pr(v)) < 1e-9,
          s"seed=$seed node=$v delta=$deltaEdges")
      }
    }
  }

  test("weighted pagerank matches driver power iteration on random weighted digraphs") {
    import spark.implicits._
    (81 to 85).foreach { seed =>
      val (nodes, edges0) = randomGraph(seed)
      val rnd = new Random(seed * 31)
      // integral weights: wout sums are exact in any order, so the only
      // cross-impl noise is per-round contribution ULP (1e-9 bound, as
      // the unweighted test)
      val wedges = edges0.map { case (a, b) => (a, b, (1 + rnd.nextInt(9)).toDouble) }
      val ndf = nodes.toDF("gid")
      val edf =
        if (wedges.isEmpty) Seq((0L, 0L, 1.0)).toDF("gsrc", "gdst", "w").limit(0)
        else wedges.toDF("gsrc", "gdst", "w")
      val got = Algorithms.weightedPageRank(ndf, edf, iters = 6)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val n = nodes.size.toDouble
      val d = 0.85
      val wout = wedges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      var pr = nodes.map(_ -> 1.0 / n).toMap
      (1 to 6).foreach { _ =>
        val dm = nodes.filterNot(wout.contains).map(pr).sum
        val contrib = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        wedges.foreach { case (u, t, w) => contrib(t) += pr(u) * (w / wout(u)) }
        pr = nodes.map(v => v -> ((1 - d) / n + d * (contrib(v) + dm / n))).toMap
      }
      nodes.foreach { v =>
        assert(math.abs(got(v) - pr(v)) < 1e-9, s"seed=$seed node=$v edges=$wedges")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
  }

  test("weighted label propagation matches driver voting on random weighted multigraphs") {
    import spark.implicits._
    (91 to 95).foreach { seed =>
      val (nodes, edges0) = randomGraph(seed)
      val rnd = new Random(seed * 17)
      val wedges = edges0.map { case (a, b) => (a, b, (1L + rnd.nextInt(9)).toLong) }
      val ndf = nodes.toDF("gid")
      val edf =
        if (wedges.isEmpty) Seq((0L, 0L, 1L)).toDF("gsrc", "gdst", "w").limit(0)
        else wedges.toDF("gsrc", "gdst", "w")
      val got = Algorithms.labelPropagationWeighted(ndf, edf, iters = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver model: both directions of every edge row (self-loops and
      // duplicates vote with multiplicity, exactly as the DataFrame
      // union does); heaviest vote mass, lowest label on ties
      val und = wedges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      var labels = nodes.map(v => v -> v).toMap
      (1 to 4).foreach { _ =>
        val next = nodes.map { v =>
          val votes = und.filter(_._1 == v)
            .groupBy(e => labels(e._2)).view.mapValues(_.map(_._3).sum).toMap
          v -> (if (votes.isEmpty) labels(v)
                else votes.toSeq.maxBy { case (lbl, wv) => (wv, -lbl) }._1)
        }.toMap
        labels = next
      }
      nodes.foreach { v =>
        assert(got(v) === labels(v), s"seed=$seed node=$v edges=$wedges")
      }
    }
  }

  test("hits matches driver iteration on random multigraphs") {
    (71 to 75).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (ndf, edf) = toDf(nodes, edges)
      val got = Algorithms.hits(Algorithms.prepareRankGraph(ndf, edf), iters = 5)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      // driver model: unnormalized linear recurrence (parallel edges
      // count with multiplicity), final auth off the final hub state,
      // one L1 normalization at the end — the Spark loop's semantics
      var hub = nodes.map(_ -> 1.0).toMap
      def authOf(h: Map[Long, Double]): Map[Long, Double] =
        nodes.map(v => v -> edges.filter(_._2 == v).map(e => h(e._1)).sum).toMap
      (1 to 5).foreach { _ =>
        val a = authOf(hub)
        hub = nodes.map(u => u -> edges.filter(_._1 == u).map(e => a(e._2)).sum).toMap
      }
      val a = authOf(hub)
      val aN = a.values.sum; val hN = hub.values.sum
      nodes.foreach { v =>
        val expA = if (aN > 0) a(v) / aN else 0.0
        val expH = if (hN > 0) hub(v) / hN else 0.0
        assert(math.abs(got(v)._1 - expA) < 1e-9, s"seed=$seed auth($v)")
        assert(math.abs(got(v)._2 - expH) < 1e-9, s"seed=$seed hub($v)")
      }
    }
  }

  test("personalized pagerank matches driver power iteration with seeded teleport") {
    (51 to 55).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (ndf, edf) = toDf(nodes, edges)
      val seedSet = nodes.take(1 + seed % 3)
      import spark.implicits._
      val got = Algorithms.personalizedPageRank(ndf, edf, seedSet.toDF("gid"), iters = 6)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val d = 0.85
      val tele = nodes.map(v =>
        v -> (if (seedSet.contains(v)) 1.0 / seedSet.size else 0.0)).toMap
      val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var pr = tele
      (1 to 6).foreach { _ =>
        val dm = nodes.filterNot(out.contains).map(pr).sum
        val contrib = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        adj.foreach { case (u, ts) => ts.foreach(t => contrib(t) += pr(u) / out(u)) }
        pr = nodes.map(v => v -> ((1 - d) * tele(v) + d * (contrib(v) + dm * tele(v)))).toMap
      }
      nodes.foreach { v =>
        assert(math.abs(got(v) - pr(v)) < 1e-9, s"seed=$seed node=$v edges=$edges")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
  }

  test("MIS is independent, maximal, and equals the sequential greedy on random multigraphs") {
    (301 to 310).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (ndf, edf) = toDf(nodes, edges)
      val got = Algorithms.maximalIndependentSet(ndf, edf)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val simple = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.toSet
      val nbrs = nodes.map(v => v -> simple.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }.toSet).toMap
      // independence: no edge inside the MIS
      simple.foreach { case (a, b) =>
        assert(!(got.contains(a) && got.contains(b)),
          s"seed=$seed: edge ($a,$b) inside MIS")
      }
      // maximality: every excluded node has a MIS neighbor
      nodes.filterNot(got.contains).foreach { v =>
        assert(nbrs(v).exists(got.contains),
          s"seed=$seed: $v excluded with no MIS neighbor")
      }
      // the parallel rounds compute THE sequential greedy of the md5
      // priority order — same membership, and the round attribution is
      // exactly each member's longest higher-priority-MIS-neighbor
      // chain + 1 (checked implicitly by re-running: determinism) —
      // membership vs driver greedy:
      def md5hex(s: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val order = nodes.sortBy(v => md5hex(v.toString))
      val greedy = scala.collection.mutable.Set.empty[Long]
      order.foreach { v =>
        if (!nbrs(v).exists(greedy.contains)) greedy += v
      }
      assert(got.keySet === greedy.toSet,
        s"seed=$seed: parallel MIS != sequential greedy; edges=$simple")
      // layout purity
      val again = Algorithms.maximalIndependentSet(
        ndf.repartition(5), edf.repartition(3, col("gsrc")))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(again === got, s"seed=$seed: MIS depends on layout")
    }
  }

  test("speculative coloring is proper, complete, deterministic, and <= Δ+1 colors on random multigraphs") {
    (401 to 410).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (ndf, edf) = toDf(nodes, edges)
      val got = Algorithms.speculativeColoring(ndf, edf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val simple = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.toSet
      val nbrs = nodes.map(v => v -> simple.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }.toSet).toMap
      // completeness: every node colored exactly once
      assert(got.keySet === nodes.toSet, s"seed=$seed: missing assignments")
      // properness: no monochromatic edge
      simple.foreach { case (a, b) =>
        assert(got(a) !== got(b), s"seed=$seed: edge ($a,$b) monochromatic")
      }
      // Δ+1 bound (every committed color is a mex over ≤ deg colors)
      val maxDeg = if (nodes.isEmpty) 0 else nodes.map(v => nbrs(v).size).max
      assert(got.values.max <= maxDeg,
        s"seed=$seed: ${got.values.max} exceeds Δ=$maxDeg")
      // driver-side replay of the speculative rounds — the algorithm is
      // a pure function of (graph, md5 order), so an independent
      // sequential simulation must agree exactly
      def md5hex(x: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val pri = nodes.map(v => v -> md5hex(v.toString)).toMap
      val colored = scala.collection.mutable.Map.empty[Long, Long]
      var uncol = nodes.toSet
      while (uncol.nonEmpty) {
        val tent = uncol.map { v =>
          val used = nbrs(v).flatMap(colored.get)
          v -> Iterator.from(0).map(_.toLong).find(!used.contains(_)).get
        }.toMap
        val losers = uncol.filter(v => nbrs(v).exists(w =>
          uncol.contains(w) && tent.get(w) == tent.get(v).map(identity) &&
            tent(w) == tent(v) && pri(w) < pri(v)))
        val winners = uncol -- losers
        winners.foreach(v => colored(v) = tent(v))
        uncol = losers
      }
      assert(got === colored.toMap,
        s"seed=$seed: distributed coloring != driver replay; edges=$simple")
      // layout purity
      val again = Algorithms.speculativeColoring(
        ndf.repartition(5), edf.repartition(3, col("gsrc")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(again === got, s"seed=$seed: coloring depends on layout")
    }
  }

  test("round-1 palette coloring (the A/B knob) stays proper, complete, deterministic, <= Δ+1") {
    // the variant the g_coloring face SHIPS (r10): round 1 proposes
    // md5-hex(gid) mod (deg+1) instead of mex(∅)=0. Output differs
    // from the classic recurrence (the face's oracle mirrors the
    // palette), and every correctness property must hold identically.
    (421 to 426).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (ndf, edf) = toDf(nodes, edges)
      def und(e: org.apache.spark.sql.DataFrame) =
        e.select(col("gsrc").as("a"), col("gdst").as("b"))
          .filter(col("a") =!= col("b"))
          .unionByName(e.select(col("gdst").as("a"), col("gsrc").as("b"))
            .filter(col("a") =!= col("b")))
          .distinct().localCheckpoint()
      val got = Algorithms.speculativeColoringUnd(ndf, und(edf),
          round1Palette = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val simple = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.toSet
      val nbrs = nodes.map(v => v -> simple.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }.toSet).toMap
      assert(got.keySet === nodes.toSet, s"seed=$seed: missing assignments")
      simple.foreach { case (a, b) =>
        assert(got(a) !== got(b), s"seed=$seed: edge ($a,$b) monochromatic")
      }
      val maxDeg = if (nodes.isEmpty) 0 else nodes.map(v => nbrs(v).size).max
      assert(got.values.max <= maxDeg,
        s"seed=$seed: ${got.values.max} exceeds Δ=$maxDeg")
      // determinism + layout purity
      val again = Algorithms.speculativeColoringUnd(
          ndf.repartition(5), und(edf.repartition(3, col("gsrc"))),
          round1Palette = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(again === got, s"seed=$seed: palette coloring depends on layout")
    }
  }

  test("maximal matching is valid, maximal, and equals the sequential greedy on random multigraphs") {
    (501 to 510).foreach { seed =>
      val (nodes, edges) = randomGraph(seed)
      val (_, edf) = toDf(nodes, edges)
      val got = Algorithms.maximalMatching(edf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      val simple = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.toSet
      // validity: no two matched edges share an endpoint
      val eps = got.keys.toSeq.flatMap { case (a, b) => Seq(a, b) }
      assert(eps.distinct.size === eps.size,
        s"seed=$seed: matched edges share endpoints: ${got.keys}")
      // maximality: every edge touches a matched endpoint
      val covered = eps.toSet
      simple.foreach { case (a, b) =>
        assert(covered.contains(a) || covered.contains(b),
          s"seed=$seed: edge ($a,$b) uncovered — matching not maximal")
      }
      // exact equality to the sequential greedy in md5 edge-priority order
      def md5hex(x: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val order = simple.toSeq.sortBy { case (a, b) => md5hex(s"${a}_$b") }
      val used = scala.collection.mutable.Set.empty[Long]
      val greedy = scala.collection.mutable.Set.empty[(Long, Long)]
      order.foreach { case (a, b) =>
        if (!used.contains(a) && !used.contains(b)) {
          greedy += ((a, b)); used += a; used += b
        }
      }
      assert(got.keySet === greedy.toSet,
        s"seed=$seed: parallel matching != sequential greedy; edges=$simple")
      // layout purity
      val again = Algorithms.maximalMatching(edf.repartition(3, col("gsrc")))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      assert(again === got, s"seed=$seed: matching depends on layout")
    }
  }
}
