package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClusterSpec extends SparkSpec with graft.TempDirs {

  // two tight groups around (10,0,..) and (0,10,..): ids 1,2 seed one
  // centroid in each group, so Lloyd must separate them in one round
  private def planted = {
    import spark.implicits._
    Seq(
      (1L, Array(10.0f, 0.1f, 0.0f)),
      (2L, Array(0.1f, 10.0f, 0.0f)),
      (3L, Array(9.8f, -0.2f, 0.1f)),
      (4L, Array(10.2f, 0.0f, -0.1f)),
      (5L, Array(0.0f, 9.9f, 0.2f)),
      (6L, Array(-0.1f, 10.1f, 0.0f))).toDF("vec_id", "embedding")
  }

  test("kmeans separates planted groups and is layout-pure") {
    val got = Cluster.kmeansAssign(planted, "vec_id", "embedding", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got(1L) === got(3L) && got(1L) === got(4L))
    assert(got(2L) === got(5L) && got(2L) === got(6L))
    assert(got(1L) !== got(2L))
    // pure function of (data, constants): partition layout is irrelevant
    val again = Cluster.kmeansAssign(planted.repartition(5, col("embedding")),
        "vec_id", "embedding", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(again === got)
  }

  test("pq codes quantize each subspace independently and reconstruct exactly on repeats") {
    import spark.implicits._
    // dim 4 = 2 subspaces × 2 dims; the first-2-dims pattern and the
    // last-2-dims pattern vary INDEPENDENTLY — product codes must track
    // each subspace on its own (a full-space codebook of the same size
    // could not represent all 4 combinations with k=2 per subspace)
    val a = Array(10.0f, 0.0f); val b = Array(0.0f, 10.0f)
    val vecs = Seq(
      (1L, a ++ a), (2L, a ++ b), (3L, b ++ a), (4L, b ++ b),
      (5L, a ++ a), (6L, b ++ b)).toDF("vec_id", "embedding")
    val got = Cluster.pqCodes(vecs, "vec_id", "embedding",
        m = 2, k = 2, rounds = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // same subvector → same code in that subspace, independently
    assert(got(1L)._1 === got(2L)._1) // both start with a
    assert(got(3L)._1 === got(4L)._1) // both start with b
    assert(got(1L)._1 !== got(3L)._1)
    assert(got(1L)._2 === got(3L)._2) // both end with a
    assert(got(2L)._2 === got(4L)._2) // both end with b
    // every distinct subvector sits alone on its centroid → exact recon
    got.values.foreach { case (_, _, err) => assert(err === 0.0) }
    // layout-pure like the full-space fit
    val again = Cluster.pqCodes(vecs.repartition(5, col("embedding")),
        "vec_id", "embedding", m = 2, k = 2, rounds = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(again === got)
  }

  test("empty clusters keep their previous centroid") {
    // k=3 over 2 real groups: whichever centroid empties must survive
    // the update with its previous coordinates (codebook size invariant)
    val cents = Cluster.initCentroids(planted, "vec_id", "embedding", k = 3)
    val updated = Cluster.updateCentroids(
      Cluster.assign(planted, "vec_id", "embedding", cents), cents)
    assert(updated.size === 3)
    assert(updated.map(_._1) === Seq(0, 1, 2))
    val emptied = cents.map(_._1).toSet --
      Cluster.assign(planted, "vec_id", "embedding", cents)
        .select("cluster").distinct().collect().map(_.getInt(0)).toSet
    emptied.foreach { cid =>
      assert(updated.find(_._1 == cid).get._2.toSeq ===
        cents.find(_._1 == cid).get._2.toSeq)
    }
  }

  test("int8 quantization round-trips within the grid step and handles degenerate dims") {
    import spark.implicits._
    // dim 0 spans [0,10]; dim 1 is constant (degenerate); dim 2 spans [-1,1]
    val emb = Seq(
      (1L, Array(0.0f, 5.0f, -1.0f)),
      (2L, Array(10.0f, 5.0f, 1.0f)),
      (3L, Array(5.0f, 5.0f, 0.0f))).toDF("vec_id", "embedding")
    val (lo, hi) = Cluster.quantStats(emb, "embedding")
    assert(lo.toSeq === Seq(0.0, 5.0, -1.0) && hi.toSeq === Seq(10.0, 5.0, 1.0))
    val got = Cluster.quantizeInt8(emb, "vec_id", "embedding", lo, hi)
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getDouble(2)))).toMap
    // extremes hit the grid ends exactly; the constant dim codes to 0
    assert(got(1L)._1 === Seq(0, 0, 0))
    assert(got(2L)._1 === Seq(255, 0, 255))
    assert(got(3L)._1 === Seq(128, 0, 128)) // floor(127.5+0.5), floor(127.5+0.5)
    // reconstruction error bounded by half a grid step per dim
    val maxStep = math.max(10.0 / 255, 2.0 / 255) / 2
    got.values.foreach { case (_, mse) => assert(mse <= maxStep * maxStep) }
    // extremes dequantize exactly → zero error on doc 2's dims 0,2
    assert(got(2L)._2 === 0.0)
  }

  test("embedOutliers flags the planted far point and nothing in the tight core") {
    import spark.implicits._
    // 9 points near the origin + one far point, k=1 so one cluster
    val emb = ((1L to 9L).map(i => (i, Array((i % 3 - 1) * 0.1f, ((i / 3) % 3 - 1) * 0.1f))) :+
      (10L, Array(50.0f, 50.0f))).toDF("vec_id", "embedding")
    val got = Cluster.embedOutliers(emb, "vec_id", "embedding",
        k = 1, rounds = 1, q = 0.8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got(10L) === true)
    assert((1L to 9L).count(got(_)) <= 2) // p80 over 10 points flags ≤ 2
  }

  test("semDedup flags near-dups inside a cluster, never across clusters") {
    import spark.implicits._
    // 7 duplicates 1 (same group); 2 and 1 are near-orthogonal (cosine
    // ~0) AND land in different clusters
    val emb = planted.union(
      Seq((7L, Array(10.0f, 0.1f, 0.0f))).toDF("vec_id", "embedding"))
    val pairs = Cluster.semDedup(emb, "vec_id", "embedding",
        k = 2, rounds = 2, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 7L)))
    assert(pairs.forall { case (a, b) => a < b })
    // every reported pair shares a cluster
    val clusters = Cluster.kmeansAssign(emb, "vec_id", "embedding", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    pairs.foreach { case (a, b) => assert(clusters(a) === clusters(b)) }
    assert(!pairs.exists { case (a, b) => clusters(a) != clusters(b) })
  }

  test("semDedup maxClusterSize drops a planted mega-cluster and the audit sees it") {
    import spark.implicits._
    // 20 identical vectors (one mega-cluster) + a 2-vector tight pair;
    // ids 1 and 2 straddle the groups so the deterministic init seeds
    // one centroid in each
    val mega = (Seq(1L) ++ (3L to 21L)).map(i => (i, Array(10.0f, 0.0f, 0.0f)))
    val emb = (mega ++ Seq(
      (2L, Array(0.0f, 10.0f, 0.0f)),
      (22L, Array(0.1f, 10.0f, 0.0f)))).toDF("vec_id", "embedding")
    val uncapped = Cluster.semDedup(emb, "vec_id", "embedding",
      k = 2, rounds = 2, threshold = 0.9)
    assert(uncapped.count() === 20L * 19 / 2 + 1) // mega pairs + the small pair
    // cap below the mega-cluster population: its |c|² pairwise work is
    // skipped entirely, the small cluster still reports its pair
    val capped = Cluster.semDedup(emb, "vec_id", "embedding",
      k = 2, rounds = 2, threshold = 0.9, maxClusterSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((2L, 22L)))
    // audit face: exactly the dropped cluster, with its true population
    val audit = Cluster.oversizedClusters(emb, "vec_id", "embedding",
        k = 2, rounds = 2, maxClusterSize = 10)
      .collect().map(r => r.getLong(1))
    assert(audit.toSeq === Seq(20L))
    // no cap → no audit rows
    assert(Cluster.oversizedClusters(emb, "vec_id", "embedding",
      k = 2, rounds = 2, maxClusterSize = Long.MaxValue).isEmpty)
  }

  test("quantizeInt8 codes an empty vector to an empty list, not phantom dims") {
    import spark.implicits._
    val emb = Seq((1L, Array(1.0f, 2.0f)), (2L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
    val (lo, hi) = Cluster.quantStats(emb, "embedding")
    val got = Cluster.quantizeInt8(emb, "vec_id", "embedding", lo, hi)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(2L) === Seq.empty)
    assert(got(1L).length === 2)
  }

  test("labelMargins flags the planted mislabel; single-label corpus is empty") {
    import spark.implicits._
    // id 3 sits in label 1's cluster but carries label 0 → suspect
    val emb = Seq(
      (1L, Array(10.0f, 0.0f), 0), (2L, Array(9.8f, 0.2f), 0),
      (3L, Array(0.1f, 9.9f), 0),
      (4L, Array(0.0f, 10.0f), 1), (5L, Array(0.2f, 9.8f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Cluster.labelMargins(emb, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(got(3L))
    assert(!got(1L) && !got(4L))
    // degenerate: one label → no foreign centroid → zero rows, matching
    // the SQL mirror's inner join (not NULL-filled rows)
    val one = Seq((1L, Array(1.0f, 2.0f), 7), (2L, Array(1.1f, 2.1f), 7))
      .toDF("vec_id", "embedding", "label")
    assert(Cluster.labelMargins(one, "vec_id", "embedding", "label").isEmpty)
  }

  // ---- exact pruned kNN: zero recall loss + measurable pruning ----

  private def bruteTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val a = df.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    val b = df.select(col("vec_id").as("mid"),
      col("embedding").cast("array<double>").as("mv"))
    val scored = a.join(b, col("qid") =!= col("mid"))
      .select(col("qid"),
        round(graft.functions.VectorFunctions.cosine(col("qv"), col("mv")), 6)
          .as("cos"),
        col("mid"))
    graft.operators.TopK.topKPerGroup(scored, "qid", "cos", "mid", k)
      .select(col("qid"), col("rank"), col("mid"))
  }

  private def fitFor(df: org.apache.spark.sql.DataFrame, nLists: Int) = {
    val coarse = Cluster.kmeansFit(df, "vec_id", "embedding", nLists, rounds = 2)
    val codes = Cluster.ivfAssignL2(df, "vec_id", "embedding", coarse, nProbe = 1)
      .select(col("id"), col("cid"))
    (coarse, codes)
  }

  test("exact pruned knn ≡ brute top-k on randomized corpora of arbitrary norms — zero recall loss") {
    import spark.implicits._
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      // mixed norms on purpose: the bound must normalize internally
      val rows = (0L until 60L).map { i =>
        val v = Array.fill(8)((rnd.nextDouble() - 0.5).toFloat)
        val scale = (1 + rnd.nextInt(5)).toFloat
        (i, v.map(_ * scale))
      }
      val df = rows.toDF("vec_id", "embedding")
      val (coarse, codes) = fitFor(df, nLists = 4)
      val want = bruteTopK(df, k = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = Cluster.exactCosineKnnPruned(codes, coarse, df,
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"pruned knn diverged from brute at seed $seed")
    }
  }

  test("exact pruned knn: salted-shuffle variant (queries beyond broadcast budget) is identical") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 40L).map(i =>
      (i, Array.fill(6)((rnd.nextDouble() - 0.5).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val (coarse, codes) = fitFor(df, nLists = 4)
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.select(col("query_id"), col("rank"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bc = norm(Cluster.exactCosineKnnPruned(codes, coarse, df,
      "vec_id", "embedding", k = 3, broadcastQueries = true))
    val salted = norm(Cluster.exactCosineKnnPruned(codes, coarse, df,
      "vec_id", "embedding", k = 3, broadcastQueries = false))
    assert(bc === salted)
    assert(bc === norm(bruteTopK(df, k = 3)
      .select(col("qid").as("query_id"), col("rank"), col("mid").as("neighbor_id"))))
  }

  test("exact pruned knn: clustered corpus prunes most lists; uniform corpus degrades to the full scan") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // 4 tight clusters far apart: own-list thresholds are near 1.0 and
    // every other list's centroid bound fails
    val centers = Seq(
      Array(10.0, 0.0, 0.0, 0.0), Array(0.0, 10.0, 0.0, 0.0),
      Array(0.0, 0.0, 10.0, 0.0), Array(0.0, 0.0, 0.0, 10.0))
    val clustered = (0L until 80L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => (x + (rnd.nextDouble() - 0.5) * 0.2).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val (cc, ccodes) = fitFor(clustered, nLists = 4)
    val (survC, outC) = Cluster.exactCosineKnnPrunedWithSurvivors(ccodes, cc,
      clustered, "vec_id", "embedding", k = 5)
    val nC = 80L
    val survCount = survC.count()
    info(s"clustered survivors: $survCount of ${nC * 4} (query,list) pairs")
    assert(survCount <= nC * 2,
      s"clustered corpus should prune most non-own lists, kept $survCount")
    // the pruned scan still returns the true top-5
    val wantC = bruteTopK(clustered, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gotC = outC.select(col("query_id"), col("rank"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotC === wantC)
    // uniform corpus: bounds can't separate anything — survivors ≈ all
    val uniform = (0L until 80L).map(i =>
      (i, Array.fill(8)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val (cu, ucodes) = fitFor(uniform, nLists = 4)
    val (survU, _) = Cluster.exactCosineKnnPrunedWithSurvivors(ucodes, cu,
      uniform, "vec_id", "embedding", k = 5)
    val uCount = survU.count()
    info(s"uniform survivors: $uCount of ${80 * 4}")
    assert(uCount >= 80L * 3,
      "uniform corpus unexpectedly pruned — the bound would be unsound")
  }

  test("exact pruned knn: corpus smaller than k yields full (short) rankings, still ≡ brute") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val (coarse, codes) = fitFor(df, nLists = 2)
    val got = Cluster.exactCosineKnnPruned(codes, coarse, df,
        "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = bruteTopK(df, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.size === 6) // 3 queries × 2 neighbors each
  }

  test("IVF-PQ index save/load round-trips bit-identically: every search path ≡ the in-session fit") {
    // the serving deployment step: fit once, load everywhere — doubles
    // round-trip parquet exactly, so load ≡ fit must be BIT-identity,
    // not approximate agreement
    val emb = graft.Tables.load(spark, sf(), "embeddings")
    val coarse = Cluster.kmeansFit(emb, "vec_id", "embedding", k = 8, rounds = 2)
    val (sub, books, codes0) = Cluster.ivfPqFit(
      emb, "vec_id", "embedding", coarse, m = 4, k = 8, rounds = 2)
    val codes = codes0.localCheckpoint()
    val path = tempDir("graft_idx").toString
    Cluster.saveIvfPqIndex(path, coarse, sub, books, codes)
    val (lc, ls, lb, lcodes) = Cluster.loadIvfPqIndex(spark, path)
    // artifact-level bit identity
    assert(ls === sub)
    assert(lc.map { case (i, v) => (i, v.toSeq) } ===
      coarse.map { case (i, v) => (i, v.toSeq) })
    assert(lb.map(_.map { case (i, v) => (i, v.toSeq) }) ===
      books.map(_.map { case (i, v) => (i, v.toSeq) }))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: Seq[_] => s.toList
        case x => x
      }.toList).toSet
    assert(rows(lcodes) === rows(codes))
    // search-level identity across all three paths
    val queries = emb.filter(col("vec_id") < 10)
    def shortlist(c: Seq[(Int, Array[Double])], s: Int,
        b: Seq[Seq[(Int, Array[Double])]], cd: org.apache.spark.sql.DataFrame) =
      Cluster.rerankExact(
        Cluster.ivfPqShortlistFrom(cd, s, b, c, queries, "vec_id", "embedding",
            nProbe = 2, shortlist = 20)
          .select(col("query_id"), col("neighbor_id")),
        emb, "vec_id", "embedding", queries, topK = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    assert(rows(shortlist(lc, ls, lb, lcodes)) ===
      rows(shortlist(coarse, sub, books, codes)))
    def pruned(c: Seq[(Int, Array[Double])], cd: org.apache.spark.sql.DataFrame) =
      Cluster.exactCosineKnnPruned(cd, c, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    assert(rows(pruned(lc, lcodes)) === rows(pruned(coarse, codes)))
  }

  test("p_knn_ivfpq_loaded face ≡ the same search from the in-session pinned fit") {
    // the driver face serves the s_knn query set from the SAVED index;
    // its rows must be exactly what the pinned in-session fit returns
    // for the same (nProbe, shortlist, topK) operating point
    val dir = sf()
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val (coarse, sub, books, codes) =
      graft.queries.Pipeline.ivfPqCachedPublic(spark, dir)
    val queries = emb.filter(col("vec_id") < 30)
    val fitSide = Cluster.rerankExact(
        Cluster.ivfPqShortlistFrom(codes, sub, books, coarse, queries,
            "vec_id", "embedding", nProbe = 4, shortlist = 40)
          .select(col("query_id"), col("neighbor_id")),
        emb, "vec_id", "embedding", queries, topK = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
      .toSet
    val loaded = graft.queries.Pipeline.pKnnIvfPqLoaded(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
      .toSet
    assert(loaded === fitSide)
    assert(loaded.nonEmpty)
  }
}
