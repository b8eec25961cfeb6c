package graft.pipeline

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding clustering for corpus organization: Lloyd k-means with a
  * deterministic seed, and SemDeDup (Abbas et al. 2023) — semantic
  * dedup as cluster-then-intra-cluster-cosine.
  *
  * The centroid codebook lives on the driver (k × dim doubles — the
  * same bounded-broadcast-dictionary posture as [[Ann.sampleCentroids]];
  * this is the standard distributed-k-means split: assignment is a
  * narrow codegen pass over the corpus, the update is one aggregation,
  * and only the k×dim means ever reach the driver). Every step is a
  * pure function of the data + constants, so the whole fit is
  * reproducible across runs, engines, and partitionings, and the fixed
  * round count unrolls into an exact DuckDB oracle ([[kmeansCtes]]).
  */
object Cluster {

  /** Deterministic init: the embeddings of the k smallest ids, centroid
    * index assigned in id order.
    */
  def initCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): Seq[(Int, Array[Double])] =
    emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Double](1).toArray }.toSeq

  /** Nearest-centroid assignment: arg-min squared L2 against the
    * broadcast centroid literals via struct ordering (`array_min` on
    * struct(dist, cid) — ties to the lowest cid), fully codegen'd, one
    * narrow pass. Returns (id, v, cluster, dist) with dist the squared
    * L2 to the winning centroid. `atOffset` scores centroids against
    * the subspace window of the vector starting there (the PQ encode
    * path — no per-row slice copy; at 0 this is exactly the full-space
    * distance).
    */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Double])], atOffset: Int = 0): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scored = centroids.map { case (cid, cv) =>
      struct(
        VectorFunctions.l2sqAt(v, array(cv.toIndexedSeq.map(lit): _*), atOffset).as("d"),
        lit(cid).as("cid"))
    }
    val best = array_min(array(scored: _*))
    emb.select(col(idCol).as("id"), v.as("v"),
      best.getField("cid").as("cluster"), best.getField("d").as("dist"))
  }

  /** One Lloyd update: per-dimension mean of each cluster's members
    * (posexplode → one groupBy on (cluster, dim) — dims are bounded so
    * the shuffle is corpus-row-bounded, never corpus×corpus). Clusters
    * that lost every member keep their previous centroid, so the
    * codebook size is invariant.
    */
  def updateCentroids(assigned: DataFrame,
      prev: Seq[(Int, Array[Double])]): Seq[(Int, Array[Double])] = {
    val means = assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("cluster"), col("i")).agg(avg(col("x")).as("m"))
      .collect()
      .groupBy(_.getInt(0))
      .view.mapValues(rows =>
        rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
      .toMap
    prev.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
  }

  /** Lloyd k-means fit: `rounds` centroid updates from the
    * deterministic init. Returns the fitted codebook alone — the k×dim
    * driver literal callers embed into downstream codegen passes.
    */
  def kmeansFit(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int): Seq[(Int, Array[Double])] = {
    require(k > 0 && rounds >= 0, s"need k > 0, rounds >= 0; got k=$k rounds=$rounds")
    var cents = initCentroids(emb, idCol, vecCol, k)
    for (_ <- 1 to rounds)
      cents = updateCentroids(assign(emb, idCol, vecCol, cents), cents)
    cents
  }

  /** Fit + final assignment under the fitted codebook. Returns
    * (id, v, cluster, dist) — callers wanting just the labels project.
    */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int): DataFrame =
    assign(emb, idCol, vecCol, kmeansFit(emb, idCol, vecCol, k, rounds))

  /** SemDeDup: k-means partition, then exact cosine over pairs WITHIN
    * each cluster — the clustering bounds the pairwise work at
    * Σ |cluster|² instead of n², which is the published scale recipe
    * for semantic dedup (and unlike LSH buckets, the partition is also
    * a reusable corpus-organization artifact). Returns near-duplicate
    * pairs (id_a, id_b, cluster, cosine ≥ threshold).
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int, threshold: Double,
      maxClusterSize: Long = Long.MaxValue): DataFrame =
    // materialize the fitted assignment once: both self-join legs read it
    semDedupFromAssign(
      kmeansAssign(emb, idCol, vecCol, k, rounds).localCheckpoint(),
      threshold, maxClusterSize)

  /** [[semDedup]] over an already-fitted (and materialized) assignment
    * — the face a deployment uses when the k-means fit is a pinned
    * corpus artifact shared across semantic faces rather than refit
    * per query.
    */
  def semDedupFromAssign(asg0: DataFrame, threshold: Double,
      maxClusterSize: Long = Long.MaxValue): DataFrame = {
    // population guard, same posture as Dedup.boundBuckets: the pairwise
    // stage is Σ|cluster|² by design, and a degenerate fit (k too small,
    // all-similar corpus) regresses toward n² on one join key with no
    // error. Opt-in cap drops such clusters from the pairwise path;
    // [[oversizedClusters]] is the audit face that counts what a capped
    // run skipped. Singletons are dropped losslessly (they cannot pair).
    val sizes = asg0.groupBy(col("cluster")).agg(count(lit(1)).as("__cn"))
    val asg = asg0.join(broadcast(sizes), "cluster")
      .filter(col("__cn") >= 2 && col("__cn") <= maxClusterSize)
      .drop("__cn")
    val a = asg.select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
    val b = asg.select(col("cluster").as("cluster_b"), col("id").as("id_b"),
      col("v").as("vb"))
    a.join(b, col("cluster") === col("cluster_b") && col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cluster"), col("cosine"))
  }

  /** (cluster, population) of fitted clusters above `maxClusterSize` —
    * the audit face of [[semDedup]]'s cap, mirroring
    * [[Dedup.oversizedLshBuckets]]: what a capped run drops from the
    * pairwise path, so lost recall is counted/routed, never silent. The
    * fit is deterministic, so this re-run aligns exactly with the
    * capped pass's assignment.
    */
  def oversizedClusters(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int, maxClusterSize: Long): DataFrame =
    kmeansAssign(emb, idCol, vecCol, k, rounds)
      .groupBy(col("cluster")).agg(count(lit(1)).as("population"))
      .filter(col("population") > maxClusterSize)

  /** Embedding outlier pruning: each vector's (squared) distance to its
    * fitted centroid, flagged when above its cluster's q-quantile — the
    * prune-OOD/noisy-samples curation step that usually follows a
    * SemDeDup pass. The per-cluster thresholds are a k-row aggregate
    * broadcast back; the corpus never shuffles beyond the fit itself.
    * Exact interpolated `percentile` keeps the threshold oracle-
    * checkable (same definition as DuckDB's quantile_cont); at 100 TB
    * it swaps for the mergeable `approx_percentile` sketch unchanged.
    */
  def embedOutliers(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int, q: Double): DataFrame =
    embedOutliersFromAssign(
      kmeansAssign(emb, idCol, vecCol, k, rounds).localCheckpoint(), q)

  /** [[embedOutliers]] over an already-fitted materialized assignment
    * (pinned-fit contract, as [[semDedupFromAssign]]). */
  def embedOutliersFromAssign(asg: DataFrame, q: Double): DataFrame = {
    val thr = asg.groupBy(col("cluster"))
      .agg(expr(s"percentile(dist, $q)").as("__thr"))
    asg.join(broadcast(thr), "cluster")
      .select(col("id"), col("cluster"), col("dist"),
        (col("dist") > col("__thr")).as("is_outlier"))
  }

  /** Labeled-embedding margin audit (mislabeled-example detection):
    * per-label centroids (label-count × dim, the driver-side codebook
    * contract as everywhere in this module), then per vector the
    * squared distance to its OWN label's centroid vs the nearest OTHER
    * label's — a vector closer to a foreign class centroid than its own
    * is a label suspect. Distances are codegen literal-array arithmetic;
    * the suspect flag compares ROUNDED distances so engine summation
    * ULP can't flip it.
    */
  def labelMargins(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val cents = emb
      .select(col(labelCol).cast("int").as("l"), posexplode(v).as(Seq("i", "x")))
      .groupBy(col("l"), col("i")).agg(avg(col("x")).as("m"))
      .collect()
      .groupBy(_.getInt(0))
      .view.mapValues(rs => rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
      .toSeq.sortBy(_._1)
    val dists = cents.map { case (l, c) =>
      struct(
        round(VectorFunctions.l2sq(array(c.toIndexedSeq.map(lit): _*), v), 6).as("d"),
        lit(l).as("l"))
    }
    val all = array(dists: _*)
    val own = element_at(
      filter(all, s => s.getField("l") === col(labelCol).cast("int")), 1)
      .getField("d")
    val other = array_min(
        filter(all, s => s.getField("l") =!= col(labelCol).cast("int")))
      .getField("d")
    // a single-label corpus has no foreign centroid: drop those rows so
    // this face agrees with the SQL mirror's inner join (which emits
    // zero rows) instead of returning NULL d_other/suspect — and so the
    // degenerate shape never feeds element_at/array_min ANSI corners
    emb.select(col(idCol).as("id"), col(labelCol).cast("int").as("label"),
      own.as("d_own"), other.as("d_other"),
      (own > other).as("suspect"))
      .filter(col("d_other").isNotNull)
  }

  /** Per-dimension corpus min/max — the scalar-quantization codebook
    * (dim-bounded, driver-side like the centroid codebook; min/max are
    * exact order statistics, so the codebook is engine-identical).
    */
  def quantStats(emb: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = emb
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect().sortBy(_.getInt(0))
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Int8 scalar quantization of an embedding column: code_i =
    * floor((x_i - lo_i) · 255 / (hi_i - lo_i) + 0.5) against the
    * per-dimension corpus min/max — the standard 4× storage compression
    * for a 100 TB embedding store (the codes scan path replaces the
    * float vectors; full-precision re-ranking reads the original column
    * only for finalists). floor(·+0.5) instead of round() so both
    * engines share one tie rule; degenerate dims (hi = lo) code to 0
    * and dequantize to lo exactly. Emits (id, codes, mse) — the
    * round-trip reconstruction MSE is the quality audit. One narrow
    * pass; the dim-bounded codebook rides in as literals.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String,
      lo: Array[Double], hi: Array[Double]): DataFrame = {
    val loL = lit(lo.toIndexedSeq.toArray)
    val hiL = lit(hi.toIndexedSeq.toArray)
    val v = col(vecCol).cast("array<double>")
    // sequence(0, -1) steps DOWNWARD to [0, -1]; an empty vector must
    // index to an empty list, not two phantom dimensions
    val idxOf = (arr: org.apache.spark.sql.Column) =>
      when(size(arr) > 0, sequence(lit(0), size(arr) - 1))
        .otherwise(array().cast("array<int>"))
    val codes = zip_with(v, idxOf(v), (x, i) => {
      val l = element_at(loL, i + 1)
      val h = element_at(hiL, i + 1)
      when(h > l, floor((x - l) * 255.0 / (h - l) + 0.5)).otherwise(lit(0.0))
    }).cast("array<int>")
    val base = emb.select(col(idCol).as("id"), v.as("v"), codes.as("codes"))
    val deq = zip_with(col("codes").cast("array<double>"), idxOf(col("codes")),
      (c, i) => {
        val l = element_at(loL, i + 1)
        val h = element_at(hiL, i + 1)
        l + c * (h - l) / 255.0
      })
    base.select(col("id"), col("codes"),
      when(size(col("v")) > 0,
        aggregate(zip_with(col("v"), deq, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d) / size(col("v")))
        .otherwise(lit(0.0)).as("mse"))
  }

  /** The k-means fit as a reusable DuckDB CTE-list fragment generated
    * from the same constants, ending in `a$rounds(vec_id, v, cluster)` —
    * the final assignment. Mirrors [[kmeansAssign]] round for round:
    * same deterministic init, same arg-min (distance, cid) order, same
    * per-dimension means, same empty-cluster carry-over.
    */
  def kmeansCtes(table: String, idCol: String, vecCol: String,
      k: Int, rounds: Int, prefix: String = ""): String = {
    // dist mirrors the Spark side's SQUARED L2 (list_distance² differs
    // from the fused squared sum only at ULP scale — callers round).
    // `prefix` namespaces every CTE so several independent fits can
    // coexist in ONE oracle query (the PQ per-subspace fits).
    def assignCte(name: String, cents: String): String =
      s"""$prefix$name AS MATERIALIZED (
         SELECT $idCol, v, cluster, dist FROM (
           SELECT e.$idCol, e.v, c.cid AS cluster,
                  list_distance(e.v, c.cv) * list_distance(e.v, c.cv) AS dist,
                  row_number() OVER (PARTITION BY e.$idCol
                    ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
           FROM ${prefix}e e CROSS JOIN $prefix$cents c) WHERE rn = 1)"""
    val steps = (1 to rounds).map { r =>
      s""",
       ${assignCte(s"s$r", s"c${r - 1}")},
       ${prefix}m$r AS (
         SELECT cluster, i, avg(v[i + 1]) AS mx
         FROM (SELECT cluster, v, unnest(range(len(v))) AS i FROM ${prefix}s$r)
         GROUP BY 1, 2),
       ${prefix}c$r AS MATERIALIZED (
         SELECT c.cid, coalesce(n.cv, c.cv) AS cv
         FROM ${prefix}c${r - 1} c LEFT JOIN (
           SELECT cluster AS cid, list(mx ORDER BY i) AS cv
           FROM ${prefix}m$r GROUP BY cluster) n USING (cid))"""
    }.mkString
    s"""${prefix}e AS MATERIALIZED (
         SELECT $idCol, CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       ${prefix}c0 AS MATERIALIZED (
         SELECT row_number() OVER (ORDER BY $idCol) - 1 AS cid, v AS cv
         FROM ${prefix}e ORDER BY $idCol LIMIT $k)$steps,
       ${assignCte(s"a$rounds", s"c$rounds")}"""
  }

  /** Product quantization (Jégou et al. 2011): split the vector into
    * `m` contiguous subspaces, fit an independent k-codebook per
    * subspace with the SAME deterministic Lloyd machinery as
    * [[kmeansAssign]], and encode each vector as its m nearest
    * sub-centroid ids — m·log₂k bits per vector with k^m effective
    * reconstruction points, the codebook scheme under IVF-PQ indexes at
    * billion-vector scale. Returns one row per vector: the m codes plus
    * the reconstruction error Σⱼ d(vⱼ, cⱼ) (subspace squared-L2s —
    * additive because subspaces partition the dimensions). The m fits
    * are independent column-sliced passes over the corpus; nothing ever
    * shuffles wider than the (id, slice) projection, and every codebook
    * is a k×(dim/m) driver literal exactly like the full-space fit.
    */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, rounds: Int): DataFrame = {
    val (sub, books) = pqFit(emb, idCol, vecCol, m, k, rounds)
    pqAssign(emb, idCol, vecCol, sub, books)
  }

  /** The m per-subspace codebooks (+ the subspace width) alone — the
    * driver-literal artifact a deployment fits once per corpus and
    * shares across the encode and search faces (pinned in
    * queries.Pipeline exactly like the full-space k-means fit).
    */
  def pqFit(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, rounds: Int): (Int, Seq[Seq[(Int, Array[Double])]]) = {
    val probe = emb.select(size(col(vecCol)).as("d")).head(1)
    require(probe.nonEmpty,
      s"pqFit: input table is empty — cannot infer $vecCol dimensionality")
    val dim = probe(0).getInt(0)
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val sub = dim / m
    (sub, (0 until m).map { j =>
      kmeansFit(emb.select(col(idCol),
          slice(col(vecCol), j * sub + 1, sub).as(vecCol)),
        idCol, vecCol, k, rounds)
    })
  }

  /** Encode under an already-fitted set of codebooks: one codegen
    * assignment pass per subspace, joined on id. Each subspace scores
    * its window of the vector IN PLACE (`l2sqAt`) — the corpus-scale
    * encode pass allocates no per-row slice copies. */
  def pqAssign(emb: DataFrame, idCol: String, vecCol: String,
      sub: Int, books: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    val m = books.length
    val parts = (0 until m).map { j =>
      assign(emb, idCol, vecCol, books(j), atOffset = j * sub)
        .select(col("id"),
          col("cluster").cast("long").as(s"code$j"), col("dist").as(s"d$j"))
    }
    parts.reduce((a, b) => a.join(b, "id"))
      .select(col("id") +:
        (0 until m).map(j => col(s"code$j")) :+
        ((0 until m).map(j => col(s"d$j")).reduce(_ + _)).as("recon_err"): _*)
  }

  /** PQ asymmetric-distance kNN (the ADC search of Jégou et al. 2011):
    * score every CODE against each query as Σⱼ ‖qⱼ − centroidⱼ[codeⱼ]‖²
    * — the query stays un-quantized, the corpus is touched only through
    * its m small codes, which is the entire point at billion-vector
    * scale (the scan reads m bytes per vector, not the vector). The
    * per-subspace centroid lookup is `element_at` over the k-array
    * codebook literal — the distance "table" inlined into one codegen
    * pass; queries broadcast. Deterministic (adc, neighbor) tiebreak as
    * [[Ann.bruteKnn]].
    */
  def pqAdcKnn(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, rounds: Int, queries: DataFrame, topK: Int): DataFrame = {
    val (sub, codebooks) = pqFit(emb, idCol, vecCol, m, k, rounds)
    pqAdcKnnFrom(pqAssign(emb, idCol, vecCol, sub, codebooks),
      sub, codebooks, queries, idCol, vecCol, topK)
  }

  /** [[pqAdcKnn]] over an already-fitted (and materialized) code table
    * + codebooks — the pinned-fit contract. */
  def pqAdcKnnFrom(codesDf: DataFrame, sub: Int,
      codebooks: Seq[Seq[(Int, Array[Double])]], queries: DataFrame,
      idCol: String, vecCol: String, topK: Int): DataFrame = {
    val m = codebooks.length
    val codes = codesDf
      .select(col("id").as("neighbor_id") +:
        (0 until m).map(j => col(s"code$j")): _*)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val adc = (0 until m).map { j =>
      val book = array(codebooks(j).sortBy(_._1).map { case (_, cv) =>
        array(cv.toIndexedSeq.map(lit): _*)
      }: _*)
      // the per-candidate hot loop: window the query in place, no slice
      VectorFunctions.l2sqAt(col("qv"),
        element_at(book, col(s"code$j").cast("int") + 1), j * sub)
    }.reduce(_ + _)
    codes.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("adc"), col("neighbor_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rank"))
  }

  /** PQ search as deployed: ADC SHORTLIST (cheap, codes-only) then an
    * exact re-rank of only the shortlist against the true vectors — the
    * IVF-PQ + re-rank recipe. Quantization error caps pure-ADC recall
    * (hard on near-uniform vectors, the PQ worst case); the re-rank
    * buys exactness back while touching `shortlist`/corpus-fraction of
    * the real vectors. The exact leg joins the (query-count × shortlist)
    * candidate table back to the corpus on id — never a full
    * queries×corpus product.
    */
  def pqRerankKnn(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, rounds: Int, queries: DataFrame, topK: Int,
      shortlist: Int): DataFrame = {
    val cand = pqAdcKnn(emb, idCol, vecCol, m, k, rounds, queries, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(cand, emb, idCol, vecCol, queries, topK)
  }

  /** Exact re-rank of a candidate shortlist: join the (query_id,
    * neighbor_id) candidates back to the true vectors on id — never a
    * queries×corpus product — and keep the exact-L2 top-k. The
    * exactness-buy-back leg shared by the flat-PQ and IVF-PQ search
    * shapes.
    */
  def rerankExact(cand: DataFrame, emb: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, topK: Int): DataFrame = {
    val vecs = emb.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nv"))
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    cand.join(vecs, col("neighbor_id") === col("nid"))
      .join(broadcast(q), col("query_id") === col("qid"))
      .withColumn("dist", VectorFunctions.l2sq(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("dist"), col("neighbor_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("dist"), col("rank"))
  }

  // ----------------------------------------------------------- IVF-PQ

  private def centroidArrayLit(cents: Seq[(Int, Array[Double])]) =
    array(cents.sortBy(_._1).map { case (_, cv) =>
      array(cv.toIndexedSeq.map(lit): _*)
    }: _*)

  /** Coarse-list assignment by SQUARED L2 — the IVF-PQ stack is
    * L2 end-to-end (residual encode, ADC, exact re-rank), so list
    * selection must rank by the same metric or queries probe the wrong
    * lists ([[Ann.ivfAssign]] ranks by cosine, which costs real recall
    * on un-normalized vectors). Same struct-ordering codegen shape:
    * nProbe=1 (the corpus encode path) is one O(C) `array_min`; query
    * probing sorts the C-length struct array once per query row.
    */
  def ivfAssignL2(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Double])], nProbe: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scored = centroids.map { case (cid, cv) =>
      struct(
        VectorFunctions.l2sq(array(cv.toIndexedSeq.map(lit): _*), v).as("d"),
        lit(cid).as("cid"))
    }
    val probes =
      if (nProbe == 1) array(array_min(array(scored: _*)))
      else slice(array_sort(array(scored: _*)), 1, nProbe)
    df.select(col(idCol).as("id"), v.as("v"), explode(probes).as("p"))
      .select(col("id"), col("v"), col("p.cid").as("cid"))
  }

  /** IVF-PQ index fit (Jégou et al. 2011 IVFADC — the deployed
    * billion-vector composition of the two halves graft already has):
    * corpus vectors are assigned to their nearest IVF coarse-list
    * centroid ([[Ann.ivfAssign]], nProbe=1), then PQ-encoded on the
    * RESIDUAL v − centroid(list) — the residual win: residuals
    * concentrate near the origin, so the same m×k codebook spends its
    * 16⁴ reconstruction points on a much tighter ball than flat PQ
    * spends on the raw corpus. One shared PQ codebook over all
    * residuals (the classic IVFADC layout; per-list codebooks are the
    * memory-heavy variant).
    *
    * Returns (sub, pq codebooks, code table (id, cid, code0..m-1,
    * recon_err)). The residual subtraction is one `zip_with` pass —
    * CodegenFallback, but this is the once-per-corpus ENCODE pass, not
    * the search path; the search path reads codes only. Fit and codes
    * are pinned per (session, dir) by the caller exactly like the flat
    * PQ fit.
    */
  def ivfPqFit(emb: DataFrame, idCol: String, vecCol: String,
      coarse: Seq[(Int, Array[Double])], m: Int, k: Int, rounds: Int)
      : (Int, Seq[Seq[(Int, Array[Double])]], DataFrame) = {
    val cents = centroidArrayLit(coarse)
    val resid = ivfAssignL2(emb, idCol, vecCol, coarse, nProbe = 1)
      .withColumn("resid", zip_with(col("v"),
        element_at(cents, col("cid") + 1), (a, b) => a - b))
      .select(col("id"), col("cid"), col("resid"))
      .localCheckpoint()
    val (sub, books) = pqFit(resid, "id", "resid", m, k, rounds)
    val codes = pqAssign(resid, "id", "resid", sub, books)
      .join(resid.select(col("id"), col("cid")), "id")
    (sub, books, codes)
  }

  /** IVF-PQ ADC shortlist over an already-fitted index: queries probe
    * their nProbe nearest coarse lists, and ADC-score ONLY the codes
    * in those lists — candidate volume ≈ nProbe/nLists of the corpus,
    * each candidate costing m bytes (vs flat ADC's full-corpus code
    * scan). The query side carries its per-list residual
    * q − centroid(list), so the inlined per-subspace distance lookup
    * is the same codebook-literal `element_at` codegen pass as
    * [[pqAdcKnnFrom]]. Every corpus vector lives in exactly one list,
    * so (query, neighbor) candidates are duplicate-free by
    * construction.
    */
  def ivfPqShortlistFrom(codesDf: DataFrame, sub: Int,
      books: Seq[Seq[(Int, Array[Double])]],
      coarse: Seq[(Int, Array[Double])], queries: DataFrame,
      idCol: String, vecCol: String, nProbe: Int,
      shortlist: Int): DataFrame = {
    val m = books.length
    val cents = centroidArrayLit(coarse)
    val qprobe = ivfAssignL2(queries, idCol, vecCol, coarse, nProbe)
      .withColumn("qresid", zip_with(col("v"),
        element_at(cents, col("cid") + 1), (a, b) => a - b))
      .select(col("id").as("query_id"), col("cid").as("qcid"),
        col("qresid"))
    val adc = (0 until m).map { j =>
      val book = array(books(j).sortBy(_._1).map { case (_, cv) =>
        array(cv.toIndexedSeq.map(lit): _*)
      }: _*)
      VectorFunctions.l2sqAt(col("qresid"),
        element_at(book, col(s"code$j").cast("int") + 1), j * sub)
    }.reduce(_ + _)
    val scored = codesDf
      .join(broadcast(qprobe),
        col("cid") === col("qcid") && col("query_id") =!= col("id"))
      .withColumn("adc", adc)
    // rank (adc asc, id asc) ≡ TopK's (value desc, id asc) on the
    // NEGATED adc: the k-bounded partial aggregate keeps the exchange
    // at ≤ shortlist rows per (query, map partition) instead of
    // sort-shuffling every ADC-scored candidate (the window shape).
    // Unbounded callers (spec-side volume audits) keep the window.
    if (shortlist <= 1024)
      graft.operators.TopK.topKPerGroup(
          scored.withColumn("nadc", -col("adc")), "query_id", "nadc", "id",
          shortlist)
        .select(col("query_id"), col("id").as("neighbor_id"),
          (-col("nadc")).as("adc"), col("rank").cast("int").as("rank"))
    else
      scored
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
            .orderBy(col("adc"), col("id"))))
        .filter(col("rank") <= shortlist)
        .select(col("query_id"), col("id").as("neighbor_id"), col("adc"),
          col("rank"))
  }

  /** The deployed IVF-PQ search: coarse probe → residual-ADC shortlist
    * → exact re-rank of the shortlist only. Fits the whole index
    * inline (spec convenience); the driver face reads the PINNED fit
    * via [[ivfPqShortlistFrom]] + [[rerankExact]].
    */
  def ivfPqKnn(emb: DataFrame, idCol: String, vecCol: String,
      nLists: Int, m: Int, k: Int, rounds: Int,
      queries: DataFrame, topK: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    val coarse = kmeansFit(emb, idCol, vecCol, nLists, rounds)
    val (sub, books, codes) = ivfPqFit(emb, idCol, vecCol, coarse, m, k, rounds)
    val cand = ivfPqShortlistFrom(codes.localCheckpoint(), sub, books, coarse,
        queries, idCol, vecCol, nProbe, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(cand, emb, idCol, vecCol, queries, topK)
  }

  /** Persist a fitted IVF-PQ index as four parquet tables under
    * `path` — the serving deployment step: at corpus scale the index
    * is fit ONCE (hours of k-means over billions of vectors) and every
    * serving session [[loadIvfPqIndex]]s it; refitting per session is
    * the anti-pattern the per-(session, dir) pin only mitigates.
    * Layout: `codes/` (the per-vector table — corpus-scale, stays
    * distributed), `coarse/` (nLists centroids), `books/` (m·k
    * codebook rows), `meta/` (subspace width). Doubles round-trip
    * parquet bit-exactly, so load ≡ fit is BIT-identity — every
    * search path (ADC shortlist, re-rank, pruned exact) returns the
    * same rows from a loaded index as from the in-session fit
    * (ClusterSpec asserts all three).
    */
  def saveIvfPqIndex(path: String, coarse: Seq[(Int, Array[Double])],
      sub: Int, books: Seq[Seq[(Int, Array[Double])]],
      codes: DataFrame): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    codes.write.mode("overwrite").parquet(s"$path/codes")
    coarse.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec").repartition(1)
      .write.mode("overwrite").parquet(s"$path/coarse")
    books.zipWithIndex.flatMap { case (book, j) =>
      book.map { case (code, v) => (j, code, v.toSeq) }
    }.toDF("subspace", "code", "vec").repartition(1)
      .write.mode("overwrite").parquet(s"$path/books")
    Seq(sub).toDF("sub").repartition(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load an index persisted by [[saveIvfPqIndex]]. The small tables
    * (centroids, codebooks, meta) collect to driver arrays — they are
    * nLists and m·k sized, codebook-bounded like every broadcast fit;
    * `codes` stays a distributed DataFrame exactly as the in-session
    * pin.
    */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Seq[(Int, Array[Double])], Int, Seq[Seq[(Int, Array[Double])]], DataFrame) = {
    val coarse = spark.read.parquet(s"$path/coarse")
      .select(col("cid"), col("vec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    val sub = spark.read.parquet(s"$path/meta")
      .select(col("sub")).collect().head.getInt(0)
    val books = spark.read.parquet(s"$path/books")
      .select(col("subspace"), col("code"), col("vec")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.map(t => (t._2, t._3)).sortBy(_._1).toSeq
      }
    val codes = spark.read.parquet(s"$path/codes")
    (coarse, sub, books, codes)
  }

  /** EXACT cosine top-k over the corpus with triangle-inequality list
    * pruning on the pinned IVF layout — the lossless counterpart of
    * [[ivfPqKnn]], for callers whose DOWNSTREAM semantics (mutual-kNN
    * graphs, dedup verdicts) need the true top-k, not a recall-bounded
    * approximation. Output is provably identical to the brute-force
    * scan at EVERY corpus size; the IVF layout only decides how much
    * of the corpus is actually scanned. (The PQ half of the pinned
    * index deliberately does NOT participate: quantized distances
    * carry unbounded per-point error, so an ADC rank can seed but
    * never CERTIFY an exact result — and measuring it showed the ADC
    * machinery costs as much as the scan it would save.)
    *
    * Two phases over the fit-time list assignment:
    *  1. OWN-LIST SCAN → THRESHOLD: each query exactly scores the
    *     members of its own coarse list (1/nLists of the corpus); its
    *     k-th best cosine t(q) is a floor any true neighbor must beat.
    *  2. BOUNDED SCAN of the other lists: with q̂,x̂ unit-normalized,
    *     cos(q,x) = 1 − ‖q̂−x̂‖²/2, and by the triangle inequality
    *     ‖q̂−x̂‖ ≥ ‖q̂−c_L‖ − r_L for any list centroid c_L with member
    *     radius r_L = max_{x∈L} ‖x̂−c_L‖. So ub(q,L) = 1 −
    *     max(0, ‖q̂−c_L‖ − r_L)²/2 caps every member's cosine, and
    *     lists with ub < t(q) − ε are skipped WITHOUT recall loss
    *     (ε = 1e-6 covers the 6-dp seal's rounding slack, keeping
    *     id-tie-break candidates at the boundary). The surviving
    *     lists (own list included) are scanned exactly, and t(q) also
    *     PRE-FILTERS the scored rows per row — cos < t(q) − ε can
    *     never displace the k own-list rows that define t — so the
    *     k-bounded rank aggregate sees ~k rows per query, not the
    *     scan (the filter is a codegen comparison; the aggregate's
    *     per-row typed decode is what actually costs).
    *
    * Exactness: every neighbor x of q is either in q's own list
    * (always scanned) or in some other list L; if cos(q,x) ≥ t(q) − ε
    * then ub(q,L) ≥ cos(q,x) ≥ t(q) − ε, so L survives and x is
    * scored — and the true top-k all score ≥ t(q) by t's definition,
    * so the pre-filter keeps them. Pruning effectiveness is a pure
    * data property: on clustered corpora most lists fail the bound
    * (measured in ClusterSpec); on adversarially uniform vectors
    * ub ≈ 1 everywhere and the scan degrades to the brute cost — the
    * information-theoretic floor for exact kNN on structureless data.
    * Works for arbitrary input norms: the BOUND runs on normalized
    * copies, the returned cosine on the raw vectors (cosine is
    * norm-invariant).
    *
    * Execution shape of both scans: (query, list) pairs and the query
    * vectors BROADCAST onto the member table, so cosines stream
    * through one map-side codegen stage straight into the k-bounded
    * TopK partial aggregate — the exchange carries ≤ k rows per
    * (query, partition), never the scored pairs (the brute-scan
    * shape, minus the pruned lists). `broadcastQueries=true` is the
    * SERVING operating point: the broadcast query-vector build is
    * semi-joined down to `queryIds`, so it ships |queries| rows.
    * When the query side is the corpus itself (the mutual-kNN face)
    * or otherwise outgrows the broadcast budget,
    * `broadcastQueries=false` switches to the salted-shuffle variant:
    * the list key has only nLists values — the textbook skew join —
    * so the pairs explode across a member-side salt before the
    * equi-join and vectors attach by id downstream (ClusterSpec pins
    * salted ≡ broadcast bit-equality).
    *
    * @return (query_id, neighbor_id, cos — 6-dp sealed, rank) with
    *         rank by (cos desc, neighbor_id asc), self excluded
    */
  def exactCosineKnnPruned(codesDf: DataFrame,
      coarse: Seq[(Int, Array[Double])], emb: DataFrame,
      idCol: String, vecCol: String, k: Int,
      broadcastQueries: Boolean = true,
      saltBuckets: Int = 8,
      queryIds: Option[DataFrame] = None,
      prepared: Option[ExactKnnIndex] = None): DataFrame =
    exactCosineKnnPrunedWithSurvivors(codesDf, coarse, emb, idCol, vecCol,
      k, broadcastQueries, saltBuckets, queryIds, prepared)._2

  /** Search-invariant scan state of the pruned exact-kNN search — the
    * unit-normalized vectors, the (member, list, vector) table the
    * scoring stages stream over, and the per-list member radii. Every
    * term is a pure function of (codes, emb, coarse), so a serving
    * deployment computes it ONCE per index fit and every query batch
    * reuses it: without this, each streaming trigger re-derived all
    * three (≈2-3 s CPU per trigger at sf0.1 — measured on s_knn —
    * against a pinned index that never changes). Values are identical
    * to the inline derivation by construction (same expressions,
    * materialized once), so results are bit-equal.
    */
  final case class ExactKnnIndex(raw: DataFrame, unit: DataFrame,
      memberVec: DataFrame, radii: DataFrame)

  /** Build (and materialize) the [[ExactKnnIndex]] for a pinned IVF
    * layout. Callers pin it per (session, corpus) alongside `codes`.
    */
  def prepareExactKnn(codesDf: DataFrame,
      coarse: Seq[(Int, Array[Double])], emb: DataFrame,
      idCol: String, vecCol: String): ExactKnnIndex = {
    val i = exactKnnInvariants(codesDf, coarse, emb, idCol, vecCol)
    ExactKnnIndex(i.raw.localCheckpoint(), i.unit.localCheckpoint(),
      i.memberVec.localCheckpoint(), i.radii.localCheckpoint())
  }

  /** The lazy (un-materialized) index terms — the one-shot callers'
    * original inline plan shape.
    */
  private def exactKnnInvariants(codesDf: DataFrame,
      coarse: Seq[(Int, Array[Double])], emb: DataFrame,
      idCol: String, vecCol: String): ExactKnnIndex = {
    val raw = emb.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("rv"))
    val unit = raw.select(col("vid"),
      transform(col("rv"), x => x / VectorFunctions.norm(col("rv"))).as("uv"))
    val cents = centroidArrayLit(coarse)
    // per-list member radius over NORMALIZED members (codes carry the
    // fit-time list assignment; nLists rows total)
    val radii = codesDf.select(col("id").as("vid"), col("cid"))
      .join(unit, Seq("vid"))
      .select(col("cid"),
        sqrt(VectorFunctions.l2sq(col("uv"), element_at(cents, col("cid") + 1)))
          .as("d"))
      .groupBy(col("cid")).agg(max(col("d")).as("r"))
    val memberVec = codesDf.select(col("id").as("mid"), col("cid"))
      .join(raw.select(col("vid").as("mid"), col("rv").as("mrv")), Seq("mid"))
    ExactKnnIndex(raw, unit, memberVec, radii)
  }

  /** [[exactCosineKnnPruned]] plus the surviving (query, list) pair
    * table, so the prune fraction is measurable (ClusterSpec pins it
    * on clustered vs uniform corpora).
    */
  private[graft] def exactCosineKnnPrunedWithSurvivors(codesDf: DataFrame,
      coarse: Seq[(Int, Array[Double])], emb: DataFrame,
      idCol: String, vecCol: String, k: Int,
      broadcastQueries: Boolean = true,
      saltBuckets: Int = 8,
      queryIds: Option[DataFrame] = None,
      prepared: Option[ExactKnnIndex] = None): (DataFrame, DataFrame) = {
    val idx = prepared.getOrElse(
      exactKnnInvariants(codesDf, coarse, emb, idCol, vecCol))
    val raw = idx.raw
    val unit = idx.unit
    val radii = idx.radii
    val memberVec = idx.memberVec
    // the query-vector table the broadcast branch ships to executors:
    // restricted to the serving subset when `queryIds` is given, so the
    // broadcast build is |queries| rows — NEVER the full corpus unless
    // the caller both queries the full corpus AND opted into the
    // broadcast path (the all-queries faces use the salted branch)
    val qVecsAll = raw.select(col("vid").as("qid"), col("rv").as("qrv"))
    val qVecs = queryIds.fold(qVecsAll)(ids =>
      qVecsAll.join(broadcast(ids.select(col("qid"))), Seq("qid"), "left_semi"))
    // exact cosines of every (query, member-of-list) pair in `qlist`
    // (columns qid, cid, t), pre-filtered to cos ≥ t − ε row-side
    def listScore(qlist: DataFrame): DataFrame = {
      val scored =
        if (broadcastQueries)
          memberVec
            .join(broadcast(qlist), Seq("cid"))
            .filter(col("qid") =!= col("mid"))
            .join(broadcast(qVecs), Seq("qid"))
            .select(col("qid"), col("t"),
              round(VectorFunctions.cosine(col("qrv"), col("mrv")), 6).as("cos"),
              col("mid"))
        else {
          // salted list join: the list key has only nLists values — the
          // textbook skew join — so the query side explodes across a
          // member-side salt before the equi-join. Vectors ride the JOIN
          // INPUTS (qrv attached to the |qlist|-row query side, mrv on
          // the member side via memberVec), NEVER the pair stream: the
          // join output flows straight into the cosine + threshold
          // filter + k-bounded aggregate. Attaching by id downstream
          // instead would join the O(|q|·listSize) scored-pair stream
          // twice — two pair-scale shuffles once the corpus outgrows a
          // broadcastable `raw`, i.e. exactly the regime this branch
          // exists for.
          val members = memberVec.withColumn("salt",
            pmod(hash(col("mid")), lit(saltBuckets)))
          qlist
            .join(raw.select(col("vid").as("qid"), col("rv").as("qrv")),
              Seq("qid"))
            .select(col("qid"), col("cid"), col("t"), col("qrv"),
              explode(sequence(lit(0), lit(saltBuckets - 1))).as("salt"))
            .join(members, Seq("cid", "salt"))
            .filter(col("qid") =!= col("mid"))
            .select(col("qid"), col("t"),
              round(VectorFunctions.cosine(col("qrv"), col("mrv")), 6).as("cos"),
              col("mid"))
        }
      scored.filter(col("cos") >= col("t") - 1e-6)
        .select(col("qid"), col("cos"), col("mid"))
    }
    // phase 1: own-list exact scan (unfiltered: t = −1) → per-query
    // k-th best as the threshold. `queryIds` (one `qid` column)
    // restricts the QUERY side to a serving subset — both phases key
    // off this table, so a 10-query micro-batch scans 10 own-lists +
    // their surviving lists, never the all-queries matrix; the member
    // side is untouched (results stay exact vs the full corpus).
    val queryCid0 = codesDf.select(col("id").as("qid"), col("cid"))
    val queryCid = queryIds.fold(queryCid0)(ids =>
      queryCid0.join(broadcast(ids.select(col("qid"))), Seq("qid"), "left_semi"))
    // corpus-as-queries (queryIds empty): materialize phase 1 once —
    // |queries|·k rows, the output's own scale — so the k-th row per
    // query is the phase-2 threshold AND the top-k rows re-enter the
    // final rank directly; phase 2 then never re-scores the own list.
    // Bounded serving batches (queryIds set) skip the materialization:
    // an extra eager job per micro-batch trigger costs more than
    // re-scoring a ≤|batch| own-list scan, so they keep the two-scan
    // shape (A/B measured on the streaming face)
    val reuseOwnList = queryIds.isEmpty
    val p1raw = graft.operators.TopK.topKPerGroup(
      listScore(queryCid.withColumn("t", lit(-1.0))), "qid", "cos", "mid", k)
    val p1 = if (reuseOwnList) p1raw.localCheckpoint() else p1raw
    val thresh = p1.filter(col("rank") === k)
      .select(col("qid").as("vid"), col("cos").as("t"))
    // phase 2: (query × list) bound table — nLists·|queries| rows; the
    // own list is counted as scanned (phase 1 read it) but is NOT
    // re-scored — its candidate rows come from p1
    val qLists = unit
      .join(queryCid.select(col("qid").as("vid"), col("cid").as("ownCid")),
        Seq("vid"))
      .join(thresh, Seq("vid"), "left")
      .select(col("vid").as("qid"), col("ownCid"),
        coalesce(col("t"), lit(-1.0)).as("t"),
        explode(array(coarse.map { case (cid, cv) =>
          struct(lit(cid).as("cid"),
            sqrt(VectorFunctions.l2sq(array(cv.toIndexedSeq.map(lit): _*),
              col("uv"))).as("dqc"))
        }: _*)).as("p"))
      .select(col("qid"), col("ownCid"), col("t"), col("p.cid").as("cid"),
        col("p.dqc"))
    val survivorsAll = qLists.join(broadcast(radii), Seq("cid"))
      .filter(col("cid") === col("ownCid") ||
        when(col("dqc") <= col("r"), lit(1.0))
          .otherwise(lit(1.0) - (col("dqc") - col("r")) * (col("dqc") - col("r"))
            / 2.0) >= col("t") - 1e-6)
    val survivors = survivorsAll.select(col("qid"), col("cid"), col("t"))
    // own-list candidates ride in from p1 verbatim; only OTHER
    // surviving lists pay a phase-2 scan. Lists are disjoint (each
    // member has one fit-time assignment), so the union is dup-free,
    // and own-list rows below own rank k are dominated in the final
    // rank by construction
    val candidates =
      if (reuseOwnList)
        listScore(survivorsAll.filter(col("cid") =!= col("ownCid"))
            .select(col("qid"), col("cid"), col("t")))
          .unionByName(p1.select(col("qid"), col("cos"), col("mid")))
      else listScore(survivors)
    val out = graft.operators.TopK.topKPerGroup(
        candidates, "qid", "cos", "mid", k)
      .select(col("qid").as("query_id"), col("mid").as("neighbor_id"),
        col("cos"), col("rank"))
    (survivors, out)
  }

  /** DBSCAN (Ester et al. KDD'96) from a precomputed ε-neighbor pair
    * set, deterministic variant: core = ≥ minPts neighbors, clusters =
    * connected components over core–core edges, border points attach
    * to the MINIMUM-id cluster among their core neighbors (classic
    * DBSCAN leaves border assignment scan-order-dependent; min-id
    * makes the output a pure function of the neighbor graph), the
    * rest is noise. The pair set is the pluggable scale knob: exact
    * all-pairs at audit scale, LSH-bucketed at corpus scale — core/CC/
    * border logic identical. Unlike plain CC clustering, a low-degree
    * bridge pair cannot fuse two dense regions (the bridge endpoints
    * never become core), and stragglers are explicit noise rather
    * than singleton clusters.
    *
    * @param nodes  one `id` column — the full point set (noise rows
    *               are emitted for points with no neighbors at all)
    * @param pairs  canonical ε-neighbor pairs (id_a < id_b), one row
    *               per unordered pair
    * @return (id, role ∈ core|border|noise, cluster_id — null iff noise)
    */
  def dbscanFromPairs(nodes: DataFrame, pairs: DataFrame,
      minPts: Int): DataFrame = {
    val (und, _, labels) = dbscanFit(pairs, minPts)
    dbscanAssign(nodes, und, labels)
  }

  /** The DBSCAN STATE of a corpus — the artifacts a deployment pins
    * per snapshot and [[dbscanIncremental]] folds batches against:
    * the symmetrized neighbor list, the degree table, and the core
    * labels (cluster id = component-min gid; isolated cores are their
    * own singleton clusters).
    */
  def dbscanFit(pairs: DataFrame,
      minPts: Int): (DataFrame, DataFrame, DataFrame) = {
    val und = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .localCheckpoint() // degree agg + core edges + border attach all read it
    val deg = und.groupBy(col("a")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val core = deg.filter(col("d") >= minPts).select(col("a"))
      .localCheckpoint()
    val coreEdges = und
      .join(core.select(col("a").as("ca")), col("a") === col("ca"), "left_semi")
      .join(core.select(col("a").as("cb")), col("b") === col("cb"), "left_semi")
    val labels = graft.graph.Algorithms.connectedComponents(
        core.select(col("a").as("gid")),
        coreEdges.select(col("a").as("gsrc"), col("b").as("gdst")))
      .localCheckpoint() // core output + border attach
    (und, deg, labels)
  }

  /** Roles from a neighbor list + core labels: core rows from the
    * labels, borders = non-core with a core neighbor (min-id cluster),
    * noise = the rest of `nodes`.
    */
  def dbscanAssign(nodes: DataFrame, und: DataFrame,
      labels: DataFrame): DataFrame = {
    val coreRows = labels.select(col("gid").as("id"),
      lit("core").as("role"), col("comp").as("cluster_id"))
    val border = und
      .join(labels.select(col("gid").as("b"), col("comp")), "b")
      .join(labels.select(col("gid").as("na")), col("a") === col("na"),
        "left_anti")
      .groupBy(col("a"))
      .agg(min(col("comp")).as("cluster_id"))
      .select(col("a").as("id"), lit("border").as("role"), col("cluster_id"))
      .localCheckpoint() // output leg + noise anti-join leg
    val noise = nodes.select(col("id"))
      .join(labels.select(col("gid").as("id")), Seq("id"), "left_anti")
      .join(border.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit("noise").as("role"),
        lit(null).cast("long").as("cluster_id"))
    coreRows.unionByName(border).unionByName(noise)
  }

  /** INCREMENTAL DBSCAN under ARRIVING points — density-state
    * maintenance at delta cost, exact. The monotonicity argument:
    * arrivals only ADD ε-pairs, so degrees only grow, the core set
    * only grows, and clusters only MERGE — never split — which is
    * precisely the regime [[graft.graph.Algorithms.ccIncremental]]'s
    * label contraction handles bit-identically to a refit.
    *
    * Per batch: (1) degree bumps from the new pairs fold into the
    * pinned degree table (full-outer, additive); (2) the delta
    * core-core edge set = new pairs with both endpoints core' PLUS
    * pinned base pairs touching a NEWLY-core endpoint (a base pair
    * between u core and v newly-core was never a core-core edge
    * before — the one subtlety; newly-core nodes are batch-pair
    * endpoints, so this probe is delta-keyed against the pinned
    * neighbor list); (3) prior labels contract through the delta
    * edges; isolated new cores append as singletons; (4) roles
    * re-derive node-scale. Output ≡ [[dbscanFromPairs]] on the full
    * corpus — the oracle is the SAME full-recompute SQL.
    *
    * @param baseUnd    pinned symmetrized base neighbor list (a, b)
    * @param baseDeg    pinned base degree table (a, d)
    * @param baseLabels pinned base core labels (gid, comp)
    * @param newPairs   canonical new ε-pairs (id_a < id_b), every one
    *                   involving ≥ 1 batch point
    */
  def dbscanIncremental(nodes: DataFrame, baseUnd: DataFrame,
      baseDeg: DataFrame, baseLabels: DataFrame, newPairs: DataFrame,
      minPts: Int): DataFrame = {
    val (und, _, labels) =
      dbscanFold(baseUnd, baseDeg, baseLabels, newPairs, minPts)
    dbscanAssign(nodes, und, labels)
  }

  /** One STATE fold of [[dbscanIncremental]]: the pinned
    * (neighbor-list, degree, core-label) triple absorbs a batch of new
    * ε-pairs and returns the updated triple — the same shape
    * [[dbscanFit]] produces, so folds CHAIN (the streaming face feeds
    * each trigger's output state into the next trigger's fold, and the
    * merge-only monotonicity argument applies round by round). The
    * node-scale legs (degrees, labels) are checkpointed per fold; the
    * returned neighbor list is the LAZY union of the pinned base and
    * the checkpointed per-batch deltas — re-materializing the
    * corpus-scale pair list every trigger is exactly the rewrite the
    * fold exists to avoid, and a k-trigger union of checkpointed legs
    * is bounded-depth lineage.
    */
  def dbscanFold(baseUnd: DataFrame, baseDeg: DataFrame,
      baseLabels: DataFrame, newPairs: DataFrame,
      minPts: Int): (DataFrame, DataFrame, DataFrame) = {
    val nu = newPairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(newPairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .localCheckpoint() // bump agg + core-core filter + union leg read it
    // shuffle_hash, not the default sort-merge, for the degree fold:
    // full-outer SMJ paid two node-scale SORTS per trigger for a
    // hash-joinable fold (a broadcast-leg decomposition was A/B'd
    // SLOWER — three broadcast-build jobs per fold cost more than the
    // exchanges they saved, the pageRankLoop economics)
    val bump = nu.groupBy(col("a")).agg(count(lit(1)).as("bd"))
    val deg = baseDeg.join(bump.hint("shuffle_hash"), Seq("a"), "full")
      .select(col("a"),
        (coalesce(col("d"), lit(0L)) + coalesce(col("bd"), lit(0L))).as("d"))
      .localCheckpoint()
    // NOT checkpointed: a map-side filter over the just-checkpointed
    // degree table — re-running it per consumer beats paying an extra
    // materialization job every trigger (A/B measured)
    val core = deg.filter(col("d") >= minPts).select(col("a"))
    // consumed once (the baseTouch probe) — no checkpoint needed
    val newlyCore = core
      .join(baseLabels.select(col("gid").as("a")), Seq("a"), "left_anti")
    val nuCC = nu
      .join(core.select(col("a").as("ca")), col("a") === col("ca"), "left_semi")
      .join(core.select(col("a").as("cb")), col("b") === col("cb"), "left_semi")
    // base pairs that BECOME core-core because one endpoint crossed the
    // threshold: probe the pinned neighbor list on the newly-core side
    // (und carries both directions, so anchoring on `a` sees them all)
    val baseTouch = baseUnd
      .join(newlyCore, Seq("a"), "left_semi")
      .join(core.select(col("a").as("cb2")), col("b") === col("cb2"),
        "left_semi")
    val deltaEdges = nuCC.unionByName(baseTouch)
      .select(col("a").as("gsrc"), col("b").as("gdst"))
    val merged = graft.graph.Algorithms.ccIncremental(baseLabels, deltaEdges)
    // isolated NEW cores (no core-core edge anywhere) are their own
    // singleton clusters — exactly what the full fit's CC would emit.
    // merged's gid set is exactly (prior labels ∪ delta-edge endpoints),
    // so anti-join against THAT instead of merged itself: the lazy
    // merged plan is a node-scale remap join, and evaluating it twice
    // inside the labels checkpoint job doubled the fold's heaviest leg
    val mergedGids = baseLabels.select(col("gid"))
      .unionByName(deltaEdges.select(col("gsrc").as("gid")))
      .unionByName(deltaEdges.select(col("gdst").as("gid")))
    val singletons = core.select(col("a").as("gid"))
      .join(mergedGids, Seq("gid"), "left_anti")
      .select(col("gid"), col("gid").as("comp"))
    val (labels, _) = graft.Superstep.step("stream.fold",
      merged.unionByName(singletons))
    (baseUnd.unionByName(nu), deg, labels)
  }
}
