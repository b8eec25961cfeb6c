package graft.queries

import graft.{QueryDef, Tables}
import graft.PinnedRdds.{pinning, view}
import graft.streaming.Streams
import graft.functions.FnvHash64
import graft.pipeline.{Ann, Dedup, Importance, Multimodal, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** LLM-training-data pipeline operators (SURVEY §2.7) over the
  * `documents` and `embeddings` tables.
  */
object Pipeline {

  // ------------------------------------------------------------ dedup

  def pDedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.load(spark, dir, "documents"), "doc_id", "text")
      .select(col("keep_id"), col("n_copies"))

  val pDedupExactSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
       FROM documents GROUP BY text"""

  /** Duplication-depth profile: the histogram of exact-duplicate
    * cluster sizes (how many texts appear once, twice, k times) with
    * doc and char mass per depth — the corpus-health number quoted
    * before any dedup decision ("X% of docs are copies ≥ k deep", cf.
    * the duplication analyses in the C4/RefinedWeb/FineWeb line).
    * Two digest-keyed aggregations, all-integer output; the result is
    * max-cluster-size rows at any corpus scale.
    */
  def pDupProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(count(lit(1)).as("copies"), sum(col("n_chars")).as("chars"))
      .groupBy(col("copies"))
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("copies")).as("n_docs"),
        (count(lit(1)) * (col("copies") - 1)).as("redundant_docs"),
        sum(col("chars")).as("char_mass"))

  val pDupProfileSql: String =
    """WITH cl AS (SELECT sha256(text) AS digest, count(*) AS copies,
                          sum(n_chars) AS chars
                   FROM documents GROUP BY 1)
       SELECT copies, count(*) AS n_clusters,
              CAST(count(*) * copies AS BIGINT) AS n_docs,
              CAST(count(*) * (copies - 1) AS BIGINT) AS redundant_docs,
              CAST(sum(chars) AS BIGINT) AS char_mass
       FROM cl GROUP BY copies"""

  /** The banded MinHash bucket table over documents (shingleN=3, 64
    * hashes, 16 bands) and the candidate-pair stream it yields — the
    * LSH analogue of the graph family's pinned loop invariants, shared
    * by p_dedup_minhash (reports the pairs), p_dedup_ngram (verifies
    * them), and p_oversized_buckets (audits the buckets): a deployment
    * signatures the corpus snapshot ONCE and derives every dedup face
    * from it (r6 verdict item #6 — the re-derivation was the only
    * reason three faces each paid the signature scan).
    */
  private def lshBucketsCached(spark: SparkSession, dir: String): DataFrame =
    view(spark, dir, "lshBuckets")(pinning(spark) {
      Dedup.minhashBandBuckets(
        Tables.load(spark, dir, "documents"), "doc_id", "text", shingleN = 3)
        .localCheckpoint()
    })

  private def lshPairsCached(spark: SparkSession, dir: String): DataFrame =
    view(spark, dir, "lshPairs") {
      val pairs = Dedup.lshCandidatesFromBuckets(lshBucketsCached(spark, dir))
      pinning(spark) { pairs.localCheckpoint() }
    }

  /** The deterministic k=8 k-means fit over the embeddings table —
    * pinned per (session, dir) like the LSH signature pass: FOUR faces
    * read it (assignment, purity audit, SemDeDup pairwise, outlier
    * screen) and a deployment fits the corpus codebook once, not per
    * query.
    */
  private def kmeansCached(spark: SparkSession, dir: String): DataFrame =
    view(spark, dir, "kmeans")(pinning(spark) {
      graft.pipeline.Cluster.kmeansAssign(
        Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
        k = 8, rounds = 2).localCheckpoint()
    })

  /** The m=4 × k=16 product-quantization fit (codebooks + encoded code
    * table) — pinned per (session, dir) like the full-space k-means:
    * the encode face and the ADC search face read ONE fit.
    */
  private def pqCached(spark: SparkSession, dir: String)
      : (Int, Seq[Seq[(Int, Array[Double])]], DataFrame) =
    view(spark, dir, "pq") {
      val emb = Tables.load(spark, dir, "embeddings")
      val (sub, books) = graft.pipeline.Cluster.pqFit(
        emb, "vec_id", "embedding", m = 4, k = 16, rounds = 2)
      val codes = pinning(spark) {
        graft.pipeline.Cluster.pqAssign(emb, "vec_id", "embedding", sub, books)
          .localCheckpoint()
      }
      (sub, books, codes)
    }

  /** The IVF-PQ index — 16 coarse lists × (m=4, k=16) residual-PQ
    * codebooks + the encoded code table — pinned per (session, dir):
    * one index fit per corpus snapshot, read by every search. The
    * deployed billion-vector composition of the IVF and PQ halves
    * (VERDICT r7 next-round #1).
    */
  def ivfPqCachedPublic(spark: SparkSession, dir: String)
      : (Seq[(Int, Array[Double])], Int, Seq[Seq[(Int, Array[Double])]], DataFrame) =
    ivfPqCached(spark, dir)

  private def ivfPqCached(spark: SparkSession, dir: String)
      : (Seq[(Int, Array[Double])], Int, Seq[Seq[(Int, Array[Double])]], DataFrame) =
    view(spark, dir, "ivfPq") {
      val emb = Tables.load(spark, dir, "embeddings")
      val coarse = graft.pipeline.Cluster.kmeansFit(
        emb, "vec_id", "embedding", k = 16, rounds = 2)
      val (sub, books, codes) = graft.pipeline.Cluster.ivfPqFit(
        emb, "vec_id", "embedding", coarse, m = 4, k = 16, rounds = 2)
      val pinned = pinning(spark) { codes.localCheckpoint() }
      (coarse, sub, books, pinned)
    }

  /** The materialized search-invariants of the pruned exact-kNN path
    * (unit vectors, member-vector table, list radii) — pinned per
    * (session, dir) beside the IVF fit itself: the serving face
    * otherwise re-derived all three EVERY micro-batch trigger, and the
    * mutual-kNN face once more per run (r13 verdict item #5). One
    * index fit, one invariant bake, many query batches — the 100 TB
    * serving shape.
    */
  private def knnIdxCached(spark: SparkSession,
      dir: String): graft.pipeline.Cluster.ExactKnnIndex =
    view(spark, dir, "knnIdx")(pinning(spark) {
      val (coarse, _, _, codes) = ivfPqCached(spark, dir)
      graft.pipeline.Cluster.prepareExactKnn(codes, coarse,
        Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
    })

  /** Build the pinned pipeline materialized views ahead of queries —
    * same load-time contract as [[GraphOps.warmViews]].
    */
  def warmViews(spark: SparkSession, dir: String): Unit = {
    lshBucketsCached(spark, dir)
    lshPairsCached(spark, dir)
    lshBaseBucketsCached(spark, dir)
    cosinePairsCached(spark, dir)
    kmeansCached(spark, dir)
    pqCached(spark, dir)
    ivfPqCached(spark, dir)
    knnIdxCached(spark, dir)
    cardBaseCached(spark, dir)
    ()
  }

  /** MinHash-LSH candidate pairs (rows-only: the banding arithmetic has
    * no tractable SQL mirror; exactness on planted dups in DedupSpec).
    * Reads the pinned pair stream.
    */
  def pDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    lshPairsCached(spark, dir)

  /** The BASE-corpus LSH bucket index (documents with doc_id % 10 ≠ 0)
    * — pinned per (session, dir): in the CDC setup this is the index
    * the previous ingest left behind (the ccBase/basePr discipline
    * applied to the dedup family).
    */
  private def lshBaseBucketsCached(spark: SparkSession, dir: String): DataFrame =
    view(spark, dir, "lshBaseBuckets")(pinning(spark) {
      Dedup.minhashBandBuckets(
        Tables.load(spark, dir, "documents")
          .filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", shingleN = 3)
        .localCheckpoint()
    })

  /** Incremental LSH near-dup maintenance face: the document batch
    * with doc_id ≡ 0 mod 10 arrives and folds into the pinned base
    * bucket index ([[graft.pipeline.Dedup.incrementalLsh]]) — batch
    * signatures + one bucket-keyed probe of the index, never a corpus
    * re-signature. Output is the NEW candidate pairs the delta
    * introduces. Rows-only (seeded banding arithmetic); the invariant
    * that matters — prior pairs ∪ new pairs ≡ a full refit on the
    * union corpus, bit-for-bit — is pinned in DedupSpec on planted and
    * randomized splits, and on this table's own split.
    */
  def pDedupMinhashIncr(spark: SparkSession, dir: String): DataFrame = {
    val batch = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    Dedup.incrementalLsh(lshBaseBucketsCached(spark, dir), batch,
      "doc_id", "text")._2
  }

  /** Oversized-LSH-bucket audit as a standing operability query: the
    * per-band count and total population of band buckets a
    * `maxBucketSize` cap would drop from the candidate path — at 100 TB
    * this is the dashboard row that tells an operator how much recall a
    * capped dedup run traded away. Cap deliberately at the floor (1) so
    * the audit face has signal at test scale, where real bucket
    * populations rarely exceed 2. Rows-only: bucket membership is
    * seeded-minhash arithmetic with no SQL mirror (exactness of the
    * underlying faces is DedupSpec's planted-clique test).
    */
  def pOversizedBuckets(spark: SparkSession, dir: String): DataFrame =
    Dedup.oversizedLshBucketsFromBuckets(lshBucketsCached(spark, dir),
        maxBucketSize = 1)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_oversized"), sum(col("population")).as("dropped_docs"))

  /** Canonical near-dup TEXT clusters: connected components over the
    * pinned MinHash-LSH candidate pairs — the text twin of
    * [[pDedupClusters]] (embeddings), and the table a dedup RUN
    * actually keys its keep/drop decision on (keep min doc_id per
    * canon_id, drop the rest). Composes two verified parts: the pinned
    * pair stream and the CC loop. Rows-only (the pair generation is
    * seeded-minhash arithmetic with no SQL mirror; planted-clique
    * exactness lives in DedupSpec, CC exactness in its own oracle).
    */
  def pMinhashClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val comp = graft.graph.Algorithms.connectedComponents(
      docs.select(col("doc_id").as("gid")),
      lshPairsCached(spark, dir)
        .select(col("id_a").as("gsrc"), col("id_b").as("gdst")))
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "comp")
      .select(col("gid").as("doc_id"), col("comp").as("canon_id"),
        col("cluster_size"))
  }

  def pDedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sims = Dedup.simhash(Tables.load(spark, dir, "documents"), "doc_id", "text")
    Dedup.simhashDupes(sims, maxHamming = 3)
  }

  /** Exact n-gram Jaccard verification over the MinHash candidates.
    * Signatures come from the zero-shuffle expression (re-shingling is
    * cheap narrow CPU); the exploded shingle-hash table is materialized
    * once purely for the verify join's two legs — shingle work happens
    * twice, but the 64-min-agg shuffle of every (doc, shingle) pair is
    * gone, which is the better trade at every scale (measured at sf0.1,
    * and the shuffle grows with corpus size while the re-shingle stays
    * narrow).
    */
  def pDedupNgram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sh = Dedup.hashedShingles(docs, "doc_id", "text", n = 3).localCheckpoint()
    Dedup.ngramJaccardFromHashed(sh, lshPairsCached(spark, dir))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** The ≥0.4-cosine pair stream over the embedding corpus — shared by
    * p_dedup_embed (reports the pairs) and p_dedup_clusters (chains
    * them into canonical clusters); pinned per (session, dir) like the
    * LSH bucket invariants: one all-pairs verify per corpus snapshot.
    */
  private def cosinePairsCached(spark: SparkSession, dir: String): DataFrame =
    view(spark, dir, "cosinePairs") {
      val pairs = Dedup.embedCosineAllPairs(
        Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4)
      pinning(spark) { pairs.localCheckpoint() }
    }

  def pDedupEmbed(spark: SparkSession, dir: String): DataFrame =
    cosinePairsCached(spark, dir)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
        round(col("cosine"), 4).as("cosine"))

  /** Dedup-aggressiveness curve: near-dup pair counts and affected-doc
    * counts at a grid of cosine thresholds — the number a curation run
    * reads BEFORE choosing its threshold (how much would each setting
    * delete?). One pass over the pinned ≥0.4 pair stream, exploded to
    * the threshold grid; integer counts only. Grid comparisons run on
    * the 6dp-ROUNDED cosine on both engines (the seal-before-compare
    * float discipline): Spark's fused dot product and DuckDB's
    * list_cosine_similarity can differ by a ULP, which at an exact
    * grid boundary would flip a pair in or out of a bucket.
    */
  def pDedupCurve(spark: SparkSession, dir: String): DataFrame = {
    val pairs = cosinePairsCached(spark, dir)
    val grid = Seq(0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
    grid.map { t =>
      val p = pairs.filter(round(col("cosine"), 6) >= t)
      val docs = p.select(col("id_a").as("id"))
        .unionByName(p.select(col("id_b").as("id"))).distinct()
      p.agg(lit(t).as("threshold"), count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs_affected"))))
    }.reduce(_ unionByName _)
  }

  val pDedupCurveSql: String =
    """WITH pairs AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) >= 0.4),
       grid AS (SELECT CAST(unnest([0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
                  AS threshold)
       SELECT g.threshold,
              (SELECT count(*) FROM pairs p
               WHERE round(p.cosine, 6) >= g.threshold) AS n_pairs,
              (SELECT count(DISTINCT id) FROM (
                 SELECT id_a AS id FROM pairs WHERE round(cosine, 6) >= g.threshold
                 UNION ALL
                 SELECT id_b AS id FROM pairs WHERE round(cosine, 6) >= g.threshold))
                AS n_docs_affected
       FROM grid g"""

  val pDedupEmbedSql: String =
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 4) AS cosine
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) >= 0.4"""

  /** Embedding-space benchmark decontamination — the semantic twin of
    * the n-gram decontaminate (row 55): a corpus vector is contaminated
    * when it sits within cosine ≥ 0.4 of any held-out eval vector
    * (eval set = vec_id ≡ 0 mod 50, the deterministic stand-in for a
    * benchmark embedding table). Paraphrased eval leakage survives
    * exact and n-gram dedup; this is the audit that catches it.
    * Derived ENTIRELY from the pinned ≥0.4 cosine pair stream shared
    * with p_dedup_embed/p_dedup_clusters — an eval-side filter over an
    * already-verified artifact, zero new pairwise scans; at scale the
    * LSH-bucketed pair path (embedCosineLsh) substitutes identically.
    */
  def pDecontamEmbed(spark: SparkSession, dir: String): DataFrame = {
    val evalA = (col("id_a") % 50) === 0
    val evalB = (col("id_b") % 50) === 0
    cosinePairsCached(spark, dir)
      .select(when(evalA && !evalB, col("id_b"))
          .when(evalB && !evalA, col("id_a")).as("vec_id"),
        col("cosine"))
      .where(col("vec_id").isNotNull)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        round(max(col("cosine")), 4).as("max_cos"))
  }

  val pDecontamEmbedSql: String =
    """WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings WHERE vec_id % 50 = 0),
         corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings WHERE vec_id % 50 <> 0),
         hits AS (SELECT c.vec_id,
                         list_cosine_similarity(c.e, ev.e) AS cos
                  FROM corp c JOIN ev
                    ON list_cosine_similarity(c.e, ev.e) >= 0.4)
       SELECT vec_id, count(*) AS n_eval_hits, round(max(cos), 4) AS max_cos
       FROM hits GROUP BY 1"""

  /** LSH-bucketed embedding near-dup — the scale path behind
    * `p_dedup_embed` (rows-only: the hyperplane bucketing has no SQL
    * mirror; recall vs the all-pairs formulation asserted in DedupSpec,
    * and the all-pairs query above stays as the small-SF oracle anchor).
    * Operating point: 3 bits × 16 tables — a 0.4 cosine is a WEAK
    * similarity (hyperplane collision 0.63/bit), so the tight-threshold
    * 4×8 default recalls only 0.73 of the gate pairs where 3×16
    * measures 1.0 (sweep in AuditFacesSpec / SURVEY §16).
    */
  def pDedupEmbedLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.embedCosineLsh(Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.4, bitsPerTable = 3, numTables = 16)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
        round(col("cosine"), 4).as("cosine"))

  /** Winnowing span-sharing pairs (MOSS fingerprints): docs sharing ≥ 2
    * selected k=4-gram window minima — span-level copy detection.
    */
  def pWinnow(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowPairs(Tables.load(spark, dir, "documents"), "doc_id", "text")

  val pWinnowSql: String =
    """WITH words AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
         FROM documents),
       g AS (
         SELECT doc_id, CASE WHEN len(tk) >= 4
           THEN list_transform(range(len(tk) - 3),
                  i -> array_to_string(tk[i + 1:i + 4], ' '))
           ELSE [array_to_string(tk, ' ')] END AS grams
         FROM words),
       h AS (SELECT doc_id, list_transform(grams, x -> md5(x)) AS hs FROM g),
       sel AS (
         SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(2, len(hs) - 5 + 2)),
           j -> list_aggregate(hs[j:j + 4], 'min'))) AS fps
         FROM h),
       fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING count(*) >= 2"""

  /** Asymmetric containment pairs ([[graft.pipeline.Dedup.containmentPairs]]):
    * document pairs where either side's df-capped 3-gram set is ≥ 60%
    * contained in the other — the sub-document-inclusion screen that
    * resemblance dedup (Jaccard/MinHash) structurally misses. The 0.6
    * gate compares the RAW containments (each a single IEEE double
    * division of two integers — bit-identical across engines, no
    * summation involved); the displayed containments are 4 dp-sealed by
    * exact integer round-half-up, the standing integer-ratio treatment.
    * The df ≤ 20 cap is live at sf0.1 (grams reach df 25) and a no-op
    * at sf0.01 (max df 7) — both regimes gate-checked.
    */
  def pContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.load(spark, dir, "documents"), "doc_id", "text")
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= 0.6)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"),
        (expr("(inter * 20000 + sz_a) DIV (2 * sz_a)").cast("double") / 10000.0)
          .as("c_a_in_b"),
        (expr("(inter * 20000 + sz_b) DIV (2 * sz_b)").cast("double") / 10000.0)
          .as("c_b_in_a"))

  val pContainmentSql: String =
    """WITH words AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
         FROM documents),
       g AS (
         SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
           THEN list_transform(range(len(tk) - 2),
                  i -> array_to_string(tk[i + 1:i + 3], ' '))
           ELSE [array_to_string(tk, ' ')] END) AS grams
         FROM words),
       e AS MATERIALIZED (SELECT doc_id, md5(unnest(grams)) AS h FROM g),
       dfc AS (SELECT h, count(*) AS df FROM e GROUP BY h),
       capped AS MATERIALIZED (
         SELECT doc_id, h FROM e JOIN dfc USING (h) WHERE df <= 20),
       sz AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT id_a, id_b, i AS inter, sa.sz AS sz_a, sb.sz AS sz_b,
              CAST((i * 20000 + sa.sz) // (2 * sa.sz) AS DOUBLE) / 10000.0
                AS c_a_in_b,
              CAST((i * 20000 + sb.sz) // (2 * sb.sz) AS DOUBLE) / 10000.0
                AS c_b_in_a
       FROM inter
       JOIN sz sa ON sa.doc_id = id_a
       JOIN sz sb ON sb.doc_id = id_b
       WHERE greatest(i * 1.0 / sa.sz, i * 1.0 / sb.sz) >= 0.6"""

  /** EXACT Jaccard ≥ 1/2 self-join via AllPairs/PPJoin prefix
    * filtering ([[graft.pipeline.Dedup.ssjoinPrefix]]) — the
    * deterministic twin of the MinHash-LSH candidate path: every
    * qualifying pair, zero recall loss, pairwise work bounded by
    * rare-token prefix collisions instead of all 11.5k token-sharing
    * pairs (sf0.01; the prune factor is SsJoinSpec's assertion). The
    * threshold rides as the exact integer rational 2i ≥ (sa+sb−i), so
    * the gate needs no float discipline at all; the displayed jaccard
    * is 4 dp integer-sealed (standing half-rounding treatment). The
    * oracle is the set-theoretic DEFINITION — brute-force all sharing
    * pairs — so hash-green proves the prefix filter lost nothing.
    */
  def pSsjoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.ssjoinPrefix(Tables.load(spark, dir, "documents"), "doc_id", "text")
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"),
        (expr("(inter * 20000 + (sz_a + sz_b - inter)) DIV " +
            "(2 * (sz_a + sz_b - inter))").cast("double") / 10000.0)
          .as("jaccard"))

  val pSsjoinSql: String =
    """WITH words AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
         FROM documents),
       g AS (
         SELECT doc_id, CASE WHEN len(tk) >= 3
           THEN list_distinct(list_transform(range(len(tk) - 2),
                  i -> array_to_string(tk[i + 1:i + 3], ' ')))
           ELSE [array_to_string(tk, ' ')] END AS grams
         FROM words),
       e AS MATERIALIZED (SELECT doc_id, unnest(grams) AS tok FROM g),
       sz AS (SELECT doc_id, count(*) AS sz FROM e GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT id_a, id_b, i AS inter, sa.sz AS sz_a, sb.sz AS sz_b,
              CAST((i * 20000 + (sa.sz + sb.sz - i)) //
                   (2 * (sa.sz + sb.sz - i)) AS DOUBLE) / 10000.0 AS jaccard
       FROM inter
       JOIN sz sa ON sa.doc_id = id_a
       JOIN sz sb ON sb.doc_id = id_b
       WHERE 2 * i >= sa.sz + sb.sz - i"""

  private def ssjoinIdxCached(spark: SparkSession,
      dir: String): Dedup.SsjoinIndex =
    view(spark, dir, "ssjoinIdx")(pinning(spark) {
      Dedup.ssjoinIndex(
        Tables.load(spark, dir, "documents")
          .filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text")
    })

  /** INCREMENTAL prefix-join maintenance (the incremental-family
    * discipline on the newest dedup member): the doc_id ≡ 0 mod 10
    * batch folds against the pinned base prefix index — no base
    * re-shingle, no re-rank, no prefix rebuild. The enabling fact: the
    * AllPairs prefix theorem holds under ANY fixed total token order
    * (ascending-df is only the heuristic), so the order is PINNED at
    * index-build time and stays valid as the corpus grows; batch-new
    * tokens enter at df 0 (rarest — also the right heuristic, since a
    * token unseen in the base is globally rare by construction).
    * Oracle: the FULL-corpus brute-force definition restricted to
    * batch-involving pairs — hash-green proves fold ≡ recompute, and
    * since the brute force never sees the pinned order at all, it
    * also proves the stale-order prefixes lost nothing.
    */
  def pSsjoinIncr(spark: SparkSession, dir: String): DataFrame =
    Dedup.incrementalSsjoin(ssjoinIdxCached(spark, dir),
        Tables.load(spark, dir, "documents")
          .filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"),
        (expr("(inter * 20000 + (sz_a + sz_b - inter)) DIV " +
            "(2 * (sz_a + sz_b - inter))").cast("double") / 10000.0)
          .as("jaccard"))

  val pSsjoinIncrSql: String = pSsjoinSql +
    "\n         AND (id_a % 10 = 0 OR id_b % 10 = 0)"

  /** The pinned containment index of the BASE corpus (doc_id % 10 ≠ 0)
    * — postings, per-gram dfs, capped set sizes — the artifact the
    * previous ingest left behind (the lshBaseBuckets discipline applied
    * to the containment family).
    */
  private def containmentIdxCached(spark: SparkSession,
      dir: String): Dedup.ContainmentIndex =
    view(spark, dir, "containmentIdx")(pinning(spark) {
      Dedup.containmentIndex(
        Tables.load(spark, dir, "documents").filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text")
    })

  /** INCREMENTAL containment face: the doc_id ≡ 0 mod 10 batch folds
    * into the pinned base index ([[graft.pipeline.Dedup.incrementalContainment]])
    * — batch grams probe the pinned postings/df tables, never a corpus
    * re-shingle — and the output is the batch-involving slice of the
    * FULL-corpus containment semantics. The oracle is p_containment's
    * full-corpus SQL restricted to pairs with a batch side: hash-green
    * PROVES fold ≡ recompute (the g_cc_incr discipline), including the
    * cap-crossing adjustment (grams whose df crosses 20 only when the
    * batch lands — C is delta-scale because dfs only grow via the
    * batch).
    */
  def pContainmentIncr(spark: SparkSession, dir: String): DataFrame = {
    val batch = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    Dedup.incrementalContainment(containmentIdxCached(spark, dir), batch,
        "doc_id", "text")
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= 0.6)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"),
        (expr("(inter * 20000 + sz_a) DIV (2 * sz_a)").cast("double") / 10000.0)
          .as("c_a_in_b"),
        (expr("(inter * 20000 + sz_b) DIV (2 * sz_b)").cast("double") / 10000.0)
          .as("c_b_in_a"))
  }

  val pContainmentIncrSql: String =
    pContainmentSql + " AND (id_a % 10 = 0 OR id_b % 10 = 0)"

  /** Incremental ingest dedup: docs ≥ 250 are the new batch, docs < 250
    * the already-curated index — survivors are batch docs whose text
    * digest is unseen, exact-deduped within the batch.
    */
  def pDedupIncr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Dedup.incrementalExact(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text")
      .select(col("keep_id"), col("n_batch_copies"))
  }

  val pDedupIncrSql: String =
    """WITH idx AS (SELECT DISTINCT sha256(text) AS digest FROM documents WHERE doc_id < 250),
       b AS (SELECT doc_id, sha256(text) AS digest FROM documents WHERE doc_id >= 250)
       SELECT min(doc_id) AS keep_id, count(*) AS n_batch_copies
       FROM b ANTI JOIN idx USING (digest)
       GROUP BY b.digest"""

  /** Benchmark decontamination: corpus docs (doc_id >= 25) sharing any
    * 5-gram with the held-out set (doc_id < 25).
    */
  def pDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Dedup.decontaminate(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
        "doc_id", "text", n = 5)
      .select(col("id").as("doc_id"), col("n_shared"))
  }

  val pDecontamSql: String =
    """WITH words AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
         FROM documents),
       sh AS (
         SELECT doc_id, unnest(CASE WHEN len(w) >= 5
           THEN list_distinct(list_transform(range(len(w) - 4),
                  i -> array_to_string(w[i + 1:i + 5], ' ')))
           ELSE [array_to_string(w, ' ')] END) AS sh
         FROM words),
       t AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 25),
       c AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 25)
       SELECT c.doc_id, count(*) AS n_shared
       FROM c JOIN t USING (sh)
       GROUP BY c.doc_id"""

  /** Corpus n-gram document frequency (each document counts a distinct
    * n-gram once) — the vocabulary/contamination profiling scan every
    * corpus audit starts from. One shingling pass + one groupBy.
    */
  def pNgramFreq(spark: SparkSession, dir: String): DataFrame =
    Dedup.shingles(Tables.load(spark, dir, "documents"), "doc_id", "text", n = 2)
      .groupBy(col("sh").as("ngram")).agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= 25)

  val pNgramFreqSql: String =
    """WITH words AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
         FROM documents),
       sh AS (
         SELECT doc_id, unnest(CASE WHEN len(w) >= 2
           THEN list_distinct(list_transform(range(len(w) - 1),
                  i -> array_to_string(w[i + 1:i + 2], ' ')))
           ELSE [array_to_string(w, ' ')] END) AS sh
         FROM words)
       SELECT sh AS ngram, count(*) AS doc_freq
       FROM sh GROUP BY sh HAVING count(*) >= 25"""

  /** Per-document n-gram NOVELTY in corpus id order: the fraction of a
    * doc's distinct trigrams whose first corpus occurrence (minimum
    * doc_id) is this doc — the marginal-contribution signal an
    * incremental crawl uses to decide whether a new batch still adds
    * vocabulary ("novel token rate" in data-scaling studies). One
    * shingle pass feeds both the first-occurrence aggregation and the
    * per-doc join — gram-keyed and doc-keyed shuffles only, no
    * quadratic doc×doc comparison at any scale.
    */
  def pNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingles(Tables.load(spark, dir, "documents"),
      "doc_id", "text", n = 3).localCheckpoint()
    val first = sh.groupBy(col("sh")).agg(min(col("id")).as("first_id"))
    sh.join(first, "sh")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("id").as("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty"))
  }

  val pNoveltySql: String =
    """WITH words AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
         FROM documents),
       sh AS (
         SELECT doc_id, unnest(CASE WHEN len(w) >= 3
           THEN list_distinct(list_transform(range(len(w) - 2),
                  i -> array_to_string(w[i + 1:i + 3], ' ')))
           ELSE [array_to_string(w, ' ')] END) AS sh
         FROM words),
       first AS (SELECT sh, min(doc_id) AS first_id FROM sh GROUP BY sh)
       SELECT s.doc_id, count(*) AS n_grams,
              CAST(sum(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_novel,
              round(sum(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)
                    / CAST(count(*) AS DOUBLE), 6) AS novelty
       FROM sh s JOIN first f ON s.sh = f.sh
       GROUP BY s.doc_id"""

  /** Deterministic content-hash train/val/test assignment. */
  def pSplitAssign(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.assign(
      Tables.load(spark, dir, "documents").select(col("doc_id")), "doc_id")

  val pSplitAssignSql: String =
    graft.pipeline.Splits.assignSql("documents", "doc_id")

  /** Deterministic stratified mixture: per-source keep rates (a corpus
    * mixing recipe), content-hash stable.
    */
  private val mixRates = Seq("src0" -> 100, "src1" -> 75, "src2" -> 50, "src3" -> 25)
  private val mixDefaultPct = 10

  def pSampleMix(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.sampleStratified(
        Tables.load(spark, dir, "documents"), "doc_id", "source",
        mixRates, mixDefaultPct)
      .select(col("doc_id"), col("source"))

  val pSampleMixSql: String =
    graft.pipeline.Splits.sampleStratifiedSql("documents", "doc_id", "source",
      mixRates, mixDefaultPct, selectCols = "doc_id, source")

  /** Fixed-count eval-set sample: exactly 20 docs per source by md5
    * order of the key — the row-count counterpart of the rate samplers.
    */
  def pSampleTopN(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.sampleTopN(
        Tables.load(spark, dir, "documents"), "doc_id", "source", n = 20)
      .select(col("doc_id"), col("source"))

  val pSampleTopNSql: String =
    graft.pipeline.Splits.sampleTopNSql("documents", "doc_id", "source",
      n = 20, selectCols = "doc_id, source")

  /** Overlapping token chunking: 32-token windows, 16-token stride (the
    * testdata docs run 10-99 tokens, so the overlap + tail paths are
    * actually exercised) — the RAG/context-window preparation pass.
    */
  def pChunkDocs(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.chunkTokens(
        Tables.load(spark, dir, "documents"), "doc_id", "text",
        chunkSize = 32, stride = 16)
      .withColumnRenamed("id", "doc_id")

  val pChunkDocsSql: String =
    graft.pipeline.Packing.chunkTokensSql("documents", "doc_id", "text",
      chunkSize = 32, stride = 16, idOut = "doc_id")

  /** Weight-proportional deterministic sample: 15 docs per language,
    * length-weighted (A-ES with md5-derived uniforms) — the fixed-budget
    * subsample that favors heavy rows reproducibly.
    */
  def pWeightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.weightedSample(Tables.load(spark, dir, "documents"),
        "doc_id", "lang", "n_chars", n = 15)
      .select(col("doc_id"), col("lang"), col("n_chars"))

  val pWeightedSampleSql: String =
    graft.pipeline.Splits.weightedSampleSql("documents", "doc_id", "lang",
      "n_chars", n = 15, selectCols = "doc_id, lang, n_chars")

  /** Misra-Gries heavy hitters over the corpus token stream — the
    * single-pass k-bounded-state frequency sketch. The driver runs it
    * with capacity ≥ the corpus vocabulary (the exact regime, so the
    * GROUP BY oracle hash-matches); FreqSketchSpec exercises eviction
    * and the N/(k+1) undercount bound, which is the 100 TB contract.
    */
  def pHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.load(spark, dir, "documents")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    graft.operators.FreqSketch.heavyHitters(words, "w", capacity = 256)
  }

  val pHeavyHittersSql: String =
    """SELECT w AS item, count(*) AS est_count
       FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
             FROM documents)
       WHERE len(w) > 0 GROUP BY 1"""

  /** Exact heavy tokens via a count-min-sketch prefilter
    * ([[graft.operators.CountMin.heavyExact]]): tokens with true count
    * ≥ 900 and their exact counts. The sketch pass shuffles a bounded
    * depth·width bucket space instead of the corpus-wide token domain,
    * and CMS never under-counts, so the prefilter is lossless for true
    * heavy items — the output is bit-equal to a plain GROUP BY …
    * HAVING, which is the oracle. CountMinSpec exercises the estimate
    * face (upper-bound + merge-by-construction) that has no SQL
    * mirror.
    */
  def pCmsHeavy(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.load(spark, dir, "documents")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("item"))
      .filter(length(col("item")) > 0)
    graft.operators.CountMin.heavyExact(words, "item", threshold = 900L)
  }

  val pCmsHeavySql: String =
    """SELECT w AS item, count(*) AS exact_count
       FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
             FROM documents)
       WHERE len(w) > 0 GROUP BY 1 HAVING count(*) >= 900"""

  /** Per-source vocabulary drift: KL(source unigram ‖ corpus unigram)
    * per source, plus token/type totals — the corpus drift monitor a
    * multi-source training mix runs per snapshot (a source whose word
    * distribution walks away from the pool shows up as rising KL before
    * it shows up in eval loss). All ratios are integer-derived
    * (count/count), KL terms are per-(source, word) row-local, and the
    * sum is round-sealed — the hygiene-spec discipline. Model tables
    * are vocabulary-bounded; the corpus total rides along as a
    * broadcast one-row subplan, so nothing here is driver-side.
    */
  def pVocabDrift(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.load(spark, dir, "documents")
      .select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val sw = words.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
    val s = sw.groupBy(col("source"))
      .agg(sum(col("c_sw")).as("n_tokens"), count(lit(1)).as("n_types"))
    val wc = sw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val tot = broadcast(wc.agg(sum(col("c_w")).as("tot")))
    val p = col("c_sw") / col("n_tokens")
    val q = col("c_w") / col("tot")
    val kl = sw.join(wc, "w")
      .join(s.select(col("source"), col("n_tokens")), "source")
      .crossJoin(tot)
      .withColumn("term", p * log(p / q))
      .groupBy(col("source")).agg(round(sum(col("term")), 6).as("kl"))
    kl.join(s, "source")
      .select(col("source"), col("n_tokens"), col("n_types"), col("kl"))
  }

  val pVocabDriftSql: String =
    """WITH w AS (
         SELECT source, w FROM (
           SELECT source,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
           FROM documents)
         WHERE len(w) > 0),
       sw AS (SELECT source, w, count(*) AS c_sw FROM w GROUP BY 1, 2),
       s AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_tokens,
                    count(*) AS n_types
             FROM sw GROUP BY 1),
       wc AS (SELECT w, sum(c_w) AS c_w FROM (
                SELECT w, sum(c_sw) AS c_w FROM sw GROUP BY 1) GROUP BY 1),
       tot AS (SELECT sum(c_w) AS tot FROM wc)
       SELECT sw.source, s.n_tokens, s.n_types,
              round(sum((c_sw / CAST(s.n_tokens AS DOUBLE))
                * ln((c_sw / CAST(s.n_tokens AS DOUBLE))
                     / (c_w / CAST(tot.tot AS DOUBLE)))), 6) AS kl
       FROM sw JOIN wc USING (w) JOIN s USING (source), tot
       GROUP BY 1, 2, 3"""

  /** Cross-source vocabulary-overlap matrix, EXACT face: distinct
    * word-token sets per source, pairwise shared-type counts and
    * Jaccard — the mixture-design companion to [[pVocabDrift]] (drift
    * says how a source's distribution skews; overlap says how much two
    * sources' vocabularies even coincide). Token-keyed equi-join of the
    * distinct (source, type) table against itself — never a vocabulary
    * cross product; all-integer counts with ONE rounded ratio of exact
    * ints (parity-safe by construction). Output is |sources|² rows.
    */
  def pVocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.load(spark, dir, "documents")
      .select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct().localCheckpoint() // feeds both join legs + the sizes
    val sizes = words.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    words.select(col("source").as("source_a"), col("w"))
      .join(words.select(col("source").as("source_b"), col("w")), "w")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("source_a"), col("nv").as("na")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("nv").as("nb")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"), col("na"),
        col("nb"),
        round(col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")), 6).as("jaccard"))
  }

  val pVocabOverlapSql: String =
    """WITH w AS (
         SELECT DISTINCT source, w FROM (
           SELECT source,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
           FROM documents)
         WHERE len(w) > 0),
       sizes AS (SELECT source, count(*) AS nv FROM w GROUP BY 1),
       sh AS (SELECT a.source AS source_a, b.source AS source_b,
                     count(*) AS n_shared
              FROM w a JOIN w b ON a.w = b.w AND a.source < b.source
              GROUP BY 1, 2)
       SELECT source_a, source_b, n_shared, sa.nv AS na, sb.nv AS nb,
              round(CAST(n_shared AS DOUBLE) / (sa.nv + sb.nv - n_shared), 6)
                AS jaccard
       FROM sh JOIN sizes sa ON sh.source_a = sa.source
               JOIN sizes sb ON sh.source_b = sb.source"""

  /** The same matrix via KMV sketches ([[graft.operators.Kmv]]) — the
    * 100 TB path: one k-bounded mergeable sketch per source in ONE
    * partial-aggregated pass, then the pairwise combine runs over
    * kilobyte arrays instead of re-joining full vocabularies per pair.
    * Rows-only (seeded-hash estimator, no SQL mirror); KmvSpec pins the
    * exact-below-k regime and the error bound vs the exact face.
    */
  def pVocabOverlapKmv(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.load(spark, dir, "documents")
      .select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val k = 256
    val sk = graft.operators.Kmv.sketchPerGroup(words, "source", "w", k)
      .localCheckpoint() // tiny (|sources| rows); feeds both join legs
    val a = sk.select(col("source").as("source_a"), col("sketch").as("ska"))
    val b = sk.select(col("source").as("source_b"), col("sketch").as("skb"))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        graft.operators.Kmv.combine(col("ska"), col("skb"), k).as("est"))
      .select(col("source_a"), col("source_b"), col("est.est_union"),
        col("est.est_shared"), col("est.est_jaccard"))
  }

  /** DSIR importance weights (Xie et al. 2023): per-doc mean
    * log-likelihood ratio of hashed bigram features under the
    * English-subset target model vs the raw corpus model — the
    * resample-toward-quality signal.
    */
  def pDsir(spark: SparkSession, dir: String): DataFrame =
    Importance.dsirWeights(Tables.load(spark, dir, "documents"),
        "doc_id", "text", isTarget = col("lang") === "en")
      .select(col("id").as("doc_id"), col("n_feats"), col("dsir_weight"))

  val pDsirSql: String =
    Importance.dsirSql("documents", "doc_id", "text", "lang = 'en'")

  /** Within-doc n-gram repetition profile (Gopher repetition rules
    * past the 1-gram [[TextAnalysis.dupWordFrac]]): top-bigram mass +
    * duplicate-trigram share + the keep verdict. Doc-keyed work only.
    */
  def pRepetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionProfile(Tables.load(spark, dir, "documents"),
        "doc_id", "text")
      .select(col("id").as("doc_id"), col("top_bigram_n"),
        col("top_bigram_frac"), col("dup_trigram_frac"), col("keep"))

  val pRepetitionSql: String =
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       tok AS (
         SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS tok
         FROM t),
       bgs AS (
         SELECT doc_id, tok || ' ' || lead(tok) OVER
           (PARTITION BY doc_id ORDER BY pos) AS g
         FROM tok),
       tgs AS (
         SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w
                || ' ' || lead(tok, 2) OVER w AS g
         FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       bgc AS (
         SELECT doc_id, g, count(*) AS c FROM bgs
         WHERE g IS NOT NULL GROUP BY 1, 2),
       bga AS (
         SELECT doc_id, max(c) AS topn, CAST(sum(c) AS BIGINT) AS nbg
         FROM bgc GROUP BY 1),
       tga AS (
         SELECT doc_id, count(*) AS ntg, count(DISTINCT g) AS ndtg
         FROM tgs WHERE g IS NOT NULL GROUP BY 1)
       SELECT b.doc_id, b.topn AS top_bigram_n,
              round(b.topn / CAST(b.nbg AS DOUBLE), 4) AS top_bigram_frac,
              round(coalesce(1.0 - t.ndtg / CAST(t.ntg AS DOUBLE), 0.0), 4)
                AS dup_trigram_frac,
              (b.topn / CAST(b.nbg AS DOUBLE) <= 0.05 AND
               coalesce(1.0 - t.ndtg / CAST(t.ntg AS DOUBLE), 0.0) <= 0.02)
                AS keep
       FROM bga b LEFT JOIN tga t ON b.doc_id = t.doc_id"""

  /** Per-doc character-distribution Shannon entropy (bits) — the
    * compression-ratio junk detector.
    */
  def pCharEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        round(TextAnalysis.charEntropy(col("text")), 6).as("char_entropy"))

  val pCharEntropySql: String =
    """SELECT d.doc_id, round(coalesce(e.ent, 0.0), 6) AS char_entropy
       FROM documents d LEFT JOIN (
         SELECT doc_id, entropy(c) AS ent
         FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS c
               FROM documents)
         WHERE c != '' GROUP BY doc_id) e ON d.doc_id = e.doc_id"""

  /** CCNet-style perplexity buckets: per-language equal-population
    * head/middle/tail cut on the bigram-LM fluency score.
    */
  def pPerplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.perplexityBuckets(Tables.load(spark, dir, "documents"),
        "doc_id", "text", "lang", n = 3)
      .select(col("id").as("doc_id"), col("lang"), col("lm_score"), col("bucket"))

  val pPerplexityBucketsSql: String =
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
         FROM documents),
       t2 AS (SELECT doc_id, w FROM t WHERE len(w) >= 2),
       b2 AS MATERIALIZED (
         SELECT doc_id, w[i + 1] AS prev, w[i + 2] AS cur
         FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i FROM t2)),
       cbg AS MATERIALIZED (SELECT prev, cur, count(*) AS c FROM b2 GROUP BY 1, 2),
       cu AS (SELECT prev, sum(c) AS n FROM cbg GROUP BY 1),
       v AS (SELECT count(DISTINCT cur) AS v FROM cbg),
       s AS (
         SELECT doc_id, round(avg(ln((c + 0.5) / (n + 0.5 * v))), 4) AS lm_score
         FROM b2 JOIN cbg USING (prev, cur) JOIN cu USING (prev) CROSS JOIN v
         GROUP BY doc_id)
       SELECT s.doc_id, d.lang, s.lm_score,
              CAST(ntile(3) OVER (
                PARTITION BY d.lang ORDER BY s.lm_score DESC, s.doc_id)
                AS BIGINT) AS bucket
       FROM s JOIN documents d ON d.doc_id = s.doc_id"""

  /** PMI token-pair association over a ≤2-token window — the
    * co-occurrence signal corpus (word2vec/GloVe preprocessing).
    */
  def pPmi(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiPairs(Tables.load(spark, dir, "documents"), "text",
      minPairCount = 2L)

  val pPmiSql: String =
    """WITH t AS (
         SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS w
         FROM documents),
       t2 AS MATERIALIZED (SELECT w FROM t WHERE len(w) >= 2),
       p1 AS (SELECT w[i + 1] AS x, w[i + 2] AS y
              FROM (SELECT w, unnest(range(len(w) - 1)) AS i FROM t2)),
       p2 AS (SELECT w[i + 1] AS x, w[i + 3] AS y
              FROM (SELECT w, unnest(range(len(w) - 2)) AS i FROM t2)),
       pairs AS (
         SELECT least(x, y) AS w1, greatest(x, y) AS w2, count(*) AS n_pair
         FROM (SELECT x, y FROM p1 UNION ALL SELECT x, y FROM p2)
         GROUP BY 1, 2 HAVING count(*) >= 2),
       uni AS MATERIALIZED (
         SELECT tok, count(*) AS c FROM (
           SELECT unnest(w) AS tok FROM t2) GROUP BY 1),
       total AS (SELECT sum(c) AS t FROM uni)
       SELECT w1, w2, n_pair,
              round(ln(CAST(n_pair AS DOUBLE) * CAST(t AS DOUBLE) /
                (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi
       FROM pairs
       JOIN uni u1 ON pairs.w1 = u1.tok
       JOIN uni u2 ON pairs.w2 = u2.tok
       CROSS JOIN total"""

  /** Self-trained bigram LM quality score (statistical gibberish /
    * boilerplate filter): mean log-prob of each doc's bigrams under the
    * corpus's own add-0.5-smoothed bigram model.
    */
  def pLmScore(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLm(Tables.load(spark, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"), col("lm_score"))

  val pLmScoreSql: String =
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
         FROM documents),
       t2 AS (SELECT doc_id, w FROM t WHERE len(w) >= 2),
       b2 AS MATERIALIZED (
         SELECT doc_id, w[i + 1] AS prev, w[i + 2] AS cur
         FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i FROM t2)),
       cbg AS MATERIALIZED (SELECT prev, cur, count(*) AS c FROM b2 GROUP BY 1, 2),
       cu AS (SELECT prev, sum(c) AS n FROM cbg GROUP BY 1),
       v AS (SELECT count(DISTINCT cur) AS v FROM cbg)
       SELECT doc_id, count(*) AS n_bigrams,
              round(avg(ln((c + 0.5) / (n + 0.5 * v))), 4) AS lm_score
       FROM b2 JOIN cbg USING (prev, cur) JOIN cu USING (prev) CROSS JOIN v
       GROUP BY doc_id"""

  /** Line-level exact dedup (C4/CCNet): keep the first corpus occurrence
    * of every distinct sentence; per-doc survivor stats + kept-text sha.
    */
  def pLineDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.lineDedup(Tables.load(spark, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"), col("kept_sha"))

  val pLineDedupSql: String =
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[.!?]+\s+') AS s
         FROM documents),
       x AS (SELECT doc_id, s, unnest(range(len(s))) AS pos FROM t),
       l AS MATERIALIZED (
         SELECT doc_id, pos, line FROM (
           SELECT doc_id, pos, regexp_replace(s[pos + 1], '[.!?]+$', '') AS line
           FROM x)
         WHERE line <> ''),
       k AS (SELECT doc_id, pos, line,
               row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
             FROM l)
       SELECT doc_id, count(*) AS n_lines,
              count(*) FILTER (WHERE rn = 1) AS n_kept,
              sha256(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE rn = 1)) AS kept_sha
       FROM k GROUP BY doc_id"""

  /** Dedup-cluster canonicalization: similarity pairs → undirected graph
    * → connected components ([[graft.graph.Algorithms]] reused outside
    * the property graph) → every document mapped to its cluster's
    * canonical (minimum) id + cluster size. The last step of every
    * dedup pipeline: pairs alone don't say which copy to keep when
    * duplicates chain (a~b, b~c). Pairs here come from the exact
    * all-pairs path so the DuckDB oracle (recursive-CTE closure) sees
    * the identical edge set; at corpus scale the same composition runs
    * off [[graft.pipeline.Dedup.embedCosineLsh]] / LSH candidates.
    */
  def pDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    // the pinned pair stream is already materialized: CC's
    // undirected-edge union reads it as two subtrees without re-running
    // the all-pairs cosine join
    val pairs = cosinePairsCached(spark, dir)
    val comp = graft.graph.Algorithms.connectedComponents(
      emb.select(col("vec_id").as("gid")),
      pairs.select(col("id_a").as("gsrc"), col("id_b").as("gdst")))
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "comp")
      .select(col("gid").as("vec_id"), col("comp").as("canon_id"), col("cluster_size"))
  }

  val pDedupClustersSql: String =
    """WITH RECURSIVE e AS MATERIALIZED (
         SELECT a.vec_id AS s, b.vec_id AS d
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) >= 0.4),
       und AS (SELECT s, d FROM e UNION ALL SELECT d AS s, s AS d FROM e),
       reach(n, m) AS (
         SELECT vec_id, vec_id FROM embeddings
         UNION
         SELECT r.n, u.d FROM reach r JOIN und u ON u.s = r.m),
       comp AS (SELECT n AS vec_id, min(m) AS canon_id FROM reach GROUP BY n),
       sz AS (SELECT canon_id, count(*) AS cluster_size FROM comp GROUP BY canon_id)
       SELECT c.vec_id, c.canon_id, s.cluster_size
       FROM comp c JOIN sz s USING (canon_id)"""

  /** Lloyd k-means over the embedding corpus: 8 clusters, 2 update
    * rounds from the deterministic init — the corpus-organization fit
    * behind SemDeDup/IVF. Oracle: the same fit unrolled round-for-round
    * (same init, same arg-min order, same means).
    */
  def pKmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansCached(spark, dir)
      .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"))

  val pKmeansSql: String =
    s"""WITH ${graft.pipeline.Cluster.kmeansCtes("embeddings", "vec_id", "embedding",
            k = 8, rounds = 2)}
       SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a2"""

  /** Clustering-quality purity audit: each fitted k-means cluster's
    * majority gold label and its share — the standard external
    * evaluation of an unsupervised fit against held labels (does the
    * embedding clustering recover the labeled structure?). Label
    * counts are exact integers and the majority pick is argmax with
    * lowest-label ties, so the verdict is engine-independent; the one
    * division is sealed at 6dp. Output is k rows at any corpus scale.
    */
  def pClusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val asg = kmeansCached(spark, dir)
    asg.join(emb.select(col("vec_id").as("id2"), col("label")),
        col("id") === col("id2"))
      .groupBy(col("cluster").cast("long").as("cluster"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("cluster"))
      .agg(sum(col("n")).as("n_members"),
        max(struct(col("n"), (-col("label")).cast("long").as("negl"))).as("m"))
      .select(col("cluster"), col("n_members"),
        (-col("m.negl")).as("top_label"), col("m.n").as("top_n"))
      .select(col("cluster"), col("n_members"), col("top_label"), col("top_n"),
        // exact integer round-half-up (the half-rounding class)
        (expr("(top_n * 2000000 + n_members) DIV (2 * n_members)")
          .cast("double") / 1000000.0).as("purity"))
  }

  val pClusterPuritySql: String =
    s"""WITH ${graft.pipeline.Cluster.kmeansCtes("embeddings", "vec_id", "embedding",
            k = 8, rounds = 2)},
       cl AS (
         SELECT CAST(a.cluster AS BIGINT) AS cluster, e.label, count(*) AS n
         FROM a2 a JOIN embeddings e ON a.vec_id = e.vec_id
         GROUP BY 1, 2),
       best AS (
         SELECT cluster, label, n,
                row_number() OVER (PARTITION BY cluster
                  ORDER BY n DESC, label) AS rn,
                CAST(sum(n) OVER (PARTITION BY cluster) AS BIGINT) AS total
         FROM cl)
       SELECT cluster, total AS n_members, CAST(label AS BIGINT) AS top_label,
              n AS top_n,
              CAST((n * 2000000 + total) // (2 * total) AS DOUBLE) / 1000000.0
                AS purity
       FROM best WHERE rn = 1"""

  /** Product-quantization codes + reconstruction error
    * ([[graft.pipeline.Cluster.pqCodes]]): 4 subspaces × 16 centroids
    * over the 64-dim embeddings — 4 bytes/vector with 16⁴ effective
    * reconstruction points, the IVF-PQ codebook layer. Oracle: four
    * prefix-namespaced copies of the unrolled k-means CTEs, one per
    * column slice, joined on vec_id.
    */
  def pPqCodes(spark: SparkSession, dir: String): DataFrame =
    pqCached(spark, dir)._3
      .select(col("id").as("vec_id"), col("code0"), col("code1"),
        col("code2"), col("code3"), round(col("recon_err"), 6).as("recon_err"))

  val pPqCodesSql: String = {
    val sub = 16
    val ctes = (0 until 4).map { j =>
      graft.pipeline.Cluster.kmeansCtes(
        s"(SELECT vec_id, embedding[${j * sub + 1}:${(j + 1) * sub}] AS embedding FROM embeddings)",
        "vec_id", "embedding", k = 16, rounds = 2, prefix = s"q${j}_")
    }.mkString(",\n")
    s"""WITH $ctes
       SELECT q0.vec_id,
              CAST(q0.cluster AS BIGINT) AS code0,
              CAST(q1.cluster AS BIGINT) AS code1,
              CAST(q2.cluster AS BIGINT) AS code2,
              CAST(q3.cluster AS BIGINT) AS code3,
              round(q0.dist + q1.dist + q2.dist + q3.dist, 6) AS recon_err
       FROM q0_a2 q0
       JOIN q1_a2 q1 ON q0.vec_id = q1.vec_id
       JOIN q2_a2 q2 ON q0.vec_id = q2.vec_id
       JOIN q3_a2 q3 ON q0.vec_id = q3.vec_id"""
  }

  /** PQ asymmetric-distance kNN ([[graft.pipeline.Cluster.pqAdcKnn]]):
    * queries scored against the corpus THROUGH ITS CODES — the
    * billion-vector search path where the scan reads m bytes per
    * vector. Same query anchor and tiebreak discipline as p_knn_brute.
    */
  def pKnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val (sub, books, codes) = pqCached(spark, dir)
    graft.pipeline.Cluster.pqAdcKnnFrom(codes, sub, books,
        queries = emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", topK = 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc"), 4).as("adc"), col("rank").cast("long").as("rank"))
  }

  val pKnnPqSql: String = {
    val sub = 16
    val ctes = (0 until 4).map { j =>
      graft.pipeline.Cluster.kmeansCtes(
        s"(SELECT vec_id, embedding[${j * sub + 1}:${(j + 1) * sub}] AS embedding FROM embeddings)",
        "vec_id", "embedding", k = 16, rounds = 2, prefix = s"q${j}_")
    }.mkString(",\n")
    val subJoin = (0 until 4).map { j =>
      s"s$j AS (SELECT a.vec_id, c.cv FROM q${j}_a2 a JOIN q${j}_c2 c ON a.cluster = c.cid)"
    }.mkString(",\n       ")
    val adcExpr = (0 until 4).map { j =>
      s"list_distance(q.qv[${j * sub + 1}:${(j + 1) * sub}], s$j.cv) * " +
        s"list_distance(q.qv[${j * sub + 1}:${(j + 1) * sub}], s$j.cv)"
    }.mkString(" + ")
    s"""WITH $ctes,
       $subJoin,
       q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
             FROM embeddings WHERE vec_id < 10),
       scored AS (
         SELECT q.query_id, s0.vec_id AS neighbor_id,
                $adcExpr AS adc
         FROM q CROSS JOIN s0
         JOIN s1 ON s0.vec_id = s1.vec_id
         JOIN s2 ON s0.vec_id = s2.vec_id
         JOIN s3 ON s0.vec_id = s3.vec_id
         WHERE q.query_id <> s0.vec_id),
       ranked AS (
         SELECT query_id, neighbor_id, adc,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY adc, neighbor_id) AS rank
         FROM scored)
       SELECT query_id, neighbor_id, round(adc, 4) AS adc,
              CAST(rank AS BIGINT) AS rank
       FROM ranked WHERE rank <= 5"""
  }

  /** SemDeDup: semantic near-dup pairs found INSIDE k-means clusters —
    * the clustering bounds pairwise work at Σ|cluster|², the scale
    * recipe for embedding dedup when LSH recall isn't wanted.
    */
  def pSemDedup(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Cluster.semDedupFromAssign(
        kmeansCached(spark, dir), threshold = 0.4)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
        col("cluster").cast("long").as("cluster"),
        round(col("cosine"), 4).as("cosine"))

  val pSemDedupSql: String =
    s"""WITH ${graft.pipeline.Cluster.kmeansCtes("embeddings", "vec_id", "embedding",
            k = 8, rounds = 2)}
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              CAST(a.cluster AS BIGINT) AS cluster,
              round(list_cosine_similarity(a.v, b.v), 4) AS cosine
       FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.v, b.v) >= 0.4"""

  /** Embedding outlier audit: squared distance to the fitted centroid,
    * flagged above the per-cluster p95 — prune-OOD curation.
    */
  def pEmbedOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Cluster.embedOutliersFromAssign(
        kmeansCached(spark, dir), q = 0.95)
      .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"),
        round(col("dist"), 6).as("dist"), col("is_outlier"))

  val pEmbedOutliersSql: String =
    s"""WITH ${graft.pipeline.Cluster.kmeansCtes("embeddings", "vec_id", "embedding",
            k = 8, rounds = 2)},
       thr AS (SELECT cluster, quantile_cont(dist, 0.95) AS thr
               FROM a2 GROUP BY cluster)
       SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
              round(dist, 6) AS dist, dist > thr AS is_outlier
       FROM a2 JOIN thr USING (cluster)"""

  /** Int8 scalar quantization of the embedding store: codes + per-vector
    * reconstruction MSE (the 4× compression audit).
    */
  def pQuantize(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val (lo, hi) = graft.pipeline.Cluster.quantStats(emb, "embedding")
    graft.pipeline.Cluster.quantizeInt8(emb, "vec_id", "embedding", lo, hi)
      // codes as a CSV scalar: the driver comparator sorts rows on every
      // column, and array cells aren't sortable there (round-4 verdict #1)
      .select(col("id").as("vec_id"),
        array_join(col("codes").cast("array<string>"), ",").as("codes"),
        round(col("mse"), 8).as("mse"))
  }

  val pQuantizeSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       f AS MATERIALIZED (SELECT vec_id, v, unnest(range(len(v))) AS i FROM e),
       st AS MATERIALIZED (
         SELECT i, min(v[i + 1]) AS lo, max(v[i + 1]) AS hi FROM f GROUP BY i),
       c AS (
         SELECT vec_id, i, v[i + 1] AS x, lo, hi,
                CASE WHEN hi > lo
                  THEN CAST(floor((v[i + 1] - lo) * 255.0 / (hi - lo) + 0.5) AS INT)
                  ELSE 0 END AS code
         FROM f JOIN st USING (i)),
       d AS (SELECT vec_id, i, code, x,
                    lo + code * (hi - lo) / 255.0 AS deq FROM c)
       SELECT vec_id, array_to_string(list(code ORDER BY i), ',') AS codes,
              round(sum((x - deq) * (x - deq)) / count(*), 8) AS mse
       FROM d GROUP BY vec_id"""

  // -------------------------------------------------------------- ANN

  def pKnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Ann.bruteKnn(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank").cast("long").as("rank"))
  }

  val pKnnBruteSql: String =
    """SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, CAST(rank AS BIGINT) AS rank
       FROM (
         SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[])) AS cosine,
                row_number() OVER (
                  PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])) DESC,
                           e.vec_id) AS rank
         FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
         WHERE q.vec_id < 10)
       WHERE rank <= 5"""

  /** The serving query stream: vec_id < 30 split into three parquet
    * files (queries are independent, so any split exercises the
    * batching), pinned per (session, dir) as the other stream sources.
    */
  private def knnQuerySourceDir(spark: SparkSession, dir: String): String =
    Streams.fileSource(spark, dir, "knnQuerySrc") {
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < 30)
        .select(col("vec_id"))
        .repartition(3, col("vec_id"))
    }

  /** STREAMING exact-kNN serving — the serving half of the ANN family
    * as a stream face: query ids arrive in three REAL micro-batches
    * (file source, one file per trigger) and each batch is answered by
    * [[graft.pipeline.Cluster.exactCosineKnnPruned]] restricted to the
    * batch's queries over the PINNED IVF layout — per-trigger work is
    * |batch| own-list scans + their surviving lists, never the
    * all-queries matrix, and the index is fit once per session, not
    * per trigger. Results accumulate and union at drain. Oracle: the
    * brute-force top-5 definition for the same query set (6 dp-sealed
    * rank, id tiebreak — the pruned path's exactness claim), so
    * hash-green proves BOTH the streamed batching and the
    * triangle-inequality pruning return the true top-k.
    */
  def sKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val (coarse, _, _, codes) = ivfPqCached(spark, dir)
    val src = knnQuerySourceDir(spark, dir)
    var outs: List[DataFrame] = Nil
    Streams.replay(spark, src) { b =>
      val ids = b.select(col("vec_id").as("qid")).localCheckpoint()
      outs = graft.pipeline.Cluster.exactCosineKnnPruned(codes, coarse,
          emb, "vec_id", "embedding", k = 5, queryIds = Some(ids),
          prepared = Some(knnIdxCached(spark, dir)))
        .localCheckpoint() :: outs
    }
    outs.reduce(_ unionByName _)
      .select(col("query_id"), col("neighbor_id"), col("cos").as("cosine"),
        col("rank").cast("long").as("rank"))
  }

  val sKnnSql: String =
    """SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
       FROM (
         SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                             CAST(e.embedding AS DOUBLE[])), 6) AS cosine,
                row_number() OVER (
                  PARTITION BY q.vec_id
                  ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                        CAST(e.embedding AS DOUBLE[])), 6) DESC,
                           e.vec_id) AS rank
         FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
         WHERE q.vec_id < 30)
       WHERE rank <= 5"""

  /** Hard-negative mining: per query vector (vec_id < 10), the 5
    * most-similar corpus vectors with a different label.
    */
  def pHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Ann.hardNegatives(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", "label", k = 5)
      .select(col("query_id"), col("q_label").cast("long").as("q_label"),
        col("neighbor_id"), col("n_label").cast("long").as("n_label"),
        round(col("cosine"), 4).as("cosine"), col("rank").cast("long").as("rank"))
  }

  val pHardNegativesSql: String =
    """SELECT query_id, CAST(q_label AS BIGINT) AS q_label, neighbor_id,
              CAST(n_label AS BIGINT) AS n_label,
              round(cosine, 4) AS cosine, CAST(rank AS BIGINT) AS rank
       FROM (
         SELECT q.vec_id AS query_id, q.label AS q_label,
                e.vec_id AS neighbor_id, e.label AS n_label,
                list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[])) AS cosine,
                row_number() OVER (
                  PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])) DESC,
                           e.vec_id) AS rank
         FROM embeddings q JOIN embeddings e
           ON e.vec_id != q.vec_id AND e.label != q.label
         WHERE q.vec_id < 10)
       WHERE rank <= 5"""

  /** LSH-bucketed ANN (rows-only; recall vs brute measured in AnnSpec). */
  def pKnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Ann.lshKnn(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        dim = 64, k = 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** IVF-bucketed ANN (rows-only; recall vs brute measured in AnnSpec). */
  def pKnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Ann.ivfKnn(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** IVF-PQ + exact re-rank — the DEPLOYED billion-vector search
    * shape: queries probe their 4 nearest of the 16 coarse lists,
    * ADC-score only those lists' residual-PQ codes (candidate volume
    * ≈ nProbe/nLists of the corpus at m bytes/vector), and the
    * 40-candidate shortlist is exactly re-ranked against the true
    * vectors. Reads the PINNED index fit ([[ivfPqCached]]); rows-only
    * (seeded fit) — recall vs the flat-PQ re-rank at equal candidate
    * budget, the candidate-volume bound, and the one-fit plan identity
    * are pinned in AnnSpec + PlanShapeSpec.
    */
  def pKnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val (coarse, sub, books, codes) = ivfPqCached(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val cand = graft.pipeline.Cluster.ivfPqShortlistFrom(codes, sub, books,
        coarse, queries, "vec_id", "embedding", nProbe = 4, shortlist = 40)
      .select(col("query_id"), col("neighbor_id"))
    graft.pipeline.Cluster.rerankExact(cand, emb, "vec_id", "embedding",
        queries, topK = 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("dist"), 4).as("dist"), col("rank").cast("long").as("rank"))
  }

  /** Where this session SAVED the pinned IVF-PQ index
    * ([[graft.pipeline.Cluster.saveIvfPqIndex]]) — written once per
    * (session, dir), the fit-once half of the fit-once /
    * serve-everywhere loop [[pKnnIvfPqLoaded]] gates.
    */
  private def ivfPqSavedDir(spark: SparkSession, dir: String): String =
    view(spark, dir, "ivfPqSaved") {
      val (coarse, sub, books, codes) = ivfPqCached(spark, dir)
      val out = graft.streaming.Streams.scratchDir("graft_ivfpq_idx")
        .toString
      graft.pipeline.Cluster.saveIvfPqIndex(out, coarse, sub, books, codes)
      out
    }

  /** The SERVING path of the persisted index, gated end-to-end in the
    * driver artifact (SURVEY 48c): the pinned fit is saved once per
    * session ([[ivfPqSavedDir]]), every call answers the s_knn query
    * set (vec_id < 30) from the LOADED index —
    * [[graft.pipeline.Cluster.loadIvfPqIndex]] round-trips centroids /
    * codebooks / meta / codes through parquet and the shortlist +
    * exact re-rank read ONLY those loaded tables (plus raw vectors for
    * the re-rank, as in production). Rows-only (seeded fit, like
    * p_knn_ivfpq); ClusterSpec pins load ≡ fit bit-identity for all
    * three search paths, and this face makes the driver run the loaded
    * half every round instead of trusting the spec alone.
    */
  def pKnnIvfPqLoaded(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val (coarse, sub, books, codes) = graft.pipeline.Cluster.loadIvfPqIndex(
      spark, ivfPqSavedDir(spark, dir))
    val queries = emb.filter(col("vec_id") < 30)
    val cand = graft.pipeline.Cluster.ivfPqShortlistFrom(codes, sub, books,
        coarse, queries, "vec_id", "embedding", nProbe = 4, shortlist = 40)
      .select(col("query_id"), col("neighbor_id"))
    graft.pipeline.Cluster.rerankExact(cand, emb, "vec_id", "embedding",
        queries, topK = 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("dist"), 4).as("dist"), col("rank").cast("long").as("rank"))
  }

  /** Prefix-dimension recall curve (the Matryoshka-representation
    * serving audit, Kusupati et al. 2022): top-5 cosine retrieval run
    * on the d-dimensional PREFIX of the embedding for d ∈ {8, 16, 32,
    * 64}, scored as recall against the full-dimension top-5. At corpus
    * scale the first-stage scan is memory-bandwidth-bound, so serving
    * from a d=16 prefix is a 4× scan-cost lever IF the recall holds —
    * this face measures exactly that trade on the corpus at hand (the
    * d=64 row is the identity and must read 1.0, a built-in sanity
    * anchor). One broadcast queries×corpus pass computes all four
    * prefix cosines (the dims ride in one exploded struct array), then
    * one window ranks per (dim, query). Ranking compares the 6
    * dp-ROUNDED cosine on both engines (seal-before-compare: a raw-ULP
    * rank flip at a tie boundary would swap a top-5 member); recall is
    * 4 dp-sealed by exact integer round-half-up.
    */
  def pDimCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val dims = Seq(8, 16, 32, 64)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        explode(array(dims.map(d => struct(lit(d).as("dim"),
          round(graft.functions.VectorFunctions.cosine(
            slice(col("qv"), 1, d), slice(col("cv"), 1, d)), 6).as("cos"))): _*))
          .as("s"))
      .select(col("s.dim").as("dim"), col("query_id"), col("neighbor_id"),
        col("s.cos").as("cos"))
    val top = scored.withColumn("rnk", row_number().over(
        Window.partitionBy(col("dim"), col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rnk") <= 5)
      .select(col("dim"), col("query_id"), col("neighbor_id"))
      .localCheckpoint() // the full-dim leg and the per-dim legs both read it
    val full = top.filter(col("dim") === 64)
      .select(col("query_id"), col("neighbor_id"))
    val hits = top.join(full, Seq("query_id", "neighbor_id"))
      .groupBy(col("dim")).agg(count(lit(1)).as("__h"))
    // left join from the dim grid: a truncation with ZERO overlap must
    // still report its (dim, 0, …) row — the curve is the deliverable
    import spark.implicits._
    dims.toDF("dim").join(hits, Seq("dim"), "left")
      .select(col("dim"), coalesce(col("__h"), lit(0L)).as("n_hits"),
        lit(50L).as("n_total"),
        (expr("(coalesce(__h, 0) * 20000 + 50) DIV 100").cast("double") / 10000.0)
          .as("recall"))
  }

  val pDimCurveSql: String =
    """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE vec_id < 10),
       c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
       scored AS (
         SELECT d.dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
                round(list_cosine_similarity(q.v[1:d.dim], c.v[1:d.dim]), 6)
                  AS cos
         FROM q JOIN c ON c.vec_id != q.vec_id CROSS JOIN dims d),
       ranked AS (
         SELECT dim, query_id, neighbor_id,
                row_number() OVER (PARTITION BY dim, query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
         FROM scored),
       top AS MATERIALIZED (
         SELECT dim, query_id, neighbor_id FROM ranked WHERE rnk <= 5),
       fulltop AS (SELECT query_id, neighbor_id FROM top WHERE dim = 64),
       hits AS (
         SELECT t.dim, count(*) AS h
         FROM top t JOIN fulltop f USING (query_id, neighbor_id)
         GROUP BY t.dim)
       SELECT d.dim, CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
              CAST(50 AS BIGINT) AS n_total,
              CAST((coalesce(h.h, 0) * 20000 + 50) // 100 AS DOUBLE) / 10000.0
                AS recall
       FROM dims d LEFT JOIN hits h USING (dim)"""

  /** Mutual-kNN clustering of the embedding corpus: connect a ↔ b iff
    * each is in the other's top-5 by cosine, then connected components
    * over the mutual graph — the classic density-adaptive clustering
    * (mutual edges require RECIPROCAL proximity, so hubs don't absorb
    * unrelated points the way plain kNN chaining does) that needs no k
    * choice per cluster, complementing the fixed-k k-means faces.
    * Ranks compare 6 dp-rounded cosines (seal-before-compare, the
    * p_dim_curve discipline); everything downstream of the rank is
    * integer/id arithmetic. Output: (vec_id, cluster_id = component
    * min id, cluster_size); singletons report their own id, size 1.
    *
    * The top-5 comes from [[graft.pipeline.Cluster.exactCosineKnnPruned]]
    * over the PINNED IVF fit: each query exactly scans its own coarse
    * list for a per-query threshold, then only OTHER lists whose
    * triangle-inequality centroid bound can still beat it are scanned
    * — provably the TRUE top-5 at every corpus size (the r8 containment
    * measurement showed a recall-bounded ADC shortlist caps out at
    * 0.93 on this near-uniform corpus, so that swap could never stay
    * hash-green; the bounded-scan path is lossless by construction
    * instead). Mutual join + CC are unchanged downstream.
    */
  def pMutualKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (coarse, _, _, codes) = ivfPqCached(spark, dir)
    // the query side IS the corpus — the salted-shuffle path, never a
    // corpus-scale broadcast build (the serving faces with bounded
    // queryIds keep the broadcast branch)
    val top = graft.pipeline.Cluster.exactCosineKnnPruned(codes, coarse,
        emb, "vec_id", "embedding", k = 5, broadcastQueries = false,
        prepared = Some(knnIdxCached(spark, dir)))
      .select(col("query_id").as("ida"), col("neighbor_id").as("idb"))
      .localCheckpoint() // both mutual-join legs read it
    val mutual = top.join(
      top.select(col("ida").as("rb"), col("idb").as("ra")),
      col("ida") === col("ra") && col("idb") === col("rb"), "left_semi")
    val comp = graft.graph.Algorithms.connectedComponents(
      v.select(col("vec_id").as("gid")),
      mutual.select(col("ida").as("gsrc"), col("idb").as("gdst")))
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "comp")
      .select(col("gid").as("vec_id"), col("comp").as("cluster_id"),
        col("cluster_size"))
  }

  private def mutualKnnCcSteps(rounds: Int): String =
    (1 to rounds).map { i =>
      s""",
       c$i AS MATERIALIZED (
         SELECT c.gid, least(c.comp, coalesce(m.nc, c.comp)) AS comp
         FROM c${i - 1} c LEFT JOIN (
           SELECT u.a, min(p.comp) AS nc
           FROM mut u JOIN c${i - 1} p ON u.b = p.gid GROUP BY u.a) m
         ON c.gid = m.a)"""
    }.mkString

  private val mutualKnnCcRounds = 20

  val pMutualKnnSql: String = {
    val r = mutualKnnCcRounds
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
       scored AS (
         SELECT a.vec_id AS ida, b.vec_id AS idb,
                round(list_cosine_similarity(a.v, b.v), 6) AS cos
         FROM e a JOIN e b ON a.vec_id != b.vec_id),
       topk AS MATERIALIZED (
         SELECT ida, idb FROM (
           SELECT ida, idb, row_number() OVER (
             PARTITION BY ida ORDER BY cos DESC, idb) AS rnk
           FROM scored) WHERE rnk <= 5),
       mut AS MATERIALIZED (
         SELECT t.ida AS a, t.idb AS b
         FROM topk t JOIN topk s ON t.ida = s.idb AND t.idb = s.ida),
       c0 AS MATERIALIZED (
         SELECT vec_id AS gid, vec_id AS comp FROM e)${mutualKnnCcSteps(r)},
       converged AS (
         SELECT 1 AS ok WHERE CASE WHEN (SELECT count(*) FROM
             ((SELECT * FROM c$r) EXCEPT (SELECT * FROM c${r - 1}))) > 0
           THEN error('mutual-knn cc oracle: $r unrolled rounds exhausted before fixpoint')
           ELSE true END),
       sizes AS (SELECT comp, count(*) AS cluster_size FROM c$r GROUP BY comp)
       SELECT c.gid AS vec_id, c.comp AS cluster_id, s.cluster_size
       FROM c$r c JOIN sizes s USING (comp), converged"""
  }

  /** DBSCAN density clustering over the embedding corpus (Ester et al.
    * KDD'96), deterministic variant: neighbor relation = the pinned
    * ≥ 0.4 cosine pair stream (the SAME artifact p_dedup_embed /
    * p_dedup_clusters read — one all-pairs verify per corpus
    * snapshot), core = ≥ 3 neighbors, clusters = connected components
    * over CORE–CORE edges (the verified CC loop), border points join
    * the MINIMUM-id cluster among their core neighbors (classic DBSCAN
    * leaves border assignment scan-order-dependent; min-id makes it a
    * pure function of the graph), everything else is noise. Differs
    * from p_dedup_clusters (plain CC) exactly where DBSCAN should: a
    * low-degree bridge pair cannot fuse two dense regions, and
    * stragglers become explicit noise instead of singleton clusters.
    * At 100 TB the pair stream swaps to the LSH-bucketed path
    * (embedCosineLsh) with core/CC/border unchanged. Oracle: the
    * set-theoretic composition — brute-force pair CTE, degree filter,
    * unrolled min-label CC with a converged guard, min-over-core-
    * neighbor border attach.
    */
  def pDbscan(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Cluster.dbscanFromPairs(
        Tables.load(spark, dir, "embeddings")
          .select(col("vec_id").as("id")),
        cosinePairsCached(spark, dir), minPts = 3)
      .select(col("id").as("vec_id"), col("role"), col("cluster_id"))

  private def dbscanCcSteps(rounds: Int): String =
    (1 to rounds).map { i =>
      s""",
       dc$i AS MATERIALIZED (
         SELECT c.gid, least(c.comp, coalesce(m.nc, c.comp)) AS comp
         FROM dc${i - 1} c LEFT JOIN (
           SELECT u.a, min(p.comp) AS nc
           FROM ce u JOIN dc${i - 1} p ON u.b = p.gid GROUP BY u.a) m
         ON c.gid = m.a)"""
    }.mkString

  private val dbscanCcRounds = 12

  val pDbscanSql: String = {
    val r = dbscanCcRounds
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
       pr AS (
         SELECT a.vec_id AS ia, b.vec_id AS ib
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
       und AS MATERIALIZED (
         SELECT ia AS a, ib AS b FROM pr
         UNION ALL SELECT ib AS a, ia AS b FROM pr),
       deg AS (SELECT a, count(*) AS d FROM und GROUP BY a),
       core AS MATERIALIZED (SELECT a FROM deg WHERE d >= 3),
       ce AS MATERIALIZED (
         SELECT u.a, u.b FROM und u
         WHERE u.a IN (SELECT a FROM core) AND u.b IN (SELECT a FROM core)),
       dc0 AS MATERIALIZED (
         SELECT a AS gid, a AS comp FROM core)${dbscanCcSteps(r)},
       converged AS (
         SELECT 1 AS ok WHERE CASE WHEN (SELECT count(*) FROM
             ((SELECT * FROM dc$r) EXCEPT (SELECT * FROM dc${r - 1}))) > 0
           THEN error('dbscan cc oracle: $r unrolled rounds exhausted before fixpoint')
           ELSE true END),
       border AS MATERIALIZED (
         SELECT u.a AS vec_id, min(c.comp) AS cluster_id
         FROM und u JOIN dc$r c ON u.b = c.gid
         WHERE u.a NOT IN (SELECT a FROM core)
         GROUP BY u.a)
       SELECT gid AS vec_id, 'core' AS role, comp AS cluster_id
       FROM dc$r, converged
       UNION ALL
       SELECT vec_id, 'border' AS role, cluster_id FROM border
       UNION ALL
       SELECT vec_id, 'noise' AS role, CAST(NULL AS BIGINT) AS cluster_id
       FROM embeddings
       WHERE vec_id NOT IN (SELECT a FROM core)
         AND vec_id NOT IN (SELECT vec_id FROM border)"""
  }

  /** The pinned DBSCAN state of the BASE embedding corpus (vec_id % 10
    * ≠ 0): base ε-pairs + neighbor list + degrees + core labels — the
    * previous snapshot's density state, as ccBaseCached/basePrCached.
    */
  private def dbscanBaseCached(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) =
    view(spark, dir, "dbscanBase")(pinning(spark) {
      val basePairs = Dedup.embedCosineAllPairs(
        Tables.load(spark, dir, "embeddings")
          .filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", threshold = 0.4)
      graft.pipeline.Cluster.dbscanFit(basePairs.localCheckpoint(),
        minPts = 3)
    })

  /** The pinned hyperplane-bucket index of the embedding corpus —
    * (id, table, bucket) at the 3-bit × 16-table operating point
    * AuditFacesSpec measures at 1.000 pair recall for the τ = 0.4
    * regime (vectors do NOT ride in the index: the probe re-attaches
    * them by id for the exact verify, so the pinned artifact stays
    * 3 longs wide however fat the embeddings are). The incremental
    * faces probe it with batch-side keys — the [[Dedup.incrementalLsh]]
    * discipline applied to the embedding family.
    */
  private def embedLshKeysCached(spark: SparkSession, dir: String): DataFrame =
    view(spark, dir, "embedLshKeys")(pinning(spark) {
      Ann.lshKeys(Tables.load(spark, dir, "embeddings"), "vec_id",
          "embedding", dim = 64, bitsPerTable = 3, numTables = 16,
          seed = 42L)
        .select(col("id"), col("table"), col("bucket"))
        .localCheckpoint()
    })

  /** INCREMENTAL DBSCAN: the vec_id ≡ 0 mod 10 batch arrives and folds
    * into the pinned base density state
    * ([[graft.pipeline.Cluster.dbscanIncremental]]) — arrivals only add
    * ε-pairs, so degrees grow, the core set grows, and clusters only
    * MERGE, the regime the verified CC label contraction handles
    * bit-identically to a refit. New-pair candidates come from the
    * pinned hyperplane-bucket index ([[embedLshKeysCached]]): batch
    * keys probe the corpus keys on (table, bucket) — work is bucket
    * collisions, never a batch × corpus product — and every candidate
    * passes the EXACT cosine verify ([[Dedup.embedCosinePairs]]), so
    * emitted pairs are exact-precision and recall is the bucketing's,
    * measured 1.000 at this operating point (AuditFacesSpec, both the
    * pair stream and the fold ≡ refit identity). Base pairs are read
    * ONLY from the pinned state. Oracle = the SAME full-recompute SQL
    * as p_dbscan: hash-green at both SFs proves fold ≡ refit across
    * the core-promotion subtlety (a base pair whose endpoint crosses
    * the threshold becomes a core-core edge the base state never saw).
    */
  def pDbscanIncr(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val (baseUnd, baseDeg, baseLabels) = dbscanBaseCached(spark, dir)
    val keys = embedLshKeysCached(spark, dir)
    val batchKeys = keys.filter(col("id") % 10 === 0)
      .select(col("id").as("bid"), col("table"), col("bucket"))
    val cand = batchKeys
      .join(keys.select(col("id").as("oid"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("bid") =!= col("oid"))
      .select(least(col("bid"), col("oid")).as("id_a"),
        greatest(col("bid"), col("oid")).as("id_b"))
      .distinct()
    val newPairs = Dedup.embedCosinePairs(emb, "vec_id", "embedding",
      cand, threshold = 0.4)
    graft.pipeline.Cluster.dbscanIncremental(
        emb.select(col("vec_id").as("id")), baseUnd, baseDeg, baseLabels,
        newPairs.select(col("id_a"), col("id_b")), minPts = 3)
      .select(col("id").as("vec_id"), col("role"), col("cluster_id"))
  }

  val pDbscanIncrSql: String = pDbscanSql

  /** The arriving-points stream for the DBSCAN maintenance face: the
    * vec_id ≡ 0 mod 10 batch split into three parquet files (the
    * s_cc_incr / s_mst_incr delta-source convention), pinned per
    * (session, dir).
    */
  private def dbscanDeltaSourceDir(spark: SparkSession, dir: String): String =
    Streams.fileSource(spark, dir, "dbscanDeltaSrc") {
      Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"))
        .repartition(3, col("vec_id"))
    }

  /** STREAMING DBSCAN maintenance — the density-state member of the
    * streaming-fold family (beside s_cc_incr's semilattice labels and
    * s_mst_incr's sparsified forest): points arrive in three real
    * micro-batches and each trigger folds into the evolving
    * (neighbor-list, degree, core-label) state via
    * [[graft.pipeline.Cluster.dbscanFold]] — the merge-only
    * monotonicity argument (arrivals only add ε-pairs ⇒ degrees grow,
    * cores grow, clusters merge) applies round by round, so chained
    * folds land on the refit state whatever the batch boundaries.
    *
    * Per-trigger candidates come from the pinned hyperplane-bucket
    * index ([[embedLshKeysCached]]): batch keys probe on
    * (table, bucket), and the collision stream is semi-joined down to
    * endpoints that have ARRIVED (base ∪ earlier batches ∪ this batch)
    * — the arrived filter makes each unordered pair emerge in exactly
    * one trigger (the later endpoint's), which the additive degree fold
    * requires, and keeps the stream causally honest: a trigger never
    * sees pairs against points the deployment hasn't ingested. Every
    * collision passes the exact cosine verify before folding. Eager
    * per-trigger folding is correct here for the s_cc_incr reason:
    * the density state IS the serving state — there is no corpus
    * layout rebuild to defer to drain. Oracle = the SAME
    * full-recompute SQL as p_dbscan: hash-green proves chained folds ≡
    * refit across trigger-spanning pair streams and the core-promotion
    * subtlety in every round.
    */
  def sDbscanIncr(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val keys = embedLshKeysCached(spark, dir)
    val src = dbscanDeltaSourceDir(spark, dir)
    var state = dbscanBaseCached(spark, dir)
    // arrived-ness of a collision endpoint is (base point) OR (batch id
    // delivered so far): base membership is the static vec_id % 10
    // predicate, so the mutable arrived-set only needs the DELTA ids —
    // a broadcastable batch-scale table — instead of the node-scale
    // union the previous version re-checkpointed every trigger
    var arrivedBids = emb.filter(lit(false))
      .select(col("vec_id").as("oid")).localCheckpoint()
    Streams.replay(spark, src, sizedBy = Some(s"$dir/embeddings.parquet")) { b =>
      val bids = b.select(col("vec_id").as("bid")).localCheckpoint()
      // both probes of the corpus-scale key table ride a broadcast
      // batch side — map-side scans, never a shuffle of the index
      val batchKeys = keys
        .join(broadcast(bids), col("id") === col("bid"), "left_semi")
        .select(col("id").as("bid"), col("table"), col("bucket"))
      val seenBids = arrivedBids
        .unionByName(bids.select(col("bid").as("oid")))
        .localCheckpoint()
      val cand = broadcast(batchKeys)
        .join(keys.select(col("id").as("oid"), col("table"), col("bucket")),
          Seq("table", "bucket"))
        .filter(col("bid") =!= col("oid"))
        .join(broadcast(seenBids.withColumn("__arr", lit(1))),
          Seq("oid"), "left")
        .filter(col("oid") % 10 =!= 0 || col("__arr").isNotNull)
        .select(least(col("bid"), col("oid")).as("id_a"),
          greatest(col("bid"), col("oid")).as("id_b"))
        .distinct()
      val newPairs = Dedup.embedCosinePairs(emb, "vec_id", "embedding",
        cand, threshold = 0.4)
      state = graft.pipeline.Cluster.dbscanFold(state._1, state._2,
        state._3, newPairs.select(col("id_a"), col("id_b")), minPts = 3)
      arrivedBids = seenBids
    }
    graft.pipeline.Cluster.dbscanAssign(
        emb.select(col("vec_id").as("id")), state._1, state._3)
      .select(col("id").as("vec_id"), col("role"), col("cluster_id"))
  }

  val sDbscanIncrSql: String = pDbscanSql

  /** IVF-PQ recall-vs-budget curve: the pinned index searched at
    * shortlist budgets {10, 20, 40} (nProbe 4), each exactly re-ranked
    * to top-5 and scored against the brute-force truth — the serving
    * knob an ANN deployment tunes (how much candidate budget buys how
    * much recall ON THIS CORPUS), read entirely from the pinned fit
    * and the broadcast query anchor. Rows-only (seeded fit); recall is
    * 4 dp integer-sealed. Complements AnnSpec's fixed-budget recall
    * floor with the full curve as a standing gate artifact.
    */
  def pRerankEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteKnn(queries, emb, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val (coarse, sub, books, codes) = ivfPqCached(spark, dir)
    Seq(10, 20, 40).map { budget =>
      val cand = graft.pipeline.Cluster.ivfPqShortlistFrom(codes, sub, books,
          coarse, queries, "vec_id", "embedding", nProbe = 4,
          shortlist = budget)
        .select(col("query_id"), col("neighbor_id"))
      val top5 = graft.pipeline.Cluster.rerankExact(cand, emb, "vec_id",
          "embedding", queries, topK = 5)
        .select(col("query_id"), col("neighbor_id"))
      top5.join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(budget).as("budget"), col("n_hits"),
          lit(50L).as("n_total"),
          (expr("(n_hits * 20000 + 50) DIV 100").cast("double") / 10000.0)
            .as("recall"))
    }.reduce(_ unionByName _)
  }

  // ----------------------------------------------------- text analysis

  def pLangId(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"))

  private def sqlLangScore(lang: String): String =
    TextAnalysis.markers(lang)
      .map(w => s"len(regexp_extract_all(text, '\\b$w\\b'))")
      .mkString(" + ")

  val pLangIdSql: String = {
    val scores = Seq("en", "es", "de", "fr").map(l => s"(${sqlLangScore(l)}) AS s_$l").mkString(", ")
    s"""SELECT doc_id,
        CASE WHEN s_en = best AND best > 0 THEN 'en'
             WHEN s_es = best AND best > 0 THEN 'es'
             WHEN s_de = best AND best > 0 THEN 'de'
             WHEN s_fr = best AND best > 0 THEN 'fr'
             ELSE 'und' END AS lang_guess
        FROM (SELECT doc_id, s_en, s_es, s_de, s_fr,
                     greatest(s_en, s_es, s_de, s_fr) AS best
              FROM (SELECT doc_id, $scores FROM documents))"""
  }

  /** End-to-end corpus filter: (keep, reason) per document — the
    * composed curation verdict with its drop-ledger reason. Oracle
    * composes the same rule SQL fragments in the same order.
    */
  def pCorpusFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.filterReason(col("text")).as("reason"))
      .withColumn("keep", col("reason") === "ok")

  /** The corpus-filter verdict as a reusable CTE-list fragment ending
    * in `cf(doc_id, reason)` — shared by the standalone query and the
    * composed curation-pipeline oracle so the rule SQL exists once.
    */
  private val corpusFilterCtes: String = {
    val langScores = Seq("en", "es", "de", "fr")
      .map(l => s"(${sqlLangScore(l)}) AS s_$l").mkString(", ")
    val pii = TextAnalysis.piiPatterns
      .map { case (p, _) => s"len(regexp_extract_all(text, '$p'))" }
      .mkString(" + ")
    s"""t AS (
         SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w
         FROM documents),
       m AS (
         SELECT doc_id, text, len(w) AS ws,
                CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w) AS mwl,
                1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dwf,
                CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                  / len(w) AS awf,
                $pii AS n_pii
         FROM t),
       l AS (
         SELECT doc_id,
                CASE WHEN s_en = best AND best > 0 THEN 'en'
                     WHEN s_es = best AND best > 0 THEN 'es'
                     WHEN s_de = best AND best > 0 THEN 'de'
                     WHEN s_fr = best AND best > 0 THEN 'fr'
                     ELSE 'und' END AS lang_guess
         FROM (SELECT doc_id, s_en, s_es, s_de, s_fr,
                      greatest(s_en, s_es, s_de, s_fr) AS best
               FROM (SELECT doc_id, $langScores FROM documents))),
       cf AS (
         SELECT m.doc_id,
                CASE WHEN ws < 10 THEN 'too_short'
                     WHEN NOT (mwl BETWEEN 3.0 AND 10.0) THEN 'word_shape'
                     WHEN dwf >= 0.6 THEN 'repetitive'
                     WHEN awf < 0.8 THEN 'non_alpha'
                     WHEN lang_guess <> 'en' THEN 'lang'
                     WHEN n_pii > 0 THEN 'pii'
                     ELSE 'ok' END AS reason
         FROM m JOIN l USING (doc_id))"""
  }

  val pCorpusFilterSql: String =
    s"""WITH $corpusFilterCtes
       SELECT doc_id, reason, reason = 'ok' AS keep FROM cf"""

  /** The drop ledger itself: per-reason document counts — the one-line
    * summary every curation run reports. Same rule fragments as
    * `p_corpus_filter` (shared CTE list), aggregated.
    */
  def pFilterReport(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(TextAnalysis.filterReason(col("text")).as("reason"))
      .groupBy(col("reason")).agg(count(lit(1)).as("n_docs"))

  val pFilterReportSql: String =
    s"""WITH $corpusFilterCtes
       SELECT reason, count(*) AS n_docs FROM cf GROUP BY reason"""

  /** Filter ABLATION audit: per rule, how many documents fail it and
    * how many fail ONLY it — the marginal-contribution matrix behind a
    * filter-stack decision (a rule whose every failure is shared with
    * other rules can be dropped for free; one with a large unique
    * count carries real weight). Same rule fragments as the verdict
    * faces, evaluated as independent booleans in one narrow pass —
    * the first-fail CASE ordering cannot hide overlaps here.
    */
  def pFilterAblation(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val docs = Tables.load(spark, dir, "documents").select(
      (TextAnalysis.wsTokens(t) < 10).as("f_short"),
      (!TextAnalysis.meanWordLen(t).between(3.0, 10.0)).as("f_shape"),
      (TextAnalysis.dupWordFrac(t) >= 0.6).as("f_rep"),
      (TextAnalysis.alphaWordFrac(t) < 0.8).as("f_alpha"),
      (TextAnalysis.langId(t) =!= "en").as("f_lang"),
      (TextAnalysis.piiCount(t) > 0).as("f_pii"))
    val rules = Seq("f_short" -> "too_short", "f_shape" -> "word_shape",
      "f_rep" -> "repetitive", "f_alpha" -> "non_alpha",
      "f_lang" -> "lang", "f_pii" -> "pii")
    val aggs = rules.flatMap { case (c, _) =>
      val others = rules.map(_._1).filterNot(_ == c)
        .map(col).reduce(_ || _)
      Seq(sum(when(col(c), 1L).otherwise(0L)).as(s"n_$c"),
        sum(when(col(c) && !others, 1L).otherwise(0L)).as(s"u_$c"))
    }
    docs.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rules.map { case (c, name) =>
        struct(lit(name).as("rule"), col(s"n_$c").as("n_fail"),
          col(s"u_$c").as("n_unique_fail"))
      }: _*)).as("r"))
      .select(col("r.rule"), col("r.n_fail"), col("r.n_unique_fail"))
  }

  val pFilterAblationSql: String = {
    val flags = Seq(
      "f_short" -> "ws < 10", "f_shape" -> "NOT (mwl BETWEEN 3.0 AND 10.0)",
      "f_rep" -> "dwf >= 0.6", "f_alpha" -> "awf < 0.8",
      "f_lang" -> "lang_guess <> 'en'", "f_pii" -> "n_pii > 0")
    val names = Map("f_short" -> "too_short", "f_shape" -> "word_shape",
      "f_rep" -> "repetitive", "f_alpha" -> "non_alpha",
      "f_lang" -> "lang", "f_pii" -> "pii")
    val flagCols = flags.map { case (n, e) => s"$e AS $n" }.mkString(",\n                ")
    val rows = flags.map { case (c, _) =>
      val others = flags.map(_._1).filterNot(_ == c).mkString(" OR ")
      s"""SELECT '${names(c)}' AS rule,
              CAST(sum(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
              CAST(sum(CASE WHEN $c AND NOT ($others) THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_unique_fail
       FROM flags"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH $corpusFilterCtes,
       flags AS (
         SELECT m.doc_id,
                $flagCols
         FROM m JOIN l USING (doc_id))
       $rows"""
  }

  /** Canonical text form (Unicode NFC via the codegen
    * [[graft.functions.NfcNormalize]] expression) + its digest — the
    * normalization that must precede content hashing, or composed vs
    * decomposed codepoint sequences dedup as distinct documents. The
    * oracle runs DuckDB's nfc_normalize; the unicode known-answers
    * (where the two forms actually differ) live in TextSpec.
    */
  def pNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        sha2(graft.functions.NfcNormalize(col("text")), 256).as("canon_sha"))

  val pNormalizeSql: String =
    """SELECT doc_id, sha256(nfc_normalize(text)) AS canon_sha FROM documents"""

  /** Sketch-based corpus profile: per source, exact row count plus
    * HyperLogLog++ approximate distinct texts and doc ids — the
    * bounded-memory, mergeable way to count distincts at 100 TB (an
    * exact distinct shuffles the full column; the sketch is a few KB
    * per partition and merges associatively). Rows-only: the sketch
    * estimate is Spark-specific (DuckDB's approx_count_distinct uses a
    * different HLL); the ≤5%-relative-error contract vs exact counts is
    * asserted in TextSpec.
    */
  def pApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        approx_count_distinct(col("text")).as("approx_texts"),
        approx_count_distinct(col("doc_id")).as("approx_ids"))

  /** Token-budget mixture: each source keeps a deterministic hash slice
    * targeting ~600 whitespace tokens — the data-derived mixture
    * construction (rates from per-source token mass, not hand-set
    * percentages).
    */
  def pBudgetMix(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.sampleByBudget(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextAnalysis.wsTokens(col("text")).cast("long").as("ws")),
        "doc_id", "source", "ws", budget = 600L)
      .select(col("doc_id"), col("source"))

  val pBudgetMixSql: String = graft.pipeline.Splits.sampleByBudgetSql(
    "documents", "doc_id", "source",
    "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)",
    budget = 600L, selectCols = "doc_id, source")

  /** Temperature-scaled mixture (α = 0.5): small sources upsampled
    * relative to proportional — the multilingual-sampling rule.
    */
  def pTempMix(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.sampleByTemperature(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextAnalysis.wsTokens(col("text")).cast("long").as("ws")),
        "doc_id", "source", "ws", alpha = 0.5, budget = 600L)
      .select(col("doc_id"), col("source"))

  val pTempMixSql: String = graft.pipeline.Splits.sampleByTemperatureSql(
    "documents", "doc_id", "source",
    "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)",
    alpha = 0.5, budget = 600L, selectCols = "doc_id, source")

  /** Gopher/C4-style repetition filter statistics + keep verdict. */
  def pGopherQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        round(TextAnalysis.meanWordLen(col("text")), 4).as("mean_word_len"),
        round(TextAnalysis.dupWordFrac(col("text")), 4).as("dup_word_frac"),
        round(TextAnalysis.alphaWordFrac(col("text")), 4).as("alpha_word_frac"),
        TextAnalysis.gopherKeep(col("text")).as("keep"))

  val pGopherQualitySql: String =
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       m AS (
         SELECT doc_id,
                CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w) AS mwl,
                1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dwf,
                CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                  / len(w) AS awf
         FROM t)
       SELECT doc_id, round(mwl, 4) AS mean_word_len, round(dwf, 4) AS dup_word_frac,
              round(awf, 4) AS alpha_word_frac,
              (mwl BETWEEN 3.0 AND 10.0) AND dwf < 0.6 AND awf >= 0.8 AS keep
       FROM m"""

  /** Served linear quality classifier
    * ([[TextAnalysis.qualityLogit]]): per-doc keep probability and
    * verdict. The verdict compares the logit to 0 so engine exp()
    * rounding can never flip it.
    */
  def pQualityLogit(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        round(TextAnalysis.qualityLogitProb(col("text")), 4).as("p_keep"),
        (TextAnalysis.qualityLogit(col("text")) > 0.0).as("keep"))

  val pQualityLogitSql: String =
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       m AS (
         SELECT doc_id,
                CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w) AS mwl,
                1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dwf,
                CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                  / len(w) AS awf,
                least(CAST(len(w) AS DOUBLE) / 200.0, 1.0) AS lt
         FROM t),
       z AS (SELECT doc_id,
                    -3.0 + mwl * 0.35 + awf * 1.5 - dwf * 2.0 + lt * 1.2 AS z
             FROM m)
       SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS p_keep, z > 0.0 AS keep
       FROM z"""

  /** Exact substring-span dedup ([[graft.pipeline.Dedup.spanDedup]]):
    * copied k-token passages are removed from every non-first
    * occurrence and the doc is reassembled — the Lee et al. ExactSubstr
    * semantics, relationally. kept_sha proves byte-level parity of the
    * rewritten corpus.
    */
  def pSpanDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanDedup(Tables.load(spark, dir, "documents"), "doc_id", "text", k = 15)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
        col("kept_sha"))

  val pSpanDedupSql: String =
    """WITH t AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS w
                  FROM documents),
       wins AS (
         SELECT id, r.i AS start,
                md5(array_to_string(w[r.i + 1 : r.i + 15], ' ')) AS h
         FROM t, unnest(range(0, greatest(len(w) - 14, 0))) AS r(i)),
       rem AS (
         SELECT id, start FROM (
           SELECT id, start,
                  row_number() OVER (PARTITION BY h ORDER BY id, start) AS rn
           FROM wins) WHERE rn > 1),
       cov AS (
         SELECT DISTINCT rem.id, rem.start + r.s AS pos
         FROM rem, unnest(range(0, 15)) AS r(s)),
       tok AS (
         SELECT id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS tok FROM t),
       kept AS (
         SELECT tok.id, count(*) AS n_kept,
                string_agg(tok.tok, ' ' ORDER BY tok.pos) AS ktext
         FROM tok LEFT JOIN cov ON tok.id = cov.id AND tok.pos = cov.pos
         WHERE cov.id IS NULL
         GROUP BY tok.id)
       SELECT t.id AS doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
              coalesce(k.n_kept, 0) AS n_kept,
              CASE WHEN coalesce(k.n_kept, 0) > 0 THEN sha256(k.ktext) END AS kept_sha
       FROM t LEFT JOIN kept k ON t.id = k.id"""

  /** Multimodal payload dedup: exact binary-content dedup over the
    * payload column (the image/video dedup every multimodal corpus
    * build runs first) — digest groupBy, min-id canonical, the same
    * shape as `p_dedup_exact` but on bytes that never decode.
    */
  def pMediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Multimodal.withPayload(Tables.load(spark, dir, "documents"), "text")
    docs.groupBy(sha2(col("payload"), 256).as("sha"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  val pMediaDedupSql: String =
    """SELECT sha256(text) AS sha, min(doc_id) AS keep_id, count(*) AS n_copies
       FROM documents GROUP BY 1"""

  /** Distinctive-terms extraction per source: smoothed log-odds of each
    * word in a source vs the REST of the corpus (Monroe et al. 2008's
    * "Fightin' Words" estimator, the corpus-comparison tool) — top 5
    * per source by rounded score. Two vocabulary-bounded aggregations +
    * joins on the reduced tables; the corpus total rides as a broadcast
    * scalar subplan.
    */
  def pLogOdds(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
    val csw = toks.groupBy(col("source"), col("word")).agg(count(lit(1)).as("csw"))
    val cw = csw.groupBy(col("word")).agg(sum(col("csw")).as("cw"))
    val ns = csw.groupBy(col("source")).agg(sum(col("csw")).as("ns"))
    val total = csw.agg(sum(col("csw")).as("n_total"))
    val scored = csw.join(cw, "word").join(ns, "source")
      .crossJoin(broadcast(total))
      .select(col("source"), col("word"), col("csw"),
        round(
          log((col("csw") + 0.5) / (col("ns") - col("csw") + 0.5)) -
            log((col("cw") - col("csw") + 0.5) /
              (col("n_total") - col("ns") - (col("cw") - col("csw")) + 0.5)),
          6).as("log_odds"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("log_odds").desc, col("word"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("source"), col("rank"), col("word"), col("csw"), col("log_odds"))
  }

  val pLogOddsSql: String =
    """WITH tok AS (
         SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
         FROM documents),
       csw AS (SELECT source, word, count(*) AS csw FROM tok GROUP BY 1, 2),
       cw AS (SELECT word, sum(csw) AS cw FROM csw GROUP BY 1),
       ns AS (SELECT source, sum(csw) AS ns FROM csw GROUP BY 1),
       t AS (SELECT sum(csw) AS n_total FROM csw),
       sc AS (
         SELECT c.source, c.word, c.csw,
                round(ln((c.csw + 0.5) / (ns.ns - c.csw + 0.5)) -
                      ln((cw.cw - c.csw + 0.5) /
                         (t.n_total - ns.ns - (cw.cw - c.csw) + 0.5)), 6) AS log_odds
         FROM csw c JOIN cw USING (word) JOIN ns USING (source), t),
       rk AS (
         SELECT source, word, csw, log_odds,
                row_number() OVER (PARTITION BY source
                  ORDER BY log_odds DESC, word) AS rank
         FROM sc)
       SELECT source, CAST(rank AS BIGINT) AS rank, word, csw, log_odds
       FROM rk WHERE rank <= 5"""

  /** Zipf-slope fit of the term-frequency distribution (regression of
    * ln f on ln rank over the top-1000 vocabulary) — the one-scalar
    * corpus-health audit (natural text ≈ −1; templated/generated
    * corpora drift). regr_slope/intercept are one-pass mergeable
    * moments over the 1000-row ranked table.
    */
  def pZipf(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "documents")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("tf"))
    // distributed top-1000 cut before the rank window (TakeOrdered, no
    // single-partition vocab sort — the vocabCoverage discipline)
    val ranked = counts.orderBy(col("tf").desc, col("word")).limit(1000)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("tf").desc, col("word"))))
      .select(log(col("tf").cast("double")).as("lnf"),
        log(col("rank").cast("double")).as("lnr"))
    ranked.agg(
      round(expr("regr_slope(lnf, lnr)"), 4).as("zipf_slope"),
      round(expr("regr_intercept(lnf, lnr)"), 4).as("intercept"),
      count(lit(1)).as("n_terms"))
  }

  val pZipfSql: String =
    """WITH counts AS (
         SELECT word, count(*) AS tf FROM (
           SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
           FROM documents) GROUP BY 1),
       ranked AS (
         SELECT ln(CAST(tf AS DOUBLE)) AS lnf,
                ln(CAST(row_number() OVER (ORDER BY tf DESC, word) AS DOUBLE)) AS lnr,
                row_number() OVER (ORDER BY tf DESC, word) AS rank
         FROM counts QUALIFY rank <= 1000)
       SELECT round(regr_slope(lnf, lnr), 4) AS zipf_slope,
              round(regr_intercept(lnf, lnr), 4) AS intercept,
              count(*) AS n_terms
       FROM ranked"""

  /** Labeled-embedding margin audit
    * ([[graft.pipeline.Cluster.labelMargins]]): vectors closer to a
    * foreign label's centroid than their own are label suspects.
    */
  def pLabelMargin(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Cluster.labelMargins(
        Tables.load(spark, dir, "embeddings"), "vec_id", "embedding", "label")
      .select(col("id").as("vec_id"), col("label"), col("d_own"),
        col("d_other"), col("suspect"))

  val pLabelMarginSql: String =
    """WITH x AS (
         SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
                CAST(unnest(embedding) AS DOUBLE) AS xv
         FROM embeddings),
       c AS (SELECT label AS l, i, avg(xv) AS m FROM x GROUP BY 1, 2),
       d AS (SELECT x.vec_id, x.label, c.l,
                    round(sum((x.xv - c.m) * (x.xv - c.m)), 6) AS d2
             FROM x JOIN c ON x.i = c.i GROUP BY 1, 2, 3),
       own AS (SELECT vec_id, label, d2 AS d_own FROM d WHERE l = label),
       oth AS (SELECT vec_id, min(d2) AS d_other FROM d WHERE l <> label
               GROUP BY 1)
       SELECT o.vec_id, o.label, o.d_own, t.d_other,
              o.d_own > t.d_other AS suspect
       FROM own o JOIN oth t USING (vec_id)"""

  /** Dataset card: the one-row corpus datasheet (docs, sources,
    * token/char mass, exact-duplicate rate, language mix, mean quality)
    * every curated release ships with — composed entirely from already-
    * verified per-doc fragments, aggregated in ONE pass plus the
    * digest-distinct count.
    *
    * `mean_quality` aggregates the per-doc 4-dp-integerized score
    * `floor(quality·10⁴ + 0.5)` — exactly the quantity `p_quality_score`
    * proves engine-equal — as an EXACT integer sum, divided once at the
    * end. A raw `avg(quality)` is boundary-fragile: the corpus mean can
    * sit within ULP noise of a 4-dp rounding boundary, where any sub-4dp
    * per-doc divergence (engine regex corners hidden by a saturated
    * `least` term) flips the last digit. Summing integers makes both
    * engines perform ONE identical division on identical operands —
    * bit-stable on any corpus.
    */
  private val cardLangs = Seq("en", "zh", "es", "de", "fr")

  def pDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val q4 = floor(TextAnalysis.qualityScore(col("text")) * 10000.0 + lit(0.5))
      .cast("long")
    val langCounts = cardLangs.map(l =>
      sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"n_$l")) :+
      sum(when(!col("lang").isin(cardLangs.map(x => x: Any): _*), 1L)
        .otherwise(0L)).as("n_other")
    val cols = Seq(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(sha2(col("text"), 256)).as("n_unique_texts"),
      sum(col("n_chars")).as("total_chars"),
      sum(TextAnalysis.wsTokens(col("text"))).cast("long").as("total_ws_tokens"),
      sum(q4).as("_q4sum")) ++ langCounts
    // mean = exact integer round-half-up of S/n at the 4dp grid (the
    // half-rounding class), divided once
    docs.agg(cols.head, cols.tail: _*)
      .withColumn("mean_quality",
        expr("(_q4sum * 2 + n_docs) DIV (2 * n_docs)").cast("double") / 10000.0)
      .select(Seq("n_docs", "n_sources", "n_unique_texts", "total_chars",
        "total_ws_tokens", "mean_quality").map(col) ++
        (cardLangs.map(l => col(s"n_$l")) :+ col("n_other")): _*)
  }

  val pDatasetCardSql: String = {
    val ws = "len(regexp_split_to_array(trim(text), '\\s+'))"
    val punct = s"(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / greatest(length(text), 1))"
    val stop = s"(CAST(${sqlLangScore("en")} AS DOUBLE) / greatest($ws, 1))"
    val quality = s"""least(CAST($ws AS DOUBLE) / 100.0, 1.0) * 0.4 +
                    (1.0 - least($punct * 10.0, 1.0)) * 0.3 +
                    least($stop * 4.0, 1.0) * 0.3"""
    val langCounts = cardLangs.map(l =>
      s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS n_$l")
      .mkString(",\n              ")
    val inList = cardLangs.map(l => s"'$l'").mkString(", ")
    s"""SELECT count(*) AS n_docs,
              count(DISTINCT source) AS n_sources,
              count(DISTINCT sha256(text)) AS n_unique_texts,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(sum($ws) AS BIGINT) AS total_ws_tokens,
              CAST((sum(CAST(floor(($quality) * 10000.0 + 0.5) AS BIGINT)) * 2
                    + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0
                AS mean_quality,
              $langCounts,
              CAST(sum(CASE WHEN lang NOT IN ($inList) THEN 1 ELSE 0 END) AS BIGINT) AS n_other
       FROM documents"""
  }

  /** The BASE-corpus card state (docs with doc_id % 10 ≠ 0): the
    * additive scalars (doc/char/token counts, the exact 4dp-integer
    * quality sum, per-language counts), the distinct-digest index (the
    * incrementalExact artifact — 32 bytes per unique text), and the
    * tiny source set — pinned per (session, dir). This is the state a
    * deployment keeps NEXT TO its datasheet so the card never needs a
    * corpus re-scan.
    */
  private def cardBaseCached(spark: SparkSession, dir: String)
      : (DataFrame, Array[Long], Set[String]) =
    view(spark, dir, "cardBase")(pinning(spark) {
      val base = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 10 =!= 0)
      val digests = base.select(sha2(col("text"), 256).as("digest"))
        .distinct().localCheckpoint()
      val q4 = floor(TextAnalysis.qualityScore(col("text")) * 10000.0 +
        lit(0.5)).cast("long")
      val langCols = cardLangs.map(l =>
        coalesce(sum(when(col("lang") === l, 1L).otherwise(0L)), lit(0L))) :+
        coalesce(sum(when(!col("lang").isin(cardLangs.map(x => x: Any): _*),
          1L).otherwise(0L)), lit(0L))
      val aggCols = Seq(count(lit(1)),
        coalesce(sum(col("n_chars")), lit(0L)),
        coalesce(sum(TextAnalysis.wsTokens(col("text"))).cast("long"), lit(0L)),
        coalesce(sum(q4), lit(0L))) ++ langCols
      val r = base.agg(aggCols.head, aggCols.tail: _*).first()
      val scalars = (0 until aggCols.size).map(r.getLong).toArray :+
        digests.count()
      val srcs = base.select(col("source")).distinct()
        .collect().map(_.getString(0)).toSet
      (digests, scalars, srcs)
    })

  /** INCREMENTAL dataset card: the delta batch folds into the pinned
    * base card state without re-scanning the corpus — every scalar is
    * an exact integer sum (additive by construction, including the
    * 4dp-integerized quality sum: the same reason the card's mean is
    * bit-stable is the reason it FOLDS), distinct texts fold via the
    * digest index (delta digests probe it broadcast-side — the index
    * is scanned, never shuffled), and the source set is
    * release-bounded. Output schema and arithmetic are identical to
    * [[pDatasetCard]]; the oracle is the SAME full-corpus card SQL, so
    * hash-green proves fold ≡ re-scan.
    */
  def pDatasetCardIncr(spark: SparkSession, dir: String): DataFrame = {
    val (digestIdx, s, baseSrcs) = cardBaseCached(spark, dir)
    val nLang = cardLangs.size + 1
    val (bDocs, bChars, bWs, bQ4) = (s(0), s(1), s(2), s(3))
    val bLangs = (0 until nLang).map(i => s(4 + i))
    val bUnique = s(4 + nLang)
    val delta = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val q4 = floor(TextAnalysis.qualityScore(col("text")) * 10000.0 +
      lit(0.5)).cast("long")
    val langCols = cardLangs.zipWithIndex.map { case (l, i) =>
      coalesce(sum(when(col("lang") === l, 1L).otherwise(0L)), lit(0L))
        .as(s"d_l$i") } :+
      coalesce(sum(when(!col("lang").isin(cardLangs.map(x => x: Any): _*),
        1L).otherwise(0L)), lit(0L)).as(s"d_l${cardLangs.size}")
    val dCols = count(lit(1)).as("d_docs") +:
      (Seq(coalesce(sum(col("n_chars")), lit(0L)).as("d_chars"),
        coalesce(sum(TextAnalysis.wsTokens(col("text"))).cast("long"),
          lit(0L)).as("d_ws"),
        coalesce(sum(q4), lit(0L)).as("d_q4")) ++ langCols)
    val dAgg = delta.agg(dCols.head, dCols.tail: _*)
    val dd = delta.select(sha2(col("text"), 256).as("digest")).distinct()
      .localCheckpoint()
    // digests in BOTH base and delta: the index is scanned map-side
    // against the broadcast delta set — never shuffled
    val dOverlap = digestIdx.join(broadcast(dd), Seq("digest"), "left_semi")
      .agg(count(lit(1)).as("d_overlap"))
    val dUniq = dd.agg(count(lit(1)).as("d_distinct"))
    val dSrcNew = delta.select(col("source")).distinct()
      .filter(!col("source").isin(baseSrcs.toSeq.map(x => x: Any): _*))
      .agg(count(lit(1)).as("d_src_new"))
    val langOut = cardLangs.zipWithIndex.map { case (l, i) =>
      (lit(bLangs(i)) + col(s"d_l$i")).as(s"n_$l") } :+
      (lit(bLangs(cardLangs.size)) + col(s"d_l${cardLangs.size}")).as("n_other")
    dAgg.crossJoin(broadcast(dOverlap)).crossJoin(broadcast(dUniq))
      .crossJoin(broadcast(dSrcNew))
      .withColumn("_s", lit(bQ4) + col("d_q4"))
      .withColumn("_n", lit(bDocs) + col("d_docs"))
      .select(Seq(
        (lit(bDocs) + col("d_docs")).as("n_docs"),
        (lit(baseSrcs.size.toLong) + col("d_src_new")).as("n_sources"),
        (lit(bUnique) + col("d_distinct") - col("d_overlap")).as("n_unique_texts"),
        (lit(bChars) + col("d_chars")).as("total_chars"),
        (lit(bWs) + col("d_ws")).as("total_ws_tokens"),
        // exact integer round-half-up — identical to pDatasetCard's seal
        (expr("(_s * 2 + _n) DIV (2 * _n)").cast("double") / 10000.0)
          .as("mean_quality")) ++
        langOut: _*)
  }

  def pDatasetCardIncrSql: String = pDatasetCardSql

  /** Per-source dataset cards — the grouped face of [[pDatasetCard]]:
    * one datasheet row per source (docs, unique texts, char/token mass,
    * exact-integer mean quality, English share), the release-notes
    * table every mixed-corpus drop ships. Same aggregation discipline
    * as the global card: the quality mean is an exact integer sum of
    * the 4dp-integerized per-doc score divided once, never a float
    * mean; everything else is integer counts. One groupBy(source) pass
    * — source cardinality is release-bounded (dozens), so the result is
    * a broadcast-sized table at any corpus scale.
    */
  def pSourceCards(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val q4 = floor(TextAnalysis.qualityScore(col("text")) * 10000.0 + lit(0.5))
      .cast("long")
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(sha2(col("text"), 256)).as("n_unique_texts"),
      sum(col("n_chars")).as("total_chars"),
      sum(TextAnalysis.wsTokens(col("text"))).cast("long").as("total_ws_tokens"),
      sum(q4).as("_q4sum"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      // exact integer round-half-up (the half-rounding class)
      .withColumn("mean_quality",
        expr("(_q4sum * 2 + n_docs) DIV (2 * n_docs)").cast("double") / 10000.0)
      .select("source", "n_docs", "n_unique_texts", "total_chars",
        "total_ws_tokens", "mean_quality", "n_en")
  }

  val pSourceCardsSql: String = {
    val ws = "len(regexp_split_to_array(trim(text), '\\s+'))"
    val punct = s"(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / greatest(length(text), 1))"
    val stop = s"(CAST(${sqlLangScore("en")} AS DOUBLE) / greatest($ws, 1))"
    val quality = s"""least(CAST($ws AS DOUBLE) / 100.0, 1.0) * 0.4 +
                    (1.0 - least($punct * 10.0, 1.0)) * 0.3 +
                    least($stop * 4.0, 1.0) * 0.3"""
    s"""SELECT source,
              count(*) AS n_docs,
              count(DISTINCT sha256(text)) AS n_unique_texts,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(sum($ws) AS BIGINT) AS total_ws_tokens,
              CAST((sum(CAST(floor(($quality) * 10000.0 + 0.5) AS BIGINT)) * 2
                    + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0
                AS mean_quality,
              CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
       FROM documents GROUP BY source"""
  }

  /** Cross-source duplicate-leakage matrix: for each pair of SOURCES,
    * how many document pairs share winnowed span fingerprints — the
    * train/eval contamination audit run before any mixture is frozen (a
    * passage appearing in both a training source and a benchmark source
    * is leakage per-source dedup can't see; span fingerprints catch the
    * partial-copy case exact text digests miss). Reuses the verified
    * [[pWinnow]] pair stream (fingerprint-keyed equi-join, never
    * all-pairs), attributes each pair to its source pair via two
    * doc-keyed joins against the (doc_id, source) map, and collapses to
    * the release-bounded source×source matrix. The pair stream is the
    * only wide object and it's O(shared fingerprints); at 100 TB the
    * matrix itself is dozens×dozens. Diagonal (same-source) pairs are
    * intra-source duplication, a different audit — filtered out.
    */
  def pSourceLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    Dedup.winnowPairs(docs, "doc_id", "text")
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("n_shared")).as("n_shared_fps"))
  }

  val pSourceLeakageSql: String =
    """WITH words AS (
         SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
         FROM documents),
       g AS (
         SELECT doc_id, source, CASE WHEN len(tk) >= 4
           THEN list_transform(range(len(tk) - 3),
                  i -> array_to_string(tk[i + 1:i + 4], ' '))
           ELSE [array_to_string(tk, ' ')] END AS grams
         FROM words),
       h AS (SELECT doc_id, source, list_transform(grams, x -> md5(x)) AS hs FROM g),
       sel AS (
         SELECT doc_id, source, list_distinct(list_transform(
           range(1, greatest(2, len(hs) - 5 + 2)),
           j -> list_aggregate(hs[j:j + 4], 'min'))) AS fps
         FROM h),
       fp AS (SELECT doc_id, source, unnest(fps) AS fp FROM sel),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.source AS sa, b.source AS sb, count(*) AS n_shared
         FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
       SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
              count(*) AS n_pairs, CAST(sum(n_shared) AS BIGINT) AS n_shared_fps
       FROM pairs WHERE sa <> sb GROUP BY 1, 2"""

  /** PII scrub: match counts + sha of the redacted text (the sha proves
    * the scrubbed bytes agree, without hauling full texts through the
    * compare).
    */
  def pPiiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.piiCount(col("text")).cast("long").as("n_pii"),
        sha2(TextAnalysis.scrubPii(col("text")), 256).as("scrubbed_sha"))

  val pPiiScrubSql: String = {
    val scrubbed = TextAnalysis.piiPatterns.foldLeft("text") {
      case (c, (p, tag)) => s"regexp_replace($c, '$p', '$tag', 'g')"
    }
    val counts = TextAnalysis.piiPatterns
      .map { case (p, _) => s"len(regexp_extract_all(text, '$p'))" }.mkString(" + ")
    s"""SELECT doc_id, CAST($counts AS BIGINT) AS n_pii,
              sha256($scrubbed) AS scrubbed_sha
        FROM documents"""
  }

  /** k-ANONYMITY audit over the corpus quasi-identifiers (Sweeney
    * 2002) — the governance face beside PII scrubbing: a document
    * whose (source, lang, length-bucket) combination is shared by
    * fewer than k corpus documents is re-identifiable from metadata
    * alone even after the text is scrubbed. Reports every under-k
    * equivalence class with its population and the smallest member id
    * (the audit handle) — the inventory a release review walks before
    * publishing per-document metadata. One groupBy shuffle on the
    * quasi-key; all integer/string, hash-trivial.
    */
  def pKanon(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(col("source"), col("lang"),
        (col("n_chars") - pmod(col("n_chars"), lit(100))).as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") < 5)

  val pKanonSql: String =
    """SELECT source, lang, n_chars - n_chars % 100 AS len_bucket,
              CAST(count(*) AS BIGINT) AS n_docs,
              min(doc_id) AS min_doc_id
       FROM documents
       GROUP BY 1, 2, 3
       HAVING count(*) < 5"""

  /** Phrase-blocklist audit: per-doc hit counts for a (bounded) phrase
    * list + the keep verdict — spam/boilerplate phrase filtering.
    */
  private val blockPhrases = Seq("click here", "buy now", "lorem ipsum",
    "all rights reserved")

  def pBlocklist(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.blocklistCount(col("text"), blockPhrases).cast("long")
          .as("n_hits"))
      .withColumn("keep", col("n_hits") === 0L)

  val pBlocklistSql: String = {
    // the pattern is embedded in a single-quoted SQL literal: double any
    // quote so a phrase like "don't miss" is data, not SQL syntax
    // (DuckDB string literals are standard SQL — no backslash
    // processing, so the regex escapes pass through untouched)
    val pat = TextAnalysis.blocklistPattern(blockPhrases).replace("'", "''")
    s"""SELECT doc_id,
              CAST(len(regexp_extract_all(lower(text), '$pat')) AS BIGINT) AS n_hits,
              len(regexp_extract_all(lower(text), '$pat')) = 0 AS keep
       FROM documents"""
  }

  /** TF-IDF term relevance per document. */
  def pTfidf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidf(Tables.load(spark, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("term"), round(col("tfidf"), 4).as("tfidf"))

  val pTfidfSql: String =
    """WITH toks AS (
         SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       n AS (SELECT count(*) AS n_docs FROM documents)
       SELECT doc_id, term, round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
       FROM tf JOIN dfreq USING (term) CROSS JOIN n"""

  /** The fixed query-term set for the BM25 retrieval face — shared
    * verbatim with the oracle SQL below.
    */
  private val bm25Terms = Seq("hash", "vector", "stream", "join")

  /** Okapi BM25 relevance to a fixed query (Lucene idf form, k1=1.2,
    * b=0.75) — the lexical-retrieval complement of p_tfidf: TF-IDF
    * profiles the corpus, BM25 ranks it against a query mix (the
    * data-selection scan of retrieval-augmented curation). The per-doc
    * score is the exact integer sum of 6dp-integerized per-term
    * contributions divided once — the dataset-card discipline; a float
    * Σ over terms would be summation-order ULP noise.
    */
  def pBm25(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25(Tables.load(spark, dir, "documents"),
        "doc_id", "text", bm25Terms)
      .select(col("id").as("doc_id"), col("n_terms"), col("bm25"))

  val pBm25Sql: String = {
    val terms = bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH docs AS (
         SELECT doc_id,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         FROM documents),
       d2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM docs),
       toks AS (SELECT doc_id, dl, unnest(toks) AS term FROM d2),
       tf AS (SELECT doc_id, dl, term, count(*) AS tf
              FROM toks WHERE term IN ($terms) GROUP BY 1, 2, 3),
       dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
                 FROM d2),
       contrib AS (
         SELECT doc_id,
                CAST(floor(
                  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                    * (tf * 2.2)
                    / (tf + 1.2 * (1.0 - 0.75
                        + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
                  * 1000000.0 + 0.5) AS BIGINT) AS c6
         FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
       SELECT doc_id, count(*) AS n_terms,
              CAST((CAST(sum(c6) AS BIGINT) + 50) // 100 AS DOUBLE) / 10000.0
                AS bm25
       FROM contrib GROUP BY 1"""
  }

  /** Reciprocal-rank-fusion curation ensemble (Cormack et al. 2009 —
    * THE way incomparable rankers combine without score calibration,
    * and the fusion step of every hybrid lexical+semantic retrieval
    * stack): three verified rankers — BM25 relevance to the domain
    * query mix, heuristic quality, character information density —
    * each contribute floor(10⁹/(60+rank)) for their top-100 list, and
    * the corpus is re-ranked by the exact integer sum. Rank-based
    * fusion is deliberately scale-free: a ranker's score DISTRIBUTION
    * never leaks into the ensemble, only its order. Scale shape: each
    * top-100 list comes from the k-bounded TopK partial aggregate
    * (map-side k-buffers, NO global sort — the q_pareto discipline),
    * the fusion joins three 100-row lists, and the final re-rank runs
    * over ≤ 300 candidates.
    */
  def pRankFusion(spark: SparkSession, dir: String): DataFrame = {
    // ONE text pass (was: each ranker loaded `documents` itself, and the
    // un-materialized `fused` re-ran all three — ~8 text scans per run).
    // The scan collapses to a narrow per-doc table — the two scalar
    // scores, the whitespace token count, and ONLY the tokens matching
    // the fixed BM25 query mix — checkpointed at output scale; every
    // ranker and the fusion read small rows from there (guide-§8 shape:
    // heavy payload crosses once, decisions run on the proxy).
    val toks = split(lower(trim(col("text"))), "\\s+")
    val narrow = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 4).as("quality"),
        round(TextAnalysis.charEntropy(col("text")), 6).as("char_entropy"),
        size(toks).cast("long").as("dl"),
        filter(toks, t => t.isin(bm25Terms: _*)).as("qtoks"))
      .localCheckpoint()
    // BM25 re-derived from the narrow table — arithmetic identical to
    // TextAnalysis.bm25 (k1=1.2, b=0.75, Lucene idf, 6dp integer seal):
    // exploding the pre-matched qtoks yields exactly the explode+isin
    // rows of the original corpus-token explode.
    val k1 = 1.2
    val b = 0.75
    val tf = narrow.select(col("doc_id").as("id"), col("dl"),
        explode(col("qtoks")).as("term"))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = narrow.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    val bm = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("id"), floor(contrib * 1e6 + 0.5).as("c6"))
      .groupBy(col("id"))
      .agg(sum(col("c6")).as("s6"))
      .select(col("id").as("doc_id"),
        (expr("(s6 + 50) DIV 100").cast("double") / 10000.0).as("bm25"))
    def top100(df: DataFrame, s: String): DataFrame =
      graft.operators.TopK.topKPerGroup(
        df.select(col("doc_id"), col(s).as("s")).withColumn("g", lit(1)),
        "g", "s", "doc_id", k = 100)
        .select(col("doc_id"), col("rank"))
    val r1 = top100(bm, "bm25")
    val r2 = top100(narrow, "quality")
    val r3 = top100(narrow, "char_entropy")
    def c(r: Column): Column =
      coalesce(call_function("div", lit(1000000000L), lit(60L) + r), lit(0L))
    // ≤ 300 rows; checkpointed because it feeds BOTH the fused TopK and
    // the score re-attach join (lazy, the whole ranker DAG ran twice)
    val fused = r1.select(col("doc_id"), col("rank").as("r1"))
      .join(r2.select(col("doc_id"), col("rank").as("r2")), Seq("doc_id"), "full")
      .join(r3.select(col("doc_id"), col("rank").as("r3")), Seq("doc_id"), "full")
      .select(col("doc_id"),
        (col("r1").isNotNull.cast("long") + col("r2").isNotNull.cast("long")
          + col("r3").isNotNull.cast("long")).as("in_lists"),
        (c(col("r1")) + c(col("r2")) + c(col("r3"))).as("rrf"))
      .localCheckpoint()
    graft.operators.TopK.topKPerGroup(
        fused.withColumn("g", lit(1)), "g", "rrf", "doc_id", k = 50)
      .select(col("doc_id"), col("rank").as("fused_rank"))
      .join(fused.select(col("doc_id"), col("in_lists"),
        col("rrf").as("rrf_score")), Seq("doc_id"))
  }

  def pQualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), round(TextAnalysis.qualityScore(col("text")), 4).as("quality"))

  val pQualityScoreSql: String = {
    val ws = "len(regexp_split_to_array(trim(text), '\\s+'))"
    val punct = s"(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / greatest(length(text), 1))"
    val stop = s"(CAST(${sqlLangScore("en")} AS DOUBLE) / greatest($ws, 1))"
    s"""SELECT doc_id,
        round(least(CAST($ws AS DOUBLE) / 100.0, 1.0) * 0.4 +
              (1.0 - least($punct * 10.0, 1.0)) * 0.3 +
              least($stop * 4.0, 1.0) * 0.3, 4) AS quality
        FROM documents"""
  }

  /** Per-source percentile calibration of the quality score — raw
    * heuristic scores are NOT comparable across sources (a news corpus
    * and a forum dump occupy different score ranges), so a single
    * global keep threshold over-prunes one source and under-prunes
    * another; the standard cure is to rank-normalize within source and
    * threshold the PERCENTILE (keep the top 30% of each source). One
    * window sorted per source partition — source-keyed, never global;
    * the keep flag compares the unrounded rank (a count ratio, exact in
    * both engines), the reported percentile is rounded for display.
    */
  val pRankFusionSql: String =
    s"""WITH bm AS (SELECT doc_id, bm25 FROM (${pBm25Sql}) tb),
        qs AS (SELECT doc_id, quality FROM (${pQualityScoreSql}) tq),
        en AS (SELECT doc_id, char_entropy FROM (${pCharEntropySql}) te),
        r1 AS (SELECT doc_id, r FROM (
                 SELECT doc_id, row_number() OVER
                   (ORDER BY bm25 DESC, doc_id) AS r FROM bm)
               WHERE r <= 100),
        r2 AS (SELECT doc_id, r FROM (
                 SELECT doc_id, row_number() OVER
                   (ORDER BY quality DESC, doc_id) AS r FROM qs)
               WHERE r <= 100),
        r3 AS (SELECT doc_id, r FROM (
                 SELECT doc_id, row_number() OVER
                   (ORDER BY char_entropy DESC, doc_id) AS r FROM en)
               WHERE r <= 100),
        ids AS (SELECT doc_id FROM r1 UNION SELECT doc_id FROM r2
                UNION SELECT doc_id FROM r3),
        f AS (SELECT ids.doc_id,
                     CAST((CASE WHEN r1.r IS NOT NULL THEN 1 ELSE 0 END)
                        + (CASE WHEN r2.r IS NOT NULL THEN 1 ELSE 0 END)
                        + (CASE WHEN r3.r IS NOT NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS in_lists,
                     CAST(coalesce(1000000000 // (60 + r1.r), 0)
                        + coalesce(1000000000 // (60 + r2.r), 0)
                        + coalesce(1000000000 // (60 + r3.r), 0)
                       AS BIGINT) AS rrf
              FROM ids LEFT JOIN r1 USING (doc_id)
                       LEFT JOIN r2 USING (doc_id)
                       LEFT JOIN r3 USING (doc_id))
        SELECT doc_id, fused_rank, in_lists, rrf AS rrf_score FROM (
          SELECT doc_id, in_lists, rrf,
                 CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
                      AS BIGINT) AS fused_rank
          FROM f)
        WHERE fused_rank <= 50"""


  def pQualityNorm(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("quality"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        round(TextAnalysis.qualityScore(col("text")), 4).as("quality"))
      .select(col("doc_id"), col("source"), col("quality"),
        round(percent_rank().over(w), 6).as("q_pct"),
        (percent_rank().over(w) >= 0.7).as("keep_top30"))
  }

  val pQualityNormSql: String = {
    val ws = "len(regexp_split_to_array(trim(text), '\\s+'))"
    val punct = s"(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / greatest(length(text), 1))"
    val stop = s"(CAST(${sqlLangScore("en")} AS DOUBLE) / greatest($ws, 1))"
    s"""WITH q AS (
         SELECT doc_id, source,
                round(least(CAST($ws AS DOUBLE) / 100.0, 1.0) * 0.4 +
                      (1.0 - least($punct * 10.0, 1.0)) * 0.3 +
                      least($stop * 4.0, 1.0) * 0.3, 4) AS quality
         FROM documents)
       SELECT doc_id, source, quality,
              round(percent_rank() OVER w, 6) AS q_pct,
              percent_rank() OVER w >= 0.7 AS keep_top30
       FROM q
       WINDOW w AS (PARTITION BY source ORDER BY quality)"""
  }

  def pTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.wsTokens(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.bpeTokens(col("text")).cast("long").as("bpe_tokens"))

  val pTokenCountSql: String =
    """SELECT doc_id,
              CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
              CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
       FROM documents"""

  /** Content fingerprint via the codegen'd FNV-1a expression. Oracle:
    * FNV-1a 64 re-expressed as a DuckDB `list_reduce` in HUGEINT
    * arithmetic (xor of the low byte, multiply, mod 2^64), folded over
    * `ascii()` code points — equal to the Spark expression's UTF-8 byte
    * fold exactly when the corpus is ASCII. The oracle GUARDS that
    * assumption itself: any row where the byte length differs from the
    * character length (the UTF-8 definition of "contains non-ASCII")
    * raises error() instead of silently hashing differently, so a future
    * non-ASCII document surfaces as "oracle assumption violated", never
    * as a spurious Spark-vs-DuckDB mismatch. Unicode exactness of the
    * Spark expression vs the reference implementation stays in TextSpec.
    */
  def pFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), FnvHash64(col("text")).as("fingerprint"))

  val pFingerprintSql: String =
    """WITH h AS (
         SELECT doc_id,
           CASE WHEN strlen(text) <> length(text)
             THEN error('fingerprint oracle: non-ASCII document; codepoint fold != UTF-8 byte fold')
             ELSE
           list_reduce(
             list_prepend(CAST('14695981039346656037' AS HUGEINT),
               list_transform(list_filter(string_split(text, ''), c -> c != ''),
                              c -> CAST(ascii(c) AS HUGEINT))),
             (h, b) -> (((h // 256) * 256 +
                          xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)))
                        * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))
           END AS hv
         FROM documents)
       SELECT doc_id,
         CAST(CASE WHEN hv >= CAST('9223372036854775808' AS HUGEINT)
                   THEN hv - CAST('18446744073709551616' AS HUGEINT)
                   ELSE hv END AS BIGINT) AS fingerprint
       FROM h"""

  /** Per-source token-length distribution profile (corpus length audit):
    * exact interpolated p50/p90/p99 — Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition. At
    * 100 TB the same query swaps `percentile` for the
    * `approx_percentile` sketch (mergeable, bounded memory) — the exact
    * form is kept here because it is the oracle-checkable one.
    */
  def pTokenQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), TextAnalysis.wsTokens(col("text")).as("ws"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(expr("percentile(ws, 0.5)"), 4).as("p50"),
        round(expr("percentile(ws, 0.9)"), 4).as("p90"),
        round(expr("percentile(ws, 0.99)"), 4).as("p99"))

  val pTokenQuantilesSql: String =
    """SELECT source, count(*) AS n_docs,
              round(quantile_cont(ws, 0.5), 4) AS p50,
              round(quantile_cont(ws, 0.9), 4) AS p90,
              round(quantile_cont(ws, 0.99), 4) AS p99
       FROM (SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS ws
             FROM documents)
       GROUP BY source"""

  /** Vocabulary-growth (Heaps' law) curve: cumulative distinct tokens
    * vs cumulative token occurrences over ten id-range prefixes of the
    * corpus — the "how fast does new vocabulary appear" audit that
    * sizes tokenizer vocab and predicts dedup head-room (a flattening
    * curve means the corpus is rehashing itself; Zipf's static rank
    * profile p_zipf cannot see that). No 10-pass scan: each token's
    * FIRST stage is min(stage) (stage is monotone in doc_id, one
    * token-keyed shuffle), per-stage occurrence/new-vocab/doc counts
    * fold cumulatively over the 10-row stage table. All-integer
    * outputs.
    */
  def pHeaps(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val staged = docs.crossJoin(broadcast(mx))
      .select(expr("doc_id * 10 DIV (mx + 1) + 1").as("stage"), col("text"))
    val tok = staged.select(col("stage"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    val occ = tok.groupBy(col("stage")).agg(count(lit(1)).as("occ"))
    val nv = tok.groupBy(col("tok")).agg(min(col("stage")).as("fs"))
      .groupBy(col("fs").as("stage")).agg(count(lit(1)).as("nv"))
    val dc = staged.groupBy(col("stage")).agg(count(lit(1)).as("nd"))
    val w = Window.orderBy(col("stage"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    occ.join(nv, Seq("stage"), "left").join(dc, Seq("stage"), "left")
      .select(col("stage"),
        sum(coalesce(col("nd"), lit(0L))).over(w).as("n_docs"),
        sum(col("occ")).over(w).as("n_tokens"),
        sum(coalesce(col("nv"), lit(0L))).over(w).as("vocab"))
  }

  val pHeapsSql: String =
    """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
       st AS (SELECT doc_id * 10 // (m + 1) + 1 AS stage, text
              FROM documents, mx),
       tok AS (SELECT stage,
                      unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                        AS tok
               FROM st),
       occ AS (SELECT stage, CAST(count(*) AS BIGINT) AS occ
               FROM tok GROUP BY 1),
       fv AS (SELECT tok, min(stage) AS fs FROM tok GROUP BY 1),
       nv AS (SELECT fs AS stage, CAST(count(*) AS BIGINT) AS nv
              FROM fv GROUP BY 1),
       dc AS (SELECT stage, CAST(count(*) AS BIGINT) AS nd
              FROM st GROUP BY 1)
       SELECT o.stage,
              CAST(sum(coalesce(nd, 0)) OVER w AS BIGINT) AS n_docs,
              CAST(sum(occ) OVER w AS BIGINT) AS n_tokens,
              CAST(sum(coalesce(nv, 0)) OVER w AS BIGINT) AS vocab
       FROM occ o LEFT JOIN nv USING (stage) LEFT JOIN dc USING (stage)
       WINDOW w AS (ORDER BY o.stage)"""

  /** Document-length quantiles through the HDR sketch ([[graft
    * .operators.HdrSketch]]) — the DEPLOYED form of the
    * approx-percentile swap p_token_quantiles documents in prose: one
    * map-side-combining shuffle onto ≤ ~1000 integer bucket keys, rank
    * extraction over the bounded bucket table, 6.25% worst-case
    * relative error. Unlike GK/KLL/t-digest this sketch is
    * deterministic and merge-order invariant (exact long counts, pure
    * integer bucketing), so the face is HASH-checkable against a SQL
    * mirror of the same buckets — HdrSketchSpec additionally proves
    * estimate ≡ rep(exact quantile) and partition-layout invariance.
    */
  def pQuantileSketch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.HdrSketch.quantiles(
      Tables.load(spark, dir, "documents").select(col("n_chars")),
      "n_chars", Seq((1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99")))

  val pQuantileSketchSql: String = {
    val rep = graft.operators.HdrSketch.repSql("n_chars")
    s"""WITH b AS (SELECT $rep AS rep, CAST(count(*) AS BIGINT) AS cnt
                   FROM documents GROUP BY 1),
        c AS (SELECT rep, CAST(sum(cnt) OVER (ORDER BY rep) AS BIGINT) AS cum
              FROM b),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS n_buckets FROM b)
        SELECT n, n_buckets,
               (SELECT min(rep) FROM c WHERE cum >= (1*n + 1) // 2) AS p50,
               (SELECT min(rep) FROM c WHERE cum >= (9*n + 9) // 10) AS p90,
               (SELECT min(rep) FROM c WHERE cum >= (99*n + 99) // 100) AS p99
        FROM t"""
  }

  /** Greedy context-window packing of the corpus by whitespace token
    * count: 512-token packs, 100-doc shards (the sequential chain is
    * bounded per shard; shards scale out).
    */
  def pPackSequences(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.packGreedy(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("ws")),
        "doc_id", "ws", budget = 512L, shardSize = 100L, spark)
      .select(col("id").as("doc_id"), col("shard"), col("pack_idx"))

  val pPackSequencesSql: String =
    graft.pipeline.Packing.packGreedySql("documents", "doc_id",
      "len(regexp_split_to_array(trim(text), '\\s+'))", budget = 512L, shardSize = 100L)

  /** Packing-efficiency audit — the per-shard waste report read before
    * a training run is launched: packs, docs, packed token mass, waste
    * (unused budget summed over packs; an oversized single-doc pack
    * wastes 0, it overflows by design), and the fill rate as a rounded
    * ratio of exact integers. Composes the verified [[pPackSequences]]
    * assignment with the per-doc token counts it packed — one join on
    * doc_id + two seed-bounded aggregations; the shard table is
    * corpus/shardSize rows, trivially small at any scale.
    */
  def pPackAudit(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.packAudit(
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).cast("long").as("ws")),
      "doc_id", "ws", budget = 512L, shardSize = 100L, spark)

  val pPackAuditSql: String = {
    val ctes = graft.pipeline.Packing.packGreedyCtes(
      "SELECT * FROM documents", "doc_id",
      "len(regexp_split_to_array(trim(text), '\\s+'))", budget = 512L, shardSize = 100L)
    s"""WITH RECURSIVE $ctes,
       fills AS (SELECT w.shard, w.pack_idx, count(*) AS n_docs,
                        CAST(sum(t.tk) AS BIGINT) AS fill
                 FROM walk w JOIN pk_t t ON t.shard = w.shard AND t.rn = w.rn
                 GROUP BY 1, 2)
       SELECT shard, count(*) AS n_packs, CAST(sum(n_docs) AS BIGINT) AS n_docs,
              CAST(sum(fill) AS BIGINT) AS packed_tokens,
              CAST(sum(greatest(0, 512 - fill)) AS BIGINT) AS waste_tokens,
              round(CAST(sum(fill) AS DOUBLE) / (count(*) * 512.0), 4) AS fill_rate
       FROM fills GROUP BY shard"""
  }

  /** Packing-efficiency CURVE: the global fill/waste audit at a grid
    * of sequence-length budgets (256/512/1024) — the number read BEFORE
    * choosing a training sequence length (longer sequences pack more
    * waste from the same documents; this face prices that trade). One
    * greedy-pack pass per grid point, each the same recursive-walk
    * oracle as p_pack_audit namespaced into its own subquery scope.
    */
  def pPackCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).cast("long").as("ws"))
    Seq(256L, 512L, 1024L).map { b =>
      graft.pipeline.Packing.packAudit(docs, "doc_id", "ws",
          budget = b, shardSize = 100L, spark)
        .agg(sum(col("n_packs")).as("n_packs"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("packed_tokens")).as("packed_tokens"),
          sum(col("waste_tokens")).as("waste_tokens"))
        .select(lit(b).as("budget"), col("n_packs"), col("n_docs"),
          col("packed_tokens"), col("waste_tokens"),
          round(col("packed_tokens").cast("double") /
            (col("n_packs") * b), 4).as("fill_rate"))
    }.reduce(_ unionByName _)
  }

  val pPackCurveSql: String =
    Seq(256L, 512L, 1024L).map { b =>
      val ctes = graft.pipeline.Packing.packGreedyCtes(
        "SELECT * FROM documents", "doc_id",
        "len(regexp_split_to_array(trim(text), '\\s+'))",
        budget = b, shardSize = 100L)
      s"""SELECT * FROM (WITH RECURSIVE $ctes,
         fills AS (SELECT w.shard, w.pack_idx, count(*) AS n_docs,
                          CAST(sum(t.tk) AS BIGINT) AS fill
                   FROM walk w JOIN pk_t t ON t.shard = w.shard AND t.rn = w.rn
                   GROUP BY 1, 2)
         SELECT CAST($b AS BIGINT) AS budget,
                count(*) AS n_packs,
                CAST(sum(n_docs) AS BIGINT) AS n_docs,
                CAST(sum(fill) AS BIGINT) AS packed_tokens,
                CAST(sum(greatest(0, $b - fill)) AS BIGINT) AS waste_tokens,
                round(CAST(sum(fill) AS DOUBLE) / (count(*) * $b.0), 4)
                  AS fill_rate
         FROM fills)"""
    }.mkString("\n       UNION ALL\n       ")

  /** Deterministic training-order shuffle: 16 hash shards, reproducible
    * in-shard order — the layout a training loader reads.
    */
  def pShuffleShard(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.shuffleShards(
        Tables.load(spark, dir, "documents").select(col("doc_id")), "doc_id")
      .select(col("doc_id"), col("shard"), col("position"))

  val pShuffleShardSql: String =
    graft.pipeline.Packing.shuffleShardsSql("documents", "doc_id", "doc_id")

  /** The end-to-end curation pipeline as ONE composed Catalyst plan —
    * what "a user switches their corpus job to graft" looks like:
    * quality filter (keep 'ok' docs) → exact dedup (min doc_id per
    * text, carrying its source) → token-budget mixture per source →
    * greedy sequence packing of the survivors. Every stage is an
    * already-verified operator; the oracle chains the same four SQL
    * fragments, so the whole pipeline is hash-checked end to end.
    */
  def pCurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val kept = docs.filter(TextAnalysis.filterReason(col("text")) === "ok")
    val deduped = kept.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("source"), col("doc_id")).as("source"))
      .select(col("doc_id"), col("source"),
        TextAnalysis.wsTokens(col("text")).cast("long").as("ws"))
    val mixed = graft.pipeline.Splits.sampleByBudget(
      deduped, "doc_id", "source", "ws", budget = 2000L)
    graft.pipeline.Packing.packGreedy(
        mixed.select(col("doc_id"), col("ws")), "doc_id", "ws",
        budget = 512L, shardSize = 100L, spark)
      .select(col("id").as("doc_id"), col("shard"), col("pack_idx"))
  }

  val pCurationPipelineSql: String =
    s"""WITH RECURSIVE $corpusFilterCtes,
       keptd AS (SELECT d.doc_id, d.text, d.source
                 FROM documents d JOIN cf USING (doc_id) WHERE cf.reason = 'ok'),
       dd AS (SELECT min(doc_id) AS doc_id, arg_min(source, doc_id) AS source,
                     CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws
              FROM keptd GROUP BY text),
       tot AS (SELECT source, CAST(floor(256.0 * least(1.0,
                 2000.0 / CAST(sum(ws) AS DOUBLE))) AS INT) AS v
               FROM dd GROUP BY source),
       mixed AS (SELECT dd.doc_id, dd.ws FROM dd JOIN tot USING (source)
                 WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
                   CASE WHEN v >= 256 THEN 'g' ELSE printf('%02x', v) END),
       ${graft.pipeline.Packing.packGreedyCtes(
           "SELECT doc_id, ws FROM mixed", "doc_id", "ws",
           budget = 512L, shardSize = 100L)}
       SELECT id AS doc_id, shard, pack_idx FROM walk"""

  /** BPE vocabulary induction: the first 30 learned merges (rows-only:
    * the iterative merge loop has no SQL mirror; known-answer + corpus
    * determinism in BpeSpec).
    */
  def pBpeVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Bpe.learnMerges(
        Tables.load(spark, dir, "documents"), "text", numMerges = 30)
      .zipWithIndex
      .map { case ((a, b), i) => (i.toLong + 1L, a, b) }
      .toDF("rank", "left", "right")
  }

  /** Corpus tokenized with the learned BPE merges: per-doc token count
    * under the induced vocabulary (rows-only; segmenter known-answers
    * in BpeSpec).
    */
  def pBpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val merges = graft.pipeline.Bpe.learnMerges(docs, "text", numMerges = 30)
    graft.pipeline.Bpe.tokenize(docs, "doc_id", "text", merges, spark)
  }

  /** Tokenizer fertility audit: chars-per-BPE-token by source under the
    * induced vocabulary — the standard tokenizer-fit metric (a source
    * whose fertility is far off corpus norm tokenizes poorly). Rows-only
    * like the other BPE entries; the ratio arithmetic is spec-checked.
    */
  def pBpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val merges = graft.pipeline.Bpe.learnMerges(docs, "text", numMerges = 30)
    val toks = graft.pipeline.Bpe.tokenize(docs, "doc_id", "text", merges, spark)
      .toDF("doc_id", "n_tokens")
    docs.join(toks, "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_chars")).as("chars"), sum(col("n_tokens")).as("bpe_tokens"),
        round(sum(col("n_chars")).cast("double") / sum(col("n_tokens")), 4)
          .as("chars_per_token"))
  }

  // -------------------------------------------------------- multimodal

  def pMediaMeta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Multimodal.withPayload(Tables.load(spark, dir, "documents"), "text")
    Multimodal.extractMeta(spark, docs, "doc_id").toDF()
  }

  val pMediaMetaSql: String =
    """SELECT doc_id AS media_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS byte_size,
              sha256(text) AS sha,
              CAST(1 + octet_length(encode(text)) % 1024 AS BIGINT) AS width,
              CAST(1 + (octet_length(encode(text)) * 7) % 768 AS BIGINT) AS height,
              'fake/raw' AS format
       FROM documents"""

  /** Frame sampling over the binary payload: every 2nd 64-byte "frame",
    * emitted as (media_id, frame_idx, frame_sha) — the one-row-in,
    * k-rows-out demux shape; payload bytes never shuffle (only the
    * 32-byte sha leaves the operator here). Oracle slices the VARCHAR —
    * byte ≡ char slicing for ASCII, which the oracle itself guards
    * (same pattern as the fingerprint oracle).
    */
  def pMediaFrames(spark: SparkSession, dir: String): DataFrame = {
    val docs = Multimodal.withPayload(Tables.load(spark, dir, "documents"), "text")
    Multimodal.sampleFrames(spark, docs, "doc_id", frameBytes = 64, stride = 2)
      .toDF("media_id", "frame_idx", "frame")
      .select(col("media_id"), col("frame_idx"), sha2(col("frame"), 256).as("frame_sha"))
  }

  val pMediaFramesSql: String =
    """WITH g AS (
         SELECT doc_id, CASE WHEN strlen(text) <> length(text)
           THEN error('media frames oracle: non-ASCII document; char slice != byte slice')
           ELSE text END AS t
         FROM documents),
       f AS (SELECT doc_id, t,
               unnest(range(0, length(t) // 64, 2)) AS frame_idx
             FROM g)
       SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
              sha256(substring(t, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_sha
       FROM f"""

  /** Resize (stub codec): deterministic re-encoded payload of exactly
    * the target byte budget (64×48 → 20 bytes, cyclic fill), reported as
    * (media_id, byte_size, payload sha). Same partition-mapped
    * payload-in → payload-out contract a real codec UDF has.
    */
  def pMediaResize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Multimodal.withPayload(Tables.load(spark, dir, "documents"), "text")
    Multimodal.resize(spark, docs, "doc_id", targetW = 64, targetH = 48)
      .toDF("media_id", "payload")
      .select(col("media_id"),
        length(col("payload")).cast("long").as("byte_size"),
        sha2(col("payload"), 256).as("payload_sha"))
  }

  val pMediaResizeSql: String =
    """WITH g AS (
         SELECT doc_id, CASE WHEN strlen(text) <> length(text)
           THEN error('media resize oracle: non-ASCII document; char fill != byte fill')
           ELSE text END AS t
         FROM documents)
       SELECT doc_id AS media_id, CAST(20 AS BIGINT) AS byte_size,
              sha256(substring(repeat(t, CAST(20 // length(t) + 1 AS INT)), 1, 20)) AS payload_sha
       FROM g"""

  /** Per-document boilerplate fraction: share of each doc's distinct
    * 2-grams with corpus DF ≥ 25 (the same threshold the DF profile
    * query uses) — template/navigation detection.
    */
  def pBoilerplate(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.boilerplateFrac(Tables.load(spark, dir, "documents"),
        "doc_id", "text", n = 2, minDf = 25L)
      .select(col("id").as("doc_id"), col("n_ngrams"), col("n_common"),
        col("common_frac"))

  val pBoilerplateSql: String =
    """WITH words AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
         FROM documents),
       sh AS MATERIALIZED (
         SELECT doc_id, unnest(CASE WHEN len(w) >= 2
           THEN list_distinct(list_transform(range(len(w) - 1),
                  i -> array_to_string(w[i + 1:i + 2], ' ')))
           ELSE [array_to_string(w, ' ')] END) AS sh
         FROM words),
       dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
       SELECT s.doc_id, count(*) AS n_ngrams,
              count(*) FILTER (WHERE d.df >= 25) AS n_common,
              round(CAST(count(*) FILTER (WHERE d.df >= 25) AS DOUBLE)
                    / count(*), 6) AS common_frac
       FROM sh s JOIN dfreq d USING (sh)
       GROUP BY s.doc_id"""

  /** Vocabulary coverage curve: top-200 words by corpus term frequency
    * with cumulative token-share — the Zipf/tokenizer-design audit.
    */
  def pVocabCoverage(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(Tables.load(spark, dir, "documents"),
      "text", topK = 200)

  val pVocabCoverageSql: String =
    """WITH tok AS (
         SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
         FROM documents),
       counts AS (SELECT word, count(*) AS tf FROM tok GROUP BY word),
       ranked AS (
         SELECT word, tf,
                row_number() OVER (ORDER BY tf DESC, word) AS rank,
                sum(tf) OVER (ORDER BY tf DESC, word
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tf
         FROM counts)
       SELECT CAST(rank AS BIGINT) AS rank, word, tf,
              round(CAST(cum_tf AS DOUBLE) /
                    (SELECT CAST(sum(tf) AS DOUBLE) FROM counts), 8) AS cum_frac
       FROM ranked WHERE rank <= 200"""

  /** Winsorization: clamp document lengths at the exact interpolated
    * [p05, p95] — the outlier-robust normalization step ahead of
    * length-weighted sampling. The two quantiles ride back over the
    * corpus as a broadcast one-row subplan; the clamp itself is pure
    * codegen arithmetic. At 100 TB swap `percentile` for the
    * `approx_percentile` sketch, as with `p_token_quantiles`.
    */
  def pWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val q = docs.agg(
      expr("percentile(n_chars, 0.05)").as("lo"),
      expr("percentile(n_chars, 0.95)").as("hi"))
    docs.crossJoin(broadcast(q))
      .select(col("doc_id"), col("n_chars"),
        round(least(greatest(col("n_chars").cast("double"), col("lo")),
          col("hi")), 4).as("clamped"))
  }

  val pWinsorizeSql: String =
    """WITH q AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
                         quantile_cont(n_chars, 0.95) AS hi
                  FROM documents)
       SELECT doc_id, n_chars,
              round(least(greatest(CAST(n_chars AS DOUBLE), lo), hi), 4) AS clamped
       FROM documents, q"""

  /** Per-dimension mean/variance profile of the embedding table — the
    * feature-health audit (dead dimensions, unnormalized scales) that
    * precedes any geometric dedup/ANN run. posexplode → ONE
    * (dim)-keyed aggregation whose output is dim-bounded.
    */
  def pVarProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(round(avg(col("x")), 6).as("mean"),
        round(var_samp(col("x")), 6).as("variance"))

  val pVarProfileSql: String =
    """WITH x AS (SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
                         CAST(unnest(embedding) AS DOUBLE) AS x
                  FROM embeddings)
       SELECT dim, round(avg(x), 6) AS mean, round(var_samp(x), 6) AS variance
       FROM x GROUP BY dim"""

  /** Top-|projection| documents along the corpus's first principal
    * component ([[graft.pipeline.Pca]]) — the "what spans this
    * corpus's dominant variance axis" audit. Iterative eigen solve on
    * a driver-side dim² matrix → no DuckDB mirror; exactness is
    * PcaSpec's job (planted-component recovery + Cv≈λv residual).
    */
  def pPcaProject(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Pca.projectFirst(
        Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .orderBy(round(abs(col("score")), 4).desc, col("vec_id"))
      .limit(50)

  /** Curriculum-learning stage assignment: the corpus ordered by the
    * 4dp-integerized quality score (the engine-equal quantity every
    * card face aggregates — INTEGER ordering keys, no float comparisons
    * anywhere) with doc_id tiebreak, split into 4 curriculum stages by
    * the distributed exact NTILE (operators/Ntile.distributed — no
    * single-partition window sort at 100 TB), reported as the per-stage
    * datasheet a training scheduler consumes: doc/token budgets and
    * sealed quality bounds per stage. Stage 1 = highest quality (train
    * first on the cleanest shard — the curriculum convention).
    */
  def pCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val q4 = floor(TextAnalysis.qualityScore(col("text")) * 10000.0 + lit(0.5))
      .cast("long")
    val scored = docs.select(col("doc_id"), q4.as("q4"),
      TextAnalysis.wsTokens(col("text")).cast("long").as("toks"))
    graft.operators.Ntile.distributed(scored, 4,
        Seq(col("q4").desc, col("doc_id").asc), "stage")
      .groupBy(col("stage").cast("long").as("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("q4")).as("_s"),
        min(col("q4")).as("_min"), max(col("q4")).as("_max"))
      .select(col("stage"), col("n_docs"), col("n_tokens"),
        (expr("(_s * 2 + n_docs) DIV (2 * n_docs)").cast("double") / 10000.0)
          .as("mean_quality"),
        (col("_min").cast("double") / 10000.0).as("min_quality"),
        (col("_max").cast("double") / 10000.0).as("max_quality"))
  }

  val pCurriculumSql: String = {
    val ws = "len(regexp_split_to_array(trim(text), '\\s+'))"
    val punct = s"(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / greatest(length(text), 1))"
    val stop = s"(CAST(${sqlLangScore("en")} AS DOUBLE) / greatest($ws, 1))"
    val quality = s"""least(CAST($ws AS DOUBLE) / 100.0, 1.0) * 0.4 +
                    (1.0 - least($punct * 10.0, 1.0)) * 0.3 +
                    least($stop * 4.0, 1.0) * 0.3"""
    s"""WITH q AS (
         SELECT doc_id,
                CAST(floor(($quality) * 10000.0 + 0.5) AS BIGINT) AS q4,
                CAST($ws AS BIGINT) AS toks
         FROM documents),
       st AS (
         SELECT q4, toks,
                ntile(4) OVER (ORDER BY q4 DESC, doc_id) AS stage
         FROM q)
       SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_docs,
              CAST(sum(toks) AS BIGINT) AS n_tokens,
              CAST((CAST(sum(q4) AS BIGINT) * 2 + count(*))
                   // (2 * count(*)) AS DOUBLE) / 10000.0 AS mean_quality,
              CAST(min(q4) AS DOUBLE) / 10000.0 AS min_quality,
              CAST(max(q4) AS DOUBLE) / 10000.0 AS max_quality
       FROM st GROUP BY 1"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("p_curriculum", pCurriculum, pCurriculumSql),
    QueryDef.sql("p_winsorize", pWinsorize, pWinsorizeSql),
    QueryDef.sql("p_var_profile", pVarProfile, pVarProfileSql),
    QueryDef.rowsOnly("p_pca_project", pPcaProject),
    QueryDef.sql("p_dedup_exact", pDedupExact, pDedupExactSql),
    QueryDef.sql("p_dup_profile", pDupProfile, pDupProfileSql),
    QueryDef.sql("p_boilerplate", pBoilerplate, pBoilerplateSql),
    QueryDef.sql("p_vocab_coverage", pVocabCoverage, pVocabCoverageSql),
    QueryDef.rowsOnly("p_dedup_minhash", pDedupMinhash),
    QueryDef.rowsOnly("p_dedup_minhash_incr", pDedupMinhashIncr),
    QueryDef.rowsOnly("p_minhash_clusters", pMinhashClusters),
    QueryDef.rowsOnly("p_oversized_buckets", pOversizedBuckets),
    QueryDef.rowsOnly("p_dedup_simhash", pDedupSimhash),
    QueryDef.rowsOnly("p_dedup_ngram", pDedupNgram),
    QueryDef.sql("p_dedup_embed", pDedupEmbed, pDedupEmbedSql),
    QueryDef.sql("p_dedup_curve", pDedupCurve, pDedupCurveSql),
    QueryDef.rowsOnly("p_dedup_embed_lsh", pDedupEmbedLsh),
    QueryDef.sql("p_decontam", pDecontam, pDecontamSql),
    QueryDef.sql("p_decontam_embed", pDecontamEmbed, pDecontamEmbedSql),
    QueryDef.sql("p_dedup_incr", pDedupIncr, pDedupIncrSql),
    QueryDef.sql("p_winnow", pWinnow, pWinnowSql),
    QueryDef.sql("p_containment", pContainment, pContainmentSql),
    QueryDef.sql("p_ssjoin", pSsjoin, pSsjoinSql),
    QueryDef.sql("p_ssjoin_incr", pSsjoinIncr, pSsjoinIncrSql),
    QueryDef.sql("p_containment_incr", pContainmentIncr, pContainmentIncrSql),
    QueryDef.sql("p_split_assign", pSplitAssign, pSplitAssignSql),
    QueryDef.sql("p_sample_mix", pSampleMix, pSampleMixSql),
    QueryDef.sql("p_sample_topn", pSampleTopN, pSampleTopNSql),
    QueryDef.sql("p_chunk_docs", pChunkDocs, pChunkDocsSql),
    QueryDef.sql("p_lm_score", pLmScore, pLmScoreSql),
    QueryDef.sql("p_dsir", pDsir, pDsirSql),
    QueryDef.sql("p_heavy_hitters", pHeavyHitters, pHeavyHittersSql),
    QueryDef.sql("p_cms_heavy", pCmsHeavy, pCmsHeavySql),
    QueryDef.sql("p_vocab_drift", pVocabDrift, pVocabDriftSql),
    QueryDef.sql("p_vocab_overlap", pVocabOverlap, pVocabOverlapSql),
    QueryDef.rowsOnly("p_vocab_overlap_kmv", pVocabOverlapKmv),
    QueryDef.sql("p_weighted_sample", pWeightedSample, pWeightedSampleSql),
    QueryDef.sql("p_pmi", pPmi, pPmiSql),
    QueryDef.sql("p_repetition", pRepetition, pRepetitionSql),
    QueryDef.sql("p_char_entropy", pCharEntropy, pCharEntropySql),
    QueryDef.sql("p_perplexity_buckets", pPerplexityBuckets, pPerplexityBucketsSql),
    QueryDef.sql("p_line_dedup", pLineDedup, pLineDedupSql),
    QueryDef.sql("p_span_dedup", pSpanDedup, pSpanDedupSql),
    QueryDef.sql("p_media_dedup", pMediaDedup, pMediaDedupSql),
    QueryDef.sql("p_budget_mix", pBudgetMix, pBudgetMixSql),
    QueryDef.sql("p_temp_mix", pTempMix, pTempMixSql),
    QueryDef.sql("p_dedup_clusters", pDedupClusters, pDedupClustersSql),
    QueryDef.sql("p_gopher_quality", pGopherQuality, pGopherQualitySql),
    QueryDef.sql("p_quality_logit", pQualityLogit, pQualityLogitSql),
    QueryDef.sql("p_corpus_filter", pCorpusFilter, pCorpusFilterSql),
    QueryDef.sql("p_filter_report", pFilterReport, pFilterReportSql),
    QueryDef.sql("p_filter_ablation", pFilterAblation, pFilterAblationSql),
    QueryDef.sql("p_normalize", pNormalize, pNormalizeSql),
    QueryDef.rowsOnly("p_approx_distinct", pApproxDistinct),
    QueryDef.sql("p_pii_scrub", pPiiScrub, pPiiScrubSql),
    QueryDef.sql("p_kanon", pKanon, pKanonSql),
    QueryDef.sql("p_blocklist", pBlocklist, pBlocklistSql),
    QueryDef.sql("p_tfidf", pTfidf, pTfidfSql),
    QueryDef.sql("p_bm25", pBm25, pBm25Sql),
    QueryDef.sql("p_log_odds", pLogOdds, pLogOddsSql),
    QueryDef.sql("p_zipf", pZipf, pZipfSql),
    QueryDef.sql("p_pack_sequences", pPackSequences, pPackSequencesSql),
    QueryDef.sql("p_pack_audit", pPackAudit, pPackAuditSql),
    QueryDef.sql("p_pack_curve", pPackCurve, pPackCurveSql),
    QueryDef.sql("p_shuffle_shard", pShuffleShard, pShuffleShardSql),
    QueryDef.rowsOnly("p_bpe_vocab", pBpeVocab),
    QueryDef.rowsOnly("p_bpe_tokens", pBpeTokens),
    QueryDef.rowsOnly("p_bpe_fertility", pBpeFertility),
    QueryDef.sql("p_curation_pipeline", pCurationPipeline, pCurationPipelineSql),
    QueryDef.sql("p_dataset_card", pDatasetCard, pDatasetCardSql),
    QueryDef.sql("p_dataset_card_incr", pDatasetCardIncr, pDatasetCardIncrSql),
    QueryDef.sql("p_source_cards", pSourceCards, pSourceCardsSql),
    QueryDef.sql("p_source_leakage", pSourceLeakage, pSourceLeakageSql),
    QueryDef.sql("p_token_quantiles", pTokenQuantiles, pTokenQuantilesSql),
    QueryDef.sql("p_quantile_sketch", pQuantileSketch, pQuantileSketchSql),
    QueryDef.sql("p_heaps", pHeaps, pHeapsSql),
    QueryDef.sql("p_rank_fusion", pRankFusion, pRankFusionSql),
    QueryDef.sql("p_ngram_freq", pNgramFreq, pNgramFreqSql),
    QueryDef.sql("p_novelty", pNovelty, pNoveltySql),
    QueryDef.sql("p_kmeans", pKmeans, pKmeansSql),
    QueryDef.sql("p_cluster_purity", pClusterPurity, pClusterPuritySql),
    QueryDef.sql("p_pq_codes", pPqCodes, pPqCodesSql),
    QueryDef.sql("p_knn_pq", pKnnPq, pKnnPqSql),
    QueryDef.sql("p_semdedup", pSemDedup, pSemDedupSql),
    QueryDef.sql("p_embed_outliers", pEmbedOutliers, pEmbedOutliersSql),
    QueryDef.sql("p_label_margin", pLabelMargin, pLabelMarginSql),
    QueryDef.sql("p_quantize", pQuantize, pQuantizeSql),
    QueryDef.sql("p_knn_brute", pKnnBrute, pKnnBruteSql),
    QueryDef.sql("s_knn", sKnn, sKnnSql),
    QueryDef.sql("p_hard_negatives", pHardNegatives, pHardNegativesSql),
    QueryDef.rowsOnly("p_knn_lsh", pKnnLsh),
    QueryDef.rowsOnly("p_knn_ivf", pKnnIvf),
    QueryDef.rowsOnly("p_knn_ivfpq", pKnnIvfPq),
    QueryDef.rowsOnly("p_knn_ivfpq_loaded", pKnnIvfPqLoaded),
    QueryDef.sql("p_dim_curve", pDimCurve, pDimCurveSql),
    QueryDef.sql("p_mutual_knn", pMutualKnn, pMutualKnnSql),
    QueryDef.sql("p_dbscan", pDbscan, pDbscanSql),
    QueryDef.sql("p_dbscan_incr", pDbscanIncr, pDbscanIncrSql),
    QueryDef.sql("s_dbscan_incr", sDbscanIncr, sDbscanIncrSql),
    QueryDef.rowsOnly("p_rerank_eval", pRerankEval),
    QueryDef.sql("p_lang_id", pLangId, pLangIdSql),
    QueryDef.sql("p_quality_score", pQualityScore, pQualityScoreSql),
    QueryDef.sql("p_quality_norm", pQualityNorm, pQualityNormSql),
    QueryDef.sql("p_token_count", pTokenCount, pTokenCountSql),
    QueryDef.sql("p_fingerprint", pFingerprint, pFingerprintSql),
    QueryDef.sql("p_media_meta", pMediaMeta, pMediaMetaSql),
    QueryDef.sql("p_media_frames", pMediaFrames, pMediaFramesSql),
    QueryDef.sql("p_media_resize", pMediaResize, pMediaResizeSql))
}
