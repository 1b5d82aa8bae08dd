package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** Similarity search over the `embeddings` table (`Array[Float]`,
  * 64-dim): brute-force cosine top-k as the exact baseline, an
  * LSH-bucketed (sign-signature) variant as the scale path, and
  * banded-LSH cosine near-duplicate pair detection.
  *
  * The dot product is the custom codegen'd Catalyst expression
  * `graft.functions.DotProduct` (the interpreted `aggregate(zip_with)`
  * composition is ~50× slower over O(n²) pairs); vector norms are
  * computed once per vector *before* any pair join, never per pair.
  * Vectors are cast to array<double> first so Spark and the DuckDB
  * oracle accumulate identically.
  *
  * Scale notes (100 TB): brute force is O(n²·d) — correct baseline,
  * only viable per-bucket. Everything else generates candidates from
  * sign-signature equi-joins, never an all-pairs non-equi join: the
  * bucket/band key is a shuffle key, skewed buckets split via
  * AQE/salting, and at scale the signature width r is tuned so buckets
  * hold ~thousands of vectors. The normed vector table is persisted
  * because every query here reads it from 2–3 join sides; at 100 TB
  * the same role is played by writing the (id, vec, norm, signature)
  * projection once and letting each side scan that compact table —
  * never by recomputing norms per pair.
  */
object Similarity {

  /** (vec_id, v: array<double>, label, norm) — norms precomputed once
    * and persisted: every caller feeds this table to both sides of a
    * self-join, and the cache turns 2–3 parquet scans + norm passes
    * into one. */
  private def vecs(spark: SparkSession, dir: String): DataFrame =
    vecsOf(spark, Tables.embeddings(spark, dir))

  /** Same derivation over an EXPLICIT embeddings-format table
    * (vec_id, embedding, label) — the seam the incremental ANN index
    * (`pipelines.AnnIndex`) feeds corpus slices through. */
  private[graft] def vecsOf(spark: SparkSession, emb: DataFrame): DataFrame = {
    val v = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
    v.withColumn("norm", sqrt(VectorFunctions.dot(spark, col("v"), col("v"))))
  }

  /** Brute-force cosine top-k: for each query vector (vec_id < 10 to
    * bound output), the k=3 nearest neighbors over all vectors.
    * Ranked on round(cos, 6) with neighbor-id tiebreak so ordering is
    * engine-deterministic. Output: vec_id, nbr_id, cos, rank. */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val base = vecs(spark, dir).persist()
    base.count() // materialize before both join sides fan out
    val q = base.where(col("vec_id") < 10)
      .select(col("vec_id"), col("v"), col("norm"))
    val c = base
      .select(col("vec_id").as("nbr_id"), col("v").as("w"), col("norm").as("nbr_norm"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
    c.join(broadcast(q), col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", round(d(col("v"), col("w")) / (col("norm") * col("nbr_norm")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("vec_id"), col("nbr_id"), col("cos"), col("rank").cast("bigint").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** Maximal-marginal-relevance diversified top-3 (Carbonell &
    * Goldstein, SIGIR'98): per query, candidates are the exact
    * cosine top-10; the answer set is grown GREEDILY, each step
    * taking argmax of  λ·rel − (1−λ)·max sim(candidate, picked)
    * with λ = 0.5 (max over the empty picked set = 0, so step 1 is
    * the plain relevance argmax) — redundancy among near-duplicate
    * candidates is charged against relevance, the standard
    * diversified-retrieval posture for RAG context assembly. All
    * relevances and candidate-pair similarities are 6-dp cosines
    * with node-id tie order, so the greedy trace is
    * engine-deterministic; the 3 steps unroll (the fixed-iteration
    * discipline every other iterative query here uses).
    *
    * Scale shape: candidates and their 10×10 pair sims are
    * Q-bounded (Q×10 / Q×90 rows); the only corpus-sized work is
    * the candidate scan itself — the same cost envelope as
    * [[bruteForceTopK]], and a production deployment swaps that
    * stage for any index path (the greedy tail is index-agnostic).
    * Output: vec_id, nbr_id, rel, mmr, rank. */
  def mmrSearch(spark: SparkSession, dir: String): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val base = vecs(spark, dir).persist()
    base.count() // materialize before the candidate + vector-fetch scans
    val q = base.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val wr = Window.partitionBy("qid").orderBy(col("rel").desc, col("node"))
    // candidate stage (the only corpus-sized work): THIN columns through
    // the ranking window, vectors re-attached to the Q×10 winners after
    val cand = base
      .select(col("vec_id").as("node"), col("v").as("nv"), col("norm").as("nnorm"))
      .join(broadcast(q), col("node") =!= col("qid"))
      .select(col("qid"), col("node"),
        round(d(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6).as("rel"))
      .withColumn("rn", row_number().over(wr))
      .where(col("rn") <= 10)
      .select("qid", "node", "rel")
    // Q-bounded greedy tail, all map-side: candidates (with vectors)
    // grouped per query as a node-sorted array, then the 3 greedy steps
    // run as ONE projection of nested HOF aggregates — argmax scans the
    // array with strictly-greater replacement, so equal-mmr ties keep
    // the LOWEST node exactly like the former (mmr DESC, node) window;
    // pair similarities are computed inline against the picked set with
    // the same round(dot/(norm·norm), 6) as the former sims table (the
    // unrolled join/window cascade cost ~15 Q-bounded shuffle stages
    // and a 330 KB logical plan — pure fixed overhead at any scale).
    val grouped = cand
      .join(base.select(col("vec_id").as("node"), col("v"), col("norm")), "node")
      .groupBy("qid")
      .agg(sort_array(collect_list(named_struct(
        lit("node"), col("node"), lit("rel"), col("rel"),
        lit("v"), col("v"), lit("nm"), col("norm")))).as("cs"))
    VectorFunctions.register(spark) // graft_dot inside the HOF lambdas
    // max picked-set similarity, as an order-free fold (≡ the former
    // MAX(sim) aggregate); NULL over the empty picked set → step 1's
    // 0.5·rel − 0.5·0 = 0.5·rel exactly (x − 0.0 is the IEEE identity)
    val maxSim =
      """aggregate(ps, CAST(NULL AS DOUBLE), (m, p) ->
        |  IF(m IS NULL OR round(graft_dot(c.v, p.v) / (c.nm * p.nm), 6) > m,
        |     round(graft_dot(c.v, p.v) / (c.nm * p.nm), 6), m))""".stripMargin
    val score = s"round(0.5D * c.rel - 0.5D * coalesce($maxSim, 0.0D), 6)"
    val picks =
      s"""aggregate(sequence(1, 3),
         |  CAST(array() AS ARRAY<STRUCT<node: BIGINT, rel: DOUBLE,
         |                               v: ARRAY<DOUBLE>, nm: DOUBLE, mmr: DOUBLE>>),
         |  (ps, step) -> array_append(ps,
         |    aggregate(
         |      filter(cs, c -> !array_contains(transform(ps, p -> p.node), c.node)),
         |      named_struct('node', CAST(NULL AS BIGINT), 'rel', CAST(NULL AS DOUBLE),
         |                   'v', CAST(NULL AS ARRAY<DOUBLE>), 'nm', CAST(NULL AS DOUBLE),
         |                   'mmr', CAST(NULL AS DOUBLE)),
         |      (b, c) -> IF(b.node IS NULL OR $score > b.mmr,
         |        named_struct('node', c.node, 'rel', c.rel, 'v', c.v, 'nm', c.nm,
         |                     'mmr', $score),
         |        b))))""".stripMargin
    grouped
      .select(col("qid"), explode(expr(
        s"""filter(transform($picks, (p, i) ->
           |         named_struct('pk', p, 'rank', CAST(i + 1 AS BIGINT))),
           |       x -> x.pk.node IS NOT NULL)""".stripMargin)).as("e"))
      .select(col("qid").as("vec_id"), col("e.pk.node").as("nbr_id"),
        col("e.pk.rel").as("rel"), col("e.pk.mmr").as("mmr"), col("e.rank").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** LSH-bucketed ANN: bucket = sign signature of the first 8
    * dimensions (8 fixed hyperplanes); nearest neighbor searched only
    * within the bucket. Output: vec_id, bucket, nbr_id, cos. */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val sig = (0 until 8).map(i => when(element_at(col("v"), i + 1) >= 0, "1").otherwise("0"))
    val bucketed = vecs(spark, dir).withColumn("bucket", concat(sig: _*)).persist()
    bucketed.count() // materialize before both join sides fan out
    val a = bucketed.select(col("vec_id"), col("bucket"), col("v"), col("norm"))
    val b = bucketed.select(col("vec_id").as("nbr_id"), col("bucket"),
      col("v").as("w"), col("norm").as("nbr_norm"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
    a.join(b, Seq("bucket"))
      .where(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", round(d(col("v"), col("w")) / (col("norm") * col("nbr_norm")), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("vec_id", "bucket", "nbr_id", "cos")
      .orderBy("vec_id")
  }

  /** ANN recall audit: does the LSH index's answer appear in the
    * exact brute-force top-3? The measurement that justifies (or
    * rejects) the bucketed index — the same audit discipline as
    * `rpAudit`, here for the retrieval structure instead of the
    * representation. Composes the two existing operators (bounded
    * query side); `true_rank` is the LSH pick's position in the exact
    * ranking, null when it missed the top-3 entirely.
    * Output: vec_id, nbr_id, in_top3, true_rank. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val bf = bruteForceTopK(spark, dir).select(col("vec_id"), col("nbr_id"), col("rank"))
    val lsh = lshTopK(spark, dir).where(col("vec_id") < 10)
      .select(col("vec_id"), col("nbr_id"))
    lsh.join(bf, Seq("vec_id", "nbr_id"), "left")
      .select(col("vec_id"), col("nbr_id"),
        col("rank").isNotNull.as("in_top3"),
        col("rank").as("true_rank"))
      .orderBy("vec_id")
  }

  /** Embedding-cosine near-duplicate pairs, banded sign-LSH: 4 bands
    * of 8 hyperplane signs (dims 1–8, 9–16, 17–24, 25–32); a pair is a
    * candidate iff it agrees on ALL 8 signs of at least one band, and
    * cosine >= 0.9 is verified on candidates only. The candidate join
    * is an equi-join on (band, key) — never the O(n²) `doc_a < doc_b`
    * cartesian; the DuckDB oracle uses the identical construction so
    * the LSH-approximate semantics match bit-for-bit at any SF.
    * Output: doc_a, doc_b, cos. */
  def cosineNearDup(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir).persist()
    v.count() // materialize before the band + three join sides fan out
    cosineNearDupFrom(spark, v)
  }

  /** `cosineNearDup` at the LOOSE threshold (0.35) — the testdata's
    * embedding space holds no pair above 0.9, so the production-
    * threshold query hash-matches only the 0-row case; this variant
    * surfaces the threshold as a real parameter and gives the
    * cross-engine gate a NON-EMPTY result to prove (19 pairs at
    * sf0.01). Identical plan — the threshold is a post-candidate
    * filter, so candidate generation and cost are unchanged. */
  def cosineNearDupLoose(spark: SparkSession, dir: String): DataFrame =
    loosePairsArt(spark, dir).orderBy("doc_a", "doc_b")

  /** The loose-threshold verified pair table (doc_a, doc_b, cos),
    * landed once per corpus version — the vector analogue of the
    * capped-band artifact. Four consumers read it (`sim_neardup_loose`,
    * `sim_clusters_loose`, `sim_dbscan`, `sim_semdedup`) instead of
    * re-running band generation + cosine verification each. */
  private[graft] def loosePairsArt(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "sim_loose_pairs", dir) {
      val v = vecs(spark, dir).persist()
      v.count() // materialize before the band + verify sides fan out
      (cosineNearDupFrom(spark, v, threshold = LooseThreshold),
        () => { v.unpersist(); () })
    }

  /** The loose-variant threshold, shared with the oracle so both
    * engines filter identically. */
  private[graft] val LooseThreshold = 0.35

  /** Core over an explicit (vec_id, v, norm) table with the cosine
    * threshold as a parameter — split out so tests can drive
    * constructed near-duplicate vectors and the loose-threshold
    * variants give the oracle a non-empty result. */
  private[graft] def cosineNearDupFrom(spark: SparkSession, v: DataFrame,
                                       threshold: Double = 0.9): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    def sig(b: Int) = concat((0 until 8).map(i =>
      when(element_at(col("v"), 8 * b + i + 1) >= 0, "1").otherwise("0")): _*)
    val bands = v.select(col("vec_id"),
      posexplode(array((0 until 4).map(sig): _*)).as(Seq("b", "key")))
    val cand = bands.select(col("vec_id").as("doc_a"), col("b"), col("key"))
      .join(bands.select(col("vec_id").as("doc_b"), col("b"), col("key")), Seq("b", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(v.select(col("vec_id").as("doc_a"), col("v"), col("norm")), "doc_a")
      .join(v.select(col("vec_id").as("doc_b"), col("v").as("w"), col("norm").as("nbr_norm")), "doc_b")
      .withColumn("cos", round(d(col("v"), col("w")) / (col("norm") * col("nbr_norm")), 6))
      .where(col("cos") >= threshold)
      .select("doc_a", "doc_b", "cos")
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup threshold sweep: CUMULATIVE pair counts at each cosine
    * threshold from 0.30 to 0.90 — the tuning curve that picks a
    * production threshold (how many pairs a given cut would act on).
    * One candidate pass at the loosest threshold; the 13-row
    * threshold dim then non-equi-joins as a bounded broadcast (the
    * `ev_range_join` pattern), so zero-count thresholds still appear.
    * Output: threshold, n_pairs. */
  def nearDupSweep(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir).persist()
    v.count()
    val pairs = cosineNearDupFrom(spark, v, threshold = 0.30).select("cos")
    val thresholds = spark.sql(
      "SELECT explode(array(0.30D, 0.35D, 0.40D, 0.45D, 0.50D, 0.55D, 0.60D, " +
        "0.65D, 0.70D, 0.75D, 0.80D, 0.85D, 0.90D)) AS threshold")
    broadcast(thresholds)
      .join(pairs, col("cos") >= col("threshold"), "left")
      .groupBy("threshold")
      .agg(count(col("cos")).as("n_pairs"))
      .orderBy("threshold")
  }

  /** Near-dup vector clusters: connected components + min-id keeper
    * election over the cosine-verified near-dup pairs — the embedding
    * analogue of `Dedup.clusters`, sharing the identical iterative
    * fixpoint (`Dedup.clustersFromPairs`). The sf testdata holds no
    * pair above the 0.9 threshold, so the gate proves the 0-row case;
    * constructed-vector unit tests prove the clustering.
    * Output (vectors in >= 1 pair): doc_id, cluster_id, keep. */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir).persist()
    v.count()
    // the loop materializes through the pair list, so the returned
    // plan reads only its final-round parquet — the vector cache is
    // dead here and is released inline (graft.CachePolicy exception)
    val cl = Dedup.clustersFromPairs(cosineNearDupFrom(spark, v).select("doc_a", "doc_b"))
    v.unpersist()
    cl
  }

  /** `nearDupClusters` at the loose threshold — non-empty at the gate
    * SFs, so the cross-engine check proves actual cluster formation
    * over embeddings, not just the empty fixpoint. */
  def nearDupClustersLoose(spark: SparkSession, dir: String): DataFrame =
    Dedup.clustersFromPairs(loosePairsArt(spark, dir).select("doc_a", "doc_b"))

  /** Product quantization (Jégou, Douze, Schmid, TPAMI 2011): the
    * 64-dim vectors split into M=4 contiguous 16-dim subspaces, each
    * with its own k=8 codebook trained by the SAME deterministic
    * unrolled Lloyd's discipline as `kmeans` (seeds = subvectors of
    * the 8 lowest vec_ids, 3 assigns / 2 updates, argmin on
    * 6-dp-rounded squared L2 with cid tiebreak) — so a vector
    * compresses to 4 codes (12 bits here; 8 bits/subspace at
    * production k=256) and reconstructs as the concatenation of its
    * subspace centroids. Reported per vector: the 4 codes + L2
    * reconstruction error against the final codebook — the
    * compression-quality table an ANN index build publishes.
    *
    * Scale: training aggregates group by (sub, cid, pos) — 4·8·16
    * cells regardless of corpus size; assignment is one broadcast-
    * sized codebook join over the exploded scan per iteration. The
    * M subspaces train in ONE plan (sub is just another grouping
    * key), not M sequential jobs. Output: vec_id, code0..code3,
    * recon_err. */
  def pq(spark: SparkSession, dir: String): DataFrame = {
    val e = pqExplode(spark, dir)
    val asg = pqCodesArt(spark, dir)
    val cent = pqCodebookArt(spark, dir)
    val err = asg.join(e, Seq("vec_id", "sub"))
      .join(cent, Seq("sub", "cid", "pos"))
      .groupBy("vec_id")
      .agg(round(sqrt(sum((col("x") - col("cx")) * (col("x") - col("cx")))), 6).as("recon_err"))
    asg.groupBy("vec_id")
      .agg(
        max(when(col("sub") === 0, col("cid"))).as("code0"),
        max(when(col("sub") === 1, col("cid"))).as("code1"),
        max(when(col("sub") === 2, col("cid"))).as("code2"),
        max(when(col("sub") === 3, col("cid"))).as("code3"))
      .join(err, "vec_id")
      .select("vec_id", "code0", "code1", "code2", "code3", "recon_err")
      .orderBy("vec_id")
  }

  /** The exploded PQ view (vec_id, sub, pos, x) — a projection over
    * the vector scan, cheap enough to re-derive per consumer. */
  private def pqExplode(spark: SparkSession, dir: String): DataFrame =
    pqExplodeAt(spark, dir, 16)

  private def pqExplodeAt(spark: SparkSession, dir: String, subDim: Int): DataFrame =
    pqExplodeOf(Tables.embeddings(spark, dir), subDim)

  /** The exploded PQ view over an EXPLICIT embeddings-format table —
    * the seam the incrementally-maintained PQ chain
    * (`pipelines.PqIndex`) feeds corpus slices through. */
  private[graft] def pqExplodeOf(emb: DataFrame, subDim: Int): DataFrame =
    emb
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")).as(Seq("p", "x")))
      .select(col("vec_id"), expr(s"p div $subDim").as("sub"), expr(s"p % $subDim").as("pos"), col("x"))

  /** One PQ assignment pass: 6-dp squared-L2 argmin with cid
    * tiebreak, as a min(struct(dist, cid)) aggregate (one aggregate
    * instead of a row_number sort-exchange). */
  private[graft] def pqAssign(e: DataFrame, cent: DataFrame): DataFrame =
    e.join(cent, Seq("sub", "pos"))
      .groupBy("vec_id", "sub", "cid")
      .agg(round(sum(col("x") * col("x")) - lit(2) * sum(col("x") * col("cx"))
        + sum(col("cx") * col("cx")), 6).as("dist"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("cid"))

  /** The trained codebook (sub, cid, pos, cx) as a landed artifact —
    * the 2-update Lloyd's chain runs once per corpus version; `pq`,
    * `pqTopK`, and the codes artifact all read the parquet. Only the
    * exploded view is cached during the build (the iteration tree
    * references it ~5×; every other subtree is referenced once, so
    * the single artifact-write action materializes the chain with no
    * sibling race). */
  private def pqCodebookArt(spark: SparkSession, dir: String): DataFrame =
    pqCodebookArtAt(spark, dir, "pq_codebook", 16, 8)

  private def pqCodebookArtAt(spark: SparkSession, dir: String,
      kind: String, subDim: Int, k: Int): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, kind, dir)(
      pqTrainOf(Tables.embeddings(spark, dir), subDim, k))

  /** The deterministic 2-update Lloyd's codebook chain over an
    * EXPLICIT embeddings-format table (seeds = the k lowest vec_ids
    * per subspace — engine-reproducible). Returns the (sub, cid, pos,
    * cx) codebook plus the release for the cached exploded view the
    * iteration tree references ~5×. */
  private[graft] def pqTrainOf(emb: DataFrame, subDim: Int,
      k: Int): (DataFrame, () => Unit) = {
    val e = pqExplodeOf(emb, subDim).persist()
    e.count()
    // seed rows are the k LOWEST ids (not `< k`: explicit corpus
    // slices — the PQ chain's rebuild path — renumber nothing), with
    // cid REMAPPED dense 0..k−1 so every downstream (sub·k + cid)
    // packing is collision-free on any id space; on 0-based corpora
    // this is bit-identical to the historical cid = vec_id seeding
    val seedIds = e.select("vec_id").distinct().orderBy("vec_id").limit(k)
      .withColumn("cid", row_number().over(
        Window.orderBy("vec_id")).cast("bigint") - 1)
    var cent = e.join(seedIds, "vec_id")
      .select(col("sub"), col("cid"), col("pos"), col("x").as("cx"))
    for (_ <- 1 to 2)
      cent = pqAssign(e, cent).join(e, Seq("vec_id", "sub"))
        .groupBy("sub", "cid", "pos").agg(avg(col("x")).as("cx"))
    (cent, () => { e.unpersist(); () })
  }

  /** The code words (vec_id, sub, cid) as a landed artifact: one
    * assignment pass of the corpus against the codebook artifact. */
  private def pqCodesArt(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.table(spark, "pq_codes", dir)(
      pqAssign(pqExplode(spark, dir), pqCodebookArt(spark, dir)))

  /** The SEARCH codebook/codes: 32 subspaces × 2 dims, k=16 — 16
    * bytes/vector (16× compression of 64-dim fp32) vs `sim_pq`'s
    * storage-oriented 4×16/k=8. The coarse codes carry ~no geometric
    * signal on this near-isotropic corpus (full-scan ADC top-3 agrees
    * with exact top-3 on only 5/30); the fine codes navigate at
    * 30/30 after exact rerank (simulated sweep over subspace configs;
    * pinned by the oracle + recall floor spec). Same deterministic
    * Lloyd's protocol, seeds = first k vectors per subspace. */
  private val PqSearchSubDim = 2
  private val PqSearchK = 16
  private[graft] def pqSearchCodebookArt(spark: SparkSession, dir: String): DataFrame =
    pqCodebookArtAt(spark, dir, "pq_codebook_s2k16", PqSearchSubDim, PqSearchK)
  /** (vec_id, cids) with the 32 code words PACKED into one
    * sub-ordered array — the contiguous per-vector layout a
    * production PQ index stores (16 bytes/vector): the walk's scoring
    * join ships each candidate row once, not once per subspace. */
  private[graft] def pqSearchCodesArt(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.table(spark, "pq_codes_s2k16", dir)(
      pqEncodePacked(pqExplodeOf(Tables.embeddings(spark, dir), PqSearchSubDim),
        pqSearchCodebookArt(spark, dir)))

  /** One assignment pass + sub-ordered packing: (vec_id, cids) — the
    * contiguous per-vector code layout. Shared by the artifact path
    * and the incrementally-maintained PQ chain (`pipelines.PqIndex`),
    * so both produce bit-identical codes for the same codebook. */
  private[graft] def pqEncodePacked(e: DataFrame, codebook: DataFrame): DataFrame =
    pqAssign(e, codebook)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid")))),
        s => s.getField("cid")).as("cids"))

  /** ADC top-k over the PQ codes (the search side of `pq`, Jégou et
    * al.'s asymmetric distance computation): each query precomputes a
    * 4×8-entry distance table ‖q_sub − c‖² against the codebook, a
    * candidate's approximate distance is the sum of its 4 code-word
    * lookups, top-3 per query by (6-dp adist, nbr_id). Flagged
    * against the EXACT squared-L2 top-3 — the recall audit an index
    * build publishes (the `annRecall` pattern). Scale: the ADC scan
    * is one (sub, cid)-keyed join of codes × distance tables —
    * n_vectors · M rows per query, the linear scan PQ exists to make
    * cheap; the exact side is the audit and rides the same sampled
    * 10-query bound as `bruteForceTopK`.
    * Output: vec_id, nbr_id, adist, in_top3, true_rank. */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = pqExplode(spark, dir)
    val asg = pqCodesArt(spark, dir)
    val cent = pqCodebookArt(spark, dir)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("sub"), col("pos"), col("x").as("qx"))
    val dt = q.join(cent, Seq("sub", "pos"))
      .groupBy("qid", "sub", "cid")
      .agg(sum((col("qx") - col("cx")) * (col("qx") - col("cx"))).as("d"))
    val adist = asg.join(dt, Seq("sub", "cid"))
      .where(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id").as("nbr_id"))
      .agg(round(sum(col("d")), 6).as("adist"))
    val wA = Window.partitionBy("qid").orderBy(col("adist"), col("nbr_id"))
    val approx = adist.withColumn("rank", row_number().over(wA)).where(col("rank") <= 3)
    val ex = q.join(e.select(col("vec_id").as("nid"), col("sub"), col("pos"), col("x")),
        Seq("sub", "pos"))
      .where(col("qid") =!= col("nid"))
      .groupBy("qid", "nid")
      .agg(round(sum((col("qx") - col("x")) * (col("qx") - col("x"))), 6).as("d2"))
    val wE = Window.partitionBy("qid").orderBy(col("d2"), col("nid"))
    val exact = ex.withColumn("true_rank", row_number().over(wE)).where(col("true_rank") <= 3)
      .select(col("qid"), col("nid").as("nbr_id"), col("true_rank"))
    approx.join(exact, Seq("qid", "nbr_id"), "left")
      .select(col("qid").as("vec_id"), col("nbr_id"), col("adist"),
        col("true_rank").isNotNull.as("in_top3"), col("true_rank"))
      .orderBy("vec_id", "adist", "nbr_id")
  }

  /** DBSCAN-style density clustering (Ester et al., KDD 1996) over
    * the banded sign-LSH candidate graph: eps-neighbors are candidate
    * pairs at cos ≥ `LooseThreshold`, minPts = 3 (a point plus ≥ 2
    * neighbors), core points cluster as connected components of the
    * core-core edges (shared `Dedup.clustersFromPairs` machinery,
    * min-id labels), border points attach to the min cluster_id among
    * their adjacent cores, everything else is noise. Neighborhood
    * recall is the LSH family's — banded candidates, never all-pairs;
    * exact DBSCAN's quadratic eps-scan is precisely what this engine
    * refuses to run at 100 TB, and density stays honest because the
    * band collision probability is monotone in cosine. Every
    * assignment rule is deterministic (min-id), so the oracle replays
    * the full decision. Output: doc_id, role, cluster_id (null for
    * noise). */
  def dbscan(spark: SparkSession, dir: String): DataFrame =
    dbscanOver(Tables.embeddings(spark, dir),
      loosePairsArt(spark, dir).select("doc_a", "doc_b"))

  private[graft] def dbscanFrom(spark: SparkSession, emb: DataFrame): DataFrame = {
    val v = vecsOf(spark, emb).persist()
    v.count()
    val pairs = cosineNearDupFrom(spark, v, threshold = LooseThreshold)
      .select("doc_a", "doc_b").persist()
    pairs.count()
    v.unpersist() // dead once the pair cache is materialized (CachePolicy exception)
    dbscanOver(emb, pairs)
  }

  /** The DBSCAN decision over an explicit materialized eps-pair table
    * (artifact parquet in the query path; a cached pair list in the
    * constructed-geometry tests). */
  private def dbscanOver(emb: DataFrame, pairs: DataFrame): DataFrame = {
    val adj = pairs.union(pairs.select(col("doc_b"), col("doc_a"))).toDF("id", "nbr")
    val deg = adj.groupBy("id").agg(count(lit(1)).as("degree"))
    val cores = deg.where(col("degree") >= 2).select("id")
    val coreEdges = pairs
      .join(cores.select(col("id").as("doc_a")), "doc_a")
      .join(cores.select(col("id").as("doc_b")), "doc_b")
      .select("doc_a", "doc_b")
    val comp = Dedup.clustersFromPairs(coreEdges)
      .select(col("doc_id").as("id"), col("cluster_id"))
    // cores isolated from other cores (all their neighbors are
    // borders) never enter the edge list — they root their own
    // singleton cluster, exactly DBSCAN's semantics
    val coreCl = cores.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val borderCl = adj
      .join(coreCl.select(col("id").as("nbr"), col("cluster_id")), "nbr")
      .join(cores, Seq("id"), "left_anti")
      .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))
    emb.select(col("vec_id").as("doc_id"))
      .join(coreCl.select(col("id").as("doc_id"), col("cluster_id").as("ccl")), Seq("doc_id"), "left")
      .join(borderCl.select(col("id").as("doc_id"), col("cluster_id").as("bcl")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ccl").isNotNull, "core")
          .when(col("bcl").isNotNull, "border").otherwise("noise").as("role"),
        coalesce(col("ccl"), col("bcl")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Int8 scalar quantization audit — the vector-index compression
    * pass (16→1 bytes/dim for float32 sources): per vector, symmetric
    * scale = max|x|/127, q_i = round(x_i/scale) ∈ [-127, 127], and the
    * summary a quantization job reports per vector: the scale, the
    * number of saturated dims, and the L2 reconstruction error.
    *
    * Scale: posexplode + per-vec window max + one groupBy — a single
    * vec_id-keyed shuffle, no joins against other vectors; 100 TB of
    * vectors is embarrassingly parallel. (The agg runs over exploded
    * rows rather than an `aggregate()` HOF lambda to stay on the
    * codegen path.) Zero vectors quantize to all-zero with scale 0
    * (nullif-guarded). Output: vec_id, scale, n_sat, recon_err. */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("vec_id")
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .withColumn("mx", max(abs(col("x"))).over(w))
      .withColumn("q", coalesce(round(col("x") * 127.0 / nullif(col("mx"), lit(0.0))), lit(0.0)))
      .withColumn("err", col("x") - col("q") * col("mx") / 127.0)
      .groupBy("vec_id")
      .agg(
        round(max(col("mx")) / 127.0, 6).as("scale"),
        sum(when(abs(col("q")) === 127.0, 1L).otherwise(0L)).as("n_sat"),
        round(sqrt(sum(col("err") * col("err"))), 6).as("recon_err"))
      .orderBy("vec_id")
  }

  /** (vec_id, c) SQ8 codes: one signed byte per dimension under ONE
    * global symmetric scale s = max |x| over the corpus;
    * code = clamp(floor(127·x/s + 0.5), −127, 127). floor(+0.5)
    * instead of round() because every engine evaluates the IEEE
    * multiply/divide/add/floor chain identically, while round()'s
    * half-case convention varies across engines; the all-zero-corpus
    * edge maps to code 0 through the NULLIF/COALESCE guard (same as
    * [[quantize]]). The global scale (not [[quantize]]'s per-vector
    * max) keeps integer dot products COMPARABLE across candidates. */
  private[graft] def sq8Codes(spark: SparkSession, dir: String): DataFrame =
    // a landed release artifact (like the PQ codes), not a persist():
    // both sides of the search join read the parquet, and repeated
    // calls in a long-lived session never accumulate cached RDDs.
    // NORMALIZE-THEN-QUANTIZE (round 12): codes are int8 of the
    // L2-NORMALIZED vector, so the integer dot ranks by COSINE by
    // construction — the mixture-regime harness measured the
    // raw-vector MIPS posture collapsing to 1/30 recall the moment
    // norms stop concentrating (PERF.md round 12; faiss's cosine
    // recipe is the same normalize-before-IP). The norm is the
    // engine-shared dot/sqrt discipline every cosine here uses.
    graft.ArtifactCache.table(spark, "sq8_codes", dir) {
      val emb = Tables.embeddings(spark, dir)
      val nv = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("nrm", sqrt(VectorFunctions.dot(spark, col("e"), col("e"))))
        .select(col("vec_id"),
          transform(col("e"), x => x / nullif(col("nrm"), lit(0.0))).as("e"))
      val s = nv.agg(max(array_max(transform(col("e"), x => abs(x)))).as("s"))
      nv.crossJoin(broadcast(s))
        .select(col("vec_id"),
          transform(col("e"),
            x => greatest(lit(-127), least(lit(127), coalesce(
              floor(x * lit(127.0) / nullif(col("s"), lit(0.0)) + lit(0.5)).cast("int"),
              lit(0))))).as("c"))
    }

  /** Scalar-quantized (SQ8) similarity search — the third memory
    * posture next to PQ ([[pqSearch]], 16 B/vector) and the
    * full-precision walk (256 B/vector): 64 B/vector ([[sq8Codes]]),
    * scored by EXACT int64 dot products, ranked (idot DESC, nbr_id).
    * After quantization the whole scoring path is integer arithmetic,
    * so ranking is bit-stable on every engine with no 6-dp rounding
    * discipline at all — the one retrieval operator here whose
    * cross-engine determinism is free. Codes quantize the
    * L2-NORMALIZED vector, so the integer dot ranks by COSINE by
    * construction (faiss's cosine posture: normalize, then
    * `METRIC_INNER_PRODUCT`): the round-12 mixture harness measured
    * the raw-vector MIPS variant collapsing (11/30 → 1/30 at ×10) the
    * moment norms stop concentrating — normalize-then-quantize
    * removes the precondition entirely. Audited against the exact
    * top-3 by [[sq8Recall]], the same discipline as every other
    * index here. At 100 TB the point is scan BANDWIDTH: the candidate
    * scan reads a quarter of fp32, and the integer
    * multiply-accumulate is the SIMD-friendliest kernel there is;
    * the query side stays a bounded broadcast like [[bruteForceTopK]].
    * DEFAULT-CHOICE NOTE: this single-stage scan is the measurement
    * baseline, not the serving form — int8 resolution blurs the
    * ranking tail (21/30 at ×100 on the clustered mixture, PERF.md
    * round 12); any serving gate or new SQ8 path should compose
    * [[sq8Rerank]], the two-stage overfetch + exact-rerank form
    * (30/30 at ×100 for 32 exact dots per query).
    * Output: vec_id, nbr_id, idot, rank. */
  def sq8Search(spark: SparkSession, dir: String): DataFrame = {
    val codes = sq8Codes(spark, dir) // landed artifact — both sides scan parquet
    val q = codes.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("c").as("qc"))
    val w = Window.partitionBy("qid").orderBy(col("idot").desc, col("nbr_id"))
    codes.select(col("vec_id").as("nbr_id"), col("c"))
      .join(broadcast(q), col("nbr_id") =!= col("qid"))
      .withColumn("idot", aggregate(
        zip_with(col("qc"), col("c"), (a, b) => a.cast("bigint") * b),
        lit(0L), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("qid").as("vec_id"), col("nbr_id"), col("idot"),
        col("rank").cast("bigint").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** Two-stage SQ8 search — the production form of the quantized
    * scan: the int8 scan OVERFETCHES the integer-dot top-32 per query
    * (the bandwidth-bound stage, identical cost shape to
    * [[sq8Search]]), then ONLY those 32 candidates are re-scored with
    * exact fp32 cosine and the top-3 re-ranked (6-dp, id tiebreak).
    * This is faiss's two-stage scan posture (quantized coarse scan +
    * exact refine): the ×100 mixture measured the single-stage int8
    * top-3 at 21/30 — int8 resolution blurs the tail of the ranking —
    * while the 32-candidate exact rerank recovers the exact answer
    * whenever the true top-3 survive into the quantized top-32, at
    * 32 exact dots per query. Output: vec_id, nbr_id, cos, rank. */
  def sq8Rerank(spark: SparkSession, dir: String): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val codes = sq8Codes(spark, dir)
    val q = codes.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("c").as("qc"))
    val wq = Window.partitionBy("qid").orderBy(col("idot").desc, col("nbr_id"))
    val cand = codes.select(col("vec_id").as("nbr_id"), col("c"))
      .join(broadcast(q), col("nbr_id") =!= col("qid"))
      .withColumn("idot", aggregate(
        zip_with(col("qc"), col("c"), (a, b) => a.cast("bigint") * b),
        lit(0L), (acc, x) => acc + x))
      .withColumn("crn", row_number().over(wq))
      .where(col("crn") <= 32)
      .select("qid", "nbr_id")
    val v = vecs(spark, dir).select(col("vec_id"), col("v"), col("norm"))
    val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("nbr_id"))
    cand
      .join(v.select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn")), "qid")
      .join(v.select(col("vec_id").as("nbr_id"), col("v").as("nv"), col("norm").as("nn")), "nbr_id")
      .withColumn("cos", round(d(col("qv"), col("nv")) / (col("qn") * col("nn")), 6))
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= 3)
      .select(col("qid").as("vec_id"), col("nbr_id"), col("cos"),
        col("rank").cast("bigint").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** SQ8 recall audit: the integer-dot top-3 LEFT-joined against the
    * exact cosine top-3 — [[annRecall]]'s discipline for the
    * quantized scan. Output: vec_id, nbr_id, in_top3, true_rank. */
  def sq8Recall(spark: SparkSession, dir: String): DataFrame = {
    val bf = bruteForceTopK(spark, dir).select(col("vec_id"), col("nbr_id"), col("rank"))
    sq8Search(spark, dir).select(col("vec_id"), col("nbr_id"))
      .join(bf, Seq("vec_id", "nbr_id"), "left")
      .select(col("vec_id"), col("nbr_id"),
        col("rank").isNotNull.as("in_top3"),
        col("rank").as("true_rank"))
      .orderBy("vec_id", "nbr_id")
  }

  /** (label, centroid: array<double>) — per-label mean vector, built
    * by posexplode + two groupBys (never a collect). The array is
    * reassembled in position order via sort-by-struct. */
  private def centroidTable(spark: SparkSession, v: DataFrame): DataFrame =
    v.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg(col("x")).as("cx"))
      .groupBy("label").agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("label"), expr("transform(pairs, p -> p.cx)").as("centroid"))

  /** Per-label centroid + the vector closest to its centroid — the
    * k-means-assignment-shaped aggregation.
    * Output: label, n, medoid_id, medoid_cos. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val v = vecs(spark, dir).persist()
    v.count() // materialize before the centroid + join + count consumers fan out
    val centroids = centroidTable(spark, v)
    val w = Window.partitionBy("label").orderBy(col("cos").desc, col("vec_id"))
    v.join(broadcast(centroids), "label")
      .withColumn("cos", round(
        d(col("v"), col("centroid")) / (col("norm") * sqrt(d(col("centroid"), col("centroid")))), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("label"), col("vec_id").as("medoid_id"), col("cos").as("medoid_cos"))
      .join(v.groupBy("label").agg(count(lit(1)).as("n")), "label")
      .select("label", "n", "medoid_id", "medoid_cos")
      .orderBy("label")
  }

  /** Lloyd's k-means over the embedding column: k=8 centroids seeded
    * deterministically from the 8 lowest vec_ids, 2 fixed
    * assign/update iterations, then the final assignment — fixed
    * iteration count (not a convergence test) so the result is
    * engine-deterministic and the DuckDB oracle can unroll the exact
    * same computation as CTEs. Assignment is argmin of squared L2
    * distance, computed as dot(v,v) − 2·dot(v,c) + dot(c,c) through
    * the codegen'd dot product, ROUNDED to 6 dp before the argmin with
    * a centroid-id tiebreak — the rounding is what pins the argmin
    * across engines (raw float distances differ at ~1e-13 ulp;
    * distances are O(100)-magnitude so 6 dp is far above that).
    * Scale: centroids are a k-row broadcast, assignment is map-side
    * over the vector scan, the update is one (cid, pos)-keyed partial
    * agg — the canonical distributed k-means iteration; 100 TB of
    * vectors is k broadcast joins + k tiny aggregates per iteration.
    * Output: vec_id, cluster, dist. */
  def kmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansArt(spark, dir).orderBy("vec_id")

  /** The k-means ASSIGNMENT as a landed per-corpus-version artifact —
    * a clustering is trained once per release and READ by every
    * downstream pass (the assignment readout, semantic dedup's
    * same-cluster gate, any diversity/mixture audit), exactly the
    * `knn_index`/`sim_loose_pairs` posture; re-running Lloyd's inside
    * each consumer is what no release pipeline does. Build cost stays
    * visible in the bench's artifact ledger. */
  private[graft] def kmeansArt(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "sim_kmeans_asg", dir) {
      val v = vecs(spark, dir).persist()
      v.count() // materialize before the per-iteration assignment scans fan out
      (kmeansFrom(spark, v), () => { v.unpersist(); () })
    }

  /** Core over an explicit (vec_id, v) table with parameterized k and
    * iteration count — split out so tests can drive constructed
    * seed/satellite geometries and assert the assignment. */
  private[graft] def kmeansFrom(spark: SparkSession, v: DataFrame,
                                k: Int = 8, iters: Int = 2): DataFrame = {
    var cent = v.where(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("c"))
    for (_ <- 1 to iters) {
      val asg = kmeansAssign(spark, v, cent)
      cent = centroidTable(spark,
          asg.join(v, "vec_id").select(col("cid").as("label"), col("v")))
        .select(col("label").as("cid"), col("centroid").as("c"))
    }
    kmeansAssign(spark, v, cent)
      .select(col("vec_id"), col("cid").as("cluster"), col("dist"))
      .orderBy("vec_id")
  }

  /** One k-means assignment pass: nearest centroid per vector by
    * 6dp-rounded squared L2, centroid-id tiebreak. The k-row centroid
    * table is broadcast; the per-vector crossJoin is the intentional
    * bounded nested loop (k tiny by design, same as `ivfTopKFrom`'s
    * probe). */
  private def kmeansAssign(spark: SparkSession, v: DataFrame, cent: DataFrame): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
    v.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(cent))
      .withColumn("dist",
        round(d(col("v"), col("v")) - lit(2.0) * d(col("v"), col("c")) + d(col("c"), col("c")), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("dist"))
  }

  /** k-nearest-neighbor graph over ALL vectors — the base-layer
    * neighbor graph every graph-ANN index (HNSW/NSG-style) builds on —
    * with candidates bounded to the vector's own IVF cell (its label
    * cluster), so the self-join is per-cell, never all-pairs: cost is
    * O(Σ cell²) with the cell as shuffle key, the same containment
    * argument as `lshTopK`. Contrast with `bruteForceTopK`, which is
    * exact but bounds the QUERY side instead; here every vector gets
    * its k=3 in-cell neighbors.
    *
    * CELL-WIDTH CAP (the 10× lesson, PERF.md round 6): with a FIXED
    * cell count the per-cell self-join is quadratic in corpus growth —
    * measured 16× cost for 10× vectors. Real IVF re-tunes nlist as n
    * grows; this emulates that deterministically: a cell wider than
    * 500 splits on 3 hyperplane-sign bits (8 sub-cells), wider than
    * 4000 on 6 (64 sub-cells), wider than 32000 on 9 (512 sub-cells) —
    * each tier 8× deeper at 8× the width, so expected sub-cell width
    * stays O(500) up to ~256k-row labels; beyond that the ladder needs
    * another rung (3 more sign bits per 8× label growth, mirrored in
    * the oracle — the pattern, not a hard bound). The gate SFs
    * (cells ≤ 200) are untouched by all tiers. The DuckDB oracle
    * carries the identical width-tiered split, so the (slightly
    * coarser at huge cells) neighbor semantics match bit-for-bit at
    * any SF — the same proven-in-the-oracle cap pattern as the LSH
    * bucket cap in `Dedup`. Output: vec_id, nbr_id, cos, rank.
    *
    * Every consumer reads the materialized parquet index (below), so
    * the cell cache is always released eagerly right after the index
    * lands — no consumer holds it. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraphShared(spark, dir).orderBy("vec_id", "rank")

  /** Navigable-graph degree: 16, the HNSW-M-for-high-dim guidance.
    * Measured on the testdata embeddings (near-isotropic 64-dim, the
    * hard case for graph ANN): degree 3 navigates at 4/30 recall,
    * degree 16 at 27–28/30. Shared with the oracle. */
  private[graft] val NavDegree = 16

  /** The NAVIGABLE graph artifact for `graphSearch`: a degree-16
    * undirected proximity graph built LSH-seed + NN-descent, landed
    * once per corpus version (the HNSW-index analogue as a dataflow
    * artifact).
    *
    * Why not reuse the kNN index (`knnGraphShared`)? That graph's
    * candidates are label-cell-partitioned — and on this corpus labels
    * carry NO geometry (measured: same-label mean cos 0.002 vs
    * cross-label 0.000; only 1/30 exact top-3 neighbors share the
    * query's label), so a cell-local graph is navigationally blind
    * (beam recall 1–4/30 however many hops). A navigable graph must be
    * GLOBAL and geometric:
    *
    *   1. SEED — banded sign-LSH over all 64 dims (8 bands × 8
    *      hyperplane signs); candidates are band mates. Buckets up to
    *      [[NavBucketCap]] members pair all-vs-all; wider buckets
    *      switch to ANCHOR pairing (every member vs ~[[NavAnchorRate]]
    *      deterministically drawn anchors, [[navSeedPairs]]) — the
    *      skew guard that keeps the seed linear WITHOUT orphaning
    *      dense regions. (The previous drop-the-bucket rule left
    *      every member of an all-bands-oversized region with ZERO
    *      seed candidates, and NN-descent can never recover a node
    *      whose neighborhood is empty — its candidates are drawn
    *      from that neighborhood. Measured on the planted-mixture
    *      corpus at 50k: 15,696/50,000 seed-isolated nodes, walk
    *      recall 22/30 with drop vs 0 isolated, 30/30 with anchors.)
    *      Keep the top-16 per node by 6-dp cosine.
    *   2. REFINE ×2 — NN-descent (Dong et al., WWW'11): each round,
    *      a node's candidates are its undirected neighborhood plus
    *      that neighborhood's undirected neighborhood (≤ 2·deg +
    *      (2·deg)² rows per node — bounded fan-out, never all-pairs),
    *      re-ranked to top-16. Measured edge recall vs the exact
    *      16-NN graph: 0.13 (seed) → 0.43 → 0.85.
    *   3. SYMMETRIZE — publish E ∪ reverse(E): reverse links are what
    *      let the beam enter a neighborhood its directed top-16
    *      doesn't point into (HNSW keeps them for the same reason).
    *
    * Every step is an equi-join (band key, then node id) + a
    * per-node window top-k — each round shuffles O(deg²·n) rows on
    * the node key, so the build is linear in corpus size with a
    * constant governed by the degree, and AQE handles residual
    * bucket skew. Output: node, nbr_id (undirected edge list). */
  private[graft] def navGraphShared(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "sim_nav_graph", dir) {
      val v = vecs(spark, dir).persist()
      v.count() // materialize before the band + scoring sides fan out
      val (e, release) = navGraphFrom(spark, v)
      (e, () => { release(); v.unpersist(); () })
    }

  /** Seed-bucket all-pairs cap, shared with the oracle: buckets this
    * wide or narrower pair every member with every member; wider ones
    * switch to anchor pairing ([[navSeedPairs]]). */
  private[graft] val NavBucketCap = 64

  /** Expected anchors per over-cap bucket ([[navSeedPairs]]). */
  private[graft] val NavAnchorRate = 16

  /** Seed-band signature width for an n-vector corpus: 8 bits at the
    * driver scales, widening (to at most 16) until the EXPECTED
    * bucket n/2^bits is ≤ 8 — the IVF re-tune ladder's logic
    * ([[bitsFor]]) applied to the nav seed. Fixed 8-bit bands put
    * EVERY bucket over [[NavBucketCap]] on a ×100 corpus and the cap
    * evicted the whole seed (measured: empty graph at 200k vectors,
    * PERF.md round 11). Deterministic in n, so any engine (and
    * the incremental maintainer) derives the same width; at 8 bits
    * the band layout is identical to the historical one, so the
    * oracle — which pins the driver scales, where bits = 8 — is
    * unchanged. Crossing a width boundary re-buckets every seed; a
    * release that grows past one needs a full rebuild
    * (`NavIndex.incrementState` enforces this). */
  private[graft] def navBitsFor(n: Long): Int = {
    var bits = 8
    while (bits < 16 && (n >> bits) > 8) bits += 1
    bits
  }

  /** Synchronous-hop count for an n-vector walk: 3 at the driver
    * scales (n ≤ 2048 — every oracle unrolls exactly 3 stages, and
    * the rule is pinned to agree there), +1 per corpus doubling
    * beyond. The ×100 harness measured WHY hops must scale: with
    * hops fixed at 3, walk recall collapsed 18/30 → 7/30 → 0/30 at
    * ×1/×10/×100 — the beam cannot REACH the target neighborhood from
    * the fixed entry set as graph diameter grows (~log n for a
    * degree-16 navigable graph). Deterministic in n, like
    * [[navBitsFor]]. */
  private[graft] def navHopsFor(n: Long): Int = {
    var hops = 3
    var m = n
    while (m > 2048) { hops += 1; m >>= 1 }
    // 5-hop reachability floor (round 17): at the driver scales the
    // id-pinned 16 entries leave genuine top-3 neighbors 4+ hops out —
    // measured at mixture ×1 (2k vectors): 24/30 recall at 3 hops
    // regardless of width, 30/30 at 5 hops × beam 48 ([[navBeamFor]]).
    // Past 2048 the doubling ladder already clears 5.
    math.max(5, hops)
  }

  /** Flat-walk beam width: 48 in the driver-scale regime where the
    * oracle-pinned 16-lowest-id entries start the walk in arbitrary
    * regions (width carries the recall the entries don't), 16 past
    * 2048 where [[navEntryBitsFor]] sign-bucket entries seed every
    * coarse region (measured 30/30 at mixture ×10/×100 — round 17). */
  private[graft] def navBeamFor(n: Long): Int = if (n <= 2048) 48 else 16

  /** Entry-point sign-bit width for an n-vector walk — the
    * REACHABILITY twin of [[navHopsFor]]'s hop ladder. 0 means the
    * oracle-pinned driver rule (16 lowest ids; every walk oracle
    * unrolls exactly that). Past the driver scales, spread entries
    * are REQUIRED, not an optimization: on the planted-mixture corpus
    * (clustered, low intrinsic dimension — the regime real embedding
    * corpora sit in) recall collapsed 18/30 → 3/30 at ×100 with hops
    * to spare, because cross-cluster edges thin out as intra-cluster
    * density grows and the 16-lowest entries touch only a few cluster
    * components — a walk cannot navigate to a component no entry
    * reaches (PERF.md round 11). The rule — one more sign bit per
    * corpus doubling past an expected ~256-vector bucket, floor 6,
    * cap 16 — was chosen by SIMULATION on the exact kNN graph before
    * landing: at 50k mixture vectors, 64 entries covered 76% of the
    * cluster mass (21/30), 251 entries covered 99.1% (30/30); recall
    * tracks cluster-mass coverage and nothing else (hops ×3 and
    * α-diversified edges both measured as no-ops on the residual). */
  private[graft] def navEntryBitsFor(n: Long): Int =
    if (n <= 2048) 0
    else {
      var bits = 6
      while (bits < 16 && (n >> bits) > 256) bits += 1
      bits
    }

  /** The walk's entry nodes over `corpus` (vec_id, v, norm), optionally
    * restricted to an eligible (node) set: at driver scales the 16
    * lowest ids; beyond, the lowest id of every non-empty
    * [[navEntryBitsFor]]-bit hyperplane-sign bucket (the IVF `cellOf`
    * idiom, dims 1..bits) — ≤ 2^bits deterministic entries that touch
    * every coarse region of the space, reproducible by any engine. */
  private[graft] def navEntries(corpus: DataFrame, elig: Option[DataFrame],
      n: Long): DataFrame = {
    val cand = elig match {
      case Some(e) => corpus.join(e.withColumnRenamed("node", "vec_id"), "vec_id")
      case None => corpus
    }
    val bits = navEntryBitsFor(n)
    if (bits == 0)
      cand.select(col("vec_id").as("node")).orderBy("node").limit(16)
    else {
      val sig = concat((0 until bits).map(i =>
        when(element_at(col("v"), i + 1) >= 0, "1").otherwise("0")): _*)
      cand.select(col("vec_id"), sig.as("_sb"))
        .groupBy("_sb").agg(min("vec_id").as("node"))
        .select("node")
    }
  }

  /** Per-node band rows (vec_id, b, key) for the navigable-graph
    * seed: 8 bands × `bits` hyperplane signs over the 64 dims (band b
    * reads dims (8b+i) mod 64 — at 8 bits exactly the historical
    * non-overlapping layout). */
  private[graft] def navBands(v: DataFrame, bits: Int): DataFrame = {
    def sig(b: Int) = concat((0 until bits).map(i =>
      when(element_at(col("v"), (8 * b + i) % 64 + 1) >= 0, "1").otherwise("0")): _*)
    v.select(col("vec_id"),
      posexplode(array((0 until 8).map(sig): _*)).as(Seq("b", "key")))
  }

  /** [[navBands]] at the width the corpus size calls for (one
    * metadata-cheap count against the materialized vector table). */
  private[graft] def navBands(v: DataFrame): DataFrame =
    navBands(v, navBitsFor(v.count()))

  /** Deterministic per-member anchor draw: a Knuth-LCG mix of vec_id
    * reduced mod 2³¹ BEFORE the multiply — the reduced operand keeps
    * the int64 product under 2^62 for every non-negative id, so the
    * arithmetic is overflow-free (Spark would wrap silently where
    * ANSI engines raise — at 100 TB id scales, vec_id > ~8.3e9, the
    * unreduced product overflows). Pure int64 arithmetic any engine
    * evaluates identically (the oracle repeats it verbatim; requires
    * vec_id ≥ 0, which every corpus here satisfies). */
  private def navAnchorDraw(c: Column): Column =
    pmod(pmod(c, lit(2147483648L)) * lit(1103515245L) + lit(12345L), lit(2147483648L))

  /** Seed candidate pairs from band buckets, keyed by `keyCols`
    * ((b, key), or (shard, b, key) for the sharded build):
    *
    *   - bucket ≤ [[NavBucketCap]] members → all pairs (the
    *     historical rule; the only one the driver scales exercise, so
    *     the oracle parity there is bit-identical);
    *   - wider bucket → each member pairs with the bucket's ANCHORS:
    *     its min vec_id (so every bucket has ≥ 1 anchor) plus members
    *     whose [[navAnchorDraw]] falls under rate
    *     [[NavAnchorRate]]/width (~16 expected, chosen without any
    *     per-bucket sort or window — a mega-bucket costs width × ~16
    *     map-side rows, never width² and never a single-task sort).
    *
    * `restrict` (column `node`) limits the NODE side — the
    * incremental maintainer re-ranks only delta-touched buckets'
    * members; a node's pair set is a pure function of its buckets'
    * membership, so restriction commutes with generation.
    *
    * Why anchors instead of dropping wide buckets (the pre-round-11
    * rule): on a clustered corpus the bucket-width distribution is
    * heavy-tailed — the densest regions blow past any cap on EVERY
    * band at once, members end up with zero seed candidates, and
    * NN-descent can never re-attach a node whose neighborhood is
    * empty (its candidates come from that neighborhood). Measured on
    * the ×100 planted-mixture corpus (PERF.md round 11):
    * drop → 31% seed-isolated nodes, 9.4 edges/node, walk recall
    * 11/30 at 200k; anchors → 0 isolated, 30/30 in the 50k
    * simulation that chose this rule. */
  private[graft] def navSeedPairs(bands: DataFrame, keyCols: Seq[String],
      restrict: Option[DataFrame] = None,
      stats: Option[DataFrame] = None): DataFrame = {
    val keys = keyCols.map(col)
    // `stats` (keyCols + bn, a0) lets a maintainer hand in the LANDED
    // per-bucket width table instead of re-aggregating the full band
    // table every call — the caller guarantees it equals the derived
    // aggregate (the versioned-state contract `NavIndex` keeps; parity
    // specs pin the equality through every maintenance path)
    val st = stats.map(_.select((keys :+ col("bn").as("_bn")) :+ col("a0").as("_a0"): _*))
      .getOrElse(bands.groupBy(keys: _*)
        .agg(count(lit(1)).as("_bn"), min("vec_id").as("_a0")))
    val tagged = bands.join(st, keyCols)
    val nodeSide0 = tagged.select(
      (col("vec_id").as("node") +: (keys :+ col("_bn"))): _*)
    val nodeSide = restrict match {
      case Some(r) => nodeSide0.join(r, Seq("node"), "left_semi")
      case None    => nodeSide0
    }
    val inCapNbr = tagged.where(col("_bn") <= NavBucketCap)
      .select((col("vec_id").as("nbr_id") +: keys): _*)
    val allPairs = nodeSide.where(col("_bn") <= NavBucketCap)
      .join(inCapNbr, keyCols)
    val anchors = tagged.where(col("_bn") > NavBucketCap)
      .where(col("vec_id") === col("_a0") ||
        navAnchorPred(col("vec_id"), col("_bn")))
      .select((col("vec_id").as("nbr_id") +: keys): _*)
    val anchorPairs = nodeSide.where(col("_bn") > NavBucketCap)
      .join(anchors, keyCols)
    allPairs.unionByName(anchorPairs)
      .where(col("node") =!= col("nbr_id"))
      .select("node", "nbr_id")
  }

  /** The over-cap-bucket anchor verdict for a member `id` of a bucket
    * of width `bn`: the LCG draw under rate [[NavAnchorRate]] /
    * pow2ceil(bn) — expected anchors between Rate/2 and Rate. The
    * width is QUANTIZED to its power-of-two ceiling (round 12) so the
    * verdict is STABLE under within-band growth: before, the
    * threshold moved with every +1 of width, so ONE vector landing in
    * an over-cap bucket changed every member's anchor verdict and the
    * exactness contract forced `NavIndex.incrementState` to re-rank
    * the whole bucket — measured at ×100 as a 1% increment costing
    * MORE than a warm full rebuild (PERF.md round 12). Quantized,
    * growth inside a power-of-two band adds pairs without revoking
    * any, which is what makes the seed round GROW-SPLICEABLE.
    * The ceiling is computed ARITHMETICALLY ([[navPow2CeilBits]], the
    * bit length of bn−1) rather than ceil(log2(bn)): Spark's log2 is
    * ln(x)/ln(2), which lands a hair ABOVE the integer at bn = 2^29,
    * 2^31, 2^39 and would double the quantized width there, while
    * engines with an exact LOG2 (DuckDB — whose CEIL(LOG2) the oracle
    * uses; non-power widths are >1 ulp from an integer, so its
    * rounding never crosses) get the true ceiling — the bit-length
    * form agrees with them at every width. */
  private[graft] def navAnchorPred(id: Column, bn: Column): Column =
    navAnchorDraw(id).cast("double") <
      lit(2147483648.0 * NavAnchorRate) / pow(lit(2.0), navPow2CeilBits(bn))

  /** ceil(log2(bn)) for bn ≥ 1, exactly: 0 at bn = 1 (the domain edge
    * the bit-length form alone gets wrong — `length(conv(0,10,2))` is
    * 1), else the bit length of bn − 1 (binary-string length via
    * `conv`) — pure integer arithmetic any engine reproduces; see
    * [[navAnchorPred]] for why float log2 is not safe here. Shared by
    * the anchor verdict and `NavIndex.incrementState`'s grow-bucket
    * classification, which must quantize identically or the splice
    * would carry edges whose anchor rule moved. (Every consulted
    * width today is > [[NavBucketCap]], so the bn = 1 case is
    * unreachable from current call sites — fixed so the function
    * matches its ceil-log2 contract everywhere.) */
  private[graft] def navPow2CeilBits(bn: Column): Column =
    when(bn <= 1, lit(0)).otherwise(length(conv(bn - 1, 10, 2)))

  /** Seed candidates from band buckets: all pairs within cap-sized
    * buckets, member×anchor pairs within wider ones
    * ([[navSeedPairs]]). */
  private[graft] def navSeedCand(v: DataFrame): DataFrame =
    navSeedPairs(navBands(v), Seq("b", "key"))

  /** Vector-table row ceiling for BROADCASTING both sides of
    * [[navTopK]]'s scoring joins (~520 B/row at 64 dims → ~130 MB at
    * the default 250k). The candidate side of an NN-descent round is
    * 2–3 orders of magnitude wider than the vector table (measured
    * ×100: 168M candidate rows vs 200k vectors), so shuffle-joining
    * vectors onto it — twice — IS the build constant
    * (PERF.md round 12): the broadcast tier
    * turns both attaches map-side and leaves the round one light
    * exchange (the rank window over pruned (node, nbr, cos) rows).
    * Above the ceiling (a billion-vector corpus) the plain shuffle
    * join is the right plan and is the fallback. */
  private def navBroadcastVecsMax(spark: SparkSession): Long =
    spark.conf.getOption("graft.nav.broadcastVecsMax").map { s =>
      try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft.nav.broadcastVecsMax must be an integer row count, got '$s'")
      }
    }.getOrElse(250000L)

  /** Rank a candidate (node, nbr_id) set to the directed
    * top-[[NavDegree]] per node by 6-dp cosine (nbr-id tiebreak) —
    * the one scoring rule every nav-graph stage shares. Identical
    * rows at every tier; only the join strategy changes. `n` is the
    * row count of `v`, threaded from the caller (a build/increment
    * session counts its vector table ONCE and reuses the size across
    * every round's call — an unlanded `v` plan would otherwise
    * recompute per invocation); the no-`n` overload counts for
    * one-off callers. */
  private[graft] def navTopK(spark: SparkSession, v: DataFrame, cand: DataFrame): DataFrame =
    navTopK(spark, v, cand, v.count())

  private[graft] def navTopK(spark: SparkSession, v: DataFrame, cand: DataFrame,
      n: Long): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val small = n <= navBroadcastVecsMax(spark)
    def tier(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val nodes = tier(v.select(col("vec_id").as("node"), col("v").as("nv"), col("norm").as("nn")))
    val nbrs  = tier(v.select(col("vec_id").as("nbr_id"), col("v").as("wv"), col("norm").as("wn")))
    val w = Window.partitionBy("node").orderBy(col("cos").desc, col("nbr_id"))
    cand.distinct()
      .join(nodes, "node").join(nbrs, "nbr_id")
      .withColumn("cos", round(d(col("nv"), col("wv")) / (col("nn") * col("wn")), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= NavDegree)
      .select("node", "nbr_id")
  }

  /** Symmetrize a directed edge list. */
  private[graft] def navUnd(e: DataFrame): DataFrame =
    e.unionByName(e.select(col("nbr_id").as("node"), col("node").as("nbr_id")))
      .distinct()

  /** Per-node degree cap on the adjacency NN-descent EXPANDS through
    * (never on the published graph): keep each node's
    * [[NavExpandCap]] lowest-id neighbors. Anchor-paired seeds give
    * over-cap-bucket anchors reverse in-degree up to the bucket
    * width, and the 2-hop expansion is quadratic in the middle node's
    * degree — a 20k-degree hub contributes 4·10⁸ candidate rows and
    * every member inherits the hub's whole neighborhood (measured:
    * the ×100 mixture build filled the disk with spill where the
    * capped form runs in memory; the NN-Descent paper's sampling
    * parameter ρ exists for the same reason). 64 never binds at the
    * driver scales (max measured undirected degree ≈ 35), so oracle
    * runs are unchanged — and the oracle mirrors the cap anyway. */
  private[graft] val NavExpandCap = 64

  private[graft] def navExpandAdj(a: DataFrame): DataFrame = {
    val w = Window.partitionBy("node").orderBy(col("nbr_id"))
    a.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= NavExpandCap).drop("_rn")
  }

  /** One NN-descent candidate expansion over an undirected adjacency:
    * each node's neighborhood plus that neighborhood's neighborhood.
    * Callers pass a [[navExpandAdj]]-capped adjacency and union the
    * previous round's directed edges back in (the cap keeps LOWEST
    * ids, so a high-id genuine neighbor could otherwise leave a
    * node's candidate set and the round would regress). */
  private[graft] def navRefineCand(a: DataFrame): DataFrame = {
    // 2-hop via an alias-safe self-join on the shared middle node
    val mid = a.select(col("nbr_id").as("node"), col("node").as("src"))
    val hop2 = mid.join(a, "node")
      .select(col("src").as("node"), col("nbr_id"))
      .where(col("node") =!= col("nbr_id"))
    a.unionByName(hop2)
  }

  /** Navigable-graph construction over an explicit (vec_id, v, norm)
    * table — see [[navGraphShared]] for the design. Each round's edge
    * list lands through the `IterState` parquet seam (the BPE-training
    * pattern), NOT persist(): `und` references its input in both union
    * branches, so the logical plan doubles per level and Catalyst
    * re-analysis of the unrolled tree goes exponential — measured
    * 153 s to plan the final symmetrize over a 37k-row cached edge
    * list at sf0.1 vs ~1 s execution. Parquet rounds truncate the
    * lineage so every stage plans against a flat scan. Returns the
    * edge plan plus the handle that reclaims the round dir once the
    * artifact parquet has consumed it. */
  private[graft] def navGraphFrom(spark: SparkSession, v: DataFrame): (DataFrame, () => Unit) =
    navGraphRounds(spark, v, navSeedCand(v))

  /** The seed-to-symmetrized-graph round driver, shared by the global
    * build ([[navGraphFrom]]) and the sharded build (whose seed simply
    * adds the shard to the bucket key — refinement stays shard-local
    * for free because shard node sets are disjoint). */
  private[graft] def navGraphRounds(spark: SparkSession, v: DataFrame,
      seedCand: DataFrame): (DataFrame, () => Unit) = {
    val n = v.count() // once per build session; every round's topK reuses it
    def topK(cand: DataFrame): DataFrame = navTopK(spark, v, cand, n)
    def und(e: DataFrame): DataFrame = navUnd(e)

    val iterDir = s"${graft.ops.IterState.rootFor(spark)}/nav_${java.util.UUID.randomUUID().toString.take(8)}"
    val cleanup = graft.ops.IterState.register(spark, iterDir)
    def mat(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$iterDir/$name")
      spark.read.parquet(s"$iterDir/$name")
    }

    var edges = mat(topK(seedCand), "e0")
    for (r <- 1 to 2) {
      val a = mat(navExpandAdj(und(edges)), s"u$r")
      edges = mat(topK(navRefineCand(a).unionByName(edges)), s"e$r")
      cleanup.rm(s"$iterDir/e${r - 1}")
      cleanup.rm(s"$iterDir/u$r")
    }
    (und(edges), () => cleanup.release())
  }

  /** Graph-based ANN search — the HNSW-family retrieval pattern as
    * batched dataflow — over the navigable-graph artifact
    * ([[navGraphShared]]). Entry points come from [[navEntries]]: the
    * 16 lowest vec_ids at driver scales (oracle-pinned; on this
    * corpus labels carry no geometry, so "one hub per label" buys
    * nothing — see the artifact doc), one entry per non-empty
    * sign-bucket beyond ([[navEntryBitsFor]] — reachability at scale).
    * Then [[navHopsFor]] synchronous beam hops (3 at the driver
    * scales, +1 per corpus doubling beyond 2048): each hop grows the beam with
    * the undirected graph neighbors of the current beam, scores
    * candidates by cosine to the query, and keeps the best 16 per
    * query (6-dp cosines, node-id tiebreak, so both engines rank
    * identically). Output is the final beam's top-3. Measured recall
    * vs exact brute force: 27–29/30 (vs 4/30 over the cell-local kNN
    * graph this replaced).
    *
    * Scale shape: the graph is an artifact (built once per corpus
    * version, read here); per hop the beam is Q×16 rows — a
    * broadcast-sized probe hash-joined against the edge list and the
    * vector table, so each hop costs two bounded equi-joins and
    * NOTHING is quadratic in the corpus. This is how navigable-graph
    * ANN degrades gracefully to dataflow: the walk is batched
    * (synchronous hops) instead of pointer-chasing.
    * Output: vec_id, nbr_id, cos, rank. */
  def graphSearch(spark: SparkSession, dir: String): DataFrame =
    navAnswersShared(spark, dir).orderBy("vec_id", "rank")

  /** The flat walk's answer table as a landed artifact — ONE walk per
    * corpus version, read by both the search readout ([[graphSearch]])
    * and the recall audit ([[graphSearchRecall]]) instead of each
    * re-walking (the round-9 verdict's headroom ask: "derive
    * sim_graph_recall from the sim_graph_search result"). The build
    * cost is visible in the bench's `artifact_build` line. */
  private[graft] def navAnswersShared(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "sim_nav_answers", dir) {
      val base = vecs(spark, dir).persist()
      base.count() // materialize before the beam fans out over it
      val q = base.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
      val (out, release) = beamSearchReleasable(spark, base.select("vec_id", "v", "norm"), q,
        navGraphShared(spark, dir))
      (out.select(col("qid").as("vec_id"), col("nbr_id"), col("cos"), col("rank")),
        () => { release(); base.unpersist(); () })
    }

  /** Shard count for the partitioned index, shared with the oracle.
    * 4 locally; at production scale one shard per index-serving unit. */
  private[graft] val NavShards = 4

  /** Sharded seed: the same capped-band candidates, with the SHARD
    * (vec_id mod [[NavShards]]) in the bucket key — so candidate pairs
    * never cross shards and the whole multi-shard build is one
    * dataflow (refinement stays shard-local for free: disjoint node
    * sets keep adjacency, 2-hop expansion, and per-node ranking inside
    * each shard without carrying a shard column anywhere). */
  private[graft] def navSeedCandSharded(v: DataFrame): DataFrame =
    navSeedPairs(
      navBands(v).withColumn("shard", pmod(col("vec_id"), lit(NavShards))),
      Seq("shard", "b", "key"))

  /** The SHARDED navigable-graph artifact: [[NavShards]] disjoint
    * per-shard graphs (shard = vec_id mod shards) landed as one edge
    * list — the partition unit of a distributed ANN serving tier.
    * Built in a single dataflow (see [[navSeedCandSharded]]). */
  private[graft] def navShardGraphShared(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "sim_nav_shards", dir) {
      val v = vecs(spark, dir).persist()
      v.count() // materialize before the band + scoring sides fan out
      val (e, release) = navGraphRounds(spark, v, navSeedCandSharded(v))
      (e, () => { release(); v.unpersist(); () })
    }

  /** Sharded graph search — the scatter-gather ANN serving pattern:
    * the corpus is hash-partitioned into [[NavShards]] disjoint
    * shards, each holding its own navigable graph; a query fans out
    * to EVERY shard (per-shard entry set = its 16 lowest vec_ids,
    * per-shard beam 16, navHopsFor-scaled synchronous hops), and the
    * per-shard answers merge by a global top-3 re-rank. Because shard
    * node sets are disjoint, the fan-out needs no shard bookkeeping:
    * one beam table holds all shards' walks, ranked per
    * (query, node-mod-shards) — the shard key is derivable, never
    * carried.
    *
    * Scale shape: this is how graph ANN actually distributes — the
    * graph artifact partitions by shard (one per serving unit /
    * executor group), each shard walk touches only its partition, and
    * the merge is a Q×(3·shards)-row top-k. Recall can only improve
    * on the single-graph walk (independent per-shard searches: 30/30
    * measured at sf0.01, and each shard's graph is smaller relative
    * to the beam, so each walk is closer to exhaustive over its
    * partition — under the round-17 5-hop ladder the unsharded walk
    * reads 30/30 too). Build cost is the same single
    * dataflow — the shard key rides the bucket join.
    * Output: vec_id, nbr_id, cos, rank. */
  def shardedSearch(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "sim_shard_answers", dir)(
      shardedSearchDerive(spark, dir))
      .orderBy("vec_id", "rank")

  private def shardedSearchDerive(spark: SparkSession, dir: String): (DataFrame, () => Unit) = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val base = vecs(spark, dir).persist()
    val nBase = base.count() // count also materializes the cache
    val q = base.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val ws = Window.partitionBy(pmod(col("vec_id"), lit(NavShards))).orderBy("vec_id")
    val entries = base.select(col("vec_id"))
      .withColumn("rs", row_number().over(ws))
      .where(col("rs") <= 16).select(col("vec_id").as("node"))
    val edges = navShardGraphShared(spark, dir)

    // per-(query, shard) beam: rank within qid × node-derived shard
    def beam(c: DataFrame, b: Int): DataFrame = {
      val w = Window.partitionBy(col("qid"), pmod(col("node"), lit(NavShards)))
        .orderBy(col("cos").desc, col("node"))
      c.distinct()
        .join(base.select(col("vec_id").as("node"),
          col("v").as("nv"), col("norm").as("nnorm")), "node")
        .join(broadcast(q), "qid")
        .where(col("node") =!= col("qid"))
        .withColumn("cos", round(d(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= b)
        .select(col("qid"), col("node"), col("cos"))
    }
    def hop(s: DataFrame): DataFrame = beam(
      s.select("qid", "node").unionByName(
        s.select("qid", "node").join(edges, "node")
          .select(col("qid"), col("nbr_id").as("node"))), 16)

    // per-hop HopStages checkpoint: truncates the doubling plan
    // lineage and frees superseded hop blocks eagerly (see
    // beamSearchReleasable). Hops scale with the SHARD size —
    // each walk navigates its own disjoint per-shard graph.
    val hops = navHopsFor((nBase + NavShards - 1) / NavShards)
    val stages = new HopStages
    var s = stages.next(beam(q.select("qid").crossJoin(broadcast(entries)), 16))
    for (_ <- 1 to hops) {
      s = stages.next(hop(s))
    }
    // gather: global top-3 per query across the shard beams
    val wg = Window.partitionBy("qid").orderBy(col("cos").desc, col("node"))
    val out = s.withColumn("rank", row_number().over(wg))
      .where(col("rank") <= 3)
      .select(col("qid").as("vec_id"), col("node").as("nbr_id"),
        col("cos"), col("rank").cast("bigint").as("rank"))
    (out, () => { base.unpersist(); stages.release() })
  }

  /** ADC beam width AT DRIVER SCALES, shared with the oracle: wider
    * than the cosine walk's [[navBeamFor]] 48 because the walk sees
    * quantized geometry — the coarse scorer needs a broader frontier
    * for the exact reranker to choose from, the DiskANN
    * beam-width/recall tradeoff (round 17: 48 read 27/30 at mixture
    * ×1 under the 5-hop ladder, 64 reads 30/30). Past n = 2048 the
    * width scales ([[pqBeamFor]]). */
  private[graft] val PqBeamWidth = 64

  /** ADC beam width for an n-vector walk: [[PqBeamWidth]] at the
    * driver scales (the PQ walk oracles unroll exactly that), +16 per
    * corpus doubling beyond, capped at 192 — the [[filteredOverfetchFor]]
    * ladder applied to the quantized walk, where the frontier must
    * additionally absorb ADC scoring error (round-17 ×100 mixture:
    * 28/30 at the constant width — the beam, not the rerank, drops
    * the true neighbors as the corpus outgrows it). */
  private[graft] def pqBeamFor(n: Long): Int = {
    var w = PqBeamWidth
    var m = n
    while (m > 2048 && w < 192) { w += 16; m >>= 1 }
    w
  }

  /** PQ-accelerated graph search — the DiskANN memory posture: the
    * beam walks the SAME navigable graph, but hop scoring reads only
    * the PQ CODES (16 bytes/vector, the fine search codebook) through
    * per-query ADC distance tables; the full vectors are touched
    * once, to exact-cosine-rerank the final beam. At 1e9 vectors the
    * full fp32 corpus is ~256 GB — what forces DiskANN's split: codes
    * (+graph) fit executor memory, exact vectors stream only for the
    * Q×[[PqBeamWidth]] rerank rows.
    *
    * The walk is greedy by ADC squared-L2 (decimal-exact code-word
    * lookup sums, node-id tiebreak); the output rank is exact cosine
    * over the final beam — approximate navigation, exact answers.
    * Measured recall vs exact brute force at sf0.01: 30/30 with the
    * fine codes (the storage codebook's 6-bit codes managed only
    * 12/30 — see [[pqSearchCodebookArt]]).
    * Output: vec_id, nbr_id, cos, rank. */
  def pqSearch(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "sim_pq_answers", dir)(
      pqSearchDerive(spark, dir))
      .orderBy("vec_id", "rank")

  private[graft] def pqSearchDerive(spark: SparkSession, dir: String): (DataFrame, () => Unit) =
    pqWalkDerive(spark, dir, elig0 = None)

  /** The Filtered-DiskANN composition (Gollapudi et al., WWW 2023):
    * the SAME ADC-scored walk, but beam membership is restricted to
    * the eligible set and each hop expands through neighbors AND
    * neighbors-of-neighbors (the ACORN bridge applied to the PQ
    * path), entries from the 16 lowest eligible ids; the exact-cosine
    * rerank then only ever sees eligible candidates. This closes the
    * filtered × index-type matrix: flat (`filteredSearch`) and PQ
    * walks both filter natively.
    * Output: vec_id, nbr_id, cos, rank. */
  def filteredPqSearch(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "sim_filtered_pq_answers", dir)(
      pqWalkDerive(spark, dir, elig0 = Some(eligibleIds(spark, dir))))
      .orderBy("vec_id", "rank")

  private def pqWalkDerive(spark: SparkSession, dir: String,
      elig0: Option[DataFrame]): (DataFrame, () => Unit) = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val base = vecs(spark, dir).persist()
    val nBase = base.count() // count also materializes the cache
    val hops = navHopsFor(nBase)
    // persist + materialize: broadcast into every hop stage (see
    // filteredAnswersShared)
    val elig = elig0.map(_.persist())
    elig.foreach(_.count())
    val q = base.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val entries = navEntries(base, elig, nBase)
    val edges = navGraphShared(spark, dir)
    // sub-ordered per-node code words (the packed artifact layout):
    // the beam's scoring join ships each candidate row ONCE, not once
    // per subspace — at scale that is a 32× cut in the per-hop join
    // input, and the sum-over-subs needs no hash-agg exchange
    val codesPacked = pqSearchCodesArt(spark, dir)
      .select(col("vec_id").as("node"), col("cids"))
    // per-query ADC tables: ‖q_sub − c‖² per (qid, sub, cid) —
    // Q×32×16 rows, broadcast to every hop
    val qe = pqExplodeAt(spark, dir, PqSearchSubDim).where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("sub"), col("pos"), col("x").as("qx"))
    // table entries are 6-dp-rounded and the 32-entry lookup sum runs
    // in DECIMAL: a double sum's addend order is engine- and
    // run-nondeterministic (parallel hash agg), and one last-ulp wobble
    // at a 6-dp boundary flips beam membership — the decimal sum of
    // pre-rounded terms is exact, so both engines rank identically
    val dt = qe.join(pqSearchCodebookArt(spark, dir), Seq("sub", "pos"))
      .groupBy("qid", "sub", "cid")
      .agg(round(sum((col("qx") - col("cx")) * (col("qx") - col("cx"))), 6).as("d"))
    // ... packed per qid into one (sub·k + cid) → d lookup map
    val dtm = dt.groupBy("qid")
      .agg(map_from_entries(collect_list(struct(
        (col("sub") * PqSearchK + col("cid")).cast("int"), col("d")))).as("dm"))
    val nSubs = 64 / PqSearchSubDim
    // identical value to the old per-(qid,node) groupBy decimal sum:
    // same 6-dp-rounded terms, and decimal addition is exact so the
    // fold order cannot differ from the agg's — just computed map-side
    // inside the candidate row instead of through a ×32 join + re-agg
    val adc = aggregate(
      sequence(lit(0), lit(nSubs - 1)),
      lit(0).cast("decimal(18,6)"),
      (acc, s) => (acc + element_at(col("dm"),
        (s * PqSearchK + element_at(col("cids"), s + 1)).cast("int"))
        .cast("decimal(18,6)")).cast("decimal(18,6)"))
      .cast("double")

    val W = pqBeamFor(nBase)
    // score a candidate (qid, node) set by ADC and keep the best b;
    // in the filtered walk, beam MEMBERSHIP joins the eligible set
    // (expansion is never restricted)
    def beamAdc(c0: DataFrame, b: Int): DataFrame = {
      val w = Window.partitionBy("qid").orderBy(col("adist"), col("node"))
      // eligibility BEFORE the distinct: the broadcast semi-join is a
      // map-side operator, so filtering first shrinks the distinct
      // exchange to the eligible ~13% instead of the full ACORN
      // 2-hop fan-out (same candidate SET either way)
      val c = elig match {
        case Some(e) => c0.join(broadcast(e), "node").distinct()
        case None => c0.distinct()
      }
      c.where(col("node") =!= col("qid"))
        .join(codesPacked, "node")
        .join(broadcast(dtm), "qid")
        .withColumn("adist", adc)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= b)
        .select("qid", "node")
    }
    // filtered hops bridge through neighbors-of-neighbors (ACORN)
    def hop(s: DataFrame): DataFrame = {
      val n1 = s.join(edges, "node").select(col("qid"), col("nbr_id").as("node"))
      val exp = elig match {
        case Some(_) =>
          // dedup the 1-hop frontier before the second edge join: the
          // beam's neighbor lists overlap heavily, and the deg² fan-out
          // multiplies every duplicate (candidate SET unchanged)
          val n1d = n1.distinct()
          val n2 = n1d.join(edges, "node").select(col("qid"), col("nbr_id").as("node"))
          s.unionByName(n1d).unionByName(n2)
        case None => s.unionByName(n1)
      }
      beamAdc(exp, W)
    }

    // per-hop HopStages checkpoint: truncates the doubling plan
    // lineage, frees superseded hop blocks eagerly (see
    // beamSearchReleasable)
    val stages = new HopStages
    var s = stages.next(beamAdc(q.select("qid").crossJoin(broadcast(entries)), W))
    for (_ <- 1 to hops) {
      s = stages.next(hop(s))
    }
    // exact-cosine rerank of the final beam — the only full-vector read
    val wg = Window.partitionBy("qid").orderBy(col("cos").desc, col("node"))
    val out = s.join(base.select(col("vec_id").as("node"),
        col("v").as("nv"), col("norm").as("nnorm")), "node")
      .join(broadcast(q), "qid")
      .withColumn("cos", round(d(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
      .withColumn("rank", row_number().over(wg))
      .where(col("rank") <= 3)
      .select(col("qid").as("vec_id"), col("node").as("nbr_id"),
        col("cos"), col("rank").cast("bigint").as("rank"))
    (out, () => { base.unpersist(); elig.foreach(_.unpersist()); stages.release() })
  }

  /** Graph-search recall audit: the beam walk's top-3 LEFT-joined
    * against the exact brute-force top-3 — `annRecall`'s discipline
    * applied to the navigable-graph index, as an ORACLE-CHECKED query
    * so the cross-engine gate pins the quality metric itself (30/30
    * at sf0.01 under the round-17 5-hop × beam-48 driver ladder; the
    * 3-hop × 16 walk read 27/30), not just the walk's determinism.
    * Output: vec_id, nbr_id, in_top3, true_rank. */
  def graphSearchRecall(spark: SparkSession, dir: String): DataFrame = {
    val bf = bruteForceTopK(spark, dir).select(col("vec_id"), col("nbr_id"), col("rank"))
    val gs = navAnswersShared(spark, dir).select("vec_id", "nbr_id")
    gs.join(bf, Seq("vec_id", "nbr_id"), "left")
      .select(col("vec_id"), col("nbr_id"),
        col("rank").isNotNull.as("in_top3"),
        col("rank").as("true_rank"))
      .orderBy("vec_id", "nbr_id")
  }

  /** Graded retrieval-quality metrics for the graph walk — the IR
    * readout (nDCG@3, reciprocal rank, hit count) a serving team
    * tracks per release next to the binary [[graphSearchRecall]]
    * flags: recall says WHETHER the exact answers were found, nDCG
    * says how well they were ORDERED. Relevance is graded by exact
    * rank (4 − true_rank → 3/2/1, miss → 0).
    *
    * Determinism: the DCG is a FIXED three-term expression over a
    * per-query pivot of the walk ranks — never a float aggregation
    * whose order could differ between engines — and the log2
    * discounts are pinned 6-dp literals (1, 0.630930, 0.5; an
    * engine-computed log2(3) could differ in the last ulp). The
    * ideal DCG is the constant 3 + 2·0.630930 + 0.5 = 4.76186
    * (every query has a full exact top-3). Per-query rows only — a
    * corpus-level mean would be a float sum with nondeterministic
    * order; the driver can average the rounded per-query values.
    * Scale: both inputs are landed Q×3 answer artifacts; the audit
    * is a join + groupBy on Q rows.
    * Output: vec_id, dcg, ndcg, rr, n_hits. */
  def searchNdcg(spark: SparkSession, dir: String): DataFrame = {
    val bf = bruteForceTopK(spark, dir)
      .select(col("vec_id"), col("nbr_id"), col("rank").as("true_rank"))
    val rel = navAnswersShared(spark, dir)
      .select(col("vec_id"), col("nbr_id"), col("rank").as("wr"))
      .join(bf, Seq("vec_id", "nbr_id"), "left")
      .withColumn("rel",
        when(col("true_rank").isNotNull, lit(4L) - col("true_rank")).otherwise(lit(0L)))
    val p = rel.groupBy("vec_id").agg(
      max(when(col("wr") === 1, col("rel")).otherwise(lit(0L))).as("r1"),
      max(when(col("wr") === 2, col("rel")).otherwise(lit(0L))).as("r2"),
      max(when(col("wr") === 3, col("rel")).otherwise(lit(0L))).as("r3"),
      min(when(col("rel") > 0, col("wr"))).as("fh"),
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hits"))
    val dcg = col("r1") * lit(1.0) + col("r2") * lit(0.630930) + col("r3") * lit(0.5)
    p.select(col("vec_id"),
        round(dcg, 6).as("dcg"),
        round(dcg / lit(4.76186), 6).as("ndcg"),
        round(when(col("fh").isNull, lit(0.0)).otherwise(lit(1.0) / col("fh")), 6).as("rr"),
        col("n_hits"))
      .orderBy("vec_id")
  }

  /** Hybrid lexical+vector retrieval via reciprocal-rank fusion
    * (Cormack et al., SIGIR 2009): for each query document (doc_id <
    * 10, which is also its vec_id), fuse the BM25 top-10
    * (`Text.bm25Ranks` — posting-list lexical ranking) with the exact
    * cosine top-10 over embeddings; rrf(d) = Σ_r 1/(60 + rank_r(d))
    * over the rankers that retrieved d. This is the standard hybrid
    * readout a curation pipeline uses where lexical-only misses
    * paraphrases and vector-only misses rare exact terms.
    *
    * Determinism: the fusion sum is a FIXED two-term expression over
    * a full-outer join of the two rank tables (never a float
    * aggregation), rounded to 6 dp, ranked with doc-id tiebreak — so
    * both engines rank identically. Scale shape: each ranker's output
    * is Q×10 rows; the fusion join and re-rank are query-keyed and
    * trivially small next to the rankers themselves.
    * Output: vec_id, doc_id, rrf, lex_rank, vec_rank, rank. */
  /** Exact cosine top-`k` of every corpus vector per query doc
    * (vec_id < 10), as (qid, doc_id, vec_rank) — the vector-ranker
    * side shared by the RRF fusion and negative mining. */
  private def vecTopKRanks(spark: SparkSession, dir: String, k: Int): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val base = vecs(spark, dir).persist()
    base.count() // materialize before both brute-force sides fan out
    val q = base.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val cnd = base.select(col("vec_id").as("doc_id"),
      col("v").as("nv"), col("norm").as("nnorm"))
    val wv = Window.partitionBy("qid").orderBy(col("cos").desc, col("doc_id"))
    cnd.join(broadcast(q), col("doc_id") =!= col("qid"))
      .withColumn("cos", round(d(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
      .withColumn("vec_rank", row_number().over(wv))
      .where(col("vec_rank") <= k)
      .select(col("qid"), col("doc_id"), col("vec_rank").cast("bigint").as("vec_rank"))
  }

  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val vecRanks = vecTopKRanks(spark, dir, 10)
    val lexRanks = Text.bm25Ranks(spark, dir, 10)
      .select(col("qid"), col("doc_id"), col("rank").as("lex_rank"))
    val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc_id"))
    lexRanks.join(vecRanks, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(wf))
      .where(col("rank") <= 5)
      .select(col("qid").as("vec_id"), col("doc_id"), col("rrf"),
        col("lex_rank"), col("vec_rank"), col("rank").cast("bigint").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** Contrastive-pair mining — the training-data recipe behind dense
    * retrievers (DPR, Karpukhin et al. 2020): for each query doc,
    * surface where the lexical and vector rankers DISAGREE over the
    * same top-10 depth:
    *
    *  - `lex_only`: in BM25's top-10 but not cosine's — high surface
    *    overlap without semantic proximity, the classic BM25-mined
    *    hard negative for dense-retriever training;
    *  - `vec_only`: in cosine's top-10 but not BM25's — semantically
    *    close paraphrase-like docs lexical supervision would miss,
    *    positives-candidates for augmentation.
    *
    * Pure composition of the two rank tables (the BM25 artifact and
    * the exact vector ranks) via anti-joins — query-keyed, Q×10-row
    * sides, no new shuffle shape at any scale.
    * Output: vec_id, doc_id, side, rank (rank within its own ranker). */
  def mineNegatives(spark: SparkSession, dir: String): DataFrame = {
    val vec = vecTopKRanks(spark, dir, 10)
    val lex = Text.bm25Ranks(spark, dir, 10)
      .select(col("qid"), col("doc_id"), col("rank"))
    val vecOnly = vec.join(lex, Seq("qid", "doc_id"), "left_anti")
      .select(col("qid"), col("doc_id"), lit("vec_only").as("side"),
        col("vec_rank").as("rank"))
    val lexOnly = lex.join(vec, Seq("qid", "doc_id"), "left_anti")
      .select(col("qid"), col("doc_id"), lit("lex_only").as("side"), col("rank"))
    vecOnly.unionByName(lexOnly)
      .select(col("qid").as("vec_id"), col("doc_id"), col("side"),
        col("rank").cast("bigint").as("rank"))
      .orderBy("vec_id", "side", "rank")
  }

  /** Metadata filter for the filtered-ANN family, shared with the
    * oracle: eligible corpus = vectors whose joined document has this
    * language. 'de' is ~13% of the corpus at every SF — selective
    * enough that the two strategies genuinely diverge. */
  private[graft] val FilteredLang = "de"

  /** Overfetch beam width AT DRIVER SCALES: the unfiltered walk must
    * carry enough frontier that ~13% selectivity still leaves ≥3
    * eligible answers — the [[PqBeamWidth]] tradeoff applied to
    * filtering. Past n = 2048 the width scales ([[filteredOverfetchFor]]). */
  private[graft] val FilteredOverfetch = 48

  /** In-walk (ACORN-1) beam width for an n-vector filtered walk: 16
    * at the driver scales (n ≤ 2048 — the oracle unrolls the walk at
    * exactly this width, like [[navHopsFor]]'s 3-stage pin), +8 per
    * corpus doubling beyond, capped at 128 (the ef-scaling posture:
    * hold beam/corpus coverage as diameter grows). The constant-16
    * width is WHY round 16's ×10 mixture lap read in-walk 24/30 vs
    * overfetch 30/30 — the eligible beam starves as the corpus grows
    * while the 48-wide overfetch still carries enough frontier; with
    * this ladder both strategies hold their floor at ×1/×10/×100
    * (PERF.md round 17). Deterministic in n, so any engine and the
    * recall audit derive the same width. */
  private[graft] def filteredBeamFor(n: Long): Int = {
    var w = 16
    var m = n
    while (m > 2048 && w < 128) { w += 8; m >>= 1 }
    w
  }

  /** Overfetch width for an n-vector filtered walk:
    * [[FilteredOverfetch]] at the driver scales, +16 per corpus
    * doubling beyond, capped at 192 — the same ladder shape as
    * [[filteredBeamFor]] scaled by the ~3× width the end-filter
    * demands (expected eligible answers in the final beam is
    * width × selectivity, so the unfiltered walk needs the wider
    * frontier at every scale, not just the driver one). */
  private[graft] def filteredOverfetchFor(n: Long): Int = {
    var w = FilteredOverfetch
    var m = n
    while (m > 2048 && w < 192) { w += 16; m >>= 1 }
    w
  }

  /** Eligible-set size at or below which the default filtered search
    * routes to the EXACT tier: the frontier budget the unfiltered
    * walk would score anyway (overfetch width × hop count). When the
    * whole eligible subset fits that budget, scoring it exactly is
    * no more work than navigating toward it — Q × |elig| broadcast
    * dot products, zero graph I/O, recall 1.0 by construction (the
    * pre-filter-then-scan posture every production retrieval stack
    * uses for tiny filters). Deterministic in n, so the oracle and
    * any engine derive the same routing. */
  private[graft] def exactFilterMaxFor(n: Long): Long =
    filteredOverfetchFor(n).toLong * navHopsFor(n)

  /** Eligible vec_ids: embeddings row-aligned to `documents`
    * (vec_id = doc_id), filter on document metadata — P2/P4's
    * predicate discipline applied to the vector path. */
  private def eligibleIds(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .where(col("lang") === FilteredLang)
      .select(col("doc_id").as("node"))

  /** Metadata-filtered ANN search — the capability every production
    * retrieval stack needs (filter by lang/source/date during or
    * after the walk), implemented THREE standard ways over the same
    * navigable-graph artifact so the tradeoff is pinned by the
    * oracle + recall audit rather than folklore:
    *
    *  - `overfetch`: the plain walk with a [[filteredOverfetchFor]]-wide
    *    unfiltered beam; the filter applies once at the end, then
    *    top-3. Simple, reuses the unfiltered index; recall collapses
    *    when selectivity ≪ 3/width (the audit shows exactly this).
    *  - `harvest`: the SAME unfiltered walk, but the answer set
    *    accumulates every eligible candidate ANY hop scored (a
    *    per-hop-checkpointed Q×(width·hops) running table), not just
    *    the final beam's survivors — the ACORN posture proper.
    *    Dominates overfetch by construction at zero extra walk cost;
    *    round-17 measurement: the mixture-regime default reads 30/30
    *    at ×1, ×10, AND ×100 (the ×1 floor closed with the 5-hop ×
    *    beam-48 driver ladder — [[navHopsFor]]/[[navBeamFor]]).
    *  - `inwalk`: the beam (width [[filteredBeamFor]]) holds only
    *    ELIGIBLE nodes, but each hop
    *    expands through neighbors AND neighbors-of-neighbors — the
    *    ACORN-1 construction (Patel et al. 2024): ineligible nodes
    *    serve as BRIDGES for routing without occupying beam slots,
    *    so the walk stays connected inside a sparse eligible subset —
    *    the path that still works when selectivity is so low the
    *    unfiltered frontier carries no eligible nodes at all.
    *
    * Scale shape: identical to [[graphSearch]] — per hop the beam is
    * Q×width rows hash-joined against the edge list and vector
    * table; the 2-hop bridge adds one more bounded equi-join
    * (Q·beam·deg² rows, degree-capped by the graph build). The
    * eligible-id side is a metadata scan pruned to one column. The
    * answers land as one artifact per corpus version shared with the
    * recall audit ([[filteredRecall]]).
    * Output: strategy, vec_id, nbr_id, cos, rank. */
  def filteredSearch(spark: SparkSession, dir: String): DataFrame =
    filteredAnswersShared(spark, dir).orderBy("strategy", "vec_id", "rank")

  /** Strategy the DEFAULT filtered-search entry point picks, from
    * measurables only (corpus size × filter selectivity — the
    * round-16 verdict's ask), three tiers:
    *
    *  - `exact` when |elig| ≤ [[exactFilterMaxFor]] (the eligible set
    *    fits the frontier budget a walk would score anyway): exact
    *    brute force over the eligible subset, recall 1.0 by
    *    construction;
    *  - `harvest` whenever the unfiltered frontier is expected to
    *    carry ≥ 3 eligible answers (overfetchWidth(n) · |elig| ≥
    *    3 · n, integer arithmetic) — backed by the round-17 recall
    *    table (mixture ×1/×10/×100 floors 30/30 under the 5-hop
    *    driver ladder);
    *  - `inwalk` for the mid-selectivity band between them
    *    (eligible-only beam with ACORN bridging — the only WALK whose
    *    frontier stays eligible when the filter is too selective for
    *    harvest but the eligible set is too large to scan). */
  private[graft] def filteredStrategyFor(n: Long, nElig: Long): String =
    if (nElig <= exactFilterMaxFor(n)) "exact"
    else if (filteredOverfetchFor(n).toLong * nElig >= 3L * n) "harvest"
    else "inwalk"

  /** Exact tier of the default filtered search: score EVERY eligible
    * vector against every query — used when |elig| ≤
    * [[exactFilterMaxFor]], where the whole eligible subset fits the
    * frontier budget a walk would score anyway. The eligible vectors
    * broadcast (bounded by the routing rule); the query side streams,
    * so a micro-batch of any size runs map-side. Same 6-dp cosine and
    * (cos DESC, id) tie order as every walk.
    * Output: qid, nbr_id, cos, rank. */
  private[graft] def filteredExactFrom(spark: SparkSession, corpus: DataFrame,
      q: DataFrame, elig: DataFrame): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val cand = corpus
      .join(elig.withColumnRenamed("node", "vec_id"), "vec_id")
      .select(col("vec_id").as("node"), col("v").as("nv"), col("norm").as("nnorm"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("node"))
    q.crossJoin(broadcast(cand))
      .where(col("node") =!= col("qid"))
      .withColumn("cos", round(d(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("qid"), col("node").as("nbr_id"),
        col("cos"), col("rank").cast("bigint").as("rank"))
  }

  /** The DEFAULT metadata-filtered search — [[filteredStrategyFor]]'s
    * three-tier routing from two count aggregates: the `exact` tier
    * derives directly ([[filteredExactFrom]] — tiny eligible set,
    * recall 1.0 by construction); the walk tiers are a slice of the
    * shared answers artifact (no extra walk).
    * Output: vec_id, nbr_id, cos, rank. */
  def filteredSearchAuto(spark: SparkSession, dir: String): DataFrame = {
    val base = vecs(spark, dir)
    val n = base.count()
    val elig = eligibleIds(spark, dir)
    filteredStrategyFor(n, elig.count()) match {
      case "exact" =>
        val q = base.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
        filteredExactFrom(spark, base, q, elig)
          .withColumnRenamed("qid", "vec_id")
          .orderBy("vec_id", "rank")
      case s =>
        filteredAnswersShared(spark, dir)
          .where(col("strategy") === s)
          .select("vec_id", "nbr_id", "cos", "rank")
          .orderBy("vec_id", "rank")
    }
  }

  private[graft] def filteredAnswersShared(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "sim_filtered_answers", dir) {
      val base = vecs(spark, dir).persist()
      val nBase = base.count() // count also materializes the cache
      val hops = navHopsFor(nBase)
      val q = base.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
      val edges = navGraphShared(spark, dir)
      // persist + materialize: the eligible set is broadcast into
      // every hop stage of both walks plus the entry derivation —
      // without this each broadcast re-plans the documents scan
      val elig = eligibleIds(spark, dir).persist()
      elig.count()
      def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)

      // rank a candidate (qid, node) set by cosine, keep best `width`
      def score(c: DataFrame, width: Int): DataFrame = {
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("node"))
        c.distinct()
          .join(base.select(col("vec_id").as("node"),
            col("v").as("nv"), col("norm").as("nnorm")), "node")
          .join(broadcast(q), "qid")
          .where(col("node") =!= col("qid"))
          .withColumn("cos", round(d(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= width)
          .select("qid", "node", "cos", "rn")
      }

      // navHopsFor-scaled synchronous hops; eligOnly restricts BEAM
      // MEMBERSHIP (not
      // expansion); bridge adds the neighbors-of-neighbors frontier;
      // harvest=true additionally ACCUMULATES every eligible candidate
      // the walk scores into a per-hop-checkpointed running table (its
      // own HopStages ladder — Q×(width·hops) rows, bounded).
      // Each walk gets its own HopStages ladder(s) and the artifact
      // release frees them all.
      val allStages = scala.collection.mutable.ArrayBuffer.empty[HopStages]
      def walk(entries: DataFrame, width: Int, eligOnly: Boolean,
          bridge: Boolean, harvest: Boolean): (DataFrame, Option[DataFrame]) = {
        val stages = new HopStages
        allStages += stages
        val hstages = new HopStages
        if (harvest) allStages += hstages
        def keep(c: DataFrame): DataFrame =
          score(if (eligOnly) c.join(broadcast(elig), "node") else c, width)
        def grow(s: DataFrame): DataFrame = {
          val b = s.select("qid", "node")
          val n1 = b.join(edges, "node").select(col("qid"), col("nbr_id").as("node"))
          val exp =
            if (bridge) {
              // dedup the 1-hop frontier before the deg² expansion
              // join (candidate SET unchanged)
              val n1d = n1.distinct()
              val n2 = n1d.join(edges, "node").select(col("qid"), col("nbr_id").as("node"))
              b.unionByName(n1d).unionByName(n2)
            } else b.unionByName(n1)
          keep(exp)
        }
        def eligRows(s: DataFrame): DataFrame =
          s.join(broadcast(elig), "node").select("qid", "node", "cos")
        // per-hop HopStages checkpoint: truncates the doubling plan
        // lineage, frees superseded hop blocks eagerly (see
        // beamSearchReleasable)
        var s = stages.next(keep(q.select("qid").crossJoin(broadcast(entries))))
        var h = if (harvest) Some(hstages.next(eligRows(s))) else None
        for (_ <- 1 to hops) {
          s = stages.next(grow(s))
          // the same (qid, node) reappears across hops with the same
          // deterministic 6-dp cosine, so distinct is an exact dedup
          h = h.map(acc => hstages.next(
            acc.unionByName(eligRows(s)).distinct()))
        }
        (s, h)
      }

      val wg = Window.partitionBy("qid").orderBy(col("cos").desc, col("node"))
      val entO = navEntries(base, None, nBase)
      val (ovfFinal, harv) = walk(entO, filteredOverfetchFor(nBase),
        eligOnly = false, bridge = false, harvest = true)
      val ovf = ovfFinal
        .join(broadcast(elig), "node")
        .withColumn("rank", row_number().over(wg))
        .where(col("rank") <= 3)
        .select(lit("overfetch").as("strategy"), col("qid"), col("node"),
          col("cos"), col("rank"))
      // `harvest` — the ACORN posture proper: navigation is the plain
      // UNFILTERED walk (whose recall holds at every measured scale),
      // and the answer set accumulates every eligible candidate any
      // hop scored, not just the final beam's survivors. Dominates
      // overfetch by construction (final-stage rows ⊆ the accumulated
      // set) at zero extra walk cost; measured round 17: closes the
      // ×10 reversal (30/30 where in-walk reads 24/30) and equals the
      // unfiltered walk's floor at ×1.
      val hv = harv.get
        .withColumn("rank", row_number().over(wg))
        .where(col("rank") <= 3)
        .select(lit("harvest").as("strategy"), col("qid"), col("node"),
          col("cos"), col("rank"))

      val entI = navEntries(base, Some(elig), nBase)
      val inw = walk(entI, filteredBeamFor(nBase), eligOnly = true,
          bridge = true, harvest = false)._1
        .where(col("rn") <= 3)
        .select(lit("inwalk").as("strategy"), col("qid"), col("node"),
          col("cos"), col("rn").as("rank"))

      val out = ovf.unionByName(inw).unionByName(hv)
        .select(col("strategy"), col("qid").as("vec_id"), col("node").as("nbr_id"),
          col("cos"), col("rank").cast("bigint").as("rank"))
      (out, () => { base.unpersist(); elig.unpersist(); allStages.foreach(_.release()) })
    }

  /** Filtered-recall audit: every strategy's top-3 LEFT-joined
    * against the FILTERED brute-force top-3 (exact cosine over the
    * eligible corpus only) — the `graphSearchRecall` discipline, so
    * the cross-engine gate pins each strategy's quality metric, and
    * the in_top3 counts back [[filteredStrategyFor]]'s default rule
    * with data at every measured scale.
    * Output: strategy, vec_id, nbr_id, in_top3, true_rank. */
  def filteredRecall(spark: SparkSession, dir: String): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val base = vecs(spark, dir).persist()
    base.count() // materialize before both brute-force sides fan out
    val q = base.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val cand = base.join(eligibleIds(spark, dir)
        .withColumnRenamed("node", "vec_id"), "vec_id")
      .select(col("vec_id").as("node"), col("v").as("nv"), col("norm").as("nnorm"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("node"))
    val bf = broadcast(q).join(cand, col("node") =!= col("qid"))
      .withColumn("cos", round(d(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("qid").as("vec_id"), col("node").as("nbr_id"), col("rank"))
    filteredAnswersShared(spark, dir).select("strategy", "vec_id", "nbr_id")
      .join(bf, Seq("vec_id", "nbr_id"), "left")
      .select(col("strategy"), col("vec_id"), col("nbr_id"),
        col("rank").isNotNull.as("in_top3"),
        col("rank").as("true_rank"))
      .orderBy("strategy", "vec_id", "nbr_id")
  }

  /** Per-hop checkpoint ladder with DETERMINISTIC block reclamation.
    * Every beam walk materializes each hop through an eager
    * `localCheckpoint` (lineage truncation — see the plan-doubling
    * note in [[beamSearchReleasable]]); the checkpoint blocks,
    * however, are only reclaimed by the ContextCleaner once the
    * backing RDD is garbage-collected on the driver — nondeterministic
    * timing a long-lived streaming query (one walk per micro-batch)
    * cannot rely on. This ladder restores the old persist/unpersist
    * path's eager reclamation: `next` checkpoints a stage and
    * immediately frees the stage it supersedes (fully consumed, the
    * checkpoint was eager), and `release` frees whatever is still
    * live (the final stage) once the caller has materialized its
    * output. One instance per walk; a multi-walk derivation releases
    * each walk's instance in its artifact release handle. */
  private final class HopStages {
    private var live = List.empty[org.apache.spark.rdd.RDD[_]]
    /** Eagerly checkpoint `df` as the newest stage; free superseded stages. */
    def next(df: DataFrame): DataFrame = {
      val out = df.localCheckpoint(true)
      live.foreach(_.unpersist(false))
      live = out.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.toList
      out
    }
    /** Free the final stage's blocks — only after every consumer of
      * the walk's output has materialized (the checkpoint truncated
      * lineage, so a later re-read cannot recompute). */
    def release(): Unit = { live.foreach(_.unpersist(false)); live = Nil }
  }

  /** The beam walk over explicit state — the seam `graphSearch`
    * (artifact-cached corpus) and the streaming search gate
    * (`streaming.VecStreams` probing a landed `NavIndex` release)
    * share. `corpus` is (vec_id, v, norm), `q` is (qid, qv, qnorm) —
    * query ids live in their own id space; a corpus node equal to a
    * qid is excluded as a self-match, which is inert for external
    * queries. `edges` is the undirected navigable graph. Entry set:
    * the 16 lowest corpus vec_ids. Output: qid, nbr_id, cos, rank
    * (the final beam's top-3). */
  private[graft] def beamSearchFrom(spark: SparkSession, corpus: DataFrame,
      q: DataFrame, edges: DataFrame): DataFrame =
    beamSearchReleasable(spark, corpus, q, edges)._1

  /** [[beamSearchReleasable]] under a metadata filter — the in-walk
    * (ACORN-bridged) strategy over explicit state: beam membership
    * restricted to `elig` (node), entries from its 16 lowest ids,
    * expansion through neighbors and neighbors-of-neighbors. The seam
    * the streaming filtered gate (`streaming.VecStreams`) probes. */
  private[graft] def filteredBeamReleasable(spark: SparkSession, corpus: DataFrame,
      q: DataFrame, edges: DataFrame, elig: DataFrame): (DataFrame, () => Unit) =
    beamSearchReleasable(spark, corpus, q, edges, Some(elig))

  /** The `harvest` strategy over explicit state — unfiltered
    * navigation at [[filteredOverfetchFor]] width, answer set
    * accumulated from every eligible candidate any hop scored (the
    * [[filteredAnswersShared]] construction for the streaming gate's
    * index-probe posture). */
  private[graft] def filteredHarvestReleasable(spark: SparkSession, corpus: DataFrame,
      q: DataFrame, edges: DataFrame, elig: DataFrame): (DataFrame, () => Unit) =
    beamSearchReleasable(spark, corpus, q, edges, Some(elig), harvest = true)

  /** `beamSearchFrom` with the final beam-stage cache handle — the
    * streaming gate releases per micro-batch after its sink write
    * (`CachePolicy` exception: a stream has no between-queries runner
    * sweep, and per-batch leaks accumulate for the query's lifetime);
    * batch callers ignore it and lean on the runner contract. */
  private[graft] def beamSearchReleasable(spark: SparkSession, corpus: DataFrame,
      q: DataFrame, edges: DataFrame,
      elig0: Option[DataFrame] = None,
      harvest: Boolean = false): (DataFrame, () => Unit) = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val nCorpus = corpus.count()
    // persist + materialize: the eligible set is broadcast into every
    // hop stage — without this each broadcast re-plans its source
    val elig = elig0.map(_.persist())
    elig.foreach(_.count())
    // harvest navigates UNFILTERED (the eligible set restricts only
    // the accumulated answer rows); in-walk restricts beam membership
    val memberElig = if (harvest) None else elig
    val entries = navEntries(corpus, memberElig, nCorpus)
    // width ladder per mode: the unfiltered serving walk rides
    // [[navBeamFor]] (48 in the entry-pinned driver regime, 16 past
    // 2048 where spread entries + the hop ladder carry recall — 30/30
    // at ×100 mixture); the filtered modes scale like the artifact
    // path's strategies
    val width =
      if (harvest) filteredOverfetchFor(nCorpus)
      else if (elig.isDefined) filteredBeamFor(nCorpus)
      else navBeamFor(nCorpus)

    // score a candidate (qid, node) set and keep the best b per query;
    // under a filter, beam MEMBERSHIP joins the eligible set
    def beam(c0: DataFrame, b: Int): DataFrame = {
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("node"))
      // eligibility before the distinct — map-side broadcast filter
      // shrinks the distinct exchange (same candidate SET)
      val c = memberElig match {
        case Some(e) => c0.join(broadcast(e), "node").distinct()
        case None => c0.distinct()
      }
      c.join(corpus.select(col("vec_id").as("node"),
          col("v").as("nv"), col("norm").as("nnorm")), "node")
        .join(broadcast(q), "qid")
        .where(col("node") =!= col("qid"))
        .withColumn("cos", round(d(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= b)
        .select(col("qid"), col("node"), col("cos"), col("rn"))
    }
    // filtered in-walk hops bridge through neighbors-of-neighbors
    // (ACORN)
    def hop(s: DataFrame): DataFrame = {
      val b0 = s.select("qid", "node")
      val n1 = b0.join(edges, "node").select(col("qid"), col("nbr_id").as("node"))
      val exp = memberElig match {
        case Some(_) =>
          // dedup the 1-hop frontier before the deg² expansion join
          // (candidate SET unchanged)
          val n1d = n1.distinct()
          val n2 = n1d.join(edges, "node").select(col("qid"), col("nbr_id").as("node"))
          b0.unionByName(n1d).unionByName(n2)
        case None => b0.unionByName(n1)
      }
      beam(exp, width)
    }

    // each hop references its input twice (beam keep + expansion), so
    // per-hop state is localCheckpoint'ed (eager): persist alone does
    // NOT truncate the LOGICAL plan — the union embeds the previous
    // hop's tree twice, so the plan doubles per hop and Catalyst
    // planning/tree-rendering goes exponential once hops scale with
    // the corpus (measured: 17 s/hop at ×10, OOM in plan rendering at
    // 7+ hops — the navGraphFrom lesson at beam scale). The HopStages
    // ladder materializes each Q×16-row stage to a flat LogicalRDD,
    // frees superseded hop blocks eagerly, and the release handle
    // frees the final stage — so the streaming gate's per-batch
    // release() is deterministic again instead of waiting on the
    // ContextCleaner noticing a driver GC.
    val hops = navHopsFor(nCorpus)
    val stages = new HopStages
    val hstages = new HopStages
    def eligRows(s: DataFrame): DataFrame =
      s.join(broadcast(elig.get), "node").select("qid", "node", "cos")
    var s = stages.next(beam(q.select("qid").crossJoin(broadcast(entries)), width))
    var h = if (harvest) Some(hstages.next(eligRows(s))) else None
    for (_ <- 1 to hops) {
      s = stages.next(hop(s))
      // the same (qid, node) reappears across hops with the same
      // deterministic 6-dp cosine, so distinct is an exact dedup
      h = h.map(acc => hstages.next(acc.unionByName(eligRows(s)).distinct()))
    }
    val out = h match {
      case Some(acc) =>
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("node"))
        acc.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("qid"), col("node").as("nbr_id"),
            col("cos"), col("rank").cast("bigint").as("rank"))
      case None =>
        s.where(col("rn") <= 3)
          .select(col("qid"), col("node").as("nbr_id"),
            col("cos"), col("rn").cast("bigint").as("rank"))
    }
    (out, () => { elig.foreach(_.unpersist()); stages.release(); hstages.release() })
  }

  /** The MATERIALIZED kNN index, an `ArtifactCache` artifact: the
    * first caller builds the graph and lands it as parquet; every
    * later caller on the same corpus version — the whole graph
    * family: `pagerank`, `labelProp`, `triangles`, `knnClassify`, and
    * the `sim_knn_graph` query itself — reads the same files. A kNN
    * graph is an INDEX ARTIFACT, built once per corpus version and
    * consumed by every downstream graph pass; rebuilding the per-cell
    * self-join five times for five consumers is the thing no real
    * pipeline does. */
  private[graft] def knnGraphShared(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "knn_index", dir)(knnGraphReleasable(spark, dir))

  /** The IVF re-tune ladder: sign-bit split depth for a cell/label of
    * width cn (doc at `knnGraph`). Deterministic in cn, so any engine
    * (and any incremental maintenance pass) derives the same tiers. */
  private[graft] def bitsFor(cn: Column): Column =
    when(cn > 32000, 9).when(cn > 4000, 6).when(cn > 500, 3).otherwise(0)

  /** Cell assignment for vectors against an explicit per-label width
    * table: cell = label + first-`bits` hyperplane-sign characters.
    * Split out of `knnGraphReleasable` so the incremental index
    * assigns delta vectors (and re-assigns tier-crossing labels) with
    * EXACTLY the rule the full build uses. */
  private[graft] def assignCells(v0: DataFrame, widths: DataFrame): DataFrame = {
    val sig9 = concat((1 to 9).map(i =>
      when(element_at(col("v"), i) >= 0, "1").otherwise("0")): _*)
    v0.join(broadcast(widths.select(col("label"), col("cn"))), "label")
      .withColumn("bits", bitsFor(col("cn")))
      .withColumn("cell",
        concat(col("label"), lit("_"), sig9.substr(lit(1), col("bits"))))
  }

  /** The per-cell self-join → top-3-per-vector edge derivation over an
    * already-materialized cell table (cell, vec_id, v, norm).
    * Deterministic given cell membership (6-dp cos, nbr_id tiebreak),
    * which is what makes incremental re-pairing of ONLY touched cells
    * row-identical to a full rebuild. */
  private[graft] def pairCells(spark: SparkSession, v: DataFrame): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val a = v.select(col("cell"), col("vec_id"), col("v"), col("norm"))
    val b = v.select(col("cell"), col("vec_id").as("nbr_id"),
      col("v").as("w"), col("norm").as("nbr_norm"))
    val wR = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
    a.join(b, Seq("cell"))
      .where(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", round(d(col("v"), col("w")) / (col("norm") * col("nbr_norm")), 6))
      .withColumn("rank", row_number().over(wR))
      .where(col("rank") <= 3)
      .select(col("vec_id"), col("nbr_id"), col("cos"), col("rank").cast("bigint").as("rank"))
  }

  /** `knnGraph` plus a release handle for its persisted cell table —
    * call the handle once every consumer of the returned plan has
    * materialized (the plan reads the cache, so releasing earlier
    * would silently recompute). */
  def knnGraphReleasable(spark: SparkSession, dir: String): (DataFrame, () => Unit) = {
    val v0 = vecs(spark, dir)
    val widths = v0.groupBy("label").agg(count(lit(1)).as("cn"))
    val v = assignCells(v0, widths).persist()
    v.count() // materialize before both self-join sides fan out
    (pairCells(spark, v).orderBy("vec_id", "rank"), () => { v.unpersist(); () })
  }

  /** PageRank over the kNN graph — graph-centrality quality
    * propagation on the embedding space (a central document sits in a
    * dense semantic neighborhood; an isolated one is an outlier/noise
    * candidate — the graph-based curation signal alongside per-doc
    * quality scores). Standard damped PageRank with the dangling-mass
    * term, FIVE unrolled synchronous iterations from the uniform
    * start: r' = 0.15/N + 0.85·(Σ_in r/outdeg + dangling/N). Each
    * iteration is one edge-keyed join + aggregate over the persisted
    * O(V·k) edge table plus two 1-row broadcast scalars — the same
    * per-iteration shape GraphX's pregel emits, with no driver
    * collect; each iteration is persisted (tiny O(V) table) so the
    * unrolled lineage stays linear, and a fixed iteration count keeps
    * the result a pure deterministic function both engines can
    * evaluate (the oracle unrolls the identical five steps).
    *
    * Iteration state goes through the SAME parquet round-trip seam as
    * the cluster loop (`IterState`): a per-iteration persist() was
    * measured ESCALATING here exactly like the cluster loop's
    * checkpoint pathology (iterations 2.2 → 1.9 → 2.4 → 4.7 → 14.2 s
    * at sf0.1 — the nested-InMemoryRelation lineage grows each round
    * until plan work dominates), while the out-of-JVM break keeps
    * every iteration flat and makes a long run recoverable.
    *
    * DRIVER TIER (the `Dedup.clustersFromPairs:436` pattern): when the
    * edge list is at most `graft.graph.collectEdgesMax` (default 1M)
    * rows, the five iterations run in one pass of plain arrays on the
    * driver — the same driver budget a broadcast join pays for a
    * relation that size, paid once instead of 5 rounds × (join + agg +
    * parquet barrier), each of which at sf0.1 is pure fixed overhead
    * on a KB-sized rank table. Above the threshold the distributed
    * loop below is the right plan and unchanged. Ranks are 6-dp
    * rounded in both tiers (the established cross-engine float
    * discipline); the tiers agree at that 6-dp contract — the
    * distributed sum's aggregation order is nondeterministic, so
    * pre-rounding bit-identity is NOT claimed — pinned by
    * `SimilarityTierSpec`. Output: vec_id, pagerank (6 dp). */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val graph = knnGraphShared(spark, dir)
    val nodesDf = Tables.embeddings(spark, dir).select(col("vec_id"))
    pagerankFrom(spark, graph.select(col("vec_id"), col("nbr_id")), nodesDf)
  }

  /** Edge-count driver-tier threshold, shared by `pagerankFrom` /
    * `labelPropFrom` / `kcoreFrom`; -1 forces the distributed loop
    * (test seam). Default 1M is MEASURED (3-out-regular
    * graphs, both tiers same session, PERF.md round 16):
    * per-algorithm crossovers sit at ~1.2M (kcore), ~2M (labelProp),
    * ~4M (pagerank) edges, so one shared 1M default keeps every
    * algorithm inside its driver-win region while bounding the
    * driver's edge-array footprint (~32 MB at the threshold). */
  private def collectEdgesMax(spark: SparkSession): Long = {
    val m = spark.conf.getOption("graft.graph.collectEdgesMax")
      .map(_.toLong).getOrElse(1000000L)
    // the driver tiers size Int-indexed arrays from the edge count, so
    // a user-set threshold past Int range must clamp (not wrap in
    // toInt to a negative/truncated size); negative stays the
    // force-distributed test seam
    if (m < 0L) m else math.min(m, Int.MaxValue - 8L)
  }

  /** Core over explicit directed edges + node spine — split out so the
    * tier-invariance test can drive both tiers on the same graph. */
  private[graft] def pagerankFrom(spark: SparkSession, edges0: DataFrame,
                                  nodesDf: DataFrame): DataFrame = {
    val raw = edges0.persist()
    val nEdges = raw.count()
    val collectMax = collectEdgesMax(spark)
    if (collectMax >= 0L && nEdges <= collectMax) {
      // ---- driver tier: arrays + one edge pass per iteration ----
      import spark.implicits._
      val nodeIds = nodesDf.select(col("vec_id")).orderBy("vec_id")
        .as[Long].collect()
      val idx = new java.util.HashMap[java.lang.Long, Integer](nodeIds.length * 2)
      var i = 0
      while (i < nodeIds.length) { idx.put(nodeIds(i), i); i += 1 }
      val srcA = new Array[Int](nEdges.toInt)
      val dstA = new Array[Int](nEdges.toInt)
      val deg = new Array[Int](nodeIds.length)
      val it = raw.toLocalIterator()
      var e = 0
      while (it.hasNext) {
        val r = it.next()
        // off-spine endpoints mirror the distributed tier's join
        // semantics instead of NPEing: an off-spine SOURCE carries no
        // rank (its edges vanish entirely); an off-spine DEST still
        // counts in its source's out-degree but receives no mass
        // (contrib rows to it are dropped by the nodes left-join)
        val si = idx.get(r.getLong(0))
        val di = idx.get(r.getLong(1))
        if (si != null) {
          deg(si.intValue()) += 1
          if (di != null) {
            srcA(e) = si.intValue(); dstA(e) = di.intValue(); e += 1
          }
        }
      }
      raw.unpersist()
      val n = nodeIds.length
      var rank = Array.fill(n)(1.0 / n)
      for (_ <- 1 to 5) {
        val contrib = new Array[Double](n)
        var k = 0
        while (k < e) { contrib(dstA(k)) += rank(srcA(k)) / deg(srcA(k)); k += 1 }
        var dmass = 0.0
        var j = 0
        while (j < n) { if (deg(j) == 0) dmass += rank(j); j += 1 }
        val next = new Array[Double](n)
        j = 0
        while (j < n) {
          next(j) = 0.15 / n + 0.85 * (contrib(j) + dmass / n)
          j += 1
        }
        rank = next
      }
      // HALF_UP like Spark's round(), not rint's HALF_EVEN — the tiers
      // must round identically on exact boundary values
      val rows = nodeIds.indices.map(j =>
        (nodeIds(j), BigDecimal(rank(j))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      return rows.toDF("vec_id", "pagerank").orderBy("vec_id")
    }
    // ---- distributed tier ----
    // contrib aggregates by nbr_id every iteration; partitioning the
    // edge cache on it lets that agg reuse the cached partitioning
    // whenever the rank side arrives by broadcast (AQE converts the
    // tiny parquet-backed rank/deg sides at this scale; at corpus
    // scale they stay shuffle joins, which is the right plan there).
    // Size-aware partition width for the iteration edge cache, same
    // rationale as the cluster loop's (Dedup.clustersFromPairs): five
    // iterations of near-empty full-width tasks cost more than the
    // one extra materialization here
    val confPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nPart = math.max(4, math.min(confPart, (nEdges / 5000L).toInt + 1))
    val edges = raw.repartition(nPart, col("nbr_id")).persist()
    edges.count() // materialize: every iteration joins against this table
    raw.unpersist()
    val deg = edges.groupBy("vec_id").agg(count(lit(1)).as("deg")).persist()
    val nodes = nodesDf.persist()
    // the two loop scalars that are CONSTANT across iterations are
    // resolved to driver literals up front instead of riding 1-row
    // broadcast carriers through every round: n_nodes is an exact
    // O(1) count (documented-legitimate driver scalar, same class as
    // the drawdown partition merge), and the DANGLING NODE SET is
    // fixed by the graph — when it is empty (every kNN node has
    // out-degree >= 1, the common case) the per-iteration dangling
    // branch is exactly 0.0 and both its anti-join and its broadcast
    // exchange are dropped from every round. Measured: the five
    // rounds were paying 2 broadcast-exchange jobs each for values
    // known before the loop starts.
    val nNodes = nodes.count().toDouble
    val danglingNodes = nodes.join(deg, Seq("vec_id"), "left_anti").persist()
    val nDangling = danglingNodes.count()
    val iterDir = s"${IterState.rootFor(spark)}/pagerank_${java.util.UUID.randomUUID().toString.take(8)}"
    val cleanup = IterState.register(spark, iterDir)
    def materialize(df: DataFrame, i: Int): DataFrame = {
      df.write.mode("overwrite").parquet(s"$iterDir/rank_$i")
      spark.read.parquet(s"$iterDir/rank_$i")
    }
    var rank = materialize(nodes.select(col("vec_id"), lit(1.0 / nNodes).as("r")), 0)
    for (i <- 1 to 5) {
      val contrib = edges
        .join(rank, "vec_id").join(deg, "vec_id")
        .groupBy(col("nbr_id").as("vec_id"))
        .agg(sum(col("r") / col("deg")).as("contrib"))
      // adding the dangling term only when dangling nodes exist is
      // float-exact, not an approximation: coalesce(c,0)+0.0/n == c
      // for every non-negative c, so the dropped-branch plan and the
      // general plan emit bit-identical ranks on dangling-free graphs
      val withC = nodes.join(contrib, Seq("vec_id"), "left")
      val next = (if (nDangling == 0L) {
        withC.select(col("vec_id"),
          (lit(0.15 / nNodes) +
            lit(0.85) * coalesce(col("contrib"), lit(0.0))).as("r"))
      } else {
        val dangling = rank.join(danglingNodes, Seq("vec_id"), "left_semi")
          .agg(coalesce(sum(col("r")), lit(0.0)).as("dmass"))
        withC.crossJoin(broadcast(dangling))
          .select(col("vec_id"),
            (lit(0.15 / nNodes) +
              lit(0.85) * (coalesce(col("contrib"), lit(0.0)) + col("dmass") / lit(nNodes)))
              .as("r"))
      })
      rank = materialize(next, i)
      cleanup.rm(s"$iterDir/rank_${i - 1}")
    }
    danglingNodes.unpersist()
    // the final rank is parquet-backed — nothing downstream reads the
    // caches, so release them here rather than leaning on the runner's
    // clearCache() (a long-lived session composing several graph
    // queries would otherwise accumulate executor cache)
    edges.unpersist(); deg.unpersist(); nodes.unpersist()
    rank.select(col("vec_id"), round(col("r"), 6).as("pagerank"))
      .orderBy("vec_id")
  }

  /** Community detection by synchronous LABEL PROPAGATION over the
    * symmetrized kNN graph — the lightweight community signal (topic
    * clusters in embedding space) that needs no target cluster count,
    * complementing `kmeans` (fixed k) and `clusters` (threshold
    * components). THREE unrolled synchronous rounds from
    * label = own id; each round every node adopts its neighbors'
    * majority label with the deterministic (votes DESC, label ASC)
    * tie-break, so both engines propagate identically — the classic
    * async/random-order LPA is unreproducible across engines by
    * construction, and the synchronized variant is the one a
    * distributed engine would run anyway (one join + count + argmax
    * per round over the edge table, the pregel superstep shape).
    * Iteration state goes through the `IterState` parquet seam like
    * `pagerank` (measured there: per-round persist lineage escalates;
    * the out-of-JVM break keeps rounds flat). Per-round cost is one
    * edge-keyed join + one (node,label) aggregate + one O(V) argmax
    * window partitioned by node — linear in edges at any graph size.
    *
    * DRIVER TIER (the `Dedup.clustersFromPairs:436` pattern, same
    * threshold conf as `pagerank`): at most `graft.graph.collectEdgesMax`
    * undirected edges collect once and the 3 synchronous rounds run
    * over CSR adjacency arrays on the driver — integer vote counting,
    * so the tiers are trivially bit-identical (pinned by
    * `SimilarityTierSpec`). At sf0.1 the rounds are pure fixed overhead (KB label
    * tables through a parquet barrier each); above the threshold the
    * pregel-shaped loop below is the right plan and unchanged.
    * Output: vec_id, community. */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val graph = knnGraphShared(spark, dir)
    labelPropFrom(spark, graph.select(col("vec_id"), col("nbr_id")),
      Tables.embeddings(spark, dir).select(col("vec_id")))
  }

  /** Core over explicit directed edges + node spine — split out so the
    * tier-invariance test can drive both tiers on the same graph. */
  private[graft] def labelPropFrom(spark: SparkSession, graphEdges: DataFrame,
                                   nodesDf: DataFrame): DataFrame = {
    val und0 = graphEdges.select(
        least(col("vec_id"), col("nbr_id")).as("a"),
        greatest(col("vec_id"), col("nbr_id")).as("b"))
      .distinct().persist()
    val nUnd = und0.count()
    val collectMax = collectEdgesMax(spark)
    if (collectMax >= 0L && nUnd <= collectMax) {
      // ---- driver tier: CSR adjacency + 3 synchronous rounds ----
      import spark.implicits._
      val nodeIds = nodesDf.select(col("vec_id")).orderBy("vec_id")
        .as[Long].collect()
      val idx = new java.util.HashMap[java.lang.Long, Integer](nodeIds.length * 2)
      var i = 0
      while (i < nodeIds.length) { idx.put(nodeIds(i), i); i += 1 }
      val n = nodeIds.length
      val ea = new Array[Int](nUnd.toInt)
      val eb = new Array[Int](nUnd.toInt)
      val degree = new Array[Int](n)
      val it = und0.toLocalIterator()
      var e = 0
      while (it.hasNext) {
        val r = it.next()
        // off-spine endpoints: the distributed tier drops any edge
        // direction touching a node outside the spine (the label join
        // + spine left-join), so an edge with either endpoint missing
        // contributes no votes — skip it here instead of NPEing
        val ai = idx.get(r.getLong(0))
        val bi = idx.get(r.getLong(1))
        if (ai != null && bi != null) {
          ea(e) = ai.intValue(); eb(e) = bi.intValue()
          degree(ea(e)) += 1; degree(eb(e)) += 1
          e += 1
        }
      }
      und0.unpersist()
      val start = new Array[Int](n + 1)
      i = 0
      while (i < n) { start(i + 1) = start(i) + degree(i); i += 1 }
      val adj = new Array[Int](2 * e)
      val fill = java.util.Arrays.copyOf(start, n)
      var k = 0
      while (k < e) {
        adj(fill(ea(k))) = eb(k); fill(ea(k)) += 1
        adj(fill(eb(k))) = ea(k); fill(eb(k)) += 1
        k += 1
      }
      var labels: Array[Long] = java.util.Arrays.copyOf(nodeIds, n)
      val votes = new java.util.HashMap[java.lang.Long, Integer]()
      for (_ <- 1 to 3) {
        val next = new Array[Long](n)
        var v = 0
        while (v < n) {
          if (degree(v) == 0) next(v) = labels(v) // isolated node keeps its label
          else {
            votes.clear()
            var p = start(v)
            while (p < start(v + 1)) {
              votes.merge(labels(adj(p)), 1, (x, y) => x + y)
              p += 1
            }
            // deterministic (votes DESC, label ASC) — same tie-break
            // as the distributed argmax window
            var bestLab = Long.MaxValue
            var bestVotes = -1
            val en = votes.entrySet().iterator()
            while (en.hasNext) {
              val kv = en.next()
              val lab = kv.getKey.longValue(); val c = kv.getValue.intValue()
              if (c > bestVotes || (c == bestVotes && lab < bestLab)) {
                bestVotes = c; bestLab = lab
              }
            }
            next(v) = bestLab
          }
          v += 1
        }
        labels = next
      }
      return nodeIds.indices.map(j => (nodeIds(j), labels(j)))
        .toDF("vec_id", "community").orderBy("vec_id")
    }
    // ---- distributed tier ----
    val edges = und0.select(col("a").as("v"), col("b").as("n"))
      .unionAll(und0.select(col("b").as("v"), col("a").as("n")))
      .persist()
    edges.count() // materialize: every round joins against this table
    und0.unpersist()
    val nodes = nodesDf.persist()
    nodes.count()
    val iterDir = s"${IterState.rootFor(spark)}/labelprop_${java.util.UUID.randomUUID().toString.take(8)}"
    val cleanup = IterState.register(spark, iterDir)
    def materialize(df: DataFrame, i: Int): DataFrame = {
      df.write.mode("overwrite").parquet(s"$iterDir/lab_$i")
      spark.read.parquet(s"$iterDir/lab_$i")
    }
    var labels = materialize(nodes.select(col("vec_id"), col("vec_id").as("lab")), 0)
    val wV = Window.partitionBy("v").orderBy(col("votes").desc, col("lab"))
    for (i <- 1 to 3) {
      val winner = edges
        .join(labels.select(col("vec_id").as("n"), col("lab")), "n")
        .groupBy(col("v"), col("lab")).agg(count(lit(1)).as("votes"))
        .withColumn("rn", row_number().over(wV)).where(col("rn") === 1)
        .select(col("v").as("vec_id"), col("lab").as("new_lab"))
      // left join + coalesce: a node with no neighbors keeps its label
      // (cannot occur on a kNN graph — every node has out-degree k —
      // but the general-graph form is what this operator contracts to)
      val next = labels.join(winner, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("new_lab"), col("lab")).as("lab"))
      labels = materialize(next, i)
      cleanup.rm(s"$iterDir/lab_${i - 1}")
    }
    edges.unpersist(); nodes.unpersist()
    labels.select(col("vec_id"), col("lab").as("community")).orderBy("vec_id")
  }

  /** 2-core of the MUTUAL kNN graph — FIVE unrolled peeling rounds
    * over the reciprocal-edge backbone: an edge survives only when
    * BOTH endpoints rank each other in their top-3 (the mutual-kNN
    * graph standard in density clustering — one-sided edges from hubs
    * carry no reciprocity signal; note the plain symmetrized k=3
    * graph is degenerate for cores: every node has degree ≥ 3 there,
    * so its 3-core is everything and its 4-core peels to empty).
    * Each round drops nodes with mutual degree < 2 and recomputes
    * degrees over the induced subgraph — peeling off reciprocal-pair
    * "whiskers" until only cyclically-connected dense regions remain,
    * the backbone a curation pass treats as topic cores. A fixed
    * round count keeps the result a pure deterministic function both
    * engines evaluate identically (the oracle unrolls the same five
    * rounds); mutual-kNN peeling converges in 2–3 rounds, so round 5
    * is already the fixpoint in practice. Per round: one degree
    * aggregate + two semi-joins — O(edges) at any graph size, each
    * round persisted (tiny O(E) table) so the unrolled lineage stays
    * linear. Output: vec_id, deg (nodes surviving all peels, with
    * their in-core mutual degree). */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val g = knnGraphShared(spark, dir).select(col("vec_id"), col("nbr_id"))
    val mutual = g.as("g1")
      .join(g.as("g2"),
        col("g2.vec_id") === col("g1.nbr_id") && col("g2.nbr_id") === col("g1.vec_id"))
      .where(col("g1.vec_id") < col("g1.nbr_id"))
      .select(col("g1.vec_id").as("a"), col("g1.nbr_id").as("b"))
    kcoreFrom(spark, mutual)
  }

  /** The peel over an explicit undirected (a, b) edge list — split
    * out so the property test drives constructed graphs through the
    * distributed rounds against a reference peel.
    *
    * DRIVER TIER (round 16 — the `pagerankFrom`/`labelPropFrom`
    * pattern, same `graft.graph.collectEdgesMax` threshold): at most
    * collectEdgesMax edges collect once and the 5 peel rounds run
    * over plain long arrays — integer degree counting, so the tiers
    * are trivially bit-identical (pinned by `SimilarityTierSpec`).
    * Below the threshold the distributed loop's per-round parquet
    * barrier (the mandatory IterState seam — see the in-code note) is
    * pure fixed overhead on a KB-sized edge table; above it the
    * seam-broken loop below is the right plan and unchanged. */
  private[graft] def kcoreFrom(spark: SparkSession, und0in: DataFrame): DataFrame = {
    val und = und0in.select("a", "b").persist()
    val nUnd = und.count()
    val collectMax = collectEdgesMax(spark)
    if (collectMax >= 0L && nUnd <= collectMax) {
      // ---- driver tier: long arrays + up-to-5 synchronous peels ----
      import spark.implicits._
      val ea = new Array[Long](nUnd.toInt)
      val eb = new Array[Long](nUnd.toInt)
      val it = und.toLocalIterator()
      var e = 0
      while (it.hasNext) {
        val r = it.next()
        ea(e) = r.getLong(0); eb(e) = r.getLong(1); e += 1
      }
      und.unpersist()
      val alive = new Array[Boolean](e)
      java.util.Arrays.fill(alive, true)
      def degrees(): java.util.HashMap[java.lang.Long, java.lang.Long] = {
        val d = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        var i = 0
        while (i < e) {
          if (alive(i)) {
            d.merge(ea(i), 1L, (x, y) => x + y)
            d.merge(eb(i), 1L, (x, y) => x + y)
          }
          i += 1
        }
        d
      }
      var removed = true
      var round = 1
      while (round <= 5 && removed) {
        val d = degrees()
        removed = false
        var i = 0
        while (i < e) {
          if (alive(i) &&
              (d.get(ea(i)) < 2L || d.get(eb(i)) < 2L)) {
            alive(i) = false; removed = true
          }
          i += 1
        }
        round += 1
      }
      val fin = degrees()
      val out = new Array[(Long, Long)](fin.size())
      val en = fin.entrySet().iterator()
      var j = 0
      while (en.hasNext) {
        val kv = en.next()
        out(j) = (kv.getKey.longValue(), kv.getValue.longValue()); j += 1
      }
      spark.createDataset(out.toSeq.sortBy(_._1)).toDF("vec_id", "deg")
    } else kcoreDistributed(spark, und)
  }

  /** The seam-broken distributed peel (the above-threshold tier). */
  private def kcoreDistributed(spark: SparkSession, und: DataFrame): DataFrame = {
    val k = 2
    // each round references the previous edge set three times (degree
    // union twice + the induced-subgraph join), so the unrolled
    // lineage grows 3^rounds without a hard break — the same
    // nested-plan pathology as the cluster loop; iteration state goes
    // through the IterState parquet seam (flat per-round plans).
    // Round 15 re-tried in-memory persist() for this hard-capped
    // 5-round loop: persist caches DATA but leaves the LOGICAL plan
    // tripling per round, and AQE's plan explain-string render walks
    // the shared subtrees as a TREE — the terminal action on the
    // converged lineage tried to materialize 3^rounds copies of the
    // knn-self-join subplan text and OOMed an 8 GB driver on 1,500
    // edges. The parquet cycle per round is the price of flat plans;
    // don't re-try without a real plan break.
    val iterDir = s"${IterState.rootFor(spark)}/kcore_${java.util.UUID.randomUUID().toString.take(8)}"
    val cleanup = IterState.register(spark, iterDir)
    // edge count rides the write job (Observation API, the cluster
    // loop's convergence idiom): a round that removes no edge proves
    // every later round a no-op, so stopping early is OUTPUT-IDENTICAL
    // to the contract's five unrolled rounds (the oracle runs all
    // five; its tail rounds are the same no-ops) — at sf0.1 peeling
    // converges by round 2–3, saving the fixed parquet-cycle cost of
    // the provably-dead tail
    def mat(df: DataFrame, i: Int): (DataFrame, Long) = {
      val path = s"$iterDir/e_$i"
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(path)
      val n = obs.get.get("n").flatMap(Option(_)).fold(0L)(_.asInstanceOf[Long])
      (spark.read.parquet(path), n)
    }
    var (edges, nEdges) = mat(und.select("a", "b"), 0)
    und.unpersist() // e_0 is landed; the tier probe's cache is done
    var i = 1
    var converged = false
    while (i <= 5 && !converged) {
      val deg = edges.select(col("a").as("v")).unionAll(edges.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val keep = deg.where(col("d") >= k).select("v")
      val (next, nNext) = mat(
        edges
          .join(keep.select(col("v").as("a")), "a")
          .join(keep.select(col("v").as("b")), "b")
          .select("a", "b"),
        i)
      cleanup.rm(s"$iterDir/e_${i - 1}")
      converged = nNext == nEdges
      edges = next
      nEdges = nNext
      i += 1
    }
    edges.select(col("a").as("v")).unionAll(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .select(col("v").as("vec_id"), col("deg"))
      .orderBy("vec_id")
  }

  /** Per-node triangle counts on the kNN graph — the local clustering
    * signal that separates docs inside dense semantic neighborhoods
    * from bridge/outlier docs (a triangle-rich node's neighbors agree
    * with each other). Standard distributed triangle counting: the
    * graph is symmetrized and deduplicated to canonical a<b edges,
    * then two edge-keyed equi-joins enumerate each triangle exactly
    * once as a<b<c; each member node gets credit via one union +
    * aggregate. Every join is on an edge endpoint — no enumeration
    * beyond actual wedges, the same shape at any graph size.
    * Output: vec_id, n_triangles (nodes in >= 1 triangle). */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val graph = knnGraphShared(spark, dir)
    val und = graph.select(col("vec_id"), col("nbr_id"))
    val e = und
      .select(least(col("vec_id"), col("nbr_id")).as("a"),
        greatest(col("vec_id"), col("nbr_id")).as("b"))
      .distinct()
      .persist()
    e.count() // materialize before the three join sides fan out
    val tri = e.as("ab")
      .join(e.select(col("a").as("b"), col("b").as("c")).as("bc"), "b")
      .join(e.select(col("a"), col("b").as("c")).as("ac"), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("vec_id")
  }

  /** Random-projection (Johnson–Lindenstrauss) audit: project 64-dim
    * embeddings to 16 dims through deterministic ±1 hyperplanes
    * (sign of md5(j ++ '_' ++ i) — both engines derive the identical
    * matrix from nothing but the hash, no shared state or RNG), then
    * report, for each query vector's true top-3 neighbors, the cosine
    * in the original vs the projected space and the absolute error —
    * the measurement that justifies (or rejects) shipping 4× smaller
    * vectors to the ANN index. The projection is map-side per vector;
    * the audit join is the bounded <=10-row query side of
    * `bruteForceTopK`. The ±1 matrix is precomputed DRIVER-SIDE from
    * the same md5 rule and folded into 16 codegen'd `graft_dot` calls
    * against array literals — the oracle's per-row
    * `substr(md5(j_i),1,1) < '8'` test is exactly "high bit of the
    * digest's first byte is 0", so both derivations are provably the
    * same matrix, and the projection stays on the codegen path (the
    * interpreted HOF `aggregate` form measured 2.4 s vs 1.4 s
    * steady-state for the whole query — the remainder is the
    * brute-force cos64 join).
    * Output: vec_id, nbr_id, rank, cos64, cos16, err. */
  def rpAudit(spark: SparkSession, dir: String): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val md = java.security.MessageDigest.getInstance("MD5")
    // hex digit < '8'  <=>  (digest[0] & 0x80) == 0
    val signs: IndexedSeq[Array[Double]] = (0 until 16).map(j =>
      Array.tabulate(64)(i =>
        if ((md.digest(s"${j}_${i + 1}".getBytes("UTF-8"))(0) & 0x80) == 0) 1.0 else -1.0))
    val proj = array((0 until 16).map(j => d(col("v"), typedLit(signs(j)))): _*)
    val pv = vecs(spark, dir).withColumn("p", proj).persist()
    pv.count() // materialize before both audit-join sides fan out
    val q = pv.where(col("vec_id") < 10)
      .select(col("vec_id"), col("v"), col("norm"), col("p").as("qp"))
    val c = pv.select(col("vec_id").as("nbr_id"), col("v").as("w"),
      col("norm").as("nbr_norm"), col("p").as("np"))
    val wR = Window.partitionBy("vec_id").orderBy(col("cos64").desc, col("nbr_id"))
    c.join(broadcast(q), col("vec_id") =!= col("nbr_id"))
      .withColumn("cos64", round(d(col("v"), col("w")) / (col("norm") * col("nbr_norm")), 6))
      .withColumn("cos16", round(
        d(col("qp"), col("np")) /
          (sqrt(d(col("qp"), col("qp"))) * sqrt(d(col("np"), col("np")))), 6))
      .withColumn("rank", row_number().over(wR))
      .where(col("rank") <= 3)
      .select(col("vec_id"), col("nbr_id"), col("rank").cast("bigint").as("rank"),
        col("cos64"), col("cos16"), round(abs(col("cos64") - col("cos16")), 6).as("err"))
      .orderBy("vec_id", "rank")
  }

  /** IVF-style ANN — the second scale path alongside sign-LSH
    * (`lshTopK`): cells are the label clusters with their mean vector
    * as the coarse quantizer; each query (vec_id < 10) probes its
    * nprobe=2 nearest cells by centroid cosine and searches top-3 over
    * their union — probing >1 cell is what recovers true neighbors
    * sitting just across a cell boundary (the first recall failure a
    * one-probe IVF hits; pinned by a constructed boundary-vector unit
    * test). At 100 TB: centroids are a k-row broadcast, cell
    * assignment is map-side, and the search join shuffles on the cell
    * key — per-query work is O(nprobe · cell size), never O(n).
    * Output: vec_id, cell, nbr_id, cos, rank. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir).persist()
    v.count() // materialize before the centroid/probe/search consumers fan out
    ivfTopKFrom(spark, v, nprobe = 2)
  }

  /** Core over an explicit (vec_id, v, label, norm) table with a
    * parameterized probe count — split out so tests can drive
    * constructed boundary vectors at nprobe 1 vs 2. Cells partition the
    * vectors (one label each), so the probed cells' member sets are
    * disjoint and the union needs no dedup; `cell` in the output is the
    * cell the neighbor was found in. */
  private[graft] def ivfTopKFrom(spark: SparkSession, v: DataFrame, nprobe: Int): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val centroids = broadcast(
      centroidTable(spark, v)
        .withColumn("cnorm", sqrt(VectorFunctions.dot(spark, col("centroid"), col("centroid")))))
    val wCell = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("label"))
    // bounded cross: 10 query rows × k centroids, centroids broadcast —
    // the one intentional nested-loop in this module (k is tiny by design)
    val probes = v.where(col("vec_id") < 10)
      .select(col("vec_id"), col("v"), col("norm")) // drop own label: the cell comes from the probe
      .crossJoin(centroids)
      .withColumn("ccos", round(d(col("v"), col("centroid")) / (col("norm") * col("cnorm")), 6))
      .withColumn("rn", row_number().over(wCell))
      .where(col("rn") <= nprobe)
      .select(col("vec_id"), col("v"), col("norm"), col("label").as("cell"))
    val wRank = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
    v.select(col("label").as("cell"), col("vec_id").as("nbr_id"),
        col("v").as("w"), col("norm").as("nbr_norm"))
      .join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", round(d(col("v"), col("w")) / (col("norm") * col("nbr_norm")), 6))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= 3)
      .select(col("vec_id"), col("cell"), col("nbr_id"), col("cos"),
        col("rank").cast("bigint").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means clusters the embedding space, then
    * near-identical pairs are pruned WITHIN each cluster — the
    * semantic partition is what makes the pairwise step tractable and
    * meaningful (cross-topic false positives never become candidates).
    * Here the within-cluster candidate generation reuses the banded
    * sign-LSH equi-join (`cosineNearDupFrom`, loose threshold so the
    * gate SFs are non-empty) rather than a per-cluster all-pairs: a
    * pair must share an LSH band AND a k-means cluster. Keeper
    * election is the deterministic greedy keep-first: a vector is
    * dropped iff a lower-id near-identical same-cluster vector exists;
    * `dup_of` names the smallest such witness.
    *
    * Scale (100 TB): the kmeans assignment is a broadcast-centroid
    * pass (k rows), candidates come from the banded equi-join — never
    * O(cluster²) — and the cluster-agreement filter is two hash joins
    * on vec_id. Output: vec_id, cluster, keep, dup_of. */
  /** Per-label embedding diversity audit: cluster population, mean
    * and max squared L2 distance to the label centroid — dispersion
    * is the trace of the within-cluster covariance, the number that
    * says whether a cluster is a tight near-dup clump (candidate for
    * aggressive `semDedup`) or genuinely diverse content worth
    * keeping. Per-row distances are 6-dp rounded (the `kmeansAssign`
    * discipline) so the averages are cross-engine exact.
    *
    * Scale: one centroid aggregation (map-side partial over (label,
    * pos)), then a broadcast of k centroid rows and a map-side
    * distance pass — no self-join anywhere.
    * Output: label, n, dispersion, radius. */
  def diversity(spark: SparkSession, dir: String): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val v = vecs(spark, dir).persist()
    v.count() // materialize before the centroid + distance consumers fan out
    val cent = centroidTable(spark, v.select(col("label"), col("v")))
    v.join(broadcast(cent), "label")
      .withColumn("d2",
        round(d(col("v"), col("v")) - lit(2.0) * d(col("v"), col("centroid"))
          + d(col("centroid"), col("centroid")), 6))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg(col("d2")), 6).as("dispersion"),
        max(col("d2")).as("radius"))
      .orderBy("label")
  }

  /** Embedding outlier audit: the 10 vectors farthest from their
    * label centroid RELATIVE to the label's own dispersion (squared
    * distance over mean squared distance) — the mislabeled/garbage-
    * vector review queue (a corrupt embedding or a wrong label lands
    * far outside its cluster's spread; dividing by dispersion keeps a
    * naturally-wide cluster from hogging the list). Rank-based rather
    * than a fixed ratio cut so the report is non-degenerate on any
    * corpus geometry. Same centroid-broadcast construction as
    * `diversity`; the top-k is a distributed TakeOrdered on the
    * 6-dp ratio with vec_id tiebreak.
    * Output: vec_id, label, d2, dispersion, ratio. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    def d(a: Column, b: Column) = VectorFunctions.dot(spark, a, b)
    val v = vecs(spark, dir).persist()
    v.count() // materialize before the centroid + distance consumers fan out
    val cent = centroidTable(spark, v.select(col("label"), col("v")))
    val d2 = v.join(broadcast(cent), "label")
      .withColumn("d2",
        round(d(col("v"), col("v")) - lit(2.0) * d(col("v"), col("centroid"))
          + d(col("centroid"), col("centroid")), 6))
      .select("vec_id", "label", "d2")
    val disp = d2.groupBy("label").agg(round(avg(col("d2")), 6).as("dispersion"))
    d2.join(broadcast(disp), "label")
      .withColumn("ratio", round(col("d2") / col("dispersion"), 6))
      .select("vec_id", "label", "d2", "dispersion", "ratio")
      .orderBy(col("ratio").desc, col("vec_id"))
      .limit(10)
  }

  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    // both inputs are landed artifacts (assignment + loose pairs):
    // the query itself is two hash joins and a per-doc min
    val asg = kmeansArt(spark, dir).select("vec_id", "cluster").persist()
    asg.count() // materialize: read by both pair sides and the output spine
    val pairs = loosePairsArt(spark, dir)
    val sameCluster = pairs
      .join(asg.select(col("vec_id").as("doc_a"), col("cluster").as("ca")), "doc_a")
      .join(asg.select(col("vec_id").as("doc_b"), col("cluster").as("cb")), "doc_b")
      .where(col("ca") === col("cb"))
    val dup = sameCluster.groupBy(col("doc_b").as("vec_id"))
      .agg(min(col("doc_a")).as("dup_of"))
    asg.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNull.as("keep"), col("dup_of"))
      .orderBy("vec_id")
  }

  /** Embedding norm audit per label: count, min/max norm, and the
    * mean — the sanity pass before any cosine machinery (a label with
    * collapsed or exploding norms poisons similarity downstream). The
    * mean is order-insensitive-exact: norms are rounded to 6 dp (a
    * 6-dp-rounded double is within ~1e-16 of k/1e6, so the decimal
    * cast lands on the same k in both engines), summed as
    * DECIMAL(18,6), and divided once. Min/max need no such care.
    * One label-keyed rollup. Output: label, n, min_norm, max_norm,
    * mean_norm. */
  def normAudit(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("label").cast("bigint").as("label"),
        round(col("norm"), 6).as("n6"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        min(col("n6")).as("min_norm"),
        max(col("n6")).as("max_norm"),
        round(sum(col("n6").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
          .as("mean_norm"))
      .orderBy("label")

  /** Leave-one-out kNN label accuracy — the standard embedding-quality
    * eval: predict each vector's label by majority vote of its 3
    * nearest in-cell neighbors (`knnGraph`'s edge set), tiebreak on
    * the smaller label, and score accuracy per true label. A vector
    * whose cell holds no other member gets no prediction and drops
    * from the denominator (the classifiable subset, stated in the
    * output's n). Costs are the knn graph's (per-cell self-join,
    * width-capped) plus two label-dim hash joins — nothing beyond the
    * graph build. Output: label, n, correct, acc. */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("bigint").as("label"))
    val wVote = Window.partitionBy("vec_id").orderBy(col("votes").desc, col("nbr_label"))
    val pred = knnGraphShared(spark, dir)
      .join(labels.select(col("vec_id").as("nbr_id"), col("label").as("nbr_label")), "nbr_id")
      .groupBy("vec_id", "nbr_label").agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(wVote))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("nbr_label").as("pred"))
    pred.join(labels, "vec_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("correct"))
      .withColumn("acc", round(col("correct").cast("double") / col("n"), 6))
      .orderBy("label")
  }
}
