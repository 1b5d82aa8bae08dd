package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{ArtifactCache, Tables}

/** Deduplication operators for LLM training-data pipelines over the
  * `documents` table: exact (hash-groupBy), prefix near-exact,
  * MinHash + LSH band candidate generation, n-gram Jaccard
  * verification, and SimHash signatures.
  *
  * Hash parity note: every hash is `md5` over an explicitly
  * constructed string, so Spark and the DuckDB oracle compute
  * identical signatures; MinHash "permutations" are md5 with a salt
  * prefix, minimized lexicographically over the hex strings (a valid
  * uniform min-hash; engine-portable, unlike murmur-based builtins).
  *
  * Scale notes (100 TB): exact dedup is one shuffle on the content
  * hash. MinHash is the scale path for near-dup: shingle explode is
  * map-side, signatures are one groupBy(doc), band buckets are a
  * self-equi-join on (band, key) — candidate pairs only, never the
  * O(n²) cross join. Jaccard verification touches only the candidate
  * pairs. Skewed buckets (boilerplate docs) are AQE skew-join
  * territory for the shuffle itself; candidate blow-up from oversized
  * buckets is bounded by the `MaxBucket` bucket-width cap in
  * `pairsFromBands` (measured on the adversarial boilerplate corpus —
  * see PERF.md).
  */
object Dedup {

  /** Exact dedup by full-content hash: every doc keyed by md5(text),
    * keeper = lowest doc_id in its group.
    * Output: doc_id, h, keep. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("h")
    Tables.documents(spark, dir)
      .withColumn("h", md5(col("text")))
      .withColumn("keep", (col("doc_id") === min(col("doc_id")).over(w)).cast("boolean"))
      .select("doc_id", "h", "keep")
      .orderBy("doc_id")
  }

  /** Near-exact dedup on a 40-char prefix hash: duplicate groups only.
    * Output: h, n_dups, keep_id. */
  def prefix(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(substring(col("text"), 1, 40)).as("h"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
      .where(col("n_dups") > 1)
      .orderBy("h")

  /** Bloom-filter width ladder for the exact-dedup pre-filter: 2^17
    * bits at the driver scales (state ≤ 4096 fingerprints — every
    * oracle pins m = 131072 and the rule is pinned to agree there),
    * +1 bit per state doubling beyond, so the load k·n/m stays ≤ 1/8
    * and the false-positive rate ≈ (1−e^(−1/8))⁴ ≈ 2·10⁻⁴ at any
    * scale. Deterministic in n — any engine (and a delta probe run
    * weeks later against a landed bitmap of known width) derives the
    * same m. Cap 2^30 bits = 128 MiB of bitmap, still broadcastable. */
  private[graft] def bloomBits(n: Long): Int = {
    var b = 17
    while (b < 30 && n > (1L << (b - 5))) b += 1
    b
  }

  /** k=4 bit positions per fingerprint: four salted md5 draws
    * (`md5(fp|j)` for j = 0..3), 56 bits each, mod m. Same
    * engine-portable hash discipline as every signature in this file
    * — the DuckDB oracle computes identical positions. */
  private def bloomPositions(fps: DataFrame, m: Long): DataFrame =
    fps.select(col("*"), explode(array((0 until 4).map(lit): _*)).as("j"))
      .withColumn("pos",
        conv(substring(md5(concat(col("fp"), lit("|"), col("j").cast("string"))), 1, 14), 16, 10)
          .cast("long") % m)

  /** The packed bitmap: one row per non-empty 64-bit word,
    * `bits` = OR of the member bits. At 2^17 bits this is ≤ 2048
    * rows; at the 2^30 cap ≤ 16M rows / 128 MiB — the whole point is
    * that the STATE (billions of fingerprints at 100 TB) compresses
    * to a broadcastable summary. */
  private[graft] def bloomBitmap(stateFps: DataFrame, m: Long): DataFrame =
    bloomPositions(stateFps, m)
      .select(expr("pos div 64").as("w"), (col("pos") % 64).cast("int").as("bit"))
      .groupBy("w")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bits"))

  /** Per-fingerprint Bloom verdict for a delta table against a packed
    * bitmap: `maybe` = all four positions hit. The probe is a
    * broadcast left join on the word index + a bit test — MAP-SIDE,
    * no shuffle against the state — followed by one groupBy on the
    * probing key. A miss on any position is a PROOF of novelty (no
    * false negatives, by construction); only `maybe` rows need the
    * exact state join. `maybe` is ALL positions hit (min over the
    * per-position verdicts), not a hit COUNT == 4: the min form is
    * multiplicity-proof, so a caller that ever passes duplicate delta
    * rows (at-least-once re-delivery) cannot collapse two rows into
    * one hits=8 group and silently invert the no-false-negative
    * guarantee. */
  private def bloomProbe(delta: DataFrame, bitmap: DataFrame, m: Long): DataFrame =
    bloomPositions(delta, m)
      .withColumn("w", expr("pos div 64"))
      .join(broadcast(bitmap), Seq("w"), "left")
      .withColumn("hit",
        expr("bits IS NOT NULL AND (bits & shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))) != 0"))
      .groupBy(delta.columns.map(col): _*)
      .agg(min(when(col("hit"), 1L).otherwise(0L)).as("allhit"))
      .withColumn("maybe", col("allhit") === 1L)
      .drop("allhit")

  /** Broadcast Bloom pre-filter for incremental exact dedup — the
    * shape that makes cross-release exact dedup ship at 100 TB. The
    * naive delta-vs-state check is a shuffle join of the delta against
    * EVERY prior fingerprint (the state side is corpus-sized and
    * re-shuffles on every release). The Bloom path: the state's
    * fingerprints compress once into a packed bitmap artifact
    * ([[bloomBitmap]]; k = 4 salted-md5 positions, width by the
    * [[bloomBits]] ladder), the delta probes it map-side via a
    * broadcast word join, and only the `maybe` sliver — true dups
    * plus the ≈2·10⁻⁴ false-positive tail — pays the exact state
    * join. No false negatives by construction (a definite-new verdict
    * proves at least one unset bit).
    *
    * This audit query classifies every delta document (the
    * deterministic 25% release slice doc_id % 4 == 0) against the
    * state (the other 75%) and reports the Bloom verdict NEXT TO the
    * exact truth, so the false-positive behavior is itself
    * oracle-checked. The fingerprint is the 40-char-prefix hash —
    * the same near-exact content key [[prefix]]/[[dupInflation]]
    * dedup on (full-content dups in the corpus happen to never
    * straddle the release split, which would leave the truth column
    * degenerate). Output: doc_id, maybe, truly_dup. */
  def bloomFilter(spark: SparkSession, dir: String): DataFrame =
    bloomParts(spark, dir)._4.orderBy("doc_id")

  /** Shared pieces of the Bloom audit pair: the state fingerprint
    * distinct and the packed bitmap are each PERSISTED and computed
    * once — the filter body referenced the state three times (sizing
    * count, bitmap fold, exact join) and the stats rollup re-derived
    * all of it a second time for its geometry columns (measured as
    * 4 duplicate distinct jobs per stats run).
    * Returns (state fps, m bits, bitmap, verdicts). */
  private def bloomParts(spark: SparkSession, dir: String)
      : (DataFrame, Long, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val state = docs.where(col("doc_id") % 4 =!= 0)
      .select(md5(substring(col("text"), 1, 40)).as("fp")).distinct()
      .persist()
    val m = 1L << bloomBits(state.count()) // also materializes the cache
    val bitmap = bloomBitmap(state, m).persist()
    val delta = docs.where(col("doc_id") % 4 === 0)
      .select(col("doc_id"), md5(substring(col("text"), 1, 40)).as("fp"))
    val verdicts = bloomProbe(delta, bitmap, m)
      .join(state.withColumn("dup", lit(true)), Seq("fp"), "left")
      .select(col("doc_id"), col("maybe"),
        coalesce(col("dup"), lit(false)).as("truly_dup"))
    (state, m, bitmap, verdicts)
  }

  /** Rollup of [[bloomFilter]] plus the filter-geometry facts a
    * release dashboard graphs: state/delta sizes, bitmap bit width
    * and occupied word count, how many delta docs the Bloom pass
    * cleared map-side vs sent to the exact join, and the realized
    * false-positive rate over the truly-new population. One row. */
  def bloomStats(spark: SparkSession, dir: String): DataFrame = {
    val (_, m, bitmap, verdicts) = bloomParts(spark, dir)
    val nWords = bitmap.count()
    verdicts.agg(
      count(lit(1)).as("n_delta"),
      sum(when(col("maybe"), 1L).otherwise(0L)).as("n_maybe"),
      sum(when(col("truly_dup"), 1L).otherwise(0L)).as("n_dup"),
      sum(when(col("maybe") && !col("truly_dup"), 1L).otherwise(0L)).as("n_false_pos"))
      .select(
        lit(m).as("m_bits"),
        lit(nWords).as("n_words"),
        col("n_delta"), col("n_maybe"), col("n_dup"), col("n_false_pos"),
        round(col("n_false_pos").cast("double") /
          greatest(col("n_delta") - col("n_dup"), lit(1L)).cast("double"), 6)
          .as("fp_rate"))
  }

  /** The applied form: classify a delta against a state table with
    * the Bloom pre-filter in front of the exact join. Returns the
    * delta with an `is_dup` column; rows the Bloom pass proves new
    * never touch the state join (`PipelineSpec` asserts the result is
    * row-identical to the plain anti-join classification). */
  private[graft] def bloomClassify(stateFps: DataFrame, delta: DataFrame): DataFrame = {
    val state = stateFps.select(col("fp")).distinct()
    val m = 1L << bloomBits(state.count())
    val probed = bloomProbe(delta, bloomBitmap(state, m), m)
    val maybes = probed.where(col("maybe"))
      .join(state.withColumn("dup", lit(true)), Seq("fp"), "left")
      .withColumn("is_dup", coalesce(col("dup"), lit(false)))
      .select(delta.columns.map(col) :+ col("is_dup"): _*)
    val definiteNew = probed.where(!col("maybe"))
      .withColumn("is_dup", lit(false))
      .select(delta.columns.map(col) :+ col("is_dup"): _*)
    maybes.union(definiteNew)
  }

  /** Cross-source duplication matrix — which source pairs ship the
    * same content: per unordered source pair, the number of distinct
    * prefix fingerprints (the `prefix` 40-char hash) present in BOTH.
    * The provenance forensics a mixture designer runs before setting
    * weights: a source whose content is largely a copy of another
    * shouldn't be up-weighted as if independent.
    *
    * Scale: distinct (h, source) is one map-side-combined shuffle;
    * the self-join key is the fingerprint (equi-join, bucket width
    * bounded by #sources); output is O(#sources²).
    * Output: source_a, source_b, n_shared. */
  /** Per-source duplication inflation: how much of a source's volume
    * is duplicate weight — docs and tokens versus what survives
    * keep-first dedup on the prefix fingerprint (keeper = global min
    * doc_id per fingerprint, so a source that only mirrors another
    * source's content keeps ~nothing). The number that deflates a
    * source's weight in mixture design before `resampleMix` trusts
    * raw volume. One fingerprint shuffle + one source rollup.
    * Output: source, n_docs, n_kept, n_tokens, kept_tokens,
    * doc_inflation, token_inflation (null when the source keeps no
    * tokens). */
  def dupInflation(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("h")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(substring(col("text"), 1, 40)).as("h"),
        size(split(col("text"), " ")).cast("bigint").as("n_toks"))
      .withColumn("keeper", col("doc_id") === min(col("doc_id")).over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keeper"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("keeper"), col("n_toks")).otherwise(0L)).as("kept_tokens"))
      .withColumn("doc_inflation",
        round(col("n_docs").cast("double") / nullif(col("n_kept"), lit(0L)), 6))
      .withColumn("token_inflation",
        round(col("n_tokens").cast("double") / nullif(col("kept_tokens"), lit(0L)), 6))
      .orderBy("source")
  }

  def crossSourceDup(spark: SparkSession, dir: String): DataFrame = {
    val hs = Tables.documents(spark, dir)
      .select(md5(substring(col("text"), 1, 40)).as("h"), col("source")).distinct()
    hs.select(col("h"), col("source").as("source_a"))
      .join(hs.select(col("h"), col("source").as("source_b")), "h")
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(countDistinct(col("h")).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** (doc_id, shingle) — distinct 12-char rolling shingles per doc.
    *
    * The input table is a single small parquet file (one scan
    * partition), but the derivation fans out ~300 hashed rows per doc —
    * without an explicit repartition the whole explode+hash stage runs
    * on ONE task. "Small input, heavy derivation" always needs this
    * spread; at production scale the many-file input supplies the
    * parallelism and Catalyst elides the extra shuffle. */
  private def shingleTable(spark: SparkSession, dir: String): DataFrame =
    shingleTableOf(Tables.documents(spark, dir))

  /** The same shingle derivation over an EXPLICIT (doc_id, text)
    * DataFrame — the seam incremental dedup uses to shingle ONLY the
    * release delta instead of the whole corpus. */
  private def shingleTableOf(docs: DataFrame): DataFrame =
    docs
      // docs shorter than one shingle have no shingles. Without this
      // guard Spark's sequence(1, length-11) runs DESCENDING for short
      // text (start > stop defaults to step -1) and fabricates
      // shingles the oracle's ascending range() never produces.
      .where(length(col("text")) >= 12)
      .repartition(Tables.shufflePartitions(docs.sparkSession), col("doc_id"))
      .select(col("doc_id"),
        explode(expr("array_distinct(transform(sequence(1, length(text) - 11), i -> substring(text, i, 12)))")).as("sh"))

  /** (doc_id, band index, band key) — the LSH bucket table: H=8
    * salted-md5 min-hashes per doc, 4 bands of 2, single-pass
    * posexplode (NOT a 4-way union — a union would recompute the
    * whole shingle+signature subtree per branch).
    *
    * The 8 hash functions come from TWO salted md5 digests per shingle
    * (not eight): each digest's four non-overlapping 8-hex-char
    * windows are independent 32-bit values, so h(4s+w) = window w of
    * md5(s + shingle). md5 dominates the signature stage cost, so this
    * is a ~4× cut. The windows are parsed to BIGINT — numeric, so the
    * aggregation runs as a HashAggregate; `min` over the hex *string*
    * would demote it to Sort + SortAggregate over every exploded
    * shingle row, which at scale is the difference between one hash
    * shuffle and a full sort of the shingle table. */
  private def sigsFrom(sh: DataFrame): DataFrame = {
    val mh = (0 until 8).map(j =>
      min(conv(substring(md5(concat(lit(s"${j / 4}|"), col("sh"))), (j % 4) * 8 + 1, 8), 16, 10)
        .cast("long")).as(s"mh$j"))
    sh.groupBy("doc_id").agg(mh.head, mh.tail: _*)
  }

  private def bandsOf(sigs: DataFrame): DataFrame = {
    val bandKeys = array((0 until 4).map(b =>
      md5(concat(col(s"mh${2 * b}").cast("string"), lit("_"), col(s"mh${2 * b + 1}").cast("string")))): _*)
    sigs.select(col("doc_id"), posexplode(bandKeys).as(Seq("b", "key")))
  }

  private def bandsFrom(sh: DataFrame): DataFrame = bandsOf(sigsFrom(sh))

  /** Bucket-width cap: at most this many doc_ids participate per
    * (band, key) bucket. A bucket of B docs yields B(B-1)/2 candidate
    * pairs — one viral boilerplate bucket of 50k docs would emit 1.2B
    * pairs and dominate the whole run; the cap bounds any bucket's
    * contribution to MaxBucket(MaxBucket-1)/2 ≈ 2k pairs. The kept
    * members are the lowest-MaxBucket doc_ids (deterministic, and
    * aligned with min-id keeper election so a capped boilerplate
    * cluster still collapses onto the keeper that survives). Docs cut
    * from one bucket remain candidates through their other bands —
    * the recall trade is per-bucket, not per-doc. */
  private[graft] val MaxBucket = 64

  /** Distinct candidate pairs sharing at least one (band, key) bucket
    * — THE candidate-generation idiom every near-dup operator here
    * builds on (one definition; the oracle mirrors it verbatim,
    * including the bucket-width cap). */
  private def cappedBands(bands: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy("b", "key").orderBy("doc_id")
    bands
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= cap)
      .drop("_rn")
  }

  private[graft] def pairsFromBands(bands: DataFrame, cap: Int = MaxBucket): DataFrame =
    pairsFromCapped(cappedBands(bands, cap))

  /** The pair join over an ALREADY-capped band table — the form the
    * materialized band artifact feeds. The pair distinct shuffles
    * through an EXPLICIT-N keyed repartition rather than the implicit
    * ENSURE_REQUIREMENTS exchange: AQE coalesces the latter to one
    * task from the pair table's tiny bytes, which then serializes the
    * downstream per-pair set verification (array_intersect over the
    * shingle-hash arrays — high CPU per byte; measured ~300 ms on one
    * task in `containment`/`jaccard`). Same rows, same distinct. */
  private def pairsFromCapped(capped: DataFrame): DataFrame = {
    val a = capped.select(col("doc_id").as("doc_a"), col("b"), col("key"))
    val b = capped.select(col("doc_id").as("doc_b"), col("b"), col("key"))
    a.join(b, Seq("b", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .repartition(Tables.shufflePartitions(capped.sparkSession),
        col("doc_a"), col("doc_b"))
      .distinct()
  }

  // ---- shared dedup-index artifacts (ArtifactCache): the
  // shingle→signature→band→cluster chain is built ONCE per corpus
  // version and every consumer reads the landed parquet — the same
  // production posture as the kNN index (`Similarity.knnGraphShared`)
  // and the explicit versioned form in `pipelines.Curation`. Each
  // artifact chains off the previous one, so the first touch of any
  // consumer pays only the missing links. ----

  /** (doc_id, mh0..mh7) minhash signature artifact. */
  private def sigArtifact(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.table(spark, "dedup_sigs", dir)(sigsFrom(shingleTable(spark, dir)))

  /** (doc_id, b, key) bucket-capped LSH band artifact. */
  private[graft] def cappedBandArtifact(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.table(spark, "dedup_capped_bands", dir)(
      cappedBands(bandsOf(sigArtifact(spark, dir)), MaxBucket))

  /** (doc_id, hs, n_sh) per-doc 56-bit shingle-hash set artifact. */
  private def setArtifact(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.table(spark, "dedup_sets", dir)(
      Tables.documents(spark, dir)
        .where(length(col("text")) >= 12) // same short-doc guard as shingleTable
        .repartition(Tables.shufflePartitions(spark), col("doc_id"))
        .select(col("doc_id"),
          expr("array_distinct(transform(sequence(1, length(text) - 11), i -> substring(text, i, 12)))").as("arr"))
        .select(col("doc_id"),
          expr("array_distinct(transform(arr, s -> cast(conv(substring(md5(s), 1, 14), 16, 10) as bigint)))").as("hs"))
        .withColumn("n_sh", size(col("hs")).cast("bigint")))

  /** (doc_id, cluster_id, keep) near-dup cluster decision artifact. */
  private[graft] def clusterArtifact(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.tableReleasable(spark, "dedup_cluster_decision", dir) {
      val (df, h) =
        clustersFromPairsReleasable(starEdgesFromCapped(cappedBandArtifact(spark, dir)))
      (df, () => h.release())
    }

  /** Star-contracted edges from the capped band table: each (band,
    * key) bucket — a CLIQUE in the candidate-pair graph — contributes
    * only (bucket-min, member) edges. Connectivity is identical (a
    * clique is connected through any one member) but the edge list is
    * O(Σ bucket) instead of the O(Σ bucket²) pair list, there is no
    * pair self-join or giant distinct before the loop, and bucket
    * cliques enter the loop as depth-1 stars. Every star edge IS a
    * candidate pair (the bucket min is a bucket member), so the
    * components equal those of `pairsFromBands` exactly — the cluster
    * oracle stays the reachability fixpoint over the pair list.
    * Input is an ALREADY-capped (doc_id, b, key) table — the landed
    * band artifact, or (for incremental dedup) bands whose cap
    * semantics were resolved against the union of prior and delta
    * bands before this point. */
  private def starEdgesFromCapped(capped: DataFrame): DataFrame = {
    val wB = Window.partitionBy("b", "key")
    capped
      .withColumn("root", min(col("doc_id")).over(wB))
      .where(col("doc_id") =!= col("root"))
      .select(col("root").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash + LSH band candidate generation. Output: doc_a, doc_b. */
  def minhashCandidates(spark: SparkSession, dir: String): DataFrame =
    pairsFromCapped(cappedBandArtifact(spark, dir)).orderBy("doc_a", "doc_b")

  /** Exact n-gram Jaccard over MinHash candidates: |A∩B| / |A∪B| on
    * distinct 12-char shingle sets, thresholded at 0.3. The sets are
    * represented by a 56-bit md5 hash per shingle (identical function
    * on the oracle side, so set cardinalities agree bit-for-bit on
    * both engines by construction): an 8-byte long per element instead
    * of a 12-char string cuts the per-pair join payload ~3× and makes
    * the intersection a long-equality probe — measured 109 s → ~40 s
    * on the 10× near-dup-dense corpus, where every
    * candidate pair ships both docs' sets through two shuffles.
    *
    * The intersection is computed per candidate pair with
    * `array_intersect` over the compact per-doc hash arrays — NOT by
    * re-joining the exploded shingle table onto the pairs (that join
    * ships every shingle row of every candidate doc through a second
    * shuffle; the array form ships each doc's set once, and the
    * candidate table is orders of magnitude smaller than the shingle
    * table by construction). At true candidate-dense scale the
    * signature-only `minhashEstJaccard` is the verification path; this
    * exact form is the audit pass. Output: doc_a, doc_b, jac. */
  def jaccard(spark: SparkSession, dir: String): DataFrame = {
    val (cands, ab) = candidatePairSets(spark, dir)
    cands.join(ab._1, "doc_a").join(ab._2, "doc_b")
      .withColumn("n_int", size(array_intersect(col("hs_a"), col("hs_b"))).cast("bigint"))
      .withColumn("jac", round(col("n_int").cast("double") /
        (col("n_a") + col("n_b") - col("n_int")).cast("double"), 6))
      .where(col("jac") >= 0.3)
      .select("doc_a", "doc_b", "jac")
      .orderBy("doc_a", "doc_b")
  }

  /** Shared candidate machinery for the set-verification passes
    * (`jaccard`, `containment`): LSH candidate pairs + both sides'
    * compact per-doc shingle-hash arrays, ready to join on
    * doc_a/doc_b. */
  private def candidatePairSets(spark: SparkSession, dir: String)
      : (DataFrame, (DataFrame, DataFrame)) = {
    // both sides are parquet-backed artifacts — no persist/count
    // choreography: the set table and the capped band table land once
    // per corpus version and every consumer (including the band
    // derivation that used to race the join sides) reads files
    val sets = setArtifact(spark, dir)
    val cands = pairsFromCapped(cappedBandArtifact(spark, dir))
    (cands,
      (sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"), col("n_sh").as("n_a")),
        sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"), col("n_sh").as("n_b"))))
  }

  /** CONTAINMENT verification over the same LSH candidates — the
    * asymmetric companion to `jaccard`: cont_a = |A∩B| / |A| is the
    * fraction of doc_a's shingle set that doc_b carries (and vice
    * versa), which catches subset/quotation relationships a symmetric
    * Jaccard misses entirely (a doc fully embedded in a 10×-longer doc
    * has jac ≈ 0.09 but cont_a = 1.0 — exactly the pairs a curation
    * pass wants to collapse). Flagged when EITHER direction ≥ 0.6.
    *
    * Scale: identical shape to `jaccard` — candidates only, compact
    * hash arrays shipped once; nothing new shuffles.
    * Output: doc_a, doc_b, cont_a, cont_b. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val (cands, ab) = candidatePairSets(spark, dir)
    cands.join(ab._1, "doc_a").join(ab._2, "doc_b")
      .withColumn("n_int", size(array_intersect(col("hs_a"), col("hs_b"))).cast("bigint"))
      .withColumn("cont_a", round(col("n_int").cast("double") / col("n_a").cast("double"), 6))
      .withColumn("cont_b", round(col("n_int").cast("double") / col("n_b").cast("double"), 6))
      .where(greatest(col("cont_a"), col("cont_b")) >= 0.6)
      .select("doc_a", "doc_b", "cont_a", "cont_b")
      .orderBy("doc_a", "doc_b")
  }

  /** Signature-estimated Jaccard over LSH candidates: est = (# equal
    * minhash components) / H, the standard unbiased MinHash estimator
    * (sd ≈ sqrt(j(1−j)/H)). This is the 100 TB verification path:
    * unlike exact `jaccard`, it never re-touches text or shingle sets
    * after signature time — candidates and estimates both come from
    * the H-integer signature table alone, so the whole pipeline past
    * the one signature aggregation is O(candidates) over tiny rows.
    * Output: doc_a, doc_b, est_jac. */
  def minhashEstJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sigs = sigArtifact(spark, dir) // parquet-backed: no persist choreography
    val cand = pairsFromCapped(cappedBandArtifact(spark, dir))
    val eq = (0 until 8).map(j =>
      when(col(s"a_mh$j") === col(s"b_mh$j"), 1).otherwise(0)).reduce(_ + _)
    cand
      .join(sigs.select(col("doc_id").as("doc_a") +:
        (0 until 8).map(j => col(s"mh$j").as(s"a_mh$j")): _*), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b") +:
        (0 until 8).map(j => col(s"mh$j").as(s"b_mh$j")): _*), "doc_b")
      .withColumn("est_jac", round(eq.cast("double") / 8.0, 6))
      .select("doc_a", "doc_b", "est_jac")
      .orderBy("doc_a", "doc_b")
  }

  /** Dedup cluster formation + keeper election — the last mile that
    * turns near-dup PAIR lists into a usable dedup decision: candidate
    * pairs become connected components and each component elects its
    * min-doc_id keeper, mirroring `exact`'s per-hash-group semantics
    * at the near-dup level. Output (docs in >= 1 pair): doc_id,
    * cluster_id (= the component's min doc_id = the keeper), keep. */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    // the decision artifact: star-contracted edges from the landed
    // capped band table (identical components to the pair list — see
    // starEdgesFromCapped) through the component loop, built once per
    // corpus version; the iteration run dir is reclaimed as soon as
    // the artifact parquet lands
    clusterArtifact(spark, dir).orderBy("doc_id")

  /** The exact-dup keeper mapping: (doc_id, keeper_id, h) for EVERY
    * doc — keeper = min doc_id per md5(text) (identity rows for
    * keepers), the `exact` rule materialized as a release state
    * table. One content-hash shuffle; the hash column rides along so
    * an INCREMENT can probe group membership without re-reading prior
    * text (`pipelines.Curation.incrementState`). */
  private[graft] def exactKeeperMap(docs: DataFrame): DataFrame = {
    val h = docs.select(col("doc_id"), md5(col("text")).as("h"))
    h.join(h.groupBy("h").agg(min("doc_id").as("keeper_id")), "h")
      .select("doc_id", "keeper_id", "h")
  }

  /** Compose a fuzzy cluster decision OVER EXACT KEEPERS with the
    * exact mapping into one uniform decision table: the fuzzy rows
    * pass through, and every exact loser gets a row carrying its
    * keeper's cluster (the keeper itself when the keeper is unpaired)
    * with keep = false. The result reads exactly like the decision of
    * an ideal uncapped chain — every consumer of the LSH-only
    * decision table (apply, curate, leak-free split, release)
    * works on it unchanged — while the expensive shingle/band chain
    * only ever scanned keepers. */
  private[graft] def augmentWithExactLosers(clusters: DataFrame, mapping: DataFrame): DataFrame = {
    val losers = mapping.where(col("doc_id") =!= col("keeper_id"))
      .join(clusters.select(col("doc_id").as("keeper_id"), col("cluster_id").as("_kc")),
        Seq("keeper_id"), "left")
      .select(col("doc_id"), coalesce(col("_kc"), col("keeper_id")).as("cluster_id"),
        lit(false).as("keep"))
    clusters.select("doc_id", "cluster_id", "keep").unionByName(losers)
  }

  /** Exact-then-fuzzy composed dedup decision — the production
    * DEFAULT composition (`pipelines.Curation.buildClusters`), here
    * as the independent driver-contract query: exact dedup first
    * (keeper = min doc_id per content hash — collapses duplicate
    * cliques of ANY width in one shuffle), then the capped-LSH
    * near-dup chain over the exact KEEPERS only, then the loser rows
    * folded back in ([[augmentWithExactLosers]]).
    *
    * Measured motivation (PERF.md round 12):
    * a duplicate clique WIDER than [[MaxBucket]] shares all 8 band
    * keys, so cap-evicted members lose every bucket membership at
    * once and leak through the LSH-only chain as unpaired singletons
    * — at ×100 exact-dup density the LSH-only "deduped" corpus still
    * fragments a serving index (0/30 walk recall); exact-first
    * restores 25/30. At 100 TB exact-dup density is unbounded
    * (mirrors, reposts, boilerplate) while LSH caps must stay bounded
    * for the candidate join to stay bounded — hence this order.
    * Output (docs in >= 1 pair, exact or fuzzy): doc_id, cluster_id,
    * keep. */
  def exactFirstClusters(spark: SparkSession, dir: String): DataFrame =
    exactFirstArtifact(spark, dir).orderBy("doc_id")

  /** The deduplicated corpus under the DEFAULT composition — the
    * exact-then-fuzzy decision ([[exactFirstClusters]]) applied to
    * documents: exact losers and near-dup losers both drop, keepers
    * carry their composed cluster id. Same one-hash-join apply shape
    * as [[applyDedup]] (the decision table is O(docs-in-pairs +
    * exact losers), far smaller than the corpus). Output: doc_id,
    * cluster_id, h = md5(text). */
  def exactFirstApply(spark: SparkSession, dir: String): DataFrame =
    applyFrom(spark, dir, exactFirstArtifact(spark, dir))

  /** (doc_id, cluster_id, keep) exact-then-fuzzy decision artifact. */
  private[graft] def exactFirstArtifact(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.tableReleasable(spark, "dedup_exact_first_decision", dir) {
      val docs = Tables.documents(spark, dir)
      val mapping = exactKeeperMap(docs)
      val keepers = mapping.where(col("doc_id") === col("keeper_id")).select("doc_id")
      val (cl, h) = clustersFromCappedReleasable(
        cappedBandsOf(docs.join(keepers, "doc_id")))
      (augmentWithExactLosers(cl, mapping), () => h.release())
    }

  /** Connected components over an undirected pair list via iterative
    * min-label propagation WITH pointer jumping: each hop,
    * label(v) := min(label(v), min over neighbors' labels,
    * label(label(v))). The pointer-jump term halves chain depth per
    * hop, so convergence is O(log diameter) hops, not O(diameter)
    * — a transitive chain of 2^k near-dups settles in ~k hops. No
    * GraphX dependency: each hop is two hash equi-joins (edges ×
    * labels, labels × labels), and the fixpoint test is one scalar
    * aggregate per materialized round (labels only ever decrease, so
    * an unchanged label sum IS convergence — no row-level compare
    * needed). The driver-side loop is the standard Spark shape for
    * iterative graph algorithms; every per-round table is
    * O(nodes + edges).
    *
    * One hop per materialized round. Composing k hops into one plan
    * between materializations was MEASURED NEGATIVE at local[32]
    * sf0.1 (PERF.md round 6): k=3 is ~2× SLOWER than k=1 across the
    * whole cluster family (dedup_clusters 14.6→24.0 s) — the k× extra
    * join work per round plus race-filled intermediate caches cost
    * more than the saved per-action scheduler latency, and pointer
    * jumping already collapses chains superlinearly. */
  private[graft] def clustersFromPairs(pairs: DataFrame): DataFrame =
    clustersFromPairsReleasable(pairs)._1

  /** Label-table rows up to which the component loop broadcasts the
    * labels into its per-round joins (the small-labels tier). */
  private val BroadcastLabelsMax = 1000000L

  /** `clustersFromPairs` plus the iteration-storage handle: the final
    * round's parquet backs the returned DataFrame, so only the CALLER
    * knows when the run dir is reclaimable. A caller that lands the
    * output elsewhere (`pipelines.Curation.buildClusters` via
    * truncateLoad) should `release()` the handle immediately; the
    * driver-contract queries return the DataFrame itself and leave
    * cleanup to the JVM-exit sweep. */
  private[graft] def clustersFromPairsReleasable(pairs: DataFrame): (DataFrame, IterState.Handle) = {
    // persist + materialize the pair list BEFORE the direction union:
    // the union's two branches are two consumers, and without the cache
    // each would recompute the (expensive) candidate-generation subtree
    val p = pairs.select("doc_a", "doc_b").persist()
    // Both edge directions, NO self-loops: the hop's left join +
    // coalesce keeps a node's own label when the neighbor min is
    // absent, so self-loop rows would only duplicate that term at the
    // cost of +|V| rows in every per-round join AND an extra distinct
    // shuffle to build them (the round-6 snapshot carried them;
    // removing them measured dedup_clusters min-of-reps 13.2 -> 10.6 s
    // at sf0.1, ~2.5 s off every cluster-family query).
    // Pre-partitioned by dst so the per-round neighbor-min aggregation
    // (groupBy dst) reuses the cached partitioning: when the label side
    // arrives by broadcast (small-labels tier below), the whole
    // nbr-min derivation runs exchange-free off this cache.
    // Size-aware partition count for the edge cache: the pair count is
    // already known (p.count above), and every round's stages inherit
    // this partitioning — scheduling 32 near-empty tasks per stage per
    // round dominates small-loop wall time at local[32], while a huge
    // edge table still spreads across the configured width. Same
    // principle AQE applies to shuffle coalescing, applied to the one
    // table AQE can't re-plan (it's cached before the loop).
    val pairCount = p.count()
    val session0 = pairs.sparkSession
    // Driver union-find tier: below the threshold the edge list is
    // collected and the components are solved in one O(E·α) pass on
    // the driver — the SAME driver-side cost a broadcast hash join
    // pays to build its relation (collect ≤ threshold rows, ship a
    // table back out), spent once instead of O(log diameter) rounds
    // of distributed joins with a parquet barrier each. The edge list
    // is the DEDUP CANDIDATE set — LSH-banded and bucket-capped, so
    // it is already orders of magnitude smaller than the corpus; a
    // 100 TB corpus whose candidate graph exceeds the threshold takes
    // the distributed loop below, which is the right plan there.
    // Labels are min-id-per-component in both tiers (union always
    // roots at the smaller id), so the output is tier-invariant.
    val collectMax = session0.conf.getOption("graft.cluster.collectEdgesMax")
      .map(_.toLong).getOrElse(1000000L)
    if (pairCount <= collectMax) {
      val it = p.select(col("doc_a"), col("doc_b")).toLocalIterator()
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long](
        math.min(math.max(16L, pairCount * 2L), Int.MaxValue / 2L).toInt)
      def find(x0: Long): Long = {
        var x = x0
        var px = parent.get(x).longValue()
        while (px != x) { // path halving
          val g = parent.get(px).longValue()
          parent.put(x, g)
          x = g
          px = parent.get(x).longValue()
        }
        x
      }
      while (it.hasNext) {
        val r = it.next()
        val a = r.getLong(0); val b = r.getLong(1)
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      p.unpersist()
      val labels = new Array[(Long, Long, Boolean)](parent.size())
      val keys = parent.keySet().iterator()
      var i = 0
      while (keys.hasNext) {
        val id = keys.next().longValue()
        val root = find(id)
        labels(i) = (id, root, id == root)
        i += 1
      }
      import session0.implicits._
      val out = labels.toSeq.toDF("doc_id", "cluster_id", "keep")
        .orderBy("doc_id")
      return (out, IterState.noop(session0))
    }
    val confPart = session0.conf.get("spark.sql.shuffle.partitions").toInt
    val nPart = math.max(4, math.min(confPart, (pairCount / 5000L).toInt + 1))
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(nPart, col("dst"))
      .persist()
    edges.count() // materialize: every round joins against this table
    p.unpersist()
    // Each round is materialized by a PARQUET ROUND-TRIP through a
    // session temp dir — a full out-of-JVM break, not persist() or
    // (local)checkpoint(). Plain persist() leaves the logical plan
    // quadrupling per round (three references to the previous labels)
    // until plan traversal overflows the stack by ~round 8. Both
    // localCheckpoint(true) and reliable checkpoint(true) truncate
    // the plan yet still chain enough driver-side state through the
    // returned LogicalRDD that per-round cost was measured ESCALATING
    // near the fixpoint (0.4 s/round degrading 2→9→43 s by round 14,
    // deterministically, on 1000-row labels; constraint propagation
    // off changes nothing). Re-reading the round's parquet keeps all
    // rounds flat (~0.5 s), and writing iteration state to storage is
    // the standard robust pattern for distributed iterative jobs —
    // it is also what makes a long-running run recoverable at 100 TB.
    // The per-round files are label tables (KBs locally, O(nodes) in
    // production) under the configured iteration root (see IterState);
    // the final round's files back the returned DataFrame.
    val session = pairs.sparkSession
    // Iteration root resolution — the cluster-deployability seam. The
    // parquet round-trip only works on a multi-node cluster if every
    // executor AND the driver see the same filesystem, so the root
    // comes from configuration, in order:
    //   1. spark conf `graft.cluster.iterDir` (any Hadoop-visible URI:
    //      hdfs://, s3a://, a mounted shared path, ...);
    //   2. the session's checkpoint dir (`setCheckpointDir`) — the
    //      location the user already designated for exactly this kind
    //      of iteration state;
    //   3. a driver-local temp dir — LOCAL MODE ONLY (executors share
    //      the driver's filesystem there and nowhere else).
    // All file ops go through the Hadoop FileSystem API so option 1/2
    // work on object stores, not just posix paths.
    val iterDir = s"${IterState.rootFor(session)}/run_${java.util.UUID.randomUUID().toString.take(8)}"
    val cleanup = IterState.register(session, iterDir)
    // The convergence scalar (labels only ever decrease, so an
    // unchanged label sum IS the fixpoint) rides the WRITE job via the
    // Observation API instead of a separate aggregation over the
    // round's parquet — zero extra Spark jobs per round (null-safe for
    // the empty-pairs edge: sum over zero rows observes null).
    def materialize(df: DataFrame, round: Int): (DataFrame, Long, Long) = {
      val path = s"$iterDir/labels_$round"
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, sum(col("label")).as("ls"), count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(path)
      val row = obs.get
      val s = row.get("ls").flatMap(Option(_)).fold(0L)(_.asInstanceOf[Long])
      val n = row.get("n").flatMap(Option(_)).fold(0L)(_.asInstanceOf[Long])
      (session.read.parquet(path), s, n)
    }
    // Small-labels tier: the label table is O(docs-in-pairs) rows and
    // its size is KNOWN from round 0's observation, so when it fits a
    // broadcast (row threshold below ≈ tens of MB) every per-round
    // join takes the broadcast strategy and the neighbor-min
    // aggregation runs exchange-free off the dst-partitioned edge
    // cache — a round becomes broadcast builds + one cached-edges pass
    // + the parquet write, no shuffle. Above the threshold (a
    // billion-doc dedup on a real cluster) everything falls back to
    // the plain hash-shuffle shape, which is the right plan there.
    var small = false
    def tier(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // one propagation hop: min over (self, neighbors' labels, label of
    // label)
    def hop(l: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(tier(l.select(col("id").as("src"), col("label"))), "src")
        .groupBy(col("dst").as("id")).agg(min(col("label")).as("nbr_label"))
      val jump = l
        .join(tier(l.select(col("id").as("jid"), col("label").as("jump_label"))),
          col("label") === col("jid"))
        .select(col("id"), col("jump_label"))
      l.join(tier(nbrMin), Seq("id"), "left")
        .join(tier(jump), Seq("id"))
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label")), col("jump_label"))
            .as("label"))
    }
    var (labels, labelSum, nNodes) = materialize(
      edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("m"))
        .select(col("id"), least(col("id"), col("m")).as("label")),
      0)
    small = nNodes <= BroadcastLabelsMax
    var converged = false
    var round = 0
    while (!converged && round < 40) {
      // (A second path-compression jump per round was measured here
      // and reverted: −1 round only — the convergence tail is new
      // minima traversing EDGES, not label-chain depth — at +0.15 s
      // per round of extra join work. dedup_clusters 6.0 → 7.0 s.)
      val (next, nextSum, _) = materialize(hop(labels), round + 1)
      labels = next
      // round N's files are dead once round N+1 is materialized and
      // summed; delete eagerly so a long loop holds two rounds on disk
      cleanup.rm(s"$iterDir/labels_$round")
      converged = nextSum == labelSum
      labelSum = nextSum
      round += 1
    }
    // with pointer jumping the cap is unreachable for any real graph
    // (it would take diameter > 2^40); if it ever trips, say so loudly
    // rather than silently returning a pre-fixpoint labeling
    if (!converged)
      System.err.println(s"[clusters] WARNING: $round-round cap hit before fixpoint; labels may be unconverged")
    edges.unpersist()
    val out = labels
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
    (out, cleanup)
  }

  /** Apply the dedup decision — the artifact a pipeline actually
    * ships: the corpus with near-dup losers removed. Docs in no
    * candidate pair survive untouched (cluster of themselves); docs in
    * a cluster survive only as the elected keeper. The cluster table
    * is O(docs-in-pairs) — far smaller than the corpus — and the join
    * is a plain hash equi-join on doc_id; no full-text shuffle beyond
    * the corpus' own scan. Output: doc_id, cluster_id, h = md5(text). */
  def applyDedup(spark: SparkSession, dir: String): DataFrame =
    applyFrom(spark, dir, clusterArtifact(spark, dir))

  /** The same decision applied from an EXPLICIT cluster table — the
    * seam `pipelines.Curation` uses to apply a once-materialized
    * decision instead of re-running the component loop (the
    * independent-query contract forces `applyDedup` above to recompute
    * it; a production pipeline never should). */
  private[graft] def applyFrom(spark: SparkSession, dir: String, clusterTable: DataFrame): DataFrame = {
    val cl = clusterTable.select("doc_id", "cluster_id", "keep")
    Tables.documents(spark, dir)
      .join(cl, Seq("doc_id"), "left")
      .where(coalesce(col("keep"), lit(true)))
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        md5(col("text")).as("h"))
      .orderBy("doc_id")
  }

  /** Decontamination / train-test overlap: n-gram collision of
    * candidate training docs against a held-out "benchmark" set —
    * the standard corpus-curation pass that keeps eval data out of
    * training corpora. The held-out set is deterministically sampled
    * as doc_id % 50 == 0 (a stand-in for an external benchmark); a
    * candidate doc counts one overlap per distinct 12-char shingle it
    * shares with ANY held-out doc, and is flagged at >= 10.
    *
    * Scale (100 TB): shingles are hashed to 56-bit longs (compact join
    * keys, same function as `jaccard`); the held-out side is an eval
    * set — orders of magnitude smaller than the corpus — so its
    * distinct-hash table broadcasts and the probe is map-side; the
    * count is one groupBy(doc_id). Output: doc_id, n_overlap,
    * contaminated. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // the per-doc distinct-hash rows come from the landed set artifact
    // (one explode over parquet) instead of re-running text→shingle→md5
    val sh = setArtifact(spark, dir)
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val held = sh.where(col("doc_id") % 50 === 0).select(col("h")).distinct()
    sh.where(col("doc_id") % 50 =!= 0)
      .join(broadcast(held), "h")
      .groupBy("doc_id")
      .agg(countDistinct(col("h")).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= 10)
      .orderBy("doc_id")
  }

  /** GRADED contamination scoring — `decontaminate` reports absolute
    * overlap counts for docs that hit the held-out set at all; this
    * pass scores EVERY candidate doc with its overlap FRACTION
    * (distinct shared shingles / distinct shingles), the
    * length-normalized form eval-decontamination papers threshold on
    * (a 50-shingle doc sharing 10 is far dirtier than a 5000-shingle
    * doc sharing 10). Zero-overlap docs appear with frac = 0 — the
    * output is a per-doc score column, not a hit list.
    *
    * Scale: same shape as `decontaminate` — the held-out distinct-hash
    * table broadcasts (eval sets are tiny vs the corpus), the probe is
    * a map-side broadcast LEFT join, and the score is one
    * groupBy(doc_id). Output: doc_id, n_sh, n_overlap, frac,
    * flagged. */
  def contaminationScore(spark: SparkSession, dir: String): DataFrame = {
    // same artifact-backed derivation as `decontaminate`
    val sh = setArtifact(spark, dir)
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val held = sh.where(col("doc_id") % 50 === 0).select(col("h")).distinct()
      .withColumn("hit", lit(1L))
    sh.where(col("doc_id") % 50 =!= 0)
      .join(broadcast(held), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        countDistinct(col("h")).as("n_sh"),
        countDistinct(when(col("hit").isNotNull, col("h"))).as("n_overlap"))
      .withColumn("frac", round(col("n_overlap").cast("double") / col("n_sh").cast("double"), 6))
      .withColumn("flagged", col("frac") >= 0.05)
      .select("doc_id", "n_sh", "n_overlap", "frac", "flagged")
      .orderBy("doc_id")
  }

  /** SimHash: the published signature IS the same 64-bit one the
    * pairing query buckets on (ONE construction — a 16-bit variant
    * existed through round 2 but publishing a different signature than
    * the pairs are computed over made the two outputs mutually
    * inconsistent). Bit b is set iff the weighted sum of the b-th md5
    * high bit over the doc's whitespace tokens is positive.
    * Output: doc_id, simhash (64-char '0'/'1' string). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashArtifact(spark, dir)
      .select(col("doc_id"), col("sig64").as("simhash"))
      .orderBy("doc_id")

  /** 64-bit simhash (doc_id, sig64: 64-char '0'/'1' string) from TWO
    * salted md5 digests per token (32 hex-digit high bits each) —
    * wide enough that banded buckets stay sparse at corpus scale
    * (see `simhashPairs`). Shared with the brute-force test.
    *
    * The digests are computed once per DISTINCT token and weighted by
    * the per-doc occurrence count (Σ over occurrences of ±1 ≡ Σ over
    * distinct tokens of ±count — exact integer identity, so the
    * signature is bit-unchanged): md5 work goes from O(token
    * occurrences) to O(vocabulary), and the 64 bit-tests run on
    * (doc, distinct-token) rows instead of every occurrence. Measured
    * dedup_simhash_pairs 3.8 → 1.6 s steady-state at sf0.1; the hash
    * table joins back on the token key (broadcast when the vocabulary
    * is small — AQE's call either way). */
  private[graft] def simhash64Table(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val hashes = toks.select("tok").distinct()
      .withColumn("h0", md5(concat(lit("0|"), col("tok"))))
      .withColumn("h1", md5(concat(lit("1|"), col("tok"))))
    val ss = (0 until 64).map { b =>
      val (hc, k) = (if (b < 32) col("h0") else col("h1"), b % 32 + 1)
      sum(when(substring(hc, k, 1).between("8", "f"), col("c")).otherwise(-col("c"))).as(s"s$b")
    }
    toks.join(hashes, "tok")
      .groupBy("doc_id").agg(ss.head, ss.tail: _*)
      .select(col("doc_id"),
        concat((0 until 64).map(b => when(col(s"s$b") > 0, "1").otherwise("0")): _*).as("sig64"))
  }

  /** SimHash near-dup pairing: ALL pairs at Hamming distance ≤ 2 —
    * EXACT semantics from a banded equi-join, no cartesian and no
    * false negatives: the 64 bits split into 3 pieces (22/21/21), and
    * by pigeonhole any pair differing in ≤ 2 bits agrees exactly on
    * at least one piece, so candidates = pairs sharing a (piece,
    * value) bucket and the Hamming check runs on candidates only.
    * Piece width is the scale lever: candidate count grows
    * ~n²/2^bits-per-piece, so 21-bit pieces (2M buckets) keep
    * non-near-dup buckets at singletons where the 16-bit signature's
    * 5-bit pieces (32 buckets) would go quadratic — generally, k+1
    * pieces of a signature sized to the corpus for distance ≤ k.
    * Output: doc_a, doc_b, hamming. */
  /** (doc_id, sig64) simhash signature artifact — shared by the
    * signature query and the pairing pass (`ArtifactCache`). */
  private def simhashArtifact(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.table(spark, "dedup_simhash64", dir)(simhash64Table(spark, dir))

  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // the signature is packed to two BIGINTs once per doc (conv is
    // pre-join, O(docs)); per-candidate Hamming is then two XORs + two
    // popcounts (`bit_count`) inside whole-stage codegen instead of a
    // 64-term substring-comparison chain, and the verify join ships 16
    // bytes per side instead of a 64-char string. The oracle computes
    // the same distance as bit_count(xor(sig64::BIT)) — engine-native
    // popcount on both sides. The signature table is the landed
    // artifact (parquet-backed, so the band + two join sides read
    // files — no persist choreography).
    val sig = simhashArtifact(spark, dir)
      .withColumn("hi", expr("cast(conv(substring(sig64, 1, 32), 2, 10) as bigint)"))
      .withColumn("lo", expr("cast(conv(substring(sig64, 33, 32), 2, 10) as bigint)"))
    val pieces = array(
      substring(col("sig64"), 1, 22),
      substring(col("sig64"), 23, 21),
      substring(col("sig64"), 44, 21))
    val bands = sig.select(col("doc_id"), posexplode(pieces).as(Seq("b", "key")))
    val cand = pairsFromBands(bands)
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("hi").as("hi_a"), col("lo").as("lo_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("hi").as("hi_b"), col("lo").as("lo_b")), "doc_b")
      .withColumn("hamming",
        expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)").cast("bigint"))
      .where(col("hamming") <= 2)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------------
  // Incremental dedup across corpus releases
  // ---------------------------------------------------------------------

  /** The materialized per-release dedup STATE: the capped band table
    * (doc_id, b, key). Together with the cluster decision table this is
    * sufficient prior state for EXACT incremental re-clustering:
    * min-k(A ∪ B) = min-k(min-k(A) ∪ B), so the lowest-`MaxBucket`
    * members of any bucket at release vN+1 are computable from vN's
    * CAPPED membership plus the delta's members alone — the pre-cap
    * band table never needs to be kept. O(4 rows/doc) of three small
    * columns, like the decision table itself. */
  private[graft] def cappedBandsOf(docs: DataFrame): DataFrame =
    cappedBands(bandsFrom(shingleTableOf(docs)), MaxBucket)

  /** Components + keeper election straight from a materialized capped
    * band table (the state `cappedBandsOf` lands) — used by the state
    * build so the banding work is paid once, not once for the state
    * table and again for the decision. */
  private[graft] def clustersFromCappedReleasable(capped: DataFrame): (DataFrame, IterState.Handle) =
    clustersFromPairsReleasable(starEdgesFromCapped(capped))

  /** Result of one incremental release: the vN+1 cluster decision, the
    * REFRESHED capped band table (the state the NEXT increment probes),
    * and a release thunk reclaiming the run's caches and iteration
    * storage — call it once both tables are landed (both plans read
    * the run's cached intermediates until then). */
  private[graft] final case class IncrementalState(
      clusters: DataFrame, bands: DataFrame, release: () => Unit)

  /** Incremental near-dup clustering for a corpus release vN+1 =
    * vN ∪ delta — the operation that makes dedup SHIP at 100 TB, where
    * re-clustering the whole corpus per release is the thing that
    * cannot run (the reference's whole orchestration is incremental
    * the same way: resume from the last materialized state and
    * recompute a bounded slice, `aave_extract.py:538-557`).
    *
    * EXACTNESS: the output is row-identical to a full recompute over
    * vN ∪ delta (proven in PipelineSpec), because every way the delta
    * can change the answer is accounted for:
    *
    *   1. Bucket membership. A bucket's capped membership changes iff
    *      a delta doc enters its lowest-`MaxBucket` set (min-k of the
    *      union is computable from vN's capped membership + delta —
    *      see `cappedBandsOf`). Buckets the delta lands in are re-capped
    *      ("recapped"); a bucket is DIRTY iff a delta doc survived the
    *      cap — including the eviction case, where a lower-id delta doc
    *      pushes a vN doc out and DELETES its star edges.
    *   2. Component blast radius. A vN bucket with ≥2 members is a
    *      clique, so all its members share one vN cluster — meaning a
    *      non-dirty bucket can never connect two distinct vN clusters,
    *      and the only components the delta can touch are those of
    *      dirty buckets' members (old membership ∪ new membership — old
    *      covers eviction, new covers merges). Everything else keeps
    *      its vN decision row verbatim.
    *   3. Re-solve. The component loop re-runs ONLY over the affected
    *      region: star edges of dirty buckets (new membership) plus
    *      star edges of non-dirty buckets restricted to affected docs
    *      (bucket homogeneity makes the root-side filter exact).
    *
    * COST: the text-proportional work — shingling, signature md5s,
    * banding — runs on the DELTA ONLY. The prior state is touched as
    * (a) one equi-join of the capped band table against the delta's
    * bucket keys (broadcast-able when the delta is small) and (b) one
    * semi-join of the decision table against affected clusters — both
    * O(4 rows/doc) tables of scalars, never the corpus text. The loop
    * runs on the affected region, whose size scales with the delta's
    * connectivity, not the corpus (PERF.md round 7).
    */
  private[graft] def incrementalClusters(
      newDocs: DataFrame, priorCapped: DataFrame, priorClusters: DataFrame): IncrementalState = {
    // 1. delta-only text work
    val deltaBands = bandsFrom(shingleTableOf(newDocs)).persist()
    deltaBands.count()
    val deltaIds = newDocs.select("doc_id").distinct()
    // 2. re-cap every bucket the delta lands in, over vN capped ∪ delta
    val dirtyKeys = deltaBands.select("b", "key").distinct()
    val prior = priorCapped.select("doc_id", "b", "key")
    val recapped = cappedBands(
      prior.join(dirtyKeys, Seq("b", "key")).select("doc_id", "b", "key")
        .union(deltaBands.select("doc_id", "b", "key")),
      MaxBucket).persist()
    recapped.count() // three consumers below; unmaterialized persist = recompute races
    // 3. dirty = a delta doc survived the cap (else membership is
    //    bit-identical to vN and the bucket contributes nothing new)
    val dirty = recapped.join(deltaIds, "doc_id").select("b", "key").distinct()
    val dirtyNew = recapped.join(dirty, Seq("b", "key"))
    val dirtyMembers = dirtyNew.select("doc_id")
      .union(prior.join(dirty, Seq("b", "key")).select("doc_id")) // eviction: OLD members count too
      .distinct()
    // 4. affected vN components, split by whether they can CONTRACT:
    //    a cluster that lost a member to bucket eviction may SPLIT
    //    (its interior connectivity is no longer known), so its
    //    members re-enter the loop as individuals ("cold"); every
    //    other affected cluster is provably still internally connected
    //    (edges were only added or re-rooted onto a lower id) and
    //    enters the loop as ONE super-node — its cluster_id, which is
    //    also its member-min, so component minima are preserved.
    val affected = dirtyMembers.join(priorClusters, "doc_id")
      .select("cluster_id").distinct()
    val evictedDocs = prior.join(dirty, Seq("b", "key"))
      .join(recapped, Seq("b", "key", "doc_id"), "left_anti")
      .select("doc_id").distinct()
    val coldClusters = evictedDocs.join(priorClusters, "doc_id")
      .select("cluster_id").distinct()
    val contractMap = priorClusters.join(affected, Seq("cluster_id"))
      .join(coldClusters, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id").as("super"))
      .persist()
    contractMap.count()
    // 5. the CONTRACTED re-solve graph — this is what makes the loop
    //    pay for the delta, not the corpus: cluster interiors never
    //    re-enter it (a cold-started interior needs O(component
    //    diameter) propagation rounds all over again — measured: the
    //    uncontracted re-solve ran the full 16 rounds of the from-
    //    scratch build on the 10× corpus, erasing the increment's
    //    savings). Nodes = super-nodes + cold docs + delta docs; edges
    //    = dirty buckets' NEW star edges with endpoints mapped through
    //    the contraction, plus cold docs' surviving vN edges (bucket
    //    homogeneity keeps both endpoints in the same cold cluster —
    //    no mapping needed). Non-dirty buckets of contracted clusters
    //    collapse to self-loops and are skipped entirely.
    val coldDocs = priorClusters.join(coldClusters, Seq("cluster_id")).select("doc_id")
    def contract(e: DataFrame): DataFrame = e
      .join(contractMap.select(col("doc_id").as("doc_a"), col("super").as("sa")), Seq("doc_a"), "left")
      .join(contractMap.select(col("doc_id").as("doc_b"), col("super").as("sb")), Seq("doc_b"), "left")
      .select(coalesce(col("sa"), col("doc_a")).as("doc_a"),
        coalesce(col("sb"), col("doc_b")).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
    val edges = contract(starEdgesFromCapped(dirtyNew))
      .union(starEdgesFromCapped(
        prior.join(dirty, Seq("b", "key"), "left_anti").join(coldDocs, "doc_id")))
    // 6. re-solve the contracted graph, expand super-node labels back
    //    over their members (one hash join), splice with the untouched
    //    vN rows
    val (resolved, handle) = clustersFromPairsReleasable(edges)
    val memberRows = contractMap
      .join(resolved.select(col("doc_id").as("super"), col("cluster_id").as("cid")), "super")
      .select(col("doc_id"), col("cid").as("cluster_id"),
        (col("doc_id") === col("cid")).as("keep"))
    val individualRows = resolved
      .join(contractMap.select(col("super").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .select("doc_id", "cluster_id", "keep")
    val untouched = priorClusters.join(affected, Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id", "keep")
    val clustersOut = untouched
      .union(memberRows)
      .union(individualRows)
      .orderBy("doc_id")
    // 7. refreshed state: recapped membership replaces vN's for every
    //    re-capped key (dirty or not — for non-dirty keys it is
    //    bit-identical, so one plan covers both)
    val bandsOut = prior.join(dirtyKeys, Seq("b", "key"), "left_anti")
      .select("doc_id", "b", "key")
      .union(recapped.select("doc_id", "b", "key"))
    // deltaBands/recapped/contractMap stay cached until the caller
    // lands clusters/bands — the returned plans read them (bandsOut
    // reads dirtyKeys ⊂ deltaBands and recapped; clustersOut reads
    // contractMap); the thunk bundles those unpersists with the loop's
    // iteration-dir reclaim so the caller has ONE landing-point
    // obligation.
    IncrementalState(clustersOut, bandsOut,
      () => {
        deltaBands.unpersist(); recapped.unpersist(); contractMap.unpersist()
        handle.release()
      })
  }
}

/** Process-wide registry for cluster-iteration storage
  * (`Dedup.clustersFromPairs`): resolves WHERE iteration state lives
  * and guarantees JVM-exit cleanup with a SINGLE shutdown hook.
  *
  * A per-call `addShutdownHook` would leak one thread object per
  * invocation — a long-lived session running the cluster query
  * repeatedly (the bench alone runs it 12×) accumulates hooks without
  * bound. Here the hook is registered once; each run registers its
  * directory in a concurrent set and the hook sweeps whatever is
  * still live at exit. Superseded rounds inside a run are deleted
  * eagerly by the loop itself.
  *
  * All deletes go through the Hadoop FileSystem of the path being
  * deleted, so configured shared-storage roots (hdfs://, s3a://)
  * clean up the same way local ones do.
  */
private[graft] object IterState {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileSystem, Path}

  /** Iteration root, in resolution order: the `graft.cluster.iterDir`
    * session conf (any Hadoop-visible URI — the production setting),
    * the session checkpoint dir (`setCheckpointDir` — storage the user
    * already designated for iteration state), then a driver-local temp
    * dir, which is correct in LOCAL MODE ONLY (executors share the
    * driver's filesystem there and nowhere else). */
  def rootFor(session: SparkSession): String =
    session.conf.getOption("graft.cluster.iterDir")
      .orElse(session.sparkContext.getCheckpointDir)
      .getOrElse(localTempRoot)

  private lazy val localTempRoot: String =
    java.nio.file.Files.createTempDirectory("graft_cluster_iter").toString

  /** Cleanup handle for one run directory. */
  final class Handle private[IterState] (path: String, conf: Configuration) {
    private def fsOf(p: Path): FileSystem = p.getFileSystem(conf)
    private[IterState] def deleteAll(): Unit = {
      val p = new Path(path)
      fsOf(p).delete(p, true); ()
    }
    /** Eagerly delete a superseded sub-path (a finished round). */
    def rm(sub: String): Unit = {
      val p = new Path(sub)
      try { fsOf(p).delete(p, true); () } catch { case _: Throwable => () }
    }
    /** Reclaim the whole run dir NOW and drop it from the exit sweep.
      * Only valid once the returned DataFrame has been fully consumed
      * (its final-round parquet lives here) — i.e. after the caller
      * has landed the result somewhere else, as
      * `pipelines.Curation.buildClusters` does via truncateLoad.
      * Without an explicit release a long-lived session (Thrift
      * server, notebook) keeps one final-round dir per invocation on
      * the configured root until JVM exit. Errors propagate: a failed
      * caller-initiated delete on shared storage should be seen, not
      * swallowed. */
    def release(): Unit = {
      live.remove(this)
      deleteAll()
    }
  }

  /** Handle for runs that kept NO on-storage state (the driver
    * union-find tier returns a LocalRelation): release/rm are valid
    * no-ops — the path is never created, and deleting a nonexistent
    * path through the FileSystem API is defined to return false. */
  def noop(session: SparkSession): Handle =
    new Handle(s"$localTempRoot/noop_${java.util.UUID.randomUUID().toString.take(8)}",
      session.sparkContext.hadoopConfiguration)

  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Handle]()

  // The ONE exit sweep; `lazy val` evaluation is the once-only latch.
  // Registered through Hadoop's ShutdownHookManager — NOT a raw JVM
  // hook — at a priority above FileSystem's own close hook: raw hooks
  // run in nondeterministic order relative to Hadoop's, so on hdfs://
  // or s3a:// iteration roots an exit-time delete could race the
  // FileSystem cache close and silently leak run dirs (the sweep's
  // swallowed exception would hide it). Ordering before FS close makes
  // the delete see a live FileSystem. Production roots should still
  // carry an external TTL/lifecycle policy as backstop — a kill -9
  // runs no hooks at all.
  private lazy val hookInstalled: Unit = {
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        def run(): Unit = live.forEach(h => try h.deleteAll() catch { case _: Throwable => () })
      },
      FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)
    ()
  }

  /** Register `path` for JVM-exit cleanup. The final round's parquet
    * files back the DataFrame `clustersFromPairs` returns, so the run
    * dir as a whole can only be removed at exit; rounds within it are
    * reclaimed eagerly via [[Handle.rm]]. */
  def register(session: SparkSession, path: String): Handle = {
    hookInstalled
    val h = new Handle(path, session.sparkContext.hadoopConfiguration)
    live.add(h)
    h
  }
}
