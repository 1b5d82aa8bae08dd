package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Writers
import graft.ops.{Dedup, Text}

/** Materialized curation topology — the production shape of the
  * dedup/curation family.
  *
  * The driver-contract queries (`dedup_clusters`, `dedup_apply`,
  * `text_curate`) are independent by design, so each re-pays candidate
  * generation plus the full connected-components loop (~11 s of the
  * sf0.1 bench, three times over). A real pipeline never does that: it
  * materializes each derived table once and every downstream consumer
  * READS it — the reference stages every intermediate the same way
  * (`aave_transform.py:227-239` writes each derived table
  * WRITE_TRUNCATE and the next stage reads the table, never the
  * query), and `pipelines.Datamart` already gives the load path that
  * shape. This pipeline does the same for curation:
  *
  *   1. `buildClusters` — run candidate generation + the component
  *      loop ONCE, land the per-doc cluster decision with
  *      `Writers.truncateLoad`;
  *   2. `applyDeduped` / `curationDecision` — derive the deduplicated
  *      corpus and the composed curation decision by reading the
  *      materialized table; marginal cost is one hash equi-join on
  *      doc_id each (vs ~11 s of recompute — see PERF.md).
  *
  * At 100 TB the materialized table is also the operational seam: the
  * cluster decision is O(docs-in-pairs) rows of three scalars —
  * orders of magnitude smaller than the corpus — so it broadcasts or
  * hash-joins cheaply, survives job restarts, and is auditable on its
  * own (which corpus rows were collapsed, and into which keeper).
  */
object Curation {

  def clustersPath(root: String): String = s"$root/dedup_clusters"

  def bandsPath(root: String): String = s"$root/dedup_bands"

  /** Stage 1: the expensive part, exactly once — the DEFAULT
    * composition, exact dedup BEFORE the fuzzy chain
    * ([[buildStateExactFirst]]; the ×100 measurement that made it the
    * default is in PERF.md round 12), landed as tables (reference S6
    * WRITE_TRUNCATE semantics). Lands the exact keeper mapping, the
    * keeper-only capped band table, and the composed decision:
    * together they are the release's dedup STATE, which is what
    * `incrementState` probes so the NEXT release's clustering costs
    * the delta, not the corpus. truncateLoad fully consumes the
    * loop's output, so the iteration run dir is released immediately
    * instead of parking on the configured storage root until JVM exit
    * — the reclamation seam a long-lived session needs. */
  def buildClusters(spark: SparkSession, dir: String, root: String): Unit =
    buildStateExactFirst(spark, graft.Tables.documents(spark, dir), root)

  /** The FUZZY-ONLY state build over an EXPLICIT corpus slice — the
    * LSH chain with no exact pre-pass. Kept as the measured BASELINE
    * (PERF.md round 12) and as the primitive
    * [[buildStateExactFirst]] composes; production entrypoints
    * ([[buildClusters]], [[run]]) default to exact-first, which the
    * ×100 harness showed is the only order that collapses duplicate
    * cliques wider than the LSH bucket cap. The decision derives from
    * the LANDED band parquet (not a cached plan), so the banding work
    * is paid once and the two state tables are consistent by
    * construction. */
  def buildState(spark: SparkSession, docs: DataFrame, root: String): Unit = {
    Writers.truncateLoad(
      Dedup.cappedBandsOf(docs).select("doc_id", "b", "key"), bandsPath(root))
    val (clusters, iterHandle) =
      Dedup.clustersFromCappedReleasable(spark.read.parquet(bandsPath(root)))
    Writers.truncateLoad(clusters, clustersPath(root))
    iterHandle.release()
  }

  def exactPath(root: String): String = s"$root/exact_keepers"

  private[graft] val ExactSchema = "doc_id BIGINT, keeper_id BIGINT, h STRING"

  /** Bucket-key width of the exact keeper mapping: 2^6 = 64
    * content-hash buckets — the same grain as `NavIndex.PartBits` /
    * `AnnIndex.PartBits`, named here so the three tables' bucket
    * schemes cannot silently drift apart in a future edit (the
    * hardcoded `lit(64)` the round-13 advice flagged). */
  private[graft] val ExactPartBits = 6

  /** Bucket-scheme id of the exact keeper mapping's manifests:
    * hash(md5 content hash) over [[ExactPartBits]] bits. */
  private[graft] val ExactScheme = s"md5hash/$ExactPartBits"

  /** Per-bucket directory-count ceiling for the exact keeper mapping,
    * above which a freshly-appended release compacts it in place
    * (`BucketedTable.compact` — pure I/O, the `IndexStreams`
    * `graft.nav.compactMaxDirs` posture): every release appends one
    * directory to each delta-touched content-hash bucket, so a daily
    * release chain is ~365 dirs/bucket/year of small-file scan tax
    * without it. The tip has no descendants yet, so the rewrite can
    * never tear an existing reader. */
  private def compactMaxDirs(spark: SparkSession): Int =
    spark.conf.getOption("graft.curation.compactMaxDirs").map { s =>
      try s.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft.curation.compactMaxDirs must be an integer dir count, got '$s'")
      }
    }.getOrElse(8)

  /** The exact keeper mapping is the one CORPUS-SIZED table of the
    * release state (one row per doc), and the release chain only ever
    * APPENDS to it (keeper demotion REFUSES toward the rebuild
    * escape hatch) — so it is stored as a content-hash-bucketed
    * [[graft.io.BucketedTable]] and each increment lands ONLY the
    * delta's rows, referencing every prior bucket by manifest (the
    * round-13 `NavIndex`/`AnnIndex` storage discipline; before, every
    * release truncate-loaded the whole mapping). Read it through
    * [[exactMap]]; a raw parquet read of an incremented version sees
    * only that version's delta. */
  def exactMap(spark: SparkSession, root: String): DataFrame =
    graft.io.BucketedTable.read(spark, exactPath(root), ExactSchema)

  private def layoutMarker(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/_decision_layout")

  /** The exact-first state stores the FUZZY decision (keepers only)
    * under [[clustersPath]] and derives exact-loser rows from the
    * mapping AT READ TIME ([[decision]]) — round 14, removing the
    * last O(corpus) WRITE from the release increment: the composed
    * table is one row per doc (at ×100 exact-dup density 497k of
    * 500k rows are exact losers — rows the delta-appended mapping
    * already carries), and landing it whole per release was the one
    * term that grew with the corpus instead of the delta (measured
    * 0.93 s of a 5.42 s increment at ×100; dominant at another
    * 1000×). This marker, landed LAST (after every state table),
    * stamps the layout; [[incrementState]] refuses a mapping-bearing
    * root without it (a pre-round-14 root landed the composed table,
    * and composing again at read time would duplicate loser rows). */
  private def stampFuzzyLayout(spark: SparkSession, root: String): Unit = {
    val p = layoutMarker(root)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // tmp + rename on FIRST commit (a crash mid-create must not leave
    // a present-but-torn marker); a replay onto an already-stamped
    // root is a NO-OP rather than delete+rename — the marker is
    // existence-checked and content-free, so re-stamping has nothing
    // to fix, and a delete-then-rename would open an absent-marker
    // window in which a concurrent decision() read (or a crash) sees
    // a committed mapping without the marker and drops the exact-loser
    // augmentation
    if (!f.exists(p)) {
      // per-attempt tmp name: two concurrent stampers (replayed jobs
      // racing the same root) must not share one tmp path, or the
      // loser's create(overwrite) can truncate the winner's mid-write
      // bytes out from under its rename
      val tmp = new org.apache.hadoop.fs.Path(
        s"$root/_decision_layout.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = f.create(tmp, true)
      try out.write("fuzzy+map/1".getBytes("UTF-8")) finally out.close()
      if (!f.rename(tmp, p)) {
        // rename-onto-existing returns false when a concurrent
        // stamper won the race between our exists() probe and the
        // rename — marker-present IS success (it is existence-checked
        // and content-free), so a harmless replay must not turn into
        // a hard failure; only a rename that failed with NO marker
        // landed is a real commit error
        f.delete(tmp, false)
        require(f.exists(p), s"layout-marker commit failed for $root")
      }
    }
  }

  private def hasFuzzyLayout(spark: SparkSession, root: String): Boolean = {
    val p = layoutMarker(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The COMPOSED per-doc dedup decision of the state under `root` —
    * the uniform (doc_id, cluster_id, keep) table every consumer
    * (apply, curate, leak-free split, index retire) reads. For an
    * exact-first state this composes the landed fuzzy decision with
    * the exact mapping on read (`Dedup.augmentWithExactLosers` — one
    * join against the keeper-only fuzzy table, which broadcasts); a
    * fuzzy-only state reads its decision table as-is. Row-identical
    * to the composed table previous layouts materialized
    * (`PipelineSpec`), without any release ever writing it. */
  def decision(spark: SparkSession, root: String): DataFrame =
    decisionWith(spark, root, None)

  /** [[decision]] with the exact mapping THREADED from a caller that
    * already read it ([[keptExactFirst]]) — on an object store the
    * mapping's manifest read is a driver metadata round trip, and the
    * hot consumers were paying it twice per job. */
  private def decisionWith(spark: SparkSession, root: String,
      mapping: Option[DataFrame]): DataFrame = {
    val fuzzy = spark.read.parquet(clustersPath(root))
    if (hasFuzzyLayout(spark, root))
      Dedup.augmentWithExactLosers(fuzzy,
        mapping.getOrElse(exactMap(spark, root)))
    else fuzzy
  }

  private def withExactPb(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.withColumn("pb", pmod(hash(col("h")), lit(1 << ExactPartBits)))
  }

  /** Exact-dedup pre-pass + near-dup state build — the production
    * DEFAULT composition: exact BEFORE fuzzy. Lands (doc_id,
    * keeper_id, h) for EVERY doc (identity rows for keepers) under
    * [[exactPath]], the keeper-only capped bands under [[bandsPath]],
    * and — under [[clustersPath]] — the FUZZY decision over keepers.
    * The uniform composed decision (fuzzy rows plus one keep=false
    * row per exact loser carrying its keeper's cluster) is a READ
    * VIEW ([[decision]], `Dedup.augmentWithExactLosers`): it reads
    * exactly like an LSH decision table, so every downstream consumer
    * (apply, curate, leak-free split, release, index retire) works
    * unchanged — and no release ever writes the corpus-sized composed
    * table (round 14). The `dedup_exact_first` driver query pins the
    * same composition against the DuckDB oracle.
    *
    * Measured motivation (PERF.md round 12):
    * a duplicate clique WIDER than the LSH bucket cap
    * (`Dedup.MaxBucket` = 64) shares all 8 band keys, so cap-evicted
    * members lose every bucket membership at once and leak through
    * the near-dup chain as unpaired singletons — at ×100 exact-dup
    * density the LSH-only chain keeps ~37% of every 100-clique, and a
    * serving index built on that "deduped" corpus still fragments
    * into near-dup cliques (0/30 walk recall; exact-first restores
    * 25/30). The exact pre-pass collapses duplicate groups of ANY
    * width in one content-hash shuffle (`Dedup.exact`'s rule: keeper
    * = min doc_id per md5(text)), which also shrinks the corpus the
    * expensive shingle/band chain must scan. At 100 TB this order is
    * standard precisely because exact-dup density is unbounded
    * (mirrors, reposts, boilerplate) while LSH caps must stay bounded
    * for the candidate join to stay bounded. */
  def buildStateExactFirst(spark: SparkSession, docs: DataFrame, root: String): Unit = {
    import org.apache.spark.sql.functions._
    graft.io.BucketedTable.write(withExactPb(Dedup.exactKeeperMap(docs)),
      exactPath(root), ExactScheme)
    val mapping = exactMap(spark, root)
    val keepers = mapping.where(col("doc_id") === col("keeper_id")).select("doc_id")
    Writers.truncateLoad(
      Dedup.cappedBandsOf(docs.join(keepers, "doc_id")).select("doc_id", "b", "key"),
      bandsPath(root))
    val (clusters, iterHandle) =
      Dedup.clustersFromCappedReleasable(spark.read.parquet(bandsPath(root)))
    Writers.truncateLoad(clusters, clustersPath(root))
    iterHandle.release()
    stampFuzzyLayout(spark, root)
  }

  /** Kept doc ids under an exact-first state ([[buildStateExactFirst]]):
    * a doc survives iff its decision row (if any) keeps it — the
    * composed [[decision]] view folds exact losers in as keep=false
    * rows, so this is the standard anti-join against the
    * O(docs-in-pairs + exact losers) decision rows; the exact mapping
    * supplies the full doc-id universe. Same marginal cost as
    * [[applyDeduped]]. */
  def keptExactFirst(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val mapping = exactMap(spark, root)
    mapping.select("doc_id")
      .join(decisionWith(spark, root, Some(mapping))
        .where(!col("keep")).select("doc_id"),
        Seq("doc_id"), "left_anti")
  }

  /** Release vN → vN+1: the increment follows the COMPOSITION the
    * prior state was built with — an exact-first state (exact keeper
    * mapping present under `priorRoot`) increments exact-first, a
    * fuzzy-only state increments fuzzy-only — so a release chain can
    * never silently change composition mid-stream. Shingle/band ONLY
    * the delta, probe it against the state materialized under
    * `priorRoot`, re-solve just the touched components, and land the
    * refreshed state under `nextRoot`. Versioned roots mirror real
    * release layouts and keep the increment from overwriting state it
    * is still reading (truncate-load onto the prior root would be a
    * self-overwrite). Row-identical to the same-composition full
    * build over the full vN ∪ delta corpus — `PipelineSpec` proves
    * both compositions — at delta-proportional cost (see
    * `Dedup.incrementalClusters` and PERF.md rounds 7/12).
    *
    * Exact-first increment: delta hashes probe the landed keeper
    * mapping map-side (the Bloom pre-filter `dedup_bloom` is the
    * 100 TB form of this probe); docs matching a prior group are
    * absorbed as exact losers (mapping rows only — no fuzzy work at
    * all), and only NEW-group keepers enter the fuzzy chain. One
    * contract REFUSE, mirroring `NavIndex.incrementState`'s
    * width-boundary refuse: a delta doc with an id BELOW its group's
    * landed keeper would demote the keeper, and a demotion is a
    * deletion from the fuzzy state — which only a full
    * [[buildStateExactFirst]] rebuild can honor. Release ids are
    * monotone in practice, so the refuse is the rare escape hatch,
    * not the common path. */
  def incrementState(spark: SparkSession, newDocs: DataFrame,
      priorRoot: String, nextRoot: String): Unit = {
    import org.apache.spark.sql.functions._
    val exactP = new org.apache.hadoop.fs.Path(s"${exactPath(priorRoot)}/_SUCCESS")
    val fs = exactP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a top-level _SUCCESS marks a mapping landed by an earlier
    // release layout (whole-table parquet, possibly pre-h schema) —
    // the bucketed layout keeps its commit marker in `_parts`. Refuse
    // with the rebuild guidance instead of silently incrementing
    // fuzzy-only over a composed exact-first decision table (wrong
    // state) or failing on a missing column mid-plan.
    require(!fs.exists(exactP),
      s"prior exact mapping at ${exactPath(priorRoot)} was written by an " +
        "earlier release layout (whole-table parquet); " +
        "rebuild the curation state with buildStateExactFirst")
    if (!graft.io.BucketedTable.isCommitted(spark, exactPath(priorRoot))) {
      // fuzzy-only prior state: the legacy composition, unchanged
      val st = Dedup.incrementalClusters(newDocs,
        spark.read.parquet(bandsPath(priorRoot)),
        spark.read.parquet(clustersPath(priorRoot)))
      Writers.truncateLoad(st.bands.select("doc_id", "b", "key"), bandsPath(nextRoot))
      Writers.truncateLoad(st.clusters, clustersPath(nextRoot))
      st.release()
    } else {
      require(hasFuzzyLayout(spark, priorRoot),
        s"prior exact-first state at $priorRoot landed the composed decision " +
          "table (pre-round-14 layout) — composing again at read time would " +
          "duplicate exact-loser rows; rebuild the curation state with " +
          "buildStateExactFirst")
      val priorMap = exactMap(spark, priorRoot)
      val deltaH = newDocs.select(col("doc_id"), md5(col("text")).as("h"))
      val priorKeeperByH = priorMap
        .where(col("doc_id") === col("keeper_id"))
        .select(col("h"), col("keeper_id").as("prior_keeper"))
      val probed = deltaH.join(priorKeeperByH, Seq("h"), "left")
      require(probed.where(col("prior_keeper").isNotNull &&
          col("doc_id") < col("prior_keeper")).isEmpty,
        "delta contains a doc_id below its exact group's landed keeper " +
          "(keeper demotion = a deletion from the fuzzy state); " +
          "rebuild the curation state with buildStateExactFirst")
      val newGroups = probed.where(col("prior_keeper").isNull)
        .groupBy("h").agg(min("doc_id").as("new_keeper"))
      val deltaMap = probed.join(newGroups, Seq("h"), "left")
        .select(col("doc_id"),
          coalesce(col("prior_keeper"), col("new_keeper")).as("keeper_id"), col("h"))
      // the mapping is append-only under the demotion refuse above,
      // so the next release lands ONLY the delta's rows — every prior
      // bucket is a manifest reference, zero prior-mapping I/O
      graft.io.BucketedTable.writeAppended(spark, withExactPb(deltaMap),
        exactPath(priorRoot), exactPath(nextRoot), ExactScheme)
      if (graft.io.BucketedTable.maxDirsPerBucket(spark, exactPath(nextRoot)) >
          compactMaxDirs(spark)) {
        graft.io.BucketedTable.compact(spark, exactPath(nextRoot),
          ExactSchema, ExactScheme)
      }
      val nextMap = exactMap(spark, nextRoot)
      // only NEW-group keepers enter the fuzzy chain; the prior fuzzy
      // decision is the composed table restricted to prior keepers
      // (exact-loser rows filtered back out — they carry no bands)
      val newKeeperDocs = newDocs.join(
        nextMap.where(col("doc_id") === col("keeper_id")).select("doc_id"), "doc_id")
      // the landed fuzzy decision is already keeper-only under the
      // fuzzy+map layout — no composed-table filtering needed
      val priorFuzzy = spark.read.parquet(clustersPath(priorRoot))
      val st = Dedup.incrementalClusters(newKeeperDocs,
        spark.read.parquet(bandsPath(priorRoot)), priorFuzzy)
      Writers.truncateLoad(st.bands.select("doc_id", "b", "key"), bandsPath(nextRoot))
      Writers.truncateLoad(st.clusters, clustersPath(nextRoot))
      st.release()
      stampFuzzyLayout(spark, nextRoot)
    }
  }

  /** CURATION → INDEX composition: retire every doc the dedup
    * decision under `curationRoot` DROPPED from an already-built
    * navigable-graph index — the operational form of the scale
    * lesson the ×100 harness measured ("near-dup dedup before
    * indexing", PERF.md rounds 10–11): when the index PREDATES the
    * curation pass, the drop set flows through
    * [[NavIndex.retireState]] as a delta-cost physical delete instead
    * of a full rebuild over the kept corpus. Ids are shared across
    * the documents/embeddings tables (the filtered-search contract);
    * dropped docs with no embedding are ignored by the retire. The
    * result is row-identical to building the index on the kept
    * corpus (`PipelineSpec`). */
  def retireDropped(spark: SparkSession, curationRoot: String,
      priorIndexRoot: String, nextIndexRoot: String): Unit = {
    import org.apache.spark.sql.functions._
    val dropped = decision(spark, curationRoot)
      .where(!col("keep")).select(col("doc_id").as("vec_id"))
    graft.pipelines.NavIndex.retireState(spark, dropped, priorIndexRoot, nextIndexRoot)
  }

  def winnowPath(root: String): String = s"$root/winnow_fps"

  private[graft] val WinnowSchema = "doc_id BIGINT, pos BIGINT, fp STRING"

  /** Bucket-scheme id of the winnow index manifests: hash(fp) over
    * [[ExactPartBits]] bits (fp-grain — the partial-copy gates probe
    * by fp equi-join). */
  private[graft] val WinnowScheme = s"fphash/$ExactPartBits"

  private def withWinnowPb(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.withColumn("pb", pmod(hash(col("fp")), lit(1 << ExactPartBits)))
  }

  /** Landed winnow-fingerprint index (doc_id, pos, fp) — the
    * versioned-release form of the `text_winnow_fps` artifact; the
    * streaming partial-copy gate (`DocStreams.partialCopyGate`)
    * probes exactly this table. Stored as an fp-hash-bucketed
    * [[graft.io.BucketedTable]]: fingerprints are PER-DOC independent
    * and a release only ever adds docs, so increments land as pure
    * delta appends (round 14 — before, every release truncate-loaded
    * the whole O(corpus·2/(w+1)) fingerprint table). */
  def buildWinnowIndex(spark: SparkSession, docs: DataFrame, root: String): Unit =
    graft.io.BucketedTable.write(withWinnowPb(Text.winnowFrom(docs)),
      winnowPath(root), WinnowScheme)

  /** Read the committed winnow index under `root`. */
  def winnowIndex(spark: SparkSession, root: String): DataFrame =
    graft.io.BucketedTable.read(spark, winnowPath(root), WinnowSchema)

  /** Release vN → vN+1 for the winnow index. Winnow fingerprints are
    * PER-DOC independent (no cross-doc state in the selection), so
    * the increment is exact by construction: winnow ONLY the delta
    * and land it as a delta append under the next versioned root —
    * zero prior-table I/O, row-identical to a full rebuild
    * (`PipelineSpec` pins it). Auto-compacts past the same
    * `graft.curation.compactMaxDirs` ceiling as the exact mapping, so
    * a long release chain keeps ~1 dir/bucket. */
  def incrementWinnowIndex(spark: SparkSession, newDocs: DataFrame,
      priorRoot: String, nextRoot: String): Unit = {
    require(graft.io.BucketedTable.isCommitted(spark, winnowPath(priorRoot)),
      s"prior winnow index at ${winnowPath(priorRoot)} was landed by an " +
        "earlier release layout (whole-table parquet); rebuild it with " +
        "buildWinnowIndex")
    graft.io.BucketedTable.writeAppended(spark,
      withWinnowPb(Text.winnowFrom(newDocs)),
      winnowPath(priorRoot), winnowPath(nextRoot), WinnowScheme)
    if (graft.io.BucketedTable.maxDirsPerBucket(spark, winnowPath(nextRoot)) >
        compactMaxDirs(spark))
      graft.io.BucketedTable.compact(spark, winnowPath(nextRoot),
        WinnowSchema, WinnowScheme)
  }

  /** Stage 2a: the deduplicated corpus, derived by READING the
    * materialized cluster table — row-identical to `Dedup.applyDedup`
    * at one-join cost. */
  def applyDeduped(spark: SparkSession, dir: String, root: String): DataFrame =
    Dedup.applyFrom(spark, dir, decision(spark, root))

  /** Stage 2b: the composed curation decision, same derivation. */
  def curationDecision(spark: SparkSession, dir: String, root: String): DataFrame =
    Text.curateFrom(spark, dir, decision(spark, root))

  /** Stage 2c: the fully near-dup-safe train/val/test split, derived
    * from the materialized cluster table: every doc is keyed by its
    * CLUSTER's keeper (unpaired docs by themselves), and the split
    * bucket comes from the keeper's content hash — so an entire
    * near-dup cluster lands in one split and can never straddle the
    * train/test boundary. Two hash equi-joins against tables no larger
    * than the corpus (decision table + the keeper text lookup); the
    * map-only prefix-hash approximation is `Text.splitLeakFree`.
    * Output: doc_id, key_doc, bucket, split. */
  def leakFreeSplit(spark: SparkSession, dir: String, root: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir)
    val cl = decision(spark, root).select("doc_id", "cluster_id")
    val keyed = docs.select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("key_doc"))
    keyed
      .join(docs.select(col("doc_id").as("key_doc"),
        (conv(substring(md5(col("text")), 1, 7), 16, 10).cast("long") % 100).as("bucket")),
        "key_doc")
      .withColumn("split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
      .select("doc_id", "key_doc", "bucket", "split")
      .orderBy("doc_id")
  }

  /** Stage 2d: the token-budget mixture resample over the CURATED
    * corpus — the step between the `text_source_mix` report and
    * `release`: kept docs only, re-weighted to the temperature mixture
    * and cut to the token budget (`Text.resampleMixFrom`; weights and
    * budget derive from the curated slice, so the mixture targets what
    * actually ships). Output: doc_id, source, lang, n_toks. */
  def resampledCorpus(spark: SparkSession, dir: String, root: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val kept = spark.read.parquet(s"$root/curation_decision")
      .where(col("kept")).select("doc_id")
    Text.resampleMixFrom(graft.Tables.documents(spark, dir).join(kept, "doc_id"))
  }

  /** Release-to-release corpus AUDIT — the diff a data lead reads
    * before shipping vN+1: per document, whether it was added,
    * removed, changed (same id, different content hash), or carried
    * unchanged, rolled up per source with character-mass deltas. One
    * full-outer hash equi-join on doc_id over (id, md5, n_chars)
    * projections — the corpus text itself never ships — plus a
    * source-keyed rollup; at 100 TB both sides scan only three
    * narrow columns and the join shuffles hashes, not documents.
    * Output: source, n_added, n_removed, n_changed, n_unchanged,
    * chars_delta. */
  def releaseDiff(spark: SparkSession, priorDocs: DataFrame, nextDocs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    def slim(df: DataFrame, suffix: String) =
      df.select(col("doc_id"),
        col("source").as(s"source_$suffix"),
        md5(col("text")).as(s"h_$suffix"),
        col("n_chars").cast("long").as(s"chars_$suffix"))
    slim(priorDocs, "a").join(slim(nextDocs, "b"), Seq("doc_id"), "full")
      .select(
        coalesce(col("source_b"), col("source_a")).as("source"),
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("unchanged").as("status"),
        (coalesce(col("chars_b"), lit(0L)) - coalesce(col("chars_a"), lit(0L))).as("cd"))
      .groupBy("source")
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
        sum(col("cd")).as("chars_delta"))
      .orderBy("source")
  }

  /** The full pipeline: cluster once, land both derived tables.
    * Re-runnable: every stage is a truncate-load, so a re-run
    * reproduces the same state (the reference's idempotency contract
    * for staged tables). */
  def run(spark: SparkSession, dir: String, root: String): Unit = {
    buildClusters(spark, dir, root)
    Writers.truncateLoad(applyDeduped(spark, dir, root), s"$root/corpus_deduped")
    Writers.truncateLoad(curationDecision(spark, dir, root), s"$root/curation_decision")
  }

  /** Stage 3: the corpus RELEASE — what actually ships to a training
    * run. Kept documents only (the composed curation decision read
    * from its materialized table), joined with the cluster-keyed
    * leak-free split, written PARTITIONED BY (split, lang) so a
    * trainer prunes to `split=train/lang=en/` at the scan (partition
    * pruning is the 100 TB access path — no full-corpus read to pull
    * one slice), via the same dynamic-partition-overwrite contract as
    * the load path (idempotent re-release). Alongside the data, a
    * release MANIFEST lands as a table: per-(split, lang) doc counts,
    * character mass, and an order-independent content checksum (sum
    * of 56-bit text hashes) — the audit artifact that lets a consumer
    * verify a partition without re-reading the corpus. The checksum
    * accumulates in DECIMAL(38,0), not BIGINT: 56-bit addends overflow
    * a signed long at ~128 docs per partition, and Spark 4's default
    * ANSI mode turns that into ARITHMETIC_OVERFLOW at realistic corpus
    * scale; decimal(38,0) holds ~10^21 docs per (split,lang). */
  def release(spark: SparkSession, dir: String, root: String): Unit = {
    import org.apache.spark.sql.functions._
    val kept = spark.read.parquet(s"$root/curation_decision")
      .where(col("kept")).select("doc_id")
    val split = leakFreeSplit(spark, dir, root).select("doc_id", "split")
    val released = graft.Tables.documents(spark, dir)
      .join(kept, "doc_id")
      .join(split, "doc_id")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"),
        col("split"), col("lang"))
    Writers.rangedOverwrite(released, s"$root/corpus_release", "split", "lang")
    val manifest = spark.read.parquet(s"$root/corpus_release")
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(expr("cast(conv(substring(md5(text), 1, 14), 16, 10) as decimal(38,0))"))
          .as("checksum"))
    Writers.truncateLoad(manifest, s"$root/release_manifest")
  }

  /** Stage 5: the TRAINER-facing release — the full new-ops
    * composition: curation's kept documents are budgeted by
    * max-min-fair water-filling over THEIR per-source token masses
    * (`Text.budgetApplyDocs` — no upsampling, whole docs, allocations
    * telescoping to 25% of the kept mass), and the admitted set is
    * globally shuffled into training shards with a reproducible
    * within-shard order (`Text.shardShuffleDocs`). Data lands
    * PARTITIONED BY shard (a trainer reads `shard=<k>/` — partition
    * pruning is the access path, and the shard-count ladder keeps
    * each partition ~bounded), idempotently via dynamic partition
    * overwrite; the per-shard manifest (doc count, token mass,
    * order-free decimal checksum) lands beside it — the artifact a
    * trainer verifies before reading. */
  def trainingRelease(spark: SparkSession, dir: String, root: String): Unit = {
    import org.apache.spark.sql.functions._
    val kept = spark.read.parquet(s"$root/curation_decision")
      .where(col("kept")).select("doc_id")
    val docs = graft.Tables.documents(spark, dir).join(kept, "doc_id")
    val admitted = graft.ops.Text.budgetApplyDocs(spark, docs)
      .where(col("kept")).select("doc_id")
    val sharded = graft.ops.Text.shardShuffleDocs(spark, admitted)
    val out = docs.join(sharded.select("doc_id", "shard", "pos"), "doc_id")
      .select(col("shard"), col("pos"), col("doc_id"), col("text"),
        col("source"), col("lang"),
        size(split(col("text"), " ")).cast("bigint").as("n_toks"))
    Writers.rangedOverwrite(out, s"$root/training_release", "shard")
    val manifest = spark.read.parquet(s"$root/training_release")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"),
        sum(expr("cast(conv(substring(md5(text), 1, 14), 16, 10) as decimal(38,0))"))
          .as("checksum"))
    Writers.truncateLoad(manifest, s"$root/training_manifest")
  }

  // ---- Release-chain retention (round 15) — the `IndexStreams`
  // vacuum/compact/anchor lifecycle applied to the CURATION chain.
  // A release chain lands versioned roots `<chain>/v<N>` (the
  // `incrementState` convention); the exact keeper mapping and the
  // winnow index are bucketed delta-append tables whose increments
  // REFERENCE ancestor versions' buckets by manifest, so deleting an
  // old release naively would tear every newer one — the identical
  // reference-counting problem the nav chain solved, with the
  // identical resolution: compaction turns the tip self-contained
  // (an ANCHOR), and vacuum deletes only strictly below the newest
  // retained anchor, then manifest-diff-sweeps crashed-write orphans
  // inside what stays.

  /** The bucketed chain tables PRESENT under a release root (the
    * whole-landed tables — bands, fuzzy decision — are self-contained
    * per release by construction and need no lifecycle). */
  private def chainTables(spark: SparkSession, vroot: String): Seq[(String, String, String)] = {
    val fs = new org.apache.hadoop.fs.Path(vroot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((exactPath(vroot), ExactSchema, ExactScheme),
      (winnowPath(vroot), WinnowSchema, WinnowScheme))
      .filter { case (p, _, _) => fs.exists(new org.apache.hadoop.fs.Path(p)) }
  }

  /** The release at `vroot` is COMMITTED — judged by its composition's
    * LAST-landed artifact, so a crash mid-release can never count:
    * an exact-first release (mapping present) commits with the layout
    * marker (landed after bands + clusters — a mapping WITHOUT the
    * marker is a torn landing, not a legacy layout, which the
    * increment path refuses separately); a fuzzy-only release commits
    * with the clusters `_SUCCESS` (its last write); a winnow-only
    * chain commits with the winnow manifest. */
  private def isReleaseCommitted(spark: SparkSession, vroot: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(vroot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.io.BucketedTable.isCommitted(spark, exactPath(vroot)))
      hasFuzzyLayout(spark, vroot)
    else if (fs.exists(new org.apache.hadoop.fs.Path(clustersPath(vroot))))
      fs.exists(new org.apache.hadoop.fs.Path(s"${clustersPath(vroot)}/_SUCCESS"))
    else graft.io.BucketedTable.isCommitted(spark, winnowPath(vroot))
  }

  /** Committed release versions under `root`, ascending. */
  private[graft] def committedReleases(spark: SparkSession, root: String): Seq[Long] =
    graft.io.ChainRetention.committedVersions(spark, root,
      isReleaseCommitted(spark, _))

  /** The release at `vroot` is a chain ANCHOR: every bucketed chain
    * table present references only its own directories. True of full
    * builds and of tips after [[compactReleases]]; never of a
    * freshly-incremented release (its mapping append references the
    * prior release). A torn table (dir without manifest) is NOT an
    * anchor rather than an error — retention must refuse, not crash
    * (the `NavIndex.isAnchor` contract). */
  private[graft] def isReleaseAnchor(spark: SparkSession, vroot: String): Boolean =
    chainTables(spark, vroot).forall { case (p, _, _) =>
      graft.io.BucketedTable.isSelfContainedIfCommitted(spark, p, vroot) }

  /** ANCHORIFY the newest committed release: compact each bucketed
    * chain table of the tip into self-contained one-dir-per-bucket
    * form (pure I/O, rows byte-equal — `BucketedTable.compact`). The
    * tip has no descendants, so no other manifest references the
    * superseded directories. After this, [[vacuumReleases]] can
    * reclaim the whole pre-compact chain. */
  def compactReleases(spark: SparkSession, root: String): Unit = {
    val vs = committedReleases(spark, root)
    require(vs.nonEmpty, s"no committed release under $root")
    val tip = graft.io.ChainRetention.versionRoot(root, vs.last)
    chainTables(spark, tip).foreach { case (p, s, sch) =>
      require(graft.io.BucketedTable.isCommitted(spark, p),
        s"release state table at $p has no committed manifest (earlier " +
          "layout or torn landing) — rebuild the release with " +
          "buildStateExactFirst/buildWinnowIndex")
      graft.io.BucketedTable.compact(spark, p, s, sch)
    }
  }

  /** Retire old releases through the shared chain-retention rule
    * (`graft.io.ChainRetention.vacuum`): keep the newest `keepLast`
    * committed versions, delete only strictly below the newest
    * retained anchor, sweep crashed-write orphans inside what stays.
    * One guard beyond the nav chain's (whose table set is fixed): an
    * anchor candidate must CARRY every chain-table kind any OLDER
    * committed release carries — a tip that lost a kind to a crash
    * (e.g. incrementState landed but incrementWinnowIndex never ran)
    * must not let vacuum delete the ancestors holding that kind's
    * only state; repair the tip first. */
  def vacuumReleases(spark: SparkSession, root: String, keepLast: Int): Unit = {
    val vs = committedReleases(spark, root)
    def kinds(b: Long): Set[String] =
      chainTables(spark, graft.io.ChainRetention.versionRoot(root, b))
        .map { case (p, _, _) => p.split("/").last }.toSet
    graft.io.ChainRetention.vacuum(spark, root, keepLast,
      isReleaseCommitted(spark, _),
      (b, vr) => {
        val older = vs.filter(_ < b).flatMap(kinds).toSet
        isReleaseAnchor(spark, vr) && older.subsetOf(kinds(b))
      },
      vr => chainTables(spark, vr).flatMap { case (p, _, _) =>
        graft.io.BucketedTable.referencedDirs(spark, p) }.toSet,
      (vr, live) => chainTables(spark, vr).foreach { case (p, _, _) =>
        graft.io.BucketedTable.sweepOrphans(spark, p, live); () },
      () => compactReleases(spark, root))
  }
}
