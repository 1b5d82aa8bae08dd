package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table: language ID (stopword-marker heuristic), quality
  * scoring, token counting (whitespace + BPE-ish regex), and document
  * fingerprinting (min-hash over character shingles).
  *
  * All functions are pure per-row Catalyst expressions (no UDFs), so
  * they stay inside whole-stage codegen and scale embarrassingly
  * parallel — at 100 TB these are map-only stages with zero shuffle
  * (the final orderBy exists only for the deterministic oracle gate;
  * a production sink would drop it).
  */
object Text {

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de0", "shi4", "zai4", "le0", "wo3"))

  private def markerCount(lang: String): String = {
    val arr = markers.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    s"size(filter(split(lower(text), ' '), w -> array_contains(array($arr), w)))"
  }

  /** Language identification: count per-language marker stopwords,
    * pick the max (ties resolved in fixed en,de,es,fr,zh order).
    * Output: doc_id, lang, pred_lang, score. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .withColumn("s_en", expr(markerCount("en")))
      .withColumn("s_de", expr(markerCount("de")))
      .withColumn("s_es", expr(markerCount("es")))
      .withColumn("s_fr", expr(markerCount("fr")))
      .withColumn("s_zh", expr(markerCount("zh")))
    val top = greatest(col("s_en"), col("s_de"), col("s_es"), col("s_fr"), col("s_zh"))
    scored
      .withColumn("pred_lang",
        when(col("s_en") === top, "en")
          .when(col("s_de") === top, "de")
          .when(col("s_es") === top, "es")
          .when(col("s_fr") === top, "fr")
          .otherwise("zh"))
      .select(col("doc_id"), col("lang"), col("pred_lang"), top.cast("bigint").as("score"))
      .orderBy("doc_id")
  }

  /** Language-ID evaluation: the marker heuristic's confusion matrix
    * against the corpus' labeled `lang` column — the
    * classifier-vs-ground-truth audit a pipeline runs before trusting
    * a cheap heuristic to route documents. One k×k-bounded aggregate
    * over `langId`'s map-side scores; the row share normalizes within
    * the true language via a k-bounded window.
    * Output: lang, pred_lang, n, frac. */
  def langIdEval(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    langId(spark, dir)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("frac", round(col("n") / sum(col("n")).over(w), 6))
      .orderBy("lang", "pred_lang")
  }

  /** Corpus composition report: document count, exact character mass,
    * mean length, and corpus share per (source, lang) — the mixture
    * table every training-data builder publishes alongside a corpus
    * (and re-weights against). Map-side projection + one tiny
    * aggregate; the corpus total rides a 1-row broadcast.
    * Output: source, lang, n_docs, total_chars, mean_chars, doc_share. */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    val mix = Tables.documents(spark, dir)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(sum(col("n_chars")) / count(lit(1)), 6).as("mean_chars"))
    val tot = mix.agg(sum(col("n_docs")).as("total_docs"))
    mix.crossJoin(broadcast(tot))
      .withColumn("doc_share", round(col("n_docs") / col("total_docs"), 6))
      .select("source", "lang", "n_docs", "total_chars", "mean_chars", "doc_share")
      .orderBy("source", "lang")
  }

  /** Corpus mixture RESAMPLING to a token budget — the operator that
    * CONSUMES the `sourceMix` report: given per-(source, lang) target
    * weights, emit the deterministic subset of the corpus that hits a
    * total token budget in those proportions (the step between the mix
    * report and a release). Weights here are temperature-style
    * w_g = floor(sqrt(n_docs_g)) — the standard sub-linear rebalancing
    * that upsamples tail groups relative to head groups (α = 0.5);
    * budget = 1/4 of corpus whitespace tokens.
    *
    * Determinism + engine parity: docs are hash-ordered within their
    * group (md5(text), doc_id — same systematic-sampling idiom as
    * `sampleStratified`), and a doc is kept while the tokens BEFORE it
    * fit the group budget (the last kept doc may overflow, exactly
    * `pack`'s bin rule). All budget arithmetic is exact BIGINT:
    * budget_g = floor(B·w_g / Σw) evaluated as
    * (B div Σw)·w_g + ((B mod Σw)·w_g) div Σw — the floor-division
    * identity keeps every intermediate ≤ max(B, Σw·max_w), so nothing
    * overflows at 100 TB token counts where a naive B·w_g product
    * would, and both engines select the identical boundary doc (no
    * float compare anywhere).
    *
    * Scale: one tiny (source, lang) aggregate, scalars on 1-row
    * broadcast carriers, the per-group budget table broadcast to the
    * corpus scan, one cumulative window per group — the same
    * shard-window shape as `pack`. Output: doc_id, source, lang,
    * n_toks. */
  def resampleMix(spark: SparkSession, dir: String): DataFrame =
    resampleMixFrom(Tables.documents(spark, dir))

  /** The same resample over an EXPLICIT corpus slice — the seam a
    * release pipeline uses to resample the CURATED corpus (kept docs
    * only) rather than the raw table. */
  private[graft] def resampleMixFrom(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"), col("source"), col("lang"),
      size(split(col("text"), " ")).cast("bigint").as("n_toks"),
      md5(col("text")).as("h"))
    val grp = docs.groupBy("source", "lang")
      .agg(floor(sqrt(count(lit(1)))).cast("bigint").as("w"))
    val tot = docs.agg(expr("sum(n_toks) div 4").as("b"))
    val sumW = grp.agg(sum(col("w")).as("sum_w"))
    val budgets = grp.crossJoin(broadcast(tot)).crossJoin(broadcast(sumW))
      .select(col("source"), col("lang"),
        expr("(b div sum_w) * w + ((b % sum_w) * w) div sum_w").as("budget"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "lang").orderBy("h", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .join(broadcast(budgets), Seq("source", "lang"))
      .withColumn("cum", sum(col("n_toks")).over(win))
      .where(col("cum") - col("n_toks") < col("budget"))
      .select("doc_id", "source", "lang", "n_toks")
      .orderBy("doc_id")
  }

  /** Quality scoring: token count, average token length, stopword
    * ratio, and a composite [0,1] score. Output: doc_id, n_tokens,
    * avg_token_len, stop_ratio, quality. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
      .withColumn("n_stop", expr(markerCount("en")).cast("bigint"))
      .withColumn("avg_token_len",
        (length(col("text")) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_tokens"), 6))
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("avg_token_len"), 6).as("avg_token_len"), col("stop_ratio"),
        round(
          least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.5 +
            col("n_stop").cast("double") / col("n_tokens") * 0.3 +
            when(col("avg_token_len").between(3.0, 8.0), 0.2).otherwise(0.0), 6).as("quality"))
      .orderBy("doc_id")

  /** Token counting: whitespace tokens and a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation).
    * Output: doc_id, ws_tokens, bpe_tokens. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("bigint").as("bpe_tokens"))
      .orderBy("doc_id")

  /** Repetition / boilerplate detection — the "top token dominance"
    * quality rule from published LLM-corpus filtering heuristics: the
    * most frequent token's share of the document. explode + two-level
    * aggregate: one shuffle on (doc_id, tok), per-doc windows bounded
    * by vocabulary size — both plain hash shuffles at 100 TB.
    * Output: doc_id, n_tokens, top_tok, top_n, rep_ratio. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("c").desc, col("tok"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    counts
      .withColumn("rn", row_number().over(w))
      .withColumn("n_tokens", sum(col("c")).over(wDoc))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("n_tokens"),
        col("tok").as("top_tok"), col("c").as("top_n"),
        round(col("c").cast("double") / col("n_tokens"), 6).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** Reproducible train/val/test split assignment by CONTENT hash —
    * the corpus-curation split: stable across re-runs, partition
    * layouts, and engines, unlike rand()-based sampling (hash-based
    * systematic sampling; 90/5/5). Map-only, no shuffle.
    * Output: doc_id, bucket, split. */
  def trainValTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (conv(substring(md5(col("text")), 1, 7), 16, 10).cast("long") % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
      .orderBy("doc_id")

  /** Duplication-aware train/val/test split: assignment keyed on the
    * 40-char PREFIX hash (the `Dedup.prefix` near-exact group key)
    * instead of the full content hash, so near-exact duplicates —
    * trailing-whitespace/footer variants of the same document — land
    * in the SAME split and never straddle the train/test boundary (the
    * standard leakage failure of naive per-doc splitting). Map-only,
    * no shuffle, same 90/5/5 buckets as `trainValTestSplit`. The full
    * near-dup-safe form keys on the minhash cluster instead —
    * `pipelines.Curation.leakFreeSplit` derives it from the
    * materialized cluster table at one-join cost.
    * Output: doc_id, bucket, split. */
  def splitLeakFree(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (conv(substring(md5(substring(col("text"), 1, 40)), 1, 7), 16, 10).cast("long") % 100)
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
      .orderBy("doc_id")

  /** PII regex patterns — the dialect-portable subset (character
    * classes, bounded repetition; no lookaround, no \b) that Java
    * regex (Spark) and RE2 (DuckDB) interpret identically. */
  private[graft] val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[graft] val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private[graft] val IpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** The PII-detector input: the corpus text with a deterministic
    * synthetic contact footer on 1-in-7 docs (email + phone; 1-in-14
    * also an IP). The testdata ships no PII-shaped strings, so — same
    * posture as `Multimodal.mediaTable`'s synthesized payloads — the
    * INPUT is a documented stub derived purely from (doc_id, text)
    * while the detection/redaction machinery is real, oracle-mirrored,
    * and exactly what runs over a corpus that does contain PII. */
  private def piiText: org.apache.spark.sql.Column = {
    val footer = concat(
      lit(" contact u"), col("doc_id").cast("string"), lit("@example.com phone 555-012-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      when(col("doc_id") % 14 === 0,
        concat(lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 100).cast("string"))).otherwise(lit("")))
    when(col("doc_id") % 7 === 0, concat(col("text"), footer)).otherwise(col("text"))
  }

  /** PII / redaction curation pass — the standard pre-release gate:
    * per-doc counts of email / phone / IPv4 regex hits and the length
    * of the text after class-tagged redaction ([EMAIL]/[PHONE]/[IP]),
    * the audit columns a privacy review reads. Pure per-row regex
    * expressions (codegen'd, map-only, no shuffle — the same scaling
    * story as `quality`); patterns are restricted to the Java∩RE2
    * dialect so both engines count and redact identically.
    * `curateFrom` composes the heavy-PII flag (all three classes
    * present) into the release gate. Output: doc_id, n_emails,
    * n_phones, n_ips, n_pii, redacted_len, has_pii. */
  def pii(spark: SparkSession, dir: String): DataFrame = {
    val t = piiText
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(t, lit(EmailRe), lit("[EMAIL]")),
        lit(PhoneRe), lit("[PHONE]")),
      lit(IpRe), lit("[IP]"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("bigint").as("n_emails"),
        size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("bigint").as("n_phones"),
        size(regexp_extract_all(t, lit(IpRe), lit(0))).cast("bigint").as("n_ips"),
        length(redacted).cast("bigint").as("redacted_len"))
      .withColumn("n_pii", col("n_emails") + col("n_phones") + col("n_ips"))
      .withColumn("has_pii", col("n_pii") > 0)
      .select("doc_id", "n_emails", "n_phones", "n_ips", "n_pii", "redacted_len", "has_pii")
      .orderBy("doc_id")
  }

  /** The composed corpus-curation decision — the artifact an LLM
    * training-data pipeline actually ships: one auditable row per
    * document carrying every gate's verdict and the final keep
    * decision. Gates: held-out eval membership (excluded from
    * training), near-dup cluster losers (`Dedup.clusters` keeper
    * election), train-test contamination (`Dedup.decontaminate`), and
    * the composite quality score in the bottom tail (< 0.35 — the
    * score's median sits near 0.5, and a cut gate belongs at the
    * tail, not the median).
    *
    * Scale: three left joins on doc_id against tables that are each
    * strictly smaller than the corpus (losers = docs in pairs minus
    * keepers, contaminated = flagged docs only, quality = map-only) —
    * plain hash equi-joins, no new shuffle shapes beyond the
    * constituent operators'. Emitting flags for ALL docs (not just
    * survivors) is deliberate: the reasons table is what makes a
    * curation run reviewable. Output: doc_id, heldout, dup_loser,
    * contaminated, low_quality, pii_heavy, kept. */
  def curate(spark: SparkSession, dir: String): DataFrame =
    curateFrom(spark, dir, Dedup.clusterArtifact(spark, dir))

  /** The same decision composed from an EXPLICIT cluster table — the
    * seam `pipelines.Curation` uses so a materialized cluster run is
    * joined, not recomputed (the independent-query contract forces
    * `curate` above to re-run the loop; a production pipeline never
    * should). */
  private[graft] def curateFrom(spark: SparkSession, dir: String, clusterTable: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val losers = clusterTable
      .where(!col("keep")).select(col("doc_id"), lit(true).as("dl"))
    // Gate calibration (round 6): the curation gates CUT, so their
    // thresholds sit at the distribution tails — the audit queries
    // (`text_decontaminate`, `text_quality`) keep their looser
    // flag-for-review thresholds. On this corpus the review gate
    // (>= 10 shared 12-char shingles, quality < 0.5 = the median)
    // kept literally ZERO documents — a decision table that rejects
    // everything is as useless as one that keeps everything. >= 64
    // shared shingles (~p90 of the overlap distribution) and
    // quality < 0.35 (~p15) yield a realistic curation: most of the
    // corpus survives, the tails don't.
    val cont = Dedup.decontaminate(spark, dir)
      .where(col("n_overlap") >= 64).select(col("doc_id"), lit(true).as("ct"))
    val lowQ = quality(spark, dir)
      .select(col("doc_id"), (col("quality") < 0.35).as("lq"))
    // PII gate: cut only the heavy case (all three classes present —
    // a contact block, not an incidental address); has_pii alone is a
    // review flag in `pii`, not a cut
    val piiHeavy = pii(spark, dir)
      .where(col("n_emails") > 0 && col("n_phones") > 0 && col("n_ips") > 0)
      .select(col("doc_id"), lit(true).as("ph"))
    docs
      .join(losers, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .join(lowQ, Seq("doc_id"), "left")
      .join(piiHeavy, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("doc_id") % 50 === 0).as("heldout"),
        coalesce(col("dl"), lit(false)).as("dup_loser"),
        coalesce(col("ct"), lit(false)).as("contaminated"),
        coalesce(col("lq"), lit(false)).as("low_quality"),
        coalesce(col("ph"), lit(false)).as("pii_heavy"))
      .withColumn("kept",
        !col("heldout") && !col("dup_loser") && !col("contaminated") &&
          !col("low_quality") && !col("pii_heavy"))
      .orderBy("doc_id")
  }

  /** Corpus-level vocabulary statistics: the 50 highest-frequency
    * whitespace tokens with term frequency and document frequency.
    * One (doc, tok)-explode shuffle with map-side partial aggregation
    * (hot tokens pre-combine per partition, so skew never concentrates
    * raw rows); the top-k is `orderBy.limit` — Spark's distributed
    * TakeOrdered, NOT a global-sort window, so a billion-token
    * vocabulary never funnels through one partition.
    * Output: tok, tf, df. */
  def vocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(50)

  /** Zipf fit: the rank–frequency power law over the top-50 vocabulary
    * — OLS of ln(tf) on ln(rank), whose slope for natural language
    * sits near −1 (a corpus that deviates hard is boilerplate- or
    * template-heavy: the same distributional red flag `repetition`
    * measures per doc, here corpus-level). Ranks are assigned on the
    * 50-row top-k result (the window is bounded by k, not the
    * vocabulary), regression via the same `regr_*` aggregates the
    * risk family hash-matches with. Output: zipf_slope,
    * zipf_intercept, r2, n_top. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tf").desc, col("tok"))
    vocab(spark, dir)
      .withColumn("rank", row_number().over(w))
      .agg(round(expr("regr_slope(ln(tf), ln(rank))"), 6).as("zipf_slope"),
        round(expr("regr_intercept(ln(tf), ln(rank))"), 6).as("zipf_intercept"),
        round(expr("regr_r2(ln(tf), ln(rank))"), 6).as("r2"),
        count(lit(1)).as("n_top"))
  }

  /** Reproducible stratified sample: the 10 lowest-content-hash docs
    * per `source` stratum — hash-ordered systematic sampling, so the
    * sample is stable across re-runs, partition layouts, and engines
    * (unlike rand()). The window partitions by stratum; at 100 TB each
    * stratum ranks independently after one shuffle.
    * Output: source, doc_id. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(md5(col("text")), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 10)
      .select("source", "doc_id")
      .orderBy("source", "doc_id")
  }

  /** Fixed-size token chunking with overlap — the pre-packing step
    * that turns documents into training sequences: 64-token chunks at
    * stride 48 (16-token overlap). Chunk starts are i*48 for
    * i in [0, (n-1) div 48]: every token is covered and the last
    * chunk may be short. split-then-join on single spaces is the
    * identity, so `chunk_hash` is content-addressed identically on
    * both engines. Map-side explode only — no shuffle.
    * Output: doc_id, chunk_idx, n_toks, chunk_hash. */
  def chunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, (n - 1) div 48), i -> array_join(slice(toks, i * 48 + 1, 64), ' '))"))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        size(split(col("chunk"), " ")).cast("bigint").as("n_toks"),
        md5(col("chunk")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")

  /** Content-defined chunking — rolling-hash boundaries instead of
    * [[chunks]]' fixed stride: a token ENDS a chunk when the hash of
    * the 4-token window landing on it draws 0 mod 64 (expected chunk
    * ≈ 64 tokens, like CDC in dedup storage systems). The property
    * fixed-stride chunking lacks and dedup needs: inserting or
    * deleting a token resynchronizes within one window, so every
    * LATER chunk keeps its identity (signature) — edit-shifted
    * near-dups still share most chunk signatures (the unit spec
    * constructs the shifted pair and asserts it). Per-doc windows
    * only — partitioned by doc_id, scales like every per-key window
    * here; the signature is an order-free 32-bit-slice sum, exact in
    * BIGINT to ~2⁶²-token chunks. Output: doc_id, chunk_idx, n_toks,
    * start_pos, sig. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunksDocs(Tables.documents(spark, dir))

  private[graft] def cdcChunksDocs(docs: DataFrame): DataFrame = {
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val prevAll = wd.rowsBetween(Window.unboundedPreceding, -1)
    val t = docs
      // spread the posexplode; doc_id partitioning then feeds the
      // rolling-window stage with no further exchange (explicit N, as
      // elsewhere: AQE would coalesce on the pre-explode text bytes)
      .repartition(Tables.shufflePartitions(docs.sparkSession), col("doc_id"))
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("win4", concat_ws(" ",
        coalesce(lag(col("tok"), 3).over(wd), lit("")),
        coalesce(lag(col("tok"), 2).over(wd), lit("")),
        coalesce(lag(col("tok"), 1).over(wd), lit("")),
        col("tok")))
      .withColumn("cut", (col("pos") >= 3) &&
        (conv(substring(md5(col("win4")), 1, 6), 16, 10).cast("bigint") % 64 === 0))
      .withColumn("chunk_idx", coalesce(
        sum(when(col("cut"), 1L).otherwise(0L)).over(prevAll), lit(0L)))
    t.groupBy("doc_id", "chunk_idx")
      .agg(count(lit(1)).as("n_toks"),
        min(col("pos")).cast("bigint").as("start_pos"),
        sum(conv(substring(md5(col("tok")), 7, 8), 16, 10).cast("bigint")).as("sig"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Chunk-level duplication report — the CDC payoff: chunks whose
    * (signature, token count) appears in MORE THAN ONE document are
    * duplicated content even when the containing documents differ
    * (boilerplate headers, quoted passages, shifted near-dups), and
    * the per-doc duplicated token mass is the removal opportunity a
    * sub-document dedup pass would harvest. One chunk-keyed groupBy
    * (vocabulary-of-chunks-sized) joined back — candidate-based,
    * never pairwise. Output: doc_id, n_chunks, dup_chunks, dup_toks,
    * dup_ratio. */
  def cdcDedup(spark: SparkSession, dir: String): DataFrame = {
    val ch = cdcChunksDocs(Tables.documents(spark, dir))
    // dup = "more than one distinct doc holds this chunk identity" ⟺
    // min(doc_id) ≠ max(doc_id) within the (sig, n_toks) group — a
    // window over ONE exchange on the chunk identity, instead of the
    // former groupBy + join-back, whose two exchange legs re-derived
    // the whole chunk table (two full window+md5 passes over the
    // exploded corpus; r18 plan diff: 2 chunk derivations → 1, join
    // gone). Window partition sizes are bounded by the number of docs
    // sharing one chunk identity.
    val wc = Window.partitionBy("sig", "n_toks")
    ch.withColumn("dup",
        min(col("doc_id")).over(wc) =!= max(col("doc_id")).over(wc))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("dup"), col("n_toks")).otherwise(0L)).as("dup_toks"),
        round(sum(when(col("dup"), col("n_toks")).otherwise(0L)).cast("double") /
          sum(col("n_toks")), 6).as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** TF-IDF keyword extraction: the top-3 terms per document by
    * tf·idf — the classic corpus-weighted relevance score (tf = term
    * share of the doc, idf = ln(N/df) over the whole corpus), the
    * building block of keyword tagging / topic labeling passes over
    * training corpora.
    *
    * Scale: one (doc, tok) count shuffle with map-side partial
    * aggregation, one tok-keyed df aggregation (vocabulary-sized),
    * joined back token-count-table-sized; N is a 1-row broadcast
    * scalar (the documented crossJoin carrier, never a collect). The
    * top-k window partitions by doc. Rank orders on the ROUNDED score
    * (+ tok tiebreak) so both engines rank identically.
    * Output: doc_id, tok, tfidf, rank. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs
      // spread the one-row-group scan before the explode; doc_id
      // partitioning then satisfies the (doc_id, tok) groupBy, the
      // nTok rollup, the score join and the top-k window — the tok-df
      // aggregation is the only remaining exchange (explicit N: AQE
      // would size the coalesce by the pre-explode bytes)
      .repartition(Tables.shufflePartitions(spark), col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .persist()
    // Materialize before the df-aggregation + score sides fan out; the
    // returned plan reads this cache, so release is the runner's
    // (graft.CachePolicy — the module-wide convention).
    counts.count()
    val nTok = counts.groupBy("doc_id").agg(sum(col("c")).as("n_tokens"))
    val df = counts.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    // N is an exact O(1) driver scalar (a parquet-metadata count), so
    // it inlines as a literal — the former 1-row crossJoin carrier
    // funded a broadcast build job and the query's only
    // BroadcastNestedLoopJoin (r18; same exact integer either way)
    val nDocs = docs.count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok"))
    counts
      .join(nTok, "doc_id")
      .join(df, "tok")
      .withColumn("tfidf", round(
        (col("c").cast("double") / col("n_tokens").cast("double")) *
          log(lit(nDocs).cast("double") / col("df").cast("double")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("tok"), col("tfidf"), col("rank").cast("bigint").as("rank"))
      .orderBy("doc_id", "rank")
  }

  /** BM25 ranks table shared by the published query ([[bm25]], top-5)
    * and the hybrid RRF fusion (`Similarity.rrfFusion`, top-10): Okapi
    * BM25 (k1 = 1.2, b = 0.75, the Lucene `+1` idf so scores stay
    * positive) of every document against each query document's
    * DISTINCT terms (doc_id < 10) — the "more-like-this" retrieval
    * readout a curation pipeline runs for decontamination review
    * queues.
    *
    * Scale shape: candidates come from the POSTING-LIST equi-join
    * (query terms × token counts on tok) — only documents sharing at
    * least one query term are ever scored, never a doc cross join; df
    * and doc-length tables are vocabulary/doc-count-sized aggregations
    * with map-side combine; corpus stats (N, avgdl) ride a 1-row
    * broadcast carrier. Per-term contributions are rounded to 6 dp
    * and summed in DECIMAL so the score — and therefore the rank — is
    * addend-order-free (the float-sum ranking pitfall: a double sum's
    * addend order is engine- and run-nondeterministic). */
  private[graft] def bm25Ranks(spark: SparkSession, dir: String, k: Int): DataFrame = {
    require(k <= 10, s"bm25 artifact holds top-10 ranks, asked for $k")
    bm25RanksArtifact(spark, dir).where(col("rank") <= k)
  }

  /** The lexical index's answer table as a landed artifact (top-10
    * ranks per query): BM25 over an inverted index is exactly the
    * build-once-read-many shape — both consumers ([[bm25]] top-5 and
    * `Similarity.rrfFusion` top-10) read the same files. Build cost
    * is visible in the bench's `artifact_build` line. */
  private def bm25RanksArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "text_bm25_ranks", dir) {
      val (df, release) = bm25Derive(spark, dir, 10)
      (df, release)
    }

  private def bm25Derive(spark: SparkSession, dir: String, k: Int): (DataFrame, () => Unit) = {
    val docs = Tables.documents(spark, dir)
    val counts = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .persist()
    counts.count() // materialize before the df/len/posting sides fan out
    val nTok = counts.groupBy("doc_id").agg(sum(col("c")).as("n_tokens"))
    val dfT = counts.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    val st = nTok.agg(count(lit(1)).as("n_docs"),
      (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = counts.where(col("doc_id") < 10)
      .select(col("doc_id").as("qid"), col("tok")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sdec").desc, col("doc_id"))
    val out = qterms
      .join(counts, "tok")
      .where(col("doc_id") =!= col("qid"))
      .join(dfT, "tok")
      .join(nTok, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("term", round(
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("c").cast("double") * lit(2.2)) /
          (col("c").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("n_tokens").cast("double") / col("avgdl"))), 6))
      .groupBy("qid", "doc_id")
      .agg(sum(col("term").cast("decimal(18,6)")).as("sdec"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("sdec"), col("rank").cast("bigint").as("rank"))
    (out, () => { counts.unpersist(); () })
  }

  /** Published BM25 retrieval query — see [[bm25Ranks]].
    * Output: qid, doc_id, score, rank. */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25Ranks(spark, dir, 5)
      .select(col("qid"), col("doc_id"),
        col("sdec").cast("double").as("score"), col("rank"))
      .orderBy("qid", "rank")

  /** Distributed sequence packing — the shard-and-pack step that turns
    * a curated corpus into fixed-budget training bins: docs are
    * assigned to one of 8 shards by content hash (reproducible, like
    * `trainValTestSplit`), ordered within their shard by (hash,
    * doc_id), and greedily packed into 1024-token bins — a doc belongs
    * to the bin its cumulative START offset falls in. This is the
    * parallel form of sequential greedy packing: one shuffle on the
    * shard key, a per-shard cumulative-sum window, map-side bin
    * arithmetic. 1000 shards at a billion docs is the same plan.
    * Output: doc_id, shard, bin, n_toks. */
  def pack(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("h", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(col("text")).as("h"),
        size(split(col("text"), " ")).cast("bigint").as("n_toks"))
      .withColumn("shard",
        (conv(substring(col("h"), 1, 7), 16, 10).cast("long") % 8).as("shard"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .select(col("doc_id"), col("shard"),
        expr("(cum - n_toks) div 1024").as("bin"),
        col("n_toks"))
      .orderBy("doc_id")
  }

  /** Character-distribution Shannon entropy per document — the
    * cheapest garbage detector in a text-quality stack (binary blobs,
    * base64 runs, and single-char spam all sit far from natural
    * language's ~4 bits/char). Each term −p·ln(p) is a ratio of exact
    * integer counts, so only per-doc summation order differs across
    * engines (≪ 6 dp). Chars come from the same explicit
    * substring(sequence) construction as the oracle's range() — NOT
    * split-on-empty-regex, whose edge semantics differ between
    * engines. Map-side explode + one (doc_id, ch) shuffle, per-doc
    * cardinality bounded by the alphabet.
    * Output: doc_id, entropy, n_distinct_chars. */
  def entropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // empty-text guard: sequence(1, 0) runs DESCENDING (same pitfall
      // as fingerprint), fabricating positions the oracle never visits
      .where(length(col("text")) >= 1)
      // small input, heavy derivation (the bigramArtifact pattern): the
      // corpus parquet is one row group → one scan task, so the char
      // explode below otherwise runs serially; doc_id partitioning also
      // satisfies both downstream groupBys (subset rule), so this is
      // the ONLY exchange in the query. Partition count pinned from the
      // conf (the withGlobalRank idiom): AQE sizes the coalesce by the
      // tiny pre-explode map bytes and would fold the ×len char
      // fan-out back into one task
      .repartition(Tables.shufflePartitions(spark), col("doc_id"))
      // the normalizer is just length(text) — carrying it through the
      // aggregate instead of re-deriving it with a doc_id window
      // removes the window's repartition from (doc_id, ch) back to
      // doc_id (wall-time neutral at sf0.1 — the 10M-row char explode
      // dominates — but one less exchange at any scale)
      .select(col("doc_id"), length(col("text")).as("tot"), explode(expr(
        "transform(sequence(1, length(text)), i -> substring(text, i, 1))")).as("ch"))
      .groupBy("doc_id", "tot", "ch").agg(count(lit(1)).as("c"))
      .withColumn("pe", -(col("c") / col("tot")) * log(col("c") / col("tot")))
      .groupBy("doc_id")
      .agg(round(sum(col("pe")), 6).as("entropy"),
        count(lit(1)).as("n_distinct_chars"))
      .orderBy("doc_id")

  /** Bigram language-model quality score — the KenLM-style perplexity
    * proxy training pipelines filter on: per-document mean log
    * P(w_i | w_{i-1}) under an add-one-smoothed corpus bigram model,
    * P(b|a) = (c(a,b)+1) / (c(a)+V). Every probability is a ratio of
    * exact integer counts, so each log term is bit-identical across
    * engines and only the per-doc summation order differs — far below
    * the 6 dp rounding. Scale: one bigram-keyed shuffle for corpus
    * counts, joined back on the bigram key; V rides a 1-row broadcast
    * carrier; nothing is quadratic in corpus size. Documents with <2
    * tokens have no bigrams and drop out (no score is honest — a
    * 1-token doc has no LM evidence). Output: doc_id, lm_score,
    * n_bigrams. */
  /** (doc_id, a, b) bigram OCCURRENCES — the shared input of the
    * corpus LM passes (`lmScore`, `novelty`, `collocations`), landed
    * once per corpus version (`ArtifactCache`). */
  private def bigramArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.table(spark, "text_bigrams", dir)(
      Tables.documents(spark, dir)
        .repartition(Tables.shufflePartitions(spark), col("doc_id")) // spread the explode (explicit N: AQE would coalesce on pre-explode bytes)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), (x, y) -> struct(x, y))"))
          .as("bg"))
        .select(col("doc_id"), col("bg.x").as("a"), col("bg.y").as("b")))

  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val bigrams = bigramArtifact(spark, dir) // parquet-backed: no persist choreography
    val cab = bigrams.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val ca = bigrams.groupBy("a").agg(count(lit(1)).as("c_a"))
    val v = toks.select(explode(col("toks")).as("t"))
      .agg(count_distinct(col("t")).as("vocab"))
    bigrams
      .join(cab, Seq("a", "b")).join(ca, Seq("a"))
      .crossJoin(broadcast(v))
      .withColumn("lp", log((col("c_ab") + 1).cast("double") / (col("c_a") + col("vocab"))))
      .groupBy("doc_id")
      .agg(round(avg(col("lp")), 6).as("lm_score"), count(lit(1)).as("n_bigrams"))
      .orderBy("doc_id")
  }

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen
    * & Goodman 1999's benchmark formulation, fixed discount d=0.75) —
    * the standard upgrade over `lmScore`'s add-one smoothing, and the
    * smoothing KenLM-style corpus filters actually ship:
    * P(b|a) = max(c(a,b)−d, 0)/c(a) + d·N1+(a,·)/c(a) · N1+(·,b)/N1+(·,·),
    * where the continuation counts N1+ are DISTINCT-neighbor counts —
    * "how many contexts has this word completed", which scores
    * boilerplate (frequent but context-poor) below genuinely fluent
    * text. Scored over the corpus' own bigrams, so every c(a,b) ≥ 1
    * and the log is total. All counts ride the landed bigram
    * artifact: three (a[,b])-keyed aggregates + joins back on the
    * same keys; N1+(·,·) is the 1-row agg-collect that materializes
    * the persisted (a,b) counts (exact O(1) driver scalar) — the
    * identical shuffle shape as `lmScore` at any corpus size. Probability
    * arithmetic is written with the identical expression tree in both
    * engines (left-assoc double ops), avg rounded at 6 dp.
    * Output: doc_id, kn_score, n_bigrams. */
  def knScore(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = bigramArtifact(spark, dir)
    // cab feeds FOUR consumers (the score join, both continuation
    // counts, the type total) — persisted, with the 1-row N1+(·,·)
    // agg-collect as the materializer (r18: the four legs each re-ran
    // the artifact scan + (a,b) groupBy, and the total's crossJoin
    // carrier funded a broadcast build besides)
    val cab = bigrams.groupBy("a", "b").agg(count(lit(1)).as("c_ab")).persist()
    val n1tot = cab.agg(count(lit(1))).collect()(0).getLong(0)
    val ca  = bigrams.groupBy("a").agg(count(lit(1)).as("c_a"))
    val n1a = cab.groupBy("a").agg(count(lit(1)).as("n1a"))
    val n1b = cab.groupBy("b").agg(count(lit(1)).as("n1b"))
    bigrams
      .join(cab, Seq("a", "b")).join(ca, Seq("a"))
      .join(n1a, Seq("a")).join(n1b, Seq("b"))
      .withColumn("p",
        greatest(col("c_ab") - lit(0.75), lit(0.0)) / col("c_a")
          + (lit(0.75) * col("n1a") / col("c_a")) * (col("n1b") / lit(n1tot)))
      .groupBy("doc_id")
      .agg(round(avg(log(col("p"))), 6).as("kn_score"), count(lit(1)).as("n_bigrams"))
      .orderBy("doc_id")
  }

  /** Per-document bigram novelty: the fraction of a doc's DISTINCT
    * bigrams that no earlier document (by doc_id, the corpus ingest
    * order) already used — the curve curation pipelines chart to see
    * boilerplate accumulate (novelty decays as the corpus fills with
    * repeated phrasing). A bigram's first owner is a min(doc_id)
    * window over ONE bigram-keyed exchange (r18: was a groupBy + join
    * back on the same key — two exchange legs and a join for the same
    * answer), so the whole op is one shuffle on the bigram key plus
    * the per-doc rollup regardless of corpus size.
    * Output: doc_id, n_bigrams (distinct), n_novel, novelty. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val bg = bigramArtifact(spark, dir).distinct() // parquet-backed artifact
    val wab = Window.partitionBy("a", "b")
    bg.withColumn("first_doc", min(col("doc_id")).over(wab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel") / col("n_bigrams"), 6))
      .orderBy("doc_id")
  }

  /** Span-level duplication audit: every 8-token rolling window of
    * every document, hashed; a window position is SHARED when the
    * same 8-token span also appears in some other document — the
    * substring-granularity signal behind span-level dedup (full-doc
    * near-dup misses boilerplate paragraphs pasted into otherwise
    * distinct pages; this measures exactly that). Per doc: window
    * positions, positions covered by a cross-doc span, and the
    * covered fraction. ONE shuffle on the 128-bit window hash
    * (cross-doc sharing read off a min/max window over the hash group)
    * regardless of corpus size; the window fan-out is map-side. Docs
    * under 8 tokens have no windows and are absent, mirroring the
    * oracle's empty range.
    * Output: doc_id, n_windows, n_shared, shared_frac. */
  def spans(spark: SparkSession, dir: String): DataFrame = {
    val w = Tables.documents(spark, dir)
      // single-row-group corpus → one scan task; spread the 8-token
      // window explode + md5 (the heavy map work) across the cluster
      // (explicit N: AQE would size the coalesce by pre-explode bytes)
      .repartition(Tables.shufflePartitions(spark), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 7), i -> md5(array_join(slice(toks, i, 8), ' ')))"))
        .as("h"))
    // shared ⟺ ≥ 2 distinct docs hold the hash ⟺ min(doc_id) ≠
    // max(doc_id) within the hash group — one window over one
    // h-exchange, replacing the former owner-count groupBy + join-back
    // (two h-exchange legs + a join) and the persist + count
    // materialize job the fan-out needed (r18; group sizes bounded by
    // the number of docs sharing one span)
    val wh = Window.partitionBy("h")
    w.withColumn("xdoc",
        min(col("doc_id")).over(wh) =!= max(col("doc_id")).over(wh))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("xdoc"), 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac", round(col("n_shared") / col("n_windows"), 6))
      .orderBy("doc_id")
  }

  /** PMI collocations: the corpus' top-20 most-associated adjacent
    * token pairs — pointwise mutual information over exact integer
    * counts, ln((c_ab/N_bg) / ((c_a/N_uni)(c_b/N_uni))), with a
    * min-count floor of 5 so rare accidental pairs don't dominate
    * (the standard phrase-mining / tokenizer-diagnostics pass). One
    * token-keyed and one bigram-keyed aggregate; totals ride 1-row
    * broadcasts off the persisted caches; top-k is TakeOrdered on the
    * ROUNDED score with (a, b) tiebreak so both engines select the
    * identical boundary rows. Output: a, b, n_ab, pmi. */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      // NOT spread: this derivation is plain split+zip_with — too cheap
      // per input byte for the exchange + 32-task dispatch to pay for
      // itself (measured 0.83 s serial vs 1.7 s spread; contrast
      // entropy/spans, whose per-byte CPU is 5-10x higher)
      .select(split(col("text"), " ").as("toks"))
    // r18 note: swapping the two total carriers for agg-collect driver
    // literals measured ~0.2 s SLOWER interleaved (Lab: old 0.98/1.22
    // vs new 1.19/1.41 min/med) — both carriers already build from the
    // persisted caches (no extra corpus pass) and their broadcast
    // builds OVERLAP the final job, while the collect serializes.
    // Kept as-was; contrast kn_score, whose total's four legs re-ran a
    // corpus-wide aggregate and did move to the persisted form.
    val uni = toks.select(explode(col("toks")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .persist()
    uni.count() // materialize before totals + both unigram joins fan out
    val nUni = uni.agg(sum(col("c")).as("n_uni"))
    // NOT the bigram artifact: this consumer needs only corpus-level
    // (a, b) counts, and the fused explode→partial-agg pipeline beats
    // reading the doc-grained artifact back just to re-aggregate it
    // (measured 1.0 vs 1.7 s at sf0.1)
    val bgAll = toks.select(explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), (x, y) -> struct(x, y))"))
        .as("bg"))
      .groupBy(col("bg.x").as("a"), col("bg.y").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .persist()
    bgAll.count() // materialize before the total + filtered sides fan out
    val nBg = bgAll.agg(sum(col("n_ab")).as("n_bg"))
    bgAll.where(col("n_ab") >= 5)
      .join(uni.select(col("t").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("t").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(nBg)).crossJoin(broadcast(nUni))
      .withColumn("pmi", round(log(
        (col("n_ab") / col("n_bg")) /
          ((col("c_a") / col("n_uni")) * (col("c_b") / col("n_uni")))), 6))
      .select("a", "b", "n_ab", "pmi")
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(20)
  }

  /** BPE merge candidates: corpus-wide counts of adjacent CHARACTER
    * pairs within whitespace tokens — exactly the statistic the first
    * byte-pair-encoding merge maximizes, and the fan-out shape a
    * distributed tokenizer trainer iterates (count pairs → merge →
    * recount). Map-side per-token pair explosion + one pair-keyed
    * aggregate; top-20 by exact integer count with (a, b) tiebreak is
    * TakeOrdered, no global-sort window. Output: a, b, n. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // spread the double explode (explicit N: the AQE coalesce would
      // fold the token+pair fan-out back into one task)
      .repartition(Tables.shufflePartitions(spark), col("doc_id"))
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> struct(substring(tok, i, 1) AS a, substring(tok, i + 1, 1) AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(20)

  /** Iterative BPE tokenizer TRAINING — the loop `bpePairs` is one
    * round of: k = 5 unrolled merge rounds, each electing the
    * highest-count adjacent symbol pair ((a, b) tiebreak) and merging
    * it corpus-wide, emitting the learned merge list in order — the
    * artifact a tokenizer ships. Exactly how distributed BPE trainers
    * work: train over the DISTINCT-token vocabulary weighted by
    * occurrence count (symbol statistics are identical by the same
    * integer identity as `Dedup.simhash64Table`), so per-round cost is
    * O(vocabulary), not O(corpus), after the one vocabulary aggregate.
    *
    * Symbol state rides a wrapper-delimited string (`|a||b||c|`, each
    * symbol in its own `|…|` wrapper — assumes tokens don't contain
    * '|', true of whitespace-split text; a binary-safe variant would
    * use a control char): merging (a, b) is then the engine-portable
    * leftmost-first `replace(st, '|a||b|', '|ab|')`, which equals
    * scan-greedy BPE merge order because the merged symbol can never
    * re-match as `a` within its own round. Per-round state goes
    * through the same `IterState` parquet seam as the cluster loop and
    * pagerank (flat per-round cost, recoverable run); the elected pair
    * rides back as a 1-row broadcast, never a driver collect. The
    * DuckDB oracle unrolls the identical five rounds as CTEs.
    * The trained merge table is itself a release artifact (a
    * tokenizer is trained once per corpus and shipped) — landed via
    * `ArtifactCache`, read by this query and by `bpeApply`.
    * Output: round, a, b, n. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeMergesArtifact(spark, dir).orderBy("round")

  /** (round, a, b, n) trained merge-table artifact. */
  private def bpeMergesArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "text_bpe_merges", dir)(
      bpeTrainDerive(spark, dir))

  private def bpeTrainDerive(spark: SparkSession, dir: String): (DataFrame, () => Unit) = {
    val k = 5
    val vocab0 = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 1)
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .select(col("c"), expr(
        "concat('|', array_join(transform(sequence(1, length(tok)), i -> substring(tok, i, 1)), '||'), '|')")
        .as("st"))
    val iterDir = s"${IterState.rootFor(spark)}/bpe_${java.util.UUID.randomUUID().toString.take(8)}"
    val cleanup = IterState.register(spark, iterDir)
    def mat(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$iterDir/$name")
      spark.read.parquet(s"$iterDir/$name")
    }
    var state = mat(vocab0, "v0")
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to k) {
      val pairs = state
        .select(col("c"), expr("split(substring(st, 2, length(st) - 2), '\\\\|\\\\|')").as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("c"), explode(expr(
          "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1), (x, y) -> struct(x, y))"))
          .as("p"))
        .groupBy(col("p.x").as("a"), col("p.y").as("b"))
        .agg(sum(col("c")).as("n"))
      val best = mat(pairs.orderBy(col("n").desc, col("a"), col("b")).limit(1), s"m$r")
      merges += best.withColumn("round", lit(r).cast("bigint"))
      state = mat(state.crossJoin(broadcast(best.select("a", "b")))
        .select(col("c"),
          replace(col("st"),
            concat(lit("|"), col("a"), lit("||"), col("b"), lit("|")),
            concat(lit("|"), col("a"), col("b"), lit("|"))).as("st")), s"v$r")
      cleanup.rm(s"$iterDir/v${r - 1}")
    }
    cleanup.rm(s"$iterDir/v$k") // merge parquets back the result; state is done
    val out = merges.result().reduce(_.unionByName(_))
      .select("round", "a", "b", "n")
      .orderBy("round")
    // the artifact write fully consumes the m$r parquets; release the
    // run dir then instead of parking it until JVM exit
    (out, () => cleanup.release())
  }

  /** Apply the trained BPE merges — the ENCODE side that closes the
    * tokenizer loop (`bpeTrain` learns the merges; this measures what
    * they do to the corpus): every token's character-symbol string
    * runs the 5 learned merges in training order, and each document
    * reports its pre-merge symbol count (= characters in tokens),
    * post-merge symbol count (= tokens under the learned vocab), and
    * the compression ratio. The merge table is 5 rows read from the
    * landed artifact and folded into the plan as literal replace()
    * steps (the same bounded driver-side resolution a broadcast pays,
    * and exactly how a shipped tokenizer embeds its merge list);
    * everything else is map-side per token + one doc rollup.
    * Output: doc_id, n_chars, n_tokens, ratio. */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergesArtifact(spark, dir)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val st0 = Tables.documents(spark, dir)
      .repartition(Tables.shufflePartitions(spark), col("doc_id")) // spread the explode (explicit N: AQE would coalesce on pre-explode bytes)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 1)
      .select(col("doc_id"), length(col("tok")).as("n0"), expr(
        "concat('|', array_join(transform(sequence(1, length(tok)), i -> substring(tok, i, 1)), '||'), '|')")
        .as("st"))
    val encoded = merges.foldLeft(st0) { case (df, (a, b)) =>
      df.withColumn("st",
        replace(col("st"), lit(s"|$a||$b|"), lit(s"|$a$b|")))
    }
    encoded
      .withColumn("n_sym",
        size(expr("split(substring(st, 2, length(st) - 2), '\\\\|\\\\|')")))
      .groupBy("doc_id")
      .agg(sum(col("n0")).as("n_chars"), sum(col("n_sym")).as("n_tokens"))
      .withColumn("ratio", round(col("n_tokens") / col("n_chars"), 6))
      .orderBy("doc_id")
  }

  /** CDC chunk-dedup APPLY — the removal [[cdcDedup]] reports: every
    * chunk identity held by ≥ 2 documents elects a keep-first owner
    * (min doc_id); non-owners drop that chunk's token span and the
    * survivors reassemble IN POSITION ORDER, verified by an md5 over
    * the reassembled text (the [[substrApply]] discipline at chunk
    * grain — a hash mismatch would expose any span-arithmetic bug
    * immediately, in either engine). Drops are doc-keyed anti-join
    * ranges (chunks partition a doc's positions, so spans never
    * overlap); reassembly is one per-doc sorted collect. A doc whose
    * every token is dropped disappears — full-duplicate documents are
    * exactly what keep-first dedup removes. Output: doc_id,
    * kept_toks, dropped_toks, kept_md5. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ch = cdcChunksDocs(docs)
    // owner/duplication per chunk identity via min/max over ONE
    // (sig, n_toks) window — the former groupBy + join-back shape
    // re-derived the whole chunk table on both join legs (two full
    // window+md5 passes over the exploded corpus; r18 plan diff:
    // 2 chunk derivations → 1, owner join gone). nd > 1 ⟺
    // min(doc_id) ≠ max(doc_id); window groups are bounded by the
    // number of docs sharing one chunk identity.
    val wc = Window.partitionBy("sig", "n_toks")
    val drops = ch
      .withColumn("owner", min(col("doc_id")).over(wc))
      .withColumn("mxdoc", max(col("doc_id")).over(wc))
      .where(col("mxdoc") =!= col("owner") && col("doc_id") =!= col("owner"))
      .select(col("doc_id"), col("start_pos"), col("n_toks"),
        (col("start_pos") + col("n_toks")).as("end_pos"))
      // two consumers below (anti-join probe + dropped-mass rollup):
      // chunk-grain rows, materialized once (the module's
      // materialize-before-fan-out discipline)
      .persist()
    drops.count()
    // dropped token mass per doc = Σ n_toks of its dropped chunks:
    // chunks partition a doc's positions and spans never overlap, so
    // this is exactly n_all − kept_toks without the former full
    // posexplode rollup (`tot`) over the corpus (r18: one corpus-wide
    // aggregation pass gone; the arithmetic is the same exact integers)
    val droppedMass = drops.groupBy("doc_id").agg(sum(col("n_toks")).as("dropped"))
    val toks = docs
      // spread the posexplode + the range anti-join probe side; doc_id
      // partitioning also feeds the per-doc rollups exchange-free
      .repartition(Tables.shufflePartitions(docs.sparkSession), col("doc_id"))
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    toks.join(drops,
        toks("doc_id") === drops("doc_id") &&
          toks("pos") >= drops("start_pos") && toks("pos") < drops("end_pos"),
        "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_toks"),
        expr("md5(array_join(transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok), ' '))")
          .as("kept_md5"))
      .join(droppedMass, Seq("doc_id"), "left")
      .select(col("doc_id"), col("kept_toks"),
        coalesce(col("dropped"), lit(0L)).as("dropped_toks"), col("kept_md5"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per language — the metric that decides
    * whether a tokenizer is fit for a corpus slice: BPE tokens per
    * whitespace word (fertility; a multilingual tokenizer is judged
    * by how much it inflates non-dominant languages) and characters
    * per token (compression). Pure rollup over [[bpeApply]]'s per-doc
    * encoding — two exact integer sums per language and two final
    * divisions. Output: lang, n_docs, n_words, n_tokens, fertility,
    * chars_per_tok. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame =
    fertilityRollup(spark, dir, bpeApply(spark, dir))

  /** Per-language fertility rollup over any (doc_id, n_chars,
    * n_tokens) encoding table — shared by the 5-merge oracle path
    * ([[bpeFertility]]) and the deep-vocabulary loop path
    * ([[bpeDeepFertility]]). */
  private def fertilityRollup(spark: SparkSession, dir: String, enc: DataFrame): DataFrame =
    enc
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("bigint").as("words")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        round(sum(col("n_tokens")).cast("double") / sum(col("words")), 6).as("fertility"),
        round(sum(col("n_chars")).cast("double") / sum(col("n_tokens")), 6).as("chars_per_tok"))
      .orderBy("lang")

  /** BPE training to an ARBITRARY merge count — the pipeline form of
    * [[bpeTrain]] (whose 5 unrolled rounds pin the oracle; real
    * fertility numbers need hundreds-to-thousands of merges). Same
    * election and merge rule round-for-round — row-identical to the
    * unrolled form at k = 5 (`PipelineSpec` pins it) — but shaped for
    * a long loop:
    *
    *   - the elected pair comes back as ONE bounded 1-row collect per
    *     round (the [[bpeApply]] merge-table discipline — a shipped
    *     tokenizer's merge list IS driver-resident by design), so a
    *     round costs a single aggregation job instead of the
    *     broadcast-crossJoin + per-round materialization the unrolled
    *     form pays;
    *   - the merge folds into the symbol state as a literal
    *     `replace`, and the state goes through an IterState parquet
    *     seam every [[BpeSeamEvery]] rounds, so expression depth and
    *     plan size stay bounded at any k (the `sim_kcore` round-seam
    *     pattern);
    *   - training runs over the DISTINCT-token vocabulary weighted by
    *     occurrence count, so per-round cost is O(vocabulary) — after
    *     the one corpus-wide vocab aggregate, cost is INDEPENDENT of
    *     corpus size, and the learned merges are invariant under
    *     corpus duplication (counts scale uniformly; measured
    *     bit-identical at ×1/×10/×100, PERF.md).
    *
    * Stops early when no adjacent pair occurs ≥ 2 times (merging
    * singletons learns nothing; the unrolled oracle form never
    * reaches that regime on a real corpus). Output: round, a, b, n. */
  def bpeTrainLoop(spark: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val vocab0 = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 1)
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .select(col("c"), expr(
        "concat('|', array_join(transform(sequence(1, length(tok)), i -> substring(tok, i, 1)), '||'), '|')")
        .as("st"))
    val iterDir = s"${IterState.rootFor(spark)}/bpeloop_${java.util.UUID.randomUUID().toString.take(8)}"
    val cleanup = IterState.register(spark, iterDir)
    def mat(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$iterDir/$name")
      spark.read.parquet(s"$iterDir/$name")
    }
    var state = mat(vocab0, "v0")
    var lastSeam = 0
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= k && !done) {
      val top = state
        .select(col("c"), expr("split(substring(st, 2, length(st) - 2), '\\\\|\\\\|')").as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("c"), explode(expr(
          "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1), (x, y) -> struct(x, y))"))
          .as("p"))
        .groupBy(col("p.x").as("a"), col("p.y").as("b"))
        .agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2L) done = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, a, b, n))
        state = state.select(col("c"),
          replace(col("st"),
            lit(s"|$a||$b|"), lit(s"|$a$b|")).as("st"))
        if (r - lastSeam >= BpeSeamEvery) {
          state = mat(state, s"v$r")
          cleanup.rm(s"$iterDir/v$lastSeam")
          lastSeam = r
        }
        r += 1
      }
    }
    cleanup.release()
    merges.result().toDF("round", "a", "b", "n").orderBy("round")
  }

  /** Rounds between parquet seams in [[bpeTrainLoop]]: deep enough to
    * amortize the write, shallow enough that the chained literal
    * replaces never threaten codegen/plan-depth limits. */
  private val BpeSeamEvery = 32

  /** Vocabulary-row ceiling for [[bpeTrainTiered]]'s driver tier —
    * the `Similarity.navBroadcastVecsMax` posture applied to the
    * trainer. A weighted DISTINCT-TOKEN vocabulary is the bounded
    * aggregate of a corpus (morphology, not corpus size, governs it).
    * Budget the INDEXES, not just the strings: the trainer holds a
    * pair-count map plus a pair → word-set occurrence index whose
    * entry count is ~vocab × avg-token-length adjacencies — at the
    * 2M-type default that is a few GB of boxed driver heap (every
    * shipped single-node tokenizer trainer carries the same state),
    * so size the driver accordingly or lower this conf. Above the
    * ceiling the distributed loop ([[bpeTrainLoop]]) is the honest
    * plan and is the fallback. */
  private def bpeDriverVocabMax(spark: SparkSession): Long =
    spark.conf.getOption("graft.bpe.driverVocabMax").map { s =>
      try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft.bpe.driverVocabMax must be an integer row count, got '$s'")
      }
    }.getOrElse(2000000L)

  /** BPE training to an arbitrary merge count, TIERED (round 14 —
    * the per-merge-cost fix): the corpus-wide weighted vocabulary is
    * aggregated ONCE distributed (the only corpus-sized pass), then
    *
    *   - vocabulary ≤ [[bpeDriverVocabMax]] → [[bpeTrainDriver]], the
    *     classic trainer with INCREMENTAL pair counts: each merge
    *     touches only the words containing the elected bigram, so a
    *     round costs O(affected words), not O(vocabulary) — where
    *     [[bpeTrainLoop]] re-aggregates the full vocabulary's pair
    *     table every round (its per-merge floor, PERF.md round 13:
    *     261–381 s at k = 1000);
    *   - wider vocabularies → [[bpeTrainLoop]] unchanged (the
    *     distributed fallback; correct at any scale, just per-round
    *     corpus-vocabulary cost).
    *
    * Both tiers share the election rule (highest weighted count,
    * (a, b) UTF-8 tiebreak — the driver tier compares raw UTF-8
    * bytes, exactly Spark's binary string ordering) and the
    * leftmost-nonoverlapping merge, so the learned merge list is
    * BIT-IDENTICAL across tiers at every k (`TokenizerSpec` pins it;
    * ×1/×10/×100 invariance on the open corpus is measured in
    * PERF.md). Output: round, a, b, n. */
  def bpeTrainTiered(spark: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    val max = bpeDriverVocabMax(spark)
    val fetch = (math.min(max, Int.MaxValue.toLong - 1L) + 1L).toInt
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 1)
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .limit(fetch)
      .collect()
    if (vocab.length > max) bpeTrainLoop(spark, docs, k)
    else bpeTrainDriver(spark,
      vocab.map(r => (r.getString(0), r.getLong(1))), k)
  }

  /** Spark's binary (UTF-8 byte) string ordering, replicated on the
    * driver — `String.compareTo` is UTF-16-unit order, which diverges
    * past the BMP, and a tiebreak that disagrees with the distributed
    * tier would break the cross-tier bit-identity contract. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < a.length && i < b.length) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  /** A string as whole-code-point symbols — the driver twin of the
    * distributed tier's `transform(sequence(1, length(tok)), i ->
    * substring(tok, i, 1))`, which is CODE-POINT based (Spark string
    * functions are); a UTF-16 `map(_.toString)` would split astral
    * characters into lone surrogates, electing different merges past
    * the BMP and breaking the cross-tier bit-identity contract (and
    * lone surrogates encode as '?' under UTF-8, corrupting the
    * tiebreak too). */
  private def codePointSyms(s: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var j = 0
    while (j < s.length) {
      val cp = s.codePointAt(j)
      out += new String(Character.toChars(cp))
      j += Character.charCount(cp)
    }
    out.toArray
  }

  /** The classic single-node BPE trainer (Sennrich et al. 2016's
    * algorithm, the shape every shipped tokenizer trains with) over a
    * collected weighted vocabulary, with the textbook INCREMENTAL
    * pair-count optimization: pair → weighted count and pair → word
    * index are maintained across merges, and a merge re-derives pairs
    * ONLY for words that contained the elected bigram (subtract the
    * word's old adjacency multiset, merge leftmost-nonoverlapping,
    * add the new one). Elections scan the pair-count map (n desc,
    * then UTF-8 (a, b)); training stops when the best pair's count
    * drops under 2, both exactly [[bpeTrainLoop]]'s rule — integer
    * arithmetic throughout, so the two trainers are bit-identical. */
  private[graft] def bpeTrainDriver(spark: SparkSession,
      vocab: Array[(String, Long)], k: Int): DataFrame = {
    import spark.implicits._
    val syms = new Array[Array[String]](vocab.length)
    val wts = new Array[Long](vocab.length)
    var i = 0
    while (i < vocab.length) {
      syms(i) = codePointSyms(vocab(i)._1)
      wts(i) = vocab(i)._2
      i += 1
    }
    val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    def pairsApply(w: Int, add: Boolean): Unit = {
      val s = syms(w); val c = wts(w)
      var j = 0
      while (j + 1 < s.length) {
        val p = (s(j), s(j + 1))
        val n = pc.getOrElse(p, 0L) + (if (add) c else -c)
        if (n == 0L) pc.remove(p) else pc.update(p, n)
        if (add) occ.getOrElseUpdate(p,
          scala.collection.mutable.HashSet.empty[Int]) += w
        else occ.get(p).foreach(_ -= w)
        j += 1
      }
    }
    i = 0
    while (i < syms.length) { pairsApply(i, add = true); i += 1 }
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= k && !done) {
      var bp: (String, String) = null
      var bn = 0L
      for ((p, n) <- pc) {
        if (bp == null || n > bn || (n == bn &&
            (utf8Lt(p._1, bp._1) || (p._1 == bp._1 && utf8Lt(p._2, bp._2)))))
          { bp = p; bn = n }
      }
      if (bp == null || bn < 2L) done = true
      else {
        merges += ((r.toLong, bp._1, bp._2, bn))
        val affected = occ.getOrElse(bp,
          scala.collection.mutable.HashSet.empty[Int]).toArray
        val (a, b) = bp
        var ai = 0
        while (ai < affected.length) {
          val w = affected(ai)
          pairsApply(w, add = false)
          syms(w) = bpeMergeOnce(syms(w), a, b)
          pairsApply(w, add = true)
          ai += 1
        }
        r += 1
      }
    }
    merges.result().toDF("round", "a", "b", "n").orderBy("round")
  }

  /** One leftmost-nonoverlapping merge pass of (a, b) → ab — the
    * driver/executor twin of `replace(st, '|a||b|', '|ab|')`, shared
    * by the driver-tier trainer and the rank-skip greedy encoder (one
    * copy: the cross-path row-identity contract rides on this loop's
    * exact semantics). */
  private def bpeMergeOnce(syms: Array[String], a: String, b: String): Array[String] = {
    if (syms.length < 2) syms
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }
  }

  /** Merge count the DEEP tokenizer artifact trains to: deep enough
    * that per-language fertility reflects a realistic vocabulary (the
    * driver corpus saturates earlier and the stopping rule simply
    * ends training there — saturation is data, not error). */
  private val BpeDeepK = 500

  /** The trained DEEP merge table as a release artifact — what
    * round 13's verdict called the gap ("the trained artifact never
    * reaches the query surface"): `text_bpe_merges` stays the 5-merge
    * oracle-pinned chain, and THIS is the tokenizer a release would
    * actually ship, trained once per corpus through [[bpeTrainTiered]]
    * and landed via `ArtifactCache` like the nav graph. Its first 5
    * merges equal `bpeTrain`'s exactly (same election rule, same
    * corpus — `TokenizerSpec` pins the prefix). */
  private def bpeDeepMergesArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.table(spark, "text_bpe_merges_deep", dir)(
      bpeTrainTiered(spark, Tables.documents(spark, dir), BpeDeepK))

  /** Export root the DEEP merge table lands under, keyed by
    * corpus fingerprint — the seam that gives `text_bpe_deep` a real
    * DuckDB oracle (round-14 verdict ask #3): the TRAINER has no
    * feasible unrolled-SQL form (k ≤ [[BpeDeepK]] data-dependent
    * rounds), but the READOUT does — the oracle reads the landed
    * merge list from this path (filtered to the fingerprint it
    * recomputes from `documents`) and re-encodes the corpus itself
    * with a sequential recursive-CTE fold, so encode + rollup are
    * independently recomputed and only the merge list is shared (the
    * `text_qclf_score` landed-model posture). Versioned path: bump
    * the suffix if the trainer's election rule ever changes. Unless
    * `graft.bpe.deepMergesExportDir` says otherwise it lands under
    * the JVM's working directory, so a checkout's runs write into
    * that checkout. */
  private[graft] val BpeDeepExportDefault =
    s"${sys.props("user.dir")}/artifacts/bpe_deep_merges_v1"

  private def bpeDeepExportRoot(spark: SparkSession): String =
    spark.conf.getOption("graft.bpe.deepMergesExportDir")
      .orElse(sys.props.get("graft.bpe.deepMergesExportDir"))
      .getOrElse(BpeDeepExportDefault)

  /** The glob the DuckDB oracle reads the landed merge table through —
    * derived from the SAME configuration as the engine's export path
    * (round-15 ADVICE: the oracle hardcoded the default while the
    * engine honored the conf, so setting the conf silently divorced
    * the two). The oracle text is rendered driver-side at dump time,
    * so the system-property leg is the shared source; `Verify` mirrors
    * the spark conf into it before the dump. */
  private[graft] def oracleDeepMergesGlob: String =
    s"${sys.props.getOrElse("graft.bpe.deepMergesExportDir", BpeDeepExportDefault)}/*/*.parquet"

  /** Land the deep-merge export for `dir`'s corpus if absent — the
    * oracle PRECHECK seam (round-15 ADVICE): DuckDB's `read_parquet`
    * errors on a no-match glob, so before the oracle SQL is dumped the
    * runner makes sure the export exists rather than letting a fresh
    * checkout (or an export-path change) turn a clean verdict into a
    * bind error. Idempotent: artifact and export are both
    * landed-once-per-corpus. */
  def ensureDeepMergesExport(spark: SparkSession, dir: String): Unit = {
    val rows = bpeDeepMergesArtifact(spark, dir).orderBy("round").collect()
    exportDeepMerges(spark, corpusFpFor(spark, dir), rows)
  }

  /** Deterministic corpus fingerprint shared with the oracle SQL:
    * Σ_docs (first-13-hex-digits of md5(doc_id ∥ '|' ∥ text) as
    * int64) mod 1e9+7 — the dsir md5 trick, reduced before the sum so
    * the total stays far inside int64 at any corpus size both engines
    * compute it at. Distinguishes the per-SF merge tables sharing the
    * one fixed export root (the oracle text cannot vary per run). */
  private[graft] def corpusFp(docs: DataFrame): Long =
    docs.select(sum(
      conv(substring(md5(concat(col("doc_id").cast("string"), lit("|"),
        col("text"))), 1, 13), 16, 10).cast("long") % 1000000007L).as("fp"))
      .first().getLong(0)

  // corpusFp is a pure function of the corpus file; memoized on the
  // same (len, mtime) stamp as Tables' schema memo so the bench's
  // repeated reps of the deep readout don't each pay a full-corpus
  // md5 aggregate just to decide the export already exists. One entry
  // per path, replaced on stamp change (an entry per regeneration
  // would never evict — the Tables.schemaCache bound).
  private val corpusFpCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  private def corpusFpFor(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val stamp = s"${st.getLen}:${st.getModificationTime}"
    corpusFpCache.compute(dir, (_, cached) =>
      if (cached != null && cached._1 == stamp) cached
      else (stamp, corpusFp(Tables.documents(spark, dir))))._2
  }

  /** Land the trained merge rows for `fp` under the export root —
    * write-once per fingerprint (the trainer is deterministic and
    * spec-pinned, so content per corpus never changes; skipping on a
    * committed export keeps the bench's repeated reps from paying the
    * write). */
  private def exportDeepMerges(spark: SparkSession, fp: Long,
      rows: Array[org.apache.spark.sql.Row]): Unit = {
    import spark.implicits._
    val out = s"${bpeDeepExportRoot(spark)}/$fp"
    val p = new org.apache.hadoop.fs.Path(out, "_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      rows.map(r => (fp, r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq.toDF("fp", "round", "a", "b", "n")
        .coalesce(1).write.mode("overwrite").parquet(out)
    }
  }

  /** Per-language fertility under the trained DEEP vocabulary — the
    * driver-facing query surface of the deep tokenizer: token counts
    * and fertility per language computed by [[bpeEncodeWith]] under
    * the landed [[bpeDeepMergesArtifact]] merge list (reproducible
    * from the artifact alone, the shipped-tokenizer contract). The
    * merge list additionally lands under [[bpeDeepExportRoot]] so the
    * DuckDB oracle can read the SAME artifact and independently
    * re-run the encode (recursive CTE) and rollup — see
    * `OracleSql.textBpeDeep`. Output: lang, n_docs, n_words,
    * n_tokens, fertility, chars_per_tok. */
  def bpeDeepFertility(spark: SparkSession, dir: String): DataFrame = {
    val rows = bpeDeepMergesArtifact(spark, dir).orderBy("round").collect()
    val ms = rows.map(r => (r.getString(1), r.getString(2))).toSeq
    exportDeepMerges(spark, corpusFpFor(spark, dir), rows)
    fertilityRollup(spark, dir,
      bpeEncodeWith(spark, Tables.documents(spark, dir), ms))
  }

  /** Invariant audit over the TRAINED deep vocabulary (round-15
    * ADVICE: `text_bpe_deep` verifies encode + rollup against the
    * landed merge list, so a wrong pair election in rounds 6..k would
    * pass undetected — the merge table itself was unchecked past the
    * 5 rounds `text_bpe_train` pins). Two properties hold of EVERY
    * correct BPE training run, regardless of corpus:
    *
    *  - MONOTONE counts: the elected pair's count never increases
    *    round-over-round — merging the argmax pair only removes
    *    adjacencies or creates pairs bounded by the merged pair's own
    *    count, so the max pair count is non-increasing;
    *  - FORMABLE symbols: every multi-character side of a merge must
    *    be the output of an EARLIER merge (BPE symbols are built from
    *    single characters by merges alone).
    *
    * A violation FAILS the run outright (`raise_error` here, DuckDB
    * `error()` in the oracle twin) instead of hash-matching its way
    * to green — both engines audit the same landed artifact, so a
    * trainer bug turns the gate red rather than reproducing on both
    * sides. All bounded ops: the merge table is ≤ [[BpeDeepK]] rows
    * (the unpartitioned lag window and the formability self-join are
    * vocabulary-sized, never corpus-sized).
    * Output: n_merges, max_n, min_n, monotone_violations,
    * vocab_violations (the violation counts are 0 by construction —
    * the guard raises before a nonzero could land). */
  def bpeMergeAudit(spark: SparkSession, dir: String): DataFrame = {
    val rows = bpeDeepMergesArtifact(spark, dir).orderBy("round").collect()
    exportDeepMerges(spark, corpusFpFor(spark, dir), rows) // oracle reads the export
    mergeAuditFrom(spark, bpeDeepMergesArtifact(spark, dir))
  }

  /** The audit core over an explicit (round, a, b, n) merge table —
    * split out so the unit test can prove the guard FIRES on a
    * violated invariant (a gate that cannot go red gates nothing). */
  private[graft] def mergeAuditFrom(spark: SparkSession, merges: DataFrame): DataFrame = {
    val m = merges
      .select(col("round").cast("bigint").as("round"), col("a"), col("b"),
        col("n").cast("bigint").as("n"))
    val mono = m
      .withColumn("pn", lag(col("n"), 1).over(Window.orderBy("round")))
      .where(col("pn").isNotNull && col("n") > col("pn"))
      .agg(count(lit(1)).as("mv"))
    val outputs = m.select(col("round").as("pr"), concat(col("a"), col("b")).as("sym"))
    // a multi-char side with NO earlier merge producing it = violation
    def unformable(side: String) = m.where(length(col(side)) > 1)
      .join(outputs, col("sym") === col(side) && col("pr") < col("round"), "left_anti")
    val vv = unformable("a").count() + unformable("b").count()
    def guarded(c: org.apache.spark.sql.Column, what: String) =
      when(c === 0L, lit(0L)).otherwise(raise_error(
        concat(lit(s"deep-BPE $what violated: "), c.cast("string"))).cast("long"))
    m.agg(count(lit(1)).as("n_merges"), max(col("n")).as("max_n"),
        min(col("n")).as("min_n"))
      .crossJoin(mono) // 1-row × 1-row scalar carrier
      .select(col("n_merges"), col("max_n"), col("min_n"),
        guarded(col("mv"), "count monotonicity").as("monotone_violations"),
        guarded(lit(vv), "symbol formability").as("vocab_violations"))
  }

  /** ENCODE under an arbitrary-length merge list — the deep-vocab
    * counterpart of [[bpeApply]], whose fold of literal `replace`
    * steps is the right shape for 5 merges but nests k-deep in one
    * plan (codegen breaks past ~hundreds). Here the merge list rides
    * a broadcast and each token is encoded by a per-partition greedy
    * scan applying the merges IN TRAINING ORDER, each round merging
    * all non-overlapping (a, b) adjacencies leftmost-first — exactly
    * `replace(st, '|a||b|', '|ab|')`'s semantics on the
    * wrapper-delimited form (the merged symbol can never re-match as
    * `a` within its own round), so the two paths are row-identical on
    * any merge list both can run (`PipelineSpec` pins k = 5).
    * mapPartitions is justified the same way as the codec boundary:
    * the per-token loop over a driver-shipped merge table is genuine
    * imperative logic with no relational shape. Output: doc_id,
    * n_chars, n_tokens, ratio. */
  def bpeEncodeWith(spark: SparkSession, docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    val toks = docs
      .repartition(Tables.shufflePartitions(docs.sparkSession), col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 1)
      .as[(Long, String)]
    toks.mapPartitions { it =>
      val ms = bc.value
      // RANK-SKIP greedy (round 14): a round whose pair is absent
      // from the current symbols is a no-op, so instead of one full
      // pass per merge (O(k·len) per token — the deep-vocab tax at
      // k in the hundreds), find the lowest-rank pair PRESENT among
      // the current adjacencies above the last applied rank and run
      // only that round's pass. Rounds between two applied ranks are
      // absent when skipped and nothing changed since, so they were
      // no-ops in the sequential order too — output is identical
      // (`TokenizerSpec` pins it against the literal-replace fold),
      // and per-token cost drops to O(applied-rounds · len).
      val ranks = new java.util.HashMap[(String, String), Int](ms.length * 2)
      var mi = ms.length - 1
      while (mi >= 0) { ranks.put(ms(mi), mi); mi -= 1 } // first occurrence wins
      it.map { case (id, tok) =>
        var syms: Array[String] = codePointSyms(tok)
        val n0 = syms.length.toLong
        var last = -1
        var cont = syms.length >= 2
        while (cont) {
          var bestRank = Int.MaxValue
          var i = 0
          while (i + 1 < syms.length) {
            val rk = ranks.getOrDefault((syms(i), syms(i + 1)), Int.MaxValue)
            if (rk > last && rk < bestRank) bestRank = rk
            i += 1
          }
          if (bestRank == Int.MaxValue) cont = false
          else {
            val (a, b) = ms(bestRank)
            syms = bpeMergeOnce(syms, a, b)
            last = bestRank
            cont = syms.length >= 2
          }
        }
        (id, n0, syms.length.toLong)
      }
    }.toDF("doc_id", "n0", "n_sym")
      .groupBy("doc_id")
      .agg(sum(col("n0")).as("n_chars"), sum(col("n_sym")).as("n_tokens"))
      .withColumn("ratio", round(col("n_tokens") / col("n_chars"), 6))
      .orderBy("doc_id")
  }

  /** Cross-document SEGMENT-level dedup — the line-dedup pass of
    * CCNet/RefinedWeb-style curation adapted to this corpus' shape
    * (single-line docs → fixed 10-word segments stand in for lines):
    * a segment that appears verbatim in ≥ 2 DISTINCT documents is
    * boilerplate and is dropped from every doc that carries it;
    * per doc we report segment counts, the duplicated-segment count,
    * the token mass that survives, and the duplicated fraction.
    * Within-doc repeats do NOT count as duplication (doc-distinct
    * counting), matching the cross-doc semantics of line dedup.
    *
    * Scale (100 TB): segmentation is a map-side explode (~1 row per
    * 10 tokens); the global segment-frequency table is one
    * groupBy(segment hash) — the same single-shuffle shape as exact
    * dedup, just at segment grain; the join back to segment rows is a
    * hash equi-join on that key, and the per-doc rollup is the second
    * and last shuffle. No text is shipped after hashing.
    * Output: doc_id, n_segs, n_dup, kept_toks, dup_frac. */
  def segDedup(spark: SparkSession, dir: String): DataFrame = {
    val segs = Tables.documents(spark, dir)
      .repartition(col("doc_id")) // cheap derivation: AQE-sized (explicit 32-way spread measured slower here)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("nw"),
        posexplode(expr(
          "transform(sequence(0, cast(ceil(size(ws) / 10.0) as int) - 1)," +
            " i -> md5(array_join(slice(ws, i*10+1, 10), ' ')))")).as(Seq("seg_idx", "h")))
      .withColumn("n_toks", least(lit(10), col("nw") - col("seg_idx") * 10))
    // cross-doc duplication ⟺ ≥ 2 distinct docs hold the segment hash
    // ⟺ min(doc_id) ≠ max(doc_id) within the hash group — one window
    // over one h-exchange (the text_spans rewrite, r18): the former
    // freq groupBy + join-back re-derived the whole un-persisted
    // segment-hash table on both legs. Same integers, docs ≥ 2 ≡ dup.
    val wh = Window.partitionBy("h")
    segs.withColumn("dup",
        min(col("doc_id")).over(wh) =!= max(col("doc_id")).over(wh))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("dup"), 0L).otherwise(col("n_toks"))).as("kept_toks"),
        round(sum(when(col("dup"), 1).otherwise(0)) / count(lit(1)).cast("double"), 6)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** SUBSTRING-grain exact dedup — the unaligned complement of
    * `segDedup`'s fixed 10-word grid: a rolling 10-token shingle at
    * EVERY token offset detects a verbatim cross-document substring of
    * ≥ 10 tokens at ANY alignment (the grid misses a copied span that
    * straddles segment boundaries). Duplicated shingle starts are then
    * merged per doc into MAXIMAL duplicated spans (interval union —
    * consecutive starts ≤ 10 apart cover contiguously), reporting per
    * doc the maximal-span count, the token mass those spans cover, and
    * the covered fraction. Docs shorter than 10 tokens contribute one
    * whole-doc shingle, so short exact dups still pair.
    *
    * Scale (100 TB): the shingle explode is map-side, ~1 row per
    * token (10× `segDedup`'s mass — the honest price of unaligned
    * grain; nothing but the 16-byte hash + two ints ships). The
    * frequency table is one groupBy(h) with map-side combine; the
    * join back is a hash equi-join on h; span merging is a per-doc
    * window (partitioned by doc_id, no global sort). Same
    * single-shuffle-per-stage shape as `segDedup` throughout.
    * Output: doc_id, n_toks, n_spans, dup_toks, dup_frac. */
  def substrDedup(spark: SparkSession, dir: String): DataFrame =
    substrDedupFrom(Tables.documents(spark, dir))

  /** Core over an explicit (doc_id, text) table — split out so tests
    * can pin the span-merge semantics on constructed overlaps. */
  private[graft] def substrDedupFrom(docs: DataFrame): DataFrame = {
    val k = 10
    val sh = docs
      .repartition(col("doc_id")) // cheap derivation: AQE-sized (explicit 32-way spread measured slower here)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("nw"),
        posexplode(expr(
          s"transform(sequence(0, greatest(size(ws) - $k, 0))," +
            s" i -> md5(array_join(slice(ws, i + 1, $k), ' ')))")).as(Seq("start", "h")))
    // cross-doc shingle ⟺ min(doc_id) ≠ max(doc_id) within the hash
    // group — one window over one h-exchange (the text_spans rewrite,
    // r18): the former freq groupBy + join-back re-derived the whole
    // un-persisted rolling-shingle table (md5 at EVERY token offset)
    // on both legs
    val wH = Window.partitionBy("h")
    val wD = Window.partitionBy("doc_id").orderBy("start")
    val perSpan = sh
      .withColumn("xdoc", min(col("doc_id")).over(wH) =!= max(col("doc_id")).over(wH))
      .where(col("xdoc"))
      .withColumn("gap",
        when(col("start") - lag(col("start"), 1).over(wD) <= k, 0L).otherwise(1L))
      .withColumn("span", sum(col("gap")).over(
        wD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span"))
      .agg(first(col("nw")).as("nw"),
        (least(max(col("start")) + k, first(col("nw"))) - min(col("start"))).as("covered"))
    val perDoc = perSpan.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("covered")).as("dup_toks"))
    docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("n_toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_toks"), lit(0L)).as("dup_toks"),
        round(coalesce(col("dup_toks"), lit(0L)) / col("n_toks").cast("double"), 6)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Substring-dedup APPLY — the removal half `substrDedup` detects
    * (Lee et al. 2022 deduplicate-then-train removes the duplicated
    * spans, it doesn't just count them): every duplicated ≥ 10-token
    * shingle keeps exactly ONE copy corpus-wide — its lowest doc_id
    * (the same keep-first election as `Dedup.clusters` /
    * `Curation.applyDeduped`, here at shingle grain) — and every
    * other holder removes its covering maximal span. Cleaned text is
    * reassembled from the surviving tokens in order; the output
    * carries its md5 so the cross-engine gate proves byte-identical
    * reconstruction without hauling full text through the compare.
    *
    * Scale (100 TB): everything up to span merge is `substrDedup`'s
    * plan (map-side rolling shingles, one groupBy(h), per-doc
    * windows); removal adds one token-level LEFT ANTI hash join on
    * doc_id (the range predicate rides the join filter — spans per
    * doc are few and disjoint) and one per-doc reassembly aggregate.
    * Output: doc_id, n_toks, removed_toks, kept_toks, clean_hash. */
  def substrDedupApply(spark: SparkSession, dir: String): DataFrame =
    substrDedupApplyFrom(Tables.documents(spark, dir))

  private[graft] def substrDedupApplyFrom(docs: DataFrame): DataFrame = {
    val k = 10
    val base = docs
      .repartition(col("doc_id")) // cheap derivation: AQE-sized (explicit 32-way spread measured slower here)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("nw", size(col("ws")))
    val sh = base.select(col("doc_id"), col("nw"),
      posexplode(expr(
        s"transform(sequence(0, greatest(size(ws) - $k, 0))," +
          s" i -> md5(array_join(slice(ws, i + 1, $k), ' ')))")).as(Seq("start", "h")))
    // keep-first election via a window over ONE h-exchange (r18, the
    // substrDedup rewrite): doc_id ≠ min(doc_id) within the hash group
    // already implies ≥ 2 distinct holders, so the former owners
    // groupBy + join-back — which re-derived the whole rolling-shingle
    // table on both legs — reduces to one min window
    val wH = Window.partitionBy("h")
    val wD = Window.partitionBy("doc_id").orderBy("start")
    val spans = sh
      .withColumn("keeper", min(col("doc_id")).over(wH))
      .where(col("doc_id") =!= col("keeper"))
      .withColumn("gap",
        when(col("start") - lag(col("start"), 1).over(wD) <= k, 0L).otherwise(1L))
      .withColumn("span", sum(col("gap")).over(
        wD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span"))
      .agg(min(col("start")).as("lo"),
        least(max(col("start")) + k, first(col("nw"))).as("hi"))
      .select(col("doc_id").as("sdoc"), col("lo"), col("hi"))
    val toks = base.select(col("doc_id"), posexplode(col("ws")).as(Seq("i", "tok")))
    val kept = toks.join(spans,
      col("doc_id") === col("sdoc") && col("i") >= col("lo") && col("i") < col("hi"),
      "left_anti")
    val cleaned = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("kept_toks"),
        expr("md5(array_join(transform(array_sort(collect_list(struct(i, tok))), s -> s.tok), ' '))")
          .as("clean_hash"))
    base.select(col("doc_id"), col("nw").cast("bigint").as("n_toks"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        (col("n_toks") - coalesce(col("kept_toks"), lit(0L))).as("removed_toks"),
        coalesce(col("kept_toks"), lit(0L)).as("kept_toks"),
        coalesce(col("clean_hash"),
          lit("d41d8cd98f00b204e9800998ecf8427e")).as("clean_hash")) // md5("")
      .orderBy("doc_id")
  }

  /** DSIR-style importance resampling (Xie et al. 2023,
    * arXiv:2302.03169): select raw documents whose hashed-unigram
    * distribution looks like a TARGET domain. Target here is the
    * deterministic 10% slice doc_id % 10 == 0 (the stand-in for an
    * external target corpus, same convention as the decontamination
    * held-out set); candidates are the remaining 90%.
    *
    *   1. Hashed bag-of-unigrams: token → 56-bit md5 → bucket mod 1024.
    *   2. Per-bucket add-1-smoothed log importance ratio
    *      lr = ln(p̂_target) − ln(p̂_raw) over the bucket vocabulary.
    *   3. Per-doc weight: average lr over its token OCCURRENCES
    *      (length-normalized, so long docs aren't favored), 6-dp.
    *   4. Without-replacement importance resampling via the
    *      Efraimidis–Spirakis key ln(u)/w with w = exp(lw) and u a
    *      deterministic md5-derived uniform — the same sampling
    *      machinery as `weightedSample`, so both engines cut the
    *      identical top-100.
    *
    * Scale (100 TB): the bucket-stat table is ≤ 1024 rows → broadcast;
    * the per-token probe is map-side; one groupBy(doc_id) + a global
    * top-k (TakeOrdered, no sort of the corpus). The target-side
    * aggregate reads the target slice only.
    * Output: doc_id, n_tok, lw, key (top-100 by key desc). */
  def dsirResample(spark: SparkSession, dir: String): DataFrame = {
    val B = 1024
    val toks = Tables.documents(spark, dir)
      .repartition(Tables.shufflePartitions(spark), col("doc_id")) // spread the explode (explicit N: AQE would coalesce on pre-explode bytes)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("bkt",
        pmod(expr("cast(conv(substring(md5(tok), 1, 14), 16, 10) as bigint)"), lit(B)))
      .select("doc_id", "bkt")
      // two consumers (bucket stats, probe rollup) — materialize the
      // per-token hashing once. The former target/raw split referenced
      // this subtree through FIVE un-cached legs (two total counts,
      // two bucket groupBys, the probe), re-running the explode + md5
      // up to ~3 corpus-equivalents per query (r18).
      .persist()
    toks.count()
    // ONE conditional aggregation replaces the target-vs-raw groupBy
    // pair and their full join (absent buckets: coalesce(·,0)+1 ≡ 0+1,
    // same smoothing); the corpus totals are window sums over the
    // ≤ B+1-row bucket spine (bounded by the CONSTANT B — inventoried
    // in PlanAuditSpec), replacing the 1-row carrier whose build cost
    // two more corpus aggregations
    val tgt = col("doc_id") % 10 === 0
    val wAll = Window.partitionBy()
    val lr = toks.groupBy("bkt").agg(
        sum(when(tgt, 1L).otherwise(0L)).as("ct"),
        sum(when(tgt, 0L).otherwise(1L)).as("cr"))
      .withColumn("tt", sum(col("ct")).over(wAll))
      .withColumn("tr", sum(col("cr")).over(wAll))
      .select(col("bkt"), round(
        log((col("ct") + 1).cast("double") /
          (col("tt") + B).cast("double")) -
        log((col("cr") + 1).cast("double") /
          (col("tr") + B).cast("double")), 6).as("lr"))
    val raw = toks.where(col("doc_id") % 10 =!= 0)
    raw.join(broadcast(lr), "bkt")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        // 6-dp decimal sum: order-independent, so the length-normalized
        // weight is bit-identical across engines
        round(sum(col("lr").cast("decimal(28,6)")).cast("double") / count(lit(1)), 6)
          .as("lw"))
      .withColumn("u",
        (expr("cast(conv(substring(md5(concat('dsir|', cast(doc_id as string))), 1, 13), 16, 10) as bigint)") + 1)
          .cast("double") / lit(4503599627370496.0))
      .withColumn("key", round(log(col("u")) / exp(col("lw")), 6))
      .select("doc_id", "n_tok", "lw", "key")
      .orderBy(col("key").desc, col("doc_id"))
      .limit(100)
  }

  /** Document fingerprinting: minimum md5 over all 8-char rolling
    * shingles (winnowing-style content fingerprint, robust to
    * reordering of large blocks) + distinct-shingle cardinality.
    * Output: doc_id, fp, n_shingles. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // short-doc guard: Spark's sequence(1, length-7) runs DESCENDING
      // when start > stop, fabricating shingles the oracle's ascending
      // range() never produces
      .where(length(col("text")) >= 8)
      .select(
        col("doc_id"),
        expr("array_min(transform(sequence(1, length(text) - 7), i -> md5(substring(text, i, 8))))").as("fp"),
        expr("size(array_distinct(transform(sequence(1, length(text) - 7), i -> substring(text, i, 8))))")
          .cast("bigint").as("n_shingles"))
      .orderBy("doc_id")

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    * SIGMOD 2003: "Winnowing: Local Algorithms for Document
    * Fingerprinting"): over the doc's 8-char shingle hashes, each
    * sliding window of 16 consecutive hashes selects its minimum
    * (rightmost position on ties — the paper's robust-winnowing
    * rule), and the distinct selected (hash, position) pairs are the
    * doc's fingerprints. Guarantee: any substring match of length
    * ≥ k + w - 1 = 23 chars yields a shared fingerprint, so
    * `winnowOverlap` detects partial copies `fingerprint`'s single
    * whole-doc min cannot localize.
    *
    * Shape: ENTIRELY map-side — the shingle-hash array and the
    * per-window minima are nested array transforms inside one
    * projection, so there is no explode→window shuffle; cost is
    * O(len·w) comparisons per doc with each md5 computed once. The
    * rightmost tie-break rides the compared string itself:
    * v_i = md5(shingle_i) || lpad(10^6 - i), so a larger position
    * sorts smaller and array_min picks it — no struct comparison,
    * hence the identical expression runs in DuckDB. (The 10^6 offset
    * caps winnowed docs at 1M chars; longer docs would winnow a
    * prefix — lift the pad width with the corpus.)
    * Output: doc_id, pos (1-based shingle start), fp. */
  def winnow(spark: SparkSession, dir: String): DataFrame =
    winnowTable(spark, dir).orderBy("doc_id", "pos")

  /** The landed winnow-fingerprint artifact (doc_id, pos, fp) — built
    * once per corpus version, read by `winnow` and `winnowOverlap`
    * (the release-pipeline posture every index table here follows). */
  private def winnowTable(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.table(spark, "text_winnow_fps", dir)(
      winnowFrom(Tables.documents(spark, dir)))

  private[graft] def winnowFrom(docs: DataFrame): DataFrame =
    docs
      // need ≥ one full window of 16 8-char shingles: len ≥ 8+16-1
      .where(length(col("text")) >= 23)
      // native O(n) deque selection (functions.WinnowSelect); value-
      // identical to the composable array_min-over-slices form the
      // oracle runs, ~10× cheaper (PERF.md round 9)
      .select(col("doc_id"),
        explode(graft.functions.WinnowSelect.selections(docs.sparkSession, col("text"))).as("v"))
      .select(col("doc_id"),
        expr("cast(1000000 - cast(substring(v, 33) as int) as bigint)").as("pos"),
        expr("substring(v, 1, 32)").as("fp"))
      // no orderBy here: `winnow` sorts its own output, and no
      // other consumer needs an order

  /** Partial-copy pair detection over the winnowing fingerprints:
    * docs sharing ≥ 2 selected fingerprints, scored by containment
    * (shared / min(|fp set|)). The join is posting-list shaped — an
    * fp equi-join, never all-pairs — and fps appearing in > 8 docs
    * (boilerplate) are dropped before pairing, the same
    * bucket-width cap that bounds every LSH family here; the cap is
    * deterministic (a frequency filter), so the oracle applies it
    * identically. Output: doc_a, doc_b, shared_fps, containment. */
  def winnowOverlap(spark: SparkSession, dir: String): DataFrame =
    winnowOverlapFromFps(winnowTable(spark, dir))

  private[graft] def winnowOverlapFrom(docs: DataFrame): DataFrame =
    winnowOverlapFromFps(winnowFrom(docs))

  // r18 note: a no-join variant (per-doc sizes as a doc-partitioned
  // window riding the posting list into the pair explode) measured
  // ~20% SLOWER interleaved on the same box (Lab: old 1.10/1.23 s vs
  // new 1.42/1.50 s min/med) — the added doc_id exchange + window sort
  // cost more than the two tiny AQE-planned size joins, whose legs
  // already share the distinct's exchange via reuse. Kept as-was.
  private def winnowOverlapFromFps(winnowed: DataFrame): DataFrame = {
    val fps = winnowed
      .select(col("doc_id"), col("fp")).distinct()
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val shared = fps.groupBy("fp")
      .agg(collect_list(col("doc_id")).as("ds"), count(lit(1)).as("n_docs"))
      .where(col("n_docs").between(2, 8))
    val pairs = shared
      .select(explode(expr(
        "filter(flatten(transform(ds, a -> transform(ds, b -> struct(a, b)))), p -> p.a < p.b)")).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= 2)
    // sizes is O(#docs) — NOT broadcast; pairs is the small side and
    // AQE picks the build side at runtime
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_fp", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_fp", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared_fps"),
        round(col("shared_fps") / least(col("na"), col("nb")), 6).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): per language, documents split into
    * head/middle/tail tertiles by LM score (head = most fluent) — the
    * standard coarse quality stratification a curation pipeline
    * samples differently per bucket. Tertile CUTOFFS are per-lang
    * aggregates joined back as a bounded broadcast, NOT a corpus-wide
    * NTILE window — at 100 TB a per-lang global window would funnel
    * each language through one partition; two quantile scalars per
    * lang don't. Cutoff interpolation runs on 6-dp-rounded scores
    * with the identical positional formula in both engines.
    * Output: doc_id, lang, lm_score, bucket. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val s = lmScore(spark, dir).select("doc_id", "lm_score")
    val docs = Tables.documents(spark, dir).select("doc_id", "lang")
    val scored = docs.join(s, "doc_id")
    val cuts = scored.groupBy("lang").agg(
      expr("percentile(lm_score, 1.0D/3)").as("q33"),
      expr("percentile(lm_score, 2.0D/3)").as("q66"))
    scored.join(broadcast(cuts), "lang")
      .withColumn("bucket",
        when(col("lm_score") >= col("q66"), "head")
          .when(col("lm_score") >= col("q33"), "middle")
          .otherwise("tail"))
      .select("doc_id", "lang", "lm_score", "bucket")
      .orderBy("doc_id")
  }

  /** Tokenizer OOV audit: per source, the share of whitespace tokens
    * NOT covered by the corpus top-50 vocabulary (`vocab`) — the
    * coverage number tokenizer planning reads before sizing a vocab
    * (a source with high OOV against the shared vocabulary will
    * fragment into long byte-level sequences). One token-explode
    * shuffle; the 50-row vocab is a broadcast probe.
    * Output: source, n_tokens, oov_tokens, oov_rate. */
  def oov(spark: SparkSession, dir: String): DataFrame = {
    val v50 = vocab(spark, dir).select(col("tok"), lit(true).as("inv"))
    Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(v50), Seq("tok"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("inv").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_rate", round(col("oov_tokens").cast("double") / col("n_tokens"), 6))
      .orderBy("source")
  }

  /** Quality-threshold retention sweep: for each candidate quality
    * cut, how many documents and tokens would survive — the tuning
    * curve that picks a production threshold (the `nearDupSweep`
    * discipline, applied to the quality gate). One quality pass; the
    * 10-row threshold dim then non-equi-joins as a bounded broadcast,
    * so zero-survivor thresholds still appear in the curve.
    * Output: threshold, n_docs, n_tokens. */
  def qualitySweep(spark: SparkSession, dir: String): DataFrame = {
    val q = quality(spark, dir).select(col("doc_id"), col("n_tokens"), col("quality"))
    val thresholds = spark.sql(
      "SELECT explode(array(0.0D, 0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D)) AS threshold")
    broadcast(thresholds)
      .join(q, col("quality") >= col("threshold"), "left")
      .groupBy("threshold")
      .agg(count(col("doc_id")).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
      .orderBy("threshold")
  }

  /** Curation waterfall: document and token survivor counts after each
    * successive gate — the report every corpus release publishes (how
    * much each stage cost). Stages apply in realistic pipeline order:
    * held-out carve-out, exact dedup (hash losers), decontamination,
    * quality, PII. Per-doc the FIRST failing gate is charged (a doc
    * both low-quality and contaminated counts against the earlier
    * stage), so stage counts are monotone non-increasing. The
    * near-dup-cluster stage deliberately isn't re-run here: in the
    * production topology it reads the materialized cluster decision
    * (`pipelines.Curation`), and the independent-query contract would
    * otherwise force a third cluster-loop recompute per bench run —
    * `text_curate` already measures that composition.
    *
    * Scale: all gates are map-side or broadcast probes over doc_id;
    * the 6-row stage dim is the bounded-broadcast non-equi join
    * (`ev_range_join` pattern). Output: stage, gate, n_docs, n_tokens. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
    val exactLosers = Dedup.exact(spark, dir).where(!col("keep"))
      .select(col("doc_id"), lit(true).as("xd"))
    val cont = Dedup.decontaminate(spark, dir).where(col("n_overlap") >= 64)
      .select(col("doc_id"), lit(true).as("ct"))
    val lowQ = quality(spark, dir).select(col("doc_id"), (col("quality") < 0.35).as("lq"))
    val piiHeavy = pii(spark, dir)
      .where(col("n_emails") > 0 && col("n_phones") > 0 && col("n_ips") > 0)
      .select(col("doc_id"), lit(true).as("ph"))
    val cut = docs
      .join(exactLosers, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .join(lowQ, Seq("doc_id"), "left")
      .join(piiHeavy, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        when(col("doc_id") % 50 === 0, 1)
          .when(coalesce(col("xd"), lit(false)), 2)
          .when(coalesce(col("ct"), lit(false)), 3)
          .when(coalesce(col("lq"), lit(false)), 4)
          .when(coalesce(col("ph"), lit(false)), 5)
          .otherwise(99).as("cut"))
    val stages = spark.sql(
      "SELECT posexplode(array('total', 'heldout', 'exact_dup', 'contaminated', " +
        "'low_quality', 'pii_heavy')) AS (stage, gate)")
    broadcast(stages)
      .join(cut, col("cut") > col("stage"), "left")
      .groupBy("stage", "gate")
      .agg(count(col("doc_id")).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
      .select(col("stage").cast("bigint").as("stage"), col("gate"),
        col("n_docs"), col("n_tokens"))
      .orderBy("stage")
  }

  /** Length-bucketed batching audit: docs binned to power-of-2 token
    * buckets [2^k, 2^(k+1)), with the padding waste a batcher padding
    * every doc to the bucket's upper bound would pay — the number
    * serving/training batch planners use to pick bucket boundaries.
    * The bucket dim is 21 broadcast rows (2^0..2^20) range-joined to
    * the token counts; `pow(2,k)` is double-exact at these magnitudes
    * so the bounds are integer-identical across engines. Waste inputs
    * are exact longs < 2^53 → the rounded ratio is bit-identical.
    * Output: bucket_lo, bucket_hi, n_docs, n_tokens, pad_waste. */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("tok"))
    val dim = spark.sql("SELECT explode(sequence(0, 20)) AS k")
      .select(expr("cast(pow(2, k) as bigint)").as("bucket_lo"))
      .withColumn("bucket_hi", col("bucket_lo") * 2 - 1)
    toks.join(broadcast(dim),
        col("tok") >= col("bucket_lo") && col("tok") <= col("bucket_hi"))
      .groupBy("bucket_lo", "bucket_hi")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .withColumn("pad_waste", round(
        (col("n_docs") * (col("bucket_hi") + 1) - col("n_tokens")).cast("double") /
          (col("n_docs") * (col("bucket_hi") + 1)), 6))
      .orderBy("bucket_lo")
  }

  /** Temperature-style source rebalancing, integerized: each source
    * repeats for epochs = min(4, ⌈T_max / T_s⌉) passes (small sources
    * up-sampled toward the largest source's token count — the mT5
    * temperature-sampling idea with exact integer arithmetic, no float
    * boundary), and every doc fans out to its source's epoch indexes.
    * The complement of `text_resample_mix` (which down-samples to a
    * budget): together they are the mixture-rebalancing pair a
    * training-data pipeline runs before packing. Source totals are a
    * 20-row broadcast; the fanout is explode(sequence(1, epochs)) —
    * bounded ×4, map-side. Output: doc_id, source, epoch. */
  def epochMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("n_toks"))
    val srcTot = d.groupBy("source").agg(sum(col("n_toks")).as("t"))
    val tMax = srcTot.agg(max(col("t")).as("tm"))
    val epochs = srcTot.crossJoin(broadcast(tMax))
      .select(col("source"),
        least(lit(4L), expr("(tm + t - 1) div t")).as("epochs"))
    d.join(broadcast(epochs), "source")
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(1L, epochs)")).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** Quality-WEIGHTED sample without replacement — Efraimidis–Spirakis
    * exponential-key sampling (the distributed weighted-reservoir
    * standard): each doc draws a deterministic uniform u from the top
    * 52 md5 bits and competes on key = ln(u)/w (monotone transform of
    * u^(1/w)); the top-15 keys per language are EXACTLY a weighted
    * sample without replacement with inclusion probability
    * proportional to w. Weight here is sqrt(n_chars) — longer docs
    * favored sublinearly, the common token-budget-aware choice. Fully
    * deterministic (md5-derived u, no rand()), so re-runs, partition
    * layouts, and engines agree; keys are ROUNDED to 6 dp with doc_id
    * tie-break before ranking so a last-ulp libm difference cannot
    * flip an ordering. One window per language partition — the same
    * single-shuffle shape as `sampleStratified`; at corpus scale the
    * per-partition top-k runs as a bounded heap before the stratum
    * shuffle. Output: lang, doc_id, rank, w6 (the sort key). */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(col("text")), 1, 13), 16, 10).cast("double") + lit(1.0)) /
      lit(4503599627370497.0) // (h+1)/(2^52+1): u in (0,1], ln defined
    val key = round(log(u) / sqrt(col("n_chars").cast("double")), 6)
    val w = Window.partitionBy("lang").orderBy(col("w6").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("w6", key)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= 15)
      .select(col("lang"), col("doc_id"), col("rank"), col("w6"))
      .orderBy("lang", "rank")
  }

  /** Deterministic global shuffle into training shards — the release
    * step between curation and the trainer: every document draws a
    * reproducible pseudo-random key (md5 over a versioned seed tag +
    * doc_id, so reshuffling is a seed bump away), lands in one of 16
    * shards by the key's leading bits, and takes its within-shard
    * position from a per-shard window ordered by (key, doc_id).
    * Hash-bucket sharding is the only shape that survives 100 TB: no
    * global sort, no single-partition window — one corpus-sized
    * shuffle on the shard key, shard sizes uniform to ±√n. The
    * (key, doc_id) order within a shard IS the training order;
    * re-runs, partition layouts, and engines all agree on it.
    *
    * The shard COUNT follows the [[graft.ops.Similarity]] ladder
    * discipline ([[shardBitsFor]]): the per-shard window is one task
    * per shard, so a FIXED 16 shards would put corpus/16 rows on one
    * task at scale — the exact single-partition-window failure the
    * plan audits exist to prevent. Deterministic in n (floor 16
    * shards — every driver-scale oracle pins there — +1 bit per
    * corpus doubling past ~1M docs/shard), so any engine derives the
    * same layout; a release crossing a width boundary reshuffles
    * fully, which a trainer-facing release does anyway.
    * Output: shard, pos, doc_id, k. */
  def shardShuffle(spark: SparkSession, dir: String): DataFrame =
    shardShuffleDocs(spark, Tables.documents(spark, dir).select("doc_id"))

  /** [[shardShuffle]] over an arbitrary doc_id table — the form the
    * release pipeline composes after its budget gate. The driver
    * contract pins seed "shard-v1" (the oracle mirrors it); a trainer
    * reshuffles per epoch by bumping the seed ("shard-v2", …), which
    * rekeys every document — a fresh global permutation per epoch at
    * the cost of one relayout, with shard sizes equidistributed under
    * any seed (the unit spec asserts both). */
  private[graft] def shardShuffleDocs(spark: SparkSession, ids: DataFrame,
      seed: String = "shard-v1"): DataFrame = {
    val nShards = 1L << shardBitsFor(ids.count())
    val w = Window.partitionBy("shard").orderBy(col("k"), col("doc_id"))
    ids
      .select(col("doc_id"),
        md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("shard",
        conv(substring(col("k"), 1, 6), 16, 10).cast("bigint") % nShards)
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .select(col("shard"), col("pos"), col("doc_id"), col("k"))
      .orderBy("shard", "pos")
  }

  /** Token-budget mix allocation — water-filling WITHOUT upsampling:
    * given the per-source token masses and a budget B (25% of the
    * corpus' token mass — the deterministic stand-in for a trainer's
    * token target), allocate every source min(mass, L) tokens with
    * the water level L set so the allocations sum EXACTLY to B;
    * sources smaller than the level contribute everything they have,
    * the rest split the remainder evenly (the classic max-min-fair
    * allocation a pretraining mix uses when it refuses to repeat
    * data). All arithmetic is exact BIGINT: sources sort by
    * (mass, source); a source is fully taken iff its mass fits the
    * per-remaining-source floor share of what's left of B before it
    * (fully-taken sources provably form a prefix of the sort — the
    * rule was simulated over 20k random mass vectors before landing,
    * the house simulate-before-Spark discipline); capped sources get
    * the floor level, with the division remainder handed one token
    * each to the LAST `rem` capped sources in sort order — the total
    * telescopes to B exactly and the allocation stays monotone in
    * mass (simulated: 50k random vectors, zero violations). The windows run on the
    * DIMENSION-sized source table (one corpus-sized groupBy feeds
    * it), the same bounded-window posture as the daily rollups.
    * Output: source, mass, full, alloc. */
  def budgetMix(spark: SparkSession, dir: String): DataFrame =
    waterfill(massesOf(Tables.documents(spark, dir)))

  /** Per-source token masses of an arbitrary documents table. */
  private def massesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), size(split(col("text"), " ")).cast("bigint").as("t"))
      .groupBy("source").agg(sum(col("t")).as("mass"))

  /** The sampling decision [[budgetMix]] exists to drive: WHICH
    * documents fill each source's allocation. Docs order within
    * their source by the seeded [[shardShuffle]] key (deterministic
    * pseudo-random, so the kept set is an unbiased sample any engine
    * reproduces), then a per-source running token cumsum keeps every
    * doc that fits ENTIRELY inside the source's water-filled
    * allocation — no partial documents, so the kept mass is ≤ alloc
    * with a sub-doc-sized gap per source.
    *
    * The cumsum is a TWO-PHASE parallel prefix (the `Drawdown`
    * discipline), NOT one window per source: there are only ~20
    * sources, so `partitionBy(source)` would put each source's whole
    * corpus slice on a single task at scale. Instead each (source,
    * 8-bit key-prefix bucket) cumsums locally — the bucket IS a key
    * prefix, so bucket order extends to the same total (k, doc_id)
    * order — and a 256×|sources|-row offset table (broadcast) shifts
    * each bucket by the mass before it. Exact integer sums, so the
    * two-phase result is bit-identical to the single-window form.
    * Output: source, doc_id, n_toks, cum, kept. */
  def budgetApply(spark: SparkSession, dir: String): DataFrame =
    budgetApplyDocs(spark, Tables.documents(spark, dir))

  /** [[budgetApply]] over an arbitrary documents table (source,
    * doc_id, text…) — allocations derived from that table's own
    * masses, so the release pipeline budgets exactly the docs
    * curation kept. */
  private[graft] def budgetApplyDocs(spark: SparkSession, docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_toks"),
        md5(concat(lit("shard-v1:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("b", substring(col("k"), 1, 2))
    val local = Window.partitionBy("source", "b").orderBy("k", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = d.groupBy("source", "b").agg(sum(col("n_toks")).as("bt"))
      .withColumn("off", coalesce(sum(col("bt")).over(
        Window.partitionBy("source").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "b", "off")
    d.withColumn("lcum", sum(col("n_toks")).over(local))
      .join(broadcast(offsets), Seq("source", "b"))
      .withColumn("cum", col("lcum") + col("off"))
      .join(broadcast(waterfill(massesOf(docs)).select("source", "alloc")), "source")
      .select(col("source"), col("doc_id"), col("n_toks"), col("cum"),
        (col("cum") <= col("alloc")).as("kept"))
      .orderBy("source", "doc_id")
  }

  /** The allocation core of [[budgetMix]] over an arbitrary
    * (source, mass) table — factored so the property spec can drive
    * it with random mass vectors. */
  private[graft] def waterfill(m: DataFrame): DataFrame = {
    val ord = Window.orderBy("mass", "source")
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    m.withColumn("idx", row_number().over(ord).cast("bigint"))
      .withColumn("prefix", coalesce(sum(col("mass")).over(
        ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("nn", count(lit(1)).over(all))
      .withColumn("bgt", expr("sum(mass) over () div 4"))
      .withColumn("full", col("mass") <= expr("(bgt - prefix) div (nn - idx + 1)"))
      .withColumn("nfull", sum(when(col("full"), 1L).otherwise(0L)).over(all))
      .withColumn("taken", sum(when(col("full"), col("mass")).otherwise(0L)).over(all))
      .withColumn("alloc", when(col("full"), col("mass"))
        .otherwise(expr("(bgt - taken) div (nn - nfull)") +
          when(col("idx") - col("nfull") >
              expr("(nn - nfull) - (bgt - taken) % (nn - nfull)"), 1L)
            .otherwise(0L)))
      .select(col("source"), col("mass"), col("full"), col("alloc"))
      .orderBy("source")
  }

  /** Independence audit of the corpus' source × language mix —
    * Pearson chi-square over the full contingency table (zero-count
    * cells included via the dims cross, as the statistic requires).
    * The release-audit question: did this version's ingest shift
    * which languages each source contributes? A large jump in the
    * statistic between releases means the mix moved even if every
    * marginal looks stable.
    *
    * Determinism: marginals and cell counts are exact BIGINTs;
    * each expected count is ONE fp division of exact integers
    * (r·c stays integer), each cell contribution (n−e)²/e a fixed
    * IEEE expression both engines evaluate identically; the total is
    * the house ORDERED running cumsum (last row = the statistic).
    * Scale: one corpus-sized groupBy per marginal; the cell table is
    * |sources|×|langs| — dimension-sized, driver-free, broadcast.
    * Output: source, lang, n, e6, cum_chi2. */
  def chi2(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val cells = d.groupBy("source", "lang").agg(count(lit(1)).as("n"))
    val rows = d.groupBy("source").agg(count(lit(1)).as("r"))
    val cols = d.groupBy("lang").agg(count(lit(1)).as("c"))
    val nCar = d.agg(count(lit(1)).as("nn"))
    val run = Window.orderBy("source", "lang")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.crossJoin(broadcast(cols)) // dense cell spine, incl. zero cells
      .join(cells, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(nCar))
      .withColumn("e", (col("r") * col("c")).cast("double") / col("nn"))
      .withColumn("contrib",
        (col("n") - col("e")) * (col("n") - col("e")) / col("e"))
      .select(col("source"), col("lang"), col("n"),
        round(col("e"), 6).as("e6"),
        round(sum(col("contrib")).over(run), 6).as("cum_chi2"))
      .orderBy("source", "lang")
  }

  /** Shard-count ladder for [[shardShuffle]]: 4 bits (16 shards) at
    * driver scales, +1 per doubling once shards would exceed ~2²⁰
    * docs, capped at 2²⁴ shards. Bounds the per-shard window task at
    * ~1M rows regardless of corpus size, and bounds the manifest's
    * 32-bit key_sum at ~2⁵² ≪ BIGINT. */
  private[graft] def shardBitsFor(n: Long): Int = {
    var bits = 4
    while (bits < 24 && (n >> bits) > (1L << 20)) bits += 1
    bits
  }

  /** Per-shard release manifest for [[shardShuffle]] — what a trainer
    * checks before reading: document count, token mass, and an
    * order-free integer checksum (the BIGINT sum of a 32-bit slice of
    * each member key — exact, addend-order-independent, so any engine
    * and any partitioning lands the same number; the ladder bounds
    * shards at ~2²¹ docs, so the sum stays ≤ ~2⁵³ ≪ BIGINT; the house
    * alternative to md5-of-concatenation, which would need an ordered
    * reduce). Output: shard, n_docs, n_toks, key_sum. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    shardShuffle(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n_toks")),
        "doc_id")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"),
        sum(conv(substring(col("k"), 7, 8), 16, 10).cast("bigint")).as("key_sum"))
      .orderBy("shard")

  // ---- trained quality classifier (hashed logistic regression) ----
  //
  // The fasttext-shaped filter workflow production pretraining
  // pipelines run (CCNet / DCLM style): train a linear classifier on
  // hashed bag-of-words features IN THE ENGINE, score every document,
  // and audit the ranking with AUC — here with the corpus' labeled
  // `lang` column as the (clean, reproducible) target, the same
  // mechanics a quality target would use. Distributed batch gradient
  // descent: each iteration is one broadcast join (the D=64-row
  // weight table) + two doc-keyed aggregations — no driver-side
  // weight vector, no collect; 1000× more documents is the same plan
  // with bigger shuffles.
  //
  // Determinism discipline (the float-sum pitfall): every cross-row
  // sum (margins, gradients) adds 6dp-ROUNDED terms in DECIMAL, so
  // scores and weights are addend-order-free and engine-exact; the
  // only transcendental (the sigmoid's exp) is rounded at its output.

  // Hyperparameters picked by SIMULATION on the driver corpus (numpy
  // twin of the exact rounded dataflow): the synthetic documents
  // share a 31-token vocabulary across languages, so the attainable
  // ranking ceiling is low — full-vocab batch LR run to convergence
  // reaches AUC 0.636; this (D=64, 8 steps, lr=50) reaches 0.601,
  // ~95% of the attainable signal, vs 0.549 at the textbook-looking
  // (3, lr=1). On a real corpus the same plan just runs more steps.
  private[graft] val QclfDim = 64
  private[graft] val QclfIters = 8
  private[graft] val QclfLr = 50.0

  /** Hashed bag-of-words features (doc_id, f, x): f an md5-derived
    * token bucket in [0, QclfDim), x the 6dp-rounded term frequency. */
  private def qclfFeats(docs: DataFrame): DataFrame =
    docs
      // spread the one-row-group corpus scan before the token explode
      // + per-token md5 (the heavy map work of every scoring pass);
      // doc_id partitioning also carries the (doc_id, f) groupBy and
      // the per-doc margin aggregation downstream exchange-free
      // (explicit N: AQE would size the coalesce by pre-explode bytes)
      .repartition(docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .withColumn("n", size(split(col("text"), " ")))
      .select(col("doc_id"), col("n"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("long") % QclfDim).as("f"))
      .agg(round(count(lit(1)).cast("double") / first(col("n")), 6).as("x"))

  private def qclfLabels(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))

  /** Per-doc margin w·x as an order-free decimal sum of 6dp terms. */
  private def qclfMargin(feats: DataFrame, wts: DataFrame): DataFrame =
    feats.join(broadcast(wts), "f")
      .groupBy("doc_id")
      .agg(sum(round(col("x") * col("w"), 6).cast("decimal(28,6)"))
        .cast("double").as("m"))

  /** One batch-GD step: w ← round(w − lr·Σ_d (σ(m_d) − y_d)·x_d / N, 6). */
  private def qclfStep(feats: DataFrame, labels: DataFrame, nCar: DataFrame,
      wts: DataFrame): DataFrame = {
    val resid = labels
      .join(qclfMargin(feats, wts), Seq("doc_id"), "left")
      .withColumn("sig",
        round(lit(1.0) / (lit(1.0) + exp(-coalesce(col("m"), lit(0.0)))), 6))
      .select(col("doc_id"), (col("sig") - col("y")).as("r"))
    val grad = feats.join(resid, "doc_id")
      .crossJoin(broadcast(nCar))
      .groupBy("f")
      .agg(round(sum(round(col("x") * col("r"), 6).cast("decimal(28,6)"))
        .cast("double") / first(col("nd")), 6).as("g"))
    wts.join(grad, Seq("f"), "left")
      .select(col("f"),
        round(col("w") - lit(QclfLr) * coalesce(col("g"), lit(0.0)), 6).as("w"))
  }

  /** Landed trained weights — the model IS an index artifact: trained
    * once per corpus version, read by the score and AUC consumers
    * (and, in a real release, by the ingest-side filter gate). */
  private def qclfWeightsArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.tableReleasable(spark, "text_qclf_w", dir) {
      qclfFit(spark, Tables.documents(spark, dir))
    }

  /** The training loop itself, over an arbitrary documents table —
    * factored from the artifact so it fits any documents table.
    * Returns (weights, release-the-feats handle). */
  private[graft] def qclfFit(spark: SparkSession,
      docs: DataFrame): (DataFrame, () => Unit) = {
    val feats = qclfFeats(docs).persist()
    feats.count() // materialize: each GD step references feats twice
    val labels = qclfLabels(docs)
    val nCar = docs.agg(count(lit(1)).cast("double").as("nd"))
    var w: DataFrame = spark.range(QclfDim.toLong)
      .select(col("id").as("f"), lit(0.0).as("w"))
    // each step references the weight plan TWICE (margin join +
    // update join), so a lazily-chained loop doubles the logical
    // plan per iteration — 2^8 copies by the last step (the
    // lineage-doubling pitfall the beam walk hit at scale).
    // localCheckpoint flattens the 64-row table to a LogicalRDD
    // leaf each step; eager, so the step actually runs here.
    for (_ <- 1 to QclfIters)
      w = qclfStep(feats, labels, nCar, w).localCheckpoint(true)
    (w, () => { feats.unpersist(); () })
  }

  /** Published trained-classifier weights. Output: f, w. */
  def qclfTrain(spark: SparkSession, dir: String): DataFrame =
    qclfWeightsArtifact(spark, dir).orderBy("f")

  /** Score a documents table with a given weight model.
    * Output: doc_id, y, m, score. */
  private def qclfScoreDocs(docs: DataFrame, wts: DataFrame): DataFrame =
    qclfMargin(qclfFeats(docs), wts)
      .join(qclfLabels(docs), "doc_id") // every doc has ≥1 token → a margin row
      .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("m"))), 6))

  /** The scored corpus as a landed artifact: score-once-audit-many is
    * the release posture (the PR sweep, operating point, calibration,
    * isotonic map, out-of-sample eval, PSI and AUC all read the SAME
    * scores of the SAME model — re-running the feature explode + md5
    * hashing + margin join per audit is what no pipeline does; same
    * argument as `text_bm25_ranks`). Build cost is visible in the
    * bench's artifact ledger; columns are exact (6-dp score, ±1
    * labels, double margin round-trips parquet bit-exact). */
  private def qclfScored(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.table(spark, "text_qclf_scores", dir) {
      qclfScoreDocs(Tables.documents(spark, dir), qclfWeightsArtifact(spark, dir))
    }

  /** Score every document with the trained model.
    * Output: doc_id, y, score, pred. */
  def qclfScore(spark: SparkSession, dir: String): DataFrame =
    qclfScored(spark, dir)
      .select(col("doc_id"), col("y"), col("score"),
        (col("score") >= 0.5).cast("bigint").as("pred"))
      .orderBy("doc_id")

  /** Operating-point audit: precision / recall / F1 at EVERY
    * attainable threshold (each distinct 6dp score, predicting
    * positive at score ≥ t) — the sweep a pipeline runs to pick the
    * filter's cutoff before a release. Same bounded-histogram shape
    * as [[qclfAuc]]: one groupBy on score, one window over ≤ 10⁶+1
    * rows regardless of corpus size; TP/FP counts stay in BIGINT
    * (descending cumulative sums), only the three final ratios
    * divide and round. Output: thresh, tp, fp, fn, precision,
    * recall, f1. */
  def qclfPr(spark: SparkSession, dir: String): DataFrame = {
    val hist = qclfScored(spark, dir)
      .groupBy("score")
      .agg(sum(col("y")).cast("bigint").as("ps"), count(lit(1)).as("cs"))
    val desc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("tp", sum(col("ps")).over(desc))
      .withColumn("pp", sum(col("cs")).over(desc))
      .withColumn("p", sum(col("ps")).over(all))
      .select(col("score").as("thresh"), col("tp"),
        (col("pp") - col("tp")).as("fp"), (col("p") - col("tp")).as("fn"),
        round(col("tp").cast("double") / col("pp"), 6).as("precision"),
        round(col("tp").cast("double") / col("p"), 6).as("recall"),
        round(lit(2.0) * col("tp").cast("double") /
          (col("pp") + col("p")).cast("double"), 6).as("f1"))
      .orderBy("thresh")
  }

  /** The operating-point PICK that closes [[qclfPr]]'s sweep: the
    * threshold with the best F1 (6-dp-rounded in BOTH engines, so
    * the ordering is engine-exact; ties break to the LOWEST
    * threshold — prefer recall at equal F1). The 1-row release
    * artifact the ingest filter actually configures with.
    * Output: one [[qclfPr]] row. */
  def qclfOpPoint(spark: SparkSession, dir: String): DataFrame =
    qclfPr(spark, dir).orderBy(col("f1").desc, col("thresh")).limit(1)

  /** Calibration audit: 20-bin reliability table + expected
    * calibration error — does "score 0.8" mean 80% of such docs are
    * actually positive? The production question behind every
    * score-thresholded filter (a miscalibrated cutoff silently
    * shifts the corpus mix). Scores enter as integer MICROS
    * (`round(score·10⁶)` — exact: scores are already 6dp), so bin
    * sums stay in BIGINT and every per-bin statistic is ONE division
    * of exact integers — no float accumulation order to disagree
    * with the oracle, no composition of rounded ratios:
    * |acc − conf| = |10⁶·Σy − Σsu| / (10⁶·n) has an integer
    * numerator, and ECE = Σ_bins n/N·|acc−conf| telescopes to
    * Σ|10⁶·Σy − Σsu| / (10⁶·N). One groupBy over ≤ 20 rows of
    * state regardless of corpus size. Output: bin, n, conf, acc,
    * gap, ece (global, carried on every row). */
  def qclfCalibration(spark: SparkSession, dir: String): DataFrame = {
    val hist = qclfScored(spark, dir)
      .select(col("y"), round(col("score") * 1e6).cast("bigint").as("su"))
      .withColumn("bin", least(expr("su div 50000"), lit(19L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("bigint").as("sy"),
        sum(col("su")).as("ss"))
      .withColumn("e", abs(col("sy") * lit(1000000L) - col("ss")))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .select(col("bin"), col("n"),
        round(col("ss").cast("double") / col("n") / 1e6, 6).as("conf"),
        round(col("sy").cast("double") / col("n"), 6).as("acc"),
        round(col("e").cast("double") / (col("n") * lit(1000000L)), 6).as("gap"),
        round(sum(col("e")).over(all).cast("double") /
          (sum(col("n")).over(all) * lit(1000000L)), 6).as("ece"))
      .orderBy("bin")
  }

  /** Isotonic calibration MAP — the monotone fix the calibration
    * audit motivates: fit the monotone-nondecreasing step function
    * closest (weighted squared loss) to the per-bin accuracies, via
    * the CLOSED-FORM minimax representation of isotonic regression —
    * fitted(i) = min_{j≥i} max_{h≤i} pooledMean(h..j) — instead of
    * the sequential pool-adjacent-violators loop: every pooled mean
    * comes from prefix-sum differences of exact integers, so the
    * whole fit is O(bins³) ≤ 8000 rows of bounded dataflow with no
    * iteration and no driver state, and both engines evaluate the
    * identical single-division doubles. A production scorer applies
    * the resulting (bin → iso) map as the post-hoc calibrator.
    * Output: bin, n, acc, iso (monotone in bin). */
  def qclfIsotonic(spark: SparkSession, dir: String): DataFrame = {
    val hist = qclfScored(spark, dir)
      .select(col("y"), round(col("score") * 1e6).cast("bigint").as("su"))
      .withColumn("bin", least(expr("su div 50000"), lit(19L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("bigint").as("sy"))
    isotonicFit(hist)
      .select(col("bin"), col("n"),
        round(col("sy").cast("double") / col("n"), 6).as("acc"),
        round(col("iso"), 6).as("iso"))
      .orderBy("bin")
  }

  /** The minimax isotonic fit over a (bin, n, sy) histogram —
    * returns the histogram with the fitted `iso` (unrounded) joined
    * on; shared by the in-sample map and the out-of-sample
    * calibration evaluation. */
  private def isotonicFit(hist: DataFrame): DataFrame = {
    val run = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = hist
      .withColumn("pos", row_number().over(Window.orderBy("bin")).cast("bigint"))
      .withColumn("cn", sum(col("n")).over(run))
      .withColumn("cy", sum(col("sy")).over(run))
    val left = p.select(col("pos").as("h"),
      (col("cn") - col("n")).as("cnh"), (col("cy") - col("sy")).as("cyh"))
    val right = p.select(col("pos").as("j"), col("cn").as("cnj"), col("cy").as("cyj"))
    val pairs = left.crossJoin(broadcast(right)).where(col("h") <= col("j"))
      .select(col("h"), col("j"),
        ((col("cyj") - col("cyh")).cast("double") /
          (col("cnj") - col("cnh")).cast("double")).as("avgp"))
    val iso = pairs
      .join(broadcast(p.select(col("pos").as("i"))),
        col("h") <= col("i") && col("i") <= col("j"))
      .groupBy("i", "j").agg(max(col("avgp")).as("mx"))
      .groupBy("i").agg(min(col("mx")).as("iso"))
    p.join(broadcast(iso), p("pos") === iso("i"))
  }

  /** Out-of-sample calibration validation — does the isotonic fix
    * GENERALIZE? The map is fitted on the reference window only (the
    * 75% slice the model was calibrated against), applied to the 25%
    * eval window as a STEP function (each eval bin takes the fitted
    * value of the largest reference bin ≤ it; eval bins below every
    * reference bin take the lowest fitted value), and judged by the
    * eval window's own labels: per-bin raw confidence vs calibrated
    * value vs realized accuracy, with BOTH expected-calibration
    * errors as ordered running cumsums (the last row carries the
    * headline numbers; raw ECE keeps the integer-micros numerator of
    * [[qclfCalibration]], the calibrated ECE's per-bin term is a
    * fixed two-op float on exact inputs). All joins are ≤20-row
    * broadcasts. Output: bin, n, acc, conf_raw, conf_cal,
    * cum_ece_raw, cum_ece_cal. */
  def qclfCalibratedEval(spark: SparkSession, dir: String): DataFrame = {
    val scored = qclfScored(spark, dir)
      .select(col("doc_id"), col("y"),
        round(col("score") * 1e6).cast("bigint").as("su"))
      .withColumn("bin", least(expr("su div 50000"), lit(19L)))
    val histR = scored.where(col("doc_id") % 4 =!= 0)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("bigint").as("sy"))
    val isoMap = isotonicFit(histR).select(col("bin").as("rb"), col("iso"))
    val histE = scored.where(col("doc_id") % 4 === 0)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("bigint").as("sy"),
        sum(col("su")).as("ss"))
    val step = histE.select("bin").crossJoin(broadcast(isoMap))
      .where(col("rb") <= col("bin"))
      .groupBy("bin").agg(max_by(col("iso"), col("rb")).as("cal"))
    val floor = isoMap.orderBy("rb").limit(1).select(col("iso").as("cal0"))
    val run = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    histE.join(broadcast(step), Seq("bin"), "left")
      .crossJoin(broadcast(floor))
      .withColumn("cal", coalesce(col("cal"), col("cal0")))
      .withColumn("acc", col("sy").cast("double") / col("n"))
      .withColumn("e_raw", abs(col("sy") * lit(1000000L) - col("ss")))
      .withColumn("t_cal", col("n") * abs(col("acc") - col("cal")))
      .select(col("bin"), col("n"),
        round(col("acc"), 6).as("acc"),
        round(col("ss").cast("double") / col("n") / 1e6, 6).as("conf_raw"),
        round(col("cal"), 6).as("conf_cal"),
        round(sum(col("e_raw")).over(run).cast("double") /
          (sum(col("n")).over(all) * lit(1000000L)), 6).as("cum_ece_raw"),
        round(sum(col("t_cal")).over(run) /
          sum(col("n")).over(all).cast("double"), 6).as("cum_ece_cal"))
      .orderBy("bin")
  }

  /** Score-distribution drift monitor: population stability index of
    * the classifier's score distribution between the reference
    * window (the 75% state slice, doc_id % 4 ≠ 0 — the release the
    * model was calibrated against) and the production window (the
    * 25% delta slice). PSI = Σ_bins (p−q)·ln(p/q) over the same 20
    * calibration bins, Laplace-smoothed (n+1)/(N+20) so empty bins
    * are defined; the conventional read: <0.1 stable, 0.1–0.25
    * drifting, >0.25 retrain.
    *
    * Determinism: a DENSE 0..19 bin spine (empty bins still
    * contribute), each p/q/ln a single fp op on exact integers, and
    * the total accumulated as an ORDERED running cumsum (the house
    * float-sum rule — both engines add in bin order; the last row's
    * cum_psi is the headline number). Scale: two corpus-sized
    * groupBys into 20 rows of state.
    * Output: bin, n_ref, n_cur, p_ref, p_cur, cum_psi. */
  def qclfPsi(spark: SparkSession, dir: String): DataFrame = {
    val binned = qclfBinned(qclfScored(spark, dir))
    def side(f: org.apache.spark.sql.Column, name: String) = binned.where(f)
      .groupBy("bin").agg(count(lit(1)).as(name))
    psiTable(spark,
      side(col("doc_id") % 4 =!= 0, "n_ref"),
      side(col("doc_id") % 4 === 0, "n_cur"))
  }

  /** Calibration-bin assignment for [[qclfPsi]]: integer micros,
    * 50k-wide bins, top bin capped at 19 (score 1.0 folds into the
    * last bin). Output: doc_id, su, bin. */
  private def qclfBinned(scored: DataFrame): DataFrame =
    scored
      .select(col("doc_id"), round(col("score") * 1e6).cast("bigint").as("su"))
      .withColumn("bin", least(expr("su div 50000"), lit(19L)))

  /** PSI table from two per-bin count tables (`bin, n_ref` /
    * `bin, n_cur`) — the [[qclfPsi]] core. Inputs may omit empty
    * bins; the dense spine restores them. */
  private[graft] def psiTable(spark: SparkSession, ref: DataFrame,
      cur: DataFrame): DataFrame = {
    val j = spark.range(20).select(col("id").as("bin"))
      .join(ref, Seq("bin"), "left")
      .join(cur, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val p = (col("n_ref") + lit(1L)).cast("double") /
      (sum(col("n_ref")).over(all) + lit(20L)).cast("double")
    val q = (col("n_cur") + lit(1L)).cast("double") /
      (sum(col("n_cur")).over(all) + lit(20L)).cast("double")
    val run = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    j.withColumn("pp", p).withColumn("qq", q)
      .withColumn("contrib", (col("pp") - col("qq")) * log(col("pp") / col("qq")))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(col("pp"), 6).as("p_ref"), round(col("qq"), 6).as("p_cur"),
        round(sum(col("contrib")).over(run), 6).as("cum_psi"))
      .orderBy("bin")
  }

  /** Ranking audit: exact Mann–Whitney AUC of the trained scores
    * against the labels, with midrank tie handling — computed
    * DISTRIBUTED over the per-score histogram, not a global row rank:
    * scores are 6dp-rounded so distinct values are bounded by 10⁶+1
    * regardless of corpus size, the only window runs over that
    * bounded histogram, and all rank arithmetic stays in BIGINT
    * (doubled midranks) until the final division — bit-exact by
    * construction. Output: p, n, auc. */
  def qclfAuc(spark: SparkSession, dir: String): DataFrame = {
    val hist = qclfScored(spark, dir)
      .groupBy("score")
      .agg(sum(col("y")).cast("bigint").as("ps"), count(lit(1)).as("cs"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // midrank·2 of tied group s = 2·(count before s) + cs + 1: integer
    val agg = hist
      .withColumn("cum", sum(col("cs")).over(w))
      .select(col("ps"), col("cs"), col("cum"),
        (col("ps") * (lit(2L) * (col("cum") - col("cs")) + col("cs") + lit(1L)))
          .as("pos_mr2"))
      .agg(sum(col("ps")).as("p"),
        sum(col("cs") - col("ps")).as("n"),
        sum(col("pos_mr2")).as("s2"))
    agg.select(col("p"), col("n"),
      round((col("s2").cast("double") / 2.0 -
        col("p").cast("double") * (col("p").cast("double") + 1.0) / 2.0) /
        (col("p").cast("double") * col("n").cast("double")), 6).as("auc"))
  }
}
