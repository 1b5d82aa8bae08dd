package graft

import org.apache.spark.sql.functions._

import graft.ops.Text

/** The deep-vocabulary BPE paths: the driver-loop trainer
  * (`bpeTrainLoop`) against the unrolled oracle-pinned 5-merge form,
  * and the per-partition greedy encoder (`bpeEncodeWith`) against the
  * literal-replace fold. */
class TokenizerSpec extends SparkSpec {

  test("bpe loop trainer: row-identical to the unrolled 5-merge form") {
    val docs = Tables.documents(spark, sf)
    // the loop at k = 5 IS the unrolled oracle-pinned trainer
    val looped = Text.bpeTrainLoop(spark, docs, 5)
    val unrolled = Text.bpeTrain(spark, sf)
    assert(looped.exceptAll(unrolled).count() === 0)
    assert(unrolled.exceptAll(looped).count() === 0)
  }

  test("deep encoder matches the literal-replace apply path") {
    val docs = Tables.documents(spark, sf)
    val ms = Text.bpeTrain(spark, sf).orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = Text.bpeEncodeWith(spark, docs, ms)
    val ref = Text.bpeApply(spark, sf)
    assert(enc.exceptAll(ref).count() === 0)
    assert(ref.exceptAll(enc).count() === 0)
  }

  test("driver-tier trainer is bit-identical to the distributed loop") {
    val docs = Tables.documents(spark, sf)
    // 64 rounds crosses the loop's parquet seam AND exercises the
    // driver tier's incremental pair-count maintenance well past the
    // first elections; the two trainers must agree row-for-row
    val fast = Text.bpeTrainTiered(spark, docs, 64)
    val loop = Text.bpeTrainLoop(spark, docs, 64)
    assert(fast.exceptAll(loop).count() === 0)
    assert(loop.exceptAll(fast).count() === 0)
    // and the tier ROUTES: a one-row ceiling forces the distributed
    // fallback, which is the same trainer by the assertion above
    spark.conf.set("graft.bpe.driverVocabMax", "1")
    try {
      val routed = Text.bpeTrainTiered(spark, docs, 5)
      val unrolled = Text.bpeTrain(spark, sf)
      assert(routed.exceptAll(unrolled).count() === 0)
      assert(unrolled.exceptAll(routed).count() === 0)
    } finally spark.conf.unset("graft.bpe.driverVocabMax")
  }

  test("driver-tier trainer splits code points, not UTF-16 units (cross-tier identity past the BMP)") {
    // an astral-plane character is two UTF-16 units but ONE symbol to
    // Spark's code-point string functions — a surrogate-splitting
    // driver tier would elect different merges (and corrupt the UTF-8
    // tiebreak: lone surrogates encode as '?'), silently flipping the
    // learned vocabulary when the corpus crosses the routing ceiling
    import spark.implicits._
    val astral = new String(Character.toChars(0x1F600)) // 😀
    val docs = Seq(
      (1L, s"${astral}ab ${astral}ab ${astral}ac"),
      (2L, s"${astral}ab xy${astral} xy${astral}")).toDF("doc_id", "text")
    val fast = Text.bpeTrainTiered(spark, docs, 8)
    val loop = Text.bpeTrainLoop(spark, docs, 8)
    assert(fast.exceptAll(loop).count() === 0)
    assert(loop.exceptAll(fast).count() === 0)
    // non-vacuous: the astral char participates in a learned merge
    assert(fast.where(col("a").contains(astral) || col("b").contains(astral))
      .count() > 0)
    // and the rank-skip encoder counts it as one symbol, like the
    // distributed apply chain would: three 3-code-point tokens = 9
    val ms = fast.orderBy("round").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = Text.bpeEncodeWith(spark, docs, ms)
    assert(enc.where(col("doc_id") === 1L).head().getAs[Long]("n_chars") === 9L)
  }

  test("deep artifact: 5-merge prefix equals the oracle-pinned trainer; encode matches apply") {
    val docs = Tables.documents(spark, sf)
    // the deep artifact trains under the same election rule on the
    // same corpus, so its first five merges ARE text_bpe_train's —
    // the prefix property that makes merges.take(j) the k=j tokenizer
    // with graft.bpe.deepMergesExportDir unset, the merge export lands
    // under the JVM's working directory — the checkout under test
    assert(spark.conf.getOption("graft.bpe.deepMergesExportDir").isEmpty)
    assert(!sys.props.contains("graft.bpe.deepMergesExportDir"))
    val exportRoot = new java.io.File(sys.props("user.dir"), "artifacts/bpe_deep_merges_v1")
    val export = new java.io.File(exportRoot, Text.corpusFp(docs).toString)
    org.apache.commons.io.FileUtils.deleteDirectory(export)
    val deep = Text.bpeDeepFertility(spark, sf) // forces the artifact
    assert(deep.count() > 0)
    assert(new java.io.File(export, "_SUCCESS").isFile)
    assert(Text.oracleDeepMergesGlob === s"${exportRoot.getPath}/*/*.parquet")
    val deepMerges = graft.ArtifactCache.table(spark, "text_bpe_merges_deep", sf)(
      sys.error("artifact must already be landed")).orderBy("round")
    val prefix5 = deepMerges.limit(5)
    val unrolled = Text.bpeTrain(spark, sf)
    assert(prefix5.exceptAll(unrolled).count() === 0)
    assert(unrolled.exceptAll(prefix5).count() === 0)
    // encode under the 5-merge prefix is row-identical to bpeApply —
    // the deep-encode form degrades exactly to the oracle-pinned path
    val ms5 = deepMerges.collect().take(5)
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val enc5 = Text.bpeEncodeWith(spark, docs, ms5)
    val ref = Text.bpeApply(spark, sf)
    assert(enc5.exceptAll(ref).count() === 0)
    assert(ref.exceptAll(enc5).count() === 0)
  }

  test("merge audit passes a legal table and RAISES on each violated invariant") {
    import spark.implicits._
    // legal: counts non-increasing, every multi-char side formed earlier
    val ok = Seq((1L, "a", "b", 9L), (2L, "ab", "c", 7L), (3L, "d", "abc", 7L))
      .toDF("round", "a", "b", "n")
    val row = Text.mergeAuditFrom(spark, ok).collect().head
    assert(row.getLong(0) === 3L) // n_merges
    assert(row.getLong(3) === 0L && row.getLong(4) === 0L)
    // count monotonicity violated (7 -> 8): the gate must go RED, not
    // hash-match a wrong artifact to green
    val mono = Seq((1L, "a", "b", 7L), (2L, "ab", "c", 8L))
      .toDF("round", "a", "b", "n")
    val e1 = intercept[Exception] {
      Text.mergeAuditFrom(spark, mono).collect()
    }
    assert(e1.getMessage.contains("monotonicity") ||
      Option(e1.getCause).exists(_.getMessage.contains("monotonicity")))
    // formability violated: "xy" was never produced by an earlier merge
    val voc = Seq((1L, "a", "b", 9L), (2L, "xy", "c", 7L))
      .toDF("round", "a", "b", "n")
    val e2 = intercept[Exception] {
      Text.mergeAuditFrom(spark, voc).collect()
    }
    assert(e2.getMessage.contains("formability") ||
      Option(e2.getCause).exists(_.getMessage.contains("formability")))
  }

  test("deep training run crosses the parquet seam with sane elections") {
    val docs = Tables.documents(spark, sf)
    // 64 rounds crosses the BpeSeamEvery = 32 seam: rounds are
    // consecutive from 1 and elected counts never increase (a merge
    // can only create pairs bounded by its own count)
    val deep = Text.bpeTrainLoop(spark, docs, 64).orderBy("round").collect()
    assert(deep.length > 5 && deep.length <= 64)
    assert(deep.map(_.getLong(0)).toSeq === (1L to deep.length.toLong))
    val ns = deep.map(_.getLong(3))
    assert(ns.zip(ns.tail).forall { case (x, y) => y <= x },
      s"elected pair counts must be non-increasing: ${ns.toSeq}")
  }
}
