package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

import graft.pipelines.PqIndex
import graft.streaming.IndexStreams

/** The incrementally-maintained PQ chain: frozen-codebook increment
  * exactness, replace semantics, drift routing, crash-replay, the
  * retention lifecycle, and the ADC serving read. */
class PqIndexSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf) // 500 rows

  test("increment under the frozen codebook is exact: codes equal a full re-encode") {
    val a = emb.where(col("vec_id") < 400)
    val b = emb.where(col("vec_id") >= 400)
    val chain = Files.createTempDirectory("graft_pqinc").toString
    PqIndex.buildState(spark, a, s"$chain/v0")
    PqIndex.incrementState(spark, b, s"$chain/v0", s"$chain/v1")
    assert(PqIndex.committedVersions(spark, chain) === Seq(0L, 1L))
    // reference: the whole union re-encoded against the SAME v0
    // codebook (encoding is a pure per-row function of it)
    val cb = PqIndex.codebook(spark, s"$chain/v0")
    val want = graft.ops.Similarity.pqEncodePacked(
        graft.ops.Similarity.pqExplodeOf(emb, PqIndex.SubDim), cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = PqIndex.codes(spark, s"$chain/v1")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got === want)
    // the codebook and drift baseline carried forward verbatim;
    // only n advanced
    val st0 = PqIndex.stats(spark, s"$chain/v0").collect()(0)
    val st1 = PqIndex.stats(spark, s"$chain/v1").collect()(0)
    assert(st0.getAs[Double]("base_err") === st1.getAs[Double]("base_err"))
    assert(st0.getAs[Long]("n") === 400L)
    assert(st1.getAs[Long]("n") === 500L)
    // id-disjoint delta landed by APPEND: the tip references the
    // prior version's buckets — not an anchor until compacted
    assert(!PqIndex.isAnchor(spark, s"$chain/v1"))
    val wantV = PqIndex.vecs(spark, s"$chain/v1").collect().toSet
    PqIndex.compactTip(spark, chain)
    assert(PqIndex.isAnchor(spark, s"$chain/v1"))
    spark.conf.set("graft.vacuum.orphanMinAgeMs", "0")
    try PqIndex.vacuum(spark, chain, 1)
    finally spark.conf.unset("graft.vacuum.orphanMinAgeMs")
    assert(PqIndex.committedVersions(spark, chain) === Seq(1L))
    assert(PqIndex.vecs(spark, s"$chain/v1").collect().toSet === wantV)
    assert(PqIndex.codes(spark, s"$chain/v1")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap === want)
  }

  test("a re-embedding delta REPLACES its ids (splice path, no stale duplicates)") {
    val chain = Files.createTempDirectory("graft_pqrepl").toString
    PqIndex.buildState(spark, emb, s"$chain/v0")
    // re-submit 50 known ids with genuinely different vectors
    val re = emb.where(col("vec_id") < 50)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(-x as float))").as("embedding"),
        col("label"))
    PqIndex.incrementState(spark, re, s"$chain/v0", s"$chain/v1")
    val v1 = PqIndex.vecs(spark, s"$chain/v1")
    assert(v1.count() === 500L)
    assert(v1.groupBy("vec_id").count().where(col("count") > 1).count() === 0L)
    // the replaced rows carry the NEW vectors (negated ⇒ first
    // element flips sign vs v0 wherever it was nonzero)
    val x0 = PqIndex.vecs(spark, s"$chain/v0").where(col("vec_id") < 50)
      .select(col("vec_id"), element_at(col("v"), 1).as("x")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val x1 = v1.where(col("vec_id") < 50)
      .select(col("vec_id"), element_at(col("v"), 1).as("x")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(x0.forall { case (id, x) => x1(id) === -x })
    // codes re-encoded for exactly those rows, against the frozen book
    val cb = PqIndex.codebook(spark, s"$chain/v0")
    val want = graft.ops.Similarity.pqEncodePacked(
        graft.ops.Similarity.pqExplodeOf(
          re.select(col("vec_id"), col("embedding")), PqIndex.SubDim), cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = PqIndex.codes(spark, s"$chain/v1").where(col("vec_id") < 50)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got === want)
    assert(PqIndex.stats(spark, s"$chain/v1").collect()(0).getAs[Long]("n") === 500L)
  }

  test("maintainer routes by recon-error drift and no-ops on replay") {
    val chain = Files.createTempDirectory("graft_pqroute").toString
    val b0 = emb.where(col("vec_id") < 300)
    assert(IndexStreams.maintainBatch(PqIndex, spark, b0, chain, 0L) === "build")
    // in-distribution delta: well under the 1.5× baseline → increment
    val b1 = emb.where(col("vec_id") >= 300 && col("vec_id") < 400)
    assert(IndexStreams.maintainBatch(PqIndex, spark, b1, chain, 1L) === "increment")
    // distribution shift (vectors scaled ×10): recon error explodes
    // past the frozen centroids → rebuild, landing an anchor and a
    // fresh baseline
    val b2 = emb.where(col("vec_id") >= 400)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(10 * x as float))").as("embedding"),
        col("label"))
    assert(IndexStreams.maintainBatch(PqIndex, spark, b2, chain, 2L) === "rebuild(err)")
    assert(PqIndex.isAnchor(spark, s"$chain/v2"))
    val base1 = PqIndex.stats(spark, s"$chain/v1").collect()(0).getAs[Double]("base_err")
    val base2 = PqIndex.stats(spark, s"$chain/v2").collect()(0).getAs[Double]("base_err")
    assert(base2 !== base1) // retrained baseline, not carried
    // replay of a landed batch is a no-op — the version is
    // authoritative even though v1's prior could have been vacuumed
    val want = PqIndex.codes(spark, s"$chain/v2").count()
    assert(IndexStreams.maintainBatch(PqIndex, spark, b1, chain, 1L) === "replay(noop)")
    assert(PqIndex.codes(spark, s"$chain/v2").count() === want)
  }

  test("PQ maintenance gate: stream lands one version per batch, replays idempotently") {
    val d = Files.createTempDirectory("graft_pqm_drops").toString
    emb.where(col("vec_id") < 400).coalesce(1).write.parquet(s"$d/h1")
    emb.where(col("vec_id") >= 400 && col("vec_id") < 450).coalesce(1).write.parquet(s"$d/h2")
    emb.where(col("vec_id") >= 450).coalesce(1).write.parquet(s"$d/h3")
    val root = Files.createTempDirectory("graft_pqm_root").toString
    val ckpt = Files.createTempDirectory("graft_pqm_ck").toString
    def run(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$sf/embeddings.parquet").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$d/*")
      val q = IndexStreams.maintainGate(PqIndex, spark, stream, root, ckpt)
      try q.processAllAvailable()
      finally {
        q.stop(); q.awaitTermination()
        while (spark.streams.active.exists(_.id == q.id)) Thread.sleep(50)
      }
    }
    run()
    assert(PqIndex.committedVersions(spark, root).size === 3)
    // parity: the maintained tip's codes ARE the whole corpus encoded
    // under the chain's own v0 codebook (increments froze it)
    val cb0 = PqIndex.codebook(spark, s"$root/v0")
    val want = graft.ops.Similarity.pqEncodePacked(
        graft.ops.Similarity.pqExplodeOf(emb, PqIndex.SubDim), cb0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def tipCodes() = PqIndex.codes(spark, PqIndex.tip(spark, root))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(tipCodes() === want)
    // crash-replay: lose the last batch's checkpoint commit; the
    // replayed batch must re-land ITS OWN version from the same prior
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(last.delete())
    new java.io.File(commits, s".${last.getName}.crc").delete()
    run()
    assert(PqIndex.committedVersions(spark, root).size === 3)
    assert(tipCodes() === want)
  }

  test("ADC serving read: recall floor vs exact, invariant under compaction") {
    val chain = Files.createTempDirectory("graft_pqserve").toString
    PqIndex.buildState(spark, emb.where(col("vec_id") < 400), s"$chain/v0")
    PqIndex.incrementState(spark, emb.where(col("vec_id") >= 400),
      s"$chain/v0", s"$chain/v1")
    val q = emb.where(col("vec_id") < 10)
    val got = PqIndex.adcSearch(spark, s"$chain/v1", q)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === 30)
    // exact top-3 over the same corpus — the rerank tier must put the
    // overfetched beam right for most queries
    val exact = graft.ops.Similarity.bruteForceTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"adc rerank recall $recall below 0.8")
    // compaction is pure I/O: answers bit-identical after it
    PqIndex.compactTip(spark, chain)
    val got2 = PqIndex.adcSearch(spark, s"$chain/v1", q)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 === got)
    spark.catalog.clearCache()
  }
}
