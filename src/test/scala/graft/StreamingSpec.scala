package graft

import org.apache.spark.sql.functions._

/** The index chains' streaming maintenance (`streaming.IndexStreams`):
  * the maintenance gate over a landing directory, its replay guard,
  * and the chains' compaction and vacuum, each checked against the
  * one-shot build. */
class StreamingSpec extends SparkSpec {

  test("streaming index maintenance equals the one-shot build and replays idempotently") {
    import graft.streaming.IndexStreams
    import graft.pipelines.NavIndex
    val emb = Tables.embeddings(spark, sf)
    val d = java.nio.file.Files.createTempDirectory("graft_idxm_drops").toString
    emb.where(col("vec_id") % 3 === 0).coalesce(1).write.parquet(s"$d/h1")
    emb.where(col("vec_id") % 3 === 1).coalesce(1).write.parquet(s"$d/h2")
    emb.where(col("vec_id") % 3 === 2).coalesce(1).write.parquet(s"$d/h3")
    val root = java.nio.file.Files.createTempDirectory("graft_idxm_root").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_idxm_ck").toString
    def run(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$sf/embeddings.parquet").schema)
        .option("maxFilesPerTrigger", 1) // one drop per micro-batch
        .parquet(s"$d/*")
      val q = IndexStreams.maintainGate(NavIndex, spark, stream, root, ckpt)
      try q.processAllAvailable()
      finally {
        q.stop(); q.awaitTermination()
        while (spark.streams.active.exists(_.id == q.id)) Thread.sleep(50)
      }
    }
    run()
    // three drops -> three committed versions (full build + 2 deltas)
    assert(NavIndex.committedVersions(spark, root).size === 3)
    // batch parity: the maintained graph IS the one-shot build's graph
    val fullRoot = java.nio.file.Files.createTempDirectory("graft_idxm_full").toString
    NavIndex.buildState(spark, emb, fullRoot)
    val full = NavIndex.graph(spark, fullRoot)
    val cur = NavIndex.graph(spark, NavIndex.tip(spark, root))
    assert(cur.count() === full.count())
    assert(cur.exceptAll(full).count() === 0)
    assert(full.exceptAll(cur).count() === 0)
    // crash-replay: lose the last batch's commit; the replayed batch
    // must rebuild ITS OWN version from the same prior (never from a
    // pointer it already advanced) and leave the graph unchanged
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(last.delete())
    new java.io.File(commits, s".${last.getName}.crc").delete()
    run()
    assert(NavIndex.committedVersions(spark, root).size === 3)
    val cur2 = NavIndex.graph(spark, NavIndex.tip(spark, root))
    assert(cur2.exceptAll(full).count() === 0)
    assert(full.exceptAll(cur2).count() === 0)
  }

  test("maintenance gate routes deltas by estimated frontier fraction") {
    import graft.streaming.IndexStreams
    import graft.pipelines.NavIndex
    import spark.implicits._
    // two sign-separable regions (band signatures are pure sign
    // patterns, so A and B never share a seed bucket): A is a small
    // content domain, B the bulk corpus
    def vecA(id: Long) = Array.tabulate(64)(i => 1.0 + 0.001 * ((id * 7 + i) % 5))
    def vecB(id: Long) = Array.tabulate(64)(i =>
      if (i % 2 == 0) 1.0 + 0.001 * ((id * 11 + i) % 5) else -1.0 - 0.001 * ((id * 3 + i) % 5))
    val base = ((0L until 30L).map(i => (i, vecA(i), 1L)) ++
      (100L until 280L).map(i => (i, vecB(i), 2L)))
      .toDF("vec_id", "embedding", "label")
    val root = java.nio.file.Files.createTempDirectory("graft_route_idx").toString
    assert(IndexStreams.maintainBatch(NavIndex, spark, base, root, 0L) === "build")
    // LOCALIZED delta — only region A's buckets touched, estimated
    // frontier (30+10)/220 ≈ 0.18, well under the 0.5 threshold
    val local = (30L until 40L).map(i => (i, vecA(i), 1L))
      .toDF("vec_id", "embedding", "label")
    assert(IndexStreams.maintainBatch(NavIndex, spark, local, root, 1L) === "increment")
    // UNIFORM delta — both regions touched, estimated frontier ≈ 1.0:
    // its true frontier is the corpus, so the gate takes the rebuild
    val uniform = ((40L until 45L).map(i => (i, vecA(i), 1L)) ++
      (280L until 285L).map(i => (i, vecB(i), 2L)))
      .toDF("vec_id", "embedding", "label")
    assert(IndexStreams.maintainBatch(NavIndex, spark, uniform, root, 2L) === "rebuild(frontier)")
    // routing is a cost decision, never a content one: the sequence
    // lands on the one-shot build's graph bit-for-bit
    val ref = java.nio.file.Files.createTempDirectory("graft_route_ref").toString
    NavIndex.buildState(spark,
      base.unionByName(local).unionByName(uniform), ref)
    val got = NavIndex.graph(spark, NavIndex.tip(spark, root))
    val want = NavIndex.graph(spark, ref)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("streaming ANN maintenance equals the one-shot build and replays idempotently") {
    import graft.streaming.IndexStreams
    import graft.pipelines.AnnIndex
    // LABEL-grain drops (the ann chain's touch grain): bulk corpus,
    // then two single-label domain arrivals
    val emb = Tables.embeddings(spark, sf)
    val d = java.nio.file.Files.createTempDirectory("graft_annm_drops").toString
    emb.where(col("label") < 8).coalesce(1).write.parquet(s"$d/h1")
    emb.where(col("label") === 8).coalesce(1).write.parquet(s"$d/h2")
    emb.where(col("label") === 9).coalesce(1).write.parquet(s"$d/h3")
    val root = java.nio.file.Files.createTempDirectory("graft_annm_root").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_annm_ck").toString
    def run(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$sf/embeddings.parquet").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$d/*")
      val q = IndexStreams.maintainGate(AnnIndex, spark, stream, root, ckpt)
      try q.processAllAvailable()
      finally {
        q.stop(); q.awaitTermination()
        while (spark.streams.active.exists(_.id == q.id)) Thread.sleep(50)
      }
    }
    run()
    assert(AnnIndex.committedVersions(spark, root).size === 3)
    // batch parity: the maintained graph IS the one-shot build's
    val fullRoot = java.nio.file.Files.createTempDirectory("graft_annm_full").toString
    AnnIndex.buildState(spark, emb, fullRoot)
    val full = AnnIndex.graph(spark, fullRoot)
    val cur = AnnIndex.graph(spark, AnnIndex.tip(spark, root))
    assert(cur.count() === full.count())
    assert(cur.exceptAll(full).count() === 0)
    assert(full.exceptAll(cur).count() === 0)
    // crash-replay: lose the last batch's commit; the replayed batch
    // must re-land ITS OWN version from the same prior
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(last.delete())
    new java.io.File(commits, s".${last.getName}.crc").delete()
    run()
    assert(AnnIndex.committedVersions(spark, root).size === 3)
    val cur2 = AnnIndex.graph(spark, AnnIndex.tip(spark, root))
    assert(cur2.exceptAll(full).count() === 0)
    assert(full.exceptAll(cur2).count() === 0)
  }

  test("ANN maintenance gate routes label-uniform deltas to the warm rebuild") {
    import graft.streaming.IndexStreams
    import graft.pipelines.AnnIndex
    import spark.implicits._
    def vec(id: Long) = Array.tabulate(64)(i => 0.1 + 0.001 * ((id * 7 + i) % 5))
    def df(rows: Seq[(Long, Long)]) = rows.map { case (id, lab) => (id, vec(id), lab) }
      .toDF("vec_id", "embedding", "label")
    val base = df((0L until 60L).map(i => (i, 1L + i % 2))) // labels 1, 2
    val root = java.nio.file.Files.createTempDirectory("graft_annroute").toString
    assert(IndexStreams.maintainBatch(AnnIndex, spark, base, root, 0L) === "build")
    // one NEW label = 1/2 of the prior label count — at, not over,
    // the 0.5 threshold: increments (the localized domain arrival)
    val local = df((100L until 110L).map(i => (i, 3L)))
    assert(IndexStreams.maintainBatch(AnnIndex, spark, local, root, 1L) === "increment")
    // a delta touching every prior label (3/3 > 0.5) routes to the
    // warm rebuild — its touched set IS the corpus
    val uniform = df(Seq((200L, 1L), (201L, 2L), (202L, 3L)))
    assert(IndexStreams.maintainBatch(AnnIndex, spark, uniform, root, 2L) === "rebuild(labels)")
    // routing is a cost decision, never a content one
    val ref = java.nio.file.Files.createTempDirectory("graft_annroute_ref").toString
    AnnIndex.buildState(spark,
      base.unionByName(local).unionByName(uniform), ref)
    val got = AnnIndex.graph(spark, AnnIndex.tip(spark, root))
    val want = AnnIndex.graph(spark, ref)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // the rebuild landed an ANCHOR: vacuum can retire everything below
    AnnIndex.vacuum(spark, root, 1)
    assert(AnnIndex.committedVersions(spark, root) === Seq(2L))
    val after = AnnIndex.graph(spark, AnnIndex.tip(spark, root))
    assert(after.exceptAll(want).count() === 0)
  }

  test("replayed batch after vacuum treats its landed version as authoritative") {
    // the round-16 ADVICE medium: vacuum(keepLast=1) can run between a
    // batch landing v<N> and its checkpoint commit becoming durable;
    // the replayed batch then finds NO version below N, and the old
    // None branch full-built v<N> from the delta alone — the prior
    // corpus silently vanished from the index. The guard: a batch
    // whose own version is committed no-ops.
    import graft.streaming.IndexStreams
    import graft.pipelines.AnnIndex
    import spark.implicits._
    def dfL(ids: Range, lab: Long => Long) = ids
      .map(i => (i.toLong, Array.tabulate(64)(j => 0.1 + 0.001 * ((i * 7 + j) % 5)),
        lab(i.toLong)))
      .toDF("vec_id", "embedding", "label")
    val root = java.nio.file.Files.createTempDirectory("graft_replayvac").toString
    // 3 prior labels so the 1-label delta stays under the ann chain's
    // 0.5 rebuild-routing fraction, and a SIGN-SEPARATED delta region
    // so the nav chain's frontier estimate stays under its 0.5 too
    // (this test is about replay, not routing)
    val b0 = dfL(0 until 50, i => 1L + i % 3)
    val b1 = (100 until 120).map(i => (i.toLong,
        Array.tabulate(64)(j => if (j % 2 == 0) 1.0 + 0.001 * ((i * 11 + j) % 5)
          else -1.0 - 0.001 * ((i * 3 + j) % 5)), 4L))
      .toDF("vec_id", "embedding", "label")
    assert(IndexStreams.maintainBatch(AnnIndex, spark, b0, root, 0L) === "build")
    assert(IndexStreams.maintainBatch(AnnIndex, spark, b1, root, 1L) === "increment")
    val want = AnnIndex.graph(spark, AnnIndex.tip(spark, root)).collect().toSeq
    // scheduled maintenance fires before batch 1's commit is durable
    AnnIndex.compactTip(spark, root)
    spark.conf.set("graft.vacuum.orphanMinAgeMs", "0")
    try AnnIndex.vacuum(spark, root, 1)
    finally spark.conf.unset("graft.vacuum.orphanMinAgeMs")
    assert(AnnIndex.committedVersions(spark, root) === Seq(1L))
    // the checkpoint replays batch 1: its version is committed → no-op,
    // and the whole corpus (b0 ∪ b1) stays in the index
    assert(IndexStreams.maintainBatch(AnnIndex, spark, b1, root, 1L) === "replay(noop)")
    assert(AnnIndex.graph(spark, AnnIndex.tip(spark, root)).collect().toSeq === want)
    // the nav chain shares the guard
    import graft.pipelines.NavIndex
    val nroot = java.nio.file.Files.createTempDirectory("graft_replayvac_nav").toString
    assert(IndexStreams.maintainBatch(NavIndex, spark, b0, nroot, 0L) === "build")
    assert(IndexStreams.maintainBatch(NavIndex, spark, b1, nroot, 1L) === "increment")
    val wantNav = NavIndex.graph(spark, NavIndex.tip(spark, nroot)).collect().toSeq
    NavIndex.compactTip(spark, nroot)
    spark.conf.set("graft.vacuum.orphanMinAgeMs", "0")
    try NavIndex.vacuum(spark, nroot, 1)
    finally spark.conf.unset("graft.vacuum.orphanMinAgeMs")
    assert(IndexStreams.maintainBatch(NavIndex, spark, b1, nroot, 1L) === "replay(noop)")
    assert(NavIndex.graph(spark, NavIndex.tip(spark, nroot)).collect().toSeq === wantNav)
  }

  test("index vacuum reclaims only below the newest retained chain anchor") {
    import graft.streaming.IndexStreams
    import graft.pipelines.NavIndex
    import spark.implicits._
    def vecA(id: Long) = Array.tabulate(64)(i => 1.0 + 0.001 * ((id * 7 + i) % 5))
    def vecB(id: Long) = Array.tabulate(64)(i =>
      if (i % 2 == 0) 1.0 + 0.001 * ((id * 11 + i) % 5) else -1.0 - 0.001 * ((id * 3 + i) % 5))
    def dfA(lo: Long, hi: Long) = (lo until hi).map(i => (i, vecA(i), 1L))
      .toDF("vec_id", "embedding", "label")
    val base = ((0L until 30L).map(i => (i, vecA(i), 1L)) ++
      (100L until 280L).map(i => (i, vecB(i), 2L)))
      .toDF("vec_id", "embedding", "label")
    val uniform = ((40L until 45L).map(i => (i, vecA(i), 1L)) ++
      (280L until 285L).map(i => (i, vecB(i), 2L)))
      .toDF("vec_id", "embedding", "label")
    val root = java.nio.file.Files.createTempDirectory("graft_vac_idx").toString
    assert(IndexStreams.maintainBatch(NavIndex, spark, base, root, 0L) === "build")            // anchor
    assert(IndexStreams.maintainBatch(NavIndex, spark, dfA(30, 40), root, 1L) === "increment") // refs v0
    assert(IndexStreams.maintainBatch(NavIndex, spark, uniform, root, 2L) === "rebuild(frontier)") // anchor
    assert(IndexStreams.maintainBatch(NavIndex, spark, dfA(45, 55), root, 3L) === "increment") // refs v2
    // keep 2 -> oldest kept v2 is an anchor -> v0, v1 reclaim
    NavIndex.vacuum(spark, root, 2)
    assert(NavIndex.committedVersions(spark, root) === Seq(2L, 3L))
    // the kept increment still resolves after the reclaim, and its
    // graph equals a one-shot build over everything it absorbed
    val ref = java.nio.file.Files.createTempDirectory("graft_vac_ref").toString
    NavIndex.buildState(spark,
      base.unionByName(dfA(30, 40)).unionByName(uniform).unionByName(dfA(45, 55)), ref)
    val got = NavIndex.graph(spark, NavIndex.tip(spark, root))
    val want = NavIndex.graph(spark, ref)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // grow the chain with increments only; a kept window of increments
    // must NOT reclaim the anchor they resolve through (safety wins)
    assert(IndexStreams.maintainBatch(NavIndex, spark, dfA(55, 65), root, 4L) === "increment")
    assert(IndexStreams.maintainBatch(NavIndex, spark, dfA(65, 75), root, 5L) === "increment")
    NavIndex.vacuum(spark, root, 2)
    assert(NavIndex.committedVersions(spark, root) === Seq(2L, 3L, 4L, 5L))
    assert(NavIndex.graph(spark, NavIndex.tip(spark, root)).count() > 0)
    // a version missing a state table (pre-band-state layout, torn
    // landing) is NOT-an-anchor, never an error: vacuum scans every
    // retained version through isAnchor, and an upgraded chain must
    // refuse toward the next rebuild instead of crashing the scan
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/v2/nav_bstats/_parts"), false)
    assert(!NavIndex.isAnchor(spark, s"$root/v2"))
    NavIndex.vacuum(spark, root, 2) // must not throw; v3 is no anchor either
    assert(NavIndex.committedVersions(spark, root) === Seq(2L, 3L, 4L, 5L))
  }

  test("tip compaction anchorifies an increment-only chain and re-opens vacuum") {
    import graft.streaming.IndexStreams
    import graft.pipelines.NavIndex
    import spark.implicits._
    def vecA(id: Long) = Array.tabulate(64)(i => 1.0 + 0.001 * ((id * 7 + i) % 5))
    def vecB(id: Long) = Array.tabulate(64)(i =>
      if (i % 2 == 0) 1.0 + 0.001 * ((id * 11 + i) % 5) else -1.0 - 0.001 * ((id * 3 + i) % 5))
    def dfA(lo: Long, hi: Long) = (lo until hi).map(i => (i, vecA(i), 1L))
      .toDF("vec_id", "embedding", "label")
    val base = ((0L until 30L).map(i => (i, vecA(i), 1L)) ++
      (100L until 280L).map(i => (i, vecB(i), 2L)))
      .toDF("vec_id", "embedding", "label")
    val root = java.nio.file.Files.createTempDirectory("graft_compact_idx").toString
    // a purely-localized stream: every batch takes the increment path,
    // so the chain never lands an anchor on its own and the vector
    // table's hot buckets accumulate one appended directory per batch
    assert(IndexStreams.maintainBatch(NavIndex, spark, base, root, 0L) === "build")
    assert(IndexStreams.maintainBatch(NavIndex, spark, dfA(30, 40), root, 1L) === "increment")
    assert(IndexStreams.maintainBatch(NavIndex, spark, dfA(40, 50), root, 2L) === "increment")
    assert(IndexStreams.maintainBatch(NavIndex, spark, dfA(50, 60), root, 3L) === "increment")
    val tip = s"$root/v3"
    assert(!NavIndex.isAnchor(spark, tip))
    assert(NavIndex.maxDirsPerBucket(spark, tip) > 1)
    // increments only -> no anchor in the kept window -> vacuum
    // refuses (safety over reclamation), the round-13 contract
    NavIndex.vacuum(spark, root, 1)
    assert(NavIndex.committedVersions(spark, root) === Seq(0L, 1L, 2L, 3L))
    // compaction is pure I/O: self-contained tip, ~1 dir/bucket,
    // graph row-identical to the one-shot build over all absorbed
    NavIndex.compactTip(spark, root)
    assert(NavIndex.isAnchor(spark, tip))
    assert(NavIndex.maxDirsPerBucket(spark, tip) === 1)
    val ref = java.nio.file.Files.createTempDirectory("graft_compact_ref").toString
    NavIndex.buildState(spark, base.unionByName(dfA(30, 60)), ref)
    val want = NavIndex.graph(spark, ref)
    val got = NavIndex.graph(spark, NavIndex.tip(spark, root))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // the compacted tip is an anchor, so the SAME vacuum now reclaims
    // the whole pre-compact chain, and the tip still resolves
    NavIndex.vacuum(spark, root, 1)
    assert(NavIndex.committedVersions(spark, root) === Seq(3L))
    val got2 = NavIndex.graph(spark, NavIndex.tip(spark, root))
    assert(got2.exceptAll(want).count() === 0)
    assert(want.exceptAll(got2).count() === 0)
    // routed form: past the dir-count threshold maintainBatch compacts
    // the version it just landed, which anchors it immediately
    spark.conf.set("graft.chain.compactMaxDirs", "1")
    try {
      assert(IndexStreams.maintainBatch(NavIndex, spark, dfA(60, 70), root, 4L) === "increment+compact")
      assert(NavIndex.isAnchor(spark, s"$root/v4"))
      assert(NavIndex.maxDirsPerBucket(spark, s"$root/v4") === 1)
      val ref2 = java.nio.file.Files.createTempDirectory("graft_compact_ref2").toString
      NavIndex.buildState(spark, base.unionByName(dfA(30, 70)), ref2)
      val want2 = NavIndex.graph(spark, ref2)
      val got3 = NavIndex.graph(spark, NavIndex.tip(spark, root))
      assert(got3.exceptAll(want2).count() === 0)
      assert(want2.exceptAll(got3).count() === 0)
    } finally spark.conf.unset("graft.chain.compactMaxDirs")
  }

  test("vacuum sweeps crashed-compact orphans inside retained versions") {
    import graft.streaming.IndexStreams
    import graft.pipelines.NavIndex
    import spark.implicits._
    def vecA(id: Long) = Array.tabulate(64)(i => 1.0 + 0.001 * ((id * 7 + i) % 5))
    def vecB(id: Long) = Array.tabulate(64)(i =>
      if (i % 2 == 0) 1.0 + 0.001 * ((id * 11 + i) % 5) else -1.0 - 0.001 * ((id * 3 + i) % 5))
    def dfA(lo: Long, hi: Long) = (lo until hi).map(i => (i, vecA(i), 1L))
      .toDF("vec_id", "embedding", "label")
    val base = ((0L until 30L).map(i => (i, vecA(i), 1L)) ++
      (100L until 280L).map(i => (i, vecB(i), 2L)))
      .toDF("vec_id", "embedding", "label")
    val root = java.nio.file.Files.createTempDirectory("graft_sweep_idx").toString
    assert(IndexStreams.maintainBatch(NavIndex, spark, base, root, 0L) === "build")
    assert(IndexStreams.maintainBatch(NavIndex, spark, dfA(30, 40), root, 1L) === "increment")
    val tipVecs = NavIndex.vecsPath(s"$root/v1")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkOrphan(dir: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(dir)
      fs.mkdirs(p)
      val out = fs.create(new org.apache.hadoop.fs.Path(p, "part-00000.parquet"), true)
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      p
    }
    // crash-simulated partial compact: a full generation dir no
    // manifest references, plus a stale local bucket a crashed
    // foreign splice attempt left outside the expected set
    val orphanGen = mkOrphan(s"$tipVecs/cdata1/pb=0")
    mkOrphan(s"$tipVecs/cdata1/pb=1")
    // a stale LOCAL bucket must go into a pb slot the manifest does
    // not reference (writing into a live dir would corrupt the table,
    // which is not the crash mode the expected-set filter leaves)
    val usedLocal = graft.io.BucketedTable.referencedDirs(spark, tipVecs)
      .filter(_.contains("/data/pb=")).map(_.split("/data/pb=").last.toInt)
    val freePb = (0 until 64).find(k => !usedLocal.contains(k)).get
    val orphanStale = mkOrphan(s"$tipVecs/data/pb=$freePb")
    assert(!graft.io.BucketedTable.referencedDirs(spark, tipVecs)
      .exists(_.endsWith("/cdata1/pb=0")))
    val before = NavIndex.readVecs(spark, s"$root/v1").collect().toSet
    val liveDirs = (0L to 1L).flatMap(b =>
      NavIndex.referencedDirs(spark, s"$root/v$b")).toSet
    // under the DEFAULT horizon the freshly-written dirs look like a
    // concurrent maintainer's in-flight write — the fence must keep
    // the sweep's hands off them
    NavIndex.vacuum(spark, root, 2)
    assert(fs.exists(orphanGen) && fs.exists(orphanStale),
      "young orphans must survive the default concurrent-maintenance horizon")
    // the sweep's concurrent-maintenance fence skips young orphans;
    // this single-writer test just created them, so drop the horizon
    spark.conf.set("graft.vacuum.orphanMinAgeMs", "0")
    try NavIndex.vacuum(spark, root, 2)
    finally spark.conf.unset("graft.vacuum.orphanMinAgeMs")
    // both retained versions survive; orphans are gone, the emptied
    // cdata1 generation slot is freed whole
    assert(NavIndex.committedVersions(spark, root) === Seq(0L, 1L))
    assert(!fs.exists(orphanGen))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tipVecs/cdata1")))
    assert(!fs.exists(orphanStale))
    // every referenced directory is untouched and reads are identical
    liveDirs.foreach(d => assert(fs.exists(new org.apache.hadoop.fs.Path(d))))
    assert(NavIndex.readVecs(spark, s"$root/v1").collect().toSet === before)
    // a later real compact reuses the swept cdata1 slot and anchors
    NavIndex.compactTip(spark, root)
    assert(NavIndex.isAnchor(spark, s"$root/v1"))
    assert(NavIndex.readVecs(spark, s"$root/v1").collect().toSet === before)
  }
}
