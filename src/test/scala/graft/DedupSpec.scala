package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops._

/** Pins the two least-exercised dedup mechanisms: the MaxBucket
  * bucket-width cap (sf0.01 never constructs a bucket wide enough for
  * it to fire) and cluster formation (iterative min-label propagation
  * with pointer jumping — an off-by-one here silently merges or
  * splits clusters). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Pin the DISTRIBUTED loop tier: small edge lists otherwise take
    * the driver union-find tier (`graft.cluster.collectEdgesMax`),
    * and the loop's storage/convergence seams must stay tested. -1
    * (not 0) so the empty-pairs edge also routes to the loop. */
  private def forceLoopTier[A](body: => A): A = {
    spark.conf.set("graft.cluster.collectEdgesMax", "-1")
    try body finally spark.conf.unset("graft.cluster.collectEdgesMax")
  }

  /** Independent (doc_id, b, key) band derivation with NO aggregation:
    * the min-hash minimums run inside array HOFs over each doc's
    * shingle array — same distinct 12-char shingles, same two salted
    * digests, same four 8-hex windows, same band-pair md5 keys as
    * `sigsFrom`+`bandsOf`, but no `groupBy(doc_id)` signature
    * aggregate, so it shares no code path with the batch chain. */
  private def mapSideBands(docs: DataFrame): DataFrame = {
    def mh(j: Int): Column =
      array_min(transform(col(s"d${j / 4}"),
        dg => conv(dg.substr(lit((j % 4) * 8 + 1), lit(8)), 16, 10).cast("long")))
    val bandKeys = array((0 until 4).map(b =>
      md5(concat(mh(2 * b).cast("string"), lit("_"), mh(2 * b + 1).cast("string")))): _*)
    docs
      .where(length(col("text")) >= 12) // same short-doc guard as shingleTable
      .select(col("doc_id"),
        expr("array_distinct(transform(sequence(1, length(text) - 11), i -> substring(text, i, 12)))")
          .as("shs"))
      .select(col("doc_id"),
        transform(col("shs"), s => md5(concat(lit("0|"), s))).as("d0"),
        transform(col("shs"), s => md5(concat(lit("1|"), s))).as("d1"))
      .select(col("doc_id"), posexplode(bandKeys).as(Seq("b", "key")))
  }

  test("map-side band derivation matches the batch signature chain") {
    // on a corpus where the bucket cap never fires (sf0.001) the batch
    // capped-band artifact IS the full band table, so the batch chain
    // and the per-row derivation above must agree row-for-row
    val mapSide = mapSideBands(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")))
    val batch = Dedup.cappedBandArtifact(spark, sf)
    assert(mapSide.count() > 0)
    assert(mapSide.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(mapSide).count() === 0)
  }

  test("bucket-width cap keeps the lowest MaxBucket doc_ids per bucket") {
    val cap = Dedup.MaxBucket
    // one viral bucket of cap+6 docs, one small independent bucket
    val bands = ((1 to cap + 6).map(id => (id.toLong, 0, "viral")) ++
      Seq(100L, 101L, 102L).map(id => (id, 1, "small")))
      .toDF("doc_id", "b", "key")
    val pairs = Dedup.pairsFromBands(bands).collect()
    val viral = pairs.filter(_.getLong(0) < 100L)
    val small = pairs.filter(_.getLong(0) >= 100L)
    // the viral bucket contributes exactly C(cap, 2) pairs over the
    // LOWEST cap ids; docs beyond the cap appear in no pair
    assert(viral.length === cap * (cap - 1) / 2)
    assert(viral.flatMap(r => Seq(r.getLong(0), r.getLong(1))).max === cap.toLong)
    // the small bucket is untouched
    assert(small.length === 3)
  }

  test("a doc cut from one bucket stays a candidate through its other bands") {
    val cap = Dedup.MaxBucket
    // doc 999 is beyond the cap in the viral band-0 bucket but shares a
    // band-1 bucket with doc 1 — the cap trades recall per-bucket, not
    // per-doc, so the (1, 999) pair must survive
    val bands = ((1 to cap).map(id => (id.toLong, 0, "viral")) :+ (999L, 0, "viral") :+
      (1L, 1, "other") :+ (999L, 1, "other"))
      .toDF("doc_id", "b", "key")
    val pairs = Dedup.pairsFromBands(bands)
    assert(pairs.where(col("doc_a") === 1L && col("doc_b") === 999L).count() === 1)
  }

  test("clusters: transitive chain A~B, B~C collapses to one cluster, keeper = min id") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.clustersFromPairs(pairs).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(out.forall(_.getLong(1) === 1L))
    assert(out.map(r => r.getLong(0) -> r.getBoolean(2)).toMap ===
      Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("clusters: deep chain converges within the round cap (pointer jumping)") {
    // a path graph of 201 nodes: pure neighbor-min propagation needs
    // ~200 rounds — far over the 40-round cap — so this passing at all
    // proves the label(label(v)) pointer-jump term is doing its
    // O(log diameter) work
    val n = 200
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    val out = forceLoopTier(Dedup.clustersFromPairs(pairs))
    assert(out.count() === (n + 1).toLong)
    assert(out.where(col("cluster_id") =!= 0L).count() === 0)
    assert(out.where(col("keep")).count() === 1L)
  }

  test("clusters: independent components keep independent labels") {
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L), (31L, 30L)).toDF("doc_a", "doc_b")
    val out = Dedup.clustersFromPairs(pairs).collect()
    val byDoc = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc === Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
    // every cluster_id IS the min doc_id of its members
    assert(out.filter(r => r.getBoolean(2)).map(_.getLong(0)).sorted.toSeq === Seq(10L, 20L, 30L))
  }

  test("clusters: empty pair list yields empty output") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clustersFromPairs(pairs).count() === 0L)
  }

  test("clusters: equivalent to union-find on random graphs (property)") {
    // the distributed loop vs a driver-side union-find reference on
    // seeded random edge lists — sparse chains, dense blobs, and
    // multi-component mixes all land in the generator's range
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n <- Gen.choose(2, 60)           // node universe
      m <- Gen.choose(1, 90)           // edge count
      // b = (a + d) mod n with d >= 1 guarantees a != b without a
      // filter (filtered generators can abort the whole sample)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        d <- Gen.choose(1L, n.toLong - 1)
      } yield (a, (a + d) % n))
    } yield edges
    val cases = (1 to 5).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))
    assert(cases.size === 5, "generator must produce every case")
    for (edges <- cases) {
      // reference: path-compressed union-find, min root per component
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.foreach { case (a, b) => union(a, b) }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      // BOTH tiers must agree with the reference: the default path
      // (driver union-find at these sizes) and the distributed loop
      val gotCollect = Dedup.clustersFromPairs(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotCollect === expected, s"collect tier mismatch on ${edges.size}-edge graph")
      val gotLoop = forceLoopTier(Dedup.clustersFromPairs(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(gotLoop === expected, s"loop tier mismatch on ${edges.size}-edge graph")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("clusters: iteration state goes through the configured graft.cluster.iterDir") {
    // the cluster-deployability seam: a real cluster points this conf
    // at shared storage; the loop must write every round there and
    // nowhere else (a driver-local temp default cannot work multi-node)
    val root = java.nio.file.Files.createTempDirectory("graft_iterdir_test").toString
    spark.conf.set("graft.cluster.iterDir", root)
    try forceLoopTier {
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
      val out = Dedup.clustersFromPairs(pairs)
      assert(out.count() === 5L)
      // the returned DataFrame is backed by parquet under the
      // configured root: the run dir exists and holds the final round
      val runDirs = new java.io.File(root).listFiles()
      assert(runDirs != null && runDirs.exists(_.getName.startsWith("run_")),
        s"no run_* dir under configured iterDir $root")
      val rounds = runDirs.filter(_.getName.startsWith("run_"))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      assert(rounds.exists(_.getName.startsWith("labels_")),
        s"no labels_* round dir under configured iterDir $root")
      // and the result still reads correctly from it
      assert(out.where(col("cluster_id") === 1L).count() === 3L)
    } finally spark.conf.unset("graft.cluster.iterDir")
  }

  test("clustersReleasable: release() reclaims the run dir immediately") {
    // the long-lived-session seam: a caller that lands the output
    // elsewhere (Curation.buildClusters via truncateLoad) must be able
    // to reclaim iteration storage NOW, not at JVM exit
    val root = java.nio.file.Files.createTempDirectory("graft_release_test").toString
    spark.conf.set("graft.cluster.iterDir", root)
    try forceLoopTier {
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
      val (out, handle) = Dedup.clustersFromPairsReleasable(pairs)
      assert(out.count() === 3L) // fully consume before releasing
      def runDirs = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty).count(_.getName.startsWith("run_"))
      assert(runDirs === 1, "run dir must exist while the result is live")
      handle.release()
      assert(runDirs === 0, "release() must delete the run dir immediately")
    } finally spark.conf.unset("graft.cluster.iterDir")
  }

  test("clusters: checkpoint dir is used when no iterDir conf is set") {
    val cp = java.nio.file.Files.createTempDirectory("graft_cp_test").toString
    spark.sparkContext.setCheckpointDir(cp)
    try forceLoopTier {
      assert(Dedup.clustersFromPairs(Seq((5L, 6L)).toDF("doc_a", "doc_b")).count() === 2L)
      // Spark creates a UUID subdir under the configured checkpoint
      // dir; our run dirs land inside it
      def findRun(f: java.io.File): Boolean =
        f.getName.startsWith("run_") ||
          Option(f.listFiles()).getOrElse(Array.empty).exists(findRun)
      assert(findRun(new java.io.File(cp)), s"no run_* dir under checkpoint dir $cp")
    } finally {
      // no unset API for the checkpoint dir; later suites are
      // unaffected (it only serves as the iterDir fallback)
    }
  }

  test("curate flags agree with the constituent operators") {
    val cur = Text.curate(spark, sf)
    assert(cur.count() === Tables.documents(spark, sf).count())
    val losers = Dedup.clusters(spark, sf).where(!col("keep")).select("doc_id")
    val flaggedDup = cur.where(col("dup_loser")).select("doc_id")
    assert(flaggedDup.exceptAll(losers).count() === 0)
    assert(losers.exceptAll(flaggedDup).count() === 0)
    // the curation gate cuts at the >= 64 tail of the same overlap
    // counts the review query flags at >= 10 (see curateFrom)
    val cont = Dedup.decontaminate(spark, sf).where(col("n_overlap") >= 64).select("doc_id")
    val flaggedCont = cur.where(col("contaminated")).select("doc_id")
    assert(flaggedCont.exceptAll(cont).count() === 0)
    assert(cont.exceptAll(flaggedCont).count() === 0)
    // the decision is non-degenerate on the gate corpus: some docs
    // kept, some cut (an all-false or all-true kept column is useless)
    assert(cur.where(col("kept")).count() > 0, "curation must keep something")
    assert(cur.where(!col("kept")).count() > 0, "curation must cut something")
    // the heavy-PII cut is exactly the all-three-classes rows of the
    // pii audit (has_pii alone is a review flag, not a cut)
    val piiHeavy = Text.pii(spark, sf)
      .where(col("n_emails") > 0 && col("n_phones") > 0 && col("n_ips") > 0)
      .select("doc_id")
    val flaggedPii = cur.where(col("pii_heavy")).select("doc_id")
    assert(flaggedPii.exceptAll(piiHeavy).count() === 0)
    assert(piiHeavy.exceptAll(flaggedPii).count() === 0)
    // kept is exactly the absence of every gate flag
    assert(cur.where(col("kept") &&
      (col("heldout") || col("dup_loser") || col("contaminated") ||
        col("low_quality") || col("pii_heavy"))).count() === 0)
    assert(cur.where(!col("kept") &&
      !col("heldout") && !col("dup_loser") && !col("contaminated") &&
      !col("low_quality") && !col("pii_heavy")).count() === 0)
  }

  test("applyDedup: exactly one survivor per cluster, all unpaired docs survive") {
    val docs = Tables.documents(spark, sf).select("doc_id")
    val cl = Dedup.clusters(spark, sf)
    val out = Dedup.applyDedup(spark, sf)
    val paired = cl.count()
    val clusters = cl.select("cluster_id").distinct().count()
    assert(out.count() === docs.count() - paired + clusters)
    // survivors of paired clusters are exactly the keepers
    assert(out.join(cl.where(!col("keep")), "doc_id").count() === 0L)
  }

  test("containment: embedded doc scores cont_a = 1.0 where jaccard cannot") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_containment").toString
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november whiskey xray yankee zulu"
    val extra = " oscar papa quebec romeo sierra tango"
    val docs = Seq(
      (1L, base, "en", "web", base.length.toLong),
      (2L, base + extra, "en", "web", (base + extra).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    // doc 1's rolling shingle set is a strict subset of doc 2's, so
    // containment is exactly 1.0 in the a→b direction while the
    // symmetric jaccard is strictly below 1 — the asymmetry this
    // operator exists to expose
    val cont = Dedup.containment(spark, dir).collect()
    assert(cont.length === 1)
    assert(cont(0).getLong(0) === 1L && cont(0).getLong(1) === 2L)
    assert(cont(0).getDouble(2) === 1.0, "cont_a must be exactly 1.0 for a subset doc")
    assert(cont(0).getDouble(3) < 1.0)
    val jac = Dedup.jaccard(spark, dir).collect()
    assert(jac.length === 1 && jac(0).getDouble(2) < 1.0)
  }

  test("containment dominates jaccard on every shared candidate pair") {
    val cont = Dedup.containment(spark, sf)
      .select(col("doc_a"), col("doc_b"), greatest(col("cont_a"), col("cont_b")).as("mc"))
    val jac = Dedup.jaccard(spark, sf).select("doc_a", "doc_b", "jac")
    // max-direction containment = n_int/min(n_a,n_b) >= jaccard, always
    val joined = cont.join(jac, Seq("doc_a", "doc_b")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getAs[Double]("mc") >= r.getAs[Double]("jac") - 1e-9))
  }

  test("contamination score agrees with decontaminate counts and covers all candidates") {
    val score = Dedup.contaminationScore(spark, sf)
    val hits = Dedup.decontaminate(spark, sf).select(col("doc_id"), col("n_overlap").as("n_ref"))
    // on docs decontaminate reports, the graded score sees the same
    // distinct-overlap count
    val joined = score.join(hits, "doc_id")
    assert(joined.count() === hits.count())
    assert(joined.where(col("n_overlap") =!= col("n_ref")).count() === 0)
    // zero-overlap candidates appear too (frac = 0), and fractions are
    // well-formed
    assert(score.count() > hits.count())
    assert(score.where(col("frac") < 0.0 || col("frac") > 1.0).count() === 0)
    assert(score.where(col("n_overlap") === 0 && col("frac") =!= 0.0).count() === 0)
  }

  test("bloom width ladder: floor, +1 per doubling, broadcastable cap") {
    assert(Dedup.bloomBits(0) === 17)
    assert(Dedup.bloomBits(4096) === 17) // floor holds through 2^12 state rows
    assert(Dedup.bloomBits(4097) === 18)
    assert(Dedup.bloomBits(8192) === 18)
    assert(Dedup.bloomBits(8193) === 19)
    assert(Dedup.bloomBits(Long.MaxValue) === 30) // 128 MiB bitmap cap
    // monotone non-decreasing across doublings
    val widths = (0 to 24).map(i => Dedup.bloomBits(1L << i))
    assert(widths === widths.sorted)
  }

  test("bloom verdicts: no false negatives; classify ≡ the plain exact join") {
    val v = Dedup.bloomFilter(spark, sf)
    // a true dup can never be cleared map-side
    assert(v.where(col("truly_dup") && !col("maybe")).count() === 0)
    assert(v.where(col("truly_dup")).count() > 0) // the slice has real dups
    // the applied classifier (bloom prefilter in front of the exact
    // join) is row-identical to the join-everything classification
    val docs = graft.Tables.documents(spark, sf)
    val state = docs.where(col("doc_id") % 4 =!= 0)
      .select(md5(substring(col("text"), 1, 40)).as("fp"))
    val delta = docs.where(col("doc_id") % 4 === 0)
      .select(col("doc_id"), md5(substring(col("text"), 1, 40)).as("fp"))
    val viaBloom = Dedup.bloomClassify(state, delta)
    val plain = delta.join(
        state.distinct().withColumn("d", lit(true)), Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), coalesce(col("d"), lit(false)).as("is_dup"))
    assert(viaBloom.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(viaBloom).count() === 0)
  }
}
