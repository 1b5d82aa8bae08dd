package graft

import org.apache.spark.sql.functions._

import graft.ops._

/** Pins for the navigable-graph ANN pair: the graph artifact's
  * structural invariants and the beam search's measured recall vs the
  * exact brute force — the quality claim the operator exists for (a
  * deterministic walk that returned junk would still hash-match its
  * oracle, so the recall floor has to be pinned here). */
class SimilaritySearchSpec extends SparkSpec {

  test("nav graph is undirected, self-loop-free, and within degree bounds") {
    val g = Similarity.navGraphShared(spark, sf)
      .select(col("node"), col("nbr_id")).persist()
    assert(g.count() > 0)
    assert(g.where(col("node") === col("nbr_id")).count() === 0)
    // symmetry: every edge's reverse is present
    val rev = g.select(col("nbr_id").as("node"), col("node").as("nbr_id"))
    assert(g.exceptAll(rev).count() === 0)
    // symmetrized degree is bounded by 2x the directed degree cap
    val maxDeg = g.groupBy("node").count().agg(max("count")).head.getLong(0)
    assert(maxDeg <= 2L * Similarity.NavDegree)
    g.unpersist()
  }

  test("beam search recovers most of the exact top-3 (recall floor)") {
    val exact = Similarity.bruteForceTopK(spark, sf)
      .select("vec_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.graphSearch(spark, sf)
      .select("vec_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === exact.size) // 3 per query on both sides
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"beam recall $recall below the 0.8 floor " +
      s"(${(got intersect exact).size}/${exact.size})")
  }

  test("sq8 codes stay in [-127,127]; integer-dot scan beats the recall floor") {
    val codes = Similarity.sq8Codes(spark, sf).persist()
    // every code word in the signed-byte range (64 B/vector posture)
    val oob = codes.where(exists(col("c"),
      x => abs(x) > 127)).count()
    assert(oob === 0)
    // at least one dimension actually saturates the scale somewhere
    // (the global max |x| quantizes to exactly ±127 by construction)
    assert(codes.where(exists(col("c"), x => abs(x) === 127)).count() > 0)
    codes.unpersist()
    val exact = Similarity.bruteForceTopK(spark, sf)
      .select("vec_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.sq8Search(spark, sf)
      .select("vec_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === exact.size) // 3 per query on both sides
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"sq8 recall $recall below the 0.8 floor " +
      s"(${(got intersect exact).size}/${exact.size})")
  }

  test("sharded graph never crosses shards; sharded search beats the recall floor") {
    val g = Similarity.navShardGraphShared(spark, sf)
    assert(g.count() > 0)
    assert(g.where(pmod(col("node"), lit(Similarity.NavShards)) =!=
      pmod(col("nbr_id"), lit(Similarity.NavShards))).count() === 0)
    val exact = Similarity.bruteForceTopK(spark, sf)
      .select("vec_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.shardedSearch(spark, sf)
      .select("vec_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === exact.size)
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"sharded recall $recall below the 0.8 floor")
  }

  test("pq-accelerated search beats the recall floor (exact rerank over ADC walk)") {
    val exact = Similarity.bruteForceTopK(spark, sf)
      .select("vec_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.pqSearch(spark, sf)
      .select("vec_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === exact.size)
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"pq-walk recall $recall below the 0.8 floor")
  }

  test("filtered search: every answer is eligible; in-walk beats the recall floor") {
    val elig = Tables.documents(spark, sf)
      .where(col("lang") === Similarity.FilteredLang)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val out = Similarity.filteredSearch(spark, sf).collect()
    assert(out.nonEmpty)
    // the filter contract: no strategy may ever answer with an
    // ineligible node — that's the whole point of filtered search
    assert(out.forall(r => elig.contains(r.getAs[Long]("nbr_id"))))
    val rec = Similarity.filteredRecall(spark, sf).collect()
      .groupBy(_.getAs[String]("strategy"))
      .view.mapValues(rs => rs.count(_.getAs[Boolean]("in_top3")).toDouble / rs.length)
      .toMap
    // in-walk (ACORN-1 bridged expansion) must hold a hard floor; the
    // overfetch baseline is allowed to degrade — the recall audit
    // query exists to make that gap visible (25/30 vs 30/30 at sf0.1)
    assert(rec("inwalk") >= 0.9, s"in-walk filtered recall ${rec("inwalk")} below 0.9")
    assert(rec("overfetch") >= 0.5, s"overfetch filtered recall ${rec("overfetch")} below 0.5")
    // harvest (the default-rule strategy) dominates overfetch by
    // construction — final-beam rows are a subset of the accumulated
    // candidate set — and must hold the in-walk-grade floor here
    assert(rec("harvest") >= rec("overfetch"),
      s"harvest ${rec("harvest")} under overfetch ${rec("overfetch")}")
    assert(rec("harvest") >= 0.9, s"harvest filtered recall ${rec("harvest")} below 0.9")
    spark.catalog.clearCache()
  }

  test("filtered default: three-tier selection rule, exact tier is truly exact") {
    import ops.Similarity.{filteredStrategyFor, exactFilterMaxFor, filteredSearchAuto}
    // exact tier: the eligible set fits the walk's frontier budget
    // (overfetch width × hops = 48 · 5 = 240 at driver scales)
    assert(exactFilterMaxFor(1000L) === 240L)
    assert(filteredStrategyFor(1000L, 240L) === "exact")
    assert(filteredStrategyFor(1000L, 241L) === "harvest") // 48·241 ≥ 3000
    // at scale the three tiers separate: exact ≤ 1600 (160·10) <
    // inwalk band < 3·n/width = 3750 ≤ harvest
    assert(exactFilterMaxFor(200000L) === 1600L)
    assert(filteredStrategyFor(200000L, 1600L) === "exact")
    assert(filteredStrategyFor(200000L, 1601L) === "inwalk")
    assert(filteredStrategyFor(200000L, 3749L) === "inwalk") // 160·3749 < 600000
    assert(filteredStrategyFor(200000L, 3750L) === "harvest")
    // at sf0.001 the 'de' filter (~71 of 500) routes to the exact
    // tier; verify the answers against an independently computed
    // exact filtered top-3 (plain Scala doubles, same 6-dp rounding)
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val eligSet = Tables.documents(spark, sf)
      .where(col("lang") === Similarity.FilteredLang)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.map(i => a(i) * b(i)).sum
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = emb.keys.filter(_ < 10).toSeq.sorted.flatMap { qid =>
      val qv = emb(qid); val qn = math.sqrt(dot(qv, qv))
      eligSet.toSeq.filter(_ != qid).map { node =>
        val nv = emb(node)
        (qid, node, r6(dot(qv, nv) / (qn * math.sqrt(dot(nv, nv)))))
      }.sortBy { case (_, node, cos) => (-cos, node) }
        .take(3).zipWithIndex
        .map { case ((q, node, cos), i) => (q, node, cos, (i + 1).toLong) }
    }
    val auto = filteredSearchAuto(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(auto === want)
    spark.catalog.clearCache()
  }

  test("MMR reorders a redundant candidate set; chosen scores weakly decrease") {
    import ops.Similarity.mmrSearch
    // constructed corpus: query q ≈ e1; a1 and a2 near-duplicates of
    // each other at rel ≈ 0.995; b orthogonal-ish at rel = 0.8.
    // Relevance order is (a1, a2, b); MMR must demote a2 behind b
    // (its sim-to-a1 penalty ≈ its relevance edge at λ = 0.5).
    def vec(parts: (Int, Double)*): Seq[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a.toSeq
    }
    val rows = Seq(
      (0L, vec(0 -> 1.0), 0L),                          // the query
      (10L, vec(0 -> 0.995, 1 -> 0.0995), 0L),          // a1
      (11L, vec(0 -> 0.995, 1 -> 0.0995, 2 -> 0.001), 0L), // a2 ≈ a1
      (12L, vec(0 -> 0.8, 3 -> 0.6), 0L))               // b, diverse
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mmr").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = mmrSearch(spark, dir).collect()
    assert(got.map(_.getLong(1)).toSeq === Seq(10L, 12L, 11L))
    // the greedy trace's chosen scores weakly decrease
    val ms = got.map(_.getDouble(3)).toSeq
    assert(ms === ms.sorted.reverse)
    // rank 1 is the plain relevance argmax (empty picked set)
    val top = ops.Similarity.bruteForceTopK(spark, dir).collect()
    assert(got.head.getLong(1) === top.head.getLong(1))
    spark.catalog.clearCache()
  }

  test("filtered walk widths: oracle-pinned at driver scales, ef ladder beyond") {
    import ops.Similarity.{filteredBeamFor, filteredOverfetchFor, FilteredOverfetch}
    // driver scales (every SF's corpus, hence both walk oracles):
    // the historical constants, exactly
    for (n <- Seq(1L, 500L, 2000L, 2048L)) {
      assert(filteredBeamFor(n) === 16, s"beam at n=$n")
      assert(filteredOverfetchFor(n) === FilteredOverfetch, s"overfetch at n=$n")
    }
    // +8 / +16 per corpus doubling beyond — the ×10/×100 mixture laps
    // (PERF.md round 17) run at exactly these widths; the round-16
    // reversal (in-walk 24/30 vs overfetch 30/30 at ×10) was the
    // CONSTANT 16-wide eligible beam starving as the corpus grew
    assert(filteredBeamFor(20000L) === 48)
    assert(filteredOverfetchFor(20000L) === 112)
    assert(filteredBeamFor(200000L) === 72)
    assert(filteredOverfetchFor(200000L) === 160)
    // monotone in n, capped (the walk stays Q×width-bounded per hop)
    val pts = Seq(2048L, 4096L, 100000L, 10000000L, Long.MaxValue / 2)
    assert(pts.map(filteredBeamFor(_)) === pts.map(filteredBeamFor(_)).sorted)
    assert(filteredBeamFor(Long.MaxValue / 2) === 128)
    assert(filteredOverfetchFor(Long.MaxValue / 2) === 192)
    // the ADC walk's ladder shares the shape (oracle-pinned 64 at
    // driver scales — round 17: 48 left the ×1 mixture walk at 27/30,
    // 64 reads 30/30; the ADC frontier absorbs quantization error)
    import ops.Similarity.{pqBeamFor, PqBeamWidth}
    for (n <- Seq(1L, 500L, 2000L, 2048L))
      assert(pqBeamFor(n) === PqBeamWidth, s"pq beam at n=$n")
    assert(PqBeamWidth === 64)
    assert(pqBeamFor(20000L) === 128)
    assert(pqBeamFor(200000L) === 176)
    assert(pqBeamFor(Long.MaxValue / 2) === 192)
    // the flat serving walk's driver-scale reachability pins
    // (round 17: hops 3 → 5 and width 16 → 48 close the 24/30 floor —
    // 30/30 at mixture ×1 for flat, harvest, and overfetch)
    import ops.Similarity.{navHopsFor, navBeamFor}
    for (n <- Seq(1L, 500L, 2000L, 2048L)) {
      assert(navHopsFor(n) === 5, s"hops at n=$n")
      assert(navBeamFor(n) === 48, s"flat beam at n=$n")
    }
    assert(navHopsFor(4096L) === 5)   // ladder floor, monotone
    assert(navHopsFor(20000L) === 7)  // sf0.1 bench regime unchanged
    assert(navHopsFor(200000L) === 10)
    assert(navBeamFor(20000L) === 16) // spread-entry regime: measured
    assert(navBeamFor(200000L) === 16) // 30/30 at ×10/×100 at width 16
    // the seed-band width: 8 bits through 2^11 vectors, then wider
    import ops.Similarity.navBitsFor
    assert(navBitsFor(2000) === 8)
    assert(navBitsFor(2500) === 9)
  }

  test("filtered PQ walk: answers eligible, recall floor vs filtered brute force") {
    val elig = Tables.documents(spark, sf)
      .where(col("lang") === Similarity.FilteredLang)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Similarity.filteredPqSearch(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => elig.contains(r.getAs[Long]("nbr_id"))))
    // exact filtered brute force via the flat recall audit's bf side:
    // reuse filteredRecall's inwalk rows as the reference top-3 set
    val bf = Similarity.filteredRecall(spark, sf)
      .where(col("strategy") === "inwalk" && col("in_top3"))
      .select("vec_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = got.count(r => bf.contains((r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))))
    assert(hits >= (bf.size * 8) / 10,
      s"filtered PQ walk recovered $hits of ${bf.size} exact filtered answers")
    spark.catalog.clearCache()
  }

  test("rrf fusion: 5 fused answers per query, self excluded, score recomputes") {
    val out = Similarity.rrfFusion(spark, sf).collect()
    assert(out.groupBy(_.getAs[Long]("vec_id")).forall(_._2.length == 5))
    out.foreach { r =>
      assert(r.getAs[Long]("doc_id") !== r.getAs[Long]("vec_id"))
      def term(c: String): Double =
        if (r.isNullAt(r.fieldIndex(c))) 0.0 else 1.0 / (60 + r.getAs[Long](c))
      val expect = BigDecimal(term("lex_rank") + term("vec_rank"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-9)
      // at least one ranker must have retrieved the doc
      assert(!r.isNullAt(r.fieldIndex("lex_rank")) || !r.isNullAt(r.fieldIndex("vec_rank")))
    }
    spark.catalog.clearCache()
  }

  test("beam walk frees its checkpoint blocks deterministically on release") {
    val corpus = Similarity.vecsOf(spark, Tables.embeddings(spark, sf))
      .select("vec_id", "v", "norm").persist()
    corpus.count()
    val q = corpus.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val edges = Similarity.navGraphShared(spark, sf)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (out, release) = Similarity.beamSearchReleasable(spark, corpus, q, edges)
    assert(out.count() > 0)
    // superseded hop stages were freed inside the walk; only the FINAL
    // beam stage (plus nothing else) may still hold blocks
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "final beam stage should be block-backed until release")
    release()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "release() must free the final stage's blocks eagerly, not wait on driver GC")
    corpus.unpersist()
  }

  test("graph search output shape: ranks 1..3 per query, cos in [-1,1]") {
    val out = Similarity.graphSearch(spark, sf).persist()
    val perQ = out.groupBy("vec_id").agg(
      count("*").as("n"), min("rank").as("lo"), max("rank").as("hi"))
    assert(perQ.where(col("n") =!= 3 || col("lo") =!= 1 || col("hi") =!= 3).count() === 0)
    assert(out.where(col("cos") < -1 || col("cos") > 1).count() === 0)
    out.unpersist()
  }
}
