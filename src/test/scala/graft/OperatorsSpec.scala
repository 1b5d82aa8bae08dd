package graft

import org.apache.spark.sql.functions._

import graft.ops._

class OperatorsSpec extends SparkSpec {

  test("risk emits exactly one coherent row") {
    val r = Risk.risk(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Double]("max_drawdown") <= 0.0)
    assert(!row.isNullAt(row.fieldIndex("sharpe")))
    val duration = row.getAs[Long]("duration")
    assert(duration >= 0)
    assert(!row.getAs[java.sql.Date]("peak_date").after(row.getAs[java.sql.Date]("valley_date")))
  }

  test("semi and anti joins partition the customer table") {
    val all = Tables.customer(spark, sf).count()
    val withOrders = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"), "left_semi").count()
    val anti = Relational.antiJoin(spark, sf).count()
    assert(withOrders + anti === all)
  }

  test("window rank picks each customer's max order") {
    val ranked = Relational.windowRank(spark, sf)
    val check = ranked.alias("r")
      .join(Tables.orders(spark, sf).alias("o"),
        col("r.o_custkey") === col("o.o_custkey") &&
          col("o.o_totalprice") > col("r.o_totalprice"), "left_semi")
    assert(check.count() === 0)
  }

  test("asof join carries the latest available observation") {
    val df = Events.asofJoin(spark, sf)
    // qty_asof must be non-null once any right-side date has passed
    val firstRight = Tables.lineitem(spark, sf)
      .groupBy(to_date(col("l_shipdate")).as("date")).count()
      .where(dayofmonth(col("date")) % 3 === 0)
      .agg(min(col("date"))).first().getDate(0)
    val nullsAfter = df.where(col("date") >= lit(firstRight) && col("qty_asof").isNull).count()
    assert(nullsAfter === 0)
  }

  test("multi-key asof: each segment carries its own latest observation") {
    val df = Events.asofJoinByKey(spark, sf)
    // within each segment, n_asof is non-null from that segment's first
    // right-side date onward
    val firstRight = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("name"), to_date(col("o_orderdate")).as("date")).count()
      .where(dayofmonth(col("date")) % 3 === 0)
      .groupBy("name").agg(min(col("date")).as("fr"))
    val nullsAfter = df.join(firstRight, "name")
      .where(col("date") >= col("fr") && col("n_asof").isNull).count()
    assert(nullsAfter === 0)
    // and segments are independent: at least 2 segments present
    assert(df.select("name").distinct().count() >= 2)
  }

  test("estimated jaccard is 1.0 for exact duplicates and bounded in [0,1]") {
    val est = Dedup.minhashEstJaccard(spark, sf)
    assert(est.where(col("est_jac") < 0.0 || col("est_jac") > 1.0).count() === 0)
    // exact-duplicate pairs (same md5(text)) share every minhash -> est 1.0
    val hashes = Tables.documents(spark, sf).select(col("doc_id"), md5(col("text")).as("h"))
    val dupPairs = hashes.alias("x").join(hashes.alias("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val n = dupPairs.count()
    if (n > 0) {
      val joined = dupPairs.join(est, Seq("doc_a", "doc_b"))
      assert(joined.count() === n)       // every exact dup is a candidate
      assert(joined.where(col("est_jac") =!= 1.0).count() === 0)
    }
  }

  test("train/val/test split is deterministic and ~90/5/5") {
    val s = Text.trainValTestSplit(spark, sf)
    val n = s.count().toDouble
    val frac = s.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) / n).toMap
    assert(math.abs(frac("train") - 0.9) < 0.08, frac.toString)
    assert(s.where(col("bucket") < 0 || col("bucket") >= 100).count() === 0)
    // content-hash based: a second run is bit-identical (no rand())
    assert(s.exceptAll(Text.trainValTestSplit(spark, sf)).count() === 0)
  }

  test("unpivot folds the pivot back to one row per (year, status) cell") {
    val wide = Relational.pivotRevenue(spark, sf)
    val long = Relational.unpivotRevenue(spark, sf)
    assert(long.count() === wide.count() * 3)
    val wideTotal = wide.select((col("F") + col("O") + col("P")).as("t"))
      .agg(sum(col("t"))).first().getDouble(0)
    val longTotal = long.agg(sum(col("revenue"))).first().getDouble(0)
    assert(math.abs(wideTotal - longTotal) < 1e-6)
  }

  test("risk by segment: one coherent row per segment") {
    val rows = Risk.riskBySegment(spark, sf).collect()
    val segs = Tables.customer(spark, sf).select("c_mktsegment").distinct().count()
    assert(rows.length === segs.toInt)
    rows.foreach { row =>
      assert(row.getAs[Double]("max_drawdown") <= 0.0)
      assert(row.getAs[Long]("duration") >= 0)
      assert(!row.getAs[java.sql.Date]("peak_date").after(row.getAs[java.sql.Date]("valley_date")))
    }
  }

  test("risk ratios: one row per segment, calmar null exactly at zero drawdown") {
    val rows = Risk.ratios(spark, sf).collect()
    val segs = Tables.customer(spark, sf).select("c_mktsegment").distinct().count()
    assert(rows.length === segs.toInt)
    rows.foreach { row =>
      val dd = row.getAs[Double]("max_drawdown")
      assert(dd <= 0.0)
      assert(row.isNullAt(row.fieldIndex("calmar")) === (dd == 0.0))
    }
  }

  test("trailing return by segment: six periods per segment, gated on window start") {
    val df = TimeSeries.trailingReturnBySegment(spark, sf)
    val perSeg = df.groupBy("name").count().collect()
    assert(perSeg.nonEmpty && perSeg.forall(_.getLong(1) === 6L))
    // the full-window gate: percent_change is null whenever no
    // observation exists exactly at start_date for that segment
    val daily = TimeSeries.gotkBySegment(spark, sf).select(col("name"), col("date"))
    val gated = df.join(daily,
        df("name") === daily("name") && col("start_date") === col("date"), "left_anti")
    assert(gated.where(col("percent_change").isNotNull).count() === 0)
  }

  test("near-dup vector clusters: constructed groups collapse to min-id keepers") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    // group A: three tiny perturbations of an all-ones vector (cos ~ 1,
    // identical sign bands); group B: two alternating-sign vectors
    // (different bands, cos ~ 0 vs A); vector 20 isolated
    def perturb(base: Array[Double], seed: Int): Array[Double] =
      base.zipWithIndex.map { case (x, i) => x + 0.001 * ((i * seed) % 7) }
    val a = Array.fill(64)(1.0)
    val b = Array.tabulate(64)(i => if (i % 2 == 0) 1.0 else -1.0)
    val iso = Array.tabulate(64)(i => if (i < 32) 1.0 else -1.0)
    val rows = Seq(
      (1L, perturb(a, 1)), (2L, perturb(a, 2)), (3L, perturb(a, 3)),
      (10L, perturb(b, 1)), (11L, perturb(b, 2)),
      (20L, iso))
    val v = rows.toDF("vec_id", "v")
      .withColumn("norm", sqrt(VectorFunctions.dot(spark, col("v"), col("v"))))
    val pairs = graft.ops.Similarity.cosineNearDupFrom(spark, v).select("doc_a", "doc_b")
    val out = graft.ops.Dedup.clustersFromPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("vocab: df bounded by corpus size and tf, reproducible top-k") {
    val v = Text.vocab(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(v.nonEmpty && v.length <= 50)
    v.foreach { r =>
      assert(r.getAs[Long]("df") <= nDocs)
      assert(r.getAs[Long]("df") <= r.getAs[Long]("tf"))
    }
    // ordered by tf desc with tok tiebreak
    assert(v.map(_.getAs[Long]("tf")).toSeq === v.map(_.getAs[Long]("tf")).sortBy(-_).toSeq)
  }

  test("stratified sample: at most 10 per stratum, deterministic") {
    val s = Text.sampleStratified(spark, sf)
    val per = s.groupBy("source").count().collect()
    assert(per.nonEmpty && per.forall(_.getLong(1) <= 10L))
    assert(s.exceptAll(Text.sampleStratified(spark, sf)).count() === 0)
  }

  test("chunks: stride arithmetic covers every token exactly") {
    val c = Text.chunks(spark, sf)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("n"))
    val agg = c.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"), max(col("n_toks")).as("max_toks"))
    val joined = agg.join(docs, "doc_id")
    // chunk count = (n-1) div 48 + 1, chunks never exceed 64 tokens
    assert(joined.where(col("n_chunks") =!= expr("(n - 1) div 48 + 1")).count() === 0)
    assert(joined.where(col("max_toks") > 64).count() === 0)
    // last chunk holds exactly the remaining tokens past its start
    val last = c.join(docs, "doc_id")
      .where(col("chunk_idx") === expr("(n - 1) div 48"))
    assert(last.where(col("n_toks") =!= least(lit(64L), col("n") - col("chunk_idx") * 48)).count() === 0)
  }

  test("tfidf: top-3 per doc, rank-ordered, ubiquitous tokens score zero") {
    val t = Text.tfidf(spark, sf)
    val per = t.groupBy("doc_id").agg(
      count(lit(1)).as("n"),
      min(col("rank")).as("lo"), max(col("rank")).as("hi"))
    assert(per.where(col("n") > 3 || col("lo") =!= 1L).count() === 0)
    // within a doc, scores are non-increasing in rank order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("rank")
    assert(t.withColumn("prev", lag(col("tfidf"), 1).over(w))
      .where(col("prev") < col("tfidf")).count() === 0)
    // a token in EVERY doc has idf = ln(1) = 0, so it can never
    // outrank a token with positive idf (a doc with >= 3 informative
    // tokens shows no zero in its top-3)
    assert(t.where(col("tfidf") < 0.0).count() === 0)
  }

  test("pack: every doc assigned once, shards bounded, bins track shard token budget") {
    val p = Text.pack(spark, sf)
    val nDocs = Tables.documents(spark, sf).count()
    assert(p.count() === nDocs)
    assert(p.select("doc_id").distinct().count() === nDocs)
    assert(p.where(col("shard") < 0 || col("shard") >= 8).count() === 0)
    // per shard, the max bin is exactly the last doc's start div 1024:
    // (sum - last n_toks) div 1024 >= max(bin), and bin is the
    // 1024-token start-offset bucket so max(bin) <= sum div 1024
    val per = p.groupBy("shard").agg(
      sum(col("n_toks")).as("tot"), max(col("bin")).as("mb"))
    assert(per.where(col("mb") > expr("tot div 1024")).count() === 0)
    // deterministic re-run
    assert(p.exceptAll(Text.pack(spark, sf)).count() === 0)
  }

  test("shard shuffle: a permutation into 16 shards with contiguous order") {
    val s = Text.shardShuffle(spark, sf)
    val nDocs = Tables.documents(spark, sf).count()
    assert(s.count() === nDocs)
    assert(s.select("doc_id").distinct().count() === nDocs)
    assert(s.where(col("shard") < 0 || col("shard") >= 16).count() === 0)
    // pos is exactly 1..n per shard (count == max == distinct count)
    val per = s.groupBy("shard").agg(count(lit(1)).as("n"),
      max(col("pos")).as("mx"), min(col("pos")).as("mn"))
    assert(per.where(col("mx") =!= col("n") || col("mn") =!= 1L).count() === 0)
    // manifest reconciles with the shuffle it describes
    val m = Text.shardManifest(spark, sf)
    assert(m.count() === per.count())
    assert(m.join(per, "shard").where(col("n_docs") =!= col("n")).count() === 0)
    // deterministic re-run
    assert(s.exceptAll(Text.shardShuffle(spark, sf)).count() === 0)
    // the shard-count ladder: 16 at every driver scale (oracle-pinned),
    // grows once shards would exceed ~1M docs, bounded per-shard forever
    assert(Text.shardBitsFor(5000L) === 4)
    assert(Text.shardBitsFor(1L << 24) === 4)
    assert(Text.shardBitsFor(1L << 25) === 5)
    val big = Text.shardBitsFor(100000000000L) // ~1e11 docs (100 TB-ish)
    assert((100000000000L >> big) <= (1L << 20) && big < 24)
    // epoch reshuffle: a bumped seed is a DIFFERENT permutation of
    // the SAME population with the same shard spine
    val ids = Tables.documents(spark, sf).select("doc_id")
    val e2 = Text.shardShuffleDocs(spark, ids, seed = "shard-v2")
    assert(e2.count() === s.count())
    assert(e2.select("doc_id").exceptAll(s.select("doc_id")).count() === 0)
    assert(e2.exceptAll(s).count() > 0) // the order actually moved
    val per2 = e2.groupBy("shard").agg(count(lit(1)).as("n"),
      max(col("pos")).as("mx"), min(col("pos")).as("mn"))
    assert(per2.where(col("mx") =!= col("n") || col("mn") =!= 1L).count() === 0)
  }

  test("cdc chunks resynchronize after an insertion (fixed stride cannot)") {
    import spark.implicits._
    // a long synthetic doc and its one-token-prefixed twin
    val words = (1 to 4000).map(i => s"w${i % 613}").mkString(" ")
    val pair = Seq((1L, words), (2L, "INS " + words)).toDF("doc_id", "text")
    val c = Text.cdcChunksDocs(pair).collect()
    val a = c.filter(_.getLong(0) == 1L).map(_.getAs[Long]("sig")).toSet
    val b = c.filter(_.getLong(0) == 2L).map(_.getAs[Long]("sig")).toSet
    // nearly all of the original's chunk signatures survive the shift
    val shared = a.intersect(b).size.toDouble / a.size
    assert(shared > 0.8, s"only ${(shared * 100).round}% of chunk sigs survived")
    // sanity: chunks tile each doc (token counts telescope)
    val tot = c.filter(_.getLong(0) == 1L).map(_.getAs[Long]("n_toks")).sum
    assert(tot === 4000L)
  }

  test("reading events leaves the caller's session confs as they were") {
    // a loader must not flip a session-wide parquet conf under every
    // later read of the same session
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val before = spark.conf.getOption(key)
    val ev = Tables.events(spark, sf)
    assert(spark.conf.getOption(key) === before)
    assert(ev.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
  }

  test("quantile sketch estimates bracket the exact rank elements") {
    import graft.ops.Events
    val v = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 1e6).cast("bigint").as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("v")
    val ranked = v.withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
    def exactAt(numer: Int, denom: Int) = ranked
      .where(col("r") === expr(s"($numer * n + $numer) div $denom"))
      .select(col("event_type"), col("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val e50 = exactAt(1, 2); val e99 = exactAt(99, 100)
    Events.quantileSketch(spark, sf).collect().foreach { r =>
      val t = r.getString(0)
      for ((est, exact) <- Seq(r.getAs[Long]("p50_est") -> e50(t),
                               r.getAs[Long]("p99_est") -> e99(t))
           if exact > 0) {
        // the bucket property: lower edge <= exact element < 2x edge
        assert(est <= exact && exact < 2 * math.max(est, 1L),
          s"$t: est=$est exact=$exact")
      }
    }
  }

  test("cdc apply: untouched docs reassemble to their original text") {
    val a = Text.cdcApply(spark, sf)
    val orig = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("orig_md5"),
        size(split(col("text"), " ")).cast("bigint").as("n"))
    val j = a.join(orig, "doc_id")
    // a doc that lost nothing must reassemble byte-identically
    assert(j.where(col("dropped_toks") === 0 &&
      col("kept_md5") =!= col("orig_md5")).count() === 0)
    // counts telescope everywhere
    assert(j.where(col("kept_toks") + col("dropped_toks") =!= col("n")).count() === 0)
    // and the corpus genuinely contains removable duplication
    assert(a.where(col("dropped_toks") > 0).count() > 0)
  }

  test("cdc pure chunker matches the window dataflow row for row") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val batch = Text.cdcChunksDocs(docs)
      .select("doc_id", "chunk_idx", "n_toks", "start_pos", "sig")
    val pure = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) => OperatorsSpec.cdcChunksOf(text).map(c => (id, c._1, c._2, c._3, c._4)) }
      .toDF("doc_id", "chunk_idx", "n_toks", "start_pos", "sig")
    assert(batch.exceptAll(pure).count() === 0)
    assert(pure.exceptAll(batch).count() === 0)
  }

  test("quantize: max dim saturates, zero error only for axis-aligned vectors") {
    val q = Similarity.quantize(spark, sf)
    assert(q.count() === Tables.embeddings(spark, sf).count())
    // scale > 0 (no zero vectors in testdata) and the max-|x| dim
    // quantizes to exactly +-127, so every vector saturates >= 1 dim
    assert(q.where(col("scale") <= 0.0).count() === 0)
    assert(q.where(col("n_sat") < 1L).count() === 0)
    // reconstruction error is bounded by the per-dim max error
    // (scale/2 per dim, 64 dims): sqrt(64) * scale / 2
    assert(q.where(col("recon_err") > lit(4.0) * col("scale")).count() === 0)
  }

  test("repetition ratio agrees with whitespace token counts") {
    val rep = Text.repetition(spark, sf)
    val tok = Text.tokenCount(spark, sf).select(col("doc_id"), col("ws_tokens"))
    val joined = rep.join(tok, "doc_id")
    assert(joined.where(col("n_tokens") =!= col("ws_tokens")).count() === 0)
    assert(joined.where(col("top_n") > col("n_tokens")).count() === 0)
    assert(joined.where(col("rep_ratio") <= 0.0 || col("rep_ratio") > 1.0).count() === 0)
  }

  test("sessionize: session durations are bounded by gaps") {
    val s = Events.sessionize(spark, sf)
    assert(s.count() > 0)
    assert(s.where(col("duration_us") < 0).count() === 0)
  }

  test("session_window merges at EXACTLY the 30-min gap (boundary pinned)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_sw").toString
    val t0 = 1700000000000000000L // ns
    Seq(
      (1L, t0, "click", "{}", 1.0),
      (1L, t0 + 1800L * 1000000000L, "click", "{}", 1.0) // exactly 30 min later
    ).toDF("user_id", "ts", "event_type", "props", "value")
      .write.parquet(s"$d/events.parquet")
    val sw = Events.sessionWindows(spark, d).collect()
    assert(sw.length === 1 && sw.head.getAs[Long]("n_events") === 2,
      s"native session_window should MERGE at exactly the gap, got ${sw.toSeq}")
    val sz = Events.sessionize(spark, d).collect()
    assert(sz.length === 1 && sz.head.getAs[Long]("n_events") === 2)
  }

  test("session_window reconciles with the explicit gap sessionizer") {
    val builtin = Events.sessionWindows(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
    val explicit = Events.sessionize(spark, sf)
      .groupBy("user_id").agg(max(col("session_id")).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
    assert(builtin.exceptAll(explicit).count() === 0)
    assert(explicit.exceptAll(builtin).count() === 0)
  }

  test("approx sketches stay within tolerance of exact answers") {
    val approx = Events.approxSketches(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("u"),
        expr("percentile(value, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (u, m)) =>
      val (au, am) = approx(k)
      assert(math.abs(au - u).toDouble / u < 0.15, s"$k users: approx=$au exact=$u")
      assert(math.abs(am - m) / math.max(m, 1.0) < 0.25, s"$k median: approx=$am exact=$m")
    }
  }

  test("dedup exact keeps exactly one doc per hash group") {
    val d = Dedup.exact(spark, sf)
    val keepers = d.where(col("keep")).count()
    val hashes = d.select("h").distinct().count()
    assert(keepers === hashes)
  }

  test("jaccard values are valid and pairs come from candidates") {
    val j = Dedup.jaccard(spark, sf).collect()
    j.foreach { r =>
      val v = r.getAs[Double]("jac")
      assert(v >= 0.3 && v <= 1.0)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("simhash pairing finds EXACTLY the pairs at hamming <= 2") {
    // pigeonhole completeness: banded candidates must reproduce the
    // full all-pairs answer, verified by brute force on the test SF
    val sig = Dedup.simhash64Table(spark, sf).collect().map(r => r.getLong(0) -> r.getString(1))
    val brute = (for {
      (a, sa) <- sig; (b, sb) <- sig if a < b
      h = sa.zip(sb).count { case (x, y) => x != y } if h <= 2
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.simhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute)
  }

  test("simhash signatures are 64-bit strings") {
    val s = Dedup.simhash(spark, sf).collect()
    assert(s.nonEmpty)
    s.foreach(r => assert(r.getAs[String]("simhash").matches("[01]{64}")))
  }

  test("brute-force topk: rank 1 neighbor has the highest cosine") {
    val t = Similarity.bruteForceTopK(spark, sf)
    val byVec = t.collect().groupBy(_.getAs[Long]("vec_id"))
    byVec.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Double]("cos")).sliding(2).forall {
        case Array(a, b) => a >= b
        case _ => true
      })
    }
  }

  test("ivf topk searches only the probed cell and never beats brute force") {
    val ivf = Similarity.ivfTopK(spark, sf).collect()
    assert(ivf.nonEmpty)
    // neighbors live in the probed cell
    val labels = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    ivf.foreach(r =>
      assert(labels(r.getAs[Long]("nbr_id")) === r.getAs[Any]("cell")))
    // approximate: per query, ivf's best cos <= brute-force best cos
    val bf = Similarity.bruteForceTopK(spark, sf).where(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    ivf.filter(_.getAs[Long]("rank") == 1L).foreach { r =>
      assert(r.getAs[Double]("cos") <= bf(r.getAs[Long]("vec_id")) + 1e-9)
    }
  }

  test("language-ID picks the language with the most marker hits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr => sexpr}
    // same marker expression the operator uses, on hand-built docs
    val docs = Seq(
      (1L, "der hund und die katze ist da"),       // de markers
      (2L, "el perro y los gatos es aqui"),        // es markers
      (3L, "the cat and a dog of the town"),       // en markers
      (4L, "xyz qqq zzz")                          // none -> en fallback
    ).toDF("doc_id", "text")
    def cnt(l: String) = sexpr(
      s"size(filter(split(lower(text), ' '), w -> array_contains(array($l), w)))")
    val scored = docs
      .withColumn("s_en", cnt("'the','a','and','of','to'"))
      .withColumn("s_de", cnt("'der','die','das','und','ist'"))
      .withColumn("s_es", cnt("'el','los','las','y','es'"))
    val rows = scored.orderBy("doc_id").collect()
    assert(rows(0).getAs[Int]("s_de") > rows(0).getAs[Int]("s_en"))
    assert(rows(1).getAs[Int]("s_es") > rows(1).getAs[Int]("s_en"))
    assert(rows(2).getAs[Int]("s_en") > rows(2).getAs[Int]("s_de"))
    assert(rows(3).getAs[Int]("s_en") === 0)
  }

  test("simhash: identical docs share signatures, disjoint docs need not") {
    import spark.implicits._
    val a = Dedup.simhash(spark, sf).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // deterministic: running twice gives the same signatures
    val b = Dedup.simhash(spark, sf).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
  }

  test("text quality scores are within [0, 1]") {
    val q = Text.quality(spark, sf)
    assert(q.where(col("quality") < 0 || col("quality") > 1.0001).count() === 0)
  }

  test("bpe tokens never fewer than whitespace tokens on this corpus") {
    val t = Text.tokenCount(spark, sf)
    assert(t.where(col("bpe_tokens") < col("ws_tokens")).count() === 0)
  }

  test("salted join is semantically identical to the plain join") {
    val orders = Tables.orders(spark, sf)
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"))
    val plain = orders.join(dim, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name")
    val salted = Skew.saltedJoin(
      orders.withColumnRenamed("o_custkey", "c_custkey"), dim, "c_custkey", 8)
      .select("o_orderkey", "c_name")
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("risk: 1y return of exactly 0.0 falls back to the ytd return") {
    import spark.implicits._
    // pct series +0.5 then -0.5 → avg 0 → pow(1,365)-1 = 0.0 exactly;
    // ytd compounded = 1.5 * 0.5 - 1 = -0.25 (reference quirk §8.8)
    val strat = Seq(
      ("2024-03-01", 100.0), ("2024-03-02", 150.0), ("2024-03-03", 75.0)
    ).toDF("d", "tvl").select(to_date(col("d")).as("date"), col("tvl"))
    val bench = Seq(
      ("2024-03-01", 100.0), ("2024-03-02", 110.0), ("2024-03-03", 121.0)
    ).toDF("d", "bench").select(to_date(col("d")).as("date"), col("bench"))
    val row = Risk.riskFromSeries(strat, bench).collect().head
    assert(row.getAs[Double]("return_1y") === -0.25)
    // sharpe keeps the NON-fallen-back annual return (reference :454-456)
    assert(row.getAs[Double]("sharpe") === 0.0)
  }

  test("risk: nonzero 1y return is NOT replaced by ytd") {
    import spark.implicits._
    val strat = Seq(
      ("2024-03-01", 100.0), ("2024-03-02", 150.0), ("2024-03-03", 90.0)
    ).toDF("d", "tvl").select(to_date(col("d")).as("date"), col("tvl"))
    val bench = Seq(
      ("2024-03-01", 100.0), ("2024-03-02", 110.0), ("2024-03-03", 121.0)
    ).toDF("d", "bench").select(to_date(col("d")).as("date"), col("bench"))
    val row = Risk.riskFromSeries(strat, bench).collect().head
    // avg pct = (0.5 - 0.4) / 2 = 0.05 → (1.05)^365 - 1, definitely not ytd (= 0.35)
    val expected = math.pow(1.05, 365.0) - 1.0
    assert(math.abs(row.getAs[Double]("return_1y") - expected) < 1e-4)
  }

  test("risk: an empty trailing window yields no row, not an all-null one") {
    import spark.implicits._
    def series(col0: String, pts: (String, Double)*) =
      pts.toDF("d", col0).select(to_date(col("d")).as("date"), col(col0))
    val bench = series("bench", "2024-03-01" -> 100.0, "2024-03-02" -> 110.0, "2024-03-03" -> 121.0)
    // one day: no day-over-day change at all
    assert(Risk.riskFromSeries(series("tvl", "2024-03-02" -> 100.0), bench).count() === 0)
    // no date in common with the benchmark
    val disjoint = series("tvl", "2023-03-01" -> 100.0, "2023-03-02" -> 150.0, "2023-03-03" -> 90.0)
    assert(Risk.riskFromSeries(disjoint, bench).count() === 0)
  }

  test("banded near-dup finds constructed near-duplicates via candidates only") {
    import spark.implicits._
    val dims = 64
    val base = (0 until dims).map(i => if (i % 3 == 0) -1.0 else 1.0).toArray
    val nearDup = base.clone(); nearDup(40) = base(40) * 0.5 // same signs everywhere
    val ortho = (0 until dims).map(i => if (i % 2 == 0) 1.0 else -1.0).toArray
    val v = Seq((1L, base), (2L, nearDup), (3L, ortho))
      .toDF("vec_id", "v")
      .withColumn("norm", sqrt(graft.functions.VectorFunctions.dot(spark, col("v"), col("v"))))
    val pairs = Similarity.cosineNearDupFrom(spark, v).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Long]("doc_a") === 1L && pairs.head.getAs[Long]("doc_b") === 2L)
    assert(pairs.head.getAs[Double]("cos") >= 0.99)
  }

  test("ivf nprobe=2 recovers a boundary vector's true NN that nprobe=1 misses") {
    import spark.implicits._
    // query 0 sits between cells: nearest CENTROID is "a" (it points
    // ~10° off a's members) but its nearest VECTOR is b1 in cell "b"
    val rows = Seq(
      (0L, Array(0.9, 0.44, 0.0, 0.0), "a"),
      (10L, Array(1.0, 0.0, 0.0, 0.0), "a"),
      (11L, Array(0.99, 0.05, 0.0, 0.0), "a"),
      (12L, Array(0.8, 0.6, 0.0, 0.0), "b"),
      (13L, Array(0.0, 1.0, 0.0, 0.0), "b"))
    val v = rows.toDF("vec_id", "v", "label")
      .withColumn("norm", sqrt(graft.functions.VectorFunctions.dot(spark, col("v"), col("v"))))
    val p1 = Similarity.ivfTopKFrom(spark, v, nprobe = 1).collect()
    assert(p1.nonEmpty && !p1.exists(_.getAs[Long]("nbr_id") == 12L),
      "one-probe IVF must not see across the cell boundary")
    val best2 = Similarity.ivfTopKFrom(spark, v, nprobe = 2).collect()
      .filter(_.getAs[Long]("rank") == 1L)
    assert(best2.length === 1)
    assert(best2.head.getAs[Long]("nbr_id") === 12L)
    assert(best2.head.getAs[String]("cell") === "b")
  }

  test("similarity plans stay free of cartesian/nested-loop joins") {
    // regression guard for the round-1 scale-killer: candidates must
    // come from LSH equi-joins, never an all-pairs non-equi join.
    // (sim_topk is exempt: its brute-force pass IS the documented
    // baseline, bounded to 10 broadcast query rows.)
    Seq(
      "sim_neardup" -> Similarity.cosineNearDup(spark, sf),
      "sim_lsh" -> Similarity.lshTopK(spark, sf),
      "sim_centroids" -> Similarity.labelCentroids(spark, sf)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains a cartesian/nested-loop join:\n$plan")
    }
  }

  test("distributed drawdown query matches the windowed risk drawdown") {
    val q = graft.ops.Drawdown.drawdownQuery(spark, sf).collect().head
    assert(q.getAs[Double]("max_drawdown") <= 0.0)
    assert(!q.getAs[java.sql.Date]("peak_date").after(q.getAs[java.sql.Date]("valley_date")))
    assert(q.getAs[Long]("duration") >= 0)
  }

  test("multimodal decode: one decoded row per doc, stats in range") {
    val docs = Tables.documents(spark, sf).count()
    val decoded = Multimodal.decode(spark, sf)
    assert(decoded.count() === docs)
    // real 8×8 images: dims from the platform codec, channel sums bounded
    val bad = decoded.where(col("width") =!= 8 || col("height") =!= 8 ||
      col("sum_rgb") < 0 || col("sum_rgb") > 3L * 64 * 255 ||
      col("px00_rgb") < 0 || col("px00_rgb") > 3L * 255).count()
    assert(bad === 0)
  }

  test("funnel counts each stage strictly after the previous stage entry") {
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      // A: fully ordered signup -> click -> purchase
      (1L, "signup", t(1)), (1L, "click", t(2)), (1L, "purchase", t(3)),
      // B: click BEFORE signup — a naive per-type min() would count it
      (2L, "click", t(1)), (2L, "signup", t(2)), (2L, "purchase", t(3)),
      // C: purchase before the qualifying click — stages 1 and 2 only
      (3L, "signup", t(1)), (3L, "purchase", t(2)), (3L, "click", t(3)),
      // D: never signed up — no stage at all
      (4L, "click", t(1)), (4L, "purchase", t(2))
    ).toDF("user_id", "event_type", "ts")
    val out = Events.funnelFrom(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("1_signup") === 3)
    assert(out("2_click") === 2)
    assert(out("3_purchase") === 1)
  }

  test("retention: offset-0 cell covers every user, offsets never negative") {
    val r = Events.retention(spark, sf)
    val total = Tables.events(spark, sf).select("user_id").distinct().count()
    val atZero = r.where(col("week_offset") === 0)
      .agg(sum(col("users"))).first().getLong(0)
    // every user is active in their own cohort week by construction
    assert(atZero === total)
    assert(r.where(col("week_offset") < 0).count() === 0)
  }

  test("z-score anomaly gates on 30 prior rows and flags from rounded z") {
    val rows = TimeSeries.zscoreAnomaly(spark, sf).collect()
    assert(rows.take(30).forall(_.isNullAt(2)), "rows before the gate must be unscored")
    assert(rows.drop(30).forall(!_.isNullAt(2)), "rows past the gate must be scored")
    rows.foreach { r =>
      if (r.isNullAt(2)) assert(!r.getBoolean(3))
      else assert(r.getBoolean(3) === (math.abs(r.getDouble(2)) > 2.0))
    }
  }

  test("kmeans assigns satellites to their seed's cluster") {
    import spark.implicits._
    // 4 far-apart seeds (ids 0..3 = the deterministic init), one
    // satellite near each; 2 Lloyd iterations must keep each satellite
    // with its corner's centroid
    val v = Seq(
      0L -> Array(0.0, 0.0), 1L -> Array(100.0, 0.0),
      2L -> Array(0.0, 100.0), 3L -> Array(100.0, 100.0),
      4L -> Array(1.0, 0.0), 5L -> Array(99.0, 0.0),
      6L -> Array(0.0, 99.0), 7L -> Array(99.0, 100.0)
    ).toDF("vec_id", "v")
    val m = Similarity.kmeansFrom(spark, v, k = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(4) === 0 && m(5) === 1 && m(6) === 2 && m(7) === 3)
    assert(m(0) === 0 && m(1) === 1 && m(2) === 2 && m(3) === 3)
  }

  test("windowed funnel drops conversions outside the lag bound") {
    import spark.implicits._
    def t(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val ev = Seq(
      // A converts within the window at every stage
      (1L, "signup", t(1, 0)), (1L, "click", t(3, 0)), (1L, "purchase", t(5, 0)),
      // B clicks 8 days after signup — outside the 7-day window
      (2L, "signup", t(1, 0)), (2L, "click", t(9, 1)), (2L, "purchase", t(10, 0)),
      // C clicks at exactly 7 days (inclusive bound), purchases late
      (3L, "signup", t(1, 0)), (3L, "click", t(8, 0)), (3L, "purchase", t(20, 0))
    ).toDF("user_id", "event_type", "ts")
    val strict = Events.funnelFrom(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val windowed = Events.funnelFrom(ev, maxLag = Some("7 DAYS")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(strict("2_click") === 3 && strict("3_purchase") === 3)
    assert(windowed("1_signup") === 3)
    assert(windowed("2_click") === 2, "B's 8-day click must fall outside the window")
    assert(windowed("3_purchase") === 1, "only A converts fully inside the window")
  }

  test("seasonality: 7 dow rows partitioning all days, indexes centered on 1") {
    val s = TimeSeries.seasonality(spark, sf).collect()
    assert(s.length === 7)
    assert(s.map(_.getLong(1)).sum ===
      TimeSeries.dailyOrderRevenue(spark, sf).count())
    // day-count-weighted mean of the seasonal index is exactly 1
    val weighted = s.map(r => r.getDouble(3) * r.getLong(1)).sum / s.map(_.getLong(1)).sum
    assert(math.abs(weighted - 1.0) < 1e-4)
  }

  test("per-segment anomaly gates independently per series") {
    val rows = TimeSeries.zscoreAnomalyBySegment(spark, sf)
      .orderBy("name", "date").collect()
    rows.groupBy(_.getString(0)).foreach { case (_, seg) =>
      assert(seg.take(30).forall(_.isNullAt(3)), "per-segment gate must restart")
      assert(seg.drop(30).forall(!_.isNullAt(3)))
    }
  }

  test("rp audit reports a bounded projected cosine for each true neighbor") {
    val a = Similarity.rpAudit(spark, sf).persist()
    assert(a.count() === 30) // 10 query vectors x top-3
    assert(a.where(col("cos16") < -1.0 || col("cos16") > 1.0).count() === 0)
    val bad = a.where(round(abs(col("cos64") - col("cos16")), 6) =!= col("err")).count()
    assert(bad === 0)
    a.unpersist()
  }

  test("novelty: first document is fully novel, fractions well-formed") {
    val n = Text.novelty(spark, sf).persist()
    val first = n.orderBy("doc_id").first()
    assert(first.getDouble(3) === 1.0, "doc 0 has no earlier corpus to repeat")
    assert(n.where(col("n_novel") > col("n_bigrams") ||
      col("novelty") < 0 || col("novelty") > 1).count() === 0)
    // every distinct bigram is novel in exactly one document
    val totalNovel = n.agg(sum(col("n_novel"))).first().getLong(0)
    val distinctBigrams = Tables.documents(spark, sf)
      .select(explode(expr(
        "zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), slice(split(text, ' '), 2, size(split(text, ' ')) - 1), (x, y) -> struct(x, y))")).as("bg"))
      .distinct().count()
    assert(totalNovel === distinctBigrams)
    n.unpersist()
  }

  test("IQR outliers: fences honored and counts within bounds") {
    val o = Events.valueOutliers(spark, sf).persist()
    assert(o.count() === 5) // one row per event type
    assert(o.where(col("q3") < col("q1") || col("n_outliers") > col("n")).count() === 0)
    // by construction ~half the mass sits inside [q1, q3]
    assert(o.where(col("n_outliers") > col("n") / 2).count() === 0)
    o.unpersist()
  }

  test("grouping sets returns exactly the cube's two marginals") {
    val gs = Relational.groupingSetsRevenue(spark, sf).persist()
    // g encodes which keys are aggregated away: 1 = (status) marginal,
    // 2 = (year) marginal; the grand total (3) and cross detail (0)
    // belong to cube/rollup only
    assert(gs.where(!col("g").isin(1L, 2L)).count() === 0)
    val cubeMarginals = Relational.cubeRevenue(spark, sf)
      .where(col("g").isin(1L, 2L)).count()
    assert(gs.count() === cubeMarginals)
    gs.unpersist()
  }

  test("autocorrelation: bounded coefficients over shrinking overlaps") {
    val a = TimeSeries.autocorrelation(spark, sf).collect()
    assert(a.map(_.getLong(0)).toSeq === Seq(1L, 7L, 30L))
    a.foreach(r => assert(math.abs(r.getDouble(1)) <= 1.0))
    // overlap shrinks as the lag grows
    assert(a(0).getLong(2) > a(1).getLong(2) && a(1).getLong(2) > a(2).getLong(2))
  }

  test("entropy is bounded by the log alphabet size per document") {
    val e = Text.entropy(spark, sf).persist()
    assert(e.count() ===
      Tables.documents(spark, sf).where(length(col("text")) >= 1).count())
    val bad = e.where(col("entropy") < 0 ||
      col("entropy") > log(col("n_distinct_chars").cast("double")) + 1e-6).count()
    assert(bad === 0, "0 <= H <= ln(|alphabet|) must hold")
    e.unpersist()
  }

  test("markov transitions: rows conserve events and probabilities sum to 1") {
    val t = Events.transitions(spark, sf).persist()
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    // each user's stream of length L contributes L-1 transitions
    assert(t.agg(sum(col("n"))).first().getLong(0) === nEvents - nUsers)
    val sums = t.groupBy("from_type").agg(sum(col("p")).as("s")).collect()
    sums.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-4,
      s"row ${r.getString(0)} probabilities sum to ${r.getDouble(1)}"))
    t.unpersist()
  }

  test("attribution conserves purchases and only credits real channels") {
    val a = Events.attribution(spark, sf)
    val totalPurchases = Tables.events(spark, sf)
      .where(col("event_type") === "purchase").count()
    assert(a.agg(sum(col("purchases"))).first().getLong(0) === totalPurchases)
    val channels = a.select("channel").collect().map(_.getString(0)).toSet
    assert(channels.subsetOf(Set("signup", "view", "click", "error", "none")),
      s"unexpected channel in $channels")
  }

  test("lm score is a negative mean log-probability with one bigram per adjacent pair") {
    val s = Text.lmScore(spark, sf).persist()
    assert(s.where(col("lm_score") >= 0).count() === 0,
      "smoothed bigram probabilities are < 1, so mean log must be negative")
    // every doc with >= 2 tokens contributes (n_tokens - 1) bigrams
    val expected = Tables.documents(spark, sf)
      .select((size(split(col("text"), " ")) - 1).cast("bigint").as("nb"))
      .where(col("nb") >= 1).agg(sum(col("nb"))).first().getLong(0)
    assert(s.agg(sum(col("n_bigrams"))).first().getLong(0) === expected)
    s.unpersist()
  }

  test("histogram partitions the orders table exactly") {
    val h = Relational.histogram(spark, sf)
    assert(h.agg(sum(col("n"))).first().getLong(0) === Tables.orders(spark, sf).count())
    assert(h.where(col("bucket") < 0).count() === 0)
  }

  test("knn graph stays in-cell with consecutive ranks and non-increasing cosine") {
    val g = Similarity.knnGraph(spark, sf).persist()
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
    val crossCell = g.join(emb, "vec_id")
      .join(emb.select(col("vec_id").as("nbr_id"), col("label").as("nbr_label")), "nbr_id")
      .where(col("label") =!= col("nbr_label")).count()
    assert(crossCell === 0, "a neighbor escaped its IVF cell")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy("rank")
    val bad = g
      .withColumn("prev_cos", lag(col("cos"), 1).over(w))
      .withColumn("prev_rank", lag(col("rank"), 1).over(w))
      .where(col("prev_cos") < col("cos") || col("rank") =!= col("prev_rank") + 1)
      .count()
    assert(bad === 0, "ranks must be consecutive with non-increasing cosine")
    g.unpersist()
  }

  test("spans: fractions well-formed and sharing is symmetric-positive") {
    val s = Text.spans(spark, sf).persist()
    assert(s.count() > 0)
    assert(s.where(col("n_shared") > col("n_windows") ||
      col("shared_frac") < 0 || col("shared_frac") > 1).count() === 0)
    // a shared span needs >= 2 docs carrying it, so the number of docs
    // with any shared window is 0 or >= 2 — never exactly 1
    val docsSharing = s.where(col("n_shared") > 0).count()
    assert(docsSharing != 1)
    s.unpersist()
  }

  test("collocations: exactly top-20, counts above floor, deterministic order") {
    val c = Text.collocations(spark, sf).persist()
    assert(c.count() === 20)
    assert(c.where(col("n_ab") < 5).count() === 0)
    val pmis = c.select("pmi").collect().map(_.getDouble(0))
    assert(pmis.sameElements(pmis.sortBy(-_)), "rows must arrive pmi-descending")
    c.unpersist()
  }

  test("pagerank: mass conserved and uniform on the dangling-free graph") {
    val pr = Similarity.pagerank(spark, sf).persist()
    val n = Tables.embeddings(spark, sf).count()
    assert(pr.count() === n)
    assert(pr.where(col("pagerank") <= 0).count() === 0)
    // with the dangling term, total mass stays 1 up to rounding slack
    val total = pr.agg(sum(col("pagerank"))).first().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-3, s"mass drifted: $total")
    spark.sharedState.cacheManager.clearCache()
    pr.unpersist()
  }

  test("inter-event gaps: positive, ordered stats per type") {
    val g = Events.interEventGaps(spark, sf).persist()
    assert(g.count() === 5)
    assert(g.where(col("mean_gap_us") <= 0 || col("p50_gap_us") > col("max_gap_us")).count() === 0)
    g.unpersist()
  }

  test("benford: nine digits, frequencies sum to one") {
    val b = Relational.benford(spark, sf).persist()
    assert(b.count() === 9)
    val freqSum = b.agg(sum(col("freq"))).first().getDouble(0)
    assert(math.abs(freqSum - 1.0) < 1e-4)
    // Benford expectation is fixed: digit 1 ~ 0.30103
    val d1 = b.where(col("digit") === "1").first()
    assert(math.abs(d1.getDouble(3) - 0.30103) < 1e-5)
    b.unpersist()
  }

  test("winsorize: clipped mean moves toward the fence interval") {
    val w = Relational.winsorize(spark, sf).persist()
    assert(w.count() === 5)
    assert(w.where(col("p95") < col("p05") || col("n_clipped") > col("n")).count() === 0)
    // winsorized mean always lies within [p05, p95]
    assert(w.where(col("mean_wins") < col("p05") || col("mean_wins") > col("p95")).count() === 0)
    w.unpersist()
  }

  test("rolling corr: bounded in [-1, 1] and only full windows emitted") {
    val c = TimeSeries.rollingCorr(spark, sf).persist()
    assert(c.count() > 0)
    assert(c.where(col("corr30") < -1.0 || col("corr30") > 1.0).count() === 0)
    c.unpersist()
  }

  test("corr matrix: six unordered pairs, all in [-1, 1]") {
    val m = Relational.corrMatrix(spark, sf).persist()
    assert(m.count() === 6)
    assert(m.where(col("corr") < -1.0 || col("corr") > 1.0).count() === 0)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val expected = (for { i <- cols.indices; j <- cols.indices if i < j }
      yield (cols(i), cols(j))).toSet
    val got = m.select("col_a", "col_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === expected, "one row per unordered column pair")
    m.unpersist()
  }

  test("MAD: non-negative and below the larger median half-range") {
    val m = Relational.medianAbsDev(spark, sf).persist()
    assert(m.count() === 3)
    assert(m.where(col("mad") < 0).count() === 0)
    m.unpersist()
  }

  test("weekly resample: OHLC envelope holds and day counts bounded") {
    val r = TimeSeries.resampleWeekly(spark, sf).persist()
    assert(r.count() > 0)
    assert(r.where(col("high") < col("low") || col("open") > col("high") ||
      col("open") < col("low") || col("close") > col("high") ||
      col("close") < col("low") || col("n_days") > 7).count() === 0)
    // weeks partition the daily series
    val days = TimeSeries.dailyOrderRevenue(spark, sf).count()
    assert(r.agg(sum(col("n_days"))).first().getLong(0) === days)
    r.unpersist()
  }

  test("langid eval: per-language rows normalize to 1") {
    val e = Text.langIdEval(spark, sf).persist()
    assert(e.count() >= 5) // at least the diagonal
    val sums = e.groupBy("lang").agg(sum(col("frac")).as("s"))
      .where(abs(col("s") - 1.0) > 1e-4).count()
    assert(sums === 0, "row shares must sum to 1 within each true lang")
    e.unpersist()
  }

  test("source mix: corpus shares sum to 1 and char mass positive") {
    val m = Text.sourceMix(spark, sf).persist()
    assert(m.count() > 0)
    val shareSum = m.agg(sum(col("doc_share"))).first().getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-3)
    assert(m.where(col("total_chars") <= 0 || col("mean_chars") <= 0).count() === 0)
    m.unpersist()
  }

  test("skew audit: one summary row with consistent bounds") {
    val a = Relational.skewAudit(spark, sf).persist()
    assert(a.count() === 1)
    val r = a.first()
    val (nRows, nKeys, maxCnt) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(maxCnt <= nRows && nKeys <= nRows)
    assert(r.getDouble(5) <= math.log(nKeys.toDouble) + 1e-6, "entropy bounded by ln(n_keys)")
    spark.sharedState.cacheManager.clearCache()
    a.unpersist()
  }

  test("cumulative users: running total ends at distinct-user count") {
    val c = Events.cumulativeUsers(spark, sf).persist()
    val totalUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    val last = c.orderBy(col("date").desc).first()
    assert(last.getLong(2) === totalUsers)
    assert(c.agg(sum(col("n_new"))).first().getLong(0) === totalUsers)
    c.unpersist()
  }

  test("bpe pairs: exactly top-20, all single characters, descending counts") {
    val p = Text.bpePairs(spark, sf).persist()
    assert(p.count() === 20)
    assert(p.where(length(col("a")) =!= 1 || length(col("b")) =!= 1).count() === 0)
    val ns = p.select("n").collect().map(_.getLong(0))
    assert(ns.sameElements(ns.sortBy(-_)))
    p.unpersist()
  }

  test("triangles: consistent with a driver-side count on the same edges") {
    val t = Similarity.triangles(spark, sf).persist()
    // reference: brute-force triangle enumeration on the collected
    // (tiny at test SF) canonical edge set
    val edges = Similarity.knnGraph(spark, sf)
      .select(col("vec_id"), col("nbr_id")).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val expected = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (a, b) <- edges
      c <- nodes if b < c && edges((b, c)) && edges((a, c))
    } { expected(a) += 1; expected(b) += 1; expected(c) += 1 }
    val got = t.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected.toMap)
    spark.sharedState.cacheManager.clearCache()
    t.unpersist()
  }

  test("neardup sweep: 13 monotone-decreasing cumulative counts") {
    val s = Similarity.nearDupSweep(spark, sf).persist()
    assert(s.count() === 13)
    val ns = s.orderBy("threshold").select("n_pairs").collect().map(_.getLong(0))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
      "cumulative counts must not increase with threshold")
    assert(ns.head > 0, "loosest threshold must see some pairs")
    spark.sharedState.cacheManager.clearCache()
    s.unpersist()
  }

  test("ann recall audit: rank consistency and bounded query side") {
    val r = Similarity.annRecall(spark, sf).persist()
    assert(r.count() <= 10, "one row per query vector at most")
    assert(r.where(col("vec_id") >= 10).count() === 0)
    // in_top3 is exactly true_rank's presence, and ranks are 1..3
    assert(r.where(col("in_top3") =!= col("true_rank").isNotNull).count() === 0)
    assert(r.where(col("true_rank") < 1 || col("true_rank") > 3).count() === 0)
    r.unpersist()
  }

  test("zipf fit: one row, negative slope, r2 in range, rank count bounded") {
    val z = Text.zipfFit(spark, sf).persist()
    assert(z.count() === 1)
    val r = z.first()
    assert(r.getDouble(0) < 0, "rank-frequency slope must be negative")
    assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1)
    assert(r.getLong(3) <= 50)
    z.unpersist()
  }

  test("percentile bands: ordered envelope, median inside it") {
    val b = TimeSeries.percentileBands(spark, sf).persist()
    assert(b.count() > 0)
    assert(b.where(col("p10") > col("p50") || col("p50") > col("p90")).count() === 0)
    b.unpersist()
  }

  test("fk integrity: five edges, orphan counts bounded, clean testdata") {
    val f = Relational.fkIntegrity(spark, sf).persist()
    assert(f.count() === 5)
    assert(f.where(col("n_orphans") > col("n_rows")).count() === 0)
    // the testdata is referentially clean
    assert(f.agg(sum(col("n_orphans"))).first().getLong(0) === 0L)
    f.unpersist()
  }

  test("promo share: shares partition the revenue total") {
    val p = Relational.promoShare(spark, sf).persist()
    assert(p.count() === 6) // one row per part type
    val shareSum = p.agg(sum(col("rev_share"))).first().getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-4)
    assert(p.where(col("revenue") <= 0 || col("n_items") <= 0).count() === 0)
    p.unpersist()
  }

  test("top users: exactly ten, descending totals") {
    val t = Events.topUsers(spark, sf).persist()
    assert(t.count() === 10)
    val vals = t.select("total_value").collect().map(_.getDouble(0))
    assert(vals.sameElements(vals.sortBy(-_)))
    t.unpersist()
  }

  test("scd2: consecutive versions, adjacent states differ, one open interval per user") {
    val s = Events.scd2(spark, sf).persist()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    // every user has a history, exactly one open (current) version
    assert(s.select("user_id").distinct().count() === users)
    assert(s.where(col("is_current")).count() === users)
    assert(s.where(col("valid_to").isNull && !col("is_current")).count() === 0)
    // versions are 1..n dense per user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("version")
    val chained = s
      .withColumn("prev_v", lag(col("version"), 1).over(w))
      .withColumn("prev_state", lag(col("state"), 1).over(w))
      .withColumn("prev_to", lag(col("valid_to"), 1).over(w))
    assert(chained.where(col("prev_v").isNotNull &&
      col("version") =!= col("prev_v") + 1).count() === 0)
    // change detection: adjacent versions never carry the same state,
    // and intervals tile exactly (no gap, no overlap)
    assert(chained.where(col("prev_state").isNotNull &&
      col("state") === col("prev_state")).count() === 0)
    assert(chained.where(col("prev_to").isNotNull &&
      col("prev_to") =!= col("valid_from")).count() === 0)
    s.unpersist()
  }

  test("seg dedup: exact-duplicate docs are fully duplicated, token mass conserved") {
    val sd = Text.segDedup(spark, sf).persist()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
    assert(sd.count() === docs.count())
    // kept token mass never exceeds the doc's token count; fractions well-formed
    val j = sd.join(docs, "doc_id")
    assert(j.where(col("kept_toks") > col("n_toks")).count() === 0)
    assert(j.where(col("n_dup") > col("n_segs")).count() === 0)
    assert(j.where(col("dup_frac") < 0.0 || col("dup_frac") > 1.0).count() === 0)
    // a doc with a verbatim twin (exact dedup group of >= 2) has every
    // segment duplicated: dup_frac = 1 and nothing survives
    val twins = Dedup.exact(spark, sf).where(!col("keep")).select("doc_id")
    val twinRows = sd.join(twins, "doc_id")
    if (twinRows.count() > 0) {
      assert(twinRows.where(col("dup_frac") =!= 1.0).count() === 0)
      assert(twinRows.where(col("kept_toks") =!= 0L).count() === 0)
    }
    sd.unpersist()
  }

  test("substr dedup merges unaligned shared substrings into maximal spans") {
    import spark.implicits._
    val S = (1 to 15).map(i => s"s$i").mkString(" ")   // 15-token shared span
    val T = (1 to 12).map(i => s"t$i").mkString(" ")   // 12-token shared span
    val docs = Seq(
      // S at offset 8 (unaligned vs doc 2's offset 7)
      (1L, (1 to 8).map(i => s"a$i").mkString(" ") + " " + S + " " +
        (1 to 9).map(i => s"b$i").mkString(" ")),
      (2L, (1 to 7).map(i => s"c$i").mkString(" ") + " " + S + " " +
        (1 to 4).map(i => s"d$i").mkString(" ")),
      (3L, (1 to 12).map(i => s"e$i").mkString(" ")),  // fully unique
      (4L, "p q r s t"),                               // short exact twins
      (5L, "p q r s t"),
      // two DISJOINT shared spans -> two maximal spans, not one
      (6L, S + " " + (1 to 20).map(i => s"f$i").mkString(" ") + " " + T),
      (7L, (1 to 5).map(i => s"g$i").mkString(" ") + " " + T)
    ).toDF("doc_id", "text")
    val out = Text.substrDedupFrom(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // 15-token span at any alignment: one maximal span covering 15 tokens
    assert(out(1L) === ((32L, 1L, 15L, 15.0 / 32)))
    assert(out(2L) === ((26L, 1L, 15L, math.rint(15.0 / 26 * 1e6) / 1e6)))
    assert(out(3L) === ((12L, 0L, 0L, 0.0)))
    // sub-10-token exact twins pair through the whole-doc shingle
    assert(out(4L) === ((5L, 1L, 5L, 1.0)))
    assert(out(5L) === ((5L, 1L, 5L, 1.0)))
    // disjoint S and T stay two spans; covered mass is their sum
    assert(out(6L) === ((47L, 2L, 27L, math.rint(27.0 / 47 * 1e6) / 1e6)))
    assert(out(7L) === ((17L, 1L, 12L, math.rint(12.0 / 17 * 1e6) / 1e6)))
  }

  test("substr apply keeps one copy per shingle (lowest doc) and removes the rest") {
    import spark.implicits._
    val S = (1 to 15).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 8).map(i => s"a$i").mkString(" ") + " " + S),  // keeper of S
      (2L, (1 to 7).map(i => s"c$i").mkString(" ") + " " + S +
        " " + (1 to 4).map(i => s"d$i").mkString(" ")),         // loses S
      (3L, (1 to 12).map(i => s"e$i").mkString(" ")),           // untouched
      (4L, "p q r s t"),                                        // short-twin keeper
      (5L, "p q r s t")                                         // short twin loses all
    ).toDF("doc_id", "text")
    val out = Text.substrDedupApplyFrom(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // keeper docs keep full text: removed 0, hash = md5 of original
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L)._2 === 0L)
    assert(out(1L)._4 === md5((1 to 8).map(i => s"a$i").mkString(" ") + " " + S))
    // doc 2 removes exactly the 15-token span, keeping prefix + suffix
    assert(out(2L) === ((26L, 15L, 11L,
      md5((1 to 7).map(i => s"c$i").mkString(" ") + " " + (1 to 4).map(i => s"d$i").mkString(" ")))))
    assert(out(3L)._2 === 0L)
    assert(out(4L) === ((5L, 0L, 5L, md5("p q r s t"))))
    // whole-doc twin: everything removed, clean text is empty
    assert(out(5L) === ((5L, 5L, 0L, md5(""))))
  }

  test("pq: codes from the seed lineage, full coverage, nonneg reconstruction") {
    val out = Similarity.pq(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(out.length === n) // every vector gets a code word
    out.foreach { r =>
      // codebooks descend from the 8 lowest-vec_id seeds in every subspace
      (1 to 4).foreach(i => assert(r.getLong(i) >= 0 && r.getLong(i) < 8))
      assert(r.getDouble(5) >= 0.0)
    }
    // compression is real: 500 vectors share at most 8^4 code words,
    // and the codebook actually separates (more than one word used)
    val words = out.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).distinct
    assert(words.length > 1 && words.length <= out.length)
  }

  test("dbscan: cores, chain borders, isolated core, noise") {
    import spark.implicits._
    // unit circle in the xy-plane: adjacency (cos >= 0.35 ~ 69.5deg)
    // forms the chain 1-2-3-4, so 2 and 3 are cores (degree 2) and
    // 1/4 are borders of cluster 2; hub 6 (z-halfspace, orthogonal to
    // the chain) has two spokes 5/7 that are NOT adjacent to each
    // other -> 6 is a core with no core neighbor (singleton cluster),
    // 5/7 its borders; 8 is anti-parallel to everything -> noise
    // pad to 32 dims: the band signature reads dims 1..32 (ANSI
    // element_at), and zero pads leave cosines untouched
    def pad(v: Seq[Float]) = v ++ Seq.fill(32 - v.length)(0f)
    def ang(d: Double) = pad(Seq(math.cos(math.toRadians(d)).toFloat, math.sin(math.toRadians(d)).toFloat, 0f))
    val emb = Seq(
      (1L, ang(0), 0), (2L, ang(40), 0), (3L, ang(80), 0), (4L, ang(120), 0),
      (5L, pad(Seq(0f, 0f, 1f)), 0), (6L, pad(Seq(0f, -0.643f, 0.766f)), 0),
      // noise: orthogonal to the chain plane, anti-parallel to the hub set
      (7L, pad(Seq(0f, -0.985f, 0.174f)), 0), (8L, pad(Seq(0f, 0f, -1f)), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.dbscanFrom(spark, emb).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out(2L) === (("core", 2L)) && out(3L) === (("core", 2L)))
    assert(out(1L) === (("border", 2L)) && out(4L) === (("border", 2L)))
    assert(out(6L) === (("core", 6L)))   // isolated core self-roots
    assert(out(5L) === (("border", 6L)) && out(7L) === (("border", 6L)))
    assert(out(8L) === (("noise", -1L)))
  }

  test("winnow: match guarantee, rightmost tie-break, boilerplate cap") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog again and again and once more for luck"
    def pad(c: Char, n: Int) = (0 until n).map(i => ('a' + (i * 7 + c) % 26).toChar).mkString
    val docs = Seq(
      (1L, pad('q', 40) + shared + pad('z', 30)),   // shared block, offset 40
      (2L, pad('k', 17) + shared + pad('m', 55)),   // same block, offset 17
      (3L, "0123456789" * 6)                         // unique content
    ).toDF("doc_id", "text")
    val fps = Text.winnowFrom(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r => (r.getLong(1), r.getString(2))).toSet).toMap
    // winnowing guarantee: a shared substring of length >= k+w-1 = 23
    // yields >= 1 shared HASH whatever the alignment (positions differ)
    val sharedHashes = fps(1L).map(_._2) intersect fps(2L).map(_._2)
    assert(sharedHashes.nonEmpty)
    assert((fps(3L).map(_._2) intersect fps(1L).map(_._2)).isEmpty)
    // selection density: winnowing keeps ~2/(w+1) of positions, never
    // more than one per window — far fewer than the shingle count
    assert(fps(1L).size < (40 + shared.length + 30 - 7) / 2)

    // rightmost tie-break: all shingles of a constant doc hash equal,
    // so EVERY window must select its rightmost position -> selected
    // positions are exactly [w..n_shingles] (leftmost would give [1..8])
    val const = Seq((9L, "a" * 30)).toDF("doc_id", "text") // 23 shingles, 8 windows
    val cfps = Text.winnowFrom(const).collect().map(r => r.getLong(1)).sorted
    assert(cfps.toSeq === (16L to 23L))

    // cap: 10 identical docs put every fp in 10 > 8 postings -> no pairs;
    // the two genuinely-overlapping docs pair with containment in (0,1]
    val viral = (10L to 19L).map(i => (i, "x" + shared + shared + "y")).toDF("doc_id", "text")
    val out = Text.winnowOverlapFrom(docs.union(viral)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.forall { case (a, b, _, _) => a < 10 && b < 10 })
    val pair = out.find { case (a, b, _, _) => a == 1L && b == 2L }
    assert(pair.nonEmpty)
    assert(pair.get._3 >= 2 && pair.get._4 > 0 && pair.get._4 <= 1.0)
  }

  test("ev_hll: every split's union stays in the error envelope; coupon regime exact") {
    import org.apache.spark.sql.functions._
    val out = ops.Events.hllSketches(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getBoolean(2)), "daily vs %7 unions drifted past 2% of exact")
    assert(out.forall(_.getBoolean(3)), "estimate drifted past 5% of exact")

    // sf0.001 cardinalities sit far below lgK=12's sparse→dense
    // promotion, so partials carry exact coupons and EVERY split —
    // including the adversarial one-partial-per-user — must union to
    // the exact distinct count (coupon-regime exactness; tolerance
    // only becomes the contract once partials promote, per the
    // hllSketches doc)
    val ev = Tables.events(spark, sf)
    def est(split: org.apache.spark.sql.Column) =
      ev.groupBy(col("event_type"), split.as("g"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    for (split <- Seq(to_date(col("ts")), col("user_id") % 7, col("user_id")))
      assert(est(split) === exact, s"coupon-regime union not exact for split $split")
  }

  test("qclf: trained weights are dense and scores rank labels above chance") {
    val w = Text.qclfTrain(spark, sf).collect()
    assert(w.length === 64)
    assert(w.map(_.getLong(0)).toSeq === (0L until 64L))
    assert(w.exists(_.getDouble(1) != 0.0), "training left every weight at zero")

    val s = Text.qclfScore(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(s.length === nDocs, "one score row per document")
    assert(s.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    assert(s.forall(r => (r.getLong(3) == 1L) == (r.getDouble(2) >= 0.5)),
      "pred must be the 0.5-thresholded score")

    // AUC: the distributed histogram form must equal a brute-force
    // midrank computation on the same scores, exactly
    val auc = Text.qclfAuc(spark, sf).collect().head
    val scores = s.map(r => (r.getDouble(2), r.getDouble(1)))
    val p = scores.count(_._2 == 1.0).toLong
    val n = scores.length - p
    val byScore = scores.groupBy(_._1).toSeq.sortBy(_._1)
    var cum = 0L; var s2 = 0L
    for ((_, grp) <- byScore) {
      val cs = grp.length.toLong; val ps = grp.count(_._2 == 1.0).toLong
      s2 += ps * (2L * cum + cs + 1L); cum += cs
    }
    val bruteAuc = BigDecimal((s2.toDouble / 2.0 - p.toDouble * (p + 1.0) / 2.0) /
      (p.toDouble * n.toDouble)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(auc.getLong(0) === p && auc.getLong(1) === n)
    assert(BigDecimal(auc.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      === bruteAuc)
    assert(auc.getDouble(2) > 0.5, "trained ranking must beat chance")
  }
}

object OperatorsSpec {
  /** One document's CDC chunks computed sequentially, without windows:
    * the pure reference for [[Text.cdcChunksDocs]]. A cut follows any
    * position >= 3 whose 4-token window's md5 prefix is 0 mod 64; the
    * signature sums md5 slices of the chunk's tokens. Returns
    * (chunk_idx, n_toks, start_pos, sig). Lives on the companion so
    * the Dataset closure that calls it captures no spec instance. */
  def cdcChunksOf(text: String): Seq[(Long, Long, Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = text.split(" ", -1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var chunk = 0L; var n = 0L; var start = 0L; var sig = 0L
    for (pos <- toks.indices) {
      val win4 = Seq(
        if (pos >= 3) toks(pos - 3) else "",
        if (pos >= 2) toks(pos - 2) else "",
        if (pos >= 1) toks(pos - 1) else "",
        toks(pos)).mkString(" ")
      n += 1
      sig += java.lang.Long.parseLong(hex(toks(pos)).substring(6, 14), 16)
      val cut = pos >= 3 &&
        java.lang.Long.parseLong(hex(win4).substring(0, 6), 16) % 64 == 0
      if (cut) {
        out += ((chunk, n, start, sig))
        chunk += 1; n = 0; sig = 0; start = pos + 1L
      }
    }
    if (n > 0) out += ((chunk, n, start, sig))
    out.toSeq
  }
}
