package graft

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Structured Streaming twins: drive the streams over the static
  * events parquet and reconcile against the batch operators. */
class StreamingSpec extends SparkSpec {

  /** The file stream source tails a directory — stage the single
    * events.parquet into one. */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_events_stream")
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    d.toString
  }

  test("streaming hourly rollup reconciles with the batch rollup") {
    val events = EventStreams.readEvents(spark, eventsDir)
    val q = EventStreams.hourlyRollup(events)
      .writeStream.format("memory").queryName("hr").outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode only emits closed windows; compare the emitted
      // subset row-for-row with the batch twin
      val streamed = spark.table("hr")
        .select(col("hour"), col("event_type"), col("n"), col("total_value"))
      val batch = graft.ops.Events.hourlyRollup(spark, sf)
        .select(col("hour"), col("event_type"), col("n"), col("total_value"))
      val diff = streamed.exceptAll(batch).count()
      assert(diff === 0)
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("availableNow ingest processes only newly arrived files per run") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_ingest")
    val landing = base.resolve("landing"); Files.createDirectory(landing)
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val src = s"$sf/orders.parquet"

    // day 1: one file arrives
    Files.copy(Paths.get(src), landing.resolve("batch1.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    EventStreams.ingestAvailableNow(spark, landing.toString, src, out, ckpt)
    val rows1 = spark.read.parquet(out)
    val n1 = rows1.agg(sum(col("n"))).first().getLong(0)
    assert(n1 === Tables.orders(spark, sf).count())

    // day 2: the same file lands again under a new name (new data) —
    // the checkpointed source picks up ONLY the new file; the complete-
    // mode aggregate now counts both
    Files.copy(Paths.get(src), landing.resolve("batch2.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    EventStreams.ingestAvailableNow(spark, landing.toString, src, out, ckpt)
    val n2 = spark.read.parquet(out).agg(sum(col("n"))).first().getLong(0)
    assert(n2 === 2 * n1)

    // no new files: run is a no-op, output unchanged
    EventStreams.ingestAvailableNow(spark, landing.toString, src, out, ckpt)
    val n3 = spark.read.parquet(out).agg(sum(col("n"))).first().getLong(0)
    assert(n3 === n2)
  }

  test("streaming dedup emits each content key once across redelivered files") {
    import java.nio.file.{Files, Paths}
    val d = Files.createTempDirectory("graft_dedup_stream")
    // the same file delivered twice — at-least-once redelivery
    Files.createSymbolicLink(d.resolve("a.parquet"), Paths.get(s"$sf/events.parquet"))
    Files.createSymbolicLink(d.resolve("b.parquet"), Paths.get(s"$sf/events.parquet"))
    val events = EventStreams.readEvents(spark, d.toString)
    val q = EventStreams.dedupExact(events)
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dd").select("h").distinct().count()
      val emitted = spark.table("dd").count()
      val expected = Tables.events(spark, sf)
        .select(md5(concat_ws("|",
          col("user_id").cast("string"), col("event_type"), col("props"),
          col("value").cast("string"))).as("h"))
        .distinct().count()
      assert(streamed === expected)
      assert(emitted === expected) // no key emitted twice despite redelivery
    } finally q.stop()
  }

  test("stream-stream interval join reconciles with the batch interval join") {
    val events = EventStreams.readEvents(spark, eventsDir)
    val q = EventStreams.clickPurchaseJoin(events)
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attr")
      // batch twin: same interval condition over the static table
      val ev = Tables.events(spark, sf)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      val batch = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("c_user").as("user_id"), col("c_ts"), col("p_ts"), col("value"))
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming sessionization assigns monotone session ids per user") {
    val events = EventStreams.readEvents(spark, eventsDir)
    val q = EventStreams.sessionize(spark, events)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("sess")
      assert(out.count() > 0)
      val bad = out.groupBy("user_id")
        .agg(min("session_id").as("lo"), max("session_id").as("hi"))
        .where(col("lo") < 1).count()
      assert(bad === 0)
      // session count per user should match the batch sessionizer
      val batchSessions = graft.ops.Events.sessionize(spark, sf)
        .groupBy("user_id").agg(max("session_id").as("n_sessions"))
      val streamSessions = out.groupBy("user_id").agg(max("session_id").as("n_sessions"))
      assert(streamSessions.exceptAll(batchSessions).count() === 0)
    } finally q.stop()
  }

  test("streaming sessionization reconciles row-identical boundaries with batch") {
    val events = EventStreams.readEvents(spark, eventsDir)
    val q = EventStreams.sessionize(spark, events)
      .writeStream.format("memory").queryName("sessb").outputMode("append").start()
    try {
      q.processAllAvailable()
      // fold the per-event emissions back to per-session rows: count at
      // the session's last event, duration from the carried start — the
      // invariant is that the streaming path computes THE batch answer
      // (same n_events AND same duration), not merely the same count
      val streamSessions = spark.table("sessb")
        .groupBy("user_id", "session_id")
        .agg(max("n_events").as("n_events"),
          (max(col("last_us")) - min(col("start_us"))).as("duration_us"))
        .select("user_id", "session_id", "n_events", "duration_us")
      val batch = graft.ops.Events.sessionize(spark, sf)
        .select("user_id", "session_id", "n_events", "duration_us")
      assert(streamSessions.count() > 0)
      assert(streamSessions.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamSessions).count() === 0)
    } finally q.stop()
  }

  test("streaming scd2 change stream reconstructs the batch dimension table") {
    val events = EventStreams.readEvents(spark, eventsDir)
    val q = EventStreams.scd2Changes(spark, events)
      .writeStream.format("memory").queryName("scd2s").outputMode("append").start()
    try {
      q.processAllAvailable()
      // valid_to of version k is valid_from of version k+1 (LEAD) —
      // reconstructing the interval table from the change stream must
      // give the batch SCD2 builder's exact rows
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("version")
      val rebuilt = spark.table("scd2s")
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
        .select("user_id", "version", "state", "valid_from_us", "valid_to_us")
      val batch = graft.ops.Events.scd2(spark, sf)
        .select(col("user_id"), col("version").cast("long").as("version"), col("state"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"))
      assert(rebuilt.count() > 0)
      assert(rebuilt.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(rebuilt).count() === 0)
    } finally q.stop()
  }

  test("streaming running totals converge to the batch heavy hitters") {
    val events = EventStreams.readEvents(spark, eventsDir)
    val q = EventStreams.runningUserTotals(spark, events)
      .writeStream.format("memory").queryName("tot").outputMode("update").start()
    try {
      q.processAllAvailable()
      // latest state per user = the final running total; its top-10 by
      // (total desc, user_id) must equal the batch ev_top_users answer
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n").desc)
      val latest = spark.table("tot")
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      val streamTop = latest
        .select(col("user_id"),
          round(col("total").cast("decimal(18,2)").cast("double"), 2).as("total_value"),
          col("n").as("n_purchases"))
        .orderBy(col("total_value").desc, col("user_id")).limit(10)
      val batchTop = graft.ops.Events.topUsers(spark, sf)
        .select(col("user_id"), round(col("total_value"), 2).as("total_value"),
          col("n_purchases"))
      assert(streamTop.exceptAll(batchTop).count() === 0)
      assert(batchTop.exceptAll(streamTop).count() === 0)
    } finally q.stop()
  }

  test("streaming dedup gate decisions match the batch exact dedup") {
    import graft.streaming.DocStreams
    // stage the corpus as two doc_id-ordered halves — two drop-zone
    // files, arrivals respecting ingest order
    val docs = Tables.documents(spark, sf)
    val half = docs.agg(expr("percentile(doc_id, 0.5)")).first().getDouble(0)
    val d = java.nio.file.Files.createTempDirectory("graft_docs_stream").toString
    docs.where(col("doc_id") <= half).coalesce(1).write.parquet(s"$d/h1")
    docs.where(col("doc_id") > half).coalesce(1).write.parquet(s"$d/h2")
    val stream = DocStreams.readDocuments(spark, s"$d/*", s"$sf/documents.parquet")
    val q = DocStreams.dedupGate(spark, stream)
      .writeStream.format("memory").queryName("ddg").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ddg").select("doc_id", "h", "keep")
      val batch = graft.ops.Dedup.exact(spark, sf).select("doc_id", "h", "keep")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming near-dup gate candidates match the batch minhash candidates") {
    import graft.streaming.DocStreams
    val docs = Tables.documents(spark, sf)
    val half = docs.agg(expr("percentile(doc_id, 0.5)")).first().getDouble(0)
    val d = java.nio.file.Files.createTempDirectory("graft_neardup_stream").toString
    docs.where(col("doc_id") <= half).coalesce(1).write.parquet(s"$d/h1")
    docs.where(col("doc_id") > half).coalesce(1).write.parquet(s"$d/h2")
    // a genuinely NEW near-dup arrival: a verbatim copy of the lowest
    // doc under a fresh id — the gate must pair it with the original
    val src = docs.orderBy("doc_id").limit(1)
      .select(lit(999999L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    src.coalesce(1).write.parquet(s"$d/h3")
    val index = graft.ops.Dedup.cappedBandArtifact(spark, sf)
    val stream = DocStreams.readDocuments(spark, s"$d/*", s"$sf/documents.parquet")
    val q = DocStreams.nearDupGate(spark, stream, index)
      .writeStream.format("memory").queryName("ndg").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ndg").where(col("doc_b") =!= 999999L)
      val batch = graft.ops.Dedup.minhashCandidates(spark, sf).select("doc_a", "doc_b")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
      // the new arrival collided with its original (it may also pair
      // with the original's own bucket-mates — that's correct gate
      // behavior, not noise)
      val novel = spark.table("ndg").where(col("doc_b") === 999999L)
        .collect().map(_.getLong(0)).toSet
      assert(novel.contains(docs.orderBy("doc_id").limit(1).collect().head.getLong(0)))
    } finally q.stop()
  }

  test("streaming partial-copy gate pairs match the batch winnow overlap") {
    import graft.streaming.DocStreams
    import graft.ops.Text
    val docs = Tables.documents(spark, sf)
    val half = docs.agg(expr("percentile(doc_id, 0.5)")).first().getDouble(0)
    val d = java.nio.file.Files.createTempDirectory("graft_winnow_stream").toString
    docs.where(col("doc_id") <= half).coalesce(1).write.parquet(s"$d/h1")
    docs.where(col("doc_id") > half).coalesce(1).write.parquet(s"$d/h2")
    // a new arrival sharing one long block with the lowest doc: a
    // partial copy the gate must pair with its source
    val src0 = docs.orderBy("doc_id").limit(1)
      .select(col("doc_id"), col("text")).collect().head
    val novelText = src0.getString(1) + " entirely fresh tail content xyz"
    spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(999999L, novelText, "en", "novel", novelText.length.toLong)),
      docs.schema).coalesce(1).write.parquet(s"$d/h3")
    // fp index = the landed batch winnow artifact for the same corpus
    val index = Text.winnow(spark, sf)
    val stream = DocStreams.readDocuments(spark, s"$d/*", s"$sf/documents.parquet")
    val q = DocStreams.partialCopyGate(spark, stream, index)
      .writeStream.format("memory").queryName("pcg").outputMode("append").start()
    try {
      q.processAllAvailable()
      // decision layer: >= 2 shared fps, exactly the batch pair rule
      val streamedPairs = spark.table("pcg").where(col("doc_b") =!= 999999L)
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n")).where(col("n") >= 2)
        .select("doc_a", "doc_b")
      val batch = Text.winnowOverlap(spark, sf).select("doc_a", "doc_b")
      assert(streamedPairs.count() > 0)
      assert(streamedPairs.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamedPairs).count() === 0)
      // the partial copy found its source through the shared block
      val novel = spark.table("pcg").where(col("doc_b") === 999999L)
        .collect().map(_.getLong(0)).toSet
      assert(novel.contains(src0.getLong(0)))
    } finally q.stop()
  }

  test("streaming FILTERED vector search matches its batch twin and stays eligible") {
    import graft.streaming.VecStreams
    import graft.pipelines.NavIndex
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_fvecsearch_idx").toString
    NavIndex.buildState(spark, emb, root)
    val elig = Tables.documents(spark, sf)
      .where(col("lang") === Similarity.FilteredLang)
      .select(col("doc_id").as("node"))
    val queries = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("label")).where(col("vec_id") < 1000020L)
    val d = java.nio.file.Files.createTempDirectory("graft_fvecsearch_q").toString
    queries.where(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$d/h1")
    queries.where(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$d/h2")
    val outPath = java.nio.file.Files.createTempDirectory("graft_fvecsearch_out").toString + "/ans"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fvecsearch_ck").toString
    val stream = VecStreams.readQueries(spark, s"$d/*", s"$sf/embeddings.parquet")
    val q = VecStreams.filteredSearchGate(spark, stream, root, elig, outPath, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(outPath).drop("batch")
    val batch = VecStreams.filteredSearchBatch(spark, queries, root, elig)
    assert(streamed.count() === queries.count() * 3)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    // every streamed answer respects the metadata filter
    val eligSet = elig.collect().map(_.getLong(0)).toSet
    assert(streamed.select("nbr_id").collect().forall(r => eligSet.contains(r.getLong(0))))
    // routing pin: at this scale (n = 500, |elig| ≈ 71 ≤ 240) the
    // default routes to the EXACT tier — so the run above exercised
    // the broadcast brute-force branch end-to-end
    val n = emb.count()
    assert(Similarity.filteredStrategyFor(n, elig.count()) === "exact")
    // the walk tiers don't route by rule at a 500-vector corpus
    // (exact subsumes them); pin each end-to-end through the operator
    // override conf, gate vs batch twin under the same conf
    for (s <- Seq("harvest", "inwalk")) {
      spark.conf.set("graft.filtered.strategy", s)
      try {
        val outPath2 = java.nio.file.Files.createTempDirectory(s"graft_fvs_${s}_out").toString + "/ans"
        val ckpt2 = java.nio.file.Files.createTempDirectory(s"graft_fvs_${s}_ck").toString
        val stream2 = VecStreams.readQueries(spark, s"$d/*", s"$sf/embeddings.parquet")
        val q2 = VecStreams.filteredSearchGate(spark, stream2, root, elig, outPath2, ckpt2)
        try q2.processAllAvailable() finally q2.stop()
        val streamed2 = spark.read.parquet(outPath2).drop("batch")
        val batch2 = VecStreams.filteredSearchBatch(spark, queries, root, elig)
        assert(streamed2.count() === queries.count() * 3, s"strategy $s")
        assert(streamed2.exceptAll(batch2).count() === 0, s"strategy $s")
        assert(batch2.exceptAll(streamed2).count() === 0, s"strategy $s")
        assert(streamed2.select("nbr_id").collect()
          .forall(r => eligSet.contains(r.getLong(0))), s"strategy $s")
      } finally spark.conf.unset("graft.filtered.strategy")
    }
  }

  test("streaming vector search matches the batch walk on the same queries") {
    import graft.streaming.VecStreams
    import graft.pipelines.NavIndex
    val emb = Tables.embeddings(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_vecsearch_idx").toString
    NavIndex.buildState(spark, emb, root)
    // query stream: corpus vectors re-badged into the external-query
    // id space (+1e6), arriving across two drops
    val queries = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("label"))
    val d = java.nio.file.Files.createTempDirectory("graft_vecsearch_q").toString
    queries.where(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$d/h1")
    queries.where(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$d/h2")
    val outPath = java.nio.file.Files.createTempDirectory("graft_vecsearch_out").toString + "/ans"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_vecsearch_ck").toString
    val stream = VecStreams.readQueries(spark, s"$d/*", s"$sf/embeddings.parquet")
    val q = VecStreams.searchGate(spark, stream, root, outPath, ckpt)
    try q.processAllAvailable() finally q.stop()
    // drop the batch=<id> provenance partition column the idempotent
    // per-batch sink adds; answers themselves must match the batch walk
    val streamed = spark.read.parquet(outPath).drop("batch")
    val batch = VecStreams.searchBatch(spark, queries, root)
    assert(streamed.count() === queries.count() * 3)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

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

  test("searchGate replays a micro-batch idempotently after a lost commit") {
    import graft.streaming.VecStreams
    import graft.pipelines.NavIndex
    val emb = Tables.embeddings(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_replay_idx").toString
    NavIndex.buildState(spark, emb, root)
    val queries = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("label")).where(col("vec_id") < 1000010L)
    val d = java.nio.file.Files.createTempDirectory("graft_replay_q").toString
    queries.coalesce(1).write.parquet(s"$d/h1")
    val outPath = java.nio.file.Files.createTempDirectory("graft_replay_out").toString + "/ans"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_replay_ck").toString
    def run(): Unit = {
      val stream = VecStreams.readQueries(spark, s"$d/*", s"$sf/embeddings.parquet")
      val q = VecStreams.searchGate(spark, stream, root, outPath, ckpt)
      try q.processAllAvailable()
      finally {
        q.stop(); q.awaitTermination()
        // deregistration from the active-query registry trails
        // termination; a restart on the same checkpoint races it
        while (spark.streams.active.exists(_.id == q.id)) Thread.sleep(50)
      }
    }
    run()
    val firstRows = spark.read.parquet(outPath).count()
    assert(firstRows === queries.count() * 3)
    // foreachBatch is at-least-once: simulate a crash BETWEEN the sink
    // write and the checkpoint commit by deleting the landed batch's
    // commit file. On restart the engine re-delivers the SAME batchId;
    // the batchId-subdirectory overwrite sink must replace its own
    // output rather than append duplicate answer rows.
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(last.delete())
    // the local checksum fs keeps a .crc sidecar; a stale one fails
    // the recommit's atomic rename
    new java.io.File(commits, s".${last.getName}.crc").delete()
    run()
    val streamed = spark.read.parquet(outPath)
    assert(streamed.count() === firstRows)
    val batch = VecStreams.searchBatch(spark, queries, root)
    assert(streamed.drop("batch").exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed.drop("batch")).count() === 0)
  }

  test("streaming classifier gate scores arrivals identically to the batch pass") {
    import graft.streaming.DocStreams
    import graft.ops.Text
    val wts = Text.qclfTrain(spark, sf) // the landed release model
    val docs = Tables.documents(spark, sf)
    val d = java.nio.file.Files.createTempDirectory("graft_qclf_drops").toString
    docs.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$d/h1")
    docs.where(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$d/h2")
    val outPath = java.nio.file.Files.createTempDirectory("graft_qclf_out").toString + "/scores"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_qclf_ck").toString
    val stream = DocStreams.readDocuments(spark, s"$d/*", s"$sf/documents.parquet")
    val q = DocStreams.qclfGate(spark, stream, wts, outPath, ckpt)
    try q.processAllAvailable()
    finally {
      q.stop(); q.awaitTermination()
      while (spark.streams.active.exists(_.id == q.id)) Thread.sleep(50)
    }
    val streamed = spark.read.parquet(outPath).drop("batch")
    val batch = Text.qclfScore(spark, sf)
    assert(streamed.count() === docs.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming sketch monitor reproduces the batch quantile sketch") {
    val events = EventStreams.readEvents(spark, eventsDir)
    val outPath = java.nio.file.Files.createTempDirectory("graft_qsk_out").toString + "/h"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_qsk_ck").toString
    val q = EventStreams.sketchGate(spark, events, outPath, ckpt)
    try q.processAllAvailable()
    finally {
      q.stop(); q.awaitTermination()
      while (spark.streams.active.exists(_.id == q.id)) Thread.sleep(50)
    }
    val live = EventStreams.sketchMonitor(spark, outPath)
    val batch = graft.ops.Events.quantileSketch(spark, sf)
    assert(live.count() > 0)
    assert(live.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(live).count() === 0)
  }

  test("sketch gate replays a micro-batch idempotently after a lost commit") {
    val src = java.nio.file.Files.createTempDirectory("graft_qskrp_src").toString
    graft.Tables.events(spark, sf).coalesce(1).write.parquet(s"$src/h1")
    val outPath = java.nio.file.Files.createTempDirectory("graft_qskrp_out").toString + "/h"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_qskrp_ck").toString
    def run(): Unit = {
      val schema = spark.read.parquet(s"$src/h1").schema
      val stream = spark.readStream.schema(schema).parquet(s"$src/*")
      val q = EventStreams.sketchGate(spark, stream, outPath, ckpt)
      try q.processAllAvailable()
      finally {
        q.stop(); q.awaitTermination()
        while (spark.streams.active.exists(_.id == q.id)) Thread.sleep(50)
      }
    }
    run()
    val first = spark.read.parquet(outPath).agg(sum(col("c"))).first().getLong(0)
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(last.delete())
    new java.io.File(commits, s".${last.getName}.crc").delete()
    run()
    // a replayed batch must REPLACE its histogram — an append would
    // double every bucket count and shift every percentile readout
    assert(spark.read.parquet(outPath).agg(sum(col("c"))).first().getLong(0) === first)
  }

  test("streaming cdc gate pairs match the batch chunk-identity pairs") {
    import graft.streaming.DocStreams
    import graft.ops.Text
    val docs = Tables.documents(spark, sf)
    val half = docs.agg(expr("percentile(doc_id, 0.5)")).first().getDouble(0)
    val d = java.nio.file.Files.createTempDirectory("graft_cdc_stream").toString
    docs.where(col("doc_id") <= half).coalesce(1).write.parquet(s"$d/h1")
    docs.where(col("doc_id") > half).coalesce(1).write.parquet(s"$d/h2")
    val index = Text.cdcChunksDocs(docs).select("doc_id", "sig", "n_toks")
    val stream = DocStreams.readDocuments(spark, s"$d/*", s"$sf/documents.parquet")
    val q = DocStreams.cdcGate(spark, stream, index)
      .writeStream.format("memory").queryName("cdcg").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cdcg").select("doc_a", "doc_b", "sig", "n_toks")
      // batch expectation: doc pairs sharing a capped chunk identity
      val ch = index.dropDuplicates("doc_id", "sig", "n_toks")
      val capped = ch.join(
        ch.groupBy("sig", "n_toks").agg(countDistinct(col("doc_id")).as("nd"))
          .where(col("nd") <= 8).select("sig", "n_toks"),
        Seq("sig", "n_toks"))
      val batch = capped.join(
          capped.select(col("doc_id").as("partner"), col("sig"), col("n_toks")),
          Seq("sig", "n_toks"))
        .where(col("doc_id") < col("partner"))
        .select(col("doc_id").as("doc_a"), col("partner").as("doc_b"),
          col("sig"), col("n_toks")).distinct()
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming budget gate decisions match the batch budget apply") {
    import graft.streaming.DocStreams
    import graft.ops.Text
    val docs = Tables.documents(spark, sf)
    // split by the shuffle-key median so arrivals respect k-order
    // (the gate's contract) when files trigger one per batch in
    // modification-time order
    val k = md5(concat(lit("shard-v1:"), col("doc_id").cast("string")))
    val med = docs.select(k.as("k"))
      .agg(expr("percentile_approx(cast(conv(substring(k,1,6),16,10) as double), 0.5)"))
      .first().get(0).toString.toDouble
    val d = java.nio.file.Files.createTempDirectory("graft_budget_stream").toString
    docs.where(conv(substring(k, 1, 6), 16, 10).cast("double") <= med)
      .coalesce(1).write.parquet(s"$d/h1")
    docs.where(conv(substring(k, 1, 6), 16, 10).cast("double") > med)
      .coalesce(1).write.parquet(s"$d/h2")
    def touch(p: String, t: Long): Unit =
      new java.io.File(p).listFiles().foreach(f => f.setLastModified(t))
    val now = System.currentTimeMillis()
    touch(s"$d/h1", now - 60000); touch(s"$d/h2", now)
    val schema = spark.read.parquet(s"$sf/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$d/*")
    val allocs = Text.budgetMix(spark, sf)
    val q = DocStreams.budgetGate(spark, stream, allocs)
      .writeStream.format("memory").queryName("bdg").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bdg")
        .select("source", "doc_id", "n_toks", "cum", "kept")
      val batch = Text.budgetApply(spark, sf)
      assert(streamed.count() === docs.count())
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("drift gate replays a micro-batch idempotently after a lost commit") {
    import graft.streaming.DocStreams
    import graft.ops.Text
    val wts = Text.qclfTrain(spark, sf)
    val cur = Tables.documents(spark, sf).where(col("doc_id") % 4 === 0)
    val d = java.nio.file.Files.createTempDirectory("graft_driftrp_drops").toString
    cur.coalesce(1).write.parquet(s"$d/h1")
    val outPath = java.nio.file.Files.createTempDirectory("graft_driftrp_out").toString + "/bins"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_driftrp_ck").toString
    def run(): Unit = {
      val stream = DocStreams.readDocuments(spark, s"$d/*", s"$sf/documents.parquet")
      val q = DocStreams.driftGate(spark, stream, wts, outPath, ckpt)
      try q.processAllAvailable()
      finally {
        q.stop(); q.awaitTermination()
        while (spark.streams.active.exists(_.id == q.id)) Thread.sleep(50)
      }
    }
    run()
    val firstTotal = spark.read.parquet(outPath).agg(sum(col("n"))).first().getLong(0)
    assert(firstTotal === cur.count())
    // crash between the sink write and the checkpoint commit: the
    // re-delivered batchId must REPLACE its histogram, not add to it
    // (an appended duplicate histogram would silently double n_cur
    // and shift every smoothed share the monitor reports)
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(last.delete())
    new java.io.File(commits, s".${last.getName}.crc").delete()
    run()
    assert(spark.read.parquet(outPath).agg(sum(col("n"))).first().getLong(0) === firstTotal)
    val live = DocStreams.driftMonitor(spark, outPath, Text.qclfRefBins(spark, sf))
    assert(live.exceptAll(Text.qclfPsi(spark, sf)).count() === 0)
  }

  test("streaming drift monitor reproduces the batch PSI table") {
    import graft.streaming.DocStreams
    import graft.ops.Text
    val wts = Text.qclfTrain(spark, sf)
    // the production window (the 25% delta slice), dropped in two
    // arbitrary micro-batches — histogram sums are batching-invariant
    val cur = Tables.documents(spark, sf).where(col("doc_id") % 4 === 0)
    val d = java.nio.file.Files.createTempDirectory("graft_drift_drops").toString
    cur.where(col("doc_id") % 3 === 0).coalesce(1).write.parquet(s"$d/h1")
    cur.where(col("doc_id") % 3 =!= 0).coalesce(1).write.parquet(s"$d/h2")
    val outPath = java.nio.file.Files.createTempDirectory("graft_drift_out").toString + "/bins"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_drift_ck").toString
    val stream = DocStreams.readDocuments(spark, s"$d/*", s"$sf/documents.parquet")
    val q = DocStreams.driftGate(spark, stream, wts, outPath, ckpt)
    try q.processAllAvailable()
    finally {
      q.stop(); q.awaitTermination()
      while (spark.streams.active.exists(_.id == q.id)) Thread.sleep(50)
    }
    val live = DocStreams.driftMonitor(spark, outPath, Text.qclfRefBins(spark, sf))
    val batch = Text.qclfPsi(spark, sf)
    assert(live.count() === 20)
    assert(live.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(live).count() === 0)
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
