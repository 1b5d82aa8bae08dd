package graft

import org.apache.spark.sql.functions._

/** Locks the scale posture in as tests: the plan shapes the 100 TB
  * design depends on must SURVIVE refactors, not just hold on the day
  * they were reviewed. Asserts over the physical plans of every driver
  * query (at sf0.001 — plan shape, not data volume):
  *
  *  - no `CartesianProduct` anywhere, ever;
  *  - `BroadcastNestedLoopJoin` only in the whitelisted queries whose
  *    nested-loop side is a documented BOUNDED broadcast (1-row scalar
  *    carriers, the <=10-row query side, the interval dim, the
  *    6-period dim) — a new unbounded one fails the suite, and so does
  *    a listed query that no longer plans one;
  *  - predicate pushdown reaches the parquet scan where the operator
  *    contract promises it.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose construction executes jobs (iterative loops /
    * driver merges); their dataflow subtrees are audited through their
    * constituent operators instead. */
  private val executesAtConstruction = Set(
    "dedup_clusters", "dedup_apply", "text_curate",
    "sim_clusters", "sim_clusters_loose", "mm_dedup_apply",
    "ts_drawdown", "ts_drawdown_by_segment",
    // sim_kcore's peeling rounds and bpe's merge table materialize
    // through IterState/ArtifactCache during construction (the merge
    // audit also collects + exports the trained table at construction)
    "sim_kcore", "text_bpe_apply", "text_bpe_train", "text_bpe_merge_audit",
    // walk-answer artifacts (one walk per corpus, shared by the
    // search readout and its recall audit) build at construction
    "sim_graph_search", "sim_graph_recall",
    "sim_filtered_search", "sim_filtered_recall", "sim_filtered_pq",
    "sim_filtered_auto",
    "sim_sharded_search", "sim_pq_search",
    // BM25 rank artifact (lexical index answers, shared by the top-5
    // readout and the RRF fusion) builds at construction
    "text_bm25", "sim_rrf_fusion", "sim_mine_negatives",
    // bucketed-layout build (saveAsTable) runs at construction;
    // audited by its dedicated exchange-free test below
    "rel_bucket_join")

  /** Bounded-broadcast nested loops, each justified at the operator:
    * ev_range_join = broadcast interval dim; ts_trailing_return =
    * 6-row period dim; sim_topk = <=10-row query side; sim_ivf = 10 x k
    * centroid probe; ev_funnel / ev_funnel_window = 1-row stage-count
    * scalar carriers; text_lm_score = 1-row vocabulary-size carrier;
    * sim_rp_audit = <=10-row query side; ts_seasonality = 1-row
    * overall-mean carrier; text_collocations = 1-row corpus-total
    * (n_uni / n_bg) carriers off the persisted caches;
    * rel_skew_audit / text_source_mix / rel_promo_share = 1-row
    * total carriers; sim_neardup_sweep = 13-row threshold dim
    * (the ev_range_join pattern); sim_recall = brute-force side's
    * <=10-row query broadcast (inherited from sim_topk).
    * The list is checked both ways, like the window inventory: every
    * entry must be audited (not in `executesAtConstruction`) and must
    * still plan a nested loop. */
  private val boundedNestedLoop = Set(
    // Q-bounded query-side broadcast (vec_id < 10) against the corpus
    // scan, the bruteForceTopK shape — inherited from the sim_mmr
    // mid-build commit, which added the query but never ran this audit
    "sim_mmr",
    // (rel_ntile and rel_zorder left this list in r18: the global-rank
    // helper's offset BNLJ and ntile's 1-row n carrier were replaced by
    // a literal map over the config-bounded collected partition counts)
    "ev_range_join", "ts_trailing_return",
    "sim_topk", "sim_ivf", "ev_funnel",
    "ev_funnel_window", "text_lm_score", "sim_rp_audit", "ts_seasonality",
    "text_collocations",
    "rel_skew_audit", "text_source_mix", "rel_promo_share",
    "sim_neardup_sweep", "sim_recall",
    // 1-row token-budget (b) + weight-sum (sum_w) scalar carriers
    "text_resample_mix",
    // 10-row threshold dim / 6-row stage dim (the ev_range_join pattern)
    "text_quality_sweep", "text_funnel",
    // 31-row trailing-slice pairwise join + 1-row median-slope carrier
    "ts_theilsen",
    // 1-row vocabulary-size carrier (inherited from text_lm_score)
    "text_ccnet",
    // 1-row purchase-total/user-count carrier (conversion threshold)
    "ev_abtest",
    // 21-row power-of-2 bucket dim range join
    "text_length_buckets",
    // 1-row max-source-tokens carrier (epoch factor)
    "text_epoch_mix",
    // 1-row pooled-rate carrier (p-chart center line)
    "ev_error_spc",
    // 1-row max-date carrier (dormancy reference point)
    "ev_dormancy",
    // 1-row max-date carriers (round 16: replaced the unpartitioned
    // global-max windows over the user×day rollup)
    "ev_active_users", "ev_lifecycle",
    // |sources|x|langs| dimension cross (the dense chi-square cell
    // spine) + 1-row N carrier — both sides dimension-sized
    "text_chi2",
    // <=20-row bin-range inequality joins (the O(bins^3) closed-form
    // isotonic fit) — every side bounded by the bin count
    "text_qclf_isotonic",
    // same bounded bin-range joins + a 1-row floor carrier
    "text_qclf_cal_eval",
    // composes the landed walk answers with bruteForceTopK's exact
    // ranks (10-row query broadcast × corpus, the sim_topk pattern)
    "sim_search_ndcg",
    // 1-row global-scale carrier + 10-row query broadcast (the
    // sim_topk pattern over int8 codes)
    "sim_sq8_search",
    // composes sim_sq8_search + sim_topk (both bounded as above)
    "sim_sq8_recall",
    // same bounded scan as sim_sq8_search; the rerank side joins
    // only the <=32-candidates-per-query slice
    "sim_sq8_rerank")

  test("no cartesian products; nested-loop joins only where bounded and whitelisted") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val stale = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !executesAtConstruction(name)) {
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !boundedNestedLoop(name))
        offenders += s"$name: unlisted BroadcastNestedLoopJoin"
      if (!plan.contains("BroadcastNestedLoopJoin") && boundedNestedLoop(name))
        stale += name
      spark.catalog.clearCache()
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
    val unaudited = boundedNestedLoop.intersect(executesAtConstruction) ++
      boundedNestedLoop.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty && unaudited.isEmpty,
      s"nested-loop whitelist entries with no nested loop left (tighten the " +
        s"list): ${stale.sorted.mkString(", ")}; never audited: " +
        s"${unaudited.toSeq.sorted.mkString(", ")}")
  }

  /** Queries whose optimized plan carries a Window with NO partition
    * keys — legal ONLY over an input bounded by construction, because
    * a global window single-partitions its input (SURVEY §7.4's named
    * hazard: fine on a one-row-per-day parity series, fatal on a
    * corpus-sized table at 100×). Every entry here is bounded by one
    * of: the daily/monthly calendar rollup (O(#days) rows), a
    * per-query/per-threshold dimension, a quantile/bucket spine, or
    * the ≤BpeDeepK-row merge table. The test asserts BOTH directions:
    * a new unpartitioned window outside this set fails (the 100×
    * foot-gun), and a stale entry that stopped windowing globally
    * fails (inventory rot). Windows inside a cached relation count:
    * the audit reads each `InMemoryRelation`'s logical plan too. */
  private val boundedUnpartitionedWindow: Set[String] = Set(
    // the single-series daily parity family: every window runs over
    // the O(#days) calendar rollup of orders (the reference's
    // one-row-per-day tables), bounded by the calendar at any corpus
    "risk", "ts_anomaly", "ts_autocorr", "ts_bands", "ts_benchmark",
    "ts_changepoint", "ts_forecast", "ts_gotk", "ts_interpolate",
    "ts_moving_avg", "ts_rolling_corr", "ts_stl", "ts_total_return",
    "ts_trailing_return", "ts_tvl", "ts_var",
    // the benchmark series' day-over-day lag window: the one O(#days)
    // daily lineitem rollup, broadcast into the per-segment frame
    "risk_by_segment", "risk_ratios",
    // the trailing 31-row slice (row_number from the latest day, then
    // its first-day offset) of the O(#days) rollup
    "ts_theilsen",
    // daily rollups on the events side: as-of over the union of two
    // day series; cumulative acquisition over the first-seen day rollup
    "ev_asof", "ev_cumulative_users",
    // count-of-counts spine (distinct per-user event counts — the
    // compressed Lorenz-curve input, not users)
    "ev_gini",
    // ≤ 9-row leading-digit spine (bounded by the digit domain; r18:
    // the window total replaced a carrier whose broadcast build
    // re-scanned the fact table)
    "rel_benford",
    // entity-dim order statistics where the GLOBAL rank IS the
    // operator's semantics (ntile quintiles / exact median+p90 /
    // cumulative revenue share over the per-entity rollup, orders of
    // magnitude below the fact stream; documented at each operator)
    "ev_rfm", "ev_ttc", "rel_abc_pareto",
    // source/lang dimension spines (waterfill allocation, chi-square
    // dense cell spine)
    "text_budget_apply", "text_budget_mix", "text_chi2",
    // hashed-unigram bucket spine: ≤ B+1 = 1025 rows at any corpus
    // size (B is a compile-time constant) — the corpus totals are
    // window sums over it (r18: replaced the 1-row carrier whose
    // build re-aggregated the corpus twice)
    "text_dsir",
    // per-score histograms: scores are 6dp-rounded so the window
    // input is ≤ 10⁶+1 rows regardless of corpus size
    "text_qclf_auc", "text_qclf_cal_eval", "text_qclf_calibration",
    "text_qclf_isotonic", "text_qclf_op_point", "text_qclf_pr",
    "text_qclf_psi",
    // top-50 vocabulary slice (rank bounded by k, not the vocabulary)
    "text_zipf")

  private def unpartitionedWindows(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = p.flatMap {
    case w: org.apache.spark.sql.catalyst.plans.logical.Window
      if w.partitionSpec.isEmpty => Seq(w)
    case w: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
      if w.partitionSpec.isEmpty => Seq(w)
    case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
      unpartitionedWindows(r.cacheBuilder.logicalPlan)
    case _ => Nil
  }

  test("unpartitioned windows only over inputs bounded by construction") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val stale = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !executesAtConstruction(name)) {
      val unpart = unpartitionedWindows(fn(spark, sf).queryExecution.optimizedPlan)
      if (unpart.nonEmpty && !boundedUnpartitionedWindow(name)) offenders += name
      if (unpart.isEmpty && boundedUnpartitionedWindow(name)) stale += name
      spark.catalog.clearCache()
    }
    assert(offenders.isEmpty,
      s"queries with a NEW unpartitioned window (prove the input bounded, " +
        s"then inventory it): ${offenders.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"inventory entries with no unpartitioned window left (tighten the " +
        s"list): ${stale.sorted.mkString(", ")}")
  }

  /** Jobs that building and collecting `df` run, counted through a job
    * group. The status store fills from the listener bus
    * asynchronously, so a marker job in a second group is awaited
    * first: its events queue behind the collect's. */
  private def jobsToRun(df: => org.apache.spark.sql.DataFrame, group: String): Int = {
    val sc = spark.sparkContext
    def inGroup[A](g: String)(body: => A): A = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    inGroup(group)(df.collect())
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def markerDone = sc.statusTracker.getJobIdsForGroup(s"$group-marker").exists(id =>
      sc.statusTracker.getJobInfo(id).exists(_.status == org.apache.spark.JobExecutionStatus.SUCCEEDED))
    while (!markerDone && System.nanoTime() < deadline) Thread.sleep(20)
    assert(markerDone, s"$group: the status store never saw the marker job")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("the risk family plans one bounded pass: no nested loop, no cache, pinned jobs") {
    // one trailing-year frame per operator: a scalar carrier joined back
    // would plan a nested loop, a persist-then-count fan-out an
    // InMemoryRelation, and either costs jobs of its own. The bounds are
    // the job counts measured under this session's settings.
    for ((name, maxJobs) <- Seq("risk" -> 6, "risk_by_segment" -> 8, "risk_ratios" -> 8)) {
      val df = SparkEntry.queries(name)(spark, sf) // builds any missing artifact first
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name plans a nested loop:\n$plan")
      assert(!df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        s"$name reads a cached relation")
      val jobs = jobsToRun(SparkEntry.queries(name)(spark, sf), s"plan-audit-$name")
      assert(jobs <= maxJobs, s"$name ran $jobs jobs, bound $maxJobs")
    }
  }

  test("artifact-backed consumers read the landed parquet, not the derivation") {
    // the round-9 perf posture: minhash candidates and the dedup
    // decision must be file reads over ArtifactCache parquet (under
    // the iteration root), with NO shingle/signature derivation left
    // in the consumer's plan — re-deriving per query is exactly what
    // the artifacts exist to stop. The leaves being artifact files is
    // the structural proof.
    ops.Dedup.clusters(spark, sf).queryExecution // force artifact builds
    val cand = ops.Dedup.minhashCandidates(spark, sf).inputFiles
    assert(cand.nonEmpty && cand.forall(_.contains("art_dedup_capped_bands")),
      s"minhash candidates don't read (only) the band artifact: ${cand.mkString(",")}")
    val cl = ops.Dedup.clusters(spark, sf).inputFiles
    assert(cl.nonEmpty && cl.forall(_.contains("art_dedup_cluster_decision")),
      s"clusters don't read (only) the decision artifact: ${cl.mkString(",")}")
    spark.catalog.clearCache()
  }

  test("scan-level predicate pushdown holds for the scan+filter contract") {
    // rel_scan_filter (S1/P2): the date-range + flag predicates must
    // reach the parquet source as PushedFilters, not a post-scan
    // Filter-only plan
    val qe = ops.Relational.scanFilter(spark, sf).queryExecution
    val scans = qe.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scans.contains("PushedFilters: ["), "no pushed filters on the scan")
    assert(scans.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1").nonEmpty,
      "PushedFilters list is empty")
  }

  test("column pruning reaches the scan: projections never drag the text payload") {
    // the 100 TB rule: a scan must read only the columns the operator
    // projects — dragging the wide `text` payload (or the whole row)
    // through a metadata-only query is the classic silent 100× cost.
    // ReadSchema on the parquet leaf is the proof.
    def readSchemas(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.collectLeaves().map(_.toString)
        .filter(_.contains("ReadSchema")).mkString("\n")
    // text_source_mix aggregates labels + n_chars — text must be pruned
    val mix = readSchemas(ops.Text.sourceMix(spark, sf))
    assert(mix.nonEmpty && !mix.contains("text"), s"source_mix scan reads text: $mix")
    // rel_benford touches exactly one fact column
    val ben = readSchemas(ops.Relational.benford(spark, sf))
    assert(ben.contains("o_totalprice") && !ben.contains("o_orderdate"),
      s"benford scan reads beyond o_totalprice: $ben")
    // ev_top_users needs only (user_id, event_type, value) — props (the
    // wide JSON payload) must be pruned
    val top = readSchemas(ops.Events.topUsers(spark, sf))
    assert(top.nonEmpty && !top.contains("props"), s"top_users scan reads props: $top")
    spark.catalog.clearCache()
  }

  test("broadcast dims actually broadcast in the dim-join contract") {
    // J2 (slug -> id dim stamp): the customer dim side must plan as a
    // BroadcastHashJoin, not a shuffle join
    val plan = graft.pipelines.Datamart.dimSummary(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "dim join did not broadcast")
  }

  test("navTopK broadcasts the vector sides under the small tier") {
    // the round-12 build fix: the NN-descent scoring joins attach
    // vectors to a candidate side orders of magnitude wider, so under
    // graft.nav.broadcastVecsMax the vector table must plan as TWO
    // broadcast attaches (measured 170 s -> 27 s at x100 when the
    // shuffle join was replaced). Shape-pin it so a refactor cannot
    // silently regress to the shuffle join at in-tier sizes.
    val emb = Tables.embeddings(spark, sf)
    val v = graft.ops.Similarity.vecsOf(spark, emb).select("vec_id", "v", "norm")
    val cand = v.select(col("vec_id").as("node"))
      .crossJoin(v.select(col("vec_id").as("nbr_id")).limit(4))
      .where(col("node") =!= col("nbr_id"))
    val plan = graft.ops.Similarity.navTopK(spark, v, cand, v.count())
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "navTopK must broadcast both vector attaches under the tier")
  }

  test("1-row-carrier rollups shuffle the corpus-grain distinct exactly once") {
    // round-16 ask #4: ev_active_users / ev_lifecycle reference the
    // distinct user×day rollup twice (main branch + max-date carrier;
    // lifecycle also twice through its states/churn window branches).
    // The 100×-scale contract is that the corpus-grain distinct
    // EXCHANGE is paid once per query — either via AQE's
    // ReusedExchange (lifecycle: the churn branch reuses the states
    // branch's rollup shuffle) or because every other consumer reads a
    // column-pruned raw scan instead (active_users: the max-date
    // carrier needs no rollup at all). A silent plan regression that
    // re-computes the rollup shuffle would double the dominant cost.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    def subtree(p: SparkPlan): Seq[SparkPlan] = {
      val u = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case q: QueryStageExec        => q.plan
        case other                    => other
      }
      if (u eq p) u +: u.children.flatMap(subtree) else subtree(u)
    }
    def rollupExchanges(nodes: Seq[SparkPlan]): Seq[SparkPlan] = nodes.collect {
      case e: ShuffleExchangeExec
        if (e.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.size == 2 && h.expressions.forall(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]) &&
              h.expressions.map(_.asInstanceOf[
                org.apache.spark.sql.catalyst.expressions.AttributeReference].name)
                .toSet == Set("user_id", "d")
          case _ => false
        }) => e
    }
    // active_users: the single-exchange shape — one (user_id, d)
    // rollup shuffle, no reuse needed (the carrier branch reads a
    // pruned raw scan)
    val au = ops.Events.activeUsers(spark, sf)
    au.collect()
    val auNodes = subtree(au.queryExecution.executedPlan)
    assert(rollupExchanges(auNodes).size === 1,
      s"active_users must shuffle the user×day rollup exactly once, got " +
        s"${rollupExchanges(auNodes).size}")
    // lifecycle: the rollup exchange computes once and the second
    // consumer is a ReusedExchange — both facts pinned
    val lc = ops.Events.lifecycle(spark, sf)
    lc.collect()
    val lcNodes = subtree(lc.queryExecution.executedPlan)
    assert(rollupExchanges(lcNodes).size === 1,
      s"lifecycle must compute the user×day rollup shuffle exactly once, got " +
        s"${rollupExchanges(lcNodes).size}")
    assert(lcNodes.exists(_.isInstanceOf[ReusedExchangeExec]),
      "lifecycle's second rollup consumer must be a ReusedExchange")
    spark.catalog.clearCache()
  }

  test("bucketed co-located join: sort-merge with NO exchange below the join") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec        => unwrap(q.plan)
      case other                    => other
    }
    def subtree(p: SparkPlan): Seq[SparkPlan] = {
      val u = unwrap(p)
      u +: u.children.flatMap(subtree)
    }
    val df = ops.Relational.bucketJoin(spark, sf)
    df.collect() // finalize the adaptive plan
    val nodes = subtree(df.queryExecution.executedPlan)
    val smj = nodes.find(_.nodeName.contains("SortMergeJoin"))
    assert(smj.isDefined, s"no SortMergeJoin in: ${nodes.map(_.nodeName)}")
    val below = smj.get.children.flatMap(subtree).map(_.nodeName)
    assert(!below.exists(_.contains("Exchange")),
      s"bucketed join shuffled below the SMJ: $below")
  }
}
