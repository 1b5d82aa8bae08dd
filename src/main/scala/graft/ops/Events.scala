package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-stream-shaped operators over the `events` table: event-time
  * tumbling-window aggregation, JSON prop extraction, gap-based
  * sessionization, and an as-of (backward-looking) join — run as
  * batch passes, like the reference's batch-daily DAG (SURVEY.md
  * §2.9/§7.5).
  *
  * Scale notes: hourly rollup and sessionization both shuffle once on
  * their natural keys (hour/event_type, user_id); sessionization's
  * window is per-user (bounded), never global. The as-of join here is
  * the single-series union+last-value composition; at many-key scale
  * the same composition runs per key under `partitionBy`.
  */
object Events {

  /** Event-time tumbling window (1h) aggregation — batch twin of
    * `groupBy(window($"ts","1 hour"))`. */
  def hourlyRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        count_distinct(col("user_id")).as("users"))
      .orderBy("hour", "event_type")

  /** JSON prop extraction (`events.props` is a JSON string). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Gap-based sessionization: a >30 min silence starts a new session.
    * Per-user window (never global) → session_id via running sum of
    * session-start flags — the batch shape of
    * `flatMapGroupsWithState` session tracking. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy("user_id").orderBy("ts")
    val wCum  = wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 30L * 60 * 1000000
    Tables.events(spark, dir)
      .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(wUser)))
      .withColumn("new_s",
        when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(wCum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  /** Built-in session windows (`session_window`, gap-merged event-time
    * sessions) via the native operator. Boundary semantics MATCH
    * `sessionize` at exactly the gap: sessions merge when the next
    * event starts at or before the current window end, so only a gap
    * STRICTLY over 30 min starts a new session (pinned by a unit test
    * with two events exactly 30 min apart). Oracle-checked: DuckDB
    * rebuilds the same bounds from the `>` gap logic
    * (`OracleSql.evSessionWindow`).
    * Output: user_id, session_start, session_end, n_events. */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")

  /** IQR outlier audit per event type: exact q1/q3 via
    * `percentile_cont` (the same exact-quantile discipline as
    * `rel_quantiles` — a production variant swaps in approx
    * percentiles at the same plan shape), Tukey fences at 1.5×IQR,
    * and the count of values outside them — the standard data-quality
    * gate on a numeric column. Two passes over the events scan (one
    * quantile agg, one fence count) joined on the tiny type key.
    * Output: event_type, q1, q3, iqr, n, n_outliers. */
  def valueOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val q = ev.groupBy("event_type").agg(
      round(expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY value)"), 6).as("q1"),
      round(expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY value)"), 6).as("q3"),
      count(lit(1)).as("n"))
    ev.join(broadcast(q), "event_type")
      .groupBy(col("event_type"), col("q1"), col("q3"), col("n"))
      .agg(sum(when(
        col("value") < col("q1") - lit(1.5) * (col("q3") - col("q1")) ||
        col("value") > col("q3") + lit(1.5) * (col("q3") - col("q1")), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("q1"), col("q3"),
        round(col("q3") - col("q1"), 6).as("iqr"), col("n"), col("n_outliers"))
      .orderBy("event_type")
  }

  /** Inter-event gap distribution: microsecond-exact time since the
    * user's previous event (any type), attributed to the later
    * event's type — the cadence statistic behind bot detection and
    * session-timeout tuning. Gaps are INTEGER epoch-microsecond
    * differences (`unix_micros`), so every aggregate below is exact
    * integer arithmetic until the final division; the p50 is an exact
    * per-type percentile reported in microseconds (a .5 midpoint is
    * exactly representable — no 6-dp rounding boundary to straddle).
    * One user_id window shuffle + one tiny per-type aggregate.
    * Output: event_type, n, mean_gap_us, p50_gap_us, max_gap_us. */
  def interEventGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("gap",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .where(col("gap").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(avg(col("gap")), 6).as("mean_gap_us"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY gap)").as("p50_gap_us"),
        max(col("gap")).as("max_gap_us"))
      .orderBy("event_type")
  }

  /** Cumulative user acquisition: per day, users seen for the FIRST
    * time and the running total — the growth curve every product
    * dashboard opens with. First-seen is one user-keyed min; the
    * cumsum window is unpartitioned but runs on the O(#days) rollup,
    * not the event stream. Output: date, n_new, cum_users. */
  def cumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("date"))
      .groupBy("date").agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .orderBy("date")
  }

  /** Heavy hitters: top-10 users by total purchase value — the exact
    * top-k that an approximate heavy-hitters sketch would feed at
    * stream scale, here as one user-keyed decimal aggregate + a
    * TakeOrdered top-k (no global-sort window), value-then-user_id
    * ordered so both engines cut the boundary identically.
    * Output: user_id, total_value, n_purchases. */
  def topUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        count(lit(1)).as("n_purchases"))
      .orderBy(col("total_value").desc, col("user_id"))
      .limit(10)

  /** Approximate sketches per event type, built from DETERMINISTIC
    * cross-engine primitives so the result is oracle-checkable (unlike
    * engine-internal HLL/GK sketches, whose state is unreproducible
    * across engines):
    *
    *   - approx_users: KMV distinct estimate over the md5 hash space
    *     (k=128 → ~9% expected error; groups with < k distinct hashes
    *     report the exact count — the standard small-set exact regime).
    *     Same mechanism `kmvDistinct` audits in exact-vs-estimate form.
    *   - p50_value: fixed-resolution quantile — exact order statistic
    *     at the median rank over 2-dp value buckets. The bucket
    *     rollup is a map-side-combined hash agg (stream-size work);
    *     the rank scan runs over the BOUNDED bucket set (≤ value
    *     range × 100 rows per type), not the event stream, so the
    *     per-type cumsum window is O(buckets) at any stream size —
    *     the distributed shape a t-digest/GK sketch collapses to at
    *     fixed resolution, with ≤ 0.005 absolute error by
    *     construction.
    *
    * Output: event_type, approx_users, p50_value. */
  def approxSketches(spark: SparkSession, dir: String): DataFrame = {
    val k = 128
    val ev = Tables.events(spark, dir)
    val hashed = ev.select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 13), 16, 10)
          .cast("long").as("h"))
      .distinct()
    val wT = Window.partitionBy("event_type").orderBy("h")
    val users = hashed
      .withColumn("rn", row_number().over(wT))
      .groupBy("event_type")
      .agg(max(when(col("rn") === k, col("h"))).as("hk"),
        count(lit(1)).as("nd"))
      .select(col("event_type"),
        when(col("hk").isNotNull,
          round(lit((k - 1).toDouble * 4503599627370496.0) / col("hk"), 2))
          .otherwise(col("nd").cast("double")).as("approx_users"))
    val buckets = ev.select(col("event_type"), round(col("value"), 2).as("v2"))
      .groupBy("event_type", "v2").agg(count(lit(1)).as("c"))
    val wC = Window.partitionBy("event_type").orderBy("v2")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wN = Window.partitionBy("event_type")
    val med = buckets
      .withColumn("cum", sum(col("c")).over(wC))
      .withColumn("mr", floor((sum(col("c")).over(wN) + 1) / 2))
      .where(col("cum") >= col("mr"))
      .groupBy("event_type").agg(min(col("v2")).as("p50_value"))
    users.join(med, "event_type")
      .select(col("event_type"), col("approx_users"), col("p50_value"))
      .orderBy("event_type")
  }

  /** Mergeable HyperLogLog sketches (Apache DataSketches via Spark's
    * `hll_sketch_agg`/`hll_union_agg`) — the production twin of
    * `approxSketches`: per-(type, day) sketch PARTIALS union into the
    * per-type rollup, which is exactly how a 100 TB datamart keeps
    * distinct-user counts re-aggregable across arbitrary date windows
    * without re-touching the stream (sketch bytes are the stored
    * partial; map-side combine everywhere). The sketch ESTIMATE is
    * engine-internal state and cannot be reproduced by another engine,
    * so the query exports what IS checkable:
    *
    *   - exact_users (count distinct) as ground truth,
    *   - splits_agree_2pct: the union over per-day partials vs the
    *     union over partials cut by an unrelated key (user_id mod 7)
    *     agree within 2% of exact. Estimate EQUALITY across splits is
    *     deliberately not claimed: a sparse (coupon-mode) partial
    *     carries near-exact hash fragments while a promoted one keeps
    *     only 6-bit registers, so the union's final estimate depends
    *     on when each partial crossed sparse→dense — measured at
    *     sf0.1, daily-split 1488 vs %7-split 1488–1504 against 1500
    *     exact (direct single-stream HIP: 1494). What production can
    *     rely on — and what this gates — is that any split's union
    *     stays inside the sketch's error envelope.
    *   - within_5pct: |daily-union estimate − exact| ≤ 5% · exact;
    *     lgK=12 gives ~1.6% σ, so the gate is ≈3σ and deterministic
    *     on fixed data.
    *
    * Output: event_type, exact_users, splits_agree_2pct, within_5pct. */
  def hllSketches(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def unioned(splitKey: org.apache.spark.sql.Column, name: String) =
      ev.groupBy(col("event_type"), splitKey.as("g"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as(name))
    val byDay = unioned(to_date(col("ts")), "est_daily")
    val bySeven = unioned(col("user_id") % 7, "est_by7")
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(byDay, "event_type").join(bySeven, "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("est_daily") - col("est_by7"))
          <= col("exact_users").cast("double") * 0.02).as("splits_agree_2pct"),
        (abs(col("est_daily") - col("exact_users"))
          <= col("exact_users").cast("double") * 0.05).as("within_5pct"))
      .orderBy("event_type")
  }

  /** Ordered conversion funnel over the event stream: signup →
    * click → purchase, where each stage must happen STRICTLY AFTER the
    * user's entry into the previous stage (min qualifying timestamp),
    * not merely anywhere in their history — the semantics product
    * funnels actually need, and the part a naive per-type min()
    * aggregate gets wrong. Three stage tables, each one filtered scan +
    * one user_id-keyed aggregate, chained by hash equi-joins on
    * user_id; nothing is ordered globally and nothing collects. At
    * scale all three joins co-shuffle on user_id (AQE broadcasts the
    * later, strictly-shrinking stage tables when small enough).
    * Output: stage, users, pct_of_first (round 6). */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelFrom(Tables.events(spark, dir))

  /** `funnel` with a conversion window: each stage must land within 7
    * days of the user's entry into the previous stage — the form
    * product analytics actually reports ("converted within a week"),
    * and the variant that keeps a years-later purchase from counting.
    * Identical plan; the window is one more predicate on the stage
    * join. */
  def funnelWindowed(spark: SparkSession, dir: String): DataFrame =
    funnelFrom(Tables.events(spark, dir), maxLag = Some("7 DAYS"))

  /** Core over an explicit (user_id, event_type, ts) table — split out
    * so tests can drive constructed orderings (click-before-signup,
    * purchase-before-click) through the strictly-after semantics.
    * `maxLag` (an SQL interval literal) bounds each stage to land
    * within that lag of the previous stage entry. */
  private[graft] def funnelFrom(ev: DataFrame, maxLag: Option[String] = None): DataFrame = {
    def stageMin(evType: String, prev: DataFrame, prevT: String, out: String) =
      ev.where(col("event_type") === evType)
        .join(prev.select(col("user_id"), col(prevT)), "user_id")
        .where(col("ts") > col(prevT) &&
          maxLag.map(l => col("ts") <= col(prevT) + expr(s"INTERVAL $l")).getOrElse(lit(true)))
        .groupBy("user_id").agg(min(col("ts")).as(out))
    val s1 = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val s2 = stageMin("click", s1, "t1", "t2")
    val s3 = stageMin("purchase", s2, "t2", "t3")
    val counts = s1.agg(count(lit(1)).as("n1")).crossJoin(
      s2.agg(count(lit(1)).as("n2"))).crossJoin(
      s3.agg(count(lit(1)).as("n3")))
    // 1-row × 1-row crossJoins: scalar carriers, the documented pattern
    counts.select(explode(array(
        struct(lit("1_signup").as("stage"), col("n1").as("users")),
        struct(lit("2_click").as("stage"), col("n2").as("users")),
        struct(lit("3_purchase").as("stage"), col("n3").as("users")))).as("s"),
        col("n1"))
      .select(col("s.stage").as("stage"), col("s.users").as("users"),
        round(col("s.users") / col("n1"), 6).as("pct_of_first"))
      .orderBy("stage")
  }

  /** Weekly cohort retention: users grouped by the ISO week of their
    * first event (the cohort), counted distinct in each subsequent
    * active week, keyed by offset-in-weeks from the cohort week — the
    * engagement matrix behind every retention curve. Two user_id-keyed
    * aggregates + one join + one (cohort, offset) aggregate; the
    * distinct-week projection keeps the join input at O(users ×
    * active-weeks), not O(events). Output: cohort_week, week_offset,
    * users. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cohort = ev.groupBy("user_id")
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    val active = ev
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct()
    active.join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("bigint").as("week_offset"))
      .agg(count_distinct(col("user_id")).as("users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** First-order Markov transition matrix over each user's event
    * stream: count and conditional probability of event_type →
    * next event_type (lead over the per-user ordered stream, event_id
    * breaking ts ties), the sequence statistic behind next-action
    * models and journey analysis. One user_id-keyed window shuffle +
    * one (from, to) aggregate; the probability normalizes within
    * from_type via a k×k-bounded window (k = #event types).
    * Output: from_type, to_type, n, p (round 6). */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p", round(col("n") / sum(col("n")).over(Window.partitionBy("from_type")), 6))
      .orderBy("from_type", "to_type")
  }

  /** Last-touch attribution: each purchase is credited to the most
    * recent PRECEDING non-purchase event in the user's stream (the
    * standard marketing-attribution baseline), then rolled up by
    * attributed channel. The carried-forward touch is a per-user
    * window (`last(..., ignoreNulls)` over preceding rows — the same
    * composition as the as-of join), with event_id breaking timestamp
    * ties so the credit is engine-deterministic. One user_id shuffle +
    * one channel aggregate; no joins. A purchase with no prior touch
    * lands in 'none'. Output: channel, purchases, total_value. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .withColumn("prev_touch",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .groupBy(coalesce(col("prev_touch"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("purchases"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy("channel")
  }

  /** As-of (backward) join: for each day of the order-revenue series,
    * the most recent available observation of a sparser series (daily
    * lineitem quantity, deterministically thinned to every 3rd
    * day-of-month). Spark has no ASOF JOIN operator; this is the
    * union + ordered last-value composition — the sort-merge shape an
    * AsOfJoinExec would produce. Oracle uses DuckDB's native ASOF. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val left = TimeSeries.dailyOrderRevenue(spark, dir)
    val right = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("date"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .where(dayofmonth(col("date")) % 3 === 0)

    val tagged = left.select(col("date"), col("tvl"), lit(null).cast("double").as("qty"), lit(1).as("src"))
      .unionByName(right.select(col("date"), lit(null).cast("double").as("tvl"), col("qty"), lit(0).as("src")))
    val w = Window.orderBy("date", "src").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("qty_asof", last(col("qty"), ignoreNulls = true).over(w))
      .where(col("src") === 1)
      .select(col("date"), col("tvl"), col("qty_asof"))
      .orderBy("date")
  }

  /** `asofJoin` through the native whole-operator path
    * ([[graft.plans.AsOfJoinExec]]): same series, same oracle, but the
    * plan is the custom sort-merge exec instead of the union+window
    * composition — one buffered right row per partition instead of a
    * window over the unioned sides. Keyless, so both sides land in one
    * partition (`AllTuples`), exactly the shape the keyless window
    * form pays. Output: date, tvl, qty_asof. */
  def asofJoinNative(spark: SparkSession, dir: String): DataFrame = {
    val left = TimeSeries.dailyOrderRevenue(spark, dir)
    val right = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("rdate"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .where(dayofmonth(col("rdate")) % 3 === 0)
    graft.plans.AsOf.join(left, right, Nil, Nil, "date", "rdate")
      .select(col("date"), col("tvl"), col("qty").as("qty_asof"))
      .orderBy("date")
  }

  /** Forward as-of join ([[graft.plans.AsOfJoinExec]],
    * `direction="forward"`): each day of the dense revenue series
    * pairs with the EARLIEST observation of the sparse quantity series
    * at-or-after it — the "next scheduled reading" semantics (pandas
    * `merge_asof(direction="forward")`). Same merge cost as backward;
    * the head is simply not consumed on match. Oracle: DuckDB ASOF
    * with the inequality flipped. Output: date, tvl, qty_fwd. */
  def asofJoinForward(spark: SparkSession, dir: String): DataFrame = {
    val left = TimeSeries.dailyOrderRevenue(spark, dir)
    val right = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("rdate"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .where(dayofmonth(col("rdate")) % 3 === 0)
    graft.plans.AsOf.join(left, right, Nil, Nil, "date", "rdate",
        direction = "forward")
      .select(col("date"), col("tvl"), col("qty").as("qty_fwd"))
      .orderBy("date")
  }

  /** Backward as-of with a 5-day staleness cap
    * ([[graft.plans.AsOfJoinExec]] `tolerance`): a carried-forward
    * observation older than 5 days is treated as missing — pandas
    * `merge_asof(tolerance=...)`, the guard production joins need so a
    * long-dead series doesn't keep reporting its last value forever.
    * Oracle: DuckDB ASOF exposing the matched date, gated by a CASE on
    * the day gap. Output: date, tvl, qty_asof5. */
  def asofJoinTolerance(spark: SparkSession, dir: String): DataFrame = {
    val left = TimeSeries.dailyOrderRevenue(spark, dir)
    val right = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("rdate"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .where(dayofmonth(col("rdate")) % 3 === 0)
    graft.plans.AsOf.join(left, right, Nil, Nil, "date", "rdate",
        tolerance = Some(5L))
      .select(col("date"), col("tvl"), col("qty").as("qty_asof5"))
      .orderBy("date")
  }

  /** `asofJoinByKey` through [[graft.plans.AsOfJoinExec]]: the keyed
    * form hash-clusters both sides on the segment key (the same single
    * shuffle the window form's `partitionBy(name)` pays) and merges
    * each partition in one pass. Output: name, date, tvl, n_asof. */
  def asofJoinByKeyNative(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("name"), to_date(col("o_orderdate")).as("date"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("tvl"),
        count(lit(1)).as("n"))
    val left = g.select(col("name"), col("date"), col("tvl"))
    val right = g.where(dayofmonth(col("date")) % 3 === 0)
      .select(col("name").as("rname"), col("date").as("rdate"), col("n"))
    graft.plans.AsOf.join(left, right, Seq("name"), Seq("rname"), "date", "rdate")
      .select(col("name"), col("date"), col("tvl"), col("n").as("n_asof"))
      .orderBy("name", "date")
  }

  /** Multi-key as-of join — the scale form of `asofJoin`: one series
    * per customer market segment, the carried-forward window running
    * under `partitionBy(name)` so N series are N independent bounded
    * partitions after a single shuffle. ONE grouped aggregate computes
    * both the dense left series (daily revenue) and the sparse right
    * series (order counts on every 3rd day-of-month) — identical
    * subtrees, so the exchange is reused rather than recomputed.
    * Oracle: DuckDB native ASOF LEFT JOIN with an extra equality key.
    * Output: name, date, tvl, n_asof. */
  def asofJoinByKey(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("name"), to_date(col("o_orderdate")).as("date"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("tvl"),
        count(lit(1)).as("n"))
    val left = g.select(col("name"), col("date"), col("tvl"),
      lit(null).cast("bigint").as("n"), lit(1).as("src"))
    val right = g.where(dayofmonth(col("date")) % 3 === 0)
      .select(col("name"), col("date"), lit(null).cast("double").as("tvl"),
        col("n"), lit(0).as("src"))
    val w = Window.partitionBy("name").orderBy("date", "src")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.unionByName(right)
      .withColumn("n_asof", last(col("n"), ignoreNulls = true).over(w))
      .where(col("src") === 1)
      .select(col("name"), col("date"), col("tvl"), col("n_asof"))
      .orderBy("name", "date")
  }

  /** Slowly-changing-dimension (type 2) build from a change log — the
    * standard warehouse pass that turns an event stream into validity
    * intervals: per user, `event_type` is the tracked state; only
    * rows where the state CHANGES survive (change detection via LAG),
    * and each surviving row becomes one SCD2 version with
    * `valid_from` = its event time and `valid_to` = the next
    * version's start (NULL on the open current version). This is the
    * reference's UPDATE-summary-row posture (SURVEY §2 S11)
    * generalized to full history retention.
    *
    * Scale: both windows partition by `user_id` — one shuffle, then
    * two bounded per-user window passes; no global window, no join.
    * 1000× more users is the same plan with more window partitions.
    * Output: user_id, version, state, valid_from, valid_to,
    * is_current. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val wAll  = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wKept = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    Tables.events(spark, dir)
      .withColumn("prev_state", lag(col("event_type"), 1).over(wAll))
      .where(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
      .select(col("user_id"), col("event_id"), col("event_type").as("state"),
        col("ts").as("valid_from"))
      .withColumn("version", row_number().over(wKept))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wKept))
      .withColumn("is_current", col("valid_to").isNull)
      .select("user_id", "version", "state", "valid_from", "valid_to", "is_current")
      .orderBy("user_id", "version")
  }

  /** RFM segmentation — the classic recency/frequency/monetary user
    * scoring: per user, days since last event (relative to the
    * stream's max date), event count, and exact decimal value sum;
    * each dimension quintile-scored with NTILE(5) on a pinned total
    * order (metric, then user_id) so bucket assignment is
    * engine-deterministic, then a coarse lifecycle label.
    *
    * Scale: one user-keyed aggregation shuffle; the NTILE windows are
    * unpartitioned but run over the per-USER rollup (the bounded
    * entity dim, same posture as `ev_cumulative_users`' day rollup),
    * never the raw event stream. Output: user_id, r_days, frequency,
    * monetary, r_score, f_score, m_score, segment. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max(col("ts").cast("date")).as("last_date"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("monetary"))
    perUser
      .withColumn("r_days",
        datediff(max(col("last_date")).over(Window.partitionBy()), col("last_date"))
          .cast("bigint"))
      .withColumn("r_score",
        ntile(5).over(Window.orderBy(col("r_days").desc, col("user_id"))).cast("bigint"))
      .withColumn("f_score",
        ntile(5).over(Window.orderBy(col("frequency"), col("user_id"))).cast("bigint"))
      .withColumn("m_score",
        ntile(5).over(Window.orderBy(col("monetary"), col("user_id"))).cast("bigint"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "dormant")
          .otherwise("regular"))
      .select("user_id", "r_days", "frequency", "monetary",
        "r_score", "f_score", "m_score", "segment")
      .orderBy("user_id")
  }

  /** A/B experiment readout: users hash-split into two arms (the
    * deterministic `user_id % 2` stand-in for an assignment table),
    * conversion = above-mean purchase count, compared integer-exactly
    * (`np · n_users > total_purchases` — no float boundary, so the
    * flag is bit-identical across engines and has variance at every
    * SF, unlike "any purchase" which saturates); per-arm sizes and
    * rates plus the pooled two-proportion z-score — the statistic an
    * experiment platform computes before calling a winner. One user
    * rollup, corpus totals on a 1-row broadcast carrier, then a
    * single conditional aggregate to one row. The z is NULL-guarded
    * for degenerate pools (0% / 100% conversion).
    * Output: n_a, conv_a, rate_a, n_b, conv_b, rate_b, z. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
    val totals = perUser.agg(sum(col("np")).as("tot"), count(lit(1)).as("nu"))
    val arms = perUser.crossJoin(totals)
      .withColumn("conv", when(col("np") * col("nu") > col("tot"), 1L).otherwise(0L))
      .withColumn("b", col("user_id") % 2)
      .agg(
        sum(when(col("b") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("b") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("b") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("b") === 1, col("conv")).otherwise(0L)).as("conv_b"))
    val p = (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))
    val denom = sqrt(col("p") * (lit(1.0) - col("p")) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    arms
      .withColumn("rate_a", round(col("conv_a").cast("double") / col("n_a"), 6))
      .withColumn("rate_b", round(col("conv_b").cast("double") / col("n_b"), 6))
      .withColumn("p", p)
      .withColumn("z", when(col("p") === 0.0 || col("p") === 1.0, lit(null).cast("double"))
        .otherwise(round(
          (col("conv_a").cast("double") / col("n_a") -
            col("conv_b").cast("double") / col("n_b")) / denom, 6)))
      .select("n_a", "conv_a", "rate_a", "n_b", "conv_b", "rate_b", "z")
  }

  /** Rolling active users — DAU / WAU (7-day) / MAU (30-day) plus the
    * DAU/MAU stickiness ratio, the canonical engagement dashboard.
    * Construction: each distinct (user, active-day) row fans out to
    * the ≤30 target days whose trailing window it can serve (an
    * integer-offset explode, map-side), then one count-distinct per
    * target day — no rolling count-distinct window, which Spark can't
    * do incrementally anyway. Open end bounded by the stream's max
    * date so no partial-window days are fabricated.
    *
    * Scale: the explode multiplies the (user, day) ROLLUP (bounded by
    * #users × #days), never the raw event stream; the count-distinct
    * shuffles on the target day. Output: date, dau, wau, mau,
    * stickiness. */
  def activeUsers(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
    // global max date as a 1-row broadcast carrier (the ev_dormancy
    // pattern) — the previous unpartitioned window moved the whole
    // user×day rollup through a single partition just to stamp it
    val uw = base.crossJoin(broadcast(base.agg(max(col("d")).as("maxd"))))
    uw.select(col("user_id"), col("d"), col("maxd"),
        explode(expr("sequence(0, 29)")).as("off"))
      .withColumn("t", date_add(col("d"), col("off")))
      .where(col("t") <= col("maxd"))
      .groupBy(col("t").as("date"))
      .agg(
        countDistinct(when(col("off") === 0, col("user_id"))).as("dau"),
        countDistinct(when(col("off") <= 6, col("user_id"))).as("wau"),
        countDistinct(col("user_id")).as("mau"))
      .withColumn("stickiness", round(col("dau").cast("double") / col("mau"), 6))
      .orderBy("date")
  }

  /** Top event-type paths: the 10 most frequent 3-step sequences
    * (trigrams over each user's time-ordered stream, event_id
    * tiebreak) — the path-mining rollup behind every Sankey/flow
    * visualization, and the sequence analogue of the 1-step
    * `transitions` matrix. One user-partitioned window pass, then a
    * count shuffle and a distributed TakeOrdered (count desc, path
    * tiebreak). Output: path, n. */
  def paths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .where(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  /** Cohort LTV curves: users cohorted by first-event date; per
    * (cohort, day age), the cohort's cumulative event value and the
    * per-user LTV — the revenue twin of the `retention` matrix
    * (retention counts who came back; this accumulates what they were
    * worth). Value sums are exact DECIMAL before the double cast; the
    * cumulative window partitions by cohort over O(#days) ages.
    * Scale: two user-keyed shuffles (cohort assignment join, cohort
    * rollup); the window runs on the O(#cohorts × #ages) rollup.
    * Output: cohort_date, age, cohort_users, cum_value, ltv. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.events(spark, dir)
      .groupBy("user_id").agg(min(col("ts").cast("date")).as("cohort_date"))
    val sized = firsts.groupBy("cohort_date").agg(count(lit(1)).as("cohort_users"))
    val wAge = Window.partitionBy("cohort_date").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .join(firsts, "user_id")
      .groupBy(col("cohort_date"),
        datediff(col("ts").cast("date"), col("cohort_date")).cast("bigint").as("age"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("day_value"))
      .withColumn("cum_value", sum(col("day_value")).over(wAge).cast("double"))
      .join(sized, "cohort_date")
      .select(col("cohort_date"), col("age"), col("cohort_users"),
        col("cum_value"),
        round(col("cum_value") / col("cohort_users"), 6).as("ltv"))
      .orderBy("cohort_date", "age")
  }

  /** Daily growth accounting — the new / retained / resurrected /
    * churned lifecycle decomposition every growth dashboard runs: per
    * day, users active for the first time, users also active the
    * previous day, users returning after a gap, and users whose
    * activity LAPSED that day (active the day before, not that day —
    * charged to the first inactive day, bounded by the stream's max
    * date so the open end never fabricates churn).
    *
    * Scale: one distinct (user, day) shuffle; both windows partition
    * by user; the day-level joins run on the O(#days) rollup. The
    * global max date rides a 1-row broadcast carrier, not a driver
    * collect or a global window. Output: date, n_new, n_retained,
    * n_resurrected, n_churned. */
  def lifecycle(spark: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy("user_id").orderBy("d")
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
    // global max date as a 1-row broadcast carrier (the ev_dormancy
    // pattern) — not an unpartitioned window over the user×day rollup
    val st = base
      .crossJoin(broadcast(base.agg(max(col("d")).as("maxd"))))
      .withColumn("prev", lag(col("d"), 1).over(wU))
      .withColumn("nxt", lead(col("d"), 1).over(wU))
    val states = st.groupBy(col("d").as("date")).agg(
      sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev") === date_add(col("d"), -1), 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("prev").isNotNull && col("prev") < date_add(col("d"), -1), 1L)
        .otherwise(0L)).as("n_resurrected"))
    val churn = st
      .where((col("nxt").isNull || col("nxt") > date_add(col("d"), 1)) &&
        date_add(col("d"), 1) <= col("maxd"))
      .groupBy(date_add(col("d"), 1).as("date"))
      .agg(count(lit(1)).as("n_churned"))
    states.join(churn, Seq("date"), "full_outer")
      .select(col("date"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("date")
  }

  /** Activity-concentration audit: Gini coefficient of per-user event
    * counts plus the top-decile share — "do 10% of users generate 90%
    * of the traffic", the skew number capacity planning and abuse
    * detection both start from.
    *
    * Scale shape: the rank-weighted sum Σ rank·c is computed on the
    * GROUPED distribution (one row per distinct activity level, with
    * multiplicity) — ranks within a tie-group are consecutive, so the
    * group contributes m·below + m(m+1)/2 ranks exactly, and the only
    * window runs over O(#distinct activity levels) rows, never
    * O(#users). Tie order cannot affect the sum (c is constant within
    * a group), so no per-user tiebreak is needed at all. Accumulation
    * in DECIMAL(38,0) — Σ rank·c overflows BIGINT near 10^9 users ×
    * 10^2 events (the ADVICE-r6 checksum lesson).
    * Output: n_users, total_events, gini, top10_users, top10_share. */
  def gini(spark: SparkSession, dir: String): DataFrame = {
    val byCount = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("m"))
    val wAsc = Window.orderBy("c")
    val cum = byCount
      .withColumn("below",
        coalesce(sum(col("m")).over(wAsc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("m")).over(Window.partitionBy()))
      .withColumn("t", sum(col("c") * col("m")).over(Window.partitionBy()))
      .withColumn("k", expr("(n + 9) div 10"))
      .withColumn("above", col("n") - col("below") - col("m"))
      .withColumn("take", greatest(lit(0L), least(col("m"), col("k") - col("above"))))
    cum.agg(
        first(col("n")).as("n_users"),
        first(col("t")).as("total_events"),
        first(col("k")).as("top10_users"),
        sum(expr("cast(c as decimal(20,0)) * (cast(m as decimal(20,0)) * cast(below as decimal(20,0))" +
          " + cast(m * (m + 1) div 2 as decimal(20,0)))")).as("s"),
        sum(expr("cast(take as decimal(20,0)) * cast(c as decimal(20,0))")).as("top_ev"))
      .select(col("n_users"), col("total_events"),
        round(expr("cast(2 * s - (cast(n_users as decimal(20,0)) + 1) * cast(total_events as decimal(20,0)) as double)" +
          " / cast(cast(n_users as decimal(20,0)) * cast(total_events as decimal(20,0)) as double)"), 6).as("gini"),
        col("top10_users"),
        round(expr("cast(top_ev as double) / cast(total_events as double)"), 6).as("top10_share"))
  }

  /** p-chart statistical process control over the daily error rate:
    * center line p̄ = Σerr/Σn (pooled), limits p̄ ± 3·√(p̄(1−p̄)/n_t)
    * per day (variable subgroup size), out-of-control flag on the RAW
    * comparison (both engines compute the identical doubles from
    * exact integer counts, so the flag cannot flap across engines) —
    * the standard ops-monitoring chart for a proportion metric. One
    * day rollup; the pooled center rides a 1-row broadcast carrier.
    * Output: date, n, n_err, rate, ucl, lcl, oob. */
  def errorSpc(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("ts").cast("date").as("date"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
    val tot = daily.agg(sum(col("n")).as("tn"), sum(col("n_err")).as("te"))
    val pbar = col("te").cast("double") / col("tn")
    val se = sqrt(pbar * (lit(1.0) - pbar) / col("n"))
    val rate = col("n_err").cast("double") / col("n")
    daily.crossJoin(broadcast(tot))
      .select(col("date"), col("n"), col("n_err"),
        round(rate, 6).as("rate"),
        round(pbar + lit(3.0) * se, 6).as("ucl"),
        round(greatest(lit(0.0), pbar - lit(3.0) * se), 6).as("lcl"),
        (rate > pbar + lit(3.0) * se ||
          rate < greatest(lit(0.0), pbar - lit(3.0) * se)).as("oob"))
      .orderBy("date")
  }

  /** Dormancy distribution: users bucketed by days since their last
    * activity, as of the corpus max date — the re-engagement
    * segmentation (active / lapsing / dormant / churned) a lifecycle
    * campaign keys on. Integer day arithmetic only; the max date
    * rides a 1-row broadcast carrier (never a window over the user
    * rollup). Output: bucket, lo_days, n_users. */
  def dormancy(spark: SparkSession, dir: String): DataFrame = {
    val lastAct = Tables.events(spark, dir)
      .groupBy("user_id").agg(max(col("ts").cast("date")).as("last_d"))
    val maxD = lastAct.agg(max(col("last_d")).as("max_d"))
    lastAct.crossJoin(broadcast(maxD))
      .withColumn("gap", datediff(col("max_d"), col("last_d")))
      .withColumn("bucket",
        when(col("gap") === 0, "0_today")
          .when(col("gap") <= 7, "1_week")
          .when(col("gap") <= 30, "2_month")
          .otherwise("3_dormant"))
      .withColumn("lo_days",
        when(col("gap") === 0, 0L).when(col("gap") <= 7, 1L)
          .when(col("gap") <= 30, 8L).otherwise(31L))
      .groupBy("bucket", "lo_days")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("bucket")
  }

  /** Time-to-convert: per user, the gap from first signup to the
    * first purchase AT OR AFTER it, summarized as lower median / p90
    * / mean seconds. Both quantiles are EXACT order statistics at
    * integral positions by construction — lower median = element
    * (n+1) div 2, p90 = element max(1, (9n) div 10) in (gap, user_id)
    * order — so no interpolation and no float position, the
    * `ts_bands` discipline applied to a data-dependent n. The mean
    * divides an exact integer micros sum. Per-user mins are one
    * keyed rollup; the rank window runs over the O(#converting-users)
    * gap rollup. Output: n_users, median_s, p90_s, mean_s. */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val su = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t0"))
    val gaps = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("tp"))
      .join(su, "user_id")
      .where(col("tp") >= col("t0"))
      .groupBy("user_id").agg((min(col("tp") - col("t0"))).as("gap"))
    val wRank = Window.orderBy(col("gap"), col("user_id"))
    gaps
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("med_pos", expr("(n + 1) div 2"))
      .withColumn("p90_pos", greatest(lit(1L), expr("(9 * n) div 10")))
      .agg(first(col("n")).as("n_users"),
        round(max(when(col("rn") === col("med_pos"), col("gap"))) / 1e6, 6).as("median_s"),
        round(max(when(col("rn") === col("p90_pos"), col("gap"))) / 1e6, 6).as("p90_s"),
        round(sum(col("gap")).cast("double") / first(col("n")) / 1e6, 6).as("mean_s"))
  }

  /** Burst detection: each user's peak event rate — the maximum event
    * count inside any trailing 1-hour window — surfaced as the top-5
    * burstiest users. The per-user RANGE window on microsecond epochs
    * is bounded by that user's events (never global), and the window
    * bound is integer micros so both engines see the identical frame
    * (epoch seconds would disagree on sub-second truncation).
    * Output: user_id, burst_1h, n_events. */
  def burst(spark: SparkSession, dir: String): DataFrame = {
    val wRange = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-(3600L * 1000000 - 1), Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("in_hour", count(lit(1)).over(wRange))
      .groupBy("user_id")
      .agg(max(col("in_hour")).as("burst_1h"), count(lit(1)).as("n_events"))
      .orderBy(col("burst_1h").desc, col("user_id"))
      .limit(5)
  }

  /** KMV (k-minimum-values) distinct-count sketch per event type,
    * k = 32, CHECKED AGAINST THE EXACT COUNT — the deterministic
    * companion to `ev_approx`'s HLL: the sketch value is a pure
    * function of md5, so unlike engine-internal HLL registers both
    * engines compute the identical estimate and the oracle
    * hash-matches it. Estimator: with h(u) uniform on [0,1) from the
    * top 52 bits of md5(user_id), est = (k−1)/h_(k) where h_(k) is
    * the k-th smallest distinct hash. Everything stays INTEGER until
    * the single final division ((k−1)·2^52 / h4 with h4 the raw
    * 52-bit value), so parity is exact. The sketch is MERGEABLE —
    * the min-k of a union is the min-k of pooled min-k sets — which
    * is what makes it the 100-TB shape: per-partition min-k partial
    * aggregation, one tiny shuffle of k values per group, no
    * distinct-shuffle of raw user ids at estimate time (the exact
    * branch here exists only for the audit readout). Groups with
    * < k distinct hashes report the exact count as the estimate (the
    * standard small-set exact regime). Output: event_type, n_exact,
    * n_est, err_pct. */
  /** Count-min sketch audit — the mergeable heavy-hitter counter a
    * streaming pipeline keeps where exact per-key counts don't fit:
    * d=4 salted-md5 hash rows × w=512 counters; a key's estimate is
    * the MIN over its 4 row counters (always ≥ exact — the one-sided
    * CMS error). Like `kmvDistinct`, the sketch is a pure
    * deterministic function of the data (no RNG), so the whole thing
    * is oracle-checkable: the 2048-cell counter table is one
    * groupBy over the map-side (row, bucket) explode, the probe side
    * is the exact top-10 (TakeOrdered), and the counter table
    * broadcasts. Output: user_id, n_exact, n_est, err (est − exact,
    * ≥ 0). */
  def cmsUsers(spark: SparkSession, dir: String): DataFrame = {
    val w = 512
    val rows = 0 until 4
    def bkt(r: Int): Column =
      pmod(expr(s"cast(conv(substring(md5(concat('cms$r|', cast(user_id as string))), 1, 14), 16, 10) as bigint)"),
        lit(w))
    val ev = Tables.events(spark, dir).select(col("user_id"))
      // spread the 4-per-row salted md5 hashing (the single-row-group
      // scan otherwise runs it serially, twice — counters + probes);
      // user_id partitioning also feeds the exact top-10 rollup
      // exchange-free (explicit N, as elsewhere)
      .repartition(Tables.shufflePartitions(spark), col("user_id"))
    val counters = ev
      .select(col("user_id"), posexplode(array(rows.map(bkt): _*)).as(Seq("r", "bkt")))
      .groupBy("r", "bkt").agg(count(lit(1)).as("c"))
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(10)
    top
      .select(col("user_id"), col("n_exact"),
        posexplode(array(rows.map(bkt): _*)).as(Seq("r", "bkt")))
      .join(broadcast(counters), Seq("r", "bkt"))
      .groupBy("user_id", "n_exact")
      .agg(min(col("c")).as("n_est"))
      .withColumn("err", col("n_est") - col("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id"))
  }

  /** Mergeable QUANTILE sketch — the fourth sketch of the family
    * (HLL distinct, KMV distinct, CMS frequency, and now rank):
    * power-of-two buckets over exact integer micros, bucket =
    * binary-digit count (`length(bin(v))` — an EXACT integer
    * operation in both engines, so there is no log-boundary last-ulp
    * risk to cross-engine parity; a production γ=1.02 DDSketch swaps
    * the bucket function and keeps everything else). Per-key bucket
    * counts are a map-side partial aggregate into ≤ 64 rows of state
    * per key — mergeable across partitions, releases, and engines by
    * integer addition, where the exact `rel_quantiles` needs a sort.
    * Readout: pXX = the lower edge 2^(bucket−1) of the bucket whose
    * running count first reaches rank ⌈q·n⌉ (integer ceil-div) — a
    * ≤ 2× relative-error envelope by construction, which [[evOutliers]]
    * -grade monitoring accepts for alerting. Output: event_type, n,
    * p50_est, p90_est, p99_est. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame =
    sketchReadout(sketchBuckets(Tables.events(spark, dir)))

  /** The sketch state: per-(event_type, bucket) counts — ≤ 64 rows
    * per key, mergeable by integer addition. */
  private def sketchBuckets(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), round(col("value") * 1e6).cast("bigint").as("v"))
      .withColumn("bucket",
        when(col("v") <= 0, lit(0L)).otherwise(length(bin(col("v"))).cast("bigint")))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("c"))

  /** The rank readout over a (event_type, bucket, c) state table. */
  private def sketchReadout(h: DataFrame): DataFrame = {
    val wt = Window.partitionBy("event_type")
    val run = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = h.withColumn("n", sum(col("c")).over(wt))
      .withColumn("cum", sum(col("c")).over(run))
    def edge(b: String) = expr(
      s"CASE WHEN $b = 0 THEN CAST(0 AS BIGINT) " +
        s"ELSE shiftleft(CAST(1 AS BIGINT), CAST($b - 1 AS INT)) END")
    g.groupBy("event_type").agg(
        max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("bucket"))).as("b50"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("bucket"))).as("b90"),
        min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("bucket"))).as("b99"))
      .select(col("event_type"), col("n"),
        edge("b50").as("p50_est"),
        edge("b90").as("p90_est"),
        edge("b99").as("p99_est"))
      .orderBy("event_type")
  }

  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val hashed = Tables.events(spark, dir)
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 13), 16, 10)
          .cast("long").as("h"))
      .distinct() // (type, h): the KMV state space
    val wT = Window.partitionBy("event_type").orderBy("h")
    val kth = hashed
      .withColumn("rn", row_number().over(wT))
      .groupBy("event_type")
      .agg(max(when(col("rn") === k, col("h"))).as("hk"),
        count(lit(1)).as("n_exact"))
    kth.select(col("event_type"), col("n_exact"),
        when(col("hk").isNotNull,
          round(lit((k - 1).toDouble * 4503599627370496.0) / col("hk"), 2))
          .otherwise(col("n_exact").cast("double")).as("n_est"))
      .withColumn("err_pct",
        round((col("n_est") - col("n_exact")) / col("n_exact") * 100, 4))
      .orderBy("event_type")
  }
}
