package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.Tables

/** Date-keyed time-series operators — the analytical heart of the
  * reference (growth-of-10k, TVL, monthly / trailing returns; see
  * SURVEY.md §2.5, reference `defimap_pipeline/aave_transform.py`).
  *
  * Re-expressed over the driver test tables: the "TVL" series is the
  * daily order-revenue aggregate, the "benchmark" series the daily
  * lineitem-revenue aggregate.
  *
  * Scale notes (100 TB posture):
  *  - The only full-data operator here is the `groupBy(date)` daily
  *    rollup — a standard partial-agg + shuffle on a low-cardinality
  *    key; AQE coalesces the post-shuffle partitions.
  *  - Every window below runs on the *daily* rollup, whose row count is
  *    O(#calendar days), independent of input scale, so the
  *    unpartitioned `Window.orderBy("date")` is a deliberate,
  *    bounded-size single partition. Multi-series variants (many
  *    strategies) must add `partitionBy("name")` — see
  *    `aave_transform.py:138` for the reference's analogous partition.
  *
  * Oracle-parity notes: monetary sums are aggregated as DECIMAL(18,2)
  * (exact, order-independent) and only then cast to double, so Spark
  * and DuckDB see bit-identical series; window cumsums run in date
  * order in both engines; libm-dependent outputs (exp/ln/pow) are
  * rounded to 6 dp.
  */
object TimeSeries {

  /** Exact daily revenue rollup: decimal sum → double. */
  private def dailySeries(df: DataFrame, dateCol: String, amtCol: String,
                          outCol: String): DataFrame =
    df.groupBy(to_date(col(dateCol)).as("date"))
      .agg(sum(col(amtCol).cast("decimal(18,2)")).cast("double").as(outCol))

  /** Daily order revenue — the engine's "TVL" series. */
  // The three daily rollups are the shared input of the whole ts_* /
  // risk family (20+ consumers): landed once per corpus version as
  // O(#days)-row artifacts (`ArtifactCache` — the same posture as the
  // dedup/kNN index artifacts), read by every consumer instead of
  // re-running the fact scan + rollup per query.
  def dailyOrderRevenue(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.table(spark, "ts_daily_tvl", dir)(
      dailySeries(Tables.orders(spark, dir), "o_orderdate", "o_totalprice", "tvl"))

  /** Daily lineitem revenue — the "benchmark" series (reference's
    * wbtc buy-and-hold analogue, `aave_transform.py:41-90`). */
  def dailyBenchmark(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.table(spark, "ts_daily_bench", dir)(
      dailySeries(Tables.lineitem(spark, dir), "l_shipdate", "l_extendedprice", "bench"))

  private val wDate    = Window.orderBy("date")
  private val wCum     = wDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Day-over-day fractional change of `c` along `w` (by default the
    * one-series date order), null on each series' first row. */
  private[ops] def pctChange(c: Column, w: WindowSpec = wDate): Column =
    (c - lag(c, 1).over(w)) / lag(c, 1).over(w)

  /** TVL pipeline (slice 0) — reference `aave_transform.py:249-268`.
    * Quirk preserved: percent_change divides by the *current* value,
    * guarded with NULLIF (SURVEY.md §8.1).
    * Output: date, tvl, change_tvl, percent_change.
    */
  def tvl(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyOrderRevenue(spark, dir)
    daily
      .withColumn("change_tvl", col("tvl") - coalesce(lag(col("tvl"), 1).over(wDate), col("tvl")))
      .withColumn("percent_change", round(col("change_tvl") / nullif(col("tvl"), lit(0.0)), 6))
      .orderBy("date")
  }

  /** Growth-of-$10k index — reference `aave_transform.py:93-130` (W1–W3).
    * The reference's `LAG(end_day_investment)` recursion is the closed
    * form `10000 * EXP(SUM(LN(1+pct)))`, which both engines evaluate as
    * the same sequential cumulative sum over the date order.
    * Output: date, start_day_investment, end_day_investment, percent_change.
    */
  def gotk(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyOrderRevenue(spark, dir)
    val pct = daily.withColumn("pct", pctChange(col("tvl")))
    val endRaw = exp(sum(log(lit(1.0) + coalesce(col("pct"), lit(0.0)))).over(wCum)) * lit(10000.0)
    pct
      .withColumn("end_raw", endRaw)
      .withColumn("start_raw", coalesce(lag(col("end_raw"), 1).over(wDate), lit(10000.0)))
      .select(
        col("date"),
        round(col("start_raw"), 2).as("start_day_investment"),
        round(col("end_raw"), 2).as("end_day_investment"),
        round(col("pct"), 6).as("percent_change"))
      .orderBy("date")
  }

  /** Month-to-date total return, reset each calendar month — reference
    * `aave_transform.py:133-167` (W4: PARTITION BY yyyy-MM month bucket).
    * Output: date, month, percent_change.
    */
  def totalReturn(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyOrderRevenue(spark, dir)
    val wMonth = Window.partitionBy("month").orderBy("date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("pct", pctChange(col("tvl")))
      .withColumn("month", date_format(col("date"), "yyyy-MM"))
      .select(
        col("date"), col("month"),
        round(exp(sum(log(lit(1.0) + coalesce(col("pct"), lit(0.0)))).over(wMonth)) - lit(1.0), 6)
          .as("percent_change"))
      .orderBy("date")
  }

  /** Trailing-period compounded returns as of the latest date in the
    * series — reference `aave_transform.py:170-216` (W5 log-compounded
    * return, W7 full-window gate, U1 union of period branches).
    *
    * For each period the return compounds `pct` over `(start, ds]` and
    * is NULL unless an observation exists exactly at `start` (the
    * reference's FIRST_VALUE gate, SURVEY.md §8.7). The as-of date is
    * carried via a broadcast cross-join of the 1-row max-date aggregate
    * — no driver-side collect, so the plan is cluster-shaped.
    * Output: period, start_date, percent_change.
    */
  def trailingReturn(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyOrderRevenue(spark, dir)
    val pct = daily.withColumn("pct", pctChange(col("tvl")))
    // One 6-row periods dimension from the as-of row, broadcast against
    // the pct series, ONE grouped aggregate — not six branch subplans
    // each rescanning the fact table (plan-identical semantics, 1/6th
    // the jobs; this is the union U1 folded into a dimension join).
    val periods = daily.agg(max(col("date")).as("ds")).select(
      col("ds"),
      explode(array(
        struct(lit("1d").as("period"), date_sub(col("ds"), 1).as("start_date")),
        struct(lit("1m").as("period"), add_months(col("ds"), -1).as("start_date")),
        struct(lit("3m").as("period"), add_months(col("ds"), -3).as("start_date")),
        struct(lit("6m").as("period"), add_months(col("ds"), -6).as("start_date")),
        struct(lit("1y").as("period"), add_months(col("ds"), -12).as("start_date")),
        struct(lit("ytd").as("period"), trunc(col("ds"), "year").as("start_date"))
      )).as("p"))
      .select(col("p.period"), col("p.start_date"), col("ds"))

    pct.join(broadcast(periods), col("date").between(col("start_date"), col("ds")))
      .groupBy(col("period"), col("start_date"))
      .agg(
        round(
          when(min(col("date")) === col("start_date"),
            exp(sum(when(col("date") > col("start_date"),
              log(lit(1.0) + coalesce(col("pct"), lit(0.0)))).otherwise(lit(0.0)))) - lit(1.0)),
          6).as("percent_change"))
      .select(col("period"), col("start_date"), col("percent_change"))
      .orderBy("period")
  }

  /** Sliding-frame window: 7-day moving average and moving max of the
    * daily revenue (ROWS BETWEEN 6 PRECEDING AND CURRENT ROW — the one
    * frame shape the reference never uses; included for engine
    * completeness). Output: date, tvl, ma7, max7. */
  def movingAverage(spark: SparkSession, dir: String): DataFrame = {
    val w7 = wDate.rowsBetween(-6, Window.currentRow)
    dailyOrderRevenue(spark, dir)
      // 2dp: sliding sums associate differently across engines (Spark
      // recomputes frames, DuckDB uses a segment tree), so 6dp on a
      // 1e6-magnitude average would sit too close to ulp divergence
      .withColumn("ma7", round(avg(col("tvl")).over(w7), 2))
      .withColumn("max7", max(col("tvl")).over(w7))
      .orderBy("date")
  }

  /** Rolling percentile bands: exact p10/p50/p90 of the trailing 31
    * days of revenue — the envelope a dashboard shades behind the
    * line, and the non-parametric sibling of the z-score anomaly gate
    * (a point outside its own trailing band needs no normality
    * assumption). The frame is 31 rows ON PURPOSE: p·(n−1) is then
    * integral for all three percentiles (3, 15, 27), so the window
    * quantile is an exact order statistic with NO interpolation —
    * bit-identical across engines (a 30-row frame interpolates at
    * fraction .9 and lands on half-cent rounding boundaries; measured
    * flaking at any rounding width). Full-window gated; runs on the
    * O(#days) rollup. Output: date, p10, p50, p90. */
  def percentileBands(spark: SparkSession, dir: String): DataFrame = {
    val w31 = wDate.rowsBetween(-30, Window.currentRow)
    dailyOrderRevenue(spark, dir)
      .withColumn("rn", row_number().over(wDate))
      .withColumn("p10", expr("percentile(tvl, 0.1)").over(w31))
      .withColumn("p50", expr("percentile(tvl, 0.5)").over(w31))
      .withColumn("p90", expr("percentile(tvl, 0.9)").over(w31))
      .where(col("rn") >= 31)
      .select("date", "p10", "p50", "p90")
      .orderBy("date")
  }

  /** Weekly OHLC resample of the daily revenue series — the standard
    * downsample for charting and weekly reporting: per ISO week,
    * opening value (earliest day, `min_by`), high, low, and closing
    * value (latest day, `max_by`), plus days observed. Dates within a
    * week are unique, so the argmin/argmax elections are
    * tie-free-deterministic. One small aggregate over the O(#days)
    * rollup. Output: week, open, high, low, close, n_days. */
  def resampleWeekly(spark: SparkSession, dir: String): DataFrame =
    dailyOrderRevenue(spark, dir)
      .groupBy(date_trunc("week", col("date")).cast("date").as("week"))
      .agg(min_by(col("tvl"), col("date")).as("open"),
        max(col("tvl")).as("high"),
        min(col("tvl")).as("low"),
        max_by(col("tvl"), col("date")).as("close"),
        count(lit(1)).as("n_days"))
      .orderBy("week")

  /** Rolling 30-day return correlation between the revenue ("TVL")
    * series and the benchmark series — the co-movement diagnostic
    * behind hedge ratios and regime detection. Correlation runs over
    * DAY-OVER-DAY FRACTIONAL CHANGES (O(1e-2) magnitudes), not raw
    * 1e6-magnitude levels, so the cross-engine co-moment divergence
    * that forces `movingAverage` down to 2 dp stays far below the
    * 6-dp gate here; corr is additionally scale-free. Full-window
    * gate (31st joined day onward) like `trailingReturn`. The window
    * is unpartitioned but runs on the O(#days) rollup, not the fact
    * table. Output: date, corr30. */
  def rollingCorr(spark: SparkSession, dir: String): DataFrame = {
    val joined = dailyOrderRevenue(spark, dir)
      .join(dailyBenchmark(spark, dir), "date")
    val w30 = wDate.rowsBetween(-29, Window.currentRow)
    joined
      .withColumn("rx", pctChange(col("tvl")))
      .withColumn("ry", pctChange(col("bench")))
      .withColumn("rn", row_number().over(wDate))
      .withColumn("corr30", round(corr(col("rx"), col("ry")).over(w30), 6))
      .where(col("rn") >= 31)
      .select("date", "corr30")
      .orderBy("date")
  }

  /** Exponentially-weighted moving average (half-life 15 days over a
    * 30-day lookback) of the daily revenue — the standard smoothing
    * financial dashboards layer on volatile TVL-style series. Weights
    * renormalize over the days actually PRESENT in the window
    * (ignore-missing semantics), so calendar gaps don't drag the
    * average.
    *
    * Scale form: NOT a non-equi self-join (that plans as a nested
    * loop) — each anchor date explodes its 30 candidate offsets
    * map-side and hash-equi-joins back to the rollup on the offset
    * date; one shuffle, the same shape at any series length. 2 dp
    * rounding for the same reason as `movingAverage`: windowed float
    * sums associate differently across engines at 1e6 magnitudes.
    * Output: date, ewma15, n_obs. */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    // cached: the anchor and lookup sides both read it (uncached, the
    // by-segment form measured 0.66 s against 0.41 s at sf0.1, 4 vCPUs)
    val daily = dailyOrderRevenue(spark, dir).persist()
    daily.count()
    val probes = daily
      .select(col("date"), explode(expr("sequence(0, 29)")).as("k"))
      .select(col("date"), col("k"), expr("date_sub(date, k)").as("b_date"))
    probes
      .join(daily.select(col("date").as("b_date"), col("tvl")), "b_date")
      .withColumn("w", pow(lit(0.5), col("k").cast("double") / 15.0))
      .groupBy("date")
      .agg(
        round(sum(col("tvl") * col("w")) / sum(col("w")), 2).as("ewma15"),
        count(lit(1)).as("n_obs"))
      .orderBy("date")
  }

  /** Rolling z-score anomaly detection on the daily revenue series:
    * each day scored against the mean/stddev of the 30 PRECEDING days
    * (the day itself excluded, so a spike can't mask itself), flagged
    * when |z| > 2. The full-window gate (exactly 30 prior observations)
    * keeps early days unscored rather than scored against a thin
    * baseline — same discipline as `trailingReturns`' W7 gate. z is
    * O(1)-magnitude (a ratio of 1e6-magnitude terms), so 6 dp rounding
    * sits far above cross-engine ulp divergence, and the flag is
    * derived from the ROUNDED z in both engines so the boundary is
    * engine-deterministic. Runs on the O(#days) rollup — the one
    * documented unpartitioned-window shape; the per-key variant would
    * partition by series key like every other multi-series op.
    * Output: date, tvl, z (null until the gate fills), is_anomaly. */
  def zscoreAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val w30 = wDate.rowsBetween(-30, -1)
    dailyOrderRevenue(spark, dir)
      .withColumn("n30", count(lit(1)).over(w30))
      .withColumn("mu", avg(col("tvl")).over(w30))
      .withColumn("sd", stddev_samp(col("tvl")).over(w30))
      .withColumn("z",
        when(col("n30") === 30,
          round((col("tvl") - col("mu")) / nullif(col("sd"), lit(0.0)), 6)))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > 2.0, lit(false)))
      .select(col("date"), col("tvl"), col("z"), col("is_anomaly"))
      .orderBy("date")
  }

  /** Multi-series `zscoreAnomaly`: the same 30-observation rolling
    * z-score per market segment — the window gains
    * `partitionBy("name")` and nothing else changes, so 1000 series is
    * the identical single-shuffle plan with more window partitions
    * (the multi-series discipline every ts_* operator here follows).
    * Output: name, date, tvl, z, is_anomaly. */
  def zscoreAnomalyBySegment(spark: SparkSession, dir: String): DataFrame = {
    val w30 = Window.partitionBy("name").orderBy("date").rowsBetween(-30, -1)
    dailyOrderRevenueBySegment(spark, dir)
      .withColumn("n30", count(lit(1)).over(w30))
      .withColumn("mu", avg(col("tvl")).over(w30))
      .withColumn("sd", stddev_samp(col("tvl")).over(w30))
      .withColumn("z",
        when(col("n30") === 30,
          round((col("tvl") - col("mu")) / nullif(col("sd"), lit(0.0)), 6)))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > 2.0, lit(false)))
      .select(col("name"), col("date"), col("tvl"), col("z"), col("is_anomaly"))
      .orderBy("name", "date")
  }

  /** Lag-k autocorrelation of the daily revenue series (k = 1, 7, 30)
    * — the diagnostic behind every seasonality/trend decision (a high
    * lag-7 ACF is what justifies `seasonality`'s weekly profile).
    * Pearson correlation of the series with its lagged self over the
    * overlapping rows; `corr` is an O(1)-magnitude ratio, so 6 dp
    * rounding absorbs cross-engine co-moment accumulation-order
    * differences. Three passes over the O(#days) rollup (one per lag),
    * each a window + scalar aggregate. Output: lag, acf, n. */
  def autocorrelation(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyOrderRevenue(spark, dir)
    Seq(1, 7, 30).map { k =>
      daily
        .withColumn("l", lag(col("tvl"), k).over(wDate))
        .where(col("l").isNotNull)
        .agg(round(corr(col("tvl"), col("l")), 6).as("acf"), count(lit(1)).as("n"))
        .select(lit(k.toLong).as("lag"), col("acf"), col("n"))
    }.reduce(_.unionByName(_)).orderBy("lag")
  }

  /** Day-of-week seasonal profile of the daily revenue series: per-dow
    * observation count, exact mean (decimal sum / count — never
    * avg-of-doubles, same discipline as `Relational.profile`), and the
    * seasonal index (dow mean / overall mean). dow is ISO (0=Monday):
    * Spark `weekday`; the oracle uses `isodow - 1`. The overall mean
    * rides a 1-row broadcast carrier. 7-row output from one partial-agg
    * groupBy over the O(#days) rollup — trivially scale-safe.
    * Output: dow, n_days, mean_tvl, seasonal_index. */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyOrderRevenue(spark, dir)
    val overall = daily.agg(
      (sum(col("tvl").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("overall_mean"))
    daily
      .groupBy(weekday(col("date")).cast("bigint").as("dow"))
      .agg(count(lit(1)).as("n_days"),
        (sum(col("tvl").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("m"))
      .crossJoin(broadcast(overall))
      .select(col("dow"), col("n_days"),
        round(col("m"), 2).as("mean_tvl"),
        round(col("m") / col("overall_mean"), 6).as("seasonal_index"))
      .orderBy("dow")
  }

  /** Multi-series `ewma`: the same offset-equi-join per market
    * segment — the join key grows to (name, b_date) and everything
    * else is unchanged, so 1000 series is the identical single-shuffle
    * plan. Output: name, date, ewma15, n_obs. */
  def ewmaBySegment(spark: SparkSession, dir: String): DataFrame = {
    // cached: the anchor and lookup sides both read it (uncached,
    // measured 0.66 s against 0.41 s at sf0.1, 4 vCPUs)
    val daily = dailyOrderRevenueBySegment(spark, dir).persist()
    daily.count()
    val probes = daily
      .select(col("name"), col("date"), explode(expr("sequence(0, 29)")).as("k"))
      .select(col("name"), col("date"), col("k"), expr("date_sub(date, k)").as("b_date"))
    probes
      .join(daily.select(col("name"), col("date").as("b_date"), col("tvl")),
        Seq("name", "b_date"))
      .withColumn("w", pow(lit(0.5), col("k").cast("double") / 15.0))
      .groupBy("name", "date")
      .agg(
        round(sum(col("tvl") * col("w")) / sum(col("w")), 2).as("ewma15"),
        count(lit(1)).as("n_obs"))
      .orderBy("name", "date")
  }

  /** Per-segment daily order revenue — the multi-series "TVL" fact
    * table (name, date, tvl): ONE shuffle on the (name, date) rollup
    * key; every multi-series operator partitions its windows on `name`
    * from here. */
  private[ops] def dailyOrderRevenueBySegment(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.table(spark, "ts_daily_tvl_seg", dir)(
      Tables.orders(spark, dir)
        .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("name"), to_date(col("o_orderdate")).as("date"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("tvl")))

  /** Multi-series gotk: one growth index per customer market segment,
    * every window `partitionBy("name")` — the shape the reference's
    * multi-strategy tables take and the one that scales: N series run
    * as N independent window partitions after a single shuffle, so
    * 1000× more series costs no extra sort depth (SURVEY.md §7.4's
    * "always partitionBy(name) in multi-strategy tables").
    * Output: name, date, end_day_investment, percent_change. */
  def gotkBySegment(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyOrderRevenueBySegment(spark, dir)
    val wName = Window.partitionBy("name").orderBy("date")
    val wNameCum = wName.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("pct", pctChange(col("tvl"), wName))
      .select(
        col("name"), col("date"),
        round(exp(sum(log(lit(1.0) + coalesce(col("pct"), lit(0.0)))).over(wNameCum)) * lit(10000.0), 2)
          .as("end_day_investment"),
        round(col("pct"), 6).as("percent_change"))
      .orderBy("name", "date")
  }

  /** Multi-series trailing returns: `trailingReturn` with every window
    * and aggregate under the series key — the reference's actual
    * topology (one task chain per strategy, `aave_transform.py:627-657`)
    * collapsed into ONE plan: each series gets its own as-of date and
    * 6-row period dimension (the periods table is O(6·#series) and
    * broadcasts), and the compounding aggregate groups by (name,
    * period). 1000× more series = more groups in the same two
    * shuffles, no new stages.
    * Output: name, period, start_date, percent_change. */
  def trailingReturnBySegment(spark: SparkSession, dir: String): DataFrame = {
    // the rollup is a landed artifact, so its two consumers (the pct
    // window and the per-series as-of aggregate) are two file reads
    val daily = dailyOrderRevenueBySegment(spark, dir)
    val pct = daily.withColumn("pct", pctChange(col("tvl"), Window.partitionBy("name").orderBy("date")))
    val periods = daily.groupBy(col("name").as("pname")).agg(max(col("date")).as("ds"))
      .select(col("pname"), col("ds"),
        explode(array(
          struct(lit("1d").as("period"), date_sub(col("ds"), 1).as("start_date")),
          struct(lit("1m").as("period"), add_months(col("ds"), -1).as("start_date")),
          struct(lit("3m").as("period"), add_months(col("ds"), -3).as("start_date")),
          struct(lit("6m").as("period"), add_months(col("ds"), -6).as("start_date")),
          struct(lit("1y").as("period"), add_months(col("ds"), -12).as("start_date")),
          struct(lit("ytd").as("period"), trunc(col("ds"), "year").as("start_date"))
        )).as("p"))
      .select(col("pname"), col("p.period"), col("p.start_date"), col("ds"))
    pct.join(broadcast(periods),
        col("name") === col("pname") && col("date").between(col("start_date"), col("ds")))
      .groupBy(col("name"), col("period"), col("start_date"))
      .agg(
        round(
          when(min(col("date")) === col("start_date"),
            exp(sum(when(col("date") > col("start_date"),
              log(lit(1.0) + coalesce(col("pct"), lit(0.0)))).otherwise(lit(0.0)))) - lit(1.0)),
          6).as("percent_change"))
      .select(col("name"), col("period"), col("start_date"), col("percent_change"))
      .orderBy("name", "period")
  }

  /** Benchmark series builder — reference `get_benchmark_query`
    * (`aave_transform.py:41-90`). The branch is plan-time (P9), exactly
    * like the reference's Python `if`: a "stablecoin" strategy
    * benchmarks against the deposit index itself (gotk), anything else
    * against buy-and-hold of the benchmark asset, normalized to the
    * $10k principal via FIRST_VALUE (W2).
    * Output: date, benchmark. */
  def benchmark(spark: SparkSession, dir: String, stablecoin: Boolean): DataFrame =
    if (stablecoin)
      gotk(spark, dir).select(col("date"), col("end_day_investment").as("benchmark"))
    else
      dailyBenchmark(spark, dir)
        .select(col("date"),
          round(lit(10000.0) * col("bench") / first(col("bench")).over(wCum), 2).as("benchmark"))
        .orderBy("date")

  /** The non-stablecoin branch as a driver query (exercises W2). */
  def benchmarkBuyHold(spark: SparkSession, dir: String): DataFrame =
    benchmark(spark, dir, stablecoin = false)

  /** Linear interpolation of interior nulls, forward-limited — the one
    * genuinely custom window composition (reference pandas
    * `interpolate(method="linear", limit_direction="forward")`,
    * `aave_extract.py:685-694`; W9).
    *
    * Semantics matched to pandas: leading nulls stay null; interior
    * nulls are linearly interpolated between the surrounding non-null
    * observations; trailing nulls hold the last non-null value.
    *
    * The demo series is the daily lineitem quantity rollup with values
    * deterministically knocked out on days-of-month divisible by 5.
    * Output: date, v, v_interp.
    */
  def interpolate(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailySeries(Tables.lineitem(spark, dir), "l_shipdate", "l_quantity", "qty")
    val gapped = daily.withColumn(
      "v", when(dayofmonth(col("date")) % 5 === 0, lit(null)).otherwise(col("qty")))

    val before = wDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after  = wDate.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rn     = row_number().over(wDate)

    gapped
      .withColumn("rn", rn)
      .withColumn("prev_v",  last(col("v"), ignoreNulls = true).over(before))
      .withColumn("prev_rn", last(when(col("v").isNotNull, col("rn")), ignoreNulls = true).over(before))
      .withColumn("next_v",  first(col("v"), ignoreNulls = true).over(after))
      .withColumn("next_rn", first(when(col("v").isNotNull, col("rn")), ignoreNulls = true).over(after))
      .withColumn("v_interp", round(
        when(col("v").isNotNull, col("v"))
          .when(col("prev_v").isNull, lit(null))
          .when(col("next_v").isNull, col("prev_v"))
          .otherwise(col("prev_v") +
            (col("next_v") - col("prev_v")) *
              (col("rn") - col("prev_rn")).cast("double") /
              (col("next_rn") - col("prev_rn")).cast("double")), 6))
      .select(col("date"), round(col("v"), 6).as("v"), col("v_interp"))
      .orderBy("date")
  }

  /** Historical Value-at-Risk over daily returns: the 95% VaR is the
    * k-th SMALLEST return with k = ceil(0.05·n) — an exact order
    * statistic (row_number with date tiebreak), not an interpolated
    * quantile, so the picked double is bit-identical across engines —
    * and CVaR/expected shortfall is the mean of the tail at or below
    * it. The risk twin of `drawdown`: drawdown measures the worst
    * realized path, VaR the return distribution's tail. One window
    * pass over the O(#days) rollup. Output: n_days, var95, cvar95. */
  def valueAtRisk(spark: SparkSession, dir: String): DataFrame = {
    val wRank = Window.orderBy(col("r"), col("date"))
    dailyOrderRevenue(spark, dir)
      .withColumn("r", pctChange(col("tvl")))
      .where(col("r").isNotNull)
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("k", greatest(lit(1L), ceil(col("n") * 0.05)))
      .withColumn("rn", row_number().over(wRank))
      .where(col("rn") <= col("k"))
      .agg(first(col("n")).as("n_days"),
        round(max(col("r")), 6).as("var95"),
        round(avg(col("r")), 6).as("cvar95"))
  }

  /** Naive-seasonal forecast backtest: predict each day's revenue
    * with the same-weekday value one week earlier (lag 7), then score
    * MAE / RMSE / MAPE over the overlap — the baseline every real
    * forecasting model must beat, and the backtest harness shape
    * (prediction column + error rollup) a fancier model would reuse.
    * One lag window over the O(#days) rollup.
    * Output: n_obs, mae, rmse, mape. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame =
    dailyOrderRevenue(spark, dir)
      .withColumn("pred", lag(col("tvl"), 7).over(wDate))
      .where(col("pred").isNotNull)
      .withColumn("err", col("tvl") - col("pred"))
      .agg(count(lit(1)).as("n_obs"),
        round(avg(abs(col("err"))), 6).as("mae"),
        round(sqrt(avg(col("err") * col("err"))), 6).as("rmse"),
        round(avg(abs(col("err")) / abs(col("tvl"))), 6).as("mape"))

  /** Additive seasonal decomposition (STL-shaped): trend = centered
    * 7-day moving mean (full-window gated), seasonal = per-day-of-week
    * mean of the detrended series, residual = the rest — the classic
    * trend/seasonal/remainder split a forecaster inspects before
    * modeling. ALL aggregation runs in integer CENTS (the 2-dp revenue
    * is exact in cents), so every sum is order-insensitive and exact
    * regardless of Spark's frame recompute vs DuckDB's segment tree —
    * the `ts_moving_avg` association problem engineered away rather
    * than rounded away (it had to coarsen to 2 dp; this stays at 6).
    * The only float ops are final divisions of exact integers < 2^53,
    * identical IEEE in both engines. The day-of-week window partitions
    * the O(#days) rollup 7 ways. Output: date, tvl, trend, seasonal,
    * resid. */
  def stl(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").cast("date").as("date"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("c"))
    val w7 = Window.orderBy("date").rowsBetween(-3, 3)
    val wDow = Window.partitionBy(dayofweek(col("date")))
    val seasonalCol = col("sdow").cast("double") / (lit(700L) * col("cnt"))
    daily
      .withColumn("nw", count(lit(1)).over(w7))
      .withColumn("s7", sum(col("c")).over(w7))
      .where(col("nw") === 7)
      .withColumn("detr7", lit(7L) * col("c") - col("s7"))
      .withColumn("sdow", sum(col("detr7")).over(wDow))
      .withColumn("cnt", count(lit(1)).over(wDow))
      .select(col("date"),
        round(col("c").cast("double") / 100, 6).as("tvl"),
        round(col("s7").cast("double") / 700, 6).as("trend"),
        round(seasonalCol, 6).as("seasonal"),
        round(col("detr7").cast("double") / 700 - seasonalCol, 6).as("resid"))
      .orderBy("date")
  }

  /** Single change-point detection over the revenue series: the split
    * date maximizing |mean(before) − mean(after)| with both segments
    * at least 8 observations — the binary-segmentation base step
    * (CUSUM family). Means come from one cumulative-sum pass over the
    * O(#days) rollup (no per-split rescan); the argmax is pinned on
    * the 6-dp-rounded shift with earliest-date tiebreak so both
    * engines elect the same split. Output: split_date, n_days,
    * mean_before, mean_after, shift. */
  def changePoint(spark: SparkSession, dir: String): DataFrame = {
    val wPick = Window.orderBy(col("shift").desc, col("date"))
    dailyOrderRevenue(spark, dir)
      .withColumn("rn", row_number().over(wDate))
      .withColumn("cum", sum(col("tvl")).over(wCum))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("total", sum(col("tvl")).over(Window.partitionBy()))
      .where(col("rn") >= 8 && col("n") - col("rn") >= 8)
      .withColumn("mean_before", col("cum") / col("rn"))
      .withColumn("mean_after", (col("total") - col("cum")) / (col("n") - col("rn")))
      .withColumn("shift", round(abs(col("mean_before") - col("mean_after")), 6))
      .withColumn("pick", row_number().over(wPick))
      .where(col("pick") === 1)
      .select(col("date").as("split_date"), col("n").as("n_days"),
        round(col("mean_before"), 6).as("mean_before"),
        round(col("mean_after"), 6).as("mean_after"), col("shift"))
  }

  /** Theil–Sen robust trend over the trailing 31 observations of the
    * revenue series: slope = median of all pairwise slopes, intercept
    * = median residual at that slope — the outlier-immune alternative
    * to the OLS the `risk` family runs (a single flash-crash day
    * drags OLS, not the pairwise-slope median). 31 rows → 465 pairs
    * and 31 residuals, both ODD counts, so each median is an exact
    * element (no interpolation) and the picked double is bit-identical
    * across engines — the `ts_bands` integral-position discipline.
    *
    * Scale: the pairwise self-join is O(31²) on the trailing slice of
    * the O(#days) rollup — bounded by the calendar, independent of
    * input scale; the median-slope scalar rides a 1-row broadcast
    * carrier. Output: slope, intercept, n_days, n_pairs. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val wDesc = Window.orderBy(col("date").desc)
    val s = dailyOrderRevenue(spark, dir)
      .withColumn("rn", row_number().over(wDesc))
      .where(col("rn") <= 31)
      .withColumn("x",
        datediff(col("date"), min(col("date")).over(Window.partitionBy())).cast("double"))
      .select(col("x"), col("tvl"))
      .persist()
    s.count() // 31 rows; without this the three consumers (two pair
    // sides + the residual pass) each re-run the full-corpus rollup —
    // measured 7× at 10× input, 2.6× with the slice cached
    val slopes = s.select(col("x").as("xa"), col("tvl").as("ya"))
      .join(s.select(col("x").as("xb"), col("tvl").as("yb")), col("xb") > col("xa"))
      .select(((col("yb") - col("ya")) / (col("xb") - col("xa"))).as("slope"))
    val m = slopes.agg(expr("percentile(slope, 0.5)").as("mslope"),
      count(lit(1)).as("n_pairs"))
    s.crossJoin(broadcast(m))
      .agg(round(first(col("mslope")), 6).as("slope"),
        round(expr("percentile(tvl - mslope * x, 0.5)"), 6).as("intercept"),
        count(lit(1)).as("n_days"),
        first(col("n_pairs")).as("n_pairs"))
  }
}
