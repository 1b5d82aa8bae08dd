package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational operator family — scans/projections/filters (S1-S2,
  * P1-P4), joins incl. semi/anti and broadcast dims (J1/J2), hash
  * aggregation with exact decimal sums, partitioned window ranking,
  * top-k and top-1-latest (O1-O4, A8/A9) — SURVEY.md §2.1-2.4/2.6.
  *
  * Scale notes:
  *  - dimension joins (`customer`, `nation`, `region`) are explicit
  *    `broadcast()`s — at 100 TB the fact side never shuffles for them;
  *  - aggregations rely on partial (map-side) aggregation before the
  *    key shuffle; AQE handles skewed keys;
  *  - filters/projections are plain Catalyst expressions, so parquet
  *    scans show PushedFilters + pruned ReadSchema;
  *  - top-k uses `orderBy().limit(k)` = TakeOrderedAndProject, a
  *    per-partition heap + driver merge, not a global sort.
  */
object Relational {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** S1/P1/P2: projection + rename + date-range filter, pushed to the
    * parquet scan. */
  def scanFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("date", to_date(col("o_orderdate")))
      .where(col("date").between(lit("1997-01-01"), lit("1997-12-31")))
      .select(col("o_orderkey"), col("date"), col("o_totalprice").as("price"))
      .orderBy("o_orderkey")

  /** S2/A1/A2: scalar min/max/count aggregate scan. */
  def scalarAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).agg(
      min(to_date(col("o_orderdate"))).as("start_date"),
      max(to_date(col("o_orderdate"))).as("end_date"),
      count(lit(1)).as("n"))

  /** Fixed-width histogram of order totals (50k-wide buckets): the
    * profiling companion to `quantiles` when the full distribution
    * shape matters, one partial-agg groupBy on a map-side-computed
    * bucket key — embarrassingly parallel at any scale. The bucket
    * boundary is a single IEEE division + floor, identical across
    * engines. Output: bucket, n, total. */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_totalprice") / 50000).cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("bucket")

  /** Single-pass table profiling — the data-quality monitor every
    * ingest pipeline fronts its tables with: row count, key
    * cardinalities, null counts, domain bounds, and an exact mean, all
    * from ONE scan + one aggregate (a production variant swaps the
    * exact distincts for `approx_count_distinct` at the same plan
    * shape; exact here so the oracle can check it). Mean = exact
    * decimal sum / count, divided once (cross-engine-safe, unlike
    * avg-of-doubles). Output: 1 row of profile measures. */
  def profile(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("o_custkey")).as("n_customers"),
      countDistinct(col("o_orderstatus")).as("n_statuses"),
      countDistinct(col("o_orderpriority")).as("n_priorities"),
      sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("null_prices"),
      min(to_date(col("o_orderdate"))).as("min_date"),
      max(to_date(col("o_orderdate"))).as("max_date"),
      round(dsum(col("o_totalprice")) / count(lit(1)), 2).as("avg_price"))

  /** TPC-H Q1-shaped pricing summary: multi-measure hash agg with
    * exact decimal arithmetic (A-family + F7). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(new java.math.BigDecimal(1))
    Tables.lineitem(spark, dir)
      .where(to_date(col("l_shipdate")) <= lit("2000-12-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)"))
          * (one + col("l_tax").cast("decimal(4,2)"))).cast("double").as("sum_charge"),
        round(dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
        round(sum(col("l_discount").cast("decimal(4,2)")).cast("double") / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** J1/J2 + A + O: revenue top-10 customers; dim side broadcast. */
  def topCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)

  /** 4-way dim chain join: yearly revenue per region. */
  def regionRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(to_date(col("o_orderdate"))).cast("bigint").as("o_year"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("r_name", "o_year")

  /** Left-semi join (EXISTS): customers with at least one pending order. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val pending = Tables.orders(spark, dir).where(col("o_orderstatus") === "P")
    Tables.customer(spark, dir)
      .join(pending, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti join (NOT EXISTS): customers with no orders at all. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Two-ledger reconciliation via FULL OUTER join — the audit a
    * warehouse runs between a header ledger and its recomputed
    * detail ledger: every order's stored total against the DECIMAL
    * sum of its lineitems' discounted prices, keyed full-outer so
    * BOTH orphan directions surface (an order with no lines, lines
    * with no order), with a match status and the exact delta.
    * Money stays in decimal until one final cast (the house
    * monetary rule), so the delta is addend-order-free. Scale: one
    * detail-side partial agg + one key-shuffled full-outer join —
    * both sides fact-sized, no broadcast (neither side is a dim).
    * Output: okey, o_totalprice, computed, status, delta. */
  def fullJoinReconcile(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(new java.math.BigDecimal(1))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("okey"), col("o_totalprice"))
    val l = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("okey"))
      .agg(sum(dec(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
        .cast("double").as("computed"))
    o.join(l, Seq("okey"), "full_outer")
      .select(col("okey"), col("o_totalprice"), col("computed"),
        when(col("o_totalprice").isNull, lit("missing_order"))
          .when(col("computed").isNull, lit("missing_lines"))
          .otherwise(lit("both")).as("status"),
        (coalesce(col("computed"), lit(0.0)) -
          coalesce(col("o_totalprice"), lit(0.0))).as("delta"))
      .orderBy("okey")
  }

  /** Left outer join + null fill (P7/W10/F1): revenue per customer,
    * zero for order-less customers. */
  def leftJoinFill(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("revenue"),
        count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** Partitioned window ranking: each customer's largest order
    * (row_number with deterministic tiebreak). */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }

  /** A8 min_by/max_by: per-nation supplier with extreme account balance. */
  def minMaxBy(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey"))
      .agg(
        max_by(col("s_name"), col("s_acctbal")).as("richest"),
        min_by(col("s_name"), col("s_acctbal")).as("poorest"),
        round(max(col("s_acctbal")), 6).as("max_bal"))
      .orderBy("s_nationkey")

  /** Referential-integrity audit: orphan counts along every foreign
    * key in the schema (lineitem→orders, orders→customer,
    * customer→nation, supplier→nation, nation→region) — the
    * load-gate a warehouse runs after every ingest. Each edge is one
    * left-anti join (broadcast for the dim-sized parents); output is
    * one tidy row per edge so the gate is a single small table a
    * scheduler can assert on. Output: fk, n_rows, n_orphans. */
  def fkIntegrity(spark: SparkSession, dir: String): DataFrame = {
    // pure plan — each edge is a broadcast left join + one scalar
    // aggregate; the five 1-row results union with no driver action
    def edge(name: String, child: DataFrame, childKey: String,
             parent: DataFrame, parentKey: String): DataFrame =
      child.select(col(childKey))
        .join(broadcast(parent), col(childKey) === col(parentKey), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col(parentKey).isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("fk"), col("n_rows"), col("n_orphans"))
    Seq(
      edge("lineitem.l_orderkey->orders", Tables.lineitem(spark, dir), "l_orderkey",
        Tables.orders(spark, dir).select("o_orderkey"), "o_orderkey"),
      edge("orders.o_custkey->customer", Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir).select("c_custkey"), "c_custkey"),
      edge("customer.c_nationkey->nation", Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir).select("n_nationkey"), "n_nationkey"),
      edge("supplier.s_nationkey->nation", Tables.supplier(spark, dir), "s_nationkey",
        Tables.nation(spark, dir).select("n_nationkey"), "n_nationkey"),
      edge("nation.n_regionkey->region", Tables.nation(spark, dir), "n_regionkey",
        Tables.region(spark, dir).select("r_regionkey"), "r_regionkey"))
      .reduce(_.unionByName(_))
      .orderBy("fk")
  }

  /** Part-type revenue mix (TPC-H Q14 flavor): discounted lineitem
    * revenue per part type and each type's share of the total — the
    * classic fact×dim broadcast join (part is a true dimension) with
    * exact DECIMAL money arithmetic and a 1-row total carrier.
    * Output: p_type, n_items, revenue, rev_share. */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(new java.math.BigDecimal(1))
    val byType = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"))
    val tot = byType.agg(sum(col("revenue")).as("total"))
    byType.crossJoin(broadcast(tot))
      .withColumn("rev_share", round(col("revenue") / col("total"), 6))
      .select("p_type", "n_items", "revenue", "rev_share")
      .orderBy("p_type")
  }

  /** ROLLUP aggregation with subtotals + grand total; explicit
    * grouping-bit column so the oracle compare can line up subtotal
    * rows. (Reference has no grouping sets — Spark built-in, included
    * for engine completeness.) */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("o_year", year(to_date(col("o_orderdate"))).cast("bigint"))
      .rollup(col("o_orderstatus"), col("o_year"))
      .agg(
        dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n"),
        (grouping(col("o_orderstatus")) * 2 + grouping(col("o_year"))).cast("bigint").as("g"))
      .orderBy(col("g"), col("o_orderstatus"), col("o_year"))

  /** INTERSECT / EXCEPT set operations: customers retained vs churned
    * between 1997 and 1998. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    def activeIn(yr: Int) = Tables.orders(spark, dir)
      .where(year(to_date(col("o_orderdate"))) === yr)
      .select(col("o_custkey"))
    val retained = activeIn(1997).intersect(activeIn(1998))
      .select(lit("retained").as("cohort"), col("o_custkey"))
    val churned = activeIn(1997).except(activeIn(1998))
      .select(lit("churned").as("cohort"), col("o_custkey"))
    retained.unionByName(churned).orderBy("cohort", "o_custkey")
  }

  /** Exact interpolated quantiles per group (Spark `percentile` ↔
    * DuckDB `quantile_cont`, both linear interpolation over the exact
    * sorted values). */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("median_price"),
        round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** Benford first-digit audit: the distribution of the leading
    * digit of order totals vs Benford's law — the classic
    * fabricated-data / data-quality screen. The digit is extracted in
    * the INTEGER domain (first character of floor(x) as bigint; every
    * total is > 1) so no engine-specific float formatting or log10
    * edge case is involved; the expected frequency log10(1 + 1/d) and
    * the deviation are the only float terms, both 6-dp rounded. One
    * map-side digit projection + a 9-row aggregate; the total is a
    * window sum over that ≤ 9-row digit spine (bounded by the digit
    * DOMAIN at any corpus size — inventoried in PlanAuditSpec; the
    * former 1-row carrier's broadcast build re-ran the whole corpus
    * aggregation, so the fact table was scanned twice, r18).
    * Output: digit, n, freq, benford, dev. */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .select(substring(floor(col("o_totalprice")).cast("bigint").cast("string"), 1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    digits.withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("freq", round(col("n") / col("total"), 6))
      .withColumn("benford",
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6))
      .withColumn("dev", round(abs(
        col("n") / col("total") -
          log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))), 6))
      .select("digit", "n", "freq", "benford", "dev")
      .orderBy("digit")
  }

  /** Winsorized segment means: per market segment, order totals
    * clipped to the exact [p05, p95] quantile fence (6-dp rounded so
    * the clip compare is engine-deterministic) and the mean before vs
    * after — the robust-statistics pass that keeps a few whale orders
    * from dominating a segment average. Means run over DECIMAL sums
    * (exact, then one final division); the quantile table is 5 rows
    * and broadcasts back onto the fact scan. Output: c_mktsegment,
    * p05, p95, n, n_clipped, mean_raw, mean_wins. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"))
    val q = o.groupBy("c_mktsegment").agg(
      round(expr("percentile_cont(0.05) WITHIN GROUP (ORDER BY o_totalprice)"), 6).as("p05"),
      round(expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY o_totalprice)"), 6).as("p95"))
    o.join(broadcast(q), "c_mktsegment")
      .withColumn("wins", least(greatest(col("o_totalprice"), col("p05")), col("p95")))
      .groupBy(col("c_mktsegment"), col("p05"), col("p95"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("wins") =!= col("o_totalprice"), 1L).otherwise(0L)).as("n_clipped"),
        round(sum(dec(col("o_totalprice"))).cast("double") / count(lit(1)), 6).as("mean_raw"),
        round(sum(col("wins").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6).as("mean_wins"))
      .select("c_mktsegment", "p05", "p95", "n", "n_clipped", "mean_raw", "mean_wins")
      .orderBy("c_mktsegment")
  }

  /** Pairwise Pearson correlation matrix over the lineitem numeric
    * columns — the one-pass feature-correlation screen run before any
    * modeling. All six pairs compute in a SINGLE scalar aggregate
    * over one scan (Spark fuses the co-moment accumulators; no
    * per-pair passes), then unpivot to tidy (col_a, col_b, corr)
    * rows. Output: col_a, col_b, corr (6 dp). */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val agg = Tables.lineitem(spark, dir).agg(
      round(corr(col(pairs.head._1), col(pairs.head._2)), 6).as("c0"),
      pairs.tail.zipWithIndex.map { case ((a, b), k) =>
        round(corr(col(a), col(b)), 6).as(s"c${k + 1}") }: _*)
    val stack = pairs.zipWithIndex
      .map { case ((a, b), k) => s"'$a', '$b', c$k" }
      .mkString(", ")
    agg.select(expr(s"stack(${pairs.size}, $stack) AS (col_a, col_b, corr)"))
      .orderBy("col_a", "col_b")
  }

  /** Median absolute deviation per order status — the robust
    * dispersion measure paired with `winsorize`'s robust mean. The
    * inner median is 6-dp rounded BEFORE the deviation pass (the same
    * deterministic-fence discipline as winsorize/ev_outliers), so
    * both engines compute |x − med| over identical operands; the MAD
    * itself is an exact percentile over those. Two quantile
    * aggregates with a 3-row broadcast between. Output:
    * o_orderstatus, median_price, mad, n. */
  def medianAbsDev(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderstatus"), col("o_totalprice"))
    val med = o.groupBy("o_orderstatus").agg(
      round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)"), 6).as("median_price"))
    o.join(broadcast(med), "o_orderstatus")
      .withColumn("adev", abs(col("o_totalprice") - col("median_price")))
      .groupBy(col("o_orderstatus"), col("median_price"))
      .agg(round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY adev)"), 6).as("mad"),
        count(lit(1)).as("n"))
      .select("o_orderstatus", "median_price", "mad", "n")
      .orderBy("o_orderstatus")
  }

  /** Join-key skew audit: the per-key frequency profile of a fact
    * table's join key (orders.o_custkey) — the measurement that
    * decides salting factors and AQE skew thresholds BEFORE a big
    * join ships. One key-grouped count, then a single-row summary:
    * key cardinality, hottest-key share, the p99 key count, and the
    * Shannon entropy of the key distribution (log-uniformity in one
    * number; max-entropy = ln(n_keys)). Entropy's float sum runs over
    * O(keys) terms of O(1e-3) magnitude — far below the 6-dp gate.
    * Output: n_rows, n_keys, max_cnt, max_share, p99_cnt, entropy. */
  def skewAudit(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      .persist()
    counts.count() // materialize before the total + summary sides fan out
    val tot = counts.agg(sum(col("cnt")).cast("double").as("total"))
    counts.crossJoin(broadcast(tot))
      .agg(sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_cnt"),
        round(max(col("cnt")) / sum(col("cnt")), 6).as("max_share"),
        expr("percentile_cont(0.99) WITHIN GROUP (ORDER BY cnt)").as("p99_cnt"),
        round(-sum((col("cnt") / col("total")) * log(col("cnt") / col("total"))), 6)
          .as("entropy"))
  }

  /** O3/A9: single latest row by date (top-1 sort with tiebreak). */
  def topLatest(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(to_date(col("o_orderdate")).as("date"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("date").desc, col("o_orderkey").desc)
      .limit(1)

  /** Exact global 1-based rank under `order` WITHOUT a
    * single-partition window — the distributed form of
    * `ROW_NUMBER() OVER (ORDER BY ...)`:
    *  1. range-repartition on the sort key (the same sampled range
    *     exchange a global sort uses, so partition p holds exactly the
    *     rows ordered before partition p+1);
    *  2. row_number within each range partition (partitioned window —
    *     never a global funnel);
    *  3. add each partition's starting offset. The per-partition counts
    *     are O(#shuffle-partitions) — bounded by CONFIG, not data — so
    *     they come back in one driver collect (the zorder-n "exact O(1)
    *     driver scalar" discipline) and the prefix-sum offsets inline as
    *     a literal map lookup: a pure map-side expression instead of the
    *     former triangular self-join (a BroadcastNestedLoopJoin) + its
    *     broadcast-build job + offsets join (r18: 3 operators, 2 job
    *     barriers and ~a third of the plan mass gone from each caller).
    * Ranks are exact regardless of where the sampled range boundaries
    * fall; `order` must be a total order (tiebreak to a unique key) for
    * a deterministic result. Adds column `rankCol`. Also returns the
    * total row count (= sum of the collected partition counts) so
    * callers don't fund a separate count job. */
  private[graft] def withGlobalRankAndCount(df: DataFrame, rankCol: String,
      order: Column*): (DataFrame, Long) = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // spark_partition_id() is non-deterministic to Catalyst, so the
    // projection stays pinned above the range exchange.
    // persist, then materialize via the counts collect BEFORE the rank
    // consumer runs: every consumer must observe the same sampled range
    // boundaries — without the cache each branch can re-execute the
    // range exchange with its own boundary sample, and offsets computed
    // against one partitioning get applied to ranks from another
    // (observed as off-by-one-bucket ntile flakes under AQE).
    val ranged = df.repartitionByRange(parts, order: _*)
      .withColumn("_pid", spark_partition_id())
      .persist()
    // one full pass: computes and caches every partition while
    // collecting the <= `parts` (pid, count) rows
    val cnts = ranged.groupBy("_pid").agg(count(lit(1)).as("_cnt")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = cnts.map { case (p, c) => val o = acc; acc += c; (p, o) }
    val offExpr = map(offs.toSeq.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*)
    val ranked = ranged
      .withColumn("_rn", row_number().over(Window.partitionBy("_pid").orderBy(order: _*)))
      .withColumn(rankCol, element_at(offExpr, col("_pid")) + col("_rn"))
      .drop("_pid", "_rn")
    (ranked, acc)
  }

  private[graft] def withGlobalRank(df: DataFrame, rankCol: String, order: Column*): DataFrame =
    withGlobalRankAndCount(df, rankCol, order: _*)._1

  /** NTILE quartile assignment of customers by lifetime revenue.
    * Deterministic: ordered on (revenue DESC, custkey) so both engines
    * fill buckets identically.
    *
    * Scale-safe form: NO global-sort window — rank comes from
    * `withGlobalRank` (range partitions + offsets) and the
    * rank→quartile map is the closed-form NTILE bucket arithmetic
    * (first n%4 buckets take one extra row), evaluated map-side
    * against the 1-row broadcast count. Bit-identical to
    * `NTILE(4) OVER (ORDER BY revenue DESC, c_custkey)` by
    * construction, at any scale. Output: c_custkey, revenue, quartile. */
  def ntileRevenue(spark: SparkSession, dir: String): DataFrame = {
    // aggregate orders by custkey BEFORE the customer join (guide
    // §2.3 aggregate-before-shuffle): the per-custkey decimal sums are
    // exact, so summing then left-joining is bit-identical to joining
    // then summing (customers without orders: null → 0.0 either way),
    // and the fact-side rollup is spread off the one-row-group orders
    // scan instead of running inside it (measured ~180 ms serial)
    val perCust = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_totalprice"))
      .repartition(Tables.shufflePartitions(spark), col("o_custkey"))
      .groupBy("o_custkey")
      .agg(sum(dec(col("o_totalprice"))).as("rev_d"))
    // no persist here: the rank helper's range exchange is rev's ONLY
    // consumer now that n comes back from its bounded counts collect
    // (r18: the former rev.persist + rev.count materialize job, the
    // 1-row n carrier aggregate, its broadcast build and the crossJoin
    // are all gone — n is the same exact integer, stamped as a literal)
    val rev = Tables.customer(spark, dir)
      .join(perCust, col("o_custkey") === col("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("rev_d").cast("double"), lit(0.0)).as("revenue"))
    val (ranked, n) = withGlobalRankAndCount(rev, "r", col("revenue").desc, col("c_custkey"))
    // NTILE(k): base = n div k rows per bucket, the first n mod k
    // buckets hold one extra; integer ceil via (x - 1) div w + 1 —
    // the same closed-form bucket arithmetic, with n a driver literal
    val base = n / 4; val rem = n % 4; val cut = (base + 1) * rem
    ranked
      .withColumn("quartile",
        when(col("r") <= cut, expr(s"(r - 1) div ${base + 1} + 1"))
          .otherwise(expr(s"$rem + (r - $cut - 1) div $base + 1"))
          .cast("bigint"))
      .select("c_custkey", "revenue", "quartile")
      .orderBy("c_custkey")
  }

  /** CUBE over (status, year): every grouping-set combination incl.
    * both marginals — completes the rollup family (`rollupRevenue`).
    * Output: o_orderstatus, o_year, revenue, n, g. */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"),
        year(to_date(col("o_orderdate"))).cast("bigint").as("o_year"),
        col("o_totalprice"))
      .cube(col("o_orderstatus"), col("o_year"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"),
        (grouping(col("o_orderstatus")) * 2 + grouping(col("o_year"))).cast("bigint").as("g"))
      .orderBy(col("g"), col("o_orderstatus").asc_nulls_first, col("o_year").asc_nulls_first)

  /** Explicit GROUPING SETS — the general form `cube`/`rollup` are
    * sugar for: exactly the (status, year) marginals, WITHOUT the
    * grand total or the cross detail a cube would add (the shape
    * reporting queries use when only the marginals matter — half the
    * aggregate rows of the cube at the same single-pass plan). Spark
    * 4's native `Dataset.groupingSets`; one scan, partial aggs per
    * set. Output: o_orderstatus, o_year, revenue, n, g. */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderstatus"),
        year(to_date(col("o_orderdate"))).cast("bigint").as("o_year"),
        col("o_totalprice"))
    base
      .groupingSets(Seq(Seq(col("o_orderstatus")), Seq(col("o_year"))),
        col("o_orderstatus"), col("o_year"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"),
        (grouping(col("o_orderstatus")) * 2 + grouping(col("o_year"))).cast("bigint").as("g"))
      .orderBy(col("g"), col("o_orderstatus").asc_nulls_first, col("o_year").asc_nulls_first)
  }

  /** Unsorted wide pivot shared by `pivotRevenue` and
    * `unpivotRevenue` (each adds only its own final sort). */
  private def pivotWide(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(to_date(col("o_orderdate"))).cast("bigint").as("o_year"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum(col("o_totalprice")))
      // empty cells must fill AFTER the pivot: a coalesce inside the
      // agg never sees absent (year, status) combos (PivotFirst emits
      // NULL for them), which would diverge from the oracle's 0.0
      .select(col("o_year") +: Seq("F", "O", "P").map(s => coalesce(col(s), lit(0.0)).as(s)): _*)

  /** Pivot: yearly revenue with one column per order status. The value
    * list is EXPLICIT (`pivot(col, values)`) so the pivot stays a
    * single-pass aggregation with a static schema — the
    * values-unspecified form runs an extra distinct scan at plan time
    * and breaks schema stability, both wrong at 100 TB.
    * Output: o_year, F, O, P (exact decimal sums as double). */
  def pivotRevenue(spark: SparkSession, dir: String): DataFrame =
    pivotWide(spark, dir).orderBy("o_year")

  /** Unpivot (melt) — the inverse of `pivotRevenue`: the wide
    * per-status columns fold back into (o_year, status, revenue) rows,
    * zero-filled cells included. `Dataset.unpivot` itself is a
    * map-side row-expansion — the only sort is the final output one.
    * Output: o_year, status, revenue. */
  def unpivotRevenue(spark: SparkSession, dir: String): DataFrame =
    pivotWide(spark, dir)
      .unpivot(Array(col("o_year")), Array(col("F"), col("O"), col("P")), "status", "revenue")
      .orderBy("o_year", "status")

  /** Range join: events against DERIVED, non-aligned "campaign"
    * intervals (every 11th day of the span, lasting 3 days). The
    * interval side is a broadcast dim, so the inequality join is a
    * broadcast nested loop over O(#intervals) — the correct plan for
    * interval dims; a fact-fact range join would instead bucket both
    * sides to equi-join keys first. Output: start, n, total_value. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val bounds = ev.agg(
      to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi"))
    val intervals = bounds.select(
      explode(expr("sequence(lo, hi, interval 11 days)")).as("start"))
      .withColumn("end", date_add(col("start"), 3))
    ev.join(broadcast(intervals),
        col("ts") >= col("start").cast("timestamp") &&
          col("ts") < col("end").cast("timestamp"))
      .groupBy(col("start"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy("start")
  }

  /** The FACT-FACT scale form of `rangeJoin`: both sides bucket to
    * equi-join keys — events map to their 7-day bin, each interval
    * explodes to the (≤2, since intervals span 4 days < 7) bins it
    * overlaps, the join is a plain hash equi-join on `bin`, and the
    * original inequality survives only as a residual filter on the
    * matched pairs. No nested loop anywhere (pinned by the
    * PlanAuditSpec sweep — this query is deliberately NOT on the
    * nested-loop whitelist), so the plan holds when the interval side
    * is too big to broadcast: both sides shuffle once on the bin key,
    * candidate pairs are bounded by bin co-residency, and a skewed
    * bin is AQE's skew-join case, not a replicated cross product.
    * Same oracle as `ev_range_join` — the binning must be
    * result-invisible. Output: start, n, total_value. */
  def rangeJoinBinned(spark: SparkSession, dir: String): DataFrame = {
    val w = 7
    val ev = Tables.events(spark, dir)
      .withColumn("bin", floor(unix_date(to_date(col("ts"))) / w))
    val bounds = Tables.events(spark, dir).agg(
      to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi"))
    val intervals = bounds.select(
      explode(expr("sequence(lo, hi, interval 11 days)")).as("start"))
      .withColumn("end", date_add(col("start"), 3))
      .withColumn("bin", explode(expr(
        s"sequence(CAST(FLOOR(unix_date(start) / $w) AS BIGINT), " +
          s"CAST(FLOOR(unix_date(end) / $w) AS BIGINT))")))
    ev.join(intervals, Seq("bin"))
      .where(col("ts") >= col("start").cast("timestamp") &&
        col("ts") < col("end").cast("timestamp"))
      .groupBy(col("start"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy("start")
  }

  /** ABC / Pareto inventory classification: parts ranked by revenue,
    * class A = parts covering the first 80% of cumulative revenue,
    * B = next 15%, C = the tail — the 80/20 analysis behind stocking
    * and curation priority calls. Revenue is carried as INTEGER
    * ten-thousandths (the decimal(·,4) revenue is exact there), so
    * the cumulative sum is order-insensitive-exact and the class
    * thresholds are integer comparisons (5·cum ≤ 4·total), never a
    * float share boundary; headroom to ~4.6e13 revenue units before
    * the ×20 compare would need a DECIMAL widening. The rank window
    * runs over the O(#parts) DIM rollup (bounded), not lineitem.
    * Output: abc_class, n_parts, revenue, share. */
  def abcPareto(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(new java.math.BigDecimal(1))
    val perPart = Tables.lineitem(spark, dir)
      // one-row-group scan: ship the three projected columns and run
      // the per-part aggregation cluster-wide instead of serially in
      // the scan task (measured ~860 ms single-task partial agg);
      // explicit N — AQE would size the coalesce from the tiny
      // pre-aggregation map bytes
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .repartition(Tables.shufflePartitions(spark), col("l_partkey"))
      .groupBy("l_partkey")
      .agg((sum(dec(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
        * lit(10000)).cast("bigint").as("r4"))
    // the grand total rides the SAME single-partition sorted pass as
    // the cumulative sum (an unbounded-frame window over the identical
    // ordering shares the Window node) — the second lineitem scan +
    // aggregation + 1-row broadcast carrier it used to fund are gone;
    // exact integer sum either way, so the shares are bit-identical
    val wCum = Window.orderBy(col("r4").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.orderBy(col("r4").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perPart
      .withColumn("t", sum(col("r4")).over(wTot))
      .withColumn("cum", sum(col("r4")).over(wCum))
      .withColumn("abc_class",
        when(col("cum") * 5 <= col("t") * 4, "A")
          .when(col("cum") * 20 <= col("t") * 19, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"), sum(col("r4")).as("rr"), first(col("t")).as("t"))
      .select(col("abc_class"), col("n_parts"),
        round(col("rr").cast("double") / 10000, 6).as("revenue"),
        round(col("rr").cast("double") / col("t"), 6).as("share"))
      .orderBy("abc_class")
  }

  /** TPC-H Q4-shaped priority tally: orders with at least one LATE
    * line item (shipped > 90 days after the order date), counted by
    * priority. The EXISTS is evaluated as countDistinct(orderkey)
    * over the late lines of ONE lineitem⋈orders join — identical to
    * the semi-join form by FK construction (each line matches exactly
    * one order; an order counts iff it has a late line), but orders
    * is scanned once instead of twice and the only wide data movement
    * is the (priority, orderkey) distinct pairs. No broadcast hint:
    * at bench scale the projected orders dim sits under the
    * threshold; at 100 TB the planner falls back to the one
    * fact-fact shuffle on the order key, exactly the Q4 plan.
    * Output: o_orderpriority, n_late. */
  def lateOrders(spark: SparkSession, dir: String): DataFrame = {
    // one probe, no semi-join: orders (key, date, priority) broadcasts
    // onto lineitem once, and "orders with >= 1 late line, by priority"
    // is countDistinct(orderkey) over the late lines — identical by FK
    // construction (every line matches exactly one order; an order
    // appears iff it has a late line, counted once either way). The
    // former shape scanned orders twice and shuffled+sorted both semi
    // sides; this one broadcasts the dim once and shuffles only the
    // (priority, orderkey) distinct pairs. The probe is spread off the
    // one-row-group lineitem scan (explicit N — AQE would size the
    // coalesce from the 16 B/row map bytes).
    val late = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .repartition(Tables.shufflePartitions(spark), col("l_orderkey"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .where(to_date(col("l_shipdate")) > date_add(to_date(col("o_orderdate")), 90))
    late.groupBy("o_orderpriority")
      .agg(countDistinct(col("l_orderkey")).as("n_late"))
      .orderBy("o_orderpriority")
  }

  /** Supplier quality scorecard: return rate per supplier ranked by
    * the WILSON LOWER BOUND (z = 1.96) rather than the raw rate — the
    * small-sample-honest ranking (a 2/2 supplier must not outrank a
    * 90/100 one), the same statistic review-sorting uses. All inputs
    * to the float expression are exact integer counts, so the bound
    * is bit-identical across engines; ranking pins on the 6-dp bound
    * with supplier-key tiebreak. One lineitem rollup keyed by
    * supplier; no joins beyond the final name lookup on the supplier
    * dim (broadcast). Output: s_suppkey, s_name, n_items, n_returns,
    * return_rate, wilson_low. */
  def supplierScore(spark: SparkSession, dir: String): DataFrame = {
    // z² as a RUNTIME column op (1.96 * 1.96), not a Scala constant:
    // the oracle writes the same product, so both engines evaluate
    // the identical IEEE multiply instead of comparing a compile-time
    // constant against a parsed decimal literal
    val z = lit(1.96)
    val z2 = z * z
    val p = col("n_returns").cast("double") / col("n_items")
    val nD = col("n_items").cast("double")
    val low = (p + z2 / (lit(2.0) * nD) -
      z * sqrt(p * (lit(1.0) - p) / nD +
        z2 / (lit(4.0) * nD * nD))) / (lit(1.0) + z2 / nD)
    Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returns"))
      .withColumn("return_rate", round(p, 6))
      .withColumn("wilson_low", round(low, 6))
      .join(broadcast(Tables.supplier(spark, dir).select(
        col("s_suppkey").as("l_suppkey"), col("s_name"))), "l_suppkey")
      .select(col("l_suppkey").as("s_suppkey"), col("s_name"),
        col("n_items"), col("n_returns"), col("return_rate"), col("wilson_low"))
      .orderBy(col("wilson_low").desc, col("s_suppkey"))
      .limit(10)
  }

  /** TPC-H Q8-shaped national market share: within the ECONOMY-part
    * market bought by ASIA-region customers, the revenue share
    * supplied by NATION_7, per order year. The canonical snowflake
    * probe: every dimension (part filter, supplier→nation,
    * customer→nation→region) reaches the fact side as a BROADCAST
    * (the part/customer gates as broadcast semi-joins, so the fact
    * rows never widen), and the one genuinely large join —
    * lineitem⋈orders — is the single fact-fact shuffle on the order
    * key. Revenue is summed in exact integer ten-thousandths
    * (decimal multiply → bigint) so the share division is the only
    * float op, bit-identical across engines at 6 dp.
    * Output: yr, mkt_share. */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(new java.math.BigDecimal(1))
    val nat = Tables.nation(spark, dir)
    val asiaCust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("bigint").as("yr"))
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .where(col("p_type") === "ECONOMY").select("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))), "s_nationkey")
      .select(col("l_orderkey"), col("supp_nation"),
        ((dec(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
          * lit(10000)).cast("bigint").as("r4"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("yr")
      .agg(
        sum(when(col("supp_nation") === "NATION_7", col("r4")).otherwise(0L)).as("nr4"),
        sum(col("r4")).as("tr4"))
      .select(col("yr"),
        round(col("nr4").cast("double") / col("tr4"), 6).as("mkt_share"))
      .orderBy("yr")
  }

  /** TPC-H Q9-shaped national revenue: revenue by SUPPLIER nation ×
    * order year for parts whose name contains "red" — the
    * profit-by-origin rollup. Same snowflake posture as
    * `marketShare`: the part-name gate and supplier→nation lookup
    * broadcast onto lineitem, orders joins on the order key (the one
    * shuffle), and the revenue rides exact integer ten-thousandths
    * until the final 2-dp readout. Output: nation, yr, revenue. */
  def nationProfit(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(new java.math.BigDecimal(1))
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .where(col("p_name").contains("red")).select("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("nation"))), "s_nationkey")
      .select(col("l_orderkey"), col("nation"),
        ((dec(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
          * lit(10000)).cast("bigint").as("r4"))
    li.join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("bigint").as("yr")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("nation", "yr")
      .agg(sum(col("r4")).as("r4"))
      .select(col("nation"), col("yr"),
        round(col("r4").cast("double") / 10000, 2).as("revenue"))
      .orderBy("nation", "yr")
  }

  /** Z-ORDER layout audit — the lakehouse data-skipping readout: how
    * many simulated files a (customer-range | date-range) probe must
    * scan under three physical layouts of `orders` — Morton z-order
    * on (custkey, day), custkey-sorted, and date-sorted. The z-value
    * interleaves the low 16 bits of each key (one `aggregate` HOF,
    * map-side); the three layouts are ranked in ONE pass — a single
    * `withGlobalRank` (range exchange + per-partition row_number +
    * O(#partitions) offset join, never a single-partition window)
    * over the (layout, sortkey) union, from which each per-layout
    * rank is rank − layoutIndex·n — and cut into 64 equal "files" by
    * exact integer arithmetic
    * ((rank−1)·64 div n); per-file min/max stats then answer both
    * probes the way parquet/Delta file-skipping does. The expected
    * shape — and what makes this worth asserting at 100 TB — is that
    * single-key sorts skip perfectly on their own key and barely at
    * all on the other, while z-order skips WELL ON BOTH.
    * Output: layout, n_files, scan_cust_probe, scan_date_probe. */
  def zorderAudit(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      // single-row-group parquet → one scan task: spread the 16-step
      // bit-interleave HOF (the expensive map work, measured ~750 ms
      // serial) before computing it; the persisted base then also
      // serves the three layout projections in parallel (explicit N:
      // AQE would size the coalesce by the tiny pre-HOF map bytes)
      .repartition(Tables.shufflePartitions(spark), col("o_orderkey"))
      .select(col("o_orderkey"),
        col("o_custkey").as("cust"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01")).cast("long").as("day"))
      .withColumn("z", expr(
        """aggregate(sequence(0, 15), 0L, (acc, i) ->
          |  acc + shiftleft(shiftright(cust, i) & 1, 2 * i)
          |      + shiftleft(shiftright(day, i) & 1, 2 * i + 1))""".stripMargin))
      .persist() // the three layout projections below scan it
    val n = base.count() // exact O(1) driver scalar, and each layout
    // has exactly n rows — so ONE global ranking over the 3n-row
    // union of (layout, sortkey) projections, ordered (layout, key,
    // orderkey), yields every per-layout rank as rank − layoutIndex·n.
    // One range exchange + one offsets pass instead of three of each
    // (measured ~2× on the bench); the per-layout bucket cuts are the
    // same exact integer arithmetic as before.
    // the layout NAME stays out of the union: the range exchange ships
    // 3n rows, and the string column was ~a third of its bytes (guide
    // §2.3 project-before-the-exchange) — lidx is the sort prefix
    // anyway, and the 3-row final rollup re-attaches the name with a
    // literal map lookup
    def proj(idx: Int, key: Column): DataFrame =
      base.select(lit(idx).as("lidx"), key.as("skey"),
        col("o_orderkey"), col("cust"), col("day"))
    val unioned = proj(0, col("cust"))
      .unionAll(proj(1, col("day")))
      .unionAll(proj(2, col("z")))
    val layoutName = map(lit(0), lit("custkey"), lit(1), lit("orderdate"), lit(2), lit("zorder"))
    withGlobalRank(unioned, "rk", col("lidx"), col("skey"), col("o_orderkey"))
      .withColumn("bucket", expr(s"(rk - 1 - lidx * ${n}L) * 64 div ${n}L"))
      .groupBy("lidx", "bucket")
      .agg(min(col("cust")).as("min_c"), max(col("cust")).as("max_c"),
        min(col("day")).as("min_d"), max(col("day")).as("max_d"))
      .groupBy("lidx")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("max_c") >= 100 && col("min_c") <= 199, 1L).otherwise(0L))
          .as("scan_cust_probe"),
        sum(when(col("max_d") >= 365 && col("min_d") <= 729, 1L).otherwise(0L))
          .as("scan_date_probe"))
      .select(element_at(layoutName, col("lidx")).as("layout"),
        col("n_files"), col("scan_cust_probe"), col("scan_date_probe"))
      .orderBy("layout")
  }

  /** Market-basket affinity: top-20 brand pairs by lift =
    * n·c(ab) / (c(a)·c(b)) over orders, min support 3 co-orders — the
    * association-mining readout behind "bought together" views. The
    * pair enumeration is MAP-SIDE: one groupBy on the order key lands
    * each order's distinct brands as a SORTED array (collect_set +
    * sort_array — the basket, bounded by basket size), and the C(k,2)
    * a<b pairs unroll from that array with a flatten/transform HOF —
    * no pair self-join, no second fact shuffle (was: distinct + a
    * shuffle self-join on the order key; provably the same pair
    * multiset, since a sorted distinct set enumerates exactly the
    * a<b pairs the join's a<b filter kept, once each). Brand totals
    * explode off the same persisted baskets and come back in one
    * brand-domain-bounded driver collect, inlined as a literal map;
    * the order count is the basket table's materialize count (the
    * exact O(1) driver scalar, same discipline as zorderAudit's n). All
    * lift inputs are exact longs < 2^53, so the rounded double is
    * bit-identical across engines.
    * Output: brand_a, brand_b, n_ab, lift. */
  def basket(spark: SparkSession, dir: String): DataFrame = {
    val ob = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
      // spread the basket-building BEFORE the brand probe: the lineitem
      // parquet's one big row group otherwise runs scan + broadcast
      // probe + partial-collect_set as a single ~700 ms straggler task.
      // With the exchange directly over the two projected key columns,
      // the scan task only reads and ships 16 B/row; the probe and the
      // set aggregation run cluster-wide (the broadcast join preserves
      // the orderkey partitioning, so the groupBy needs no exchange)
      .repartition(Tables.shufflePartitions(spark), col("l_orderkey"))
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
      .groupBy(col("l_orderkey").as("o"))
      .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
      .persist() // two consumers: brand totals, pair explode
    // materialize BEFORE the fan-out (the brand-total broadcast build
    // and the pair pass otherwise race to recompute the baskets), and
    // the materialize count IS the order count — the same exact O(1)
    // driver scalar zorderAudit stamps into its bucket arithmetic
    val nOrders = ob.count()
    // per-brand order counts are bounded by the BRAND DOMAIN (a
    // categorical dim attribute — ~25 values at any corpus scale), so
    // they come back in one bounded driver collect off the cached
    // baskets and inline as a literal map lookup. The former shape
    // joined a brandC aggregate twice through two broadcast exchanges
    // whose builds RACED at action time — each re-ran the explode+agg
    // over the cache (r18 plan diff: 2 broadcast builds + 2 joins →
    // 2 map-side lookups; same exact integers).
    val brandCnt = ob.select(explode(col("bs")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cb")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val cntMap = map(brandCnt.toSeq.flatMap { case (b, c) => Seq(lit(b), lit(c)) }: _*)
    ob.select(explode(expr(
        """flatten(transform(bs, (x, i) ->
          |  transform(slice(bs, i + 2, size(bs) - i - 1), y -> named_struct('x', x, 'y', y))))"""
        .stripMargin)).as("p"))
      .select(col("p.x").as("brand_a"), col("p.y").as("brand_b"))
      .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 3)
      .withColumn("ca", element_at(cntMap, col("brand_a")))
      .withColumn("cb", element_at(cntMap, col("brand_b")))
      .withColumn("lift",
        round(col("n_ab").cast("double") * lit(nOrders) / (col("ca") * col("cb")), 6))
      .select("brand_a", "brand_b", "n_ab", "lift")
      .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
      .limit(20)
  }

  /** Salted skew-join audit — `Skew.saltedJoin` promoted to an
    * oracle-checked query: supplier-nation revenue from the
    * lineitem ⋈ supplier join executed through the salting helper
    * (large side fanned over 8 salt buckets, small side replicated
    * once per bucket, SHUFFLE_HASH-hinted so the query exercises the
    * shuffled-join shape the helper exists for instead of
    * degenerating to a broadcast at test scale). The oracle is the
    * PLAIN join — equal hashes prove the salt fan-out/replication
    * changes only the physical distribution, never the result. At
    * 100 TB this is the shape for a suppkey hot enough to blow a
    * single reducer when the dim side cannot broadcast; revenue
    * rides exact integer ten-thousandths so the 8-way salt-split sum
    * re-associates without float drift.
    * Output: nation, n_items, revenue. */
  def skewJoin(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(new java.math.BigDecimal(1))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("suppkey"),
        ((dec(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
          * lit(10000)).cast("bigint").as("r4"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("nation"))),
        "s_nationkey")
      .select(col("s_suppkey").as("suppkey"), col("nation"))
    Skew.saltedJoin(li, supp.hint("shuffle_hash"), "suppkey", 8)
      .groupBy("nation")
      .agg(count(lit(1)).as("n_items"), sum(col("r4")).as("r4"))
      .select(col("nation"), col("n_items"),
        round(col("r4").cast("double") / 10000, 2).as("revenue"))
      .orderBy("nation")
  }

  /** Bucketed co-located fact⋈dim join — the LAYOUT answer to the
    * shuffle question the salted join answers at runtime: both tables
    * land bucketed (and per-bucket sorted) on the join key, so the
    * sort-merge join starts from the scans' `HashPartitioning` and
    * needs NO exchange below the join — at 100 TB the recurring
    * custkey joins pay the partitioning once at layout time instead
    * of on every query. `hint("merge")` keeps the plan on the SMJ
    * path at test scale (a broadcast would hide the point); the
    * single-file-per-bucket write (`repartition(8, key)` ahead of
    * `bucketBy(8)`, same murmur hash) lets the per-bucket `sortBy`
    * order feed the merge without a Sort either. The layout build is
    * a once-per-corpus catalog artifact (memoized per session, files
    * under the iteration root, swept at exit); pinned exchange-free
    * by `PlanAuditSpec`. The oracle is the PLAIN join — bucketing
    * must never change results. Output: segment, n_orders, revenue. */
  def bucketJoin(spark: SparkSession, dir: String): DataFrame = {
    val (oTab, cTab) = bucketTables(spark, dir)
    spark.table(oTab).hint("merge")
      .join(spark.table(cTab), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("segment")
  }

  /** Create (once per session × corpus dir) the bucketed layout pair
    * behind `bucketJoin`; returns the catalog table names. */
  private def bucketTables(spark: SparkSession, dir: String): (String, String) =
    Relational.synchronized {
      // tag folds a cheap DATA fingerprint (length+mtime of the two
      // source parquets) in with the dir hash, so an in-place
      // regeneration of the corpus — or a dir-hash collision — keys a
      // fresh layout instead of silently serving a stale one
      // (ArtifactCache keys the same way for the same reason)
      val fp = Seq("orders.parquet", "customer.parquet").map { f =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$f")
        val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
        s"${st.getLen}:${st.getModificationTime}"
      }.mkString("|")
      val tag = (math.abs((dir + "@" + fp).hashCode.toLong) % 100000000L).toString
      val oTab = s"graft_bkt_orders_$tag"
      val cTab = s"graft_bkt_customer_$tag"
      if (!spark.catalog.tableExists(oTab) || !spark.catalog.tableExists(cTab)) {
        val root = IterState.rootFor(spark)
        def land(df: DataFrame, key: String, tab: String): Unit = {
          val path = s"$root/${tab}_${java.util.UUID.randomUUID().toString.take(8)}"
          IterState.register(spark, path)
          df.repartition(8, col(key))
            .write.mode("overwrite").format("parquet")
            .bucketBy(8, key).sortBy(key)
            .option("path", path)
            .saveAsTable(tab)
        }
        land(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
          "o_custkey", oTab)
        land(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          "c_custkey", cTab)
      }
      (oTab, cTab)
    }
}
