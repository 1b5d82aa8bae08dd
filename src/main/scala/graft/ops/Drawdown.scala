package graft.ops

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed single-pass maximum drawdown.
  *
  * The windowed formulation in `Risk` (cumsum → running max → min) is
  * exact but funnels the series through one sort partition — fine for
  * a daily rollup, wrong for a billion-point series. This version is
  * the parallel-prefix form: range-partition by date, scan each
  * partition once, and merge per-partition summaries in partition
  * order with a segment algebra:
  *
  *   for adjacent segments L ⧺ R (cum shifted by L.sum in R):
  *     sum     = L.sum + R.sum
  *     maxPre  = max(L.maxPre, L.sum + R.maxPre)
  *     minCum  = min(L.minCum, L.sum + R.minCum)
  *     minDd   = min(L.minDd, R.minDd, (L.sum + R.minCum) - L.maxPre)
  *
  * The cross term is exact because every R point's running max is
  * max(L.maxPre, L.sum + runmaxR), so its drawdown splits into the two
  * mins the algebra tracks. O(n/p) per task + O(p) driver merge.
  */
object Drawdown {

  case class Pt(value: Double, date: Date)
  case class Seg(sum: Double, maxPre: Pt, minCum: Pt, minDd: Double, peak: Date, valley: Date)

  case class Result(maxDrawdown: Double, peakDate: Date, valleyDate: Date)

  private def better(a: Pt, b: Pt, takeMax: Boolean): Pt =
    if (a.value == b.value) { if (a.date.before(b.date)) a else b }
    else if (takeMax == (a.value > b.value)) a else b

  private[ops] def merge(l: Seg, r: Seg): Seg = {
    val shiftedMaxPre = Pt(l.sum + r.maxPre.value, r.maxPre.date)
    val shiftedMinCum = Pt(l.sum + r.minCum.value, r.minCum.date)
    val cross = shiftedMinCum.value - l.maxPre.value
    // All min-drawdown candidates; exact ties break toward the
    // EARLIEST valley date — the oracle's MIN(date) argmin rule, and
    // what a sequential scan produces (first occurrence wins). A plain
    // `<` chain would keep a later-valley within-R candidate over an
    // equal cross-boundary one.
    val cands = Seq(
      (l.minDd, l.peak, l.valley),
      (r.minDd, r.peak, r.valley),
      (cross, l.maxPre.date, shiftedMinCum.date))
    val (minDd, peak, valley) = cands.minBy { case (dd, _, v) => (dd, v.getTime) }
    Seg(l.sum + r.sum,
      better(l.maxPre, shiftedMaxPre, takeMax = true),
      better(l.minCum, shiftedMinCum, takeMax = false),
      minDd, peak, valley)
  }

  /** One sequential-scan step: fold the next (date, pct) point into
    * the running segment summary (`null` seg = first point). Shared by
    * the single-series partition scan and the per-key grouped scan. */
  private def step(seg: Seg, date: Date, p: Double): Seg =
    if (seg == null) {
      // first point: cum = p, runmax = p -> dd = 0
      Seg(p, Pt(p, date), Pt(p, date), 0.0, date, date)
    } else {
      val cum = seg.sum + p
      val maxPre = better(seg.maxPre, Pt(cum, date), takeMax = true)
      val minCum = better(seg.minCum, Pt(cum, date), takeMax = false)
      val dd = cum - seg.maxPre.value
      val (minDd, peak, valley) =
        if (dd < seg.minDd) (math.min(dd, 0.0), seg.maxPre.date, date)
        else (seg.minDd, seg.peak, seg.valley)
      Seg(cum, maxPre, minCum, minDd, peak, valley)
    }

  private[ops] def scan(points: Iterator[(Date, Double)]): Option[Seg] = {
    var seg: Seg = null
    points.foreach { case (date, p) => seg = step(seg, date, p) }
    Option(seg)
  }

  /** Compute max drawdown of a (date, pct) series distributed over
    * `partitions` range partitions. */
  def maxDrawdown(series: DataFrame, partitions: Int = 8): Option[Result] = {
    val parts = series
      .select(col("date"), col("pct"))
      .repartitionByRange(partitions, col("date"))
      .sortWithinPartitions("date")
      .rdd
      .mapPartitionsWithIndex { (idx, it) =>
        scan(it.map(r => (r.getDate(0), r.getDouble(1)))).map(s => (idx, s)).iterator
      }
      .collect()
      .sortBy(_._1)
      .map(_._2)
    parts.reduceOption(merge).map(s => Result(s.minDd, s.peak, s.valley))
  }

  /** Per-key distributed drawdown — the multi-series form of
    * `maxDrawdown`: range-partition on (key, date) so every partition
    * holds CONTIGUOUS (key, date) runs, scan each partition once
    * emitting one segment summary per run, and merge per key in
    * partition order with the same segment algebra.
    *
    * Scale: because the range partitioning is contiguous on the
    * composite key, each series is split across adjacent partitions
    * only, so the collected summary count is ≤ partitions + #series −
    * 1 — the same bounded O(p + #series) driver merge as the
    * single-series form (never O(rows)). 1000 series at a billion
    * points is the identical plan: one range exchange, one scan, a
    * driver merge over tiny records. */
  def maxDrawdownByKey(series: DataFrame, partitions: Int = 8): Seq[(String, Result)] = {
    val parts = series
      .select(col("name"), col("date"), col("pct"))
      .repartitionByRange(partitions, col("name"), col("date"))
      .sortWithinPartitions("name", "date")
      .rdd
      .mapPartitionsWithIndex { (idx, it) =>
        // runs of one key are contiguous within the sorted partition:
        // fold incrementally, emit a summary at each key boundary —
        // streaming, never buffering a partition's rows
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Seg)]
        var curName: String = null
        var seg: Seg = null
        it.foreach { r =>
          val n = r.getString(0)
          if (n != curName) {
            if (seg != null) out += ((curName, idx, seg))
            curName = n
            seg = null
          }
          seg = step(seg, r.getDate(1), r.getDouble(2))
        }
        if (seg != null) out += ((curName, idx, seg))
        out.iterator
      }
      .collect()
    parts.groupBy(_._1).toSeq.sortBy(_._1).map { case (name, segs) =>
      val merged = segs.sortBy(_._2).map(_._3).reduce(merge)
      name -> Result(merged.minDd, merged.peak, merged.valley)
    }
  }

  /** Driver-contract query: the per-segment DISTRIBUTED drawdown —
    * the multi-series completion of `drawdownQuery` (gotk / trailing /
    * risk all have a by-segment form; drawdown was the holdout). Same
    * parallel-prefix algebra per segment, oracle-checked against
    * DuckDB's per-segment windowed cumsum/cummax formulation.
    * Output: name, max_drawdown, peak_date, valley_date, duration. */
  def drawdownBySegmentQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val series = TimeSeries.dailyOrderRevenueBySegment(spark, dir)
      .withColumn("pct", TimeSeries.pctChange(col("tvl"), Window.partitionBy("name").orderBy("date")))
      .where(col("pct").isNotNull)
      .select("name", "date", "pct")
    maxDrawdownByKey(series, partitions = 8)
      .map { case (n, r) => (n, r.maxDrawdown, r.peakDate, r.valleyDate) }
      .toDF("name", "dd", "peak_date", "valley_date")
      .select(col("name"),
        round(col("dd"), 6).as("max_drawdown"),
        col("peak_date"), col("valley_date"),
        datediff(col("valley_date"), col("peak_date")).cast("bigint").as("duration"))
      .orderBy("name")
  }

  /** Driver-contract query: the DISTRIBUTED drawdown over the full
    * daily-revenue pct history as a 1-row table — oracle-checked
    * against DuckDB's windowed cumsum/cummax formulation, proving the
    * parallel-prefix algebra agrees with the sequential reference on
    * real data (DrawdownSpec covers generated series and partition
    * counts). Output: max_drawdown, peak_date, valley_date, duration. */
  def drawdownQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val series = TimeSeries.dailyOrderRevenue(spark, dir)
      .withColumn("pct", TimeSeries.pctChange(col("tvl")))
      .where(col("pct").isNotNull)
      .select("date", "pct")
    val r = maxDrawdown(series, partitions = 8)
      .getOrElse(sys.error(s"empty series under $dir"))
    Seq((r.maxDrawdown, r.peakDate, r.valleyDate))
      .toDF("dd", "peak_date", "valley_date")
      .select(
        round(col("dd"), 6).as("max_drawdown"),
        col("peak_date"), col("valley_date"),
        datediff(col("valley_date"), col("peak_date")).cast("bigint").as("duration"))
  }
}
