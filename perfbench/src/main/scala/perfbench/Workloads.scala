package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.Writers
import graft.ops.{Drawdown, Finance, Risk, TimeSeries}
import graft.pipelines.{Curation, Datamart}
import graft.sources.ChainSource

object Dirs {
  /** Copy a directory tree; a fresh copy is a new corpus version to the
    * program (new path, new file stamps), so its artifacts start cold. */
  def copyTree(from: String, to: String): String = {
    val src = Paths.get(from)
    Files.walk(src).forEach { p =>
      val q = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
    to
  }
}

/** Module of each query the mixes use, as the program's query
  * registry (`SparkEntry.queries`) routes it. */
object Mix {
  def module(q: String): String = q.takeWhile(_ != '_') match {
    case "ts"       => "ops.TimeSeries"
    case "risk"     => "ops.Risk"
    case "rel"      => "ops.Relational"
    case "ev"       => "ops.Events"
    case "text"     => "ops.Text"
    case "dedup"    => "ops.Dedup"
    case "sim"      => "ops.Similarity"
    case "mm"       => "ops.Multimodal"
    case "datamart" => "pipelines.Datamart"
  }

  /** The read mix over one warm corpus: analyst queries (time series,
    * risk, relational, events, the datamart summary) and curation
    * consumers (dedup, text, similarity, media) whose artifacts the
    * warm-up already built. */
  val Warm: Seq[String] = Seq(
    "ts_tvl", "risk", "rel_pricing_summary", "ev_sessionize", "datamart_summary",
    "dedup_minhash", "text_quality", "sim_topk", "mm_phash")
}

/** `query_warm`: the read mix in seed-shuffled passes over a fixed
  * corpus whose artifacts are already built, plus the curation
  * pipeline's deduplicated view over the dedup state it landed. The
  * warm-up is two passes over the corpus (class loading, code
  * generation, every artifact build, JIT compilation). Each set-up opens a fresh copy of
  * the corpus (a new corpus version) and builds the daily rollups the
  * time-series and risk queries share. */
final class QueryWarm(ctx: Ctx, inputs: String) extends Workload {
  private val dir = s"${ctx.work}/qw/corpus"
  private val state = s"${ctx.work}/qw/curation"
  def unitsPerOp = 1.0
  override def minPasses: Int = 3

  override def warmup(): Unit = {
    Dirs.copyTree(s"$inputs/corpus", dir)
    Curation.buildClusters(ctx.spark, dir, state)
    // the cold pass builds every artifact; the JIT is still compiling
    // through the next one, which runs about a third slower than later ones
    pass(-1)
    pass(-2)
  }

  def setup(rep: Int): Double = {
    val fresh = Dirs.copyTree(s"$inputs/corpus", s"${ctx.work}/qw/setup$rep")
    Layers.timed {
      TimeSeries.dailyOrderRevenue(ctx.spark, fresh)
      TimeSeries.dailyBenchmark(ctx.spark, fresh)
    }
  }

  // one corpus throughout, so every run of an op, warm-up included,
  // must reproduce the first one's output
  def pass(n: Int): Unit =
    new scala.util.Random(ctx.seed * 1000 + n).shuffle(Mix.Warm :+ "curation").foreach {
      case "curation" => ctx.unit("curation") {
        val (rows, _) = ctx.layers.frame("pipelines.Curation", "applyDeduped")(
          Curation.applyDeduped(ctx.spark, dir, state))
        ctx.check("curation", rows)
      }
      case q => ctx.unit(q) {
        ctx.query(q, Mix.module(q), dir, q)(SparkEntry.queries(q)(ctx.spark, dir))
      }
    }
}

/** A strategy's on-chain observations from the generated chain table. */
final class SeededChain(path: String, strategy: Int, from: Int, to: Int) extends ChainSource {
  override def observations(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.read.parquet(path)
      .where(col("strategy") === strategy && col("day").between(from, to))
      .select(EtlDaily.date(col("day")).as("date"), col("block"), col("liquidity_rate"),
        col("liquidity_index"), col("emission_per_second"), col("atoken_supply"))
}

object EtlDaily {
  val Start = "2023-01-01"
  def date(day: org.apache.spark.sql.Column) = date_add(to_date(lit(Start)), day)
  def dayString(d: Int): String = java.time.LocalDate.parse(Start).plusDays(d).toString
}

/** `etl_daily`: the reference DAG replayed day by day. Set-up is a
  * backfill of the first `backfill` days into a fresh warehouse; each
  * pass is one daily increment: extract + interpolate the trailing
  * `window` days of every strategy, overwrite them in the raw zone,
  * run the transforms, and load the datamart (parquet, keyed merge,
  * JDBC delete+append/update into in-memory Derby). The generated
  * inputs hold the backfill's facts in bulk and one file per later
  * day. */
final class EtlDaily(ctx: Ctx, inputs: String) extends Workload {
  import EtlDaily._
  private val spark = ctx.spark
  private val in = s"$inputs/etl"
  private val strategies = spark.read.parquet(s"$in/customer.parquet").count().toInt
  private val (backfill, days) = {
    val daily = new java.io.File(in).list().filter(_.startsWith("orders_day"))
      .map(_.stripPrefix("orders_day").stripSuffix(".parquet").toInt)
    (daily.min, daily.max + 1)
  }
  /** Days each increment re-extracts: the reference extracts one day a
    * run; one more, because a missing day (never two in a row in the
    * inputs) is interpolated only once the next one lands. */
  private val window = 2
  private var root = ""
  private var url = ""
  private var lastDay = -1
  def unitsPerOp: Double = strategies.toDouble

  private def corpus = s"$root/corpus"
  private def raw = s"$root/raw"
  private def facts = s"$root/facts"
  private def metrics = s"$root/metrics"

  private def price(path: String, strategy: Option[Int]): DataFrame = {
    val p = spark.read.parquet(path)
    strategy.fold(p)(s => p.where(col("strategy") === s))
      .select(date(col("day")).as("date"), col("price"))
  }

  /** Extract + fill/interpolate of days [from, to] for every strategy,
    * materialised, so the extract's work is timed under ops.Finance and
    * the writers that land it get its rows. */
  private def extracted(from: Int, to: Int, l: Layers): DataFrame = {
    val aave = price(s"$in/aave_price.parquet", None)
    val perStrategy = (0 until strategies).map { s =>
      l.eager("ops.Finance", "extractRawSupply")(Finance.extractRawSupply(spark, s"strategy-$s",
        new SeededChain(s"$in/chain.parquet", s, from, to),
        price(s"$in/asset_price.parquet", Some(s)), aave,
        dayString(from), dayString(to), dayString(10), dayString(60)))
    }
    val (rows, schema) = l.frame("ops.Finance", "fillAndInterpolate")(
      Finance.fillAndInterpolate(perStrategy.reduce(_ union _)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Land one input file of facts per table: the backfill's or a day's. */
  private def land(tag: String): Unit = Seq("orders", "lineitem").foreach { t =>
    Files.createDirectories(Paths.get(s"$corpus/$t.parquet"))
    Files.copy(Paths.get(s"$in/${t}_$tag.parquet"), Paths.get(s"$corpus/$t.parquet/part-$tag.parquet"))
  }

  /** Days [from, to] through the DAG: extract + interpolate into the
    * raw zone, the analytics transforms (skipped by the idempotency
    * re-run: they write nothing), then the datamart loads. The trailing
    * window is re-extracted so a missing day is interpolated once the
    * next observation lands; one more day before it is read as context
    * (an interpolation needs the last observed value) but not rewritten. */
  private def load(from: Int, to: Int, transforms: Boolean): Unit = {
    val l = ctx.layers
    val lo = math.max(0, from - window + 1)
    val landed = extracted(math.max(0, lo - 1), to, l).where(col("date") >= lit(dayString(lo)).cast("date"))
    l.eager("io.Writers", "rangedOverwrite")(Writers.rangedOverwrite(landed, raw, "date"))
    val zone = spark.read.parquet(raw)
    if (transforms) {
      val tvl = zone.groupBy("date").agg(sum(col("atoken_supply") * col("asset_price")).as("tvl"))
      val bench = zone.where(col("name") === "strategy-0").select(col("date"), col("aave_price").as("bench"))
      l.frame("ops.Risk", "riskFromSeries")(Risk.riskFromSeries(tvl, bench))
      l.eager("ops.Drawdown", "maxDrawdownByKey")(Drawdown.maxDrawdownByKey(
        zone.select(col("name"), col("date"), (col("total_apy") / 36500.0).as("pct"))
          .where(col("pct").isNotNull), spark.conf.get("spark.sql.shuffle.partitions").toInt))
      l.frame("ops.TimeSeries", "tvl")(TimeSeries.tvl(spark, corpus))
      l.frame("ops.Risk", "risk")(Risk.risk(spark, corpus))
    }
    l.eager("pipelines.Datamart", "loadFacts")(Datamart.loadFacts(spark, corpus, facts))
    l.eager("io.Writers", "mergeKeyed")(Writers.mergeKeyed(spark,
      metricRows(zone.where(col("date") >= lit(dayString(lo)).cast("date"))), metrics, Seq("name", "date")))
    l.eager("pipelines.Datamart", "loadToJdbc")(Datamart.loadToJdbc(spark, corpus, url))
  }

  private def metricRows(zone: DataFrame): DataFrame =
    zone.select(col("name"), col("date"), (col("atoken_supply") * col("asset_price")).as("tvl"),
      col("total_apy"))

  /** A fresh warehouse (raw zone, corpus, datamart, Derby database)
    * with the first `backfill` days bulk-loaded. */
  private def backfilled(tag: String): Double = {
    root = s"${ctx.work}/etl/$tag"
    url = s"jdbc:derby:memory:etl$tag;create=true"
    Files.createDirectories(Paths.get(corpus))
    Files.copy(Paths.get(s"$in/customer.parquet"), Paths.get(s"$corpus/customer.parquet"))
    land("backfill")
    lastDay = backfill - 1
    // the datamart's strategy dimension, as the reference's schema has it
    Writers.jdbcDeleteAppend(spark.read.parquet(s"$corpus/customer.parquet").select(
      col("c_custkey").as("id"), col("c_name").as("slug"), lit(0.0).as("tvl")), url, "strategy", "id")
    Layers.timed(ctx.unit("backfill")(load(0, lastDay, transforms = true)))
  }

  /** Set-up is the backfill: the pipeline's cold start in a fresh JVM,
    * as a daily DAG run has it. One per run: it costs a whole DAG run,
    * so run-to-run medians carry its steadiness. */
  override def setupReps: Int = 1
  def setup(rep: Int): Double = backfilled(s"r$rep")
  // three, so one increment slowed by a busy machine does not set the median
  override def minPasses: Int = 3

  def pass(n: Int): Unit = {
    require(lastDay + 1 < days, s"the generated inputs end at day $days")
    lastDay += 1
    land(f"day$lastDay%04d")
    ctx.unit(s"day$lastDay")(load(lastDay, lastDay, transforms = true))
  }

  private val tableNames = Seq("raw zone", "keyed metrics", "datamart facts", "jdbc facts", "jdbc summary")

  /** The datamart's five tables, each as a multiset of rows. */
  private def tables(): Seq[Map[Seq[Any], Int]] = {
    val props = new java.util.Properties()
    Ctx.parallel(Seq(spark.read.parquet(raw), Writers.readKeyed(spark, metrics), spark.read.parquet(facts),
      spark.read.jdbc(url, "strategy_growth", props), spark.read.jdbc(url, "strategy", props)
    ).map(df => () => Ctx.rowsOf(df)))
  }

  /** Re-running the last day must leave every datamart table unchanged
    * (the reference's delete-then-append idempotency), and each table
    * must equal a one-shot batch recompute over all days. The
    * transforms' outputs over the final corpus go to the DuckDB oracle. */
  override def verify(): Unit = {
    val quiet = new Layers(false)
    val before = tables()
    val saved = ctx.layers
    ctx.layers = quiet
    try load(lastDay, lastDay, transforms = false) finally ctx.layers = saved
    val after = tables()
    ctx.expect("re-running the last day leaves the datamart unchanged", after == before)
    ctx.phase("verify_rerun")
    val batch = extracted(0, lastDay, quiet)
    val oneShot = s"$root/facts_batch"
    Datamart.loadFacts(spark, corpus, oneShot)
    val facts1 = Ctx.rowsOf(spark.read.parquet(oneShot))
    val latest = Datamart.dimSummary(spark, corpus)
      .select(col("strategy_id").as("id"), col("slug"), coalesce(col("latest_value"), lit(0.0)).as("tvl"))
    val truth = Seq(Ctx.rowsOf(batch), Ctx.rowsOf(metricRows(batch)), facts1, facts1, Ctx.rowsOf(latest))
    tableNames.lazyZip(after).lazyZip(truth).foreach { (name, got, want) =>
      ctx.expect(s"$name equals the batch recompute", got == want)
    }
    ctx.phase("verify_batch")
    Seq("ts_tvl", "risk").foreach { q =>
      val df = SparkEntry.queries(q)(spark, corpus)
      ctx.saved(q) = (corpus, df.schema, df.collect())
    }
  }
}
