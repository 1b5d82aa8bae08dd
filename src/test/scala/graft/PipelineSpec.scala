package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.Writers
import graft.ops.Finance
import graft.sources.{ChainSource, FixtureChainSource}

/** Extract pipeline + idempotent writer semantics (reference S5-S9). */
/** Test-only: a local filesystem wearing the `s3a` scheme, so the
  * object-store sweep refusal is pinned without a real object store
  * (RawLocalFileSystem itself rejects foreign schemes in checkPath). */
class FakeS3LocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("s3a:///")
}

class PipelineSpec extends SparkSpec {

  private def prices(start: String, days: Int, base: Double) = {
    import spark.implicits._
    spark.sql(
      s"SELECT date_add(to_date('$start'), i) AS date, $base + 0.01 * i AS price " +
        s"FROM (SELECT explode(sequence(0, ${days - 1})) AS i)")
  }

  test("extract produces the full raw_supply schema with APY quirks intact") {
    val chain = new FixtureChainSource("2024-01-01", 10)
    val raw = Finance.extractRawSupply(spark, "fixture_usdc", chain,
      prices("2024-01-01", 10, 1.0), prices("2024-01-01", 10, 80.0),
      "2024-01-01", "2024-01-10", "2024-01-03", "2024-01-08")
    val rows = raw.collect()
    assert(rows.length === 10)
    assert(raw.columns.toSeq === Seq("date", "name", "stake_apy", "aave_apy",
      "total_apy", "liquidity_index", "atoken_supply", "asset_price", "aave_price"))
    // incentive gate: aave_apy zero outside (2024-01-03, 2024-01-08)
    val gated = raw.where(
      (col("date") <= "2024-01-03" || col("date") >= "2024-01-08") && col("aave_apy") =!= 0.0)
    assert(gated.count() === 0)
    val inWindow = raw.where(col("date") > "2024-01-03" && col("date") < "2024-01-08")
      .where(col("aave_apy") > 0.0)
    assert(inWindow.count() === 4)
    // total = round(stake + aave, 3) on rounded addends
    rows.foreach { r =>
      val expected = BigDecimal(r.getAs[Double]("stake_apy") + r.getAs[Double]("aave_apy"))
        .setScale(3, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      assert(math.abs(r.getAs[Double]("total_apy") - expected) < 1e-9)
    }
  }

  test("pipeline outputs conform to the declared schemas") {
    val chain = new FixtureChainSource("2024-01-01", 5)
    val raw = Finance.extractRawSupply(spark, "s", chain,
      prices("2024-01-01", 5, 1.0), prices("2024-01-01", 5, 80.0),
      "2024-01-01", "2024-01-05", "2024-01-02", "2024-01-04")
    Schemas.enforce(raw, Schemas.rawSupply)
    Schemas.enforce(
      graft.ops.TimeSeries.tvl(spark, sf), Schemas.tvl)
    Schemas.enforce(
      graft.ops.TimeSeries.gotk(spark, sf), Schemas.gotk)
    Schemas.enforce(
      graft.ops.TimeSeries.trailingReturn(spark, sf), Schemas.trailingReturn)
    Schemas.enforce(
      graft.ops.Risk.risk(spark, sf), Schemas.risk)
    // drift detection: a renamed column must throw
    val drifted = raw.withColumnRenamed("stake_apy", "apy")
    intercept[IllegalArgumentException] {
      Schemas.enforce(drifted, Schemas.rawSupply)
    }
  }

  test("stake APY matches the closed-form per-second compounding") {
    import spark.implicits._
    val df = Seq(0.05e27).toDF("rate").select(Finance.stakeApy(col("rate")).as("apy"))
    val apy = df.first().getDouble(0)
    val expected = BigDecimal(math.pow(1 + 0.05 / Finance.RaySeconds, Finance.RaySeconds) - 1)
      .setScale(5, BigDecimal.RoundingMode.HALF_EVEN).toDouble * 100
    assert(math.abs(apy - expected) < 1e-9)
  }

  test("fillAndInterpolate: zero-fill columns and interior gap repair") {
    import spark.implicits._
    val raw = Seq(
      ("2024-01-01", "s", Some(1.0), None: Option[Double], Some(10.0)),
      ("2024-01-02", "s", None, None, None),
      ("2024-01-03", "s", Some(3.0), Some(0.5), Some(30.0))
    ).toDF("d", "name", "stake_apy", "aave_apy", "atoken_supply")
      .withColumn("date", to_date(col("d"))).drop("d")
      .withColumn("total_apy", lit(null).cast("double"))
      .withColumn("liquidity_index", lit(null).cast("double"))
      .withColumn("asset_price", lit(1.0))
      .withColumn("aave_price", lit(1.0))
    val out = Finance.fillAndInterpolate(raw).orderBy("date").collect()
    assert(out(0).getAs[Double]("aave_apy") === 0.0)        // fill-zero column
    assert(out(1).getAs[Double]("stake_apy") === 2.0)       // linear midpoint
    assert(out(1).getAs[Double]("atoken_supply") === 20.0)
  }

  test("rangedOverwrite replaces only the partitions present in the batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_writers").toString
    val day1 = Seq(("2024-01-01", 1.0), ("2024-01-02", 2.0)).toDF("date", "v")
    Writers.rangedOverwrite(day1, dir, "date")
    // re-run day 2 with corrected value + new day 3
    val fix = Seq(("2024-01-02", 22.0), ("2024-01-03", 3.0)).toDF("date", "v")
    Writers.rangedOverwrite(fix, dir, "date")
    val state = spark.read.parquet(dir).orderBy("date")
      .withColumn("date", col("date").cast("string"))
      .collect().map(r => r.getAs[String]("date") -> r.getAs[Double]("v"))
    assert(state.toSeq === Seq("2024-01-01" -> 1.0, "2024-01-02" -> 22.0, "2024-01-03" -> 3.0))
    // idempotency: same batch again -> same state
    Writers.rangedOverwrite(fix, dir, "date")
    assert(spark.read.parquet(dir).count() === 3)
  }

  test("multi-column ranged overwrite rewrites one (name, date) cell and prunes on read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_multipart").toString
    val df = Seq(("s1", "2024-01-01", 1.0), ("s1", "2024-01-02", 2.0),
      ("s2", "2024-01-01", 3.0), ("s2", "2024-01-02", 4.0)).toDF("name", "date", "v")
    Writers.rangedOverwrite(df, dir, "name", "date")
    // idempotent rewrite of exactly one (strategy, day) cell
    val fix = Seq(("s1", "2024-01-02", 22.0)).toDF("name", "date", "v")
    Writers.rangedOverwrite(fix, dir, "name", "date")
    val table = spark.read.parquet(dir)
    assert(table.count() === 4)
    val q = table.where(col("name") === "s1" && col("date") >= "2024-01-02")
    assert(q.collect().map(_.getAs[Double]("v")).toSeq === Seq(22.0))
    // partition pruning: only files under name=s1/date=2024-01-02 are read
    val files = q.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(f =>
      f.contains("name=s1") && f.contains("date=2024-01-02")), files.mkString(", "))
    // and the scan carries both keys as partition filters
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PartitionFilters"), scan)
  }

  test("jdbc delete+append is idempotent per key and UPDATE stamps the summary") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val props = new java.util.Properties()
    def state(t: String) = spark.read.jdbc(url, t, props)

    val d1 = Seq((1L, "2024-01-01", 10.0), (1L, "2024-01-02", 11.0), (2L, "2024-01-01", 20.0))
      .toDF("strategy_id", "date", "value")
    Writers.jdbcDeleteAppend(d1, url, "strategy_growth", "strategy_id")
    assert(state("strategy_growth").count() === 3)
    // re-running the SAME batch leaves the same table state
    Writers.jdbcDeleteAppend(d1, url, "strategy_growth", "strategy_id")
    assert(state("strategy_growth").count() === 3)
    // corrected reload of strategy 1 replaces only its rows
    val fix = Seq((1L, "2024-01-03", 12.0)).toDF("strategy_id", "date", "value")
    Writers.jdbcDeleteAppend(fix, url, "strategy_growth", "strategy_id")
    val rows = state("strategy_growth").orderBy("strategy_id").collect()
    assert(rows.map(_.getAs[Long]("strategy_id")).toSeq === Seq(1L, 2L))
    assert(rows.map(_.getAs[Double]("value")).toSeq === Seq(12.0, 20.0))

    // S11: UPDATE of the strategy summary row over JDBC
    val dim = Seq((1L, "alpha", 0.0), (2L, "beta", 0.0)).toDF("id", "slug", "tvl")
    Writers.jdbcDeleteAppend(dim, url, "strategy", "id")
    val latest = Seq((1L, 12.0), (2L, 20.0)).toDF("id", "tvl")
    Writers.jdbcUpdateSummary(latest, url, "strategy", "id", Seq("tvl"))
    val tvls = state("strategy").orderBy("id").collect().map(_.getAs[Double]("tvl"))
    assert(tvls.toSeq === Seq(12.0, 20.0))
  }

  test("mergeKeyed: update-else-insert, versioned pointer swap, idempotent re-run") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_merge").toString + "/t"
    val b1 = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "name", "v")
    Writers.mergeKeyed(spark, b1, root, Seq("id"))
    assert(Writers.readKeyed(spark, root).count() === 3)
    // update key 2, insert key 4; 1 and 3 must carry over untouched
    val b2 = Seq((2L, "B", 21L), (4L, "d", 40L)).toDF("id", "name", "v")
    Writers.mergeKeyed(spark, b2, root, Seq("id"))
    def state() = Writers.readKeyed(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val after = state()
    assert(after === Set((1L, "a", 10L), (2L, "B", 21L), (3L, "c", 30L), (4L, "d", 40L)))
    // idempotent: re-running the same batch lands a new version with
    // identical contents
    Writers.mergeKeyed(spark, b2, root, Seq("id"))
    assert(state() === after)
    // prior versions remain readable (immutable snapshots)
    assert(spark.read.parquet(s"$root/v0").count() === 3)
    // mid-swap pointer loss: readers fall back to the highest landed
    // version, never a torn snapshot
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_current"), false)
    assert(state() === after)
  }

  test("time travel, keyed delete, and the computed change feed") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cdc").toString + "/t"
    val b1 = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "name", "v")
    Writers.mergeKeyed(spark, b1, root, Seq("id"))                    // v0
    val b2 = Seq((2L, "B", 21L), (4L, "d", 40L)).toDF("id", "name", "v")
    Writers.mergeKeyed(spark, b2, root, Seq("id"))                    // v1
    Writers.deleteKeyed(spark, Seq(Tuple1(3L)).toDF("id"), root, Seq("id")) // v2
    Writers.compactKeyed(spark, root, targetBytes = 1L << 30)         // v3
    // time travel: every retained snapshot reads back exactly
    assert(Writers.readKeyedVersion(spark, root, 0).count() === 3)
    assert(Writers.readKeyedVersion(spark, root, 1).count() === 4)
    assert(Writers.readKeyedVersion(spark, root, 2).count() === 3)
    intercept[IllegalArgumentException] {
      Writers.readKeyedVersion(spark, root, 9)
    }
    def feed(a: Long, b: Long) =
      Writers.keyedChanges(spark, root, a, b, Seq("id")).collect()
        .map(r => (r.getAs[String]("_op"), r.getAs[Long]("id"),
          r.getAs[String]("name"), r.getAs[Long]("v"))).toSet
    // v0 -> v1: one update (post-image), one insert
    assert(feed(0, 1) === Set(("update", 2L, "B", 21L), ("insert", 4L, "d", 40L)))
    // v1 -> v2: one delete (pre-image)
    assert(feed(1, 2) === Set(("delete", 3L, "c", 30L)))
    // compaction rewrites files, not rows: empty feed
    assert(feed(2, 3) === Set.empty)
    // spanning feed composes: v0 -> v3 nets out to update+insert+delete
    assert(feed(0, 3) === Set(("update", 2L, "B", 21L),
      ("insert", 4L, "d", 40L), ("delete", 3L, "c", 30L)))
    // delete is idempotent and atomic to readers: re-running it lands
    // a new identical version
    Writers.deleteKeyed(spark, Seq(Tuple1(3L)).toDF("id"), root, Seq("id")) // v4
    assert(feed(3, 4) === Set.empty)
    assert(Writers.readKeyed(spark, root).count() === 3)
  }

  test("mergeKeyed survives a crashed writer: orphan dirs never block or serve") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_mergecrash").toString + "/t"
    val b1 = Seq((1L, "a")).toDF("id", "v")
    Writers.mergeKeyed(spark, b1, root, Seq("id"))
    // simulate a writer that crashed mid-write: a partial v1 with no
    // _SUCCESS marker (parquet-less junk)
    val orphan = new java.io.File(s"$root/v1")
    orphan.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/v1/part-junk"), "torn")
    // next merge must skip past the orphan, not collide on it
    Writers.mergeKeyed(spark, Seq((2L, "b")).toDF("id", "v"), root, Seq("id"))
    assert(Writers.readKeyed(spark, root).count() === 2)
    // pointer loss: the fallback must pick the highest COMMITTED
    // version (v2), never the torn orphan between v0 and it
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_current"), false)
    assert(Writers.readKeyed(spark, root).count() === 2)
    // vacuum ranks committed versions only: with keepLast = 1 the
    // current v2 survives; the orphan is left for its (hypothetical)
    // in-flight writer
    Writers.vacuumKeyed(spark, root, keepLast = 1)
    assert(Writers.readKeyed(spark, root).count() === 2)
    assert(!new java.io.File(s"$root/v0").exists())
    assert(orphan.exists())
  }

  test("compactKeyed + vacuumKeyed: fewer files, identical rows, bounded history") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_compact").toString + "/t"
    // many tiny files: 16 partitions of a 100-row table
    Writers.mergeKeyed(spark,
      spark.range(100).select(col("id"), md5(col("id").cast("string")).as("payload"))
        .repartition(16),
      root, Seq("id"))
    def files(v: String) = new java.io.File(s"$root/$v").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files("v0") === 16)
    val before = Writers.readKeyed(spark, root).collect().map(_.toString).toSet
    Writers.compactKeyed(spark, root, targetBytes = 1L << 30)
    assert(files("v1") === 1, "compaction should bin-pack into one file here")
    assert(Writers.readKeyed(spark, root).collect().map(_.toString).toSet === before)
    // vacuum keeps only the newest snapshot; current stays readable
    Writers.vacuumKeyed(spark, root, keepLast = 1)
    assert(!new java.io.File(s"$root/v0").exists())
    assert(Writers.readKeyed(spark, root).collect().map(_.toString).toSet === before)
  }

  test("compactKeyed survives a crashed writer's orphan version dir") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_compactcrash").toString + "/t"
    Writers.mergeKeyed(spark, Seq((1L, "a")).toDF("id", "v"), root, Seq("id"))
    // orphan v1: landed dir, no _SUCCESS — pointer still v0. Deriving
    // the next version from the pointer alone would collide on v1's
    // ErrorIfExists forever; the landedMax rule must skip past it.
    new java.io.File(s"$root/v1").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/v1/part-junk"), "torn")
    Writers.compactKeyed(spark, root, targetBytes = 1L << 30)
    assert(new java.io.File(s"$root/v2/_SUCCESS").exists(),
      "compaction must land past the orphan, not collide on it")
    assert(Writers.readKeyed(spark, root).collect().map(_.toString).toSet
      === Set("[1,a]"))
  }

  test("datamart loads end-to-end over JDBC: facts replaced, summary stamped") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftdm;create=true"
    val props = new java.util.Properties()
    // seed the strategy dim table (the reference assumes it exists)
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("id"), col("c_name").as("slug"))
      .withColumn("tvl", lit(0.0))
    Writers.jdbcDeleteAppend(dim, url, "strategy", "id")
    graft.pipelines.Datamart.loadToJdbc(spark, sf, url)
    // re-run: idempotent (delete+append per strategy)
    graft.pipelines.Datamart.loadToJdbc(spark, sf, url)
    val facts = spark.read.jdbc(url, "strategy_growth", props)
    assert(facts.count() === Tables.orders(spark, sf).count())
    // every strategy with orders has its summary tvl stamped to the latest value
    val stamped = spark.read.jdbc(url, "strategy", props).where(col("tvl") =!= 0.0).count()
    val expected = graft.pipelines.Datamart.dimSummary(spark, sf)
      .where(col("latest_value").isNotNull && col("latest_value") =!= 0.0).count()
    assert(stamped === expected)
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse dirs survive — clear both before saving
    Seq("b_orders", "b_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Writers.bucketedSave(Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", "o_custkey", 4)
    Writers.bucketedSave(Tables.customer(spark, sf).select("c_custkey", "c_name"),
      "b_customer", "c_custkey", 4)
    val joined = spark.table("b_orders")
      .join(spark.table("b_customer").hint("merge"), col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() === Tables.orders(spark, sf).count())
  }

  test("end-to-end: extract -> interpolate -> ranged overwrite -> transform") {
    val chain = new FixtureChainSource("2024-01-01", 31)
    val raw = Finance.extractRawSupply(spark, "fixture_usdc", chain,
      prices("2024-01-01", 31, 1.0), prices("2024-01-01", 31, 80.0),
      "2024-01-01", "2024-01-31", "2024-01-05", "2024-01-25")
    val loaded = Finance.fillAndInterpolate(raw)
    val dir = Files.createTempDirectory("graft_e2e").toString
    Writers.rangedOverwrite(loaded.withColumn("date", col("date").cast("string")), dir, "date")
    // re-run the last 10 days (idempotent incremental)
    Writers.rangedOverwrite(
      loaded.where(col("date") >= "2024-01-22").withColumn("date", col("date").cast("string")),
      dir, "date")
    val table = spark.read.parquet(dir).withColumn("date", to_date(col("date")))
    assert(table.count() === 31)
    // transform the loaded table with the tvl-shape pipeline
    val w = org.apache.spark.sql.expressions.Window.partitionBy("name").orderBy("date")
    val tvl = table
      .withColumn("tvl", col("atoken_supply") * col("asset_price"))
      .withColumn("change_tvl", col("tvl") - coalesce(lag(col("tvl"), 1).over(w), col("tvl")))
    assert(tvl.where(col("tvl").isNull).count() === 0)
    assert(tvl.count() === 31)
  }

  test("multi-strategy end-to-end: extract x2 -> fill -> ranged overwrite -> transform -> datamart") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val days = 31
    // two strategies over distinct price curves; chain observations have
    // gaps (every 7th day missing) that the load step must repair
    def gappyChain(start: String, n: Int): ChainSource = new ChainSource {
      override def observations(s: org.apache.spark.sql.SparkSession) =
        new FixtureChainSource(start, n).observations(s)
          .where(dayofmonth(col("date")) % 7 =!= 0)
    }
    val rawU = Finance.extractRawSupply(spark, "usdc", gappyChain("2024-01-01", days),
      prices("2024-01-01", days, 1.0), prices("2024-01-01", days, 80.0),
      "2024-01-01", "2024-01-31", "2024-01-05", "2024-01-25")
    val rawD = Finance.extractRawSupply(spark, "dai", gappyChain("2024-01-01", days),
      prices("2024-01-01", days, 2.0), prices("2024-01-01", days, 80.0),
      "2024-01-01", "2024-01-31", "2024-01-10", "2024-01-20")
    // ONE fill/interpolate pass over the union — the per-name
    // partitioned form the reference runs as N separate task chains
    val loaded = Finance.fillAndInterpolate(rawU.unionByName(rawD))
    val dir = Files.createTempDirectory("graft_e2e_multi").toString
    Writers.rangedOverwrite(
      loaded.withColumn("date", col("date").cast("string")), dir, "name", "date")
    // idempotent per-(strategy, day) re-run of one strategy's tail
    Writers.rangedOverwrite(
      loaded.where(col("name") === "dai" && col("date") >= "2024-01-22")
        .withColumn("date", col("date").cast("string")), dir, "name", "date")
    val table = spark.read.parquet(dir).withColumn("date", to_date(col("date")))
    assert(table.count() === days * 2)

    // row-level equality with an independent expectation: the fixture's
    // supply and price forms are linear in the day index, so the
    // interpolated gap days must land exactly back on the closed form
    val tvl = table.withColumn("tvl", col("atoken_supply") * col("asset_price"))
    val got = tvl.select("name", "date", "tvl").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val exp = (for (s <- Seq(("dai", 2.0), ("usdc", 1.0)); i <- 0 until days) yield
      (s._1, java.time.LocalDate.parse("2024-01-01").plusDays(i).toString,
        (1000000.0 + 1000.0 * i) * (s._2 + 0.01 * i))).sortBy(t => (t._1, t._2))
    assert(got.map(t => (t._1, t._2)).toSeq === exp.map(t => (t._1, t._2)).toSeq)
    got.zip(exp).foreach { case ((n, d, gv), (_, _, ev)) =>
      assert(math.abs(gv - ev) < 1e-6, s"$n $d: $gv vs $ev")
    }

    // datamart over JDBC: per-strategy fact replace + summary UPDATE
    val url = "jdbc:derby:memory:graftmulti;create=true"
    val dim = Seq((1L, "usdc", 0.0), (2L, "dai", 0.0)).toDF("id", "slug", "tvl")
    Writers.jdbcDeleteAppend(dim, url, "strategy", "id")
    val ids = Seq(("usdc", 1L), ("dai", 2L)).toDF("name", "strategy_id")
    val facts = tvl.join(broadcast(ids), "name")
      .select(col("strategy_id"), col("date").cast("string").as("date"),
        col("tvl").as("value"))
    Writers.jdbcDeleteAppend(facts, url, "strategy_growth", "strategy_id")
    // idempotent re-run of one strategy's facts
    Writers.jdbcDeleteAppend(facts.where(col("strategy_id") === 2L),
      url, "strategy_growth", "strategy_id")
    val props = new java.util.Properties()
    assert(spark.read.jdbc(url, "strategy_growth", props).count() === days * 2)
    val latest = tvl
      .withColumn("rn", row_number().over(
        Window.partitionBy("name").orderBy(col("date").desc)))
      .where(col("rn") === 1).join(broadcast(ids), "name")
      .select(col("strategy_id").as("id"), col("tvl"))
    Writers.jdbcUpdateSummary(latest, url, "strategy", "id", Seq("tvl"))
    val stamped = spark.read.jdbc(url, "strategy", props)
      .orderBy("id").collect().map(_.getAs[Double]("tvl"))
    val i = (days - 1).toDouble
    assert(math.abs(stamped(0) - (1000000.0 + 1000.0 * i) * (1.0 + 0.01 * i)) < 1e-6)
    assert(math.abs(stamped(1) - (1000000.0 + 1000.0 * i) * (2.0 + 0.01 * i)) < 1e-6)
  }

  test("curation pipeline: materialized clusters derive apply/curate row-identical to the independent queries") {
    val root = Files.createTempDirectory("graft_curation").toString
    graft.pipelines.Curation.run(spark, sf, root)
    // both derived tables landed and match the independent
    // driver-query composition row-for-row — the pipeline is a pure
    // re-topology, not a semantic change. The default composition is
    // exact-first (round 12), so the reference decision table is the
    // oracle-pinned `dedup_exact_first` query.
    val refClusters = graft.ops.Dedup.exactFirstClusters(spark, sf)
    val applied = spark.read.parquet(s"$root/corpus_deduped")
      .select("doc_id", "cluster_id", "h")
    val applyRef = graft.ops.Dedup.applyFrom(spark, sf, refClusters)
      .select("doc_id", "cluster_id", "h")
    assert(applied.exceptAll(applyRef).count() === 0)
    assert(applyRef.exceptAll(applied).count() === 0)
    val cols = Seq("doc_id", "heldout", "dup_loser", "contaminated", "low_quality", "kept")
    val curated = spark.read.parquet(s"$root/curation_decision")
      .select(cols.head, cols.tail: _*)
    val curateRef = graft.ops.Text.curateFrom(spark, sf, refClusters)
      .select(cols.head, cols.tail: _*)
    assert(curated.exceptAll(curateRef).count() === 0)
    assert(curateRef.exceptAll(curated).count() === 0)
    // re-run idempotency: truncate-load stages reproduce the same state
    graft.pipelines.Curation.run(spark, sf, root)
    val applied2 = spark.read.parquet(s"$root/corpus_deduped")
      .select("doc_id", "cluster_id", "h")
    assert(applied2.exceptAll(applyRef).count() === 0)
    // the derived stages read the materialized table, not the loop:
    // their plans scan the clusters parquet and contain no iterative
    // subtree (structurally guaranteed — applyFrom/curateFrom are pure
    // joins over the passed table)
    val inputs = graft.pipelines.Curation.applyDeduped(spark, sf, root).inputFiles
    assert(inputs.exists(_.contains("dedup_clusters")),
      "derived stage must scan the materialized cluster table")

    // leak-free split: every member of a near-dup cluster lands in the
    // SAME split (keyed by the keeper), and unpaired docs keep the
    // content-hash assignment of the naive split
    val lfs = graft.pipelines.Curation.leakFreeSplit(spark, sf, root)
    assert(lfs.count() === Tables.documents(spark, sf).count())
    val straddling = lfs.groupBy("key_doc")
      .agg(countDistinct(col("split")).as("n_splits"))
      .where(col("n_splits") > 1)
    assert(straddling.count() === 0, "a cluster straddles the train/test boundary")
    val clustered = spark.read.parquet(s"$root/dedup_clusters").select("doc_id")
    val naive = graft.ops.Text.trainValTestSplit(spark, sf).select("doc_id", "split")
    val unpairedMismatch = lfs.join(clustered, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("split").as("lf_split"))
      .join(naive, "doc_id")
      .where(col("lf_split") =!= col("split"))
    assert(unpairedMismatch.count() === 0)
  }

  test("release-stage mixture resample: budgeted, deterministic, curated subset") {
    val root = Files.createTempDirectory("graft_resample").toString
    graft.pipelines.Curation.run(spark, sf, root)
    val kept = spark.read.parquet(s"$root/curation_decision")
      .where(col("kept")).select("doc_id")
    val curated = Tables.documents(spark, sf).join(kept, "doc_id")
    val res = graft.pipelines.Curation.resampledCorpus(spark, sf, root)
    val out = res.collect()
    assert(out.nonEmpty)
    // subset of the curated corpus, deterministic across re-runs
    assert(res.join(kept, "doc_id").count() === out.length)
    assert(graft.ops.Text.resampleMixFrom(curated).collect().map(_.toSeq).toSeq
      === out.map(_.toSeq).toSeq)
    // independent BigInt recompute of the weights, budgets, and the
    // hash-ordered greedy selection — catches an engine-side overflow
    // or boundary-compare drift the mirrored plan could not
    val toks = curated.select(col("doc_id"), col("source"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_toks"),
      md5(col("text")).as("h")).collect()
    val byGrp = toks.groupBy(r => (r.getString(1), r.getString(2)))
    val b = BigInt(toks.map(_.getLong(3)).sum) / 4
    val ws = byGrp.view.mapValues(rs => BigInt(math.sqrt(rs.size.toDouble).toLong)).toMap
    val sumW = ws.values.sum
    val expected = byGrp.toSeq.flatMap { case (g, rs) =>
      val budget = (b / sumW) * ws(g) + ((b % sumW) * ws(g)) / sumW
      var cum = BigInt(0)
      rs.sortBy(r => (r.getString(4), r.getLong(0))).toSeq
        .takeWhile { r => val fits = cum < budget; cum += r.getLong(3); fits }
        .map(_.getLong(0))
    }.toSet
    assert(out.map(_.getLong(0)).toSet === expected)
  }

  test("incremental dedup: vN + delta state is row-identical to full recompute") {
    val docs = Tables.documents(spark, sf)
    val vN = docs.where(col("doc_id") % 10 =!= 7)
    val delta = docs.where(col("doc_id") % 10 === 7)
    val rootA = Files.createTempDirectory("graft_incr_vn").toString
    val rootB = Files.createTempDirectory("graft_incr_vn1").toString
    val rootFull = Files.createTempDirectory("graft_incr_full").toString
    graft.pipelines.Curation.buildState(spark, vN, rootA)
    graft.pipelines.Curation.incrementState(spark, delta, rootA, rootB)
    graft.pipelines.Curation.buildState(spark, docs, rootFull)
    // the decision a consumer reads at vN+1 equals the full recompute
    val incr = spark.read.parquet(graft.pipelines.Curation.clustersPath(rootB))
    val full = spark.read.parquet(graft.pipelines.Curation.clustersPath(rootFull))
    assert(incr.exceptAll(full).count() === 0)
    assert(full.exceptAll(incr).count() === 0)
    // the refreshed band STATE is identical too — the next increment
    // probes it, so drift here would compound across releases
    val bi = spark.read.parquet(graft.pipelines.Curation.bandsPath(rootB))
    val bf = spark.read.parquet(graft.pipelines.Curation.bandsPath(rootFull))
    assert(bi.exceptAll(bf).count() === 0)
    assert(bf.exceptAll(bi).count() === 0)
    // non-vacuous: the delta actually added band state
    assert(bi.count() >
      spark.read.parquet(graft.pipelines.Curation.bandsPath(rootA)).count())
  }

  test("exact-first curation collapses duplicate cliques wider than the LSH cap") {
    import spark.implicits._
    import graft.pipelines.Curation
    // 70 identical docs share every band bucket; MaxBucket = 64 keeps
    // the lowest 64, so the 6 cap-evicted docs lose ALL bucket
    // memberships at once and leak through the LSH-only chain as
    // unpaired singletons (measured at x100 scale, PERF.md round 12 —
    // this is the unit-sized pin of the same defect). The exact
    // pre-pass collapses the clique fully.
    val text = "the same exact boilerplate sentence repeated for every document in this bucket"
    val near = "a sufficiently long nearly duplicated document body whose text keeps going on and on"
    val docs = spark.range(0, 70)
      .select(col("id").as("doc_id"), lit(text).as("text"))
      .unionByName(Seq((1000L, near), (1001L, near + "!"),
        (2000L, "an entirely unrelated singleton document text"))
        .toDF("doc_id", "text"))
    val rootLsh = Files.createTempDirectory("graft_exf_lsh").toString
    val rootEx = Files.createTempDirectory("graft_exf_ex").toString
    Curation.buildState(spark, docs, rootLsh)
    def kept(root: String) = docs.select("doc_id").join(
      Curation.decision(spark, root)
        .where(!col("keep")).select("doc_id"),
      Seq("doc_id"), "left_anti").collect().map(_.getLong(0)).toSet
    // the leak: keeper 0 plus every cap-evicted id (64..69) survives
    assert(kept(rootLsh).count(_ < 70L) === 7)
    Curation.buildStateExactFirst(spark, docs, rootEx)
    val exKept = Curation.keptExactFirst(spark, rootEx)
      .collect().map(_.getLong(0)).toSet
    assert(exKept.count(_ < 70L) === 1, s"clique must collapse to one keeper: $exKept")
    assert(exKept.contains(0L) && exKept.contains(2000L))
    // distinct-content near-dups are NOT exact dups — they must still
    // collapse through the fuzzy stage that runs on exact keepers
    assert(!(exKept.contains(1000L) && exKept.contains(1001L)))
    // the DEFAULT-consumer derivation (anti-join !keep rows of the
    // composed decision VIEW — what applyDeduped/release/retire read)
    // sees the SAME collapse: exact-loser rows are derived from the
    // mapping at read time, so no consumer needs to know which
    // composition built the state — and no release writes them
    assert(kept(rootEx) === exKept)
    assert(Curation.decision(spark, rootEx)
      .where(!col("keep") && col("doc_id") < 70).count() === 69)
    // the LANDED fuzzy table stays keeper-grain: no exact-loser rows
    assert(spark.read.parquet(Curation.clustersPath(rootEx))
      .where(col("doc_id") < 70).count() === 0)
    // the landed mapping covers every doc, identity rows for keepers
    val mapping = Curation.exactMap(spark, rootEx)
    assert(mapping.count() === docs.count())
    assert(mapping.where(col("doc_id") < 70 && col("keeper_id") =!= 0).count() === 0)
    assert(mapping.where(col("doc_id") === col("keeper_id")).count() === 4)
  }

  test("exact-first increment: vN + delta state is row-identical to the exact-first full rebuild") {
    import graft.pipelines.Curation
    val docs = Tables.documents(spark, sf)
    // split so the delta holds: brand-new content, exact dups of vN
    // docs (higher ids — synthesized below), and an in-delta dup pair
    val vN = docs.where(col("doc_id") % 10 =!= 7)
    val fresh = docs.where(col("doc_id") % 10 === 7)
    val dupOfPrior = vN.orderBy("doc_id").limit(5)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"),
        col("source"), col("lang"), col("n_chars"))
    val delta = fresh.unionByName(dupOfPrior)
    val rootA = Files.createTempDirectory("graft_exinc_vn").toString
    val rootB = Files.createTempDirectory("graft_exinc_vn1").toString
    val rootFull = Files.createTempDirectory("graft_exinc_full").toString
    Curation.buildStateExactFirst(spark, vN, rootA)
    Curation.incrementState(spark, delta, rootA, rootB)
    Curation.buildStateExactFirst(spark, vN.unionByName(delta), rootFull)
    val exTables = (root: String) => Seq(
      "clusters" -> spark.read.parquet(Curation.clustersPath(root)),
      "bands" -> spark.read.parquet(Curation.bandsPath(root)),
      "exact" -> Curation.exactMap(spark, root),
      "decision view" -> Curation.decision(spark, root))
    for (((label, incr), (_, full)) <- exTables(rootB).zip(exTables(rootFull))) {
      assert(incr.exceptAll(full).count() === 0, s"extra rows in $label")
      assert(full.exceptAll(incr).count() === 0, s"missing rows in $label")
    }
    // non-vacuous: the synthetic exact dups were absorbed as losers
    // without entering the fuzzy chain (no bands for their ids)
    assert(Curation.decision(spark, rootB)
      .where(col("doc_id") >= 1000000L && !col("keep")).count() === 5)
    assert(spark.read.parquet(Curation.bandsPath(rootB))
      .where(col("doc_id") >= 1000000L).count() === 0)
    // contract refuse: a delta doc BELOW its group's landed keeper is
    // a keeper demotion — a deletion from the fuzzy state — and must
    // refuse toward the full-rebuild escape hatch, not silently drift
    val demote = vN.orderBy(col("doc_id").desc).limit(1)
      .select((col("doc_id") * lit(-1L) - 1L).as("doc_id"), col("text"),
        col("source"), col("lang"), col("n_chars"))
    val rootC = Files.createTempDirectory("graft_exinc_refuse").toString
    val e = intercept[IllegalArgumentException] {
      Curation.incrementState(spark, demote, rootA, rootC)
    }
    assert(e.getMessage.contains("keeper demotion"))
  }

  test("exact mapping release chain auto-compacts past the dir-count ceiling") {
    // every release appends one directory per delta-touched content-
    // hash bucket; past graft.chain.compactMaxDirs the tip rewrites
    // in place (pure I/O) so read fan-out stays bounded over a long
    // chain — rows identical before/after by construction
    import graft.pipelines.Curation
    val docs = Tables.documents(spark, sf)
    val vN = docs.where(col("doc_id") % 4 === 0)
    val roots = (0 to 3).map(i =>
      Files.createTempDirectory(s"graft_excmp_v$i").toString)
    Curation.buildStateExactFirst(spark, vN, roots(0))
    spark.conf.set("graft.chain.compactMaxDirs", "2")
    try {
      for (i <- 1 to 3) {
        val delta = docs.where(col("doc_id") % 4 === i)
        Curation.incrementState(spark, delta, roots(i - 1), roots(i))
      }
    } finally spark.conf.unset("graft.chain.compactMaxDirs")
    import graft.io.BucketedTable
    assert(BucketedTable.maxDirsPerBucket(spark, Curation.exactPath(roots(3))) <= 2,
      "the chain tip must have compacted past the ceiling")
    val rootFull = Files.createTempDirectory("graft_excmp_full").toString
    Curation.buildStateExactFirst(spark, docs, rootFull)
    val a = Curation.exactMap(spark, roots(3))
    val b = Curation.exactMap(spark, rootFull)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("curation release chain: compact anchors the tip, vacuum reclaims below and sweeps orphans") {
    import graft.pipelines.Curation
    import graft.io.BucketedTable
    val docs = Tables.documents(spark, sf)
    val chain = Files.createTempDirectory("graft_curvac").toString
    def vr(b: Int) = s"$chain/v$b"
    Curation.buildStateExactFirst(spark, docs.where(col("doc_id") % 4 === 0), vr(0))
    Curation.buildWinnowIndex(spark, docs.where(col("doc_id") % 4 === 0), vr(0))
    for (i <- 1 to 2) {
      val delta = docs.where(col("doc_id") % 4 === i)
      Curation.incrementState(spark, delta, vr(i - 1), vr(i))
      Curation.incrementWinnowIndex(spark, delta, vr(i - 1), vr(i))
    }
    assert(Curation.committedVersions(spark, chain) === Seq(0L, 1L, 2L))
    // a freshly-incremented tip references ancestors — not an anchor,
    // so vacuum refuses (safety over reclamation)
    assert(!Curation.isAnchor(spark, vr(2)))
    val wantDecision = Curation.decision(spark, vr(2)).collect().toSet
    val wantWinnow = Curation.winnowIndex(spark, vr(2)).collect().toSet
    Curation.vacuum(spark, chain, 1)
    assert(Curation.committedVersions(spark, chain) === Seq(0L, 1L, 2L))
    // crash-simulated partial compact: a generation no manifest
    // references, inside the RETAINED tip
    val orphan = new org.apache.hadoop.fs.Path(
      s"${Curation.exactPath(vr(2))}/cdata7/pb=0")
    val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(orphan)
    val out = fs.create(new org.apache.hadoop.fs.Path(orphan, "part-0.parquet"), true)
    try out.write(Array[Byte](9, 9)) finally out.close()
    // compact anchors the tip; the same vacuum then reclaims v0/v1
    // whole AND sweeps the orphan generation inside v2 (horizon
    // dropped: this single-writer test just created the orphan)
    Curation.compactTip(spark, chain)
    assert(Curation.isAnchor(spark, vr(2)))
    spark.conf.set("graft.vacuum.orphanMinAgeMs", "0")
    try Curation.vacuum(spark, chain, 1)
    finally spark.conf.unset("graft.vacuum.orphanMinAgeMs")
    assert(Curation.committedVersions(spark, chain) === Seq(2L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${Curation.exactPath(vr(2))}/cdata7")))
    assert(Curation.decision(spark, vr(2)).collect().toSet === wantDecision)
    assert(Curation.winnowIndex(spark, vr(2)).collect().toSet === wantWinnow)
    // kind-loss guard: a tip landed WITHOUT the winnow increment (the
    // crash-between-calls shape) must not anchor past the ancestors
    // holding the chain's only winnow state — vacuum keeps v2
    val extra = docs.where(col("doc_id") % 4 === 3)
      .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text"),
        col("source"), col("lang"), col("n_chars"))
    Curation.incrementState(spark, extra, vr(2), vr(3))
    Curation.compactTip(spark, chain)
    spark.conf.set("graft.vacuum.orphanMinAgeMs", "0")
    try Curation.vacuum(spark, chain, 1)
    finally spark.conf.unset("graft.vacuum.orphanMinAgeMs")
    assert(Curation.committedVersions(spark, chain) === Seq(2L, 3L),
      "a winnow-less tip must not let vacuum delete the winnow-bearing ancestor")
    assert(Curation.winnowIndex(spark, vr(2)).collect().toSet === wantWinnow)
    // a version missing a state table's manifest (an earlier layout or
    // a torn landing) is not an anchor, never an error: vacuum scans
    // every retained version through the anchor rule and must refuse
    // toward the next rebuild instead of crashing the scan
    fs.delete(new org.apache.hadoop.fs.Path(s"${Curation.winnowPath(vr(2))}/_parts"), false)
    assert(Curation.committedVersions(spark, chain) === Seq(2L, 3L))
    assert(!Curation.isAnchor(spark, vr(2)))
    Curation.vacuum(spark, chain, 1)
    assert(Curation.committedVersions(spark, chain) === Seq(2L, 3L))
  }

  test("version-chain vacuum reclaims only below the newest retained anchor") {
    // the retention rule on the winnow-only release chain: vacuum keeps
    // the newest keepLast versions plus everything down to the newest
    // anchor at or below the oldest kept one, because the kept
    // increments read that anchor's buckets through their manifests
    import graft.pipelines.Curation
    val docs = Tables.documents(spark, sf)
    def part(i: Int) = docs.where(col("doc_id") % 6 === i)
    val chain = Files.createTempDirectory("graft_vac_anchor").toString
    def vr(b: Int) = s"$chain/v$b"
    Curation.buildWinnowIndex(spark, part(0), vr(0))
    Curation.incrementWinnowIndex(spark, part(1), vr(0), vr(1))
    Curation.compactTip(spark, chain)
    for (i <- 2 to 3) Curation.incrementWinnowIndex(spark, part(i), vr(i - 1), vr(i))
    assert((0 to 3).map(b => Curation.isAnchor(spark, vr(b))) ===
      Seq(true, true, false, false))
    // keep 2 -> the oldest kept v2 is no anchor; the newest anchor at
    // or below it is v1, so only v0 is reclaimed
    Curation.vacuum(spark, chain, 2)
    assert(Curation.committedVersions(spark, chain) === Seq(1L, 2L, 3L))
    // the kept tip still resolves, equal to a one-shot build over
    // everything it absorbed
    val ref = Files.createTempDirectory("graft_vac_anchor_ref").toString
    Curation.buildWinnowIndex(spark, docs.where(col("doc_id") % 6 < 4), ref)
    val got = Curation.winnowIndex(spark, vr(3))
    val want = Curation.winnowIndex(spark, ref)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // grow with increments only: a kept window of increments must NOT
    // reclaim the anchor they resolve through (safety wins)
    for (i <- 4 to 5) Curation.incrementWinnowIndex(spark, part(i), vr(i - 1), vr(i))
    Curation.vacuum(spark, chain, 2)
    assert(Curation.committedVersions(spark, chain) === Seq(1L, 2L, 3L, 4L, 5L))
    assert(Curation.winnowIndex(spark, vr(5)).count() > want.count())
  }

  test("vacuum sweeps crashed-compact orphans inside retained versions") {
    import graft.pipelines.Curation
    import graft.io.BucketedTable
    val docs = Tables.documents(spark, sf)
    val chain = Files.createTempDirectory("graft_sweep_chain").toString
    def vr(b: Int) = s"$chain/v$b"
    // a one-doc increment touches few of the 64 buckets, so the tip
    // has free local bucket slots
    Curation.buildWinnowIndex(spark, docs.where(col("doc_id") < 499), vr(0))
    Curation.incrementWinnowIndex(spark, docs.where(col("doc_id") === 499), vr(0), vr(1))
    val tip = Curation.winnowPath(vr(1))
    val fs = new org.apache.hadoop.fs.Path(chain)
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
    // foreign append attempt left outside the expected set
    val orphanGen = mkOrphan(s"$tip/cdata1/pb=0")
    mkOrphan(s"$tip/cdata1/pb=1")
    // a stale LOCAL bucket must go into a pb slot the manifest does
    // not reference (writing into a live dir would corrupt the table,
    // which is not the crash mode the expected-set filter leaves)
    val usedLocal = BucketedTable.referencedDirs(spark, tip)
      .filter(_.contains(s"$tip/data/pb=")).map(_.split("/data/pb=").last.toInt)
    val freePb = (0 until 64).find(k => !usedLocal.contains(k)).get
    val orphanStale = mkOrphan(s"$tip/data/pb=$freePb")
    assert(!BucketedTable.referencedDirs(spark, tip).exists(_.endsWith("/cdata1/pb=0")))
    val before = Curation.winnowIndex(spark, vr(1)).collect().toSet
    val liveDirs = (0 to 1).flatMap(b => Curation.referencedDirs(spark, vr(b))).toSet
    // under the DEFAULT horizon the freshly-written dirs look like a
    // concurrent writer's in-flight write — the fence must keep the
    // sweep's hands off them
    Curation.vacuum(spark, chain, 2)
    assert(fs.exists(orphanGen) && fs.exists(orphanStale),
      "young orphans must survive the default concurrent-maintenance horizon")
    // this single-writer test just created them, so drop the horizon
    spark.conf.set("graft.vacuum.orphanMinAgeMs", "0")
    try Curation.vacuum(spark, chain, 2)
    finally spark.conf.unset("graft.vacuum.orphanMinAgeMs")
    // both retained versions survive; orphans are gone, the emptied
    // cdata1 generation slot is freed whole
    assert(Curation.committedVersions(spark, chain) === Seq(0L, 1L))
    assert(!fs.exists(orphanGen))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tip/cdata1")))
    assert(!fs.exists(orphanStale))
    // every referenced directory is untouched and reads are identical
    liveDirs.foreach(d => assert(fs.exists(new org.apache.hadoop.fs.Path(d))))
    assert(Curation.winnowIndex(spark, vr(1)).collect().toSet === before)
    // a later real compact reuses the swept cdata1 slot and anchors
    Curation.compactTip(spark, chain)
    assert(Curation.isAnchor(spark, vr(1)))
    assert(Curation.winnowIndex(spark, vr(1)).collect().toSet === before)
  }

  test("orphan sweep refuses on object-store schemes without the explicit opt-in") {
    // the round-15 ADVICE medium: the sweep's fences (dir mtimes,
    // _temporary staging) are rename-FS semantics — on an object
    // store it must refuse, not delete a live compact's generation.
    // RawLocalFileSystem impersonates the s3a scheme so the refusal
    // is pinned without a real object store.
    import graft.io.BucketedTable
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[FakeS3LocalFs].getName)
    val dir = Files.createTempDirectory("graft_s3sweep").toString
    val path = s"s3a://$dir" // RawLocal maps the path part to local disk
    import spark.implicits._
    BucketedTable.write(
      Seq((1L, 0), (2L, 1)).toDF("k", "pb"), path, "test/1")
    // a crashed-compact orphan generation next to the live data
    val orphan = new org.apache.hadoop.fs.Path(s"$path/cdata1/pb=0")
    val fs = orphan.getFileSystem(hc)
    fs.mkdirs(orphan)
    val live = BucketedTable.referencedDirs(spark, path)
    spark.conf.set("graft.vacuum.orphanMinAgeMs", "0")
    try {
      // default: REFUSE (deletes nothing) — and the refusal must be
      // OBSERVABLE, not an empty result indistinguishable from
      // "nothing to sweep": the outcome names the refusing scheme and
      // the one-per-root WARN registry records the signal fired
      val outcome = BucketedTable.sweepOrphansOutcome(spark, path, live)
      assert(outcome.refused && outcome.refusedScheme === Some("s3a"))
      assert(outcome.swept.isEmpty)
      assert(BucketedTable.warnedRefusals.contains(path),
        "refusal did not register the one-time WARN for this root")
      // the Seq-facing entry point refuses identically
      assert(BucketedTable.sweepOrphans(spark, path, live).isEmpty)
      assert(fs.exists(orphan))
      // explicit opt-in: the sweep runs and reclaims the orphan
      spark.conf.set("graft.vacuum.objectStoreSweep", "true")
      try assert(BucketedTable.sweepOrphans(spark, path, live).nonEmpty)
      finally spark.conf.unset("graft.vacuum.objectStoreSweep")
      assert(!fs.exists(orphan))
      // the rename-FS path is unaffected by the gate (local scheme)
      assert(BucketedTable.referencedDirs(spark, path) === live)
    } finally spark.conf.unset("graft.vacuum.orphanMinAgeMs")
  }

  test("increment-only chain self-compacts past the version threshold, then reclaims") {
    // an operator who only ever increments never lands an anchor, so
    // vacuum alone refuses forever and versions accumulate without
    // bound. The VersionChain trigger (graft.chain.autoCompactVersions)
    // must compact the tip inside vacuum once the anchorless run is
    // long enough: no explicit compactTip call anywhere in this test.
    import graft.pipelines.Curation
    import org.apache.spark.sql.{DataFrame, Row}
    val docs = Tables.documents(spark, sf)
    // id-range slices: v0 holds ids below 300, increment i the next
    // 50, so release ids stay monotone (no curation keeper demotion)
    def slice(i: Int): DataFrame =
      if (i == 0) docs.where(col("doc_id") < 300)
      else docs.where(col("doc_id") >= 250 + 50 * i && col("doc_id") < 300 + 50 * i)
    def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    def increment(i: Int, p: String, n: String): Unit = {
      Curation.incrementState(spark, slice(i), p, n)
      Curation.incrementWinnowIndex(spark, slice(i), p, n)
    }
    def rows(vr: String): Seq[Row] =
      sorted(Curation.decision(spark, vr)) ++ sorted(Curation.winnowIndex(spark, vr))
    val chain = Files.createTempDirectory("graft_auto_curation").toString
    def vr(b: Int) = s"$chain/v$b"
    Curation.buildStateExactFirst(spark, slice(0), vr(0))
    Curation.buildWinnowIndex(spark, slice(0), vr(0))
    for (i <- 1 to 3) increment(i, vr(i - 1), vr(i))
    val want = rows(vr(3))
    // below the threshold: vacuum refuses (v0 is the build anchor but
    // the kept window holds only the anchorless tip) and does NOT
    // auto-compact — 3 versions since the v0 anchor < threshold 4
    spark.conf.set("graft.chain.autoCompactVersions", "4")
    spark.conf.set("graft.vacuum.orphanMinAgeMs", "0")
    try {
      Curation.vacuum(spark, chain, 1)
      assert(Curation.committedVersions(spark, chain) === Seq(0L, 1L, 2L, 3L))
      assert(!Curation.isAnchor(spark, vr(3)))
      // one more increment crosses the threshold: the SAME vacuum call
      // self-compacts the tip, then reclaims everything below it
      increment(4, vr(3), vr(4))
      val want4 = rows(vr(4))
      Curation.vacuum(spark, chain, 1)
      assert(Curation.committedVersions(spark, chain) === Seq(4L))
      assert(Curation.isAnchor(spark, vr(4)))
      assert(rows(vr(4)) === want4)
    } finally {
      spark.conf.unset("graft.chain.autoCompactVersions")
      spark.conf.unset("graft.vacuum.orphanMinAgeMs")
    }
    assert(want.nonEmpty) // the pre-reclaim reference really had rows
  }

  test("incremental dedup: bucket-cap eviction by lower-id delta docs is exact") {
    // 70 identical vN docs share every band bucket; MaxBucket = 64
    // caps membership to the lowest 64 ids (100..163 — ids 164..169
    // never enter the vN decision). A 10-doc delta with LOWER ids must
    // evict the 10 highest capped vN members (154..163), DELETING
    // their decision rows — the hard case where an increment removes
    // rows, not just merges new ones.
    val text = "the same exact boilerplate sentence repeated for every document in this bucket"
    val vN = spark.range(100, 170)
      .select(col("id").as("doc_id"), lit(text).as("text"))
    val delta = spark.range(0, 10)
      .select(col("id").as("doc_id"), lit(text).as("text"))
    val rootA = Files.createTempDirectory("graft_evict_vn").toString
    val rootB = Files.createTempDirectory("graft_evict_vn1").toString
    val rootFull = Files.createTempDirectory("graft_evict_full").toString
    graft.pipelines.Curation.buildState(spark, vN, rootA)
    graft.pipelines.Curation.incrementState(spark, delta, rootA, rootB)
    graft.pipelines.Curation.buildState(spark, vN.union(delta), rootFull)
    val incr = spark.read.parquet(graft.pipelines.Curation.clustersPath(rootB))
    val full = spark.read.parquet(graft.pipelines.Curation.clustersPath(rootFull))
    assert(incr.exceptAll(full).count() === 0)
    assert(full.exceptAll(incr).count() === 0)
    // the eviction really happened: vN and vN+1 both hold 64 capped
    // rows, but vN+1 is rooted at the delta's min id and ids 154..163
    // (present at vN) are gone
    assert(spark.read.parquet(graft.pipelines.Curation.clustersPath(rootA)).count() === 64)
    assert(incr.count() === 64)
    assert(incr.agg(min(col("cluster_id"))).first().getLong(0) === 0L)
    assert(incr.where(col("doc_id") >= 154).count() === 0)
  }

  test("corpus release: partitioned, pruned, manifest-consistent, idempotent") {
    val root = Files.createTempDirectory("graft_release").toString
    graft.pipelines.Curation.run(spark, sf, root)
    graft.pipelines.Curation.release(spark, sf, root)
    val rel = spark.read.parquet(s"$root/corpus_release")
    // release = exactly the kept docs
    val kept = spark.read.parquet(s"$root/curation_decision")
      .where(col("kept")).select("doc_id")
    assert(rel.select("doc_id").exceptAll(kept).count() === 0)
    assert(kept.exceptAll(rel.select("doc_id")).count() === 0)
    // partition pruning: a train/en slice reads ONLY its partition dirs
    val sliced = rel.where(col("split") === "train" && col("lang") === "en")
    assert(sliced.count() > 0)
    // execution-real pruning check: the files actually read (not the
    // relation's full index) are all under the selected partition
    val filesRead = sliced.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(filesRead.nonEmpty && filesRead.forall(f =>
      f.contains("split=train") && f.contains("lang=en")),
      "slice scan must touch only the pruned partition")
    // manifest agrees with a recount off the released data
    val manifest = spark.read.parquet(s"$root/release_manifest")
    val recount = rel.groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(expr("cast(conv(substring(md5(text), 1, 14), 16, 10) as decimal(38,0))"))
          .as("checksum"))
    assert(manifest.exceptAll(recount).count() === 0)
    assert(recount.exceptAll(manifest).count() === 0)
    // independent oracle for the checksum: recompute one partition's
    // sum driver-side with arbitrary-precision BigInt over JDK md5 —
    // catches an engine-side overflow the mirrored SQL expression
    // cannot (it would overflow identically on both sides)
    val md = java.security.MessageDigest.getInstance("MD5")
    val trainEn = rel.where(col("split") === "train" && col("lang") === "en")
      .select("text").collect().map(_.getString(0))
    val expected = trainEn.map { t =>
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      BigInt(hex.substring(0, 14), 16)
    }.sum
    val got = manifest.where(col("split") === "train" && col("lang") === "en")
      .select("checksum").collect()(0).getDecimal(0)
    assert(BigInt(got.toBigInteger) === expected)
    // a near-dup cluster never straddles the release boundary either
    val straddle = rel.join(
        spark.read.parquet(s"$root/dedup_clusters").select("doc_id", "cluster_id"),
        Seq("doc_id"), "left")
      .groupBy(coalesce(col("cluster_id"), col("doc_id")))
      .agg(countDistinct(col("split")).as("n"))
      .where(col("n") > 1)
    assert(straddle.count() === 0)
    // idempotent re-release: same rows (snapshot the first release
    // driver-side BEFORE overwriting — the overwrite invalidates the
    // old DataFrame's file listing)
    val before = rel.collect().map(_.toSeq).toSet
    graft.pipelines.Curation.release(spark, sf, root)
    val after = spark.read.parquet(s"$root/corpus_release")
      .collect().map(_.toSeq).toSet
    assert(after === before)
  }

  test("training release: budgeted, sharded, manifest-consistent, idempotent") {
    val root = Files.createTempDirectory("graft_trelease").toString
    graft.pipelines.Curation.run(spark, sf, root)
    graft.pipelines.Curation.trainingRelease(spark, sf, root)
    val rel = spark.read.parquet(s"$root/training_release")
    val kept = Tables.documents(spark, sf).join(
      spark.read.parquet(s"$root/curation_decision")
        .where(col("kept")).select("doc_id"), "doc_id")
    // the budget holds per source: released token mass never exceeds
    // the water-filled allocation of the KEPT corpus, and the total
    // stays within the 25% budget
    val allocs = graft.ops.Text.waterfill(
      kept.select(col("source"),
          size(split(col("text"), " ")).cast("bigint").as("t"))
        .groupBy("source").agg(sum(col("t")).as("mass")))
    val relMass = rel.groupBy("source").agg(sum(col("n_toks")).as("rm"))
    assert(relMass.join(allocs, "source")
      .where(col("rm") > col("alloc")).count() === 0)
    val keptMass = allocs.agg(sum(col("mass"))).first().getLong(0)
    val totRel = rel.agg(sum(col("n_toks"))).first().getLong(0)
    assert(totRel <= keptMass / 4)
    assert(totRel > 0)
    // shard layout: pos contiguous 1..n per shard
    val per = rel.groupBy("shard").agg(count(lit(1)).as("n"),
      max(col("pos")).as("mx"), min(col("pos")).as("mn"))
    assert(per.where(col("mx") =!= col("n") || col("mn") =!= 1L).count() === 0)
    // manifest reconciles with a recount off the landed data
    val manifest = spark.read.parquet(s"$root/training_manifest")
    val recount = rel.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"),
        sum(expr("cast(conv(substring(md5(text), 1, 14), 16, 10) as decimal(38,0))"))
          .as("checksum"))
    assert(manifest.exceptAll(recount).count() === 0)
    assert(recount.exceptAll(manifest).count() === 0)
    // partition pruning: one shard's scan touches only its directory
    // the partition column reads back as INT (directory-name
    // inference), not the writer's BIGINT
    val s0 = rel.select("shard").first().get(0).toString.toLong
    val files = rel.where(col("shard") === s0)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains(s"shard=$s0")))
    // idempotent re-release
    val before = rel.collect().map(_.toSeq).toSet
    graft.pipelines.Curation.trainingRelease(spark, sf, root)
    val after = spark.read.parquet(s"$root/training_release")
      .collect().map(_.toSeq).toSet
    assert(after === before)
  }

  test("release diff classifies added/removed/changed/unchanged per source") {
    import spark.implicits._
    val prior = Seq(
      (1L, "alpha text", "s1", 10L),   // unchanged
      (2L, "beta text", "s1", 9L),     // changed in vN+1
      (3L, "gamma text", "s2", 10L)    // removed in vN+1
    ).toDF("doc_id", "text", "source", "n_chars")
    val next = Seq(
      (1L, "alpha text", "s1", 10L),
      (2L, "beta text v2", "s1", 12L),
      (4L, "delta text", "s2", 10L)    // added
    ).toDF("doc_id", "text", "source", "n_chars")
    val d = graft.pipelines.Curation.releaseDiff(spark, prior, next)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(d("s1") === ((0L, 0L, 1L, 1L, 3L)))  // changed doc 2: +3 chars
    assert(d("s2") === ((1L, 1L, 0L, 0L, 0L)))  // doc 3 out (-10), doc 4 in (+10)
    // self-diff is all-unchanged, zero delta
    val self = graft.pipelines.Curation.releaseDiff(spark, prior, prior).collect()
    assert(self.forall(r => r.getLong(1) == 0 && r.getLong(2) == 0 &&
      r.getLong(3) == 0 && r.getLong(5) == 0))
  }

  test("bucketed tables refuse pruned reads and splices under a foreign bucket scheme") {
    // the pb column is a derived function of the row, not stored
    // data: pruning a table written under one key function with
    // another's bucket ids would silently drop rows, so the manifest
    // stamps the scheme and mismatches refuse toward a rebuild
    import graft.io.BucketedTable
    import spark.implicits._
    val root = Files.createTempDirectory("graft_scheme").toString
    val df = (0L until 100L).map(i => (i, i % 64)).toDF("id", "pb")
      .withColumn("pb", col("pb").cast("int"))
    BucketedTable.write(df, s"$root/t", "hashA/6")
    assert(BucketedTable.read(spark, s"$root/t", "id BIGINT").count() === 100)
    val e1 = intercept[IllegalArgumentException] {
      BucketedTable.readParts(spark, s"$root/t", "id BIGINT", Set(0, 1), "hashB/6")
    }
    assert(e1.getMessage.contains("bucket scheme"))
    val e2 = intercept[IllegalArgumentException] {
      BucketedTable.writeAppended(spark, df.limit(5), s"$root/t", s"$root/t2", "hashB/6")
    }
    assert(e2.getMessage.contains("bucket scheme"))
    val e3 = intercept[IllegalArgumentException] {
      BucketedTable.writeSpliced(spark, df.limit(5), Set(0), s"$root/t", s"$root/t3", "hashB/6")
    }
    assert(e3.getMessage.contains("bucket scheme"))
    // matching scheme: a splice lands only the touched buckets and
    // carries every other bucket by reference; a pruned read opens
    // only the named buckets
    val touched = df.where(col("pb") === 0).withColumn("id", col("id") + 1000L)
    BucketedTable.writeSpliced(spark, touched, Set(0), s"$root/t", s"$root/t5", "hashA/6")
    val (prior, spliced) = (BucketedTable.parts(spark, s"$root/t"),
      BucketedTable.parts(spark, s"$root/t5"))
    assert(spliced - 0 === prior - 0)
    assert(spliced(0).forall(_.contains(s"$root/t5/")))
    assert(BucketedTable.readParts(spark, s"$root/t5", "id BIGINT", Set(0), "hashA/6")
      .as[Long].collect().toSet === Set(1000L, 1064L))
    assert(BucketedTable.read(spark, s"$root/t5", "id BIGINT").as[Long].collect().toSet ===
      ((0L until 100L).filter(_ % 64 != 0) ++ Seq(1000L, 1064L)).toSet)
    // matching scheme passes — and compact on a multi-dir appended
    // chain returns every bucket to one directory with rows intact
    BucketedTable.writeAppended(spark,
      (100L until 150L).map(i => (i, i % 64)).toDF("id", "pb")
        .withColumn("pb", col("pb").cast("int")),
      s"$root/t", s"$root/t2", "hashA/6")
    assert(BucketedTable.maxDirsPerBucket(spark, s"$root/t2") === 2)
    assert(!BucketedTable.isSelfContained(spark, s"$root/t2", s"$root/t2"))
    BucketedTable.compact(spark, s"$root/t2", "id BIGINT", "hashA/6")
    assert(BucketedTable.maxDirsPerBucket(spark, s"$root/t2") === 1)
    assert(BucketedTable.isSelfContained(spark, s"$root/t2", s"$root/t2"))
    val got = BucketedTable.read(spark, s"$root/t2", "id BIGINT")
    assert(got.count() === 150)
    assert(got.select("id").exceptAll((0L until 150L).toDF("id")).count() === 0)
    // a SECOND compact after further appends rewrites only the buckets
    // the new delta touched — buckets already settled in an earlier
    // compaction generation carry by reference, not by rewrite
    val settledBefore = BucketedTable.parts(spark, s"$root/t2")
    BucketedTable.writeAppended(spark,
      Seq((150L, 0), (151L, 1)).toDF("id", "pb").withColumn("pb", col("pb").cast("int")),
      s"$root/t2", s"$root/t4", "hashA/6")
    BucketedTable.compact(spark, s"$root/t4", "id BIGINT", "hashA/6")
    assert(BucketedTable.maxDirsPerBucket(spark, s"$root/t4") === 1)
    assert(BucketedTable.isSelfContained(spark, s"$root/t4", s"$root/t4"))
    val after = BucketedTable.parts(spark, s"$root/t4")
    // t4's untouched buckets referenced t2's dirs (not under t4), so
    // anchorifying t4 rewrites them; skipping settled buckets applies
    // only to a version's OWN earlier compaction generations:
    BucketedTable.compact(spark, s"$root/t2", "id BIGINT", "hashA/6")
    val settledAfter = BucketedTable.parts(spark, s"$root/t2")
    assert(settledAfter === settledBefore,
      "re-compacting an already-compacted table must be a no-op")
    assert(after.values.forall(_.size === 1))
    assert(BucketedTable.read(spark, s"$root/t4", "id BIGINT").count() === 152)
  }

  test("csv interchange round-trips with declared schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    Writers.writeCsv(df, dir)
    val back = Writers.readCsv(spark, dir, "id BIGINT, s STRING, v DOUBLE")
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ===
      Seq(Seq(1L, "a", 1.5), Seq(2L, "b", 2.5)))
  }

  test("incremental winnow index: vN + delta is row-identical to full rebuild") {
    import graft.pipelines.Curation
    val docs = Tables.documents(spark, sf)
    val vN = docs.where(col("doc_id") % 10 =!= 7)
    val delta = docs.where(col("doc_id") % 10 === 7)
    val rootA = Files.createTempDirectory("graft_winnow_vn").toString
    val rootB = Files.createTempDirectory("graft_winnow_vn1").toString
    val rootFull = Files.createTempDirectory("graft_winnow_full").toString
    Curation.buildWinnowIndex(spark, vN, rootA)
    Curation.incrementWinnowIndex(spark, delta, rootA, rootB)
    Curation.buildWinnowIndex(spark, vN.union(delta), rootFull)
    val inc = Curation.winnowIndex(spark, rootB)
    val full = Curation.winnowIndex(spark, rootFull)
    assert(inc.exceptAll(full).count() === 0)
    assert(full.exceptAll(inc).count() === 0)
    // non-vacuous: the delta actually contributed fingerprints
    assert(inc.join(delta.select("doc_id"), "doc_id").count() > 0)
    // the increment landed ONLY the delta's rows — every prior bucket
    // is a manifest reference into the vN version, zero prior-table I/O
    assert(!graft.io.BucketedTable.isSelfContained(
      spark, Curation.winnowPath(rootB), Curation.winnowPath(rootB)))
  }

  test("jsonl corpus drop round-trips partitioned+gzipped and prunes on source") {
    val dir = Files.createTempDirectory("graft_jsonl").toString
    val docs = Tables.documents(spark, sf)
    Writers.writeJsonl(docs, dir, "source")
    // layout: source=<s>/part-*.json.gz
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("source="))
    assert(parts.nonEmpty)
    assert(parts.flatMap(_.listFiles()).exists(_.getName.endsWith(".json.gz")))
    val back = Writers.readJsonl(spark, dir,
      "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT")
    assert(back.count() === docs.count())
    // text content survives the trip exactly (JSON escaping round-trips)
    val origSum = docs.agg(sum(length(col("text")))).first().getLong(0)
    assert(back.agg(sum(length(col("text")))).first().getLong(0) === origSum)
    // the partition column comes back from the directory name, and a
    // source predicate prunes to that directory's files at plan time
    val one = docs.select("source").distinct().orderBy("source").first().getString(0)
    val pruned = back.where(col("source") === one)
    assert(pruned.count() === docs.where(col("source") === one).count())
    val scanned = pruned.queryExecution.executedPlan.toString
    assert(scanned.contains("PartitionFilters: [isnotnull(source"))
  }
}
