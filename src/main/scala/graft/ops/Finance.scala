package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Schemas
import graft.sources.ChainSource

/** The reference's extract-side financial math and pipeline shape
  * (`defimap_pipeline/aave_extract.py`), re-expressed as pure Catalyst
  * column expressions over a set-oriented calendar — no per-row driver
  * loop (the reference iterates `df.iterrows()` with 3-4 RPC calls per
  * day; here the chain data arrives as a DataFrame from a pluggable
  * `ChainSource` and every formula is a vectorized expression).
  *
  * Preserved reference semantics (SURVEY.md §8.2-8.3):
  *  - `stake_apy` compounds per-second APR then scales by 100
  *    (`aave_extract.py:328-342`);
  *  - `aave_apy` scales by 100 *before* compounding and is not
  *    re-scaled (`aave_extract.py:401-431`) — the two APYs really are
  *    on inconsistent scales before being summed;
  *  - `total_apy` rounds a sum of already-rounded addends
  *    (`aave_extract.py:482-487`);
  *  - rounding is half-even (`bround`) to match Python's banker's
  *    rounding (SURVEY.md F10).
  */
object Finance {

  val RaySeconds: Double = 31536000.0 // seconds per year, aave_extract.py:36
  val Ray: Double = 1e27              // aave RAY fixed-point, aave_extract.py:34

  /** APR (RAY-scaled per-second rate) → APY%, compounding first:
    * `100*((1+apr/RAY/spy)^spy - 1)` (`aave_extract.py:336-342`). */
  def stakeApy(liquidityRateRay: Column): Column =
    bround(pow(lit(1.0) + liquidityRateRay / Ray / RaySeconds, RaySeconds) - lit(1.0), 5) * 100

  /** Incentive APY: emission valued in AAVE over the supplied value,
    * %-scaled before compounding (`aave_extract.py:415-431`). */
  def aaveApy(emissionPerSecond: Column, aavePrice: Column,
              atokenSupply: Column, assetPrice: Column): Column = {
    val apr = emissionPerSecond / lit(1e18) * RaySeconds * aavePrice * lit(100.0) /
      (atokenSupply * assetPrice)
    bround(pow(lit(1.0) + apr / RaySeconds, RaySeconds) - lit(1.0), 3)
  }

  /** Sum of (already rounded) component APYs, re-rounded, null→0
    * (`aave_extract.py:482-487`). */
  def totalApy(stake: Column, aave: Column): Column =
    bround(coalesce(stake, lit(0.0)) + coalesce(aave, lit(0.0)), 3)

  /** The extract pipeline: daily calendar × chain observations × price
    * join → raw_supply rows (reference `extract_and_upload_to_gcs`,
    * `aave_extract.py:521-669`, minus the network: `ChainSource`
    * supplies the on-chain frames, prices arrive as DataFrames).
    *
    * The incentive gate (P8): `aave_apy` only inside
    * (incentivesStart, incentivesEnd), else 0 (`aave_extract.py:617-630`).
    */
  def extractRawSupply(
      spark: SparkSession,
      name: String,
      chain: ChainSource,
      assetPrice: DataFrame,  // (date, price)
      aavePrice: DataFrame,   // (date, price)
      start: String, end: String,
      incentivesStart: String, incentivesEnd: String): DataFrame = {
    val calendar = spark.sql(
      s"SELECT explode(sequence(to_date('$start'), to_date('$end'))) AS date")
    val observed = chain.observations(spark)
    val raw = calendar
      .join(observed, Seq("date"), "left")
      .join(broadcast(assetPrice.select(col("date"), col("price").as("asset_price"))), Seq("date"), "left")
      .join(broadcast(aavePrice.select(col("date"), col("price").as("aave_price"))), Seq("date"), "left")
      .withColumn("name", lit(name))
      .withColumn("stake_apy", stakeApy(col("liquidity_rate")))
      .withColumn("aave_apy",
        when(col("date") > lit(incentivesStart) && col("date") < lit(incentivesEnd),
          aaveApy(col("emission_per_second"), col("aave_price"),
            col("atoken_supply"), col("asset_price")))
          .otherwise(lit(0.0)))
      .withColumn("total_apy", totalApy(col("stake_apy"), col("aave_apy")))
      // declared-schema boundary: the raw_supply table is all FLOAT64
      // — adapters may hand over decimals, so cast here and check the
      // result against Schemas.rawSupply (analysis only, no job)
      .select(Seq(col("date"), col("name")) ++
        Seq("stake_apy", "aave_apy", "total_apy", "liquidity_index",
          "atoken_supply", "asset_price", "aave_price")
          .map(c => col(c).cast("double").as(c)): _*)
      .orderBy("date")
    Schemas.enforce(raw, Schemas.rawSupply)
  }

  /** Raw-zone load step (reference `load_to_bq`, `aave_extract.py:679-730`):
    * fill-zero columns + forward linear interpolation of the rest over
    * the date order, per strategy name. */
  def fillAndInterpolate(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val filled = raw.na.fill(0.0, Seq("aave_apy", "liquidity_index"))
    val interpCols = Seq("stake_apy", "total_apy", "atoken_supply", "asset_price", "aave_price")
    val byName = Window.partitionBy("name").orderBy("date")
    val before = byName.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after  = byName.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rn = row_number().over(byName)
    val withRn = filled.withColumn("rn", rn)
    interpCols.foldLeft(withRn) { (df, c) =>
      df
        .withColumn(s"${c}_pv", last(col(c), ignoreNulls = true).over(before))
        .withColumn(s"${c}_pr", last(when(col(c).isNotNull, col("rn")), ignoreNulls = true).over(before))
        .withColumn(s"${c}_nv", first(col(c), ignoreNulls = true).over(after))
        .withColumn(s"${c}_nr", first(when(col(c).isNotNull, col("rn")), ignoreNulls = true).over(after))
        .withColumn(c,
          when(col(c).isNotNull, col(c))
            .when(col(s"${c}_pv").isNull, lit(null))
            .when(col(s"${c}_nv").isNull, col(s"${c}_pv"))
            .otherwise(col(s"${c}_pv") + (col(s"${c}_nv") - col(s"${c}_pv")) *
              (col("rn") - col(s"${c}_pr")).cast("double") /
              (col(s"${c}_nr") - col(s"${c}_pr")).cast("double")))
        .drop(s"${c}_pv", s"${c}_pr", s"${c}_nv", s"${c}_nr")
    }.drop("rn")
  }
}
