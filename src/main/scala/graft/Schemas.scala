package graft

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.types.StructType

/** Declared dataset schemas — the Spark analogue of the reference's
  * explicit `bigquery.SchemaField` lists (`aave_extract.py:45-55`,
  * `aave_transform.py:228-234,275-281,300-303,328-332,499-513`;
  * SURVEY.md §1.2). The reference never infers schemas on load and
  * neither does this engine: the extract checks its output against
  * [[rawSupply]] (`Finance.extractRawSupply`, the one boundary where
  * an upstream adapter's types enter), so a drifted upstream fails
  * the extract step instead of corrupting the raw zone (the
  * reference's load-job type-check, `aave_extract.py:717-723`). The
  * transform schemas are the output contract the transforms are
  * tested against (`PipelineSpec`).
  */
object Schemas {

  /** One row per (strategy, day) of raw on-chain observations. */
  case class RawSupplyRow(
      date: java.sql.Date, name: String,
      stake_apy: Double, aave_apy: Double, total_apy: Double,
      liquidity_index: Double, atoken_supply: Double,
      asset_price: Double, aave_price: Double)

  /** Growth-of-$10k output (`growth_of_10k`). */
  case class GotkRow(
      date: java.sql.Date, start_day_investment: Double,
      end_day_investment: Double, percent_change: Double)

  /** TVL output. */
  case class TvlRow(
      date: java.sql.Date, tvl: Double, change_tvl: Double, percent_change: Double)

  /** Trailing-period return output. */
  case class TrailingReturnRow(
      period: String, start_date: java.sql.Date, percent_change: Double)

  /** One-row-per-day risk table. */
  case class RiskRow(
      date: java.sql.Date, sd: Double, return_1y: Double, sharpe: Double,
      alpha: Double, beta: Double, r_square: Double, max_drawdown: Double,
      peak_date: java.sql.Date, valley_date: java.sql.Date, duration: Long)

  val rawSupply: StructType = Encoders.product[RawSupplyRow].schema
  val gotk: StructType = Encoders.product[GotkRow].schema
  val tvl: StructType = Encoders.product[TvlRow].schema
  val trailingReturn: StructType = Encoders.product[TrailingReturnRow].schema
  val risk: StructType = Encoders.product[RiskRow].schema

  /** Validate a frame against a declared schema (names + types in
    * order, nullability ignored — parquet round-trips relax it).
    * Returns the frame for chaining; throws on drift. */
  def enforce(df: DataFrame, declared: StructType): DataFrame = {
    val got = df.schema.fields.map(f => (f.name, f.dataType))
    val want = declared.fields.map(f => (f.name, f.dataType))
    require(got.sameElements(want),
      s"schema drift: got ${got.mkString(",")} want ${want.mkString(",")}")
    df
  }
}
