package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pluggable source seam for the reference's network inputs
  * (SURVEY.md §2.1 S13-S16): web3 contract reads, etherscan lookups,
  * and the date→block calendar. The engine only ever sees a DataFrame
  * of daily on-chain observations; production impls wrap RPC
  * endpoints behind `mapPartitions` (bounded-concurrency batch calls
  * per partition), tests inject deterministic fixtures. The
  * reference's backoff and ABI-cache behavior (S14/S15) belong to
  * such an implementation's client, not to the engine.
  *
  * Schema: date, block, liquidity_rate (RAY-scaled), liquidity_index,
  * emission_per_second (wei), atoken_supply, plus whatever a strategy
  * needs.
  */
trait ChainSource {
  def observations(spark: SparkSession): DataFrame
}

/** Deterministic synthetic chain — fixture used by tests and demos.
  * Values follow simple closed forms of the day index so goldens are
  * computable by hand. */
final class FixtureChainSource(start: String, days: Int) extends ChainSource {
  override def observations(spark: SparkSession): DataFrame =
    spark.sql(
      s"""SELECT
         |  date_add(to_date('$start'), i) AS date,
         |  CAST(10000000 + i * 7000 AS BIGINT) AS block,
         |  (0.02 + 0.0001 * i) * 1e27 AS liquidity_rate,
         |  1.0 + 0.0001 * i AS liquidity_index,
         |  CAST(1e15 AS DOUBLE) AS emission_per_second,
         |  1000000.0 + 1000.0 * i AS atoken_supply
         |FROM (SELECT explode(sequence(0, ${days - 1})) AS i)""".stripMargin)
}
