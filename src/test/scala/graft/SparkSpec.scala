package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup dominates test wall time otherwise). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The bounded single-series parity queries (one-row-per-day
    // inputs) legitimately run unpartitioned windows, and WindowExec
    // WARNs once per plan — hundreds of identical lines that drown
    // real warnings in the suite log. The warning's substance is not
    // lost: PlanAuditSpec ASSERTS the exact inventory of queries
    // allowed an unpartitioned window, so a new one fails the suite
    // instead of scrolling past in the flood.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterEach {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** Several ops persist() intermediates for intra-query fan-out and
    * rely on the runner to release them (the contract Verify and the
    * perfbench harness uphold); the shared test session needs the same hygiene or cached
    * RDDs accumulate monotonically across the suite. */
  override protected def afterEach(): Unit = {
    spark.catalog.clearCache()
    super.afterEach()
  }
}
