package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._

/** Tier-invariance pins for the graph family's dual implementations
  * (`Similarity.pagerankFrom` / `labelPropFrom`): the same graph run
  * through the driver tier (default `graft.graph.collectEdgesMax`)
  * and the distributed loop tier (`collectEdgesMax=-1`, the
  * `DedupSpec.forceLoopTier` pattern) must produce identical output —
  * bit-identical for label propagation (integer voting), and
  * identical at the 6-dp rounding contract for pagerank (the
  * distributed sum's aggregation order is nondeterministic below
  * that). Also pins the off-spine edge semantics both tiers share,
  * and the kNN index memo the whole family reads. */
class SimilarityTierSpec extends SparkSpec {
  import spark.implicits._

  /** -1 (not 0) so even an empty edge list routes to the loop. */
  private def forceLoopTier[A](body: => A): A = {
    spark.conf.set("graft.graph.collectEdgesMax", "-1")
    try body finally spark.conf.unset("graft.graph.collectEdgesMax")
  }

  /** The real sf0.001 kNN graph — the same edges the sim_* queries
    * run on — plus its node spine. */
  private def realGraph(): (DataFrame, DataFrame) = {
    val g = Similarity.knnGraphShared(spark, sf)
      .select(col("vec_id"), col("nbr_id")).persist()
    g.count()
    val nodes = Tables.embeddings(spark, sf).select(col("vec_id")).persist()
    nodes.count()
    (g, nodes)
  }

  test("the kNN index is built once per corpus version and shared") {
    val first = Similarity.knnGraphShared(spark, sf).inputFiles.toSet
    assert(first.nonEmpty)
    assert(Similarity.knnGraphShared(spark, sf).inputFiles.toSet === first)
    // the same bytes in a new directory are a new key: its own build
    val copy = java.nio.file.Files.createTempDirectory("graft_knn_copy").toFile
    org.apache.commons.io.FileUtils.copyFileToDirectory(
      new java.io.File(sf, "embeddings.parquet"), copy)
    val other = Similarity.knnGraphShared(spark, copy.getPath)
    assert(other.inputFiles.toSet.intersect(first).isEmpty)
    assert(other.count() === Similarity.knnGraphShared(spark, sf).count())
  }

  private def rows(df: DataFrame): Seq[Row2] =
    df.collect().toSeq.map(r => Row2(r.getLong(0), r.get(1)))
  case class Row2(id: Long, v: Any)

  test("pagerank tiers agree on the real kNN graph (6-dp contract)") {
    val (g, nodes) = realGraph()
    val driver = rows(Similarity.pagerankFrom(spark, g, nodes))
    val dist = forceLoopTier(rows(Similarity.pagerankFrom(spark, g, nodes)))
    assert(driver.nonEmpty)
    assert(driver === dist)
  }

  test("label propagation tiers agree on the real kNN graph") {
    val (g, nodes) = realGraph()
    val driver = rows(Similarity.labelPropFrom(spark, g, nodes))
    val dist = forceLoopTier(rows(Similarity.labelPropFrom(spark, g, nodes)))
    assert(driver.nonEmpty)
    assert(driver === dist)
  }

  test("kcore tiers agree on the real kNN graph and a hand peel") {
    // real graph: the same edges sim_kcore runs on
    val driver = Similarity.kcore(spark, sf).collect().toSeq
    val dist = forceLoopTier(Similarity.kcore(spark, sf).collect().toSeq)
    assert(driver.nonEmpty)
    assert(driver === dist)
    // hand graph: a triangle with a 2-edge tail — the tail must peel
    // over two rounds in BOTH tiers (integer degrees, bit-identical)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val d1 = Similarity.kcoreFrom(spark, und).collect().toSeq
    val d2 = forceLoopTier(Similarity.kcoreFrom(spark, und).collect().toSeq)
    assert(d1 === d2)
    assert(d1.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("tiers agree on a hand graph with dangling and isolated nodes") {
    // 1→2→3→1 cycle, 4→1 (so 4 is dangling-in… has out-edge; 5 is
    // fully dangling/isolated: no edges at all)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("vec_id", "nbr_id")
    val nodes = (1L to 5L).toDF("vec_id")
    val d1 = rows(Similarity.pagerankFrom(spark, edges, nodes))
    val l1 = rows(Similarity.labelPropFrom(spark, edges, nodes))
    val (d2, l2) = forceLoopTier((
      rows(Similarity.pagerankFrom(spark, edges, nodes)),
      rows(Similarity.labelPropFrom(spark, edges, nodes))))
    assert(d1 === d2)
    assert(l1 === l2)
    assert(d1.map(_.id) === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("off-spine edge endpoints drop identically in both tiers") {
    // node 9 exists only in the edge list, not the spine: its edges
    // must neither NPE the driver tier nor contribute mass/votes
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 9L), (9L, 2L)).toDF("vec_id", "nbr_id")
    val nodes = (1L to 3L).toDF("vec_id")
    val d1 = rows(Similarity.pagerankFrom(spark, edges, nodes))
    val l1 = rows(Similarity.labelPropFrom(spark, edges, nodes))
    val (d2, l2) = forceLoopTier((
      rows(Similarity.pagerankFrom(spark, edges, nodes)),
      rows(Similarity.labelPropFrom(spark, edges, nodes))))
    assert(d1 === d2)
    assert(l1 === l2)
    assert(d1.map(_.id) === Seq(1L, 2L, 3L))
  }
}
