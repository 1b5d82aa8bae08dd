package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipelines.AnnIndex

/** Streaming ANN-INDEX maintenance — the `IndexStreams` discipline
  * applied to the cell-bucketed IVF state + kNN graph chain
  * (`pipelines.AnnIndex`): each micro-batch of newly arrived
  * embedding rows lands one complete, immutable index version under
  * `root/v<batchId>` — the first batch as a full build, every later
  * one as the label-grain delta increment.
  *
  * CRASH-REPLAY CONTRACT (identical to `IndexStreams`): a batch whose
  * OWN version is already committed no-ops — the landed version is
  * authoritative (a replay can arrive AFTER a vacuum retired the
  * prior the original derivation used, so re-derivation is not even
  * well-defined, and re-landing would tear a committed version if the
  * replay crashed mid-overwrite). Otherwise the batch's prior state
  * is the newest COMMITTED version numbered BELOW its own batchId,
  * never a mutable pointer — a replayed TORN attempt re-derives the
  * same next version from the same prior and overwrites its
  * half-landed files in place (truncate-load widths, ranged partition
  * overwrite + manifest recommit for the bucketed tables), so
  * at-least-once delivery collapses to exactly-once index state.
  * A version is COMMITTED when both bucketed tables carry manifests
  * (the graph manifest is each landing's last write).
  *
  * ROUTING: the ann increment's touch grain is whole LABELS — a
  * label-localized delta (a new content domain) rewrites only its
  * labels' buckets, but a label-UNIFORM delta touches every cell and
  * the increment re-pairs everything the rebuild would, plus splice
  * overhead. [[maintainBatch]] therefore routes to
  * [[AnnIndex.rebuildState]] when the delta's distinct labels exceed
  * [[RebuildLabelFrac]] of the prior corpus's —
  * a two-aggregate probe, no pairing. Exactness is identical on both
  * paths (`pairCells` is deterministic given membership), so routing
  * changes cost, never content; rebuilds additionally land chain
  * ANCHORS, re-opening [[vacuum]] below them (increments splice, so
  * an increment-only chain needs [[compact]] —
  * `AnnIndex.compactTip` — before retention can advance, the same
  * lifecycle the nav and curation chains run).
  */
object AnnStreams {

  private def versionRoot(root: String, b: Long): String = s"$root/v$b"

  /** Delta-distinct-labels / prior-labels fraction above which a
    * batch routes to the warm rebuild. 0.5: a localized domain drop
    * sits far under it, a uniform re-embedding sweep estimates ≈ 1.0
    * — separated regimes, not a tuned edge (the
    * `IndexStreams.RebuildFrontierFrac` posture). */
  private val RebuildLabelFrac = 0.5

  /** The newest committed kNN graph under `root` (throws if none). */
  def currentGraph(spark: SparkSession, root: String): DataFrame = {
    val vs = AnnIndex.committedVersions(spark, root)
    require(vs.nonEmpty, s"no committed ann-index version under $root")
    AnnIndex.graph(spark, versionRoot(root, vs.last))
  }

  /** Absorb one micro-batch of embedding rows as version
    * `v<batchId>` — the foreachBatch body, callable directly for the
    * parity/replay/routing specs. Returns the path taken
    * ("build" | "increment" | "rebuild(labels)"), deterministic in
    * (batch, prior state) so a replayed batch re-takes it. */
  private[graft] def maintainBatch(spark: SparkSession, batch: DataFrame,
      root: String, batchId: Long): String = {
    val next = versionRoot(root, batchId)
    val vs = AnnIndex.committedVersions(spark, root)
    // replay-after-vacuum guard: a batch whose OWN version is already
    // committed is a replay of a fully-landed attempt — the landed
    // version is authoritative (batch content is deterministic in
    // batchId). Re-deriving here would be wrong twice: vacuum may have
    // retired the prior the original derivation spliced from (the
    // None/full-build branch would then silently overwrite the corpus
    // with the delta alone), and re-landing TEARS a committed version
    // mid-overwrite if the replay itself crashes.
    if (vs.contains(batchId)) return "replay(noop)"
    vs.filter(_ < batchId).lastOption match {
      case None =>
        AnnIndex.buildState(spark, batch, next); "build"
      case Some(prior) =>
        val priorRoot = versionRoot(root, prior)
        val dLabels = batch.select(col("label").cast("bigint")).distinct().count()
        val pLabels = spark.read.parquet(AnnIndex.widthsPath(priorRoot)).count()
        if (pLabels > 0 && dLabels.toDouble / pLabels > RebuildLabelFrac) {
          AnnIndex.rebuildState(spark, batch, priorRoot, next); "rebuild(labels)"
        } else {
          AnnIndex.incrementState(spark, batch, priorRoot, next); "increment"
        }
    }
  }

  /** ANCHORIFY the chain tip ([[AnnIndex.compactTip]]) — the
    * explicit/scheduled lifecycle step between increments and
    * [[vacuum]]. */
  def compact(spark: SparkSession, root: String): Unit =
    AnnIndex.compactTip(spark, root)

  /** Retire old versions ([[AnnIndex.vacuum]] — keep-last,
    * anchor-bounded delete, orphan sweep). */
  def vacuum(spark: SparkSession, root: String, keepLast: Int): Unit =
    AnnIndex.vacuum(spark, root, keepLast)

  /** The maintenance gate: `stream` is an embeddings-format streaming
    * DataFrame; each micro-batch lands one index version per the
    * replay contract above. */
  def annMaintainGate(spark: SparkSession, stream: DataFrame,
      root: String, checkpoint: String): StreamingQuery = {
    graft.functions.VectorFunctions.register(spark)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainBatch(spark, batch, root, batchId)
        ()
      }
      .start()
  }
}
