package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipelines.PqIndex

/** Streaming PQ-INDEX maintenance — the `IndexStreams`/`AnnStreams`
  * discipline applied to the quantized serving tier
  * (`pipelines.PqIndex`): each micro-batch of arriving embedding
  * rows lands one complete, immutable index version under
  * `root/v<batchId>` — the first batch as a full build (codebook
  * training), every later one as a frozen-codebook delta increment.
  *
  * CRASH-REPLAY CONTRACT (identical to the other two maintainers): a
  * batch whose OWN version is already committed no-ops — the landed
  * version is authoritative (vacuum may have retired the prior the
  * original derivation used, and re-landing would tear a committed
  * version if the replay crashed mid-overwrite). Otherwise prior =
  * the newest COMMITTED version numbered BELOW the batch's own id,
  * never a mutable pointer, so a torn attempt re-derives the same
  * next version and overwrites its half-landed files in place.
  *
  * ROUTING (the PQ-specific drift rule): the delta's mean squared
  * recon error under the PRIOR codebook, against the baseline the
  * codebook recorded at training time. Error ≤
  * [[RebuildErrFactor]] × baseline → the frozen
  * codebook still covers the incoming distribution → INCREMENT
  * (encode the delta only). Above it → the centroids have drifted
  * off the data → REBUILD (retrain + re-encode, landing an anchor
  * and a fresh baseline). One bounded aggregate decides it,
  * deterministic in (batch, prior state), so a replayed batch
  * re-takes the same path. */
object PqStreams {

  private def versionRoot(root: String, b: Long): String = s"$root/v$b"

  /** Delta recon error, as a multiple of the codebook's baseline,
    * above which a batch routes to the rebuild path. */
  private val RebuildErrFactor = 1.5

  /** The newest committed codes table under `root` (throws if none). */
  def currentCodes(spark: SparkSession, root: String): DataFrame = {
    val vs = PqIndex.committedVersions(spark, root)
    require(vs.nonEmpty, s"no committed pq-index version under $root")
    PqIndex.codes(spark, versionRoot(root, vs.last))
  }

  /** Absorb one micro-batch as version `v<batchId>`. Returns the path
    * taken ("build" | "increment" | "rebuild(err)" | "replay(noop)"). */
  private[graft] def maintainBatch(spark: SparkSession, batch: DataFrame,
      root: String, batchId: Long): String = {
    val next = versionRoot(root, batchId)
    val vs = PqIndex.committedVersions(spark, root)
    // replay-after-vacuum guard — see AnnStreams.maintainBatch
    if (vs.contains(batchId)) return "replay(noop)"
    vs.filter(_ < batchId).lastOption match {
      case None =>
        PqIndex.buildState(spark, batch, next); "build"
      case Some(prior) =>
        val priorRoot = versionRoot(root, prior)
        val dv = graft.ops.Similarity.vecsOf(spark, batch)
          .select("vec_id", "v", "norm")
        val dErr = PqIndex.reconErr(spark, dv,
          PqIndex.codebook(spark, priorRoot))
        val base = PqIndex.stats(spark, priorRoot)
          .collect()(0).getAs[Double]("base_err")
        if (base > 0 && dErr > RebuildErrFactor * base) {
          PqIndex.rebuildState(spark, batch, priorRoot, next); "rebuild(err)"
        } else {
          PqIndex.incrementState(spark, batch, priorRoot, next); "increment"
        }
    }
  }

  /** ANCHORIFY the chain tip — the explicit/scheduled lifecycle step
    * between increments and [[vacuum]] (the auto-compact trigger
    * inside vacuum also fires it when increments pile up). */
  def compact(spark: SparkSession, root: String): Unit =
    PqIndex.compactTip(spark, root)

  def vacuum(spark: SparkSession, root: String, keepLast: Int): Unit =
    PqIndex.vacuum(spark, root, keepLast)

  /** The maintenance gate: `stream` is an embeddings-format streaming
    * DataFrame; each micro-batch lands one index version per the
    * replay contract above. */
  def pqMaintainGate(spark: SparkSession, stream: DataFrame,
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
