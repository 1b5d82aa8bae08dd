package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** An index the streaming maintainer can advance one micro-batch at a
  * time: its version chain plus a full build and a routing rule. */
trait MaintainedIndex extends graft.io.VersionChain {

  /** Land a full build over the embeddings `emb` as version `root`. */
  def buildState(spark: SparkSession, emb: DataFrame, root: String): Unit

  /** Land `batch` over the committed version at `priorRoot` as version
    * `nextRoot` and return the route taken. The route must be
    * deterministic in (batch, prior state) so a replayed batch
    * re-takes it. */
  def advance(spark: SparkSession, batch: DataFrame,
      priorRoot: String, nextRoot: String): String
}

/** Streaming maintenance of the nav, ann and pq indexes: each
  * micro-batch of arriving embedding rows lands one complete,
  * immutable version `root/v<batchId>`, the first as a full build and
  * every later one through the index's [[MaintainedIndex.advance]].
  *
  * CRASH-REPLAY CONTRACT (foreachBatch is at-least-once):
  *   - a batch whose own version is already committed is a no-op. The
  *     landed version is authoritative: vacuum may have retired the
  *     prior the original attempt derived from, so the full-build
  *     branch would overwrite the corpus with the delta alone, and
  *     re-landing would tear a committed version if the replay
  *     crashed mid-overwrite;
  *   - otherwise the prior is the newest committed version numbered
  *     below the batch's own id, never a mutable pointer. A replayed
  *     torn attempt re-derives the same next version from the same
  *     prior and overwrites its half-landed files in place, so
  *     at-least-once delivery collapses to exactly-once index state.
  */
object IndexStreams {

  /** Absorb one micro-batch as version `v<batchId>` of `index`'s chain
    * under `root`. Returns "build", "replay(noop)" or the route
    * `advance` took. */
  private[graft] def maintainBatch(index: MaintainedIndex, spark: SparkSession,
      batch: DataFrame, root: String, batchId: Long): String = {
    val vs = index.committedVersions(spark, root)
    if (vs.contains(batchId)) return "replay(noop)"
    val next = index.versionRoot(root, batchId)
    vs.filter(_ < batchId).lastOption match {
      case None => index.buildState(spark, batch, next); "build"
      case Some(prior) => index.advance(spark, batch, index.versionRoot(root, prior), next)
    }
  }

  /** The maintenance gate: `stream` is an embeddings-format streaming
    * DataFrame; each micro-batch lands one version of `index`. */
  def maintainGate(index: MaintainedIndex, spark: SparkSession, stream: DataFrame,
      root: String, checkpoint: String): StreamingQuery = {
    // the micro-batch session is a clone taken at start, so graft_dot
    // must already be in the registry it inherits
    graft.functions.VectorFunctions.register(spark)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainBatch(index, spark, batch, root, batchId)
        ()
      }
      .start()
  }
}
